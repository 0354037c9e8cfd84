"""Similarity search over embedding columns (``array<float>``).

Beyond-reference extension surface (BASELINE.json): approximate-nearest-
neighbor over the ``embeddings`` table.

- **Brute-force cosine top-k** — the correctness baseline. Dot products
  via ``zip_with`` + ``aggregate`` (JVM higher-order functions, no
  Python). Cost is |Q|×|C| rows; only for small query sets / validation.
- **LSH-bucketed ANN (random hyperplanes)** — the 100 TB path. Each
  vector gets a b-bit sign signature against deterministic pseudo-random
  hyperplanes (seeded, generated driver-side once and embedded as
  literals — no data-dependent state). Candidates = equi-join on the
  signature (optionally multi-probe on 1-bit flips), then exact cosine
  re-rank within buckets. Shuffle key is the bucket id; candidate count
  per query drops from |C| to |C| / 2^b on average.

All double-precision math is done in declared element order so results
are reproducible and oracle-comparable — with ONE documented exception:
the broadcast-GEMM exact kernels (`gemm_threshold_pairs`,
`gemm_nearest_neighbor`, `grouped_gemm_nearest_neighbor`,
`grouped_gemm_dropped_ids`) hand the dot
products to BLAS, whose summation order is implementation-defined. The
per-element products are identical and the result differs from the
element-order fold by ~1e-15 relative — far inside the registry's
round-to-6-decimals oracle contract — but a pair sitting EXACTLY on a
threshold knife-edge, or an NN tie at ~1e-15, could in principle
resolve differently than DuckDB's fold order. Fixture thresholds are
kept away from representable sims and the tie-break is on id, so the
residual risk is adversarial-input-only (ADVICE r07, accepted).
"""

from __future__ import annotations

import hashlib
import math
import struct

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from covid19_etl_pipeline_spark.operators.partitioning import barrier, spread


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in element order, computed in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, null when either vector has zero norm."""
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(None))


def brute_force_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` is expected small — it is broadcast so the candidate
    side never shuffles; ranking uses a per-query window with a
    deterministic (similarity desc, id asc) tie-break.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    # vector math over every candidate is the hot loop — spread it
    c = spread(candidates.select(F.col(id_col), F.col(vec_col)), id_col)
    scored = (
        c.join(F.broadcast(q), on=F.col(id_col) != F.col("query_id"))
        .withColumn("cosine_sim", cosine(F.col("__qvec"), F.col(vec_col)))
        .drop("__qvec", vec_col)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine_sim", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: each weight is derived
    from md5(seed|plane|dim) mapped to [-1, 1]. Reproducible across
    runs/engines with no RNG state."""
    planes: list[list[float]] = []
    for p in range(n_planes):
        row: list[float] = []
        for d in range(dim):
            digest = hashlib.md5(f"{seed}|{p}|{d}".encode()).digest()
            (u,) = struct.unpack(">Q", digest[:8])
            row.append(u / float(2**64 - 1) * 2.0 - 1.0)
        planes.append(row)
    return planes


def hyperplane_signature(
    vec: Column, planes: list[list[float]]
) -> Column:
    """b-bit sign signature: bit p = 1 iff vec · plane_p > 0."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(w) for w in plane]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def lsh_ann_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: hyperplane bucket equi-join + exact re-rank.

    Recall/cost dial = ``n_planes`` (more planes → smaller buckets →
    faster, lower recall). At scale, bucket the candidate table ONCE
    (write with the signature column, partitioned) and reuse across
    query batches.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    candidates = spread(candidates, id_col)
    c = candidates.select(
        F.col(id_col), F.col(vec_col), hyperplane_signature(F.col(vec_col), planes).alias("bucket")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        hyperplane_signature(F.col(vec_col), planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("cosine_sim", cosine(F.col("__qvec"), F.col(vec_col)))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine_sim", "rank")
    )


#: Max vectors _collect_unit_matrix will pull driver-side: at d=64
#: float64 this is ~5 GB — the documented n·d broadcast bound of the
#: exact GEMM tier. Past it the production swaps are lsh_ann_topk /
#: semdedup_survivors / grouped_gemm_nearest_neighbor (no collect).
_GEMM_MAX_BROADCAST_VECS = 10_000_000


def _collect_unit_matrix(unit: DataFrame, id_col: str, vec_col: str, label_col=None):
    """Materialize the (small) unit-vector table driver-side as a dense
    float64 matrix sorted by id ascending — the broadcast side of the
    GEMM kernels below. One Arrow collect; the same DataFrame also
    feeds the distributed probe side, so with a lazy localCheckpoint
    upstream the normalization computes once.

    CONTRACT (the broadcast IS the exact-tier algorithm): this pulls
    the WHOLE table through the driver — valid only while n·d fits a
    broadcast, enforced as n <= _GEMM_MAX_BROADCAST_VECS (~10M at
    d=64) via a cheap limit-bounded count that a caller's lazy
    localCheckpoint makes nearly free. Any caller outside the exact
    tier inherits a driver bottleneck by definition — use the
    distributed `grouped_gemm_nearest_neighbor` instead. Empty input
    returns (empty ids, (0,0) matrix, empty labels) so callers see
    zero rows, not a np.stack ValueError (ADVICE r07)."""
    import numpy as np

    cap = _GEMM_MAX_BROADCAST_VECS
    if unit.limit(cap + 1).count() > cap:
        raise ValueError(
            f"exact-GEMM broadcast tier is bounded at {cap} vectors "
            "(n·d must fit a driver collect + broadcast); use the "
            "sub-quadratic production paths (lsh_ann_topk, "
            "semdedup_survivors, grouped_gemm_nearest_neighbor) instead"
        )
    cols = [id_col, vec_col] + ([label_col] if label_col else [])
    pdf = unit.select(*cols).toPandas()
    if len(pdf) == 0:
        ids = pdf[id_col].to_numpy()
        labels = pdf[label_col].to_numpy() if label_col else None
        return ids, np.empty((0, 0), dtype="float64"), labels
    order = pdf[id_col].to_numpy().argsort(kind="stable")
    pdf = pdf.iloc[order]
    ids = pdf[id_col].to_numpy()
    mat = np.stack([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
    labels = pdf[label_col].to_numpy() if label_col else None
    return ids, mat, labels


#: float64 elements per similarity-matrix slice inside the GEMM kernels
#: (~128 MB): bounds per-task transient memory at any corpus size.
_GEMM_SLICE_ELEMS = 16_000_000


def gemm_threshold_pairs(
    unit: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "uv",
    label_col: str | None = None,
) -> DataFrame:
    """EXACT all-pairs cosine>=threshold over unit-normalized vectors,
    as a broadcast GEMM instead of a BroadcastNestedLoopJoin.

    The naive exact form (self-join on ``id_a < id_b`` + per-pair
    ``aggregate``/``zip_with`` dot) evaluates n²/2 interpreted
    higher-order expressions — measured >300 s at 20k×64f vectors where
    this kernel takes seconds. Here the whole unit table (n×d float64 —
    100 MB at n=200k, d=64) is collected once and broadcast; each Arrow
    batch of the distributed side computes a chunked ``B @ Mᵀ`` in
    numpy (vectorized BLAS, float64 — identical per-element products,
    summation-order error ~1e-15, far under the round-to-6-decimals
    oracle contract) and emits only the surviving (id_a < id_b) pairs.
    Every unordered pair is inspected exactly once: the mask keeps
    broadcast ids strictly greater than the batch row's id.

    Scale contract: this is the BRUTE-FORCE EXACT surface — valid while
    n·d fits a broadcast (~10M vectors at d=64); past that the scale
    paths are `lsh_ann_topk` / `semdedup_survivors`, which are the
    documented production swaps in the registry docstrings."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    ids, mat, labels = _collect_unit_matrix(unit, id_col, vec_col, label_col)
    bc = unit.sparkSession.sparkContext.broadcast((ids, mat, labels))
    id_type = unit.schema[id_col].dataType
    fields = [
        T.StructField("vec_id_a", id_type, False),
        T.StructField("vec_id_b", id_type, False),
    ]
    if label_col:
        lab_type = unit.schema[label_col].dataType
        fields += [
            T.StructField("label_a", lab_type),
            T.StructField("label_b", lab_type),
        ]
    fields.append(T.StructField("cosine_sim", T.DoubleType()))
    out_schema = T.StructType(fields)
    out_cols = [f.name for f in fields]

    def gen(batches):
        # BLAS thread pinning happens at session/executor level
        # (session.py sets OPENBLAS/OMP/MKL_NUM_THREADS before any
        # worker can load numpy); an env write here would land after
        # the library already read them (ADVICE r07)
        c_ids, c_mat, c_labels = bc.value
        mat_t = np.ascontiguousarray(c_mat.T)
        step = max(1, _GEMM_SLICE_ELEMS // max(1, len(c_ids)))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            b_ids = pdf[id_col].to_numpy()
            b_mat = np.stack(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
            )
            b_labels = pdf[label_col].to_numpy() if label_col else None
            for s in range(0, len(pdf), step):
                sims = b_mat[s : s + step] @ mat_t
                mask = (sims >= threshold) & (
                    c_ids[None, :] > b_ids[s : s + step, None]
                )
                ii, jj = np.nonzero(mask)
                if len(ii) == 0:
                    continue
                data = {
                    "vec_id_a": b_ids[s + ii],
                    "vec_id_b": c_ids[jj],
                    "cosine_sim": sims[ii, jj],
                }
                if label_col:
                    data["label_a"] = b_labels[s + ii]
                    data["label_b"] = c_labels[jj]
                yield pd.DataFrame({c: data[c] for c in out_cols})

    probe = spread(unit, id_col)
    return probe.mapInPandas(gen, schema=out_schema)


def gemm_nearest_neighbor(
    unit: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "nv",
    probe: DataFrame | None = None,
) -> DataFrame:
    """EXACT single nearest neighbor for EVERY vector (self excluded),
    via the same broadcast-GEMM shape as `gemm_threshold_pairs` — n
    output rows instead of the n²/2-row materialized pair table the
    window-over-all-pairs form needs. Tie-break matches the SQL
    ``ORDER BY sim DESC, id`` contract: broadcast columns are sorted by
    id ascending and ``argmax`` keeps the first occurrence of the
    maximum. Returns (query_id, vec_id, cosine_sim).

    ``probe`` (optional) separates the query side from the candidate
    side: ``unit`` stays the broadcast candidate matrix, ``probe`` is
    the distributed side being answered (eval-vs-corpus leakage scans,
    held-out retrieval probes). Self-masking applies only to probe ids
    that actually exist among the candidates, so a disjoint probe set
    ranks against the full candidate matrix. probe=None keeps the
    original all-vs-self contract."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    ids, mat, _ = _collect_unit_matrix(unit, id_col, vec_col)
    bc = unit.sparkSession.sparkContext.broadcast((ids, mat))
    id_type = unit.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type, False),
            T.StructField("vec_id", id_type, False),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )

    # the all-vs-self contract needs >= 2 candidates (self is masked);
    # a disjoint probe has a well-defined NN against a single candidate
    # (ADVICE r08) — self-masking still handles a probe id that happens
    # to equal the lone candidate (its only sim is -inf and the row is
    # dropped below, matching the SQL join that produces no pair).
    # all-vs-self keeps the r07-reviewed degenerate contract: a NaN
    # query row emits its deterministic -inf match.
    has_probe = probe is not None
    min_cands = 1 if has_probe else 2

    def gen(batches):
        # BLAS thread pinning: session.py, see gemm_threshold_pairs
        c_ids, c_mat = bc.value
        if len(c_ids) < min_cands:
            return
        mat_t = np.ascontiguousarray(c_mat.T)
        step = max(1, _GEMM_SLICE_ELEMS // max(1, len(c_ids)))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            b_ids = pdf[id_col].to_numpy()
            b_mat = np.stack(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
            )
            for s in range(0, len(pdf), step):
                sl_ids = b_ids[s : s + step]
                sims = b_mat[s : s + step] @ mat_t
                # a zero-norm vector normalized upstream is all-NaN and
                # argmax PREFERS NaN — one degenerate candidate would
                # become every query's NN; mask non-finite to -inf so
                # they sort last, matching SQL NULL ordering (ADVICE r07)
                sims[~np.isfinite(sims)] = -np.inf
                # mask self-similarity — only where the probe id exists
                # among the candidates (c_ids is sorted; a disjoint
                # probe set has nothing to mask)
                self_pos = np.searchsorted(c_ids, sl_ids)
                pos = np.minimum(self_pos, len(c_ids) - 1)
                is_self = c_ids[pos] == sl_ids
                sims[np.arange(len(sl_ids))[is_self], pos[is_self]] = -np.inf
                best = np.argmax(sims, axis=1)
                best_sim = sims[np.arange(len(sl_ids)), best]
                # probe path: a probe whose every candidate is masked
                # (the lone candidate is itself) has best == -inf —
                # the SQL twin's join produces NO row there, emit none
                keep = (
                    np.isfinite(best_sim)
                    if has_probe
                    else np.ones(len(sl_ids), dtype=bool)
                )
                yield pd.DataFrame(
                    {
                        "query_id": sl_ids[keep],
                        "vec_id": c_ids[best[keep]],
                        "cosine_sim": best_sim[keep],
                    }
                )

    probe_df = spread(unit if probe is None else probe, id_col)
    return probe_df.mapInPandas(gen, schema=out_schema)


def grouped_gemm_nearest_neighbor(
    df: DataFrame,
    group_col: str = "cid",
    id_col: str = "vec_id",
    vec_col: str = "nv",
    queries: DataFrame | None = None,
) -> DataFrame:
    """EXACT within-group single nearest neighbor, one GEMM per group —
    the DISTRIBUTED counterpart of `gemm_nearest_neighbor`: no driver
    collect, no broadcast; the group key (an IVF cell, an LSH bucket)
    is the shuffle key and each `applyInPandas` task computes its own
    chunked ``M @ Mᵀ`` argmax. Cost is Σ|cell|²·d — the same quantity
    the §12d cell-balance table bounds — so this is the piece that
    turns a coarse quantizer into a scalable mutual-NN/bitext-mining
    pass. Tie-break matches ``ORDER BY sim DESC, id``: rows are sorted
    by id before the GEMM and argmax keeps the first maximum. Groups
    with fewer than 2 members emit nothing (no self-match).

    MULTIPROBE (``queries`` given): ``df`` stays the candidate side —
    each point's HOME cell membership — and ``queries`` is the probe
    membership, where a point may appear under SEVERAL group keys (its
    own cell plus the probes−1 next-nearest; the caller's quantizer
    decides). The per-cell stage becomes a cogrouped ``Q @ Cᵀ`` (cost
    Σ|probe(cell)|·|cell|·d — probes× the single-probe work), and a
    ``min_by`` hash aggregate reduces each query's per-cell winners
    under the same ``(sim DESC, id)`` order. A (query, candidate) pair
    meets at most once — a candidate has exactly one home cell — so
    the reduce sees no duplicates. This is the recall knob §12d proved
    on the semdedup twin of this quantizer (65% → 73-80% at probes=3);
    the measured mutual-NN curve is mutual_nn_ivf_recall / SCALE.md
    §13b. queries=None keeps the original single-probe contract."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    grp_type = df.schema[group_col].dataType
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(group_col, grp_type, False),
            T.StructField("query_id", id_type, False),
            T.StructField("vec_id", id_type, False),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # BLAS thread pinning: session.py, see gemm_threshold_pairs
        if len(pdf) < 2:
            return pd.DataFrame(columns=[f.name for f in out_schema])
        pdf = pdf.sort_values(id_col, kind="stable")
        ids = pdf[id_col].to_numpy()
        mat = np.stack([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
        mat_t = np.ascontiguousarray(mat.T)
        step = max(1, _GEMM_SLICE_ELEMS // len(ids))
        outs = []
        for s in range(0, len(ids), step):
            sims = mat[s : s + step] @ mat_t
            sims[~np.isfinite(sims)] = -np.inf  # NaN rows sort last, not first
            rows = np.arange(sims.shape[0])
            sims[rows, s + rows] = -np.inf  # mask self
            best = np.argmax(sims, axis=1)
            outs.append(
                pd.DataFrame(
                    {
                        group_col: pdf[group_col].iloc[s : s + step].to_numpy(),
                        "query_id": ids[s : s + step],
                        "vec_id": ids[best],
                        "cosine_sim": sims[rows, best],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    if queries is None:
        return df.groupBy(group_col).applyInPandas(fn, schema=out_schema)

    empty = pd.DataFrame(columns=[f.name for f in out_schema])

    def fn2(qpdf: "pd.DataFrame", cpdf: "pd.DataFrame") -> "pd.DataFrame":
        # cogrouped probe stage: queries probing this cell × the
        # cell's home members; a probed cell with no members (or
        # members but no probes) emits nothing
        if len(qpdf) == 0 or len(cpdf) == 0:
            return empty
        cpdf = cpdf.sort_values(id_col, kind="stable")
        c_ids = cpdf[id_col].to_numpy()
        c_mat = np.stack([np.asarray(v, dtype="float64") for v in cpdf[vec_col]])
        mat_t = np.ascontiguousarray(c_mat.T)
        grp = cpdf[group_col].iloc[0]
        q_ids_all = qpdf[id_col].to_numpy()
        q_mat_all = np.stack(
            [np.asarray(v, dtype="float64") for v in qpdf[vec_col]]
        )
        step = max(1, _GEMM_SLICE_ELEMS // len(c_ids))
        outs = []
        for s in range(0, len(q_ids_all), step):
            q_ids = q_ids_all[s : s + step]
            sims = q_mat_all[s : s + step] @ mat_t
            sims[~np.isfinite(sims)] = -np.inf  # NaN sorts last, not first
            # mask self where the probing point is itself a home
            # member of this cell (searchsorted may land anywhere when
            # the id is absent — verify the hit before masking)
            pos = np.searchsorted(c_ids, q_ids)
            hit = (pos < len(c_ids)) & (c_ids[np.minimum(pos, len(c_ids) - 1)] == q_ids)
            rows = np.nonzero(hit)[0]
            sims[rows, pos[rows]] = -np.inf
            best = np.argmax(sims, axis=1)
            bsim = sims[np.arange(len(q_ids)), best]
            keep = bsim > -np.inf  # drop probes whose only candidate was self
            outs.append(
                pd.DataFrame(
                    {
                        group_col: grp,
                        "query_id": q_ids[keep],
                        "vec_id": c_ids[best[keep]],
                        "cosine_sim": bsim[keep],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    staged = (
        queries.groupBy(group_col)
        .cogroup(df.groupBy(group_col))
        .applyInPandas(fn2, schema=out_schema)
    )
    # min-reduce across the probed cells: the ordering key (-sim, id)
    # is the SQL ``ORDER BY sim DESC, id`` contract (negating a double
    # is exact); the carried struct keeps the winning candidate's HOME
    # cell so the output schema matches the single-probe path
    key = F.struct(
        (-F.col("cosine_sim")).alias("k1"), F.col("vec_id").alias("k2")
    )
    best = staged.groupBy("query_id").agg(
        F.min_by(F.struct(group_col, "vec_id", "cosine_sim"), key).alias("b")
    )
    return best.select(
        F.col(f"b.{group_col}").alias(group_col),
        "query_id",
        F.col("b.vec_id").alias("vec_id"),
        F.col("b.cosine_sim").alias("cosine_sim"),
    )


def grouped_gemm_dropped_ids(
    df: DataFrame,
    threshold: float,
    group_col: str = "cid",
    id_col: str = "pid",
    vec_col: str = "uv",
) -> DataFrame:
    """Within-group "has a lower-id near-duplicate" scan, one chunked
    GEMM per group — the kernel behind semdedup's drop rule. Emits the
    id of every row that is the GREATER id of at least one within-group
    pair with cosine ≥ threshold (over unit vectors; zero-norm rows are
    the caller's job to exclude).

    The interpreted form (`a.join(b, group_col)` + per-pair
    higher-order `aggregate` dot) evaluates Σ|cell|²/2 interpreted
    expressions — measured >600 s at the ×100 fixture (8 cells × 25k
    members), where this kernel is BLAS-bound like its siblings.
    Distributed exactly like `grouped_gemm_nearest_neighbor`: the
    group key is the shuffle key, no driver collect, no broadcast,
    per-task transient memory capped by ``_GEMM_SLICE_ELEMS`` slices.
    The drop SET is order-independent, so BLAS summation order can
    only matter for a pair sitting exactly on the threshold knife-edge
    (module-docstring contract, ADVICE r07 accepted).

    Returns a 1-column DataFrame (``id_col``) of dropped ids — at most
    one row per input row, never pair-shaped.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType([T.StructField(id_col, id_type, False)])
    empty = pd.DataFrame(columns=[id_col])

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # BLAS thread pinning: session.py, see gemm_threshold_pairs
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values(id_col, kind="stable")
        ids = pdf[id_col].to_numpy()
        mat = np.stack([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
        mat_t = np.ascontiguousarray(mat.T)
        n = len(ids)
        dropped = np.zeros(n, dtype=bool)
        col = np.arange(n)
        step = max(1, _GEMM_SLICE_ELEMS // n)
        for s in range(0, n, step):
            sims = mat[s : s + step] @ mat_t
            # pair (i = s+r, j > i) with sim >= threshold drops j;
            # NaN compares False, so non-finite rows never drop anyone
            mask = sims >= threshold
            rows = np.arange(mask.shape[0])
            mask &= col[None, :] > (s + rows)[:, None]
            dropped |= mask.any(axis=0)
        return pd.DataFrame({id_col: ids[dropped]})

    return (
        df.select(group_col, id_col, vec_col)
        .groupBy(group_col)
        .applyInPandas(fn, schema=out_schema)
    )


def _nearest_centroid(pts: DataFrame, cent: DataFrame, keep_dist: bool = False) -> DataFrame:
    """Assign each point to its nearest centroid (squared euclidean,
    expanded as ||v||² − 2·v·c + ||c||² so both engines evaluate the
    same dot products in the same element order). Centroids are
    broadcast — the assignment is a map-side nested loop — and the
    argmin is a ``min_by`` hash aggregate, NOT a window. Spark 4 does
    give the row_number-filter form a map-side WindowGroupLimit, but
    that path still SORTS the n·k scored rows (vector payloads
    included) on both sides of the exchange; the aggregate keeps one
    running min per point instead — measured 203 → 141 s on the
    200k-vector × k=450 assignment (SCALE.md §12c). Same deterministic
    (d2, cid) tie-break either way — a struct compares
    lexicographically — so results are bit-identical; plan-only
    change. Null-distance rows (null vector / null elements → d2 is
    NULL for every centroid) order as +Infinity so they deterministically
    take the lowest cid, matching the old window form's ``NULLS FIRST``
    assignment; the carried d2 stays NULL either way."""
    # Self-terms HOISTED out of the n·k scoring join (r12): ||v||² is
    # constant across the k centroids a point scores against (computed
    # once per point BEFORE the join), ||c||² constant across all
    # points (once per centroid before the broadcast) — one interpreted
    # HOF dot per scored pair instead of three, bit-identical doubles
    # (same operands, same (vv − 2·vc) + cc tree; only the evaluation
    # site moves, so oracles are unaffected).
    pts_vv = pts.withColumn("__vv", dot(F.col("v"), F.col("v")))
    cent_cc = cent.withColumn("__cc", dot(F.col("cv"), F.col("cv")))
    d2 = F.col("__vv") - 2 * dot(F.col("v"), F.col("cv")) + F.col("__cc")
    scored = pts_vv.join(F.broadcast(cent_cc)).withColumn("d2", d2)
    carry = [c for c in pts.columns if c != "pid"] + ["cid"] + (
        ["d2"] if keep_dist else []
    )
    best = scored.groupBy("pid").agg(
        F.min_by(F.struct(*carry), _argmin_key()).alias("best")
    )
    return best.select("pid", *[F.col(f"best.{c}").alias(c) for c in carry])


def _argmin_key() -> Column:
    """Ordering key for the ``min_by`` centroid argmin: (d2, cid) with
    NULL d2 coalesced to +Infinity. ``min_by`` skips rows whose
    ordering key is NULL-ish; coalescing keeps null-vector points
    assigned (to the lowest cid, the old window form's NULLS FIRST
    behavior) instead of collapsing to a null carry struct."""
    return F.struct(
        F.coalesce(F.col("d2"), F.lit(float("inf"))).alias("d2"), F.col("cid")
    )


def _nearest_centroid_two_level(
    pts: DataFrame,
    cent: DataFrame,
    keep_dist: bool = False,
    k: int | None = None,
    probes: int = 3,
) -> DataFrame:
    """IMI-style two-level nearest-centroid assignment: the k leaf
    centroids are grouped under g = isqrt(k) pivots (the leaves with
    ``cid < g`` — the same literal first-rows convention as the
    ``pid < k`` centroid seed, so SQL oracles can state the identical
    predicate; each leaf joins its nearest pivot's group), a point
    scores the g pivots, descends into the ``probes`` best groups, and
    scores only those groups' leaves — ~√k·(1 + probes) distance
    evaluations per point instead of k. This is the
    hierarchical-quantizer answer to the assignment-bound regime
    measured in SCALE.md §12b.

    ``k`` is the leaf-centroid count; callers that know it (they built
    ``cent``) pass it down to keep the plan fully lazy — when omitted
    it is probed with ``cent.count()``, an extra Spark job over
    whatever lineage ``cent`` carries.

    ``probes`` is the standard IMI multiprobe knob: a point whose true
    nearest leaf sits just across a pivot boundary is recovered by
    also searching the runner-up pivot groups. probes=1 is the pure
    two-level descent; probes=g degenerates to exact flat assignment
    (every leaf scored). Cost is linear in probes; the measured
    recall-vs-cost curve is SCALE.md §12d.

    APPROXIMATE by design (for probes < g): a point whose true nearest
    leaf lives outside the probed pivot groups gets the probed-local
    nearest instead (the standard IVF/IMI recall trade). Fine for
    cell-PARTITIONING uses — near-identical vectors share distances,
    hence pivots, hence cells — but NOT a drop-in for
    :func:`_nearest_centroid` in oracled plans. Deterministic: every
    argmin tie-breaks on id, and the probe list orders by (d2, gid).

    Measured boundary-recall trade at probes=1 (sf0.1 synthetic
    embeddings, which are near-uniform random — the hard case, no
    cluster structure for pivot groups to align with): within-cell
    coverage of weakly-similar pairs (cosine >= 0.35) is 14.7% for
    two-level vs 14.5% for flat at k=32, and 9.3% vs 14.2% at k=128 —
    i.e. parity at moderate k, a ~35% relative boundary loss at large
    k on unstructured data, recovered by multiprobe (§12d).
    Near-identical pairs (the actual dedup targets; the synthetic
    corpus has none above cosine 0.9) co-locate by construction under
    either assigner. On real clustered embedding corpora the pivot
    groups align with the clusters and the gap narrows.

    PRECONDITION (dense cids): ``cent.cid`` must be the dense range
    0..k-1. Pivot selection is the literal ``cid < g`` — the same
    first-rows convention as the ``pid < k`` centroid seed, chosen so
    SQL oracles can state the identical predicate — and a ``cent``
    whose cids all sit at or above g would yield an EMPTY pivot set,
    which the inner joins would propagate as an EMPTY assignment
    rather than an error. Every in-repo caller seeds centroids with
    ``pid < k`` over dense vec_ids, satisfying this; a caller with
    arbitrary centroid ids must re-label them to 0..k-1 first. When
    ``k`` is probed (k=None — already an eager job by contract), the
    same job verifies density and raises instead of going silent."""
    if k is None:
        # cent is broadcast-sized by contract, so piggyback the dense-cid
        # precondition check on the count job we are paying anyway
        k, lo, hi = cent.agg(
            F.count("*"), F.min("cid"), F.max("cid")
        ).first()
        if k and (lo != 0 or hi != k - 1):
            raise ValueError(
                "two-level assignment requires dense centroid ids 0..k-1 "
                f"(got min={lo}, max={hi}, k={k}); re-label cids first"
            )
    g = max(1, math.isqrt(k))
    p = max(1, min(probes, g))
    pivots = cent.filter(F.col("cid") < g).select(
        F.col("cid").alias("gid"), F.col("cv").alias("gv")
    )
    as_cent = pivots.select(
        F.col("gid").alias("cid"), F.col("gv").alias("cv")
    )
    # leaves grouped under their nearest pivot (k·g work, fully lazy)
    leaf_groups = _nearest_centroid(
        cent.select(F.col("cid").alias("pid"), F.col("cv").alias("v")),
        as_cent,
    ).select(F.col("pid").alias("cid"), F.col("cid").alias("gid"))
    leaves = cent.join(leaf_groups, "cid")
    # level 1: n·g distance evaluations, keep the top-p pivot groups.
    # g is √k (small), so the collect_list partial aggregates stay a
    # few dozen (d2, gid) scalars per point — no vector payload in the
    # probe list; the point's own columns ride once via min_by.
    # same self-term hoist as _nearest_centroid: one HOF dot per
    # (point, pivot) pair instead of three, bit-identical d2
    pts_vv = pts.withColumn("__vv", dot(F.col("v"), F.col("v")))
    pivots_gg = pivots.withColumn("__gg", dot(F.col("gv"), F.col("gv")))
    d2p = F.col("__vv") - 2 * dot(F.col("v"), F.col("gv")) + F.col("__gg")
    carry1 = [c for c in pts.columns if c != "pid"]
    key1 = F.struct(
        F.coalesce(F.col("d2"), F.lit(float("inf"))).alias("d2"),
        F.col("gid").alias("gid"),
    )
    scored1 = pts_vv.join(F.broadcast(pivots_gg)).withColumn("d2", d2p)
    agg1 = scored1.groupBy("pid").agg(
        F.min_by(F.struct(*carry1), key1).alias("best"),
        F.slice(F.array_sort(F.collect_list(key1)), 1, p).alias("probe"),
    )
    p1 = agg1.select(
        "pid",
        *[F.col(f"best.{c}").alias(c) for c in carry1],
        F.explode(F.col("probe.gid")).alias("gid"),
    )
    # level 2: broadcast-hash join on gid — each point meets only its
    # probed groups' leaves (~p·k/g rows), argmin via the same min_by
    # aggregate (multiprobe duplicates collapse there: one min per pid)
    # hoisted as above; ||v||² recomputed once per point row (p1 is
    # point-grain — carrying it through the min_by would widen carry1)
    p1_vv = p1.withColumn("__vv", dot(F.col("v"), F.col("v")))
    leaves_cc = leaves.withColumn("__cc", dot(F.col("cv"), F.col("cv")))
    d2 = F.col("__vv") - 2 * dot(F.col("v"), F.col("cv")) + F.col("__cc")
    scored = p1_vv.join(F.broadcast(leaves_cc), "gid").withColumn("d2", d2)
    carry = [c for c in pts.columns if c != "pid"] + ["cid"] + (
        ["d2"] if keep_dist else []
    )
    best = scored.groupBy("pid").agg(
        F.min_by(F.struct(*carry), _argmin_key()).alias("best")
    )
    return best.select("pid", *[F.col(f"best.{c}").alias(c) for c in carry])


def lloyd_iterations(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Fixed-iteration Lloyd k-means refinement with deterministic
    first-k init — the centroid-training step `sim_ivf_topk` defers.

    Each round: broadcast nested-loop assignment (no shuffle), then a
    per-(cluster, dimension) mean via posexplode + two aggregations —
    the shuffle is on (cid, pos), k×dim cells regardless of corpus
    size, so the reduction is tiny even at 100 TB. Centroid components
    are rounded to 6 decimals after every update: the mean's summation
    order is engine/partition dependent, and rounding canonicalizes
    the next round's inputs so the whole iteration stays
    oracle-comparable. Driver loop only CONTROLS iteration (like
    ``dedup.connected_components``); all data movement is distributed.

    Returns (final_assignment with d2, final_centroids).
    """
    # pts is read by EVERY round's assignment — materialize it once
    # (MLlib caches its training set for the same reason; at 100 TB
    # this is a .persist() of the feature table). The centroid table,
    # by contrast, is referenced exactly ONCE per round (the broadcast
    # build side of the next assignment), so the unrolled plan grows
    # linearly and short runs compile into a single job — only cut
    # lineage periodically so deep iteration counts don't blow up the
    # optimizer.
    # lazy: Lloyd has no convergence probe, so the caller's single
    # action materializes the whole unrolled iteration; all round
    # assignments share the one checkpointed RDD either way
    pts = barrier(
        emb.select(
            F.col(id_col).alias("pid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        )
    )
    cent = pts.filter(F.col("pid") < k).select(
        F.col("pid").alias("cid"),
        F.transform("v", lambda x: F.round(x, 6)).alias("cv"),
    )
    for i in range(iters):
        assigned = _nearest_centroid(pts, cent)
        cent = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("val"), 6).alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.getField("m"),
                ).alias("cv")
            )
        )
        if (i + 1) % 4 == 0 and (i + 1) < iters:
            cent = barrier(cent, eager=True)
    return _nearest_centroid(pts, cent, keep_dist=True), cent


def semdedup_survivors(
    emb: DataFrame,
    k: int | str = 8,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
    assign: str = "flat",
    probes: int = 3,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: partition the corpus with
    a coarse quantizer (deterministic first-k centroids — the trained
    k-means ``lloyd_iterations`` refines in production), compute cosine
    pairs WITHIN each cluster only, and drop every vector that has a
    lower-id near-duplicate in its cluster.

    The point of clustering first is that the pair join is keyed on the
    cluster id: candidate volume is Σ|cell|² instead of |corpus|², and
    each cell's pairs compute shuffle-local. At 100 TB the quantizer is
    the IVF coarse index (k in the thousands) and cells stay bounded,
    so the within-cell O(|cell|²) verify is the same cost envelope as
    ``sim_ivf_topk``'s probe stage. Embedding-space dedup catches the
    paraphrase/translation near-dups that shingle-based MinHash cannot
    (Abbas et al., "SemDeDup", arXiv:2303.09540 — public method).

    Survivor rule (deterministic, engine-portable): keep ``min(id)`` of
    every duplicate pair; a vector is dropped iff it is the GREATER id
    of at least one within-cluster pair with cosine ≥ threshold.
    Zero-norm vectors never pair (cosine undefined → never duplicates).

    ``k="auto"`` sizes the quantizer by the measured balanced rule
    (SCALE.md §12b): k = max(8, ⌈√n⌉) equalizes the O(n·k) assignment
    and the O(n²/k) within-cell pair volume at O(n^1.5) each — a fixed
    k goes quadratic in cell size as the corpus grows (measured 11.6×
    wall at 10× data), while k ∝ n moves the bottleneck to assignment.
    The probe is one count() on the input. NOTE: k changes the cell
    partition and therefore which near-dup pairs are compared — callers
    pinning an oracle must pin k explicitly.

    ``assign="two_level"`` routes assignment through the IMI-style
    hierarchical quantizer (:func:`_nearest_centroid_two_level`) —
    ~√k·(1 + probes) distance evaluations per point instead of k
    (≈ 4·√k at the probes=3 default), the remaining
    lever once the argmin shuffle is gone (SCALE.md §12b). Cell
    membership may differ from flat assignment near group boundaries
    (``probes`` widens the descent to the top-p pivot groups to close
    that gap — measured curve in SCALE.md §12d), so oracled callers
    keep the flat default.

    Returns (id, extra_cols..., cid) for surviving vectors.
    """
    if k == "auto":
        k = max(8, int(math.isqrt(emb.count())))
    pts = spread(emb, id_col).select(
        F.col(id_col).alias("pid"),
        *[F.col(c) for c in extra_cols],
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    cent = pts.select("pid", "v").filter(F.col("pid") < k).select(
        F.col("pid").alias("cid"),
        F.transform("v", lambda x: F.round(x, 6)).alias("cv"),
    )
    # assignment carries extra cols through (one broadcast nested loop,
    # no shuffle); checkpoint so it computes once — it feeds both
    # pair-join sides AND the survivor anti-join, which all share the
    # same RDD. LAZY: everything here is one plan with one action, so
    # the blocks materialize inside the caller's job instead of paying
    # a separate scheduler round-trip.
    if assign == "two_level":
        # k is known here — pass it down so assignment stays one lazy
        # plan (no cent.count() probe over the filter-on-spread lineage)
        assigned = _nearest_centroid_two_level(pts, cent, k=k, probes=probes)
    else:
        assigned = _nearest_centroid(pts, cent)
    assigned = barrier(assigned)
    unit = assigned.filter(dot(F.col("v"), F.col("v")) > 0).select(
        "pid",
        "cid",
        F.transform(
            "v", lambda x: x / F.sqrt(dot(F.col("v"), F.col("v")))
        ).alias("uv"),
    )
    # within-cell drop scan as one chunked GEMM per cell (r08): the
    # interpreted self-join + per-pair `aggregate` dot evaluated
    # Σ|cell|²/2 interpreted expressions — >600 s at the ×100 fixture
    # where the kernel is BLAS-bound (same swap the exact-pair tier
    # got in r07). Same shuffle key (cid), same drop rule, and the
    # output is id-shaped, never pair-shaped.
    dropped = grouped_gemm_dropped_ids(
        unit, threshold=threshold, group_col="cid", id_col="pid", vec_col="uv"
    )
    return (
        assigned.join(dropped, "pid", "left_anti")
        .select(F.col("pid").alias(id_col), *extra_cols, "cid")
    )
