"""Dedup + similarity operator tests: constructed duplicates with known
overlap, signature invariants, and ANN-vs-exact recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from covid19_etl_pipeline_spark.operators import dedup, similarity


@pytest.fixture()
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    rows = [
        (1, base),
        (2, base),                      # exact dup of 1
        (3, near),                      # near dup of 1
        (4, "completely different words appear here with nothing shared"),
        (5, "xy"),                      # < 3 tokens → no shingles
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    groups = dedup.exact_dup_groups(docs, "doc_id").collect()
    by_count = {r["keeper_doc_id"]: r["n_copies"] for r in groups}
    assert by_count[1] == 2            # docs 1+2 collapse, min id kept
    assert dedup.drop_exact_dups(docs, "doc_id").count() == 4


def test_minhash_identical_docs_identical_signatures(spark, docs):
    sigs = {r["doc_id"]: (r["mh0"], r["mh1"], r["mh2"], r["mh3"])
            for r in dedup.minhash_signatures(docs, "doc_id", num_hashes=4).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]
    assert all(v is None for v in sigs[5])  # no shingles → null signature


def test_lsh_finds_exact_and_near_pairs(spark, docs):
    pairs = {(r["doc_id_a"], r["doc_id_b"])
             for r in dedup.lsh_candidate_pairs(docs, "doc_id").collect()}
    assert (1, 2) in pairs             # identical docs always collide
    assert all(a < b for a, b in pairs)


def test_jaccard_values(spark, docs):
    pairs = dedup.jaccard_pairs(docs, "doc_id")
    vals = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"] for r in pairs.collect()}
    assert vals.get((1, 2)) == 1.0
    j13 = vals.get((1, 3))
    if j13 is not None:                # near-dup pair surfaced by LSH
        assert 0.3 < j13 < 1.0


def test_prefix_filter_complete_vs_brute_force(spark, docs):
    """Prefix filtering must be LOSSLESS: its result set equals the
    brute-force all-pairs Jaccard at the same threshold, for any
    threshold (here one permissive, one strict)."""
    for t in (0.3, 0.8):
        got = {
            (r["doc_id_a"], r["doc_id_b"]): round(r["jaccard"], 6)
            for r in dedup.prefix_filter_jaccard_pairs(
                docs, "doc_id", threshold=t, shingle_k=2
            ).collect()
        }
        ids = docs.select("doc_id").crossJoin(
            docs.select(F.col("doc_id").alias("doc_id_b"))
        ).filter(F.col("doc_id") < F.col("doc_id_b")).select(
            F.col("doc_id").alias("doc_id_a"), "doc_id_b"
        )
        brute = {
            (r["doc_id_a"], r["doc_id_b"]): round(r["jaccard"], 6)
            for r in dedup.jaccard_pairs(
                docs, "doc_id", shingle_k=2, candidates=ids
            ).collect()
            if r["jaccard"] is not None and r["jaccard"] >= t
        }
        assert got == brute, f"threshold {t}: {got} != {brute}"


def test_prefix_filter_exact_dups_and_singletons(spark, docs):
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in dedup.prefix_filter_jaccard_pairs(docs, "doc_id").collect()
    }
    assert pairs.get((1, 2)) == 1.0    # exact dup pair always survives
    assert not any(5 in p for p in pairs)  # shingle-less doc never pairs


def test_simhash_invariants(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id").collect()}
    assert sh[1] == sh[2]
    d_near = bin(sh[1] ^ sh[3]).count("1")
    d_far = bin(sh[1] ^ sh[4]).count("1")
    assert d_near < d_far              # near dup closer in Hamming space


def test_hamming_distance_column(spark):
    df = spark.createDataFrame([(0b1011, 0b0011)], ["a", "b"])
    assert df.select(
        dedup.hamming_distance(F.col("a"), F.col("b")).alias("d")
    ).first()["d"] == 1


@pytest.fixture()
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),          # close to 0
        (2, [0.0, 1.0, 0.0]),          # orthogonal to 0
        (3, [-1.0, 0.0, 0.0]),         # opposite of 0
        (4, [0.95, 0.05, 0.0]),        # closest to 0
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )


def test_brute_force_topk_ordering(spark, vectors):
    out = similarity.brute_force_topk(
        vectors, vectors.filter(F.col("vec_id") == 0), k=2
    ).collect()
    ranked = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [4, 1]            # nearest neighbours in cosine order


def test_lsh_ann_recall_vs_exact(spark, vectors):
    exact = {r["vec_id"] for r in similarity.brute_force_topk(
        vectors, vectors.filter(F.col("vec_id") == 0), k=2).collect()}
    approx = {r["vec_id"] for r in similarity.lsh_ann_topk(
        vectors, vectors.filter(F.col("vec_id") == 0), k=2, dim=3, n_planes=2
    ).collect()}
    # bucketed candidates are a subset of all; whatever is returned must
    # be real neighbours from the same bucket
    assert approx <= exact or len(approx & exact) >= 1


def test_cosine_zero_norm_guard(spark):
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 1.0])], ["a", "b"]
    )
    row = df.select(similarity.cosine(F.col("a"), F.col("b")).alias("c")).first()
    assert row["c"] is None


def test_connected_components_known_graph(spark):
    """Hand-computed components: {1,2,3} via chain, {10,11}, and the
    label is the min member id."""
    from covid19_etl_pipeline_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    got = {r["node"]: r["label"] for r in connected_components(edges, "a", "b").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_large_graph_join_strategy(spark, monkeypatch):
    """Above BROADCAST_ROW_BOUND edges the per-round label joins switch
    from explicit broadcast to shuffled-hash hints (the x100 sweep OOMed
    building a driver broadcast chosen off Catalyst's garbage size
    estimate for post-Arrow stages — a 42.7M-pair GEMM output estimated
    at 4 MiB). Forcing the bound to 0 exercises the large-graph path on
    a small fixture; labels must be identical to the broadcast path."""
    from covid19_etl_pipeline_spark.operators import dedup as D
    from covid19_etl_pipeline_spark.operators import partitioning

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "a long, b long",
    )
    base = {
        r["node"]: r["label"]
        for r in D.connected_components(edges, "a", "b").collect()
    }
    monkeypatch.setattr(partitioning, "BROADCAST_ROW_BOUND", 0)
    hashed = {
        r["node"]: r["label"]
        for r in D.connected_components(edges, "a", "b").collect()
    }
    assert base == hashed == {
        1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20,
    }


def test_connected_components_reliable_checkpoint_mode(spark, tmp_path):
    """The CHECKPOINT_DIR_CONF toggle swaps every barrier to the
    storage-backed reliable checkpoint; labels must be identical to
    the default localCheckpoint mode, and checkpoint files must
    actually land in the configured dir (proving the toggle routed)."""
    import os

    from covid19_etl_pipeline_spark.operators.dedup import connected_components
    from covid19_etl_pipeline_spark.operators.partitioning import CHECKPOINT_DIR_CONF

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (4, 5), (5, 6), (6, 7)], "a long, b long"
    )
    default = {
        r["node"]: r["label"] for r in connected_components(edges, "a", "b").collect()
    }
    ckpt = str(tmp_path / "reliable_ckpt")
    spark.conf.set(CHECKPOINT_DIR_CONF, ckpt)
    try:
        reliable = {
            r["node"]: r["label"]
            for r in connected_components(edges, "a", "b").collect()
        }
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    assert reliable == default == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                                   4: 4, 5: 4, 6: 4, 7: 4}
    written = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs
    ]
    assert written, "no checkpoint files written under the configured dir"


def test_connected_components_long_chain_converges(spark):
    """A path graph has maximal diameter — the worst case for label
    propagation; must still converge within the iteration cap."""
    from covid19_etl_pipeline_spark.operators.dedup import connected_components

    n = 12
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "a long, b long")
    got = {r["node"]: r["label"] for r in connected_components(edges, "a", "b").collect()}
    assert got == {i: 0 for i in range(n + 1)}


def _kill_cached_blocks(spark):
    """Simulate executor loss on local[n]: drop EVERY persisted RDD's
    blocks (localCheckpoint stores its lineage-truncated data there —
    exactly what dies with an executor on a real cluster)."""
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(True)


def test_reliable_checkpoint_survives_block_loss(spark, tmp_path, monkeypatch):
    """Failure injection (r03 verdict #8): kill all cached blocks
    MID-ITERATION. The default localCheckpoint barrier has truncated its
    lineage into executor blocks, so losing them is unrecoverable — the
    run must fail (this is the documented local-mode trade-off, proven
    here rather than asserted). With CHECKPOINT_DIR_CONF set, the same
    barriers write to storage instead, so the identical injection is
    harmless and the labels still converge to the known components."""
    from covid19_etl_pipeline_spark.operators import dedup, partitioning

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (4, 5), (5, 6), (6, 7)], "a long, b long"
    )
    expected = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 4: 4, 5: 4, 6: 4, 7: 4}

    real_barrier = partitioning.barrier
    calls = {"n": 0}

    def sabotaged(df, eager=False):
        out = real_barrier(df, eager=eager)
        calls["n"] += 1
        # after the 3rd barrier (round-0 labels built, edges_m's eager
        # blocks live) — the mid-iteration point where a real executor
        # would die holding the only copy of the checkpointed edges
        if calls["n"] == 3:
            _kill_cached_blocks(df.sparkSession)
        return out

    monkeypatch.setattr(dedup, "barrier", sabotaged)

    # default mode: lineage was truncated into the lost blocks —
    # any downstream action must surface the loss, not silently
    # recompute wrong data
    with pytest.raises(Exception, match="[Cc]heckpoint|block"):
        dedup.connected_components(edges, "a", "b").collect()

    # reliable mode: same sabotage, but barriers live in storage
    calls["n"] = 0
    spark.conf.set(
        partitioning.CHECKPOINT_DIR_CONF, str(tmp_path / "reliable_ckpt")
    )
    try:
        got = {
            r["node"]: r["label"]
            for r in dedup.connected_components(edges, "a", "b").collect()
        }
    finally:
        spark.conf.unset(partitioning.CHECKPOINT_DIR_CONF)
    assert got == expected


def test_containment_catches_quote_jaccard_misses(spark):
    """A short paragraph quoted inside a much larger page: containment
    ~1 for (quote ⊂ page) while Jaccard is far below any dedup
    threshold — the asymmetric detector's reason to exist. The reverse
    direction (page in quote) must NOT fire."""
    quote = "alpha beta gamma delta epsilon zeta eta theta"
    page = quote + " " + " ".join(f"filler{i} word{i} extra{i}" for i in range(20))
    df = spark.createDataFrame([(1, quote), (2, page)], ["doc_id", "text"])
    cont = {
        (r["id_inner"], r["id_outer"]): r["containment"]
        for r in dedup.containment_pairs(df, "doc_id", threshold=0.8).collect()
    }
    assert cont.get((1, 2)) == 1.0          # quote fully contained in page
    assert (2, 1) not in cont               # page not contained in quote
    jac = dedup.jaccard_pairs(
        df, "doc_id",
        candidates=spark.createDataFrame([(1, 2)], ["doc_id_a", "doc_id_b"]),
    ).collect()[0]["jaccard"]
    assert jac < 0.2                        # Jaccard would never flag this pair


def test_semdedup_survivor_rule(spark):
    # two clusters by construction (k=2: centroids = vec 0 and vec 1).
    # vec 2 ~ vec 0 (same cell, cosine ~1) -> dropped, 0 kept (min id).
    # vec 3 ~ vec 1 likewise. vec 4 is near-orthogonal in its cell ->
    # kept. vec 5 is a zero vector -> never pairs, always kept.
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.99, 0.01, 0.0]),
        (3, [0.0, 0.98, 0.02]),
        (4, [0.1, 0.0, 0.99]),
        (5, [0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = similarity.semdedup_survivors(emb, k=2, threshold=0.9)
    kept = {r["vec_id"] for r in out.collect()}
    assert kept == {0, 1, 4, 5}
    # survivors carry their cell assignment
    cells = {r["vec_id"]: r["cid"] for r in out.collect()}
    assert cells[0] == 0 and cells[1] == 1


def test_semdedup_auto_quantizer(spark, sf_dir):
    """k='auto' sizes the quantizer by the measured balanced rule
    (SCALE.md §12b): k = max(8, isqrt(n)). Deterministic across runs,
    and equivalent to passing the same k explicitly."""
    from covid19_etl_pipeline_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    auto = similarity.semdedup_survivors(emb, k="auto")
    explicit = similarity.semdedup_survivors(emb, k=max(8, int(n**0.5)))
    a = sorted(r["vec_id"] for r in auto.collect())
    e = sorted(r["vec_id"] for r in explicit.collect())
    assert a == e and 0 < len(a) <= n


def test_semdedup_two_level_assignment(spark, sf_dir):
    """The IMI-style two-level assigner agrees with flat assignment on
    the real fixture corpus when the group structure is trivial (k
    small enough that g=isqrt(k) puts every leaf under one pivot), and
    at larger k still produces a valid deterministic partition whose
    survivors are reproducible run to run."""
    from covid19_etl_pipeline_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # g = isqrt(3) = 1 -> single pivot group -> two_level IS flat
    flat = sorted(
        r["vec_id"]
        for r in similarity.semdedup_survivors(emb, k=3).collect()
    )
    two = sorted(
        r["vec_id"]
        for r in similarity.semdedup_survivors(
            emb, k=3, assign="two_level"
        ).collect()
    )
    assert two == flat
    # larger k: approximate but deterministic; survivors reproducible
    a = sorted(
        r["vec_id"]
        for r in similarity.semdedup_survivors(
            emb, k=32, assign="two_level"
        ).collect()
    )
    b = sorted(
        r["vec_id"]
        for r in similarity.semdedup_survivors(
            emb, k=32, assign="two_level"
        ).collect()
    )
    assert a == b and 0 < len(a) <= emb.count()


def test_semdedup_two_level_multiprobe(spark, sf_dir):
    """Multiprobe flat-equivalence: probing ALL g pivot groups makes
    the two-level assigner score every leaf, i.e. exact flat
    assignment — survivors must match flat bit-for-bit at any k.
    Intermediate probes stay deterministic and within the flat/1-probe
    envelope (non-strict: recall is monotone in probes by construction
    since each point's candidate leaf set only grows)."""
    import math

    from covid19_etl_pipeline_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k = 32
    g = math.isqrt(k)
    flat = sorted(
        r["vec_id"] for r in similarity.semdedup_survivors(emb, k=k).collect()
    )
    all_probes = sorted(
        r["vec_id"]
        for r in similarity.semdedup_survivors(
            emb, k=k, assign="two_level", probes=g
        ).collect()
    )
    assert all_probes == flat
    # probes beyond g clamp to g — still flat-equivalent
    over = sorted(
        r["vec_id"]
        for r in similarity.semdedup_survivors(
            emb, k=k, assign="two_level", probes=g + 100
        ).collect()
    )
    assert over == flat
    # intermediate probe count: deterministic across runs
    p2a = sorted(
        r["vec_id"]
        for r in similarity.semdedup_survivors(
            emb, k=k, assign="two_level", probes=2
        ).collect()
    )
    p2b = sorted(
        r["vec_id"]
        for r in similarity.semdedup_survivors(
            emb, k=k, assign="two_level", probes=2
        ).collect()
    )
    assert p2a == p2b and 0 < len(p2a) <= emb.count()


def test_nearest_centroid_null_vector_assignment(spark):
    """A point whose vector is NULL (or has NULL elements) has NULL
    distance to every centroid; the min_by argmin coalesces that to
    +Infinity so the point still gets a deterministic assignment — the
    lowest cid, matching the old window form's NULLS FIRST order —
    instead of a null carry struct (ADVICE r05)."""
    pts = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [None, 2.0]), (3, [0.0, 3.0])],
        "pid long, v array<double>",
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid long, cv array<double>"
    )
    out = {
        r["pid"]: r["cid"]
        for r in similarity._nearest_centroid(pts, cent).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 1}
    # two-level path inherits the same guarantee (k=2 -> g=1, one group)
    out2 = {
        r["pid"]: r["cid"]
        for r in similarity._nearest_centroid_two_level(
            pts, cent, k=2
        ).collect()
    }
    assert out2 == {0: 0, 1: 0, 2: 0, 3: 1}
    # keep_dist carries the honest NULL distance for null-vector rows
    kd = {
        r["pid"]: r["d2"]
        for r in similarity._nearest_centroid(
            pts, cent, keep_dist=True
        ).collect()
    }
    assert kd[1] is None and kd[2] is None and kd[0] == 0.0


def test_lsh_max_bucket_cap(spark):
    """max_bucket: a degenerate bucket (many docs sharing a band
    signature) is dropped wholesale instead of expanding its quadratic
    pairs; normal buckets are unaffected; default None keeps parity."""
    # 6 identical docs (one mega-bucket) + 2 near-dup docs (small bucket)
    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(6)]
    rows += [(10, "completely different text about spark engines here"),
             (11, "completely different text about spark engines here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = dedup.lsh_candidate_pairs(docs, "doc_id").collect()
    capped = dedup.lsh_candidate_pairs(docs, "doc_id", max_bucket=4).collect()
    full_pairs = {(r["doc_id_a"], r["doc_id_b"]) for r in full}
    capped_pairs = {(r["doc_id_a"], r["doc_id_b"]) for r in capped}
    assert (10, 11) in full_pairs and (0, 1) in full_pairs
    # cap drops every pair from the 6-doc bucket, keeps the small one
    assert capped_pairs == {(10, 11)}


def _unit_rows():
    """8 deterministic 4-dim unit-ish vectors incl. an exact duplicate
    pair (ids 3/7, for tie-break coverage) and near/far structure."""
    import math

    raw = [
        (0, "a", [1.0, 0.0, 0.0, 0.0]),
        (1, "a", [0.9, 0.1, 0.0, 0.0]),
        (2, "b", [0.0, 1.0, 0.0, 0.0]),
        (3, "b", [0.5, 0.5, 0.5, 0.5]),
        (4, "a", [0.0, 0.0, 1.0, 0.0]),
        (5, "b", [-1.0, 0.0, 0.0, 0.0]),
        (6, "a", [0.1, 0.2, 0.9, 0.0]),
        (7, "b", [0.5, 0.5, 0.5, 0.5]),  # exact dup of 3
    ]
    out = []
    for i, lab, v in raw:
        n = math.sqrt(sum(x * x for x in v))
        out.append((i, lab, [x / n for x in v]))
    return out


def test_gemm_threshold_pairs_matches_join_form(spark):
    """The broadcast-GEMM pair kernel emits exactly the pairs the
    naive a<b join + per-pair dot fold emits, with sims equal at the
    round-6 oracle contract."""
    unit = spark.createDataFrame(
        _unit_rows(), "vec_id long, label string, uv array<double>"
    )
    got = {
        (r["vec_id_a"], r["vec_id_b"], r["label_a"], r["label_b"],
         round(r["cosine_sim"], 6))
        for r in similarity.gemm_threshold_pairs(
            unit, threshold=0.35, vec_col="uv", label_col="label"
        ).collect()
    }
    a = unit.select(
        F.col("vec_id").alias("vec_id_a"), F.col("label").alias("label_a"),
        F.col("uv").alias("ua"),
    )
    b = unit.select(
        F.col("vec_id").alias("vec_id_b"), F.col("label").alias("label_b"),
        F.col("uv").alias("ub"),
    )
    ref = {
        (r["vec_id_a"], r["vec_id_b"], r["label_a"], r["label_b"],
         round(r["sim"], 6))
        for r in a.join(b, F.col("vec_id_a") < F.col("vec_id_b"))
        .withColumn("sim", similarity.dot(F.col("ua"), F.col("ub")))
        .filter(F.col("sim") >= 0.35)
        .collect()
    }
    assert got == ref and len(got) > 0
    # the exact-duplicate pair is present with sim 1.0
    assert (3, 7, "b", "b", 1.0) in got


def test_gemm_nearest_neighbor_matches_window_form(spark):
    """The GEMM NN kernel reproduces the window-form exact NN,
    including the (sim DESC, id ASC) tie-break on exact-duplicate
    vectors, with one output row per input vector."""
    from pyspark.sql import Window

    unit = spark.createDataFrame(
        [(i, v) for i, _, v in _unit_rows()], "vec_id long, nv array<double>"
    )
    got = {
        r["query_id"]: (r["vec_id"], round(r["cosine_sim"], 6))
        for r in similarity.gemm_nearest_neighbor(unit, vec_col="nv").collect()
    }
    a = unit.select(F.col("vec_id").alias("qa"), F.col("nv").alias("na"))
    b = unit.select(F.col("vec_id").alias("qb"), F.col("nv").alias("nb"))
    w = Window.partitionBy("qa").orderBy(F.col("sim").desc(), "qb")
    ref = {
        r["qa"]: (r["qb"], round(r["sim"], 6))
        for r in a.join(b, F.col("qa") != F.col("qb"))
        .withColumn("sim", similarity.dot(F.col("na"), F.col("nb")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == ref and len(got) == 8
    # duplicate vectors are each other's NN at sim 1.0
    assert got[3] == (7, 1.0) and got[7] == (3, 1.0)


def test_gemm_kernels_degenerate_inputs(spark):
    """Single-vector input: no pair exists and no NN exists — both
    kernels return empty instead of emitting a self-match."""
    one = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, uv array<double>"
    )
    assert similarity.gemm_threshold_pairs(one, threshold=0.0).count() == 0
    assert similarity.gemm_nearest_neighbor(one, vec_col="uv").count() == 0


def test_gemm_nn_probe_single_candidate(spark):
    """probe= path with ONE candidate (ADVICE r08): a disjoint probe
    has a well-defined NN against it; a probe id equal to the lone
    candidate is self-masked and emits NO row (the SQL join produces
    no pair), never a -inf artifact row."""
    cand = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, uv array<double>"
    )
    disjoint = spark.createDataFrame(
        [(9, [0.6, 0.8])], "vec_id long, uv array<double>"
    )
    out = similarity.gemm_nearest_neighbor(
        cand, vec_col="uv", probe=disjoint
    ).collect()
    assert len(out) == 1
    assert (out[0]["query_id"], out[0]["vec_id"]) == (9, 1)
    assert abs(out[0]["cosine_sim"] - 0.6) < 1e-12
    # probe IS the lone candidate -> self-masked, no row
    assert (
        similarity.gemm_nearest_neighbor(cand, vec_col="uv", probe=cand).count()
        == 0
    )


def test_adaptive_blk_width_sql_python_lockstep():
    """The oracle derives the pair-block width from count(documents)
    inside the query; the Spark plan derives it driver-side — the two
    rules must agree at every boundary or blocked-pair queries diverge
    silently at exactly the scale the knob exists for."""
    import duckdb

    from covid19_etl_pipeline_spark.plans._shared import (
        _D_BLK_W,
        adaptive_blk_width,
    )

    con = duckdb.connect()
    for n in (1, 500, 5000, 20000, 20001, 50000, 320000, 320001, 5_000_000):
        con.execute(
            f"CREATE OR REPLACE VIEW documents AS SELECT * FROM range({n})"
        )
        w_sql = con.execute(f"SELECT {_D_BLK_W}").fetchone()[0]
        assert w_sql == adaptive_blk_width(n) == (
            1 + (n > 20000) + (n > 320000)
        ), n


def test_fs_widen_parts_sql_python_lockstep():
    """fellegi_sunter_part_linkage widens its block key with the
    name-noun past FS_WIDEN_PARTS parts; the oracle derives the flip
    from count(part) inside the query, the Spark plan from
    DataFrame.count() driver-side. Both rules must flip at exactly the
    same catalog size or the engines silently diverge at the scale the
    knob exists for (VERDICT r08 #5). Evaluates the committed SQL
    fragment on noun-agreeing and noun-disagreeing pairs at the
    boundary counts."""
    import duckdb

    from covid19_etl_pipeline_spark.plans._shared import (
        _FS_WIDEN_SQL,
        FS_WIDEN_PARTS,
        fs_widen_parts,
    )

    con = duckdb.connect()
    for n in (1, FS_WIDEN_PARTS - 1, FS_WIDEN_PARTS, FS_WIDEN_PARTS + 1):
        con.execute(f"CREATE OR REPLACE VIEW part AS SELECT * FROM range({n})")
        # noun-disagreeing pair survives the SQL term iff NOT widened
        diff_nouns = con.execute(
            f"SELECT {_FS_WIDEN_SQL} FROM (SELECT 'a x c' AS p_name) a, "
            "(SELECT 'a y c' AS p_name) b"
        ).fetchone()[0]
        assert diff_nouns == (not fs_widen_parts(n)), n
        # noun-agreeing pair survives at every catalog size
        same_nouns = con.execute(
            f"SELECT {_FS_WIDEN_SQL} FROM (SELECT 'a x c' AS p_name) a, "
            "(SELECT 'a x d' AS p_name) b"
        ).fetchone()[0]
        assert same_nouns is True, n


def test_grouped_gemm_nearest_neighbor(spark):
    """Per-cell NN: neighbors never cross the group key, the
    (sim DESC, id ASC) tie-break holds within a cell, and a 1-member
    cell emits nothing rather than a self-match."""
    rows = [
        # cell 0: three vectors, 1 and 2 are exact duplicates
        (0, 10, [1.0, 0.0]),
        (0, 11, [0.6, 0.8]),
        (0, 12, [0.6, 0.8]),
        # cell 1: two anti-parallel vectors — still each other's NN
        (1, 20, [0.0, 1.0]),
        (1, 21, [0.0, -1.0]),
        # cell 2: singleton — no NN
        (2, 30, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "cid int, vec_id long, nv array<double>")
    out = {
        r["query_id"]: (r["cid"], r["vec_id"], round(r["cosine_sim"], 6))
        for r in similarity.grouped_gemm_nearest_neighbor(df).collect()
    }
    assert set(out) == {10, 11, 12, 20, 21}  # singleton 30 absent
    assert out[11] == (0, 12, 1.0) and out[12] == (0, 11, 1.0)  # dup pair
    assert out[10][1] in (11, 12)  # stays inside cell 0
    assert out[20] == (1, 21, -1.0) and out[21] == (1, 20, -1.0)


def test_gemm_kernels_empty_input(spark):
    """Empty unit table: both broadcast kernels return an empty
    DataFrame with the declared schema instead of np.stack([]) raising
    ValueError driver-side (ADVICE r07)."""
    from pyspark.sql import types as T

    empty = spark.createDataFrame(
        [], T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("uv", T.ArrayType(T.DoubleType())),
        ])
    )
    pairs = similarity.gemm_threshold_pairs(empty, threshold=0.0)
    assert pairs.count() == 0
    assert pairs.columns == ["vec_id_a", "vec_id_b", "cosine_sim"]
    nn = similarity.gemm_nearest_neighbor(empty, vec_col="uv")
    assert nn.count() == 0
    assert nn.columns == ["query_id", "vec_id", "cosine_sim"]


def test_gemm_nearest_neighbor_nan_not_preferred(spark):
    """A zero-norm vector normalized upstream yields an all-NaN row AND
    column in the sim matrix; np.argmax prefers NaN, so without masking
    one degenerate vector becomes EVERY query's NN (ADVICE r07). The
    kernel masks non-finite sims to -inf (SQL NULL-sorts-last)."""
    import math

    nan = float("nan")
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.8, 0.6]),
        (3, [nan, nan]),  # zero-norm vector after upstream x/||x||
    ]
    unit = spark.createDataFrame(rows, "vec_id long, nv array<double>")
    out = {
        r["query_id"]: r["vec_id"]
        for r in similarity.gemm_nearest_neighbor(unit, vec_col="nv").collect()
    }
    # the finite vectors pick each other, never the NaN vector
    assert out[1] == 2 and out[2] == 1
    # the NaN query row degrades to a -inf match, deterministically
    sims = {
        r["query_id"]: r["cosine_sim"]
        for r in similarity.gemm_nearest_neighbor(unit, vec_col="nv").collect()
    }
    assert sims[3] == -math.inf and not math.isnan(sims[1])


def test_grouped_gemm_nan_not_preferred(spark):
    """Same NaN-masking contract for the distributed per-cell kernel."""
    nan = float("nan")
    rows = [
        (0, 1, [1.0, 0.0]),
        (0, 2, [0.8, 0.6]),
        (0, 3, [nan, nan]),
    ]
    df = spark.createDataFrame(rows, "cid int, vec_id long, nv array<double>")
    out = {
        r["query_id"]: r["vec_id"]
        for r in similarity.grouped_gemm_nearest_neighbor(df).collect()
    }
    assert out[1] == 2 and out[2] == 1


def test_collect_unit_matrix_broadcast_cap(spark, monkeypatch):
    """The exact-tier broadcast bound is enforced, not just documented:
    a unit table past _GEMM_MAX_BROADCAST_VECS raises before any
    driver-side collect happens (round-7 verdict ask #6)."""
    unit = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(5)], "vec_id long, uv array<double>"
    )
    monkeypatch.setattr(similarity, "_GEMM_MAX_BROADCAST_VECS", 4)
    with pytest.raises(ValueError, match="broadcast tier is bounded"):
        similarity.gemm_threshold_pairs(unit, threshold=0.0)
    monkeypatch.setattr(similarity, "_GEMM_MAX_BROADCAST_VECS", 5)
    assert similarity.gemm_threshold_pairs(unit, threshold=0.0).count() >= 0


def test_grouped_gemm_multiprobe(spark):
    """Multiprobe mode: a query probing a second cell reaches a
    better NN there; queries == home membership degrades exactly to
    the single-probe result; unprobed queries are unchanged."""
    home = spark.createDataFrame(
        [
            (0, 1, [1.0, 0.0]),
            (0, 2, [0.8, 0.6]),
            (0, 3, [0.0, 1.0]),  # home in cell 0, true NN is 10 in cell 1
            (1, 10, [0.1, 0.995]),
            (1, 11, [-1.0, 0.0]),
        ],
        "cid int, vec_id long, nv array<double>",
    )
    single = {
        r["query_id"]: (r["vec_id"], round(r["cosine_sim"], 6))
        for r in similarity.grouped_gemm_nearest_neighbor(home).collect()
    }
    probe = home.unionByName(
        spark.createDataFrame(
            [(1, 3, [0.0, 1.0])], "cid int, vec_id long, nv array<double>"
        )
    )
    multi = {
        r["query_id"]: (r["cid"], r["vec_id"], round(r["cosine_sim"], 6))
        for r in similarity.grouped_gemm_nearest_neighbor(
            home, queries=probe
        ).collect()
    }
    assert single[3][0] in (1, 2)  # single-probe is stuck inside cell 0
    assert multi[3] == (1, 10, 0.995)  # multiprobe reaches cell 1's true NN
    assert multi[1] == (0, 2, 0.8) and single[1] == (2, 0.8)
    # identity: probe membership == home membership -> single-probe result
    eq = {
        r["query_id"]: (r["vec_id"], round(r["cosine_sim"], 6))
        for r in similarity.grouped_gemm_nearest_neighbor(
            home, queries=home
        ).collect()
    }
    assert eq == single
