"""Embedding-column queries: ANN (LSH / IVF / PQ), semantic dedup,
retrieval, clustering, PCA, quantization.

Registered query family (24 entries); split from the
original monolithic plans/queries.py.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from covid19_etl_pipeline_spark.catalog import load_table
from covid19_etl_pipeline_spark.operators import similarity
from covid19_etl_pipeline_spark.operators import text
from covid19_etl_pipeline_spark.operators.partitioning import barrier, spread

from covid19_etl_pipeline_spark.plans._registry import _register

@_register(
    "sim_bruteforce_topk",
    """
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 5
    ),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    s AS (
        SELECT query_id, vec_id,
               list_dot_product(qv, cv)
                 / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                 AS sim
        FROM q JOIN c ON vec_id <> query_id
    ),
    r AS (
        SELECT query_id, vec_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, vec_id) AS INT) AS rank
        FROM s
    )
    SELECT query_id, vec_id, round(sim, 6) AS cosine_sim, rank
    FROM r WHERE rank <= 10
    """,
    "exact cosine top-k per query vector — brute-force baseline "
    "(extension: similarity search; zip_with+aggregate dot products)",
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    return out.select(
        "query_id", "vec_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank"
    )


def _d_plane_signature(vec_expr: str, n_planes: int = 4, dim: int = 64) -> str:
    """DuckDB twin of similarity.hyperplane_signature: the SAME
    deterministic md5-derived hyperplanes, embedded as literals."""
    cases = []
    for plane in similarity._hyperplanes(dim, n_planes, seed=42):
        lits = ", ".join(repr(w) for w in plane)
        cases.append(
            f"CASE WHEN list_dot_product({vec_expr}, [{lits}]) > 0 "
            f"THEN '1' ELSE '0' END"
        )
    return "concat(" + ", ".join(cases) + ")"


@_register(
    "sim_lsh_ann_topk",
    f"""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sigc AS (SELECT vec_id, v, {_d_plane_signature('v')} AS bucket FROM c),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM sigc WHERE vec_id < 5),
    s AS (
        SELECT q.query_id, sigc.vec_id,
               list_dot_product(q.qv, sigc.v)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(sigc.v, sigc.v))) AS sim
        FROM sigc JOIN q ON sigc.bucket = q.bucket AND sigc.vec_id <> q.query_id
    ),
    r AS (
        SELECT query_id, vec_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, vec_id) AS INT) AS rank
        FROM s
    )
    SELECT query_id, vec_id, round(sim, 6) AS cosine_sim, rank
    FROM r WHERE rank <= 10
    """,
    "LSH-bucketed approximate top-k (deterministic random-hyperplane "
    "signatures + in-bucket exact re-rank — the 100 TB ANN path)",
)
def sim_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.lsh_ann_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, n_planes=4
    )
    return out.select(
        "query_id", "vec_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank"
    )


@_register(
    "embedding_neardup_pairs",
    """
    WITH c AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    u AS (
        SELECT vec_id, label,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS uv
        FROM c WHERE list_dot_product(v, v) > 0
    )
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           a.label AS label_a, b.label AS label_b,
           round(list_dot_product(a.uv, b.uv), 6) AS cosine_sim
    FROM u a JOIN u b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.uv, b.uv) >= 0.35
    """,
    "embedding-cosine near-dup pairs (brute-force EXACT form; the "
    "scale path buckets via sim_lsh_ann_topk's hyperplane signatures "
    "first). Vectors are UNIT-NORMALIZED once (norms move from n^2 to "
    "n cost), then the exact all-pairs stage is a broadcast GEMM "
    "(similarity.gemm_threshold_pairs): the n x d unit matrix is "
    "broadcast and each Arrow batch computes a chunked B @ M^T in "
    "numpy instead of n^2/2 interpreted per-pair dot folds — measured "
    ">300s -> seconds at 20k vectors, exact same surviving pairs "
    "(float64 GEMM differs from the sequential fold only in summation "
    "order, ~1e-15, far under the round-6 oracle contract)",
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    v = F.transform("embedding", lambda x: x.cast("double"))
    # the normalized table materializes once and feeds the broadcast
    # side (driver collect) and the distributed probe side
    unit = (
        emb.select("vec_id", "label", v.alias("__v"))
        .filter(similarity.dot(F.col("__v"), F.col("__v")) > 0)
        .select(
            "vec_id",
            "label",
            F.transform(
                "__v", lambda x: x / F.sqrt(similarity.dot(F.col("__v"), F.col("__v")))
            ).alias("uv"),
        )
        .transform(barrier)
    )
    pairs = similarity.gemm_threshold_pairs(
        unit, threshold=0.35, vec_col="uv", label_col="label"
    )
    return pairs.select(
        "vec_id_a",
        "vec_id_b",
        "label_a",
        "label_b",
        F.round("cosine_sim", 6).alias("cosine_sim"),
    )


@_register(
    "sim_ivf_topk",
    """
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM c WHERE vec_id < 8),
    sims AS (
        SELECT c.vec_id, cent.cid,
               list_dot_product(c.v, cent.cv)
                 / (sqrt(list_dot_product(c.v, c.v))
                    * sqrt(list_dot_product(cent.cv, cent.cv))) AS csim
        FROM c, cent
    ),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY csim DESC, cid) AS rn
            FROM sims
        ) WHERE rn = 1
    ),
    members AS (SELECT a.vec_id, a.cid, c.v FROM assign a JOIN c USING (vec_id)),
    q AS (SELECT vec_id AS query_id, cid AS qcid, v AS qv
          FROM members WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, m.vec_id,
               list_dot_product(q.qv, m.v)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(m.v, m.v))) AS sim
        FROM q JOIN members m ON m.cid = q.qcid AND m.vec_id <> q.query_id
    ),
    r AS (
        SELECT query_id, vec_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, vec_id) AS INT) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, round(sim, 6) AS cosine_sim, rank
    FROM r WHERE rank <= 10
    """,
    "IVF-flat ANN: deterministic coarse quantizer (first-C centroids), "
    "cosine cell assignment, single-probe in-cell exact re-rank — the "
    "inverted-file alternative to hyperplane LSH",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF: assign every vector to its nearest of C fixed centroids
    (broadcast nested-loop over C rows — no shuffle), then search only
    the query's cell. At scale the assignment is written once
    (partitioned by cell) and reused; a real deployment would k-means
    the centroids — deterministic first-C keeps the oracle exact."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    c = emb.select("vec_id", F.col("embedding").alias("v"))
    cent = (
        emb.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    )
    sims = c.join(F.broadcast(cent)).withColumn(
        "csim", similarity.cosine(F.col("v"), F.col("cv"))
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cid"))
    # the assignment is consumed twice (query selection + cell search);
    # materialize it once — the docstring's "written once, partitioned
    # by cell, reused" policy, realized locally as a checkpoint.
    members = (
        sims.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "v")
        .transform(barrier)
    )
    q = members.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("cid").alias("qcid"),
        F.col("v").alias("qv"),
    )
    scored = (
        members.join(F.broadcast(q), on=F.col("cid") == F.col("qcid"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", similarity.cosine(F.col("qv"), F.col("v")))
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", F.round("sim", 6).alias("cosine_sim"), "rank")
    )


@_register(
    "embedding_component_stats",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INT)                                   AS dim,
           round(CAST(list_max(embedding) AS DOUBLE), 4)                 AS max_comp,
           round(CAST(list_min(embedding) AS DOUBLE), 4)                 AS min_comp,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                 / len(embedding), 4) + 0.0                              AS mean_comp,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT)          AS n_positive
    FROM embeddings
    """,
    "higher-order array functions over the embedding column: size / "
    "array_max / array_min / aggregate-fold mean / filter count — all "
    "JVM-side (no UDF), the building blocks of the similarity operators "
    "(extension surface; vector columns as array<float>)",
)
def embedding_component_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.array_max("embedding").cast("double"), 4).alias("max_comp"),
        F.round(F.array_min("embedding").cast("double"), 4).alias("min_comp"),
        # + 0.0 canonicalizes IEEE -0.0 to 0.0 (engines disagree on the
        # sign of a zero rounding result)
        (
            F.round(
                F.aggregate(
                    "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")
                )
                / F.size("embedding"),
                4,
            )
            + 0.0
        ).alias("mean_comp"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
    )


@_register(
    "kmeans_refined_centroids",
    """
    WITH pts AS (
        SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c0 AS (
        SELECT pid AS cid, list_transform(v, x -> round(x, 6)) AS cv
        FROM pts WHERE pid < 8
    ),
    s1 AS (
        SELECT p.pid, c.cid, p.v,
               list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.cv)
                 + list_dot_product(c.cv, c.cv) AS d2
        FROM pts p, c0 c
    ),
    a1 AS (
        SELECT pid, cid, v FROM (
            SELECT pid, cid, v,
                   row_number() OVER (PARTITION BY pid ORDER BY d2, cid) AS rn
            FROM s1) WHERE rn = 1
    ),
    c1 AS (
        SELECT cid, list(m ORDER BY pos) AS cv FROM (
            SELECT a.cid, g.pos, round(avg(a.v[g.pos]), 6) AS m
            FROM a1 a, generate_series(1, 64) g(pos)
            GROUP BY a.cid, g.pos) GROUP BY cid
    ),
    s2 AS (
        SELECT p.pid, c.cid, p.v,
               list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.cv)
                 + list_dot_product(c.cv, c.cv) AS d2
        FROM pts p, c1 c
    ),
    a2 AS (
        SELECT pid, cid, v FROM (
            SELECT pid, cid, v,
                   row_number() OVER (PARTITION BY pid ORDER BY d2, cid) AS rn
            FROM s2) WHERE rn = 1
    ),
    c2 AS (
        SELECT cid, list(m ORDER BY pos) AS cv FROM (
            SELECT a.cid, g.pos, round(avg(a.v[g.pos]), 6) AS m
            FROM a2 a, generate_series(1, 64) g(pos)
            GROUP BY a.cid, g.pos) GROUP BY cid
    ),
    s3 AS (
        SELECT p.pid, c.cid,
               list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.cv)
                 + list_dot_product(c.cv, c.cv) AS d2
        FROM pts p, c2 c
    ),
    a3 AS (
        SELECT pid, cid, d2 FROM (
            SELECT pid, cid, d2,
                   row_number() OVER (PARTITION BY pid ORDER BY d2, cid) AS rn
            FROM s3) WHERE rn = 1
    )
    SELECT a3.cid, count(*) AS n_members,
           round(sqrt(list_dot_product(c2.cv, c2.cv)), 4) + 0.0 AS centroid_norm,
           round(avg(a3.d2), 4) + 0.0 AS inertia
    FROM a3 JOIN c2 ON a3.cid = c2.cid
    GROUP BY a3.cid, c2.cv
    ORDER BY a3.cid
    """,
    "fixed-iteration Lloyd k-means (2 rounds, deterministic first-k "
    "init) refining the coarse quantizer `sim_ivf_topk` stubs: "
    "broadcast nested-loop assignment (no shuffle), per-(cluster,dim) "
    "mean update whose shuffle is k*dim cells regardless of corpus "
    "size, centroids re-rounded to 6dp each round so float summation "
    "order cannot drift the next assignment — which is what makes a "
    "genuinely iterative ML algorithm oracle-comparable (the oracle "
    "unrolls both rounds as CTEs). Driver loop controls iteration "
    "only, like connected_components",
)
def kmeans_refined_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    assigned, cent = similarity.lloyd_iterations(emb, k=8, iters=2)
    norm = F.round(F.sqrt(similarity.dot(F.col("cv"), F.col("cv"))), 4) + 0.0
    return (
        assigned.groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            (F.round(F.avg("d2"), 4) + 0.0).alias("inertia"),
        )
        .join(cent.select("cid", norm.alias("centroid_norm")), "cid")
        .select("cid", "n_members", "centroid_norm", "inertia")
        .orderBy("cid")
    )


@_register(
    "semantic_doc_retrieval",
    r"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 3
    ),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    s AS (
        SELECT query_id, vec_id,
               list_dot_product(qv, cv)
                 / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                 AS sim
        FROM q JOIN c ON vec_id <> query_id
    ),
    r AS (
        SELECT query_id, vec_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, vec_id) AS INT) AS rank
        FROM s
    )
    SELECT r.query_id, r.rank, d.doc_id, d.lang,
           round(r.sim, 6) AS cosine_sim,
           CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS INT) AS n_tokens
    FROM r JOIN documents d ON r.vec_id = d.doc_id
    WHERE r.rank <= 5
    ORDER BY r.query_id, r.rank
    """,
    "retrieval pipeline (the RAG serving shape): ANN top-k over the "
    "embedding column, then hydrate the hit list by joining doc ids "
    "back to the documents table for text metadata. The hydration join "
    "input is |Q| x k rows — tiny — so it broadcasts against the "
    "(partition-pruned) documents scan; the expensive half is the "
    "similarity search, which swaps to the LSH/IVF variants at scale "
    "without touching the hydration stage",
)
def semantic_doc_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    hits = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=5
    )
    return (
        docs.join(
            F.broadcast(hits), hits["vec_id"] == docs["doc_id"]
        )
        .select(
            "query_id",
            "rank",
            "doc_id",
            "lang",
            F.round("cosine_sim", 6).alias("cosine_sim"),
            F.size(text.tokens("text")).alias("n_tokens"),
        )
        .orderBy("query_id", "rank")
    )


@_register(
    "quantize_embeddings_int8",
    """
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
        FROM embeddings WHERE vec_id < 200
    ),
    s AS (
        SELECT vec_id, x,
               list_max(list_transform(x, e -> abs(e))) AS scale
        FROM v
    ),
    q AS (
        SELECT vec_id, scale,
               list_transform(x, e -> CAST(floor(e * 127.0 / scale + 0.5)
                                           AS BIGINT)) AS qv,
               x
        FROM s WHERE scale > 0
    )
    SELECT vec_id,
           round(scale, 6) AS scale,
           CAST(list_sum(qv) AS BIGINT) AS q_checksum,
           round(list_max(list_transform(range(1, len(x) + 1),
                 i -> abs(x[i] - qv[i] * scale / 127.0))), 6) + 0.0
               AS max_abs_err
    FROM q
    ORDER BY vec_id
    """,
    "int8 symmetric per-vector quantization of the embedding column — "
    "the 4x storage/bandwidth compression step before an ANN index "
    "ships to serving. Per-vector absmax scale, floor(x*127/scale+0.5) "
    "code assignment (floor-form, NOT round(): both engines agree on "
    "floor while round() half-case conventions differ), and the "
    "reconstruction-error audit max|x - q*scale/127| <= scale/254. "
    "Pure higher-order array functions — JVM-side, narrow, zero "
    "shuffle before the final sort; at 100 TB this runs as a "
    "map-only rewrite of the vector store",
)
def quantize_embeddings_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    v = spread(emb, "vec_id").select(
        "vec_id",
        F.transform("embedding", lambda e: e.cast("double")).alias("x"),
    )
    s = v.withColumn(
        "scale", F.array_max(F.transform("x", lambda e: F.abs(e)))
    ).filter(F.col("scale") > 0)
    q = s.withColumn(
        "qv",
        F.transform(
            "x", lambda e: F.floor(e * 127.0 / F.col("scale") + 0.5).cast("bigint")
        ),
    )
    err = F.array_max(
        F.zip_with(
            "x", "qv", lambda e, c: F.abs(e - c * F.col("scale") / 127.0)
        )
    )
    # two selects, NOT one: aliasing round(scale) AS "scale" in the same
    # select as `err` would shadow the input column via lateral column
    # alias resolution — err would silently use the ROUNDED scale.
    raw = q.select(
        "vec_id",
        "scale",
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, b: a + b).alias(
            "q_checksum"
        ),
        err.alias("raw_err"),
    )
    return raw.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        "q_checksum",
        (F.round("raw_err", 6) + 0.0).alias("max_abs_err"),
    ).orderBy("vec_id")


@_register(
    "ivf_multiprobe_recall",
    """
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM c WHERE vec_id < 8),
    sims AS (
        SELECT c.vec_id, cent.cid,
               list_dot_product(c.v, cent.cv)
                 / (sqrt(list_dot_product(c.v, c.v))
                    * sqrt(list_dot_product(cent.cv, cent.cv))) AS csim
        FROM c, cent
    ),
    ranked AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cid) AS rn
        FROM sims
    ),
    members AS (
        SELECT r.vec_id, r.cid, c.v FROM ranked r JOIN c USING (vec_id)
        WHERE r.rn = 1
    ),
    probes AS (SELECT vec_id AS query_id, cid AS pcid FROM ranked
               WHERE rn <= 2 AND vec_id < 5),
    qv AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5),
    ivf AS (
        SELECT query_id, vec_id FROM (
            SELECT p.query_id, m.vec_id,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY list_dot_product(q.qv, m.v)
                             / (sqrt(list_dot_product(q.qv, q.qv))
                                * sqrt(list_dot_product(m.v, m.v))) DESC,
                             m.vec_id) AS rank
            FROM probes p
            JOIN qv q ON q.query_id = p.query_id
            JOIN members m ON m.cid = p.pcid AND m.vec_id <> p.query_id
        ) WHERE rank <= 10
    ),
    exact AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.qv, c.v)
                             / (sqrt(list_dot_product(q.qv, q.qv))
                                * sqrt(list_dot_product(c.v, c.v))) DESC,
                             c.vec_id) AS rank
            FROM qv q JOIN c ON c.vec_id <> q.query_id
        ) WHERE rank <= 10
    )
    SELECT e.query_id,
           count(i.vec_id) AS ivf_hits,
           round(count(i.vec_id) / 10.0, 4) + 0.0 AS recall_at_10
    FROM exact e
    LEFT JOIN ivf i ON e.query_id = i.query_id AND e.vec_id = i.vec_id
    GROUP BY e.query_id ORDER BY e.query_id
    """,
    "ANN quality audit: IVF recall@10 at probe=2 against the exact "
    "brute-force top-10 — the measurement that sizes the probe count "
    "(the recall/cost knob every IVF deployment tunes; probe=1 is "
    "sim_ivf_topk's shape, full-probe is brute force). Queries search "
    "their TWO nearest cells: probing rides the same centroid-rank "
    "window as assignment (rn=1 assigns members, rn<=2 probes), so "
    "multi-probe costs one extra window filter, not a second "
    "assignment pass. The exact baseline is the small-n oracle only — "
    "at 100 TB recall is estimated on a query sample exactly like "
    "this one",
)
def ivf_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    c = emb.select("vec_id", F.col("embedding").alias("v"))
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cid"))
    # one centroid-rank pass feeds BOTH member assignment (rn=1) and
    # query probing (rn<=2) — materialize it once.
    ranked = (
        c.join(F.broadcast(cent))
        .withColumn("csim", similarity.cosine(F.col("v"), F.col("cv")))
        .withColumn("rn", F.row_number().over(w_assign))
        .select("vec_id", "cid", "rn")
        .transform(barrier)
    )
    members = (
        ranked.filter(F.col("rn") == 1)
        .join(c, "vec_id")
        .select("vec_id", "cid", "v")
    )
    qv = c.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    probes = (
        ranked.filter((F.col("rn") <= 2) & (F.col("vec_id") < 5))
        .select(F.col("vec_id").alias("query_id"), F.col("cid").alias("pcid"))
        .join(F.broadcast(qv), "query_id")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    ivf = (
        members.join(F.broadcast(probes), on=F.col("cid") == F.col("pcid"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", similarity.cosine(F.col("qv"), F.col("v")))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id")
    )
    exact = (
        c.join(F.broadcast(qv), on=F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", similarity.cosine(F.col("qv"), F.col("v")))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id")
    )
    hits = F.count(ivf["vec_id"])
    return (
        exact.alias("e")
        .join(
            ivf.alias("i"),
            (F.col("e.query_id") == F.col("i.query_id"))
            & (F.col("e.vec_id") == F.col("i.vec_id")),
            "left",
        )
        .groupBy(F.col("e.query_id").alias("query_id"))
        .agg(
            F.count(F.col("i.vec_id")).alias("ivf_hits"),
            (F.round(F.count(F.col("i.vec_id")) / 10.0, 4) + 0.0).alias(
                "recall_at_10"
            ),
        )
        .orderBy("query_id")
    )


@_register(
    "random_projection_embeddings",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
    r AS (
        SELECT vec_id, x,
               list_transform(range(0, 8), j ->
                   list_sum(list_transform(range(1, len(x) + 1), i ->
                       x[i] * CASE WHEN (((i - 1) * 2654435761 + j * 40503)
                                         % 97) % 2 = 1
                                   THEN 1.0 ELSE -1.0 END))) AS yraw
        FROM v
    )
    SELECT vec_id,
           list_transform(yraw, y -> round(y, 4) + 0.0) AS projection,
           CASE WHEN list_sum(list_transform(x, e -> e * e)) > 0
                THEN round(list_sum(list_transform(yraw, y -> y * y))
                           / (8.0 * list_sum(list_transform(x, e -> e * e))),
                           4) + 0.0
           END AS norm_ratio
    FROM r
    ORDER BY vec_id
    """,
    "sign-random-projection (Johnson-Lindenstrauss) dimensionality "
    "reduction 64 -> 8 of the embedding column: y_j = sum_i x_i * "
    "sign(h(i, j)) with a deterministic arithmetic hash in place of the "
    "usual seeded Gaussian (reproducible across engines, partitioning, "
    "and runs). norm_ratio = |y|^2 / (k |x|^2) audits the JL isometry "
    "(expectation 1). Pure higher-order array functions, map-only, zero "
    "shuffle before the output sort — at 100 TB this is the cheap "
    "pre-reduction in front of ANN indexing or clustering, cutting "
    "vector bytes 8x before any distance pass",
)
def random_projection_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 8
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    v = emb.select(
        "vec_id", F.transform("embedding", lambda e: e.cast("double")).alias("x")
    )

    def srp_sign(i, j):
        h = ((i * F.lit(2654435761) + j * F.lit(40503)) % 97) % 2
        return F.when(h == 1, F.lit(1.0)).otherwise(F.lit(-1.0))

    raw = v.select(
        "vec_id",
        "x",
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.aggregate(
                F.sequence(F.lit(0), F.size("x") - 1),
                F.lit(0.0),
                lambda acc, i: acc + F.element_at(F.col("x"), i + 1) * srp_sign(i, j),
            ),
        ).alias("yraw"),
    )
    sq_sum = lambda c: F.aggregate(c, F.lit(0.0), lambda a, e: a + e * e)  # noqa: E731
    return raw.select(
        "vec_id",
        F.transform("yraw", lambda y: F.round(y, 4) + 0.0).alias("projection"),
        F.when(
            sq_sum(F.col("x")) > 0,
            F.round(sq_sum(F.col("yraw")) / (F.lit(float(k)) * sq_sum(F.col("x"))), 4)
            + 0.0,
        ).alias("norm_ratio"),
    ).orderBy("vec_id")


@_register(
    "cluster_balanced_sample",
    """
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM c WHERE vec_id < 8),
    sims AS (
        SELECT c.vec_id, cent.cid,
               list_dot_product(c.v, cent.cv)
                 / (sqrt(list_dot_product(c.v, c.v))
                    * sqrt(list_dot_product(cent.cv, cent.cv))) AS csim
        FROM c, cent
    ),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY csim DESC, cid) AS rn
            FROM sims
        ) WHERE rn = 1
    ),
    sized AS (
        SELECT vec_id, cid, count(*) OVER (PARTITION BY cid) AS cluster_size
        FROM assign
    ),
    ranked AS (
        SELECT cid, vec_id, cluster_size,
               CAST(row_number() OVER (
                   PARTITION BY cid
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS INT) AS rk
        FROM sized
    )
    SELECT cid AS cluster_id, vec_id, CAST(cluster_size AS BIGINT) AS cluster_size,
           rk
    FROM ranked WHERE rk <= 5
    ORDER BY cluster_id, rk
    """,
    "diversity-balanced sampling: assign every embedding to its nearest "
    "coarse centroid (broadcast nested-loop, same deterministic "
    "first-C quantizer as sim_ivf_topk), then take a deterministic "
    "hash-ordered 5 per cluster — the 'cover every mode of the "
    "distribution' eval-set/seed-data selection that uniform sampling "
    "misses on skewed corpora. cluster_size rides along so the sample "
    "carries its own coverage audit. One shuffle on the cluster id; "
    "the per-cluster window never sees more than a cluster's rows",
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    c = emb.select("vec_id", F.col("embedding").alias("v"))
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    sims = c.join(F.broadcast(cent)).withColumn(
        "csim", similarity.cosine(F.col("v"), F.col("cv"))
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cid"))
    assign = (
        sims.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    w_size = Window.partitionBy("cid")
    w_rank = Window.partitionBy("cid").orderBy(
        F.md5(F.col("vec_id").cast("string").cast("binary")), "vec_id"
    )
    return (
        assign.withColumn("cluster_size", F.count("*").over(w_size))
        .withColumn("rk", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rk") <= 5)
        .select(
            F.col("cid").alias("cluster_id"), "vec_id", "cluster_size", "rk"
        )
        .orderBy("cluster_id", "rk")
    )


@_register(
    "hard_negative_mining",
    """
    WITH c AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    u AS (
        SELECT vec_id, label,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS uv
        FROM c WHERE list_dot_product(v, v) > 0
    ),
    q AS (SELECT vec_id AS q_id, label AS q_label, uv AS q_uv FROM u WHERE vec_id < 5),
    s AS (
        SELECT q.q_id, q.q_label, u.vec_id AS neighbor_id, u.label AS neighbor_label,
               list_dot_product(u.uv, q.q_uv) AS cs,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY list_dot_product(u.uv, q.q_uv) DESC,
                                           u.vec_id) AS rk
        FROM u JOIN q ON u.label <> q.q_label
    )
    SELECT q_id, CAST(rk AS INT) AS rk, neighbor_id, q_label, neighbor_label,
           round(cs, 6) + 0.0 AS cosine_sim
    FROM s WHERE rk <= 3
    ORDER BY q_id, rk
    """,
    "hard-negative mining for contrastive training: per query vector, "
    "the top-3 most-similar vectors with a DIFFERENT label — maximally "
    "confusing negatives, the batch-construction core of embedding-"
    "model training. Queries broadcast (points never move — the "
    "cluster_balanced_sample shape); cosine is one dot product on "
    "pre-unit-normalized vectors; the rank window partitions by query. "
    "At 100 TB the candidate side narrows through the IVF/LSH index "
    "first (sim_ivf_topk) — this exact form is the correctness oracle "
    "for that path, with float-deterministic element-order dot products",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    n = similarity.norm(F.col("v"))
    pts = (
        emb.withColumn("nm", n)
        .filter(F.col("nm") > 0)
        .select(
            "vec_id",
            "label",
            F.transform("v", lambda x: x / F.col("nm")).alias("uv"),
        )
        # no checkpoint: both consumers (the tiny broadcast query side and
        # the candidate scan) recompute the map-only normalization cheaper
        # than materializing the corpus-sized array column would cost
    )
    q = pts.select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("uv").alias("q_uv"),
    ).filter(F.col("q_id") < 5)
    cs = similarity.dot(F.col("uv"), F.col("q_uv"))
    w = Window.partitionBy("q_id").orderBy(F.col("cs").desc(), "vec_id")
    return (
        pts.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .withColumn("cs", cs)
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select(
            "q_id",
            "rk",
            F.col("vec_id").alias("neighbor_id"),
            "q_label",
            F.col("label").alias("neighbor_label"),
            (F.round("cs", 6) + F.lit(0.0)).alias("cosine_sim"),
        )
        .orderBy("q_id", "rk")
    )


@_register(
    "embedding_dimension_whitening",
    """
    WITH flat AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    stats AS (
        SELECT dim, avg(val) AS mu, stddev_pop(val) AS sigma
        FROM flat GROUP BY dim
    )
    SELECT f.vec_id, f.dim,
           round((f.val - s.mu) / s.sigma, 4) AS z
    FROM flat f JOIN stats s USING (dim)
    WHERE f.vec_id < 10
    ORDER BY f.vec_id, f.dim
    """,
    "per-dimension whitening (z-scoring) of the embedding table — the "
    "feature-normalization pass before ANN indexing or clustering so "
    "no dimension dominates the metric: posexplode to (vec, dim, val), "
    "population mean/std per dimension (64 rows — broadcasts back), "
    "normalize. At 100 TB the explode is map-side only and the stats "
    "rollup is partial-aggregable with a dims-sized result; the final "
    "vec_id<10 slice keeps the oracle surface small while the full "
    "normalized stream is what a pipeline would re-assemble via "
    "array_agg. 1-based dim to match SQL subscripts",
)
def embedding_dimension_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "valf")
    ).select(
        "vec_id", (F.col("pos") + 1).alias("dim"), F.col("valf").cast("double").alias("val")
    )
    stats = flat.groupBy("dim").agg(
        F.avg("val").alias("mu"), F.stddev_pop("val").alias("sigma")
    )
    return (
        flat.join(F.broadcast(stats), "dim")
        .filter(F.col("vec_id") < 10)
        .select(
            "vec_id",
            "dim",
            F.round((F.col("val") - F.col("mu")) / F.col("sigma"), 4).alias("z"),
        )
        .orderBy("vec_id", "dim")
    )


@_register(
    "pq_adc_topk",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    subs AS (
        SELECT vec_id, s, v[s*16+1 : s*16+16] AS sub
        FROM e, (VALUES (0), (1), (2), (3)) AS t(s)
    ),
    cb AS (SELECT s, vec_id AS j, sub AS cent FROM subs WHERE vec_id < 16),
    enc0 AS (
        SELECT d.vec_id, d.s, cb.j,
               list_dot_product(d.sub, d.sub)
                 - 2 * list_dot_product(d.sub, cb.cent)
                 + list_dot_product(cb.cent, cb.cent) AS d2
        FROM subs d JOIN cb ON d.s = cb.s
    ),
    enc1 AS (
        SELECT vec_id, s, j,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rk
        FROM enc0
    ),
    codes AS (SELECT vec_id, s, j FROM enc1 WHERE rk = 1),
    lt AS (
        SELECT q.vec_id AS query_id, q.s, cb.j,
               list_dot_product(q.sub, q.sub)
                 - 2 * list_dot_product(q.sub, cb.cent)
                 + list_dot_product(cb.cent, cb.cent) AS d2q
        FROM subs q JOIN cb ON q.s = cb.s
        WHERE q.vec_id < 5
    ),
    adc AS (
        SELECT lt.query_id, c.vec_id, sum(lt.d2q) AS adc_d2
        FROM codes c JOIN lt ON c.s = lt.s AND c.j = lt.j
        WHERE c.vec_id <> lt.query_id
        GROUP BY lt.query_id, c.vec_id
    ),
    r AS (
        SELECT query_id, vec_id, adc_d2,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_d2, vec_id) AS INT) AS rank
        FROM adc
    )
    SELECT query_id, vec_id, round(adc_d2, 6) + 0.0 AS adc_dist2, rank
    FROM r WHERE rank <= 10
    ORDER BY query_id, rank
    """,
    "product-quantization ANN with asymmetric-distance scoring (the "
    "third index family after LSH and IVF — the memory-bound regime's "
    "answer): 64-dim vectors split into 4 x 16-dim subspaces, each "
    "quantized against a 16-entry codebook (deterministic seed "
    "vectors; kmeans_refined_centroids is the refinement step a "
    "production build would run per subspace), so every database "
    "vector compresses to a 4-byte code. Queries never touch raw "
    "database vectors: each query precomputes a 4x16 distance lookup "
    "table against the codebook (tiny, BROADCAST), and candidate "
    "distance is a 4-term table-lookup sum over the CODES table — at "
    "100 TB the scan is over 4-byte codes instead of 256-byte floats "
    "(64x less IO), shuffling only (query, candidate, partial) rows. "
    "Encode-side argmin is a (vec,subspace)-keyed window; distances "
    "use the dot-decomposition d2 = <a,a> - 2<a,b> + <b,b> in fixed "
    "element order so both engines fold identically",
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    m, subd, n_queries = 4, 16, 5
    v = F.transform("embedding", lambda x: x.cast("double"))
    slices = F.array(*[F.slice(v, s * subd + 1, subd) for s in range(m)])
    # hoist the self-terms of d2 = <a,a> - 2<a,b> + <b,b> OUT of the
    # n·m·k scoring join (r12, guide §1.2 per-task work / §4 keep the
    # per-row expression cheap): <sub,sub> is constant across the k
    # codebook rows a subs row scores against, <cent,cent> across the n
    # vectors a codebook row scores — evaluated before the join each
    # runs once per (vec, subspace) / per codebook entry instead of
    # once per scored pair, leaving ONE interpreted HOF dot per pair
    # instead of three (bit-identical doubles: same operands, same
    # (ss - 2·sc) + cc tree, only the evaluation site moves)
    subs = emb.select(
        "vec_id", F.posexplode(slices).alias("s", "sub")
    ).withColumn("ss", similarity.dot(F.col("sub"), F.col("sub")))
    cb = subs.filter(F.col("vec_id") < 16).select(
        F.col("s").alias("cb_s"),
        F.col("vec_id").alias("j"),
        F.col("sub").alias("cent"),
        F.col("ss").alias("cc"),
    )
    d2 = (
        F.col("ss")
        - 2 * similarity.dot(F.col("sub"), F.col("cent"))
        + F.col("cc")
    )
    enc0 = subs.join(F.broadcast(cb), subs["s"] == cb["cb_s"]).select(
        "vec_id", "s", "j", d2.alias("d2")
    )
    # argmin via struct-min (the _nearest_centroid trick): min over
    # struct(d2, j) compares d2 then j — exactly the row_number-over-
    # (orderBy d2, j)==1 selection, but as a hash aggregate with
    # map-side partial min instead of a full sort window (the window
    # shuffled + sorted every (vec, subspace, centroid) scoring row;
    # the agg ships one row per (vec, subspace)). Wall-neutral at
    # sf0.1; at scale it removes the sort of the n·m·k scoring stream.
    codes = (
        enc0.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2", "j")).alias("m"))
        .select("vec_id", "s", F.col("m.j").alias("j"))
    )
    lt = (
        subs.filter(F.col("vec_id") < n_queries)
        .join(F.broadcast(cb), subs["s"] == cb["cb_s"])
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("s").alias("lt_s"),
            F.col("j").alias("lt_j"),
            d2.alias("d2q"),
        )
    )
    adc = (
        codes.join(
            F.broadcast(lt),
            (codes["s"] == lt["lt_s"]) & (codes["j"] == lt["lt_j"]),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2q").alias("adc_d2"))
    )
    rk_q = F.row_number().over(
        Window.partitionBy("query_id").orderBy("adc_d2", "vec_id")
    )
    return (
        adc.withColumn("rank", rk_q.cast("int"))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "vec_id",
            (F.round("adc_d2", 6) + F.lit(0.0)).alias("adc_dist2"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


@_register(
    "embedding_cluster_separation",
    """
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    dims AS (
        SELECT label, i, avg(v[i]) AS c
        FROM e, (SELECT unnest(range(1, 65)) AS i)
        GROUP BY label, i
    ),
    cent AS (
        SELECT label, list(c ORDER BY i) AS cv FROM dims GROUP BY label
    ),
    disp AS (
        SELECT e.label,
               count(*) AS n_vecs,
               avg(sqrt(list_dot_product(e.v, e.v)
                        - 2 * list_dot_product(e.v, cent.cv)
                        + list_dot_product(cent.cv, cent.cv))) AS mean_dist
        FROM e JOIN cent ON e.label = cent.label
        GROUP BY e.label
    ),
    inter AS (
        SELECT a.label AS label, min(sqrt(
                   list_dot_product(a.cv, a.cv)
                   - 2 * list_dot_product(a.cv, b.cv)
                   + list_dot_product(b.cv, b.cv))) AS nearest_centroid_dist
        FROM cent a JOIN cent b ON a.label <> b.label
        GROUP BY a.label
    )
    SELECT d.label, CAST(d.n_vecs AS BIGINT) AS n_vecs,
           round(d.mean_dist, 4) AS intra_dispersion,
           round(i.nearest_centroid_dist, 4) AS nearest_centroid_dist,
           round(d.mean_dist / i.nearest_centroid_dist, 4) AS overlap_ratio
    FROM disp d JOIN inter i ON d.label = i.label
    ORDER BY d.label
    """,
    "embedding cluster-separation audit (Davies-Bouldin-style): per "
    "label, the centroid (per-dimension mean via posexplode — a "
    "labels x dims cell rollup, never a vector shuffle), the mean "
    "member-to-centroid distance (intra dispersion), and the distance "
    "to the nearest OTHER centroid — overlap_ratio near or above 1 "
    "means the classes bleed together and a classifier/ANN index "
    "built on these embeddings will too. Centroids are a tiny "
    "broadcast; distances use the fixed-order dot decomposition. The "
    "embedding-quality gate run before committing to an index build",
)
def embedding_cluster_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    e = emb.select("vec_id", "label", v.alias("v"))
    dims = (
        e.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("c"))
    )
    cent = (
        dims.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("ic"))
        .select("label", F.col("ic.c").alias("cv"))
        .transform(barrier)
    )
    d2 = (
        similarity.dot(F.col("v"), F.col("v"))
        - 2 * similarity.dot(F.col("v"), F.col("cv"))
        + similarity.dot(F.col("cv"), F.col("cv"))
    )
    disp = (
        e.join(F.broadcast(cent), "label")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.avg(F.sqrt(d2)).alias("mean_dist"),
        )
    )
    a = cent.select(F.col("label"), F.col("cv"))
    b = cent.select(F.col("label").alias("label_b"), F.col("cv").alias("cv_b"))
    cd2 = (
        similarity.dot(F.col("cv"), F.col("cv"))
        - 2 * similarity.dot(F.col("cv"), F.col("cv_b"))
        + similarity.dot(F.col("cv_b"), F.col("cv_b"))
    )
    inter = (
        a.join(F.broadcast(b), F.col("label") != F.col("label_b"))
        .groupBy("label")
        .agg(F.min(F.sqrt(cd2)).alias("nearest_centroid_dist"))
    )
    return (
        disp.join(inter, "label")
        .select(
            "label",
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            F.round("mean_dist", 4).alias("intra_dispersion"),
            F.round("nearest_centroid_dist", 4).alias("nearest_centroid_dist"),
            F.round(
                F.col("mean_dist") / F.col("nearest_centroid_dist"), 4
            ).alias("overlap_ratio"),
        )
        .orderBy("label")
    )


@_register(
    "semdedup_survivors",
    """
    WITH pts AS (
        SELECT vec_id AS pid, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    c0 AS (
        SELECT pid AS cid, list_transform(v, x -> round(x, 6)) AS cv
        FROM pts WHERE pid < 8
    ),
    s AS (
        SELECT p.pid, p.label, c.cid, p.v,
               list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.cv)
                 + list_dot_product(c.cv, c.cv) AS d2
        FROM pts p, c0 c
    ),
    a AS (
        SELECT pid, label, cid, v FROM (
            SELECT pid, label, cid, v,
                   row_number() OVER (PARTITION BY pid ORDER BY d2, cid) AS rn
            FROM s) WHERE rn = 1
    ),
    u AS (
        SELECT pid, cid,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS uv
        FROM a WHERE list_dot_product(v, v) > 0
    ),
    dropped AS (
        SELECT DISTINCT y.pid
        FROM u x JOIN u y ON x.cid = y.cid AND x.pid < y.pid
        WHERE list_dot_product(x.uv, y.uv) >= 0.35
    )
    SELECT a.pid AS vec_id, a.label, a.cid
    FROM a LEFT JOIN dropped d ON a.pid = d.pid
    WHERE d.pid IS NULL
    ORDER BY vec_id
    """,
    "SemDeDup-style SEMANTIC deduplication (Abbas et al., "
    "arXiv:2303.09540 — public method): coarse-quantize the embedding "
    "corpus (deterministic first-k centroids, the IVF cell assignment "
    "sim_ivf_topk also uses), then cosine near-dup pairs WITHIN each "
    "cell only, dropping every vector with a lower-id near-duplicate "
    "in its cell. The cluster-scoped pair join is keyed on the cell "
    "id — candidate volume is sum(|cell|^2), never |corpus|^2, and "
    "each cell's pairs compute shuffle-local; at 100 TB k grows to "
    "keep cells bounded (same envelope as the IVF probe stage). "
    "Catches the paraphrase near-dups shingle-based MinHash cannot. "
    "Complements embedding_neardup_pairs (which audits the pair "
    "metric brute-force) with the production survivor-selection path",
)
def semdedup_survivors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        similarity.semdedup_survivors(
            emb, k=8, threshold=0.35, extra_cols=("label",)
        )
        .select("vec_id", "label", "cid")
        .orderBy("vec_id")
    )


@_register(
    "semdedup_two_level_survivors",
    """
    WITH pts AS (
        SELECT vec_id AS pid, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    c0 AS (
        SELECT pid AS cid, list_transform(v, x -> round(x, 6)) AS cv
        FROM pts WHERE pid < 36
    ),
    piv AS (
        SELECT cid AS gid, cv AS gv FROM c0 WHERE cid < 6
    ),
    lg AS (
        SELECT cid, gid FROM (
            SELECT c.cid, p.gid,
                   row_number() OVER (PARTITION BY c.cid ORDER BY
                       list_dot_product(c.cv, c.cv)
                         - 2 * list_dot_product(c.cv, p.gv)
                         + list_dot_product(p.gv, p.gv), p.gid) AS rn
            FROM c0 c, piv p) WHERE rn = 1
    ),
    p1 AS (
        SELECT pid, label, v, gid FROM (
            SELECT p.pid, p.label, p.v, g.gid,
                   row_number() OVER (PARTITION BY p.pid ORDER BY
                       list_dot_product(p.v, p.v)
                         - 2 * list_dot_product(p.v, g.gv)
                         + list_dot_product(g.gv, g.gv), g.gid) AS rn
            FROM pts p, piv g) WHERE rn <= 3
    ),
    a AS (
        SELECT pid, label, cid, v FROM (
            SELECT p1.pid, p1.label, c.cid, p1.v,
                   row_number() OVER (PARTITION BY p1.pid ORDER BY
                       list_dot_product(p1.v, p1.v)
                         - 2 * list_dot_product(p1.v, c.cv)
                         + list_dot_product(c.cv, c.cv), c.cid) AS rn
            FROM p1 JOIN lg ON lg.gid = p1.gid
                    JOIN c0 c ON c.cid = lg.cid) WHERE rn = 1
    ),
    u AS (
        SELECT pid, cid,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS uv
        FROM a WHERE list_dot_product(v, v) > 0
    ),
    dropped AS (
        SELECT DISTINCT y.pid
        FROM u x JOIN u y ON x.cid = y.cid AND x.pid < y.pid
        WHERE list_dot_product(x.uv, y.uv) >= 0.35
    )
    SELECT a.pid AS vec_id, a.label, a.cid
    FROM a LEFT JOIN dropped d ON a.pid = d.pid
    WHERE d.pid IS NULL
    ORDER BY vec_id
    """,
    "HIERARCHICAL (two-level / IMI-style) semantic dedup — the scale "
    "path of `semdedup_survivors`, oracle-verified rather than merely "
    "flagged: the k=36 leaf centroids group under g=isqrt(k)=6 pivots "
    "(the cid < g leaves — the same literal predicate in both "
    "engines; each leaf joins its nearest pivot), every vector scores "
    "the 6 pivots, descends into its top-3 pivot groups (the measured "
    "multiprobe default, SCALE.md §12d: probes=1 overstuffs boundary "
    "cells to 2.4x flat's pair-join work while probes=3 lands within "
    "16% of flat AND recovers boundary recall), and scores only those "
    "groups' leaves — ~sqrt(k)*(1+probes) distance evaluations per "
    "point instead of k, the fix for the assignment-bound regime "
    "measured in SCALE.md §12b/§12c (k=800 at the 100x corpus: flat "
    "239s -> two-level 49s). Assignment is deterministic (argmin "
    "tie-breaks on id at every level; the probe list orders by "
    "(d2, gid)), so the full hierarchy — pivot selection, leaf "
    "grouping, multiprobe descent, within-cell survivor rule — is "
    "mirrored in the DuckDB oracle and hash-checked end to end",
)
def semdedup_two_level_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        similarity.semdedup_survivors(
            emb, k=36, threshold=0.35, extra_cols=("label",),
            assign="two_level",
        )
        .select("vec_id", "label", "cid")
        .orderBy("vec_id")
    )


@_register(
    "embedding_outlier_docs",
    """
    WITH pts AS (
        SELECT vec_id AS pid, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    c0 AS (
        SELECT pid AS cid, list_transform(v, x -> round(x, 6)) AS cv
        FROM pts WHERE pid < 8
    ),
    s AS (
        SELECT p.pid, p.label, c.cid,
               list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.cv)
                 + list_dot_product(c.cv, c.cv) AS d2
        FROM pts p, c0 c
    ),
    a AS (
        SELECT pid, label, cid, d2 FROM (
            SELECT pid, label, cid, d2,
                   row_number() OVER (PARTITION BY pid ORDER BY d2, cid) AS rn
            FROM s) WHERE rn = 1
    ),
    cut AS (SELECT round(quantile_cont(d2, 0.95), 6) AS p95 FROM a)
    SELECT a.pid AS vec_id, a.label, a.cid,
           round(a.d2, 4) AS d2,
           round(cut.p95, 4) AS p95_d2
    FROM a, cut
    WHERE a.d2 > cut.p95
    ORDER BY vec_id
    """,
    "embedding-space outlier gate — the corpus-filtering complement "
    "of semdedup_survivors: assign every vector to its coarse-"
    "quantizer cell (broadcast nested loop, no shuffle), then flag "
    "vectors whose squared distance to their OWN centroid exceeds "
    "the corpus p95 — mislabeled/garbled/off-distribution documents "
    "that quality classifiers built on text features miss. The "
    "threshold is one scalar percentile row broadcast back (at "
    "100 TB: percentile_approx on the assignment stats pass); the "
    "gate itself is a map-side predicate. Same quantizer, rounding "
    "and tie-break conventions as the kmeans/semdedup family, so "
    "the whole embedding-curation stack shares one cell assignment "
    "artifact",
)
def embedding_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    pts = emb.select(
        F.col("vec_id").alias("pid"),
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cent = pts.select("pid", "v").filter(F.col("pid") < 8).select(
        F.col("pid").alias("cid"),
        F.transform("v", lambda x: F.round(x, 6)).alias("cv"),
    )
    assigned = barrier(similarity._nearest_centroid(pts, cent, keep_dist=True))
    cut = assigned.agg(F.round(F.percentile("d2", F.lit(0.95)), 6).alias("p95"))
    return (
        assigned.crossJoin(F.broadcast(cut))
        .filter(F.col("d2") > F.col("p95"))
        .select(
            F.col("pid").alias("vec_id"),
            "label",
            "cid",
            F.round("d2", 4).alias("d2"),
            F.round("p95", 4).alias("p95_d2"),
        )
        .orderBy("vec_id")
    )


@_register(
    "embedding_curation_pipeline",
    """
    WITH pts AS (
        SELECT vec_id AS pid, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    c0 AS (
        SELECT pid AS cid, list_transform(v, x -> round(x, 6)) AS cv
        FROM pts WHERE pid < 8
    ),
    s AS (
        SELECT p.pid, p.label, c.cid, p.v,
               list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.cv)
                 + list_dot_product(c.cv, c.cv) AS d2
        FROM pts p, c0 c
    ),
    a AS (
        SELECT pid, label, cid, v, d2 FROM (
            SELECT pid, label, cid, v, d2,
                   row_number() OVER (PARTITION BY pid ORDER BY d2, cid) AS rn
            FROM s) WHERE rn = 1
    ),
    cut AS (SELECT round(quantile_cont(d2, 0.95), 6) AS p95 FROM a),
    inl AS (SELECT a.* FROM a, cut WHERE a.d2 <= cut.p95),
    u AS (
        SELECT pid, cid,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS uv
        FROM inl WHERE list_dot_product(v, v) > 0
    ),
    dropped AS (
        SELECT DISTINCT y.pid
        FROM u x JOIN u y ON x.cid = y.cid AND x.pid < y.pid
        WHERE list_dot_product(x.uv, y.uv) >= 0.35
    ),
    surv AS (
        SELECT i.pid, i.label, i.cid
        FROM inl i LEFT JOIN dropped d ON i.pid = d.pid
        WHERE d.pid IS NULL
    )
    SELECT pid AS vec_id, label, cid FROM (
        SELECT pid, label, cid,
               row_number() OVER (
                   PARTITION BY cid
                   ORDER BY md5(CAST(pid AS VARCHAR)), pid) AS rk
        FROM surv) WHERE rk <= 16
    ORDER BY vec_id
    """,
    "CAPSTONE for the embedding-curation stack — the vector-side twin "
    "of training_corpus's composition proof: outlier gate (drop "
    "vectors beyond the corpus p95 distance to their own centroid) -> "
    "SemDeDup within-cell near-dup drop -> deterministic md5-ranked "
    "per-cell sample of 16 (cluster-balanced subset for probe/eval "
    "sets). Every stage is an operator verified standalone "
    "(embedding_outlier_docs, semdedup_survivors, "
    "cluster_balanced_sample); this proves they COMPOSE against one "
    "unrolled oracle. One cell-assignment artifact feeds gate, dedup "
    "pair join and sampling window — at 100 TB it is the persisted "
    "IVF assignment table, computed once per corpus snapshot",
)
def embedding_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    pts = emb.select(
        F.col("vec_id").alias("pid"),
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cent = pts.select("pid", "v").filter(F.col("pid") < 8).select(
        F.col("pid").alias("cid"),
        F.transform("v", lambda x: F.round(x, 6)).alias("cv"),
    )
    # ONE assignment artifact feeds the gate, the pair join (both
    # sides) and the sampling window — materialize it once.
    assigned = barrier(similarity._nearest_centroid(pts, cent, keep_dist=True))
    cut = assigned.agg(F.round(F.percentile("d2", F.lit(0.95)), 6).alias("p95"))
    inl = (
        assigned.crossJoin(F.broadcast(cut))
        .filter(F.col("d2") <= F.col("p95"))
        .select("pid", "label", "cid", "v")
        .transform(barrier)
    )
    unit = inl.filter(similarity.dot(F.col("v"), F.col("v")) > 0).select(
        "pid",
        "cid",
        F.transform(
            "v", lambda x: x / F.sqrt(similarity.dot(F.col("v"), F.col("v")))
        ).alias("uv"),
    )
    # within-cell drop scan via the per-cell GEMM kernel (r08): the
    # interpreted self-join evaluated Σ|cell|²/2 `aggregate` dots and
    # tripped the 600s budget at the ×100 fixture; the kernel emits
    # unique dropped ids, so the distinct shuffle is gone too
    dropped = similarity.grouped_gemm_dropped_ids(
        unit, threshold=0.35, group_col="cid", id_col="pid", vec_col="uv"
    )
    surv = inl.join(dropped, "pid", "left_anti")
    rk = F.row_number().over(
        Window.partitionBy("cid").orderBy(
            F.md5(F.col("pid").cast("string").cast("binary")), "pid"
        )
    )
    return (
        surv.withColumn("rk", rk)
        .filter(F.col("rk") <= 16)
        .select(F.col("pid").alias("vec_id"), "label", "cid")
        .orderBy("vec_id")
    )


@_register(
    "incremental_embedding_dedup",
    """
    WITH pts AS (
        SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    c0 AS (
        SELECT pid AS cid, list_transform(v, x -> round(x, 6)) AS cv
        FROM pts WHERE pid < 10 AND pid % 5 <> 0
    ),
    s AS (
        SELECT p.pid, c.cid, p.v,
               list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.cv)
                 + list_dot_product(c.cv, c.cv) AS d2
        FROM pts p, c0 c
    ),
    a AS (
        SELECT pid, cid, v FROM (
            SELECT pid, cid, v,
                   row_number() OVER (PARTITION BY pid ORDER BY d2, cid) AS rn
            FROM s) WHERE rn = 1
    ),
    u AS (
        SELECT pid, cid,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS uv
        FROM a WHERE list_dot_product(v, v) > 0
    ),
    newu AS (SELECT * FROM u WHERE pid % 5 = 0),
    oldu AS (SELECT * FROM u WHERE pid % 5 <> 0),
    dropped AS (
        SELECT DISTINCT n.pid
        FROM newu n JOIN oldu o ON n.cid = o.cid
        WHERE list_dot_product(n.uv, o.uv) >= 0.35
        UNION
        SELECT DISTINCT n.pid
        FROM newu n JOIN newu m ON n.cid = m.cid AND m.pid < n.pid
        WHERE list_dot_product(n.uv, m.uv) >= 0.35
    )
    SELECT a.pid AS vec_id, a.cid,
           CASE WHEN d.pid IS NOT NULL THEN 'near_dup' ELSE 'kept' END
               AS status
    FROM a LEFT JOIN dropped d ON a.pid = d.pid
    WHERE a.pid % 5 = 0
    ORDER BY vec_id
    """,
    "INCREMENTAL semantic dedup — the embedding twin of "
    "incremental_corpus_dedup: a new vector batch (vec_id %% 5 = 0) "
    "is deduped against the EXISTING corpus without ever re-comparing "
    "the corpus to itself. The persisted state is the cell-assignment "
    "artifact (quantizer = first 8 OLD vectors — the trained coarse "
    "index a production system loads, not retrains): new vectors "
    "assign map-side, then cosine pairs run (new x old) and (new x "
    "smaller-id new) WITHIN cells only — never (old x old). Per-batch "
    "cost is O(batch x cell-occupancy); a daily embedding drop lands "
    "against yesterday's index at probe cost. Verdicts: near_dup "
    "(old or smaller-id batch neighbor >= 0.35) / kept",
)
def incremental_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    pts = emb.select(
        F.col("vec_id").alias("pid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cent = (
        pts.filter((F.col("pid") < 10) & (F.col("pid") % 5 != 0))
        .select(
            F.col("pid").alias("cid"),
            F.transform("v", lambda x: F.round(x, 6)).alias("cv"),
        )
    )
    # the persisted assignment artifact: old rows come from state, new
    # rows assign map-side against the broadcast quantizer — one
    # materialization feeds the probe joins and the verdict join.
    assigned = similarity._nearest_centroid(pts, cent).transform(barrier)
    unit = assigned.filter(similarity.dot(F.col("v"), F.col("v")) > 0).select(
        "pid",
        "cid",
        F.transform(
            "v", lambda x: x / F.sqrt(similarity.dot(F.col("v"), F.col("v")))
        ).alias("uv"),
    )
    # Both verdict scans (new-vs-old: ANY old neighbor drops; new-vs-
    # new: only a LOWER-pid neighbor drops) are ONE min-id drop rule
    # once old rows sort below every new row: map old pids to
    # themselves and new pids to pid + OFFSET, and semdedup's grouped
    # GEMM kernel computes exactly vs_old ∪ vs_new. The interpreted
    # two-join form evaluated Σ|cell|² higher-order `aggregate` dots —
    # fine at sf0.01, but at the ×100 fixture (8 cells × 25k members)
    # it blew a 900 s budget the moment the r10 value-hash invariant
    # stopped count() from pruning the dot products (the r08 semdedup
    # lesson, §13d item 4, resurfacing here the same way).
    # Derive the new-row sid offset from the corpus itself (r10
    # ADVICE, proven necessary the same round it landed: the old
    # fixed 1e9 offset actually COLLIDED at the ×100 fixture, whose
    # vec_ids reach ~9.9e9 — old and new identities mixed, the
    # old-sorts-below-new precondition of the min-id drop rule broke,
    # and the r11 execution-time assert caught it where three rounds
    # of ×100 "pass" had not). One single-column agg on the raw
    # id column — a stats-level scan, before any heavy stage.
    _OFF = int(
        emb.agg(F.max("vec_id")).collect()[0][0] or 0
    ) + 1
    # the remap is only collision-free (and only keeps old-sorts-
    # below-new) while every pid < _OFF — keep the execution-time
    # tripwire (folded into the sid expression: one comparison per
    # row, no extra pass, unprunable) in case the table changes
    # between the offset scan and this one
    _pid_ok = F.assert_true(
        F.col("pid") < F.lit(_OFF),
        F.concat(
            F.lit(f"pid >= {_OFF} would collide with the new-row "),
            F.lit("sid offset: pid="),
            F.col("pid").cast("string"),
        ),
    )
    scan = unit.select(
        "cid",
        F.when(
            _pid_ok.isNull() & (F.col("pid") % 5 == 0),
            F.col("pid") + F.lit(_OFF),
        )
        .otherwise(F.col("pid"))
        .alias("sid"),
        "uv",
    )
    dropped = (
        similarity.grouped_gemm_dropped_ids(
            scan, 0.35, group_col="cid", id_col="sid", vec_col="uv"
        )
        .filter(F.col("sid") >= _OFF)
        .select((F.col("sid") - _OFF).alias("pid"))
        .distinct()
    )
    return (
        assigned.filter(F.col("pid") % 5 == 0)
        .join(dropped.withColumn("__d", F.lit(1)), "pid", "left")
        .select(
            F.col("pid").alias("vec_id"),
            "cid",
            F.when(F.col("__d").isNotNull(), "near_dup")
            .otherwise("kept")
            .alias("status"),
        )
        .orderBy("vec_id")
    )


@_register(
    "hybrid_retrieval_rrf",
    r"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 3
    ),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    dsc AS (
        SELECT query_id, vec_id AS doc_id,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY list_dot_product(qv, cv)
                            / (sqrt(list_dot_product(qv, qv))
                               * sqrt(list_dot_product(cv, cv))) DESC,
                            vec_id) AS INT) AS rank_dense
        FROM q JOIN c ON vec_id <> query_id
    ),
    dense AS (SELECT * FROM dsc WHERE rank_dense <= 20),
    qt AS (
        SELECT doc_id AS query_id,
               unnest(list_distinct(list_transform(
                   regexp_split_to_array(trim(text), '\s+'),
                   t -> lower(t)))) AS term
        FROM documents WHERE doc_id < 3
    ),
    ct AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   regexp_split_to_array(trim(text), '\s+'),
                   t -> lower(t)))) AS term
        FROM documents
    ),
    lexs AS (
        SELECT qt.query_id, ct.doc_id, count(*) AS shared_terms
        FROM qt JOIN ct USING (term)
        WHERE ct.doc_id <> qt.query_id
        GROUP BY qt.query_id, ct.doc_id
    ),
    lexr AS (
        SELECT query_id, doc_id,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY shared_terms DESC, doc_id) AS INT) AS rank_lex
        FROM lexs
    ),
    lex AS (SELECT * FROM lexr WHERE rank_lex <= 20),
    fused AS (
        SELECT coalesce(d.query_id, l.query_id) AS query_id,
               coalesce(d.doc_id, l.doc_id) AS doc_id,
               round(coalesce(1.0 / (60 + d.rank_dense), 0)
                     + coalesce(1.0 / (60 + l.rank_lex), 0), 6) AS rrf_score,
               d.rank_dense, l.rank_lex
        FROM dense d FULL JOIN lex l
          ON d.query_id = l.query_id AND d.doc_id = l.doc_id
    ),
    ranked AS (
        SELECT query_id,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY rrf_score DESC, doc_id) AS INT) AS rank,
               doc_id, rrf_score, rank_dense, rank_lex
        FROM fused
    )
    SELECT * FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
    """,
    "hybrid retrieval with reciprocal-rank fusion (RRF, k=60): the "
    "dense cosine top-20 (`semantic_doc_retrieval`'s side) and a "
    "lexical distinct-shared-term top-20 (`bm25_doc_retrieval`'s "
    "side) fused as sum(1/(60+rank)) — rank-only fusion needs no "
    "score calibration between the two retrievers, which is why RRF "
    "is the default hybrid in production search. Scale shape: each "
    "retriever's candidate list is |Q| x 20 rows, so the full-outer "
    "fusion join and the final re-rank window cost nothing; the "
    "dense side swaps to the IVF/LSH ANN variants and the lexical "
    "side to BM25 without touching the fusion stage. Query terms "
    "broadcast onto the candidate term stream (no corpus shuffle on "
    "the lexical side); rank integers fuse to exact doubles, so the "
    "fused order is engine-deterministic with the doc_id tie-break",
)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    dense = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=20
    ).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("rank").cast("int").alias("rank_dense"),
    )
    toks = F.array_distinct(F.transform(text.tokens("text"), F.lower))
    qt = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.explode(toks).alias("term")
    )
    ct = spread(docs, "doc_id").select("doc_id", F.explode(toks).alias("term"))
    lexs = (
        ct.join(F.broadcast(qt), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("shared_terms"))
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.col("shared_terms").desc(), "doc_id"
    )
    lex = (
        lexs.withColumn("rank_lex", F.row_number().over(wl).cast("int"))
        .filter(F.col("rank_lex") <= 20)
        .drop("shared_terms")
    )
    fused = dense.join(lex, ["query_id", "doc_id"], "full").select(
        "query_id",
        "doc_id",
        F.round(
            F.coalesce(1.0 / (60 + F.col("rank_dense")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("rank_lex")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
        "rank_dense",
        "rank_lex",
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), "doc_id"
    )
    return (
        fused.withColumn("rank", F.row_number().over(wq).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "doc_id", "rrf_score", "rank_dense", "rank_lex")
        .orderBy("query_id", "rank")
    )


@_register(
    "eval_embedding_leakage",
    """
    WITH q AS (
        SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings WHERE vec_id % 50 <> 0
    ),
    s AS (
        SELECT eval_id, vec_id,
               list_dot_product(qv, cv)
                 / (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(cv, cv))) AS sim
        FROM q JOIN c ON vec_id <> eval_id
    ),
    r AS (
        SELECT eval_id, vec_id, sim,
               row_number() OVER (PARTITION BY eval_id
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM s
    )
    SELECT eval_id, vec_id AS nearest_corpus_id,
           round(sim, 6) AS cosine_sim,
           sim >= 0.9 AS is_leak
    FROM r WHERE rn = 1
    ORDER BY eval_id
    """,
    "EMBEDDING-SPACE eval decontamination: for every held-out eval "
    "vector (deterministic vec_id%50 sample), the nearest corpus "
    "vector by cosine and a leak verdict at 0.9 — the SEMANTIC twin "
    "of decontaminate_eval_overlap's n-gram check, catching "
    "paraphrased/reformatted eval contamination that exact shingles "
    "miss (the Phi/GPT-4 decontamination protocol). Scale: k=1 over a "
    "probe subset IS nearest-neighbor, so this rides the broadcast-"
    "GEMM NN kernel with the corpus as the broadcast matrix and the "
    "eval sample as the distributed probe side (r08 — the interpreted "
    "broadcast-NLJ form evaluated |Q|x|C| 64-dim cosines and tripped "
    "the 600s budget at x100; the kernel runs it BLAS-bound). At "
    "corpus scale past the broadcast bound swap the corpus side for "
    "the IVF/LSH-bucketed probe (sim_ivf_topk / sim_lsh_ann_topk) — "
    "same output contract, which is why the exact form here is the "
    "auditable baseline",
)
def eval_embedding_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    v = F.transform("embedding", lambda x: x.cast("double"))
    unit = (
        emb.select("vec_id", v.alias("__v"))
        .select(
            "vec_id",
            F.transform(
                "__v",
                lambda x: x / F.sqrt(similarity.dot(F.col("__v"), F.col("__v"))),
            ).alias("uv"),
        )
        .transform(barrier)
    )
    corpus = unit.filter(F.col("vec_id") % 50 != 0)
    queries = unit.filter(F.col("vec_id") % 50 == 0)
    nearest = similarity.gemm_nearest_neighbor(
        corpus, vec_col="uv", probe=queries
    )
    return nearest.select(
        F.col("query_id").alias("eval_id"),
        F.col("vec_id").alias("nearest_corpus_id"),
        F.round("cosine_sim", 6).alias("cosine_sim"),
        (F.col("cosine_sim") >= 0.9).alias("is_leak"),
    ).orderBy("eval_id")


@_register(
    "mutual_nearest_embeddings",
    """
    WITH v AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> x / sqrt(list_dot_product(
                                        CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[])))) AS nv
        FROM embeddings
    ),
    half AS (
        SELECT a.vec_id AS qa, b.vec_id AS qb,
               list_dot_product(a.nv, b.nv) AS sim
        FROM v a JOIN v b ON a.vec_id < b.vec_id
    ),
    s AS (
        SELECT qa, qb, sim FROM half
        UNION ALL
        SELECT qb AS qa, qa AS qb, sim FROM half
    ),
    nn AS (
        SELECT qa, qb, sim,
               row_number() OVER (PARTITION BY qa
                                  ORDER BY sim DESC, qb) AS rn
        FROM s
    ),
    best AS (SELECT qa, qb, sim FROM nn WHERE rn = 1)
    SELECT x.qa AS vec_a, x.qb AS vec_b, round(x.sim, 6) AS cosine_sim
    FROM best x JOIN best y
      ON x.qb = y.qa AND y.qb = x.qa AND x.qa < x.qb
    ORDER BY vec_a
    """,
    "MUTUAL NEAREST NEIGHBORS over the embedding space: pairs where "
    "each vector is the other's single nearest neighbor — the "
    "high-precision alignment primitive (bitext mining / dataset "
    "pairing a la CCMatrix, and the pair pool contrastive training "
    "mines first): a one-sided NN can be a hub artifact, a MUTUAL one "
    "rarely is. The exact NN table comes from the broadcast-GEMM "
    "kernel (similarity.gemm_nearest_neighbor): n output rows, no "
    "n^2/2-row materialized pair table, argmax over id-ascending "
    "columns = the SQL (sim DESC, id) tie-break; the reciprocity "
    "self-join over the corpus-grain NN table is cheap. The exact NN "
    "scan is the auditable baseline whose production swap is the "
    "IVF/LSH-bucketed probe (same output contract, documented in the "
    "similarity family)",
)
def mutual_nearest_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # pre-normalize ONCE per vector (map-side); the GEMM kernel then
    # computes each similarity once per direction in a vectorized
    # B @ M^T instead of per-pair interpreted folds
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(
            F.zip_with(e, e, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
    )
    v = emb.select(
        "vec_id", F.transform(e, lambda x: x / norm).alias("nv")
    ).transform(barrier)
    # LAZY, kept after an interleaved eager-vs-lazy A/B at the ×100
    # fixture (r12): eager 287/311s vs lazy 236/259s — unlike the r11
    # prefix-table case, the x/y reciprocity self-join's sibling map
    # stages do NOT duplicate the GEMM here (both sides scan the SAME
    # checkpoint RDD and the block manager's getOrElseUpdate computes
    # each block once, the second requester blocking on the cached
    # block), so the eager barrier only adds a serialized
    # materialization job in front of the join.
    best = similarity.gemm_nearest_neighbor(v, vec_col="nv").transform(barrier)
    x, y = best.alias("x"), best.alias("y")
    return (
        x.join(
            y,
            (F.col("x.vec_id") == F.col("y.query_id"))
            & (F.col("y.vec_id") == F.col("x.query_id"))
            & (F.col("x.query_id") < F.col("x.vec_id")),
        )
        .select(
            F.col("x.query_id").alias("vec_a"),
            F.col("x.vec_id").alias("vec_b"),
            F.round(F.col("x.cosine_sim"), 6).alias("cosine_sim"),
        )
        .orderBy("vec_a")
    )


@_register(
    "embedding_pca_top_component",
    """
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    expl AS (
        SELECT vec_id, u.i AS i, u.x AS x
        FROM (SELECT vec_id,
                     unnest(list_transform(range(1, len(e) + 1),
                            i -> struct_pack(i := i, x := e[i]))) AS u
              FROM v)
    ),
    n AS (SELECT count(*) AS n FROM v),
    mu AS (SELECT i, sum(x) / (SELECT n FROM n) AS m FROM expl GROUP BY i),
    gram AS (
        SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS s
        FROM expl a JOIN expl b ON a.vec_id = b.vec_id
        GROUP BY a.i, b.i
    ),
    cov AS (
        SELECT g.i, g.j,
               round(g.s / n.n - ma.m * mb.m, 6) AS c
        FROM gram g
        JOIN mu ma ON g.i = ma.i
        JOIN mu mb ON g.j = mb.i
        CROSS JOIN n
    ),
    v0 AS (SELECT i, 1.0 AS val FROM mu),
    r1 AS (SELECT c.i, sum(c.c * v0.val) AS val
           FROM cov c JOIN v0 ON c.j = v0.i GROUP BY c.i),
    p1 AS (SELECT val AS pv FROM r1 ORDER BY abs(val) DESC, i LIMIT 1),
    n1 AS (SELECT i, round(val / (SELECT pv FROM p1), 8) AS val FROM r1),
    r2 AS (SELECT c.i, sum(c.c * n1.val) AS val
           FROM cov c JOIN n1 ON c.j = n1.i GROUP BY c.i),
    p2 AS (SELECT val AS pv FROM r2 ORDER BY abs(val) DESC, i LIMIT 1),
    n2 AS (SELECT i, round(val / (SELECT pv FROM p2), 8) AS val FROM r2),
    r3 AS (SELECT c.i, sum(c.c * n2.val) AS val
           FROM cov c JOIN n2 ON c.j = n2.i GROUP BY c.i),
    p3 AS (SELECT val AS pv FROM r3 ORDER BY abs(val) DESC, i LIMIT 1),
    n3 AS (SELECT i, round(val / (SELECT pv FROM p3), 8) AS val FROM r3)
    SELECT CAST(i AS INT) AS dim, val + 0.0 AS loading
    FROM n3 ORDER BY dim
    """,
    "PCA TOP COMPONENT at corpus scale — covariance from ONE pass "
    "(per-row outer products partial-aggregate map-side into dim^2 = "
    "4096 cells, the RowMatrix Gram trick), then THREE unrolled power-"
    "iteration matvecs on the dims-grain covariance table (each a "
    "broadcast join on the dim key + a 64-row rollup). Per-round "
    "pivot normalization (divide by the signed largest-|.| element, "
    "ties to lowest dim) canonicalizes scale AND sign, and per-round "
    "8dp rounding keeps the iteration engine-portable — the same "
    "determinism recipe as nation_trade_pagerank. The principal "
    "direction feeds whitening/compression/drift monitoring "
    "(embedding_dimension_whitening's big sibling); the corpus-scale "
    "cost is ONE scan — everything after the 4096-cell covariance is "
    "dimension-grain, executor-count independent",
)
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    expl = emb.select(
        "vec_id",
        F.posexplode(e).alias("i0", "x"),
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "x")
    # per-row outer products, partial-aggregated map-side into 4096
    # cells; consumed with the means and the count below
    pairs = emb.select(
        F.explode(
            F.expr(
                "flatten(transform(transform(embedding, c -> CAST(c AS DOUBLE)), "
                "(xi, i) -> transform(transform(embedding, c -> CAST(c AS DOUBLE)), "
                "(xj, j) -> struct(i + 1 AS i, j + 1 AS j, xi * xj AS p))))"
            )
        ).alias("u")
    ).select("u.i", "u.j", "u.p")
    gram = pairs.groupBy("i", "j").agg(F.sum("p").alias("s"))
    n = emb.agg(F.count("*").alias("n"))
    mu = (
        expl.groupBy("i")
        .agg(F.sum("x").alias("sx"))
        .crossJoin(F.broadcast(n))
        .select("i", (F.col("sx") / F.col("n")).alias("m"))
        .transform(barrier)
    )
    ma = mu.select(F.col("i").alias("mi"), F.col("m").alias("m_i"))
    mb = mu.select(F.col("i").alias("mj"), F.col("m").alias("m_j"))
    cov = (
        gram.join(F.broadcast(ma), gram.i == ma.mi)
        .join(F.broadcast(mb), gram.j == mb.mj)
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            F.round(
                F.col("s") / F.col("n") - F.col("m_i") * F.col("m_j"), 6
            ).alias("c"),
        )
        .transform(barrier)
    )
    vec = mu.select("i", F.lit(1.0).alias("val"))

    def matvec_normalize(v: DataFrame) -> DataFrame:
        vv = v.select(F.col("i").alias("j"), F.col("val").alias("vj"))
        r = (
            cov.join(F.broadcast(vv), "j")
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("vj")).alias("val"))
        )
        pivot = r.orderBy(F.abs(F.col("val")).desc(), "i").limit(1).select(
            F.col("val").alias("pivot")
        )
        return (
            r.crossJoin(F.broadcast(pivot))
            .select("i", F.round(F.col("val") / F.col("pivot"), 8).alias("val"))
            .transform(barrier)
        )

    for _ in range(3):
        vec = matvec_normalize(vec)
    return vec.select(
        F.col("i").cast("int").alias("dim"),
        (F.col("val") + F.lit(0.0)).alias("loading"),
    ).orderBy("dim")


@_register(
    "ann_label_mrr",
    """
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, label AS qlabel, e AS qv FROM v
          WHERE vec_id < 20),
    s AS (
        SELECT q.qid, q.qlabel, v.vec_id, v.label,
               list_dot_product(q.qv, v.e)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(v.e, v.e))) AS sim
        FROM q JOIN v ON v.vec_id <> q.qid
    ),
    ranked AS (
        SELECT qid, qlabel, label, sim,
               CAST(row_number() OVER (PARTITION BY qid
                                       ORDER BY sim DESC, vec_id) AS INT)
                   AS rnk
        FROM s
    ),
    top10 AS (SELECT * FROM ranked WHERE rnk <= 10),
    per_query AS (
        SELECT qid,
               min(CASE WHEN label = qlabel THEN rnk END) AS first_rel,
               sum(CAST(label = qlabel AS INT)) AS rel_in_10
        FROM top10 GROUP BY qid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(CASE WHEN first_rel IS NULL THEN 0.0
                          ELSE 1.0 / first_rel END), 4) AS mrr_at_10,
           round(avg(rel_in_10 / 10.0), 4) AS precision_at_10,
           CAST(sum(CAST(first_rel IS NOT NULL AS INT)) AS BIGINT)
               AS queries_with_hit
    FROM per_query
    """,
    "RETRIEVAL QUALITY EVALUATION — MRR@10 and Precision@10 of the "
    "exact cosine retriever with LABEL MATCH as relevance (the "
    "standard ANN-benchmark protocol: a neighbor is relevant iff it "
    "shares the query's class): the IR-metric layer that turns the "
    "similarity family's recall audits (ivf_multiprobe_recall / "
    "lsh_banding_recall measure index faithfulness) into an "
    "END-TO-END usefulness number — an index can be 100%% faithful "
    "to embeddings that rank the wrong things. 20 deterministic "
    "query vectors broadcast; per-query metrics fold over the rank-"
    "<=10 rows; the corpus scans once. Swap the exact scan for any "
    "ANN variant and re-run to get ITS MRR — the same contract",
)
def ann_label_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    top = similarity.brute_force_topk(emb, queries, k=10).filter(F.col("rank") <= 10)
    qlabels = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    clabels = emb.select(F.col("vec_id"), F.col("label"))
    labeled = top.join(F.broadcast(qlabels), "query_id").join(
        F.broadcast(clabels), "vec_id"
    )
    per_query = labeled.groupBy("query_id").agg(
        F.min(
            F.when(F.col("label") == F.col("qlabel"), F.col("rank"))
        ).alias("first_rel"),
        F.sum((F.col("label") == F.col("qlabel")).cast("int")).alias("rel_in_10"),
    )
    return per_query.agg(
        F.count("*").alias("n_queries"),
        F.round(
            F.avg(
                F.when(F.col("first_rel").isNull(), 0.0).otherwise(
                    1.0 / F.col("first_rel")
                )
            ),
            4,
        ).alias("mrr_at_10"),
        F.round(F.avg(F.col("rel_in_10") / 10.0), 4).alias("precision_at_10"),
        F.sum(F.col("first_rel").isNotNull().cast("int")).alias("queries_with_hit"),
    )


# --- IVF mutual-NN family: shared SQL template ------------------------
# The quantizer CTEs (deterministic first-8 centroids, cosine cell
# assignment) and the per-probes mutual-pair chain are shared between
# mutual_nearest_ivf's oracle and mutual_nn_ivf_recall's, so the two
# can never drift. ``pa{tag}`` keeps each point's ``probes`` nearest
# cells (rn <= probes — the same descent rule as
# semdedup_two_level_survivors' multiprobe); the candidate side pins
# rn = 1 (home cell), so a (query, candidate) pair meets at most once.
_IVF_SQL_HEADER = """
    WITH c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent AS (SELECT vec_id AS cid, v AS cv FROM c WHERE vec_id < 8),
    csims AS (
        SELECT c.vec_id, cent.cid,
               list_dot_product(c.v, cent.cv)
                 / (sqrt(list_dot_product(c.v, c.v))
                    * sqrt(list_dot_product(cent.cv, cent.cv))) AS csim
        FROM c, cent
    ),
    u AS (
        SELECT vec_id,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
        FROM c
    )"""


def _ivf_mutual_sql(probes: int, tag: str = "") -> str:
    """CTE chain (suffixed ``tag``) yielding ``ivf{tag}(vec_a, vec_b,
    sim)`` — the mutual-NN pairs under ``probes``-cell multiprobe.
    Assumes _IVF_SQL_HEADER's c/cent/csims/u are in scope."""
    return f"""
    pa{tag} AS (
        SELECT vec_id, cid, rn FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY csim DESC, cid) AS rn
            FROM csims
        ) WHERE rn <= {probes}
    ),
    s{tag} AS (
        SELECT x.vec_id AS qa, y.vec_id AS qb,
               list_dot_product(xu.nv, yu.nv) AS sim
        FROM pa{tag} x
        JOIN pa{tag} y ON x.cid = y.cid AND y.rn = 1
                      AND x.vec_id <> y.vec_id
        JOIN u xu ON x.vec_id = xu.vec_id
        JOIN u yu ON y.vec_id = yu.vec_id
    ),
    nn{tag} AS (
        SELECT qa, qb, sim FROM (
            SELECT qa, qb, sim,
                   row_number() OVER (PARTITION BY qa
                                      ORDER BY sim DESC, qb) AS rn
            FROM s{tag}
        ) WHERE rn = 1
    ),
    ivf{tag} AS (
        SELECT x.qa AS vec_a, x.qb AS vec_b, x.sim
        FROM nn{tag} x JOIN nn{tag} y
             ON x.qb = y.qa AND y.qb = x.qa AND x.qa < x.qb
    )"""


def _ivf_ranked_memberships(
    spark: SparkSession, sf_dir: str, probes: int
) -> DataFrame:
    """The quantizer stage of ``_ivf_mutual_pairs``: (cid, vec_id, nv,
    rn) — each point's ``probes`` nearest cells by cosine, rn = 1 the
    home cell. One LAZY barrier: every downstream consumer — the
    cogroup's query and candidate children when probes > 1, and the
    p=1 / p=3 curve points of ``mutual_nn_ivf_recall`` (which derive
    narrower memberships by rank filter) — scans the SAME checkpoint
    RDD, and concurrent sibling stages compute each block once (block
    manager dedup; the r12 ×100 A/B on the sibling-consumer GEMM frame
    measured eager strictly slower). What the shared frame removes is
    the real duplication: SEPARATE pipelines per curve point built the
    quantizer twice — nothing dedups across distinct RDDs."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    c = emb.select("vec_id", F.col("embedding").alias("v"))
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    csims = c.join(F.broadcast(cent)).withColumn(
        "csim", similarity.cosine(F.col("v"), F.col("cv"))
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("cid")
    )
    e = F.transform(F.col("v"), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(
            F.zip_with(e, e, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
    )
    return (
        csims.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= probes)
        .select(
            "cid", "vec_id", F.transform(e, lambda x: x / norm).alias("nv"), "rn"
        )
        .transform(barrier)
    )


def _ivf_mutual_pairs(
    spark: SparkSession,
    sf_dir: str,
    probes: int,
    ranked: DataFrame | None = None,
) -> DataFrame:
    """Spark side of the template above: IVF coarse quantizer
    (first-8 deterministic centroids, cosine assignment), each point's
    ``probes`` nearest cells as the probe membership, home cell
    (rn = 1) as the candidate membership, per-cell distributed GEMM
    (similarity.grouped_gemm_nearest_neighbor — cogrouped Q @ Cᵀ when
    probes > 1) and the mutual filter. Returns (vec_a, vec_b, sim)
    with sim unrounded.

    ``ranked`` (optional) supplies a pre-built membership frame from
    ``_ivf_ranked_memberships`` with AT LEAST ``probes`` ranks — the
    recall curve builds it once at the widest probe count and derives
    the narrower points by rank filter, so the quantizer pass runs
    once per query instead of once per curve point (identical rows:
    rn <= probes over a superset frame is the same selection)."""
    if ranked is None:
        ranked = _ivf_ranked_memberships(spark, sf_dir, probes)
    else:
        ranked = ranked.filter(F.col("rn") <= probes)
    home = ranked.filter(F.col("rn") == 1).select("cid", "vec_id", "nv")
    probe = ranked.select("cid", "vec_id", "nv") if probes > 1 else None
    # lazy: the x/y mutual-filter self-join's sibling stages scan the
    # same checkpoint RDD, so each per-cell GEMM block computes once
    # (block-manager dedup — the r12 ×100 A/B measured eager strictly
    # slower on exactly this shape).
    nn = similarity.grouped_gemm_nearest_neighbor(
        home, group_col="cid", vec_col="nv", queries=probe
    ).transform(barrier)
    x = nn.select(
        F.col("query_id").alias("qa"), F.col("vec_id").alias("qb"),
        F.col("cosine_sim").alias("sim"),
    )
    y = nn.select(F.col("query_id").alias("ya"), F.col("vec_id").alias("yb"))
    return x.join(
        y,
        (F.col("qb") == F.col("ya"))
        & (F.col("yb") == F.col("qa"))
        & (F.col("qa") < F.col("qb")),
    ).select(
        F.col("qa").alias("vec_a"), F.col("qb").alias("vec_b"), F.col("sim")
    )


@_register(
    "mutual_nearest_ivf",
    _IVF_SQL_HEADER + "," + _ivf_mutual_sql(3) + """
    SELECT vec_a, vec_b, round(sim, 6) AS cosine_sim
    FROM ivf
    ORDER BY vec_a
    """,
    "MUTUAL NEAREST NEIGHBORS, the PRODUCTION-SHAPED swap the exact "
    "form documents: IVF coarse quantizer (deterministic first-C "
    "centroids, cosine cell assignment — sim_ivf_topk's quantizer) "
    "restricts each vector's NN search to its probes=3 nearest cells "
    "— own cell plus two runner-up pivot groups, the rn <= probes "
    "descent §12d proved on the semdedup twin of this quantizer — and "
    "the within-cell exact NN is ONE GEMM PER (probe, cell) "
    "(similarity.grouped_gemm_nearest_neighbor: cogrouped "
    "applyInPandas keyed on the cell id — fully distributed, no "
    "driver collect, no broadcast; cost probes·Σ|cell|²·d, the §12d "
    "cell-balance quantity) followed by a min_by reduce per query. "
    "The recall recovered by multiprobe vs single-probe is measured "
    "by mutual_nn_ivf_recall (p=1/p=3 curve). At 100 TB the same "
    "plan holds with k-means-trained centroids (lloyd_iterations) and "
    "k ∝ √n cells; first-C fixed centroids keep the DuckDB oracle "
    "exact",
)
def mutual_nearest_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _ivf_mutual_pairs(spark, sf_dir, probes=3)
        .select("vec_a", "vec_b", F.round("sim", 6).alias("cosine_sim"))
        .orderBy("vec_a")
    )


@_register(
    "mutual_nn_ivf_recall",
    _IVF_SQL_HEADER + """,
    es AS (
        SELECT a.vec_id AS qa, b.vec_id AS qb,
               list_dot_product(a.nv, b.nv) AS sim
        FROM u a JOIN u b ON a.vec_id <> b.vec_id
    ),
    enn AS (
        SELECT qa, qb FROM (
            SELECT qa, qb,
                   row_number() OVER (PARTITION BY qa
                                      ORDER BY sim DESC, qb) AS rn
            FROM es
        ) WHERE rn = 1
    ),
    exact AS (
        SELECT x.qa AS vec_a, x.qb AS vec_b
        FROM enn x JOIN enn y ON x.qb = y.qa AND y.qb = x.qa AND x.qa < x.qb
    ),""" + _ivf_mutual_sql(1, "1") + "," + _ivf_mutual_sql(3, "3") + """
    SELECT 1 AS probes,
           (SELECT count(*) FROM exact) AS n_exact_pairs,
           (SELECT count(*) FROM ivf1) AS n_ivf_pairs,
           (SELECT count(*) FROM exact JOIN ivf1 USING (vec_a, vec_b))
               AS n_captured,
           round((SELECT count(*) FROM exact JOIN ivf1 USING (vec_a, vec_b))
                 * 1.0 / nullif((SELECT count(*) FROM exact), 0), 4) + 0.0
               AS recall,
           round((SELECT count(*) FROM exact JOIN ivf1 USING (vec_a, vec_b))
                 * 1.0 / nullif((SELECT count(*) FROM ivf1), 0), 4) + 0.0
               AS precision_
    UNION ALL
    SELECT 3 AS probes,
           (SELECT count(*) FROM exact),
           (SELECT count(*) FROM ivf3),
           (SELECT count(*) FROM exact JOIN ivf3 USING (vec_a, vec_b)),
           round((SELECT count(*) FROM exact JOIN ivf3 USING (vec_a, vec_b))
                 * 1.0 / nullif((SELECT count(*) FROM exact), 0), 4) + 0.0,
           round((SELECT count(*) FROM exact JOIN ivf3 USING (vec_a, vec_b))
                 * 1.0 / nullif((SELECT count(*) FROM ivf3), 0), 4) + 0.0
    ORDER BY probes
    """,
    "ANN QUALITY AUDIT for the mutual-NN swap, now a CURVE: exact "
    "mutual pairs (broadcast-GEMM kernel) vs IVF-cell mutual pairs at "
    "probes=1 (pure cell restriction) AND probes=3 (the production "
    "knob mutual_nearest_ivf ships with) — pair recall AND precision "
    "per probe setting in one result (a cell-restricted NN can both "
    "miss cross-cell mutual pairs and mint false mutuals when the "
    "true NN lives elsewhere). The companion measurement to "
    "lsh_banding_recall (text near-dup) and ivf_multiprobe_recall "
    "(top-k ANN): the curve that decides how many probes a 100 TB "
    "bitext-mining run needs before committing",
)
def mutual_nn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one barrier, FOUR sibling consumers in the final union
    # (n_exact_pairs and the capture join, per curve point): all scan
    # the same checkpoint RDD, so the reciprocity join + GEMM compute
    # once per action (block-manager dedup; lazy kept per the r12 ×100
    # eager-vs-lazy A/B on this family)
    exact = (
        mutual_nearest_embeddings(spark, sf_dir)
        .select("vec_a", "vec_b")
        .transform(barrier)
    )
    # one quantizer pass feeds both curve points (p=1 is a rank filter
    # of the p=3 membership frame — identical selection)
    ranked3 = _ivf_ranked_memberships(spark, sf_dir, 3)
    rows = []
    for p in (1, 3):
        # barrier: consumed by both the capture join and n_ivf_pairs —
        # sibling subtrees of the one final action share the blocks
        ivf = (
            _ivf_mutual_pairs(spark, sf_dir, p, ranked=ranked3)
            .select("vec_a", "vec_b")
            .transform(barrier)
        )
        cap = exact.join(ivf, ["vec_a", "vec_b"]).agg(
            F.count("*").alias("n_captured")
        )
        tot = exact.agg(F.count("*").alias("n_exact_pairs"))
        itot = ivf.agg(F.count("*").alias("n_ivf_pairs"))
        rows.append(
            tot.crossJoin(itot)
            .crossJoin(cap)
            .select(
                F.lit(p).alias("probes"),
                "n_exact_pairs",
                "n_ivf_pairs",
                "n_captured",
                (
                    F.round(
                        F.col("n_captured")
                        / F.nullif(F.col("n_exact_pairs"), F.lit(0)),
                        4,
                    )
                    + 0.0
                ).alias("recall"),
                (
                    F.round(
                        F.col("n_captured")
                        / F.nullif(F.col("n_ivf_pairs"), F.lit(0)),
                        4,
                    )
                    + 0.0
                ).alias("precision_"),
            )
        )
    return rows[0].unionByName(rows[1]).orderBy("probes")
