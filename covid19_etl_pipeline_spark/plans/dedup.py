"""Document deduplication (exact / MinHash-LSH / SimHash / Jaccard /
winnowing / CDC) and record-linkage / entity-resolution queries.

Registered query family (30 entries); split from the
original monolithic plans/queries.py.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from covid19_etl_pipeline_spark.catalog import load_table
from covid19_etl_pipeline_spark.operators import dedup
from covid19_etl_pipeline_spark.operators import text
from covid19_etl_pipeline_spark.operators.partitioning import barrier, join_side, spread

from covid19_etl_pipeline_spark.plans._registry import _register
from covid19_etl_pipeline_spark.plans.embedding import embedding_neardup_pairs
from covid19_etl_pipeline_spark.plans._shared import (
    _D_BLK_W,
    _D_SHINGLES,
    _FS_WIDEN_SQL,
    adaptive_blk_width,
    fs_widen_parts,
    _d_minhash,
)

@_register(
    "exact_dedup",
    """
    SELECT md5(text) AS fp, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    "exact deduplication via content fingerprint hash-groupBy "
    "(extension: training-data pipeline)",
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dup_groups(docs, "doc_id")


@_register(
    "minhash_signatures",
    "SELECT doc_id, "
    + ", ".join(
        f"{_d_minhash(i, _D_SHINGLES)} AS mh{i}" for i in range(4)
    )
    + " FROM documents",
    "deterministic MinHash signatures over 3-token shingles "
    "(extension: near-dup, md5-based so engine-portable)",
)
def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_signatures(docs, "doc_id", num_hashes=4)


@_register(
    "lsh_candidate_pairs",
    f"""
    WITH sigs AS (
        SELECT doc_id, sh,
               {_d_minhash(0)} AS mh0, {_d_minhash(1)} AS mh1,
               {_d_minhash(2)} AS mh2, {_d_minhash(3)} AS mh3,
               {_d_minhash(4)} AS mh4, {_d_minhash(5)} AS mh5,
               {_d_minhash(6)} AS mh6, {_d_minhash(7)} AS mh7
        FROM (SELECT doc_id, {_D_SHINGLES} AS sh FROM documents)
    ),
    bands AS (
        SELECT doc_id, 0 AS band, concat_ws('|', mh0, mh1) AS sig FROM sigs
        UNION ALL SELECT doc_id, 1, concat_ws('|', mh2, mh3) FROM sigs
        UNION ALL SELECT doc_id, 2, concat_ws('|', mh4, mh5) FROM sigs
        UNION ALL SELECT doc_id, 3, concat_ws('|', mh6, mh7) FROM sigs
    ),
    filt AS (SELECT * FROM bands WHERE sig IS NOT NULL AND sig <> '')
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
    FROM filt a JOIN filt b ON a.band = b.band AND a.sig = b.sig
                            AND a.doc_id < b.doc_id
    """,
    "MinHash-LSH banding: candidate near-dup pairs via band-signature "
    "equi-join (extension: the 100 TB near-dup path — no O(n²) scan)",
)
def lsh_candidate_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.lsh_candidate_pairs(docs, "doc_id", num_hashes=8, bands=4)


@_register(
    "ngram_jaccard_pairs",
    f"""
    WITH s AS (
        SELECT doc_id, source,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, {_D_BLK_W}) AS blk,
               list_distinct({_D_SHINGLES}) AS sh
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CASE WHEN len(list_distinct(list_cat(a.sh, b.sh))) > 0
                    THEN len(list_intersect(a.sh, b.sh)) * 1.0
                         / len(list_distinct(list_cat(a.sh, b.sh)))
               END AS jaccard
        FROM s a JOIN s b
          ON a.source = b.source AND a.blk = b.blk AND a.doc_id < b.doc_id
    )
    SELECT * FROM pairs WHERE jaccard IS NOT NULL AND jaccard >= 0.0
    """,
    "exact n-gram Jaccard similarity on blocked pairs (near-dup "
    "verification stage). Blocking key = (source, ADAPTIVE md5 "
    "sub-block): all-pairs-within-source is O(n^2/sources) and "
    "detonates at scale — the sub-block count now GROWS with the "
    "corpus (16-way to 20k docs, 256-way to 320k, 4096-way beyond; "
    "identical rule in the oracle via a count(*) scalar subquery), so "
    "per-block pair cost stays bounded instead of quadrupling per "
    "corpus doubling. This is the knob a 100 TB run turns (in "
    "production the candidate set comes from LSH banding instead: "
    "`lsh_candidate_pairs`, and the composed form in "
    "`training_corpus`). Content-free md5 keeps the blocking "
    "reproducible across engines and repartitioning",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    blk_w = adaptive_blk_width(docs.count())
    a = docs.select(
        "doc_id",
        "source",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, blk_w).alias("blk"),
    )
    candidates = (
        a.alias("a")
        .join(a.alias("b"), on=["source", "blk"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
    )
    pairs = dedup.jaccard_pairs(docs, "doc_id", candidates=candidates)
    return pairs.filter(F.col("jaccard").isNotNull() & (F.col("jaccard") >= 0.0))


@_register(
    "simhash_signatures",
    r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_distinct(regexp_split_to_array(trim(norm), '\s+'))) AS tok
        FROM (SELECT doc_id,
                     regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
              FROM documents)
    ),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
    bits AS (
        SELECT doc_id, b.bit,
               CASE WHEN ((h >> b.bit) & 1) = 1 THEN 1 ELSE -1 END AS vote
        FROM h, (SELECT unnest(range(0, 32)) AS bit) b
    ),
    votes AS (SELECT doc_id, bit, sum(vote) AS v FROM bits GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT)
               AS simhash
    FROM votes GROUP BY doc_id
    """,
    "32-bit SimHash signatures via md5 bit-majority vote "
    "(extension: near-dup)",
)
def simhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, "doc_id", bits=32)


@_register(
    "doc_fingerprint",
    r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
    FROM documents
    """,
    "canonical document fingerprint: md5 over normalized text "
    "(extension: fingerprinting)",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint("text").alias("fp"))


@_register(
    "winnowing_fingerprints",
    f"""
    WITH hs AS (
        SELECT doc_id,
               list_transform({_D_SHINGLES}, s -> md5(s)) AS hv
        FROM documents
    ),
    fp AS (
        SELECT doc_id,
               CASE WHEN len(hv) >= 4
                    THEN list_distinct(list_transform(range(1, len(hv) - 2),
                                       i -> list_min(hv[i:i+3])))
                    ELSE [] END AS fps
        FROM hs
    )
    SELECT doc_id,
           CAST(len(fps) AS INT) AS n_fingerprints,
           list_min(fps) AS min_fp,
           list_max(fps) AS max_fp
    FROM fp
    """,
    "winnowing document fingerprints: rolling min over windows of "
    "shingle hashes (Schleimer et al. local fingerprinting; the "
    "plagiarism/near-dup sketch the md5 whole-doc fingerprint can't give)",
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = 4  # winnow window: min over every w consecutive shingle hashes
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    hv = F.transform(text.shingles(text.tokens("text")), F.md5)
    out = docs.select(F.col("doc_id"), hv.alias("hv"))
    n = F.size("hv")
    fps = F.when(
        n >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (w - 1)),
                lambda i: F.array_min(F.slice(F.col("hv"), i, w)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return out.select(
        "doc_id",
        F.size(fps).alias("n_fingerprints"),
        F.array_min(fps).alias("min_fp"),
        F.array_max(fps).alias("max_fp"),
    )


@_register(
    "dup_clusters",
    """
    WITH RECURSIVE c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS pa, b.vec_id AS pb
        FROM c a JOIN c b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))) >= 0.35
    ),
    edges AS (SELECT pa AS s, pb AS d FROM pairs
              UNION ALL SELECT pb, pa FROM pairs),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach(node, label) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.d, r.label FROM reach r JOIN edges e ON r.node = e.s
    ),
    labels AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
    SELECT node AS vec_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM labels ORDER BY vec_id
    """,
    "dup-cluster formation: near-dup candidate pairs -> undirected "
    "connected components (iterative distributed min-label propagation, "
    "O(diameter) join+agg rounds — see dedup.connected_components) -> "
    "one cluster id + size per member. The step between pair generation "
    "and survivor selection in every dedup pipeline; oracle is the "
    "recursive-CTE transitive closure, tractable at test scale only",
)
def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = embedding_neardup_pairs(spark, sf_dir).select("vec_id_a", "vec_id_b")
    labels = dedup.connected_components(pairs, "vec_id_a", "vec_id_b")
    w = Window.partitionBy("cluster_id")
    return (
        labels.select(F.col("node").alias("vec_id"), F.col("label").alias("cluster_id"))
        .withColumn("cluster_size", F.count("*").over(w))
        .orderBy("vec_id")
    )


@_register(
    "near_dedup_survivors",
    """
    WITH RECURSIVE c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS pa, b.vec_id AS pb
        FROM c a JOIN c b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))) >= 0.35
    ),
    edges AS (SELECT pa AS s, pb AS d FROM pairs
              UNION ALL SELECT pb, pa FROM pairs),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach(node, label) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.d, r.label FROM reach r JOIN edges e ON r.node = e.s
    ),
    labels AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
    SELECT e.vec_id, e.label AS class_label
    FROM embeddings e LEFT JOIN labels l ON e.vec_id = l.node
    WHERE l.node IS NULL OR l.node = l.cluster_id
    ORDER BY e.vec_id
    """,
    "end of the dedup chain: survivors = unclustered rows + the min-id "
    "representative per dup cluster (pairs -> components -> "
    "drop_near_dups). What actually ships to training after near-dedup",
)
def near_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(spark, sf_dir).select("vec_id_a", "vec_id_b")
    labels = dedup.connected_components(pairs, "vec_id_a", "vec_id_b")
    return (
        dedup.drop_near_dups(emb, "vec_id", labels)
        .select("vec_id", F.col("label").alias("class_label"))
        .orderBy("vec_id")
    )


@_register(
    "fuzzy_name_matches",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part),
    blocked AS (
        SELECT p_name, split_part(p_name, ' ', 2) AS block_key FROM names
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM blocked a JOIN blocked b
      ON a.block_key = b.block_key AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 5
    ORDER BY name_a, name_b
    """,
    "blocked fuzzy matching (entity resolution): candidate pairs only "
    "within a blocking key (the product noun), then edit-distance "
    "filter — the record-linkage pattern for catalog/author/entity "
    "dedup in training-data curation. Blocking turns the O(n^2) "
    "all-pairs comparison into per-block quadratic on distinct keys "
    "(dedup to DISTINCT names first — the 100 TB move: compare "
    "canonical strings, not rows); levenshtein is a JVM built-in, no "
    "UDF. Same shape scales to token-sort keys or phonetic blocks",
)
def fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    blocked = names.withColumn("block_key", F.split("p_name", " ").getItem(1))
    a = blocked.select(
        F.col("p_name").alias("name_a"), F.col("block_key").alias("bk_a")
    )
    b = blocked.select(
        F.col("p_name").alias("name_b"), F.col("block_key").alias("bk_b")
    )
    return (
        a.join(b, (F.col("bk_a") == F.col("bk_b")) & (F.col("name_a") < F.col("name_b")))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 5)
        .select("name_a", "name_b", "edit_dist")
        .orderBy("name_a", "name_b")
    )


@_register(
    "minhash_estimate_accuracy",
    f"""
    WITH s AS (
        SELECT doc_id, source, {_D_SHINGLES} AS sh FROM documents
    ),
    sig AS (
        SELECT doc_id, source,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, {_D_BLK_W}) AS blk,
               list_distinct(sh) AS shd,
               {", ".join(_d_minhash(i) + f" AS mh{i}" for i in range(8))}
        FROM s
    ),
    pairs AS (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               ({" + ".join(f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(8))}) / 8.0
                   AS est_jaccard,
               len(list_intersect(a.shd, b.shd)) * 1.0
                   / len(list_distinct(list_cat(a.shd, b.shd))) AS exact_jaccard
        FROM sig a JOIN sig b
          ON a.source = b.source AND a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE len(list_distinct(list_cat(a.shd, b.shd))) > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(abs(est_jaccard - exact_jaccard)), 4) + 0.0 AS avg_abs_err,
           round(max(abs(est_jaccard - exact_jaccard)), 4) + 0.0 AS max_abs_err,
           round(corr(est_jaccard, exact_jaccard), 4) + 0.0 AS est_exact_corr
    FROM pairs
    """,
    "sketch-accuracy audit for the MinHash pipeline: on (source, "
    "ADAPTIVE md5 sub-block)-blocked pairs (block count grows with the "
    "corpus — 16-way to 20k docs, 256/4096 beyond — same count(*) "
    "rule in both engines, so the sampled pair population stays "
    "bounded per block at any scale), "
    "the 8-component signature-match fraction (the estimate LSH "
    "banding acts on) against the exact shingle Jaccard — one summary "
    "row of avg/max absolute error + estimate-truth correlation. "
    "md5-derived hashes make the estimate bit-identical in both "
    "engines, so this is full value parity, not a tolerance contract. "
    "The measurement that justifies num_hashes/bands settings before "
    "a 100 TB dedup run; signatures are materialized once and joined "
    "twice (same barrier discipline as jaccard_pairs)",
)
def minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    blk_w = adaptive_blk_width(docs.count())
    sigs = (
        dedup.minhash_signatures(docs, "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
        .withColumn(
            "blk", F.substring(F.md5(F.col("doc_id").cast("string")), 1, blk_w)
        )
        # EAGER: the blocked self-join below reads this twice (a/b) and
        # a lazy barrier's sibling map stages race and recompute the
        # whole minhash pipeline (the prefix_filter lesson)
        .transform(barrier, eager=True)
    )
    pairs = (
        sigs.alias("a")
        .join(sigs.alias("b"), ["source", "blk"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            (
                sum(
                    F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
                    for i in range(8)
                )
                / 8.0
            ).alias("est_jaccard"),
        )
        # consumed twice (the exact-Jaccard verify's candidate list AND
        # the estimate side of the final join) — eager for the same
        # sibling-race reason; pair-grain, tiny blocks
        .transform(barrier, eager=True)
    )
    exact = dedup.jaccard_pairs(
        docs, "doc_id", candidates=pairs.select("doc_id_a", "doc_id_b")
    ).filter(F.col("jaccard").isNotNull())
    joined = pairs.join(exact, ["doc_id_a", "doc_id_b"])
    err = F.abs(F.col("est_jaccard") - F.col("jaccard"))
    return joined.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        (F.round(F.avg(err), 4) + 0.0).alias("avg_abs_err"),
        (F.round(F.max(err), 4) + 0.0).alias("max_abs_err"),
        (F.round(F.corr("est_jaccard", "jaccard"), 4) + 0.0).alias("est_exact_corr"),
    )


@_register(
    "decontaminate_eval_overlap",
    f"""
    WITH s AS (
        SELECT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_eval,
               list_distinct({_D_SHINGLES}) AS sh
        FROM documents
    ),
    tr AS (
        SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS g
        FROM s WHERE NOT is_eval AND len(sh) > 0
    ),
    ev AS (SELECT doc_id AS eval_id, unnest(sh) AS g FROM s WHERE is_eval)
    SELECT tr.doc_id,
           count(DISTINCT tr.g) AS shared_shingles,
           count(DISTINCT ev.eval_id) AS matched_eval_docs,
           round(count(DISTINCT tr.g) * 1.0 / min(tr.n_sh), 4) + 0.0
               AS contamination
    FROM tr JOIN ev ON tr.g = ev.g
    GROUP BY tr.doc_id
    ORDER BY shared_shingles DESC, doc_id
    """,
    "benchmark decontamination: flag training documents sharing 3-token "
    "shingles with a held-out eval set (here a deterministic md5 1/16 "
    "slice stands in for the benchmark suite). Eval shingles are "
    "BROADCAST — eval sets stay small while the training corpus scales "
    "to 100 TB, so the overlap probe is a map-side hash join against "
    "the full shingle stream, no shuffle of the corpus. Output = per "
    "contaminated doc: distinct shared shingles, distinct eval docs "
    "hit, and the contaminated fraction of its shingle set "
    "(extension: the n-gram-overlap decontamination step every "
    "training pipeline runs before a data release)",
)
def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    base = docs.select(
        "doc_id",
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0").alias(
            "is_eval"
        ),
        F.array_distinct(text.shingles(text.tokens("text"))).alias("sh"),
    ).transform(barrier)  # shingle sets feed BOTH the eval and train branches
    ev = base.filter("is_eval").select(
        F.col("doc_id").alias("eval_id"), F.explode("sh").alias("g")
    )
    tr = (
        base.filter(~F.col("is_eval"))
        .filter(F.size("sh") > 0)
        .select("doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("g"))
    )
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("shared_shingles"),
            F.countDistinct("eval_id").alias("matched_eval_docs"),
            (
                F.round(F.countDistinct("g") / F.min("n_sh"), 4) + 0.0
            ).alias("contamination"),
        )
        .orderBy(F.col("shared_shingles").desc(), "doc_id")
    )


@_register(
    "dup_cluster_size_distribution",
    """
    WITH RECURSIVE c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS pa, b.vec_id AS pb
        FROM c a JOIN c b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))) >= 0.35
    ),
    edges AS (SELECT pa AS s, pb AS d FROM pairs
              UNION ALL SELECT pb, pa FROM pairs),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach(node, label) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.d, r.label FROM reach r JOIN edges e ON r.node = e.s
    ),
    labels AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
    sizes AS (
        SELECT cluster_id, count(*) AS cluster_size
        FROM labels GROUP BY cluster_id
    )
    SELECT cluster_size,
           count(*) AS n_clusters,
           cluster_size * count(*) AS n_members,
           (cluster_size - 1) * count(*) AS n_removable
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
    "dedup audit: the cluster-size histogram of the near-dup graph — "
    "how much of the corpus is duplicated, at what multiplicity, and "
    "how many rows survivor-selection will drop (n_removable). The "
    "capacity-planning number a 100 TB dedup run reports before anyone "
    "commits to the rewrite. Spark side reuses the distributed "
    "connected-components labels; after the per-cluster count the "
    "histogram aggregates rows = #clusters, then #distinct-sizes — "
    "cost collapses with each step",
)
def dup_cluster_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = embedding_neardup_pairs(spark, sf_dir).select("vec_id_a", "vec_id_b")
    labels = dedup.connected_components(pairs, "vec_id_a", "vec_id_b")
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_members"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


@_register(
    "lsh_banding_recall",
    f"""
    WITH s AS (
        SELECT doc_id, source, {_D_SHINGLES} AS sh
        FROM documents
    ),
    sigs AS (
        SELECT doc_id, source, list_distinct(sh) AS shd,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, {_D_BLK_W} - 1) AS tblk,
               {_d_minhash(0)} AS mh0, {_d_minhash(1)} AS mh1,
               {_d_minhash(2)} AS mh2, {_d_minhash(3)} AS mh3,
               {_d_minhash(4)} AS mh4, {_d_minhash(5)} AS mh5,
               {_d_minhash(6)} AS mh6, {_d_minhash(7)} AS mh7
        FROM s
    ),
    bands AS (
        SELECT doc_id, 0 AS band, concat_ws('|', mh0, mh1) AS sig FROM sigs
        UNION ALL SELECT doc_id, 1, concat_ws('|', mh2, mh3) FROM sigs
        UNION ALL SELECT doc_id, 2, concat_ws('|', mh4, mh5) FROM sigs
        UNION ALL SELECT doc_id, 3, concat_ws('|', mh6, mh7) FROM sigs
    ),
    filt AS (SELECT * FROM bands WHERE sig IS NOT NULL AND sig <> ''),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        FROM filt a JOIN filt b ON a.band = b.band AND a.sig = b.sig
                                AND a.doc_id < b.doc_id
    ),
    truth AS (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        FROM sigs a JOIN sigs b
          ON a.source = b.source AND a.tblk = b.tblk AND a.doc_id < b.doc_id
        WHERE len(list_distinct(list_cat(a.shd, b.shd))) > 0
          AND len(list_intersect(a.shd, b.shd)) * 1.0
              / len(list_distinct(list_cat(a.shd, b.shd))) >= 0.5
    )
    SELECT count(*) AS n_true_pairs,
           count(c.doc_id_a) AS n_captured,
           round(CASE WHEN count(*) > 0
                      THEN count(c.doc_id_a) * 1.0 / count(*) END, 4) + 0.0
               AS recall
    FROM truth t
    LEFT JOIN cand c ON t.doc_id_a = c.doc_id_a AND t.doc_id_b = c.doc_id_b
    """,
    "dedup-pipeline quality audit: banding recall — what fraction of "
    "true near-dup pairs (exact Jaccard >= 0.5, measured on a "
    "tractable (source, adaptive md5 sub-block) sample: unblocked at "
    "test SFs, 16/256-way at the 10x/100x fixtures — same count(*) "
    "width rule in both engines, one hex char narrower than the "
    "pair-audit block) the 4-band x 2-row LSH "
    "candidate join captures. The companion to "
    "minhash_estimate_accuracy (sketch error) and "
    "ivf_multiprobe_recall (ANN recall): together they size "
    "num_hashes, bands, and probes — the three knobs a 100 TB "
    "dedup/similarity deployment tunes. At scale the truth set is "
    "exactly this kind of blocked sample; the candidate set is the "
    "full banding join",
)
def lsh_banding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # truth-sample block: one hex char NARROWER than the pair-audit
    # block (unblocked at test SFs — width 0 is the empty prefix — and
    # 16/256-way at the 10x/100x fixtures), so the exact-Jaccard truth
    # join stays tractable while remaining an unbiased blocked sample
    tblk_w = adaptive_blk_width(docs.count()) - 1
    sets = (
        spread(docs, "doc_id")
        .select(
            "doc_id",
            "source",
            F.substring(
                F.md5(F.col("doc_id").cast("string")), 1, tblk_w
            ).alias("tblk"),
            F.array_distinct(text.shingles(text.tokens("text"))).alias("shd"),
        )
        .transform(barrier)  # feeds both truth-join sides
    )
    a = sets.select(
        F.col("doc_id").alias("doc_id_a"), "source", "tblk",
        F.col("shd").alias("sh_a"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_id_b"), "source", "tblk",
        F.col("shd").alias("sh_b"),
    )
    union_sz = F.size(F.array_union("sh_a", "sh_b"))
    # when()-guarded: a bare union_sz > 0 pre-filter is NOT enough —
    # Catalyst may reorder conjunctive predicates and evaluate the
    # division first, which under ANSI mode throws on empty unions.
    jac = F.when(
        union_sz > 0, F.size(F.array_intersect("sh_a", "sh_b")) / union_sz
    )
    truth = (
        a.join(b, on=["source", "tblk"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .filter(jac >= 0.5)
        .select("doc_id_a", "doc_id_b")
    )
    cand = dedup.lsh_candidate_pairs(docs, "doc_id", num_hashes=8, bands=4).select(
        F.col("doc_id_a").alias("c_a"), F.col("doc_id_b").alias("c_b")
    )
    return (
        truth.join(
            cand,
            (F.col("doc_id_a") == F.col("c_a")) & (F.col("doc_id_b") == F.col("c_b")),
            "left",
        )
        .agg(
            F.count("*").alias("n_true_pairs"),
            F.count("c_a").alias("n_captured"),
            (
                F.round(
                    F.when(F.count("*") > 0, F.count("c_a") / F.count("*")), 4
                )
                + 0.0
            ).alias("recall"),
        )
    )


@_register(
    "simhash_near_pairs",
    r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_distinct(regexp_split_to_array(trim(norm), '\s+')))
                   AS tok
        FROM (SELECT doc_id,
                     regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
              FROM documents)
    ),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
    bits AS (
        SELECT doc_id, b.bit,
               CASE WHEN ((h >> b.bit) & 1) = 1 THEN 1 ELSE -1 END AS vote
        FROM h, (SELECT unnest(range(0, 32)) AS bit) b
    ),
    votes AS (SELECT doc_id, bit, sum(vote) AS v FROM bits GROUP BY 1, 2),
    sig AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id
    ),
    j AS (SELECT s.doc_id, d.source, s.simhash
          FROM sig s JOIN documents d USING (doc_id))
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM j a JOIN j b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
    ORDER BY doc_id_a, doc_id_b
    """,
    "SimHash near-dup pairs: source-blocked signature pairs within "
    "Hamming distance 4 — the verification-free fast path of the "
    "SimHash family (signatures: simhash_signatures; this is the pair "
    "stage MinHash runs as LSH banding). bit_count(xor) is a 2-cycle "
    "integer op per pair — the cheapest near-dup compare there is; at "
    "100 TB the blocking key becomes the signature's high bits "
    "(near-identical docs share them), turning the pair join into an "
    "equi-join exactly like LSH bands",
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # signature build is one pipeline; the self-join consumes it twice
    sig = (
        dedup.simhash(docs, "doc_id", bits=32)
        .join(docs.select("doc_id", "source"), "doc_id")
        .transform(barrier)
    )
    a = sig.select(
        F.col("doc_id").alias("doc_id_a"), "source", F.col("simhash").alias("sig_a")
    )
    b = sig.select(
        F.col("doc_id").alias("doc_id_b"), "source", F.col("simhash").alias("sig_b")
    )
    hd = dedup.hamming_distance(F.col("sig_a"), F.col("sig_b"))
    return (
        a.join(b, "source")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .withColumn("hamming", hd.cast("int"))
        .filter(F.col("hamming") <= 4)
        .select("doc_id_a", "doc_id_b", "hamming")
        .orderBy("doc_id_a", "doc_id_b")
    )


@_register(
    "corpus_duplicate_ngrams",
    f"""
    WITH s AS (
        SELECT doc_id, list_distinct({_D_SHINGLES}) AS sh FROM documents
    ),
    ex AS (
        SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS g
        FROM s WHERE len(sh) > 0
    ),
    freq AS (
        SELECT g FROM ex GROUP BY g HAVING count(DISTINCT doc_id) >= 4
    )
    SELECT e.doc_id,
           CAST(e.n_sh AS INT) AS n_shingles,
           count(*) AS dup_shingles,
           round(count(*) * 1.0 / e.n_sh, 4) + 0.0 AS dup_fraction
    FROM ex e JOIN freq USING (g)
    GROUP BY e.doc_id, e.n_sh
    ORDER BY dup_fraction DESC, doc_id
    """,
    "cross-document duplicated-content audit (the Gopher/C4 'fraction "
    "of text in corpus-frequent n-grams' filter): 3-token shingle "
    "document frequencies over the whole corpus, then per doc the "
    "fraction of its distinct shingles that >= 4 documents share. One "
    "shuffle on the shingle hash builds the frequency table; the "
    "frequent-shingle set (heavy tail only) broadcasts back onto the "
    "shingle stream, so the corpus itself is never re-shuffled. At "
    "100 TB the exact distinct-doc count becomes a count-min/HLL "
    "sketch per shingle and the df >= 4 gate is applied to the sketch "
    "estimate — same plan shape. Complements repetition_quality "
    "(intra-doc) with the cross-doc signal",
)
def corpus_duplicate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    # emptiness gate BEFORE the projection (size(tokens) >= 3 ⟺
    # non-empty trigram set) — a post-projection size(sh) filter would be
    # pushed down and re-evaluate the whole shingle expression per row
    # shingles hash to 64-bit ints up front (the prefix_filter trick):
    # every downstream exchange ships 8-byte longs instead of k-token
    # strings, and the output counts are hash-invariant absent
    # collisions — which the oracle hash-match audits exactly
    sh = docs.filter(F.size(text.tokens("text")) >= 3).select(
        "doc_id",
        F.array_distinct(
            F.transform(text.shingles(text.tokens("text")), lambda s: F.xxhash64(s))
        ).alias("sh"),
    )
    # the exploded shingle stream is consumed twice (df count +
    # join-back) within ONE action — lazy, both consumers share the RDD
    ex = sh.select(
        "doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("g")
    ).transform(barrier)
    freq = (
        # per-doc shingles are array_distinct'd, so (doc_id, g) rows are
        # unique and the document frequency is a plain count — the
        # two-phase distinct aggregate was pure overhead
        ex.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 4)
        .select("g")
        .transform(barrier)
    )
    # Join strategy from the REAL frequent-shingle count (r12, the r08
    # rule): the df>=4 set grows with corpus vocabulary — 3.76M shingles
    # already at the ×100 fixture — so a PINNED broadcast is a driver
    # bomb at real scale. Under the house ~100MB relation bound the
    # broadcast stays (the corpus stream is never re-shuffled); above it
    # the join pins shuffled-hash (measured a wash at ×100: min 48.0s
    # shj vs 50.0s bcast). The count's job doubles as the barrier's
    # materializing action, so the filter side computes once either way.
    freq = join_side(freq, freq.count())
    return (
        ex.join(freq, "g")
        .groupBy("doc_id", "n_sh")
        .agg(F.count("*").alias("dup_shingles"))
        .select(
            "doc_id",
            F.col("n_sh").alias("n_shingles"),
            "dup_shingles",
            (F.round(F.col("dup_shingles") / F.col("n_sh"), 4) + 0.0).alias(
                "dup_fraction"
            ),
        )
        .orderBy(F.col("dup_fraction").desc(), "doc_id")
    )


@_register(
    "prefix_jaccard_pairs",
    f"""
    WITH sets AS (
        SELECT doc_id, list_distinct({_D_SHINGLES}) AS sh FROM documents
    ),
    ne AS (SELECT * FROM sets WHERE len(sh) > 0),
    p AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
               len(list_intersect(a.sh, b.sh)) AS i,
               len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
        FROM ne a JOIN ne b ON a.doc_id < b.doc_id
    )
    SELECT da AS doc_id_a, db AS doc_id_b, round(i * 1.0 / u, 4) AS jaccard
    FROM p WHERE i * 1.0 / u >= 0.6
    ORDER BY doc_id_a, doc_id_b
    """,
    "exact all-pairs near-dup join via PREFIX FILTERING (AllPairs/"
    "PPJoin family): trigram-shingle sets ordered rarest-shingle-first; "
    "only the first |S| - ceil(0.6|S|) + 1 shingles of each doc enter "
    "the candidate equi-join (two sets reaching Jaccard >= 0.6 MUST "
    "share a prefix shingle), a PPJoin size bound prunes length-"
    "incompatible candidates, then an exact verify pass. LSH's "
    "complement: zero false negatives at far below O(n^2) cost — the "
    "oracle is the brute-force cross-join statement of the same "
    "semantics, so the hash-match PROVES the pruning is lossless. At "
    "100 TB the rare-first order is what kills the skew: corpus-common "
    "shingles never enter any prefix (and shingle size k must keep the "
    "universe diverse — see operator docstring)",
)
def prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.6, shingle_k=3
    )
    return pairs.select(
        "doc_id_a", "doc_id_b", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("doc_id_a", "doc_id_b")


@_register(
    "doc_novelty_fraction",
    f"""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct({_D_SHINGLES})) AS s FROM documents
    ),
    fs AS (SELECT s, min(doc_id) AS first_seen FROM sh GROUP BY s),
    per AS (
        SELECT sh.doc_id,
               count(*) AS n_shingles,
               sum(CASE WHEN fs.first_seen = sh.doc_id THEN 1 ELSE 0 END)
                   AS n_novel
        FROM sh JOIN fs ON sh.s = fs.s
        GROUP BY sh.doc_id
    )
    SELECT doc_id, CAST(n_shingles AS INT) AS n_shingles,
           round(n_novel * 1.0 / n_shingles, 4) AS novel_frac
    FROM per ORDER BY doc_id
    """,
    "per-document novelty scoring: the fraction of a doc's distinct "
    "trigram shingles whose FIRST corpus appearance (min doc_id over "
    "the ingestion order) is this document — the freshness/"
    "contribution curve data-ordering and crawl-frontier decisions "
    "read (a near-zero novelty tail means the crawl is re-reading "
    "itself). One shingle-keyed shuffle builds the first-seen table, "
    "one join-back scores docs; first-seen is universe-sized so it "
    "stays a shuffle join (NOT broadcast), the same shape as "
    "corpus_duplicate_ngrams, and at 100 TB it is the incrementally-"
    "maintained artifact a streaming ingest would update per batch",
)
def doc_novelty_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(text.shingles(text.tokens("text"), k=3))
        ).alias("s"),
    )
    fs = sh.groupBy("s").agg(F.min("doc_id").alias("first_seen"))
    per = (
        sh.join(fs, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_seen") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return per.select(
        "doc_id",
        F.col("n_shingles").cast("int").alias("n_shingles"),
        F.round(F.col("n_novel") / F.col("n_shingles"), 4).alias("novel_frac"),
    ).orderBy("doc_id")


@_register(
    "containment_doc_pairs",
    f"""
    WITH sets AS (
        SELECT doc_id, list_distinct({_D_SHINGLES}) AS sh FROM documents
    ),
    ne AS (SELECT * FROM sets WHERE len(sh) > 0),
    p AS (
        SELECT a.doc_id AS id_inner, b.doc_id AS id_outer,
               len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh) AS containment
        FROM ne a JOIN ne b ON a.doc_id <> b.doc_id
    )
    SELECT id_inner, id_outer, round(containment, 4) AS containment
    FROM p WHERE containment >= 0.8
    ORDER BY id_inner, id_outer
    """,
    "asymmetric CONTAINMENT join |A-intersect-B| / |A| >= 0.8 — the "
    "quote/boilerplate detector Jaccard misses (a paragraph quoted in "
    "a much larger page has tiny Jaccard, containment ~1). One-sided "
    "prefix bound: only the inner side's rarest-shingle prefix joins, "
    "against all outer shingles, plus the |B| >= t|A| size bound; "
    "exact verify after. Oracle is the brute-force double-direction "
    "cross join of the same semantics — the hash-match proves the "
    "one-sided pruning lossless",
)
def containment_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.containment_pairs(docs, "doc_id", "text", threshold=0.8, shingle_k=3)
    return (
        pairs.select(
            F.col("id_inner"),
            F.col("id_outer"),
            F.round("containment", 4).alias("containment"),
        )
        .orderBy("id_inner", "id_outer")
    )


@_register(
    "incremental_corpus_dedup",
    f"""
    WITH newdocs AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
    oldfp AS (
        SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 5 <> 0
    ),
    newfp AS (SELECT doc_id, md5(text) AS fp FROM newdocs),
    exdup AS (
        SELECT n.doc_id FROM newfp n JOIN oldfp o ON n.fp = o.fp
        UNION
        SELECT n.doc_id FROM newfp n
        JOIN newfp m ON n.fp = m.fp AND m.doc_id < n.doc_id
    ),
    exsurv AS (
        SELECT doc_id FROM newdocs
        WHERE doc_id NOT IN (SELECT doc_id FROM exdup)
    ),
    sigs AS (
        SELECT doc_id,
               {_d_minhash(0)} AS mh0, {_d_minhash(1)} AS mh1,
               {_d_minhash(2)} AS mh2, {_d_minhash(3)} AS mh3,
               {_d_minhash(4)} AS mh4, {_d_minhash(5)} AS mh5,
               {_d_minhash(6)} AS mh6, {_d_minhash(7)} AS mh7
        FROM (SELECT doc_id, {_D_SHINGLES} AS sh FROM documents)
    ),
    bands AS (
        SELECT doc_id, 0 AS band, concat_ws('|', mh0, mh1) AS sig FROM sigs
        UNION ALL SELECT doc_id, 1, concat_ws('|', mh2, mh3) FROM sigs
        UNION ALL SELECT doc_id, 2, concat_ws('|', mh4, mh5) FROM sigs
        UNION ALL SELECT doc_id, 3, concat_ws('|', mh6, mh7) FROM sigs
    ),
    filt AS (SELECT * FROM bands WHERE sig IS NOT NULL AND sig <> ''),
    near AS (
        SELECT DISTINCT a.doc_id
        FROM filt a
        JOIN exsurv s ON a.doc_id = s.doc_id
        JOIN filt b ON a.band = b.band AND a.sig = b.sig
                   AND a.doc_id <> b.doc_id
        WHERE b.doc_id % 5 <> 0
           OR (b.doc_id < a.doc_id
               AND b.doc_id IN (SELECT doc_id FROM exsurv))
    )
    SELECT n.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS status
    FROM newdocs n
    LEFT JOIN (SELECT doc_id FROM exdup) e ON n.doc_id = e.doc_id
    LEFT JOIN near nr ON n.doc_id = nr.doc_id
    ORDER BY n.doc_id
    """,
    "INCREMENTAL ingestion dedup — the shape that matters at 100 TB: a "
    "new batch (doc_id %% 5 = 0 here) is deduped against the EXISTING "
    "corpus without ever re-comparing the corpus to itself. Exact "
    "stage: batch fingerprints probe the persisted old-fingerprint set "
    "(semi join) + a batch-internal min-id window. Near stage: the "
    "batch's LSH band signatures probe the persisted band INDEX "
    "(dedup.lsh_band_table) — candidates are (new x old) and (new x "
    "smaller-id new survivor) only, never (old x old). Per-batch cost "
    "is O(batch + index probe); the corpus contributes only its "
    "fingerprint and band artifacts, exactly how a daily crawl lands "
    "against a petabyte corpus. Verdict per new doc: exact_dup / "
    "near_dup / kept",
)
def incremental_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    is_new = F.col("doc_id") % 5 == 0
    new = docs.filter(is_new)
    old = docs.filter(~is_new)
    # --- exact stage: probe the persisted old-fingerprint set
    oldfp = old.select(F.md5("text").alias("fp")).distinct()
    newfp = new.select("doc_id", F.md5("text").alias("fp"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    internal_dup = (
        newfp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    vs_old_dup = newfp.join(oldfp, "fp", "left_semi").select("doc_id")
    exdup = vs_old_dup.union(internal_dup).distinct().transform(barrier)
    exsurv = new.select("doc_id").join(exdup, "doc_id", "left_anti")
    # --- near stage: batch band signatures probe the band index.
    # The index covers old docs + batch exact-survivors; at scale the
    # old half is a PERSISTED table, not recomputed per batch.
    bands_all = dedup.lsh_band_table(docs, "doc_id", "text")
    surv_flag = exsurv.withColumn("is_surv", F.lit(1))
    bands_f = bands_all.join(surv_flag, "doc_id", "left")
    a = bands_f.filter(F.col("is_surv") == 1).alias("a")
    b = bands_f.filter(
        (F.col("doc_id") % 5 != 0) | (F.col("is_surv") == 1)
    ).alias("b")
    near = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (
                (F.col("b.doc_id") % 5 != 0)
                | (F.col("b.doc_id") < F.col("a.doc_id"))
            ),
        )
        .select(F.col("a.doc_id").alias("doc_id"))
        .distinct()
    )
    status = (
        F.when(F.col("is_ex") == 1, "exact_dup")
        .when(F.col("is_near") == 1, "near_dup")
        .otherwise("kept")
    )
    return (
        new.select("doc_id")
        .join(exdup.withColumn("is_ex", F.lit(1)), "doc_id", "left")
        .join(near.withColumn("is_near", F.lit(1)), "doc_id", "left")
        .select("doc_id", status.alias("status"))
        .orderBy("doc_id")
    )


@_register(
    "source_overlap_matrix",
    f"""
    WITH sh AS (
        SELECT DISTINCT source, unnest(list_distinct({_D_SHINGLES})) AS g
        FROM documents
    ),
    sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS n_shared,
           round(count(*) * 1.0 / least(sa.n, sb.n), 4) AS containment
    FROM sh a
    JOIN sh b ON a.g = b.g AND a.source < b.source
    JOIN sizes sa ON sa.source = a.source
    JOIN sizes sb ON sb.source = b.source
    GROUP BY a.source, b.source, sa.n, sb.n
    ORDER BY source_a, source_b
    """,
    "inter-source boilerplate matrix — which sources share content: "
    "per (source_a, source_b) pair, the count of distinct trigram "
    "shingles present in BOTH, plus containment (shared / smaller "
    "side's shingle vocabulary) — the number that decides whether a "
    "new crawl source adds anything or re-scrapes existing ones. The "
    "pair join is keyed on the SHINGLE (uniform md5-free text key; "
    "the per-shingle fan-out is bounded by sources-per-shingle, "
    "never source x source over the corpus), and per-source "
    "vocabulary sizes broadcast back onto the pair rollup. At 100 TB "
    "cap per-shingle source spread (or drop df-saturated shingles, "
    "rare-first style) to bound the quadratic-in-spread explode — "
    "saturated shingles carry no discrimination anyway",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        spread(docs, "doc_id")
        .select(
            "source",
            F.explode(
                F.array_distinct(text.shingles(text.tokens("text"), k=3))
            ).alias("g"),
        )
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    a = sh.select(F.col("source").alias("source_a"), "g")
    b = sh.select(F.col("source").alias("source_b"), "g")
    pairs = (
        a.join(b, "g")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(F.col("n_shared") / F.least("na", "nb"), 4).alias(
                "containment"
            ),
        )
        .orderBy("source_a", "source_b")
    )


def _cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared CDC chunk table: (doc_id, chunk_id, n_tokens, chunk_hash)
    for docs < 100 — consumed by `cdc_chunk_documents` (the chunk
    listing) and `chunk_dedup_ratio` (the cross-doc dedup rollup)."""
    docs = (
        spread(load_table(spark, sf_dir, "documents"), "doc_id")
        .filter(F.col("doc_id") < 100)
    )
    toks = docs.select(
        "doc_id", F.posexplode(text.tokens("text")).alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    boundary = (
        F.when(
            (F.col("pos") > 1)
            & (
                F.conv(F.substring(F.md5(F.lower("term")), 1, 6), 16, 10)
                .cast("bigint")
                % 16
                == 0
            ),
            1,
        )
        .otherwise(0)
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    chunked = toks.withColumn("boundary", boundary).withColumn(
        "chunk_id", F.sum("boundary").over(w)
    )
    return chunked.groupBy(
        "doc_id", F.col("chunk_id").cast("int").alias("chunk_id")
    ).agg(
        F.count("*").alias("n_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", F.lower("term").alias("t")))
                    ),
                    lambda s: s["t"],
                ),
                " ",
            ).cast("binary")
        ).alias("chunk_hash"),
    )


@_register(
    "cdc_chunk_documents",
    r"""
    WITH arrs AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
        FROM documents WHERE doc_id < 100
    ),
    idx AS (
        SELECT doc_id, arr,
               unnest(generate_series(1, len(arr))) AS pos
        FROM arrs
    ),
    toks AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos, arr[pos] AS term FROM idx
    ),
    marked AS (
        SELECT doc_id, term, pos,
               CASE WHEN pos > 1 AND
                    CAST(('0x' || substr(md5(lower(term)), 1, 6)) AS BIGINT)
                        % 16 = 0
                    THEN 1 ELSE 0 END AS boundary
        FROM toks
    ),
    chunked AS (
        SELECT doc_id, term, pos,
               sum(boundary) OVER (
                   PARTITION BY doc_id ORDER BY pos) AS chunk_id
        FROM marked
    )
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           md5(string_agg(lower(term), ' ' ORDER BY pos)) AS chunk_hash
    FROM chunked
    GROUP BY doc_id, chunk_id
    ORDER BY doc_id, chunk_id
    """,
    "content-defined chunking (FastCDC/rsync family): chunk "
    "boundaries fall where md5(token) lands in 1/16 of hash space, so "
    "an insertion near the head re-chunks only its neighborhood — "
    "fixed-window `chunk_documents` re-shifts EVERY downstream chunk, "
    "which is why storage dedup uses CDC. Emits (doc, chunk, hash) "
    "rows ready for the cross-doc chunk-level dedup join. One "
    "doc-keyed window over the exploded token stream (posexplode "
    "keeps order without a global sort); the chunk hash aggregates "
    "position-ordered tokens so it is engine-deterministic",
)
def cdc_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cdc_chunks(spark, sf_dir).orderBy("doc_id", "chunk_id")


@_register(
    "chunk_dedup_ratio",
    r"""
    WITH arrs AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
        FROM documents WHERE doc_id < 100
    ),
    idx AS (
        SELECT doc_id, arr,
               unnest(generate_series(1, len(arr))) AS pos
        FROM arrs
    ),
    toks AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos, arr[pos] AS term FROM idx
    ),
    marked AS (
        SELECT doc_id, term, pos,
               CASE WHEN pos > 1 AND
                    CAST(('0x' || substr(md5(lower(term)), 1, 6)) AS BIGINT)
                        % 16 = 0
                    THEN 1 ELSE 0 END AS boundary
        FROM toks
    ),
    chunked AS (
        SELECT doc_id, term, pos,
               sum(boundary) OVER (
                   PARTITION BY doc_id ORDER BY pos) AS chunk_id
        FROM marked
    ),
    chunks AS (
        SELECT doc_id, chunk_id, count(*) AS n_tokens,
               md5(string_agg(lower(term), ' ' ORDER BY pos)) AS chunk_hash
        FROM chunked GROUP BY doc_id, chunk_id
    ),
    firsts AS (
        SELECT chunk_hash, min(doc_id) AS first_doc FROM chunks
        GROUP BY chunk_hash
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN f.first_doc < c.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_chunks,
           round(sum(CASE WHEN f.first_doc < c.doc_id
                          THEN c.n_tokens ELSE 0 END) * 1.0
                 / sum(c.n_tokens), 6) + 0.0 AS dup_token_fraction
    FROM chunks c JOIN firsts f ON c.chunk_hash = f.chunk_hash
    GROUP BY c.doc_id
    ORDER BY c.doc_id
    """,
    "chunk-level storage-dedup ratio over the CDC chunk table "
    "(`cdc_chunk_documents`): a chunk is a duplicate when its hash was "
    "first emitted by an EARLIER doc (min-doc-id first-writer rule, "
    "the same convention as `doc_novelty_fraction` at shingle grain) — "
    "per doc, the duplicate-chunk count and the token mass a "
    "dedup-store would not re-write. One chunk-hash rollup + join-back "
    "keyed on the hash; content-defined boundaries are what make the "
    "ratio robust to insert/delete edits (fixed windows would shift "
    "every downstream chunk and report near-zero reuse)",
)
def chunk_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = _cdc_chunks(spark, sf_dir)
    firsts = chunks.groupBy("chunk_hash").agg(F.min("doc_id").alias("first_doc"))
    is_dup = (F.col("first_doc") < F.col("doc_id")).cast("int")
    return (
        chunks.join(firsts, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(is_dup).cast("bigint").alias("n_dup_chunks"),
            (
                F.round(
                    F.sum(is_dup * F.col("n_tokens")) * 1.0 / F.sum("n_tokens"),
                    6,
                )
                + 0.0
            ).alias("dup_token_fraction"),
        )
        .orderBy("doc_id")
    )


@_register(
    "source_shingle_overlap",
    f"""
    WITH ss AS (
        SELECT DISTINCT source, unnest({_D_SHINGLES}) AS sh
        FROM documents
    ),
    counts AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_common
        FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.source_a, i.source_b,
           CAST(ca.n AS BIGINT) AS n_a,
           CAST(cb.n AS BIGINT) AS n_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           round(i.n_common * 1.0 / (ca.n + cb.n - i.n_common), 6) + 0.0
               AS jaccard
    FROM inter i
    JOIN counts ca ON i.source_a = ca.source
    JOIN counts cb ON i.source_b = cb.source
    ORDER BY source_a, source_b
    """,
    "cross-source contamination matrix: EXACT pairwise shingle-set "
    "Jaccard between every source pair — the audit that tells you two "
    "crawls are the same corpus in different wrappers before you "
    "weight them as independent. One distinct (source, shingle) "
    "vocabulary pass (shingle-keyed, vocabulary-sized — never the "
    "corpus), a shingle-keyed self-join for intersections (sources "
    "sharing a shingle meet in its bucket, the LSH-bucket idea with "
    "source as the id), tiny per-source totals joined back broadcast. "
    "At 100 TB the vocabulary pass swaps for per-source MinHash "
    "sketches (minhash_signatures) with this exact form as its "
    "correctness oracle",
)
def source_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = text.shingles(text.tokens("text"), k=3)
    # ONE corpus-wide shuffle: per-shingle source sets (collect_set
    # dedups, so no separate distinct pass); everything downstream —
    # per-source totals AND pairwise intersections — derives from this
    # vocabulary-sized frame. The pair expansion is the in-bucket trick
    # from lsh_candidate_pairs with source as the id (bucket size is
    # bounded by #sources). Lazy barrier: both consumers reuse the
    # blocks, first job materializes them.
    per_sh = (
        spread(docs, "doc_id")
        .select("source", F.explode(sh).alias("sh"))
        .groupBy("sh")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .transform(barrier)
    )
    counts = (
        per_sh.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )
    n = F.size("srcs")
    pair_structs = F.flatten(
        F.transform(
            "srcs",
            lambda x, i: F.transform(
                F.slice("srcs", i + F.lit(2), n - i - 1),
                lambda y: F.struct(x.alias("source_a"), y.alias("source_b")),
            ),
        )
    )
    inter = (
        per_sh.filter(n >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.source_a").alias("source_a"), F.col("p.source_b").alias("source_b"))
        .agg(F.count("*").alias("n_common"))
    )
    ca = counts.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("n_common").cast("bigint").alias("n_common"),
            (
                F.round(
                    F.col("n_common") * 1.0
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                    6,
                )
                + F.lit(0.0)
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


@_register(
    "fuzzy_part_duplicates",
    """
    WITH p AS (
        SELECT p_partkey, p_name, p_brand,
               split_part(p_name, ' ', 2) AS noun
        FROM part
    )
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM p a JOIN p b
      ON a.noun = b.noun AND a.p_brand = b.p_brand
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    ORDER BY part_a, part_b
    """,
    "entity resolution over a dimension: candidate duplicate catalog "
    "entries found by BLOCKING on (noun token, brand) and verifying "
    "with Levenshtein edit distance <= 3 — the classic record-linkage "
    "two-phase shape (cheap equi-joinable blocking key prunes the "
    "O(n^2) comparison space; the expensive string metric runs only "
    "inside blocks). The verify runs at VOCABULARY grain: rows first "
    "collapse to distinct (name, ids[]) groups per block, Levenshtein "
    "compares name PAIRS (vocabulary², ~10³ comparisons), and only "
    "matched name pairs expand to id pairs — so the string metric "
    "never sees row counts, and the id expansion is output-sized "
    "(the fuzzy_name_matches design, extended to emit the id pairs). "
    "One shuffle (the block rollup), no self-join. At 100 TB add "
    "multi-pass blocking (a second key on the other token) to catch "
    "pairs the first key splits; edit distance is JVM-side "
    "F.levenshtein, semantics identical in DuckDB",
)
def fuzzy_part_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    expanded = fuzzy_part_expansion(spark, sf_dir)
    x, y = F.col("x"), F.col("y")
    na, nb = F.col("na"), F.col("nb")
    return (
        expanded.select(
            F.least(x, y).alias("part_a"),
            F.greatest(x, y).alias("part_b"),
            F.when(x < y, na).otherwise(nb).alias("name_a"),
            F.when(x < y, nb).otherwise(na).alias("name_b"),
            "edit_dist",
        )
        .orderBy("part_a", "part_b")
    )


def fuzzy_expansion_width(n_base: int, cores: int) -> int:
    """Pinned REPARTITION_BY_NUM width for the id-expansion join —
    derived from the REAL base-table row count (the CC/pagerank
    join-strategy convention), not a constant: one partition per ~5k
    base ids, floored at the session's shuffle parallelism and capped
    at 4× it. At sf0.1 (20k parts) this resolves to `cores` — the r10
    fixed `cores*4` forced 128-partition exchanges on a 20k-row frame,
    a measured 1.51s -> 1.08s recovery — while the ×100 fixture
    (~2M parts) still resolves to the full `cores*4` the r10
    AQE-starvation fix pinned (SCALE_GUARD's fuzzy_dup_expansion_wall
    checks executed partitions against THIS function, so guard and
    plan cannot drift)."""
    return max(cores, min(cores * 4, n_base // 5000))


def fuzzy_part_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocking + vocabulary-grain verify + id-pair expansion
    sub-plan of :func:`fuzzy_part_duplicates`, pre-orientation — the
    frame whose executed width the r10 AQE-starvation fix pins
    (explicit keyed REPARTITION_BY_NUM on both expansion inputs).
    Exposed so the scale guard (tools/scale_guard.py,
    ``fuzzy_dup_expansion_wall``) can measure its wall AND its
    executed partition count at the ×100 fixture: a future AQE/conf
    change that re-coalesces the 4.5B-row fan-out onto ~3 tasks shows
    up as partitions << configured width, not as a mystery budget
    trip."""
    part = load_table(spark, sf_dir, "part")
    base = part.select(
        "p_partkey",
        "p_name",
        "p_brand",
        # coalesce('') matches DuckDB split_part on single-token names
        F.coalesce(F.element_at(F.split("p_name", " "), 2), F.lit("")).alias(
            "noun"
        ),
    ).transform(barrier)
    # name vocabulary per block — the grain the Levenshtein verify
    # runs at (vocabulary² per block, ~10³ comparisons)
    grp = base.select("noun", "p_brand", "p_name").distinct()
    blocks = grp.groupBy("noun", "p_brand").agg(
        F.sort_array(F.collect_list("p_name")).alias("names")
    )
    n = F.size("names")
    # name-pair expansion INCLUDING the self pair (slice from position
    # i+1 keeps element i): same-name id groups produce the exact-dup
    # id pairs, distinct names the fuzzy ones
    name_pairs = F.flatten(
        F.transform(
            "names",
            lambda x, i: F.transform(
                F.slice("names", i + F.lit(1), n - i),
                lambda y: F.struct(x.alias("na"), y.alias("nb")),
            ),
        )
    )
    np = (
        blocks.select("noun", "p_brand", F.explode(name_pairs).alias("p"))
        .select(
            "noun",
            "p_brand",
            F.col("p.na").alias("na"),
            F.col("p.nb").alias("nb"),
            F.levenshtein(F.col("p.na"), F.col("p.nb")).cast("int").alias(
                "edit_dist"
            ),
        )
        .filter(F.col("edit_dist") <= 3)
    )
    # id-pair expansion as two distributed joins at id grain (r08):
    # the old form flattened an O(group²) struct array INSIDE ONE ROW,
    # which dies when a name group is large — the ×100 fixture copies
    # every base part with its name intact, so same-name groups reach
    # 34.7k members = a 6·10⁸-struct single-row array. Joining the
    # matched name pairs (vocabulary grain, tiny) back to the exploded
    # id table keeps the inherently output-sized pair set streaming
    # through shuffle partitions instead of materializing per row.
    # Explicit-width keyed repartitions on the expansion inputs: the
    # join INPUTS are id-grain (small bytes), so AQE coalesced the
    # exchanges to ~3 partitions — and the EXPLOSION happens inside
    # the join, leaving 4.5B output rows on 3 tasks (at ×100 the
    # invariant hash pass measured it: near-serial). A user
    # REPARTITION_BY_NUM on the join keys is reused as the join's own
    # exchange (zero added shuffle) and AQE never shrinks it, so the
    # fan-out streams through full width here AND on a real cluster.
    # Width from the real base count (fuzzy_expansion_width) — the
    # count() doubles as the barrier's materializing action, so the
    # scan + blocking-key projection it would pay anyway is reused by
    # every consumer below.
    cores = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = fuzzy_expansion_width(base.count(), cores)
    xs = base.select(
        "noun",
        "p_brand",
        F.col("p_name").alias("na"),
        F.col("p_partkey").alias("x"),
    ).repartition(width, "noun", "p_brand", "na")
    ys = base.select(
        "noun",
        "p_brand",
        F.col("p_name").alias("nb"),
        F.col("p_partkey").alias("y"),
    ).repartition(width, "noun", "p_brand", "nb")
    expanded = (
        np.join(xs, ["noun", "p_brand", "na"])
        .join(ys, ["noun", "p_brand", "nb"])
        # a same-name pair row is the group's self pair: keep each
        # unordered id pair once (x < y); distinct names keep the full
        # ids_a × ids_b cross, oriented so part_a is the lesser id and
        # name_a is ITS name (ids are globally unique per part)
        .filter((F.col("na") != F.col("nb")) | (F.col("x") < F.col("y")))
    )
    return expanded


@_register(
    "fellegi_sunter_part_linkage",
    f"""
    WITH u AS (
        SELECT
            (SELECT sum(n * (n - 1)) * 1.0 FROM
                (SELECT count(*) AS n FROM part GROUP BY p_type))
            / ((SELECT count(*) FROM part) * 1.0
               * ((SELECT count(*) FROM part) - 1)) AS u_type,
            (SELECT sum(n * (n - 1)) * 1.0 FROM
                (SELECT count(*) AS n FROM part
                 GROUP BY split_part(p_name, ' ', 2)))
            / ((SELECT count(*) FROM part) * 1.0
               * ((SELECT count(*) FROM part) - 1)) AS u_name
    ),
    pairs AS (
        SELECT a.p_partkey AS a_partkey, b.p_partkey AS b_partkey,
               CAST(a.p_type = b.p_type AS INT) AS agree_type,
               CAST(abs(a.p_retailprice - b.p_retailprice) <= 1.0 AS INT)
                   AS agree_price,
               CAST(split_part(a.p_name, ' ', 2)
                    = split_part(b.p_name, ' ', 2) AS INT) AS agree_name
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_size = b.p_size
         AND a.p_partkey < b.p_partkey
         AND {_FS_WIDEN_SQL}
    )
    SELECT a_partkey, b_partkey, agree_type, agree_price, agree_name,
           round((CASE WHEN agree_type = 1 THEN 0.95 / u_type
                       ELSE 0.05 / (1 - u_type) END)
                 * (CASE WHEN agree_price = 1 THEN 0.9 / 0.02
                         ELSE 0.1 / 0.98 END)
                 * (CASE WHEN agree_name = 1 THEN 0.85 / u_name
                         ELSE 0.15 / (1 - u_name) END), 4) + 0.0
               AS match_odds
    FROM pairs, u
    ORDER BY match_odds DESC, a_partkey, b_partkey
    LIMIT 200
    """,
    "FELLEGI-SUNTER probabilistic record linkage (JASA'69, the model "
    "under Splink/dedupe.io): candidate pairs are BLOCKED on "
    "(p_brand, p_size) so the quadratic comparison space never "
    "materializes, each pair gets an agreement vector over three "
    "fields (type exact, price within 1.0, name-noun exact), and the "
    "match odds multiply per-field likelihood ratios m/u (agree) or "
    "(1-m)/(1-u) (disagree). u-probabilities (chance agreement among "
    "non-matches) are estimated closed-form from field value "
    "frequencies: sum n(n-1) / N(N-1) — integer sums and ONE division, "
    "so both engines compute bit-identical doubles; m-probabilities "
    "are fixed priors (0.95/0.9/0.85). Scale: frequency tables are "
    "field-cardinality-grain (broadcast 1-row scalars), the pair join "
    "is a co-partitioned equi-join on the block key, top-200 is "
    "TakeOrderedAndProject — no global sort. ADAPTIVE BLOCKING (r08, "
    "same lockstep rule in both engines like adaptive_blk_width): "
    "(p_brand, p_size) is a FIXED-cardinality domain (25x50), so "
    "block occupancy — and the per-block quadratic — grows linearly "
    "with the catalog (measured: 45s at x10 -> 100x the pair volume "
    "at x100, a guaranteed budget kill). Past 500k parts the block key "
    "widens with the name-noun, the standard Splink-style response "
    "of adding a blocking rule when a block saturates",
)
def fellegi_sunter_part_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = load_table(spark, sf_dir, "part")
    # coalesce to '' so single-token p_name matches DuckDB split_part
    # semantics ('' vs Spark's NULL element_at) — never fires on TPC-H
    # 5-word names, but the lockstep rule must be lockstep on every
    # input class (ADVICE r08)
    noun = F.coalesce(F.element_at(F.split("p_name", " "), 2), F.lit(""))

    def u_of(keycol) -> DataFrame:
        freq = parts.groupBy(keycol.alias("v")).agg(F.count("*").alias("n"))
        return freq.agg(
            (
                (F.sum(F.col("n") * (F.col("n") - 1)) * 1.0)
                / (F.sum("n") * 1.0 * (F.sum("n") - 1))
            ).alias("u")
        )

    u = (
        u_of(F.col("p_type"))
        .select(F.col("u").alias("u_type"))
        .crossJoin(F.broadcast(u_of(noun).select(F.col("u").alias("u_name"))))
    )
    a = parts.select(
        F.col("p_partkey").alias("a_partkey"),
        F.col("p_brand").alias("a_brand"),
        F.col("p_size").alias("a_size"),
        F.col("p_type").alias("a_type"),
        F.col("p_retailprice").alias("a_price"),
        noun.alias("a_noun"),
    )
    b = parts.select(
        F.col("p_partkey").alias("b_partkey"),
        F.col("p_brand").alias("b_brand"),
        F.col("p_size").alias("b_size"),
        F.col("p_type").alias("b_type"),
        F.col("p_retailprice").alias("b_price"),
        noun.alias("b_noun"),
    )
    # adaptive block widening — the lockstep twin of the oracle's
    # `count(*) <= FS_WIDEN_PARTS OR noun = noun` join term
    # (_shared._FS_WIDEN_SQL): one count() on the scan decides the key
    cond = (
        (F.col("a_brand") == F.col("b_brand"))
        & (F.col("a_size") == F.col("b_size"))
        & (F.col("a_partkey") < F.col("b_partkey"))
    )
    n_parts = parts.count()
    widen = fs_widen_parts(n_parts)
    if widen:
        cond = cond & (F.col("a_noun") == F.col("b_noun"))
    # Join strategy + pair-stage parallelism from the SAME real count
    # (guide §2/§3.1; r12 measured at the ×100 fixture, 2M parts): the
    # static planner broadcast the b-side from its parquet estimate, so
    # the blocked self-join — and the 299M-row pair expansion + odds +
    # top-200 downstream of it — ran INSIDE the 3-task parquet scan
    # stage, 3 of 32 cores busy for ~140s. Block occupancy is mild
    # (max 900 vs median 200 — no single-key skew), the straggler was
    # pure missing parallelism. Past the SAME saturation threshold that
    # widens the block key, the b side is catalog-scale: pin the join
    # to shuffled-hash (never build a catalog frame on the driver — the
    # r08 estimate-broadcast lesson) so both sides exchange on the
    # block key and the pair stage runs at shuffle parallelism, with
    # AQE skew-join free to split oversized blocks. Under the
    # threshold, keep the broadcast the planner picks (pinned, so the
    # sf0.1 plan is byte-identical) but spread the probe side across
    # cores once the catalog outgrows one parquet split — the ×10
    # fixture's 16M-pair expansion otherwise runs single-task.
    if widen:
        b = b.hint("shuffle_hash")
    else:
        if n_parts > 100_000:
            a = spread(a)
        b = F.broadcast(b)
    pairs = a.join(b, cond).select(
        "a_partkey",
        "b_partkey",
        (F.col("a_type") == F.col("b_type")).cast("int").alias("agree_type"),
        (F.abs(F.col("a_price") - F.col("b_price")) <= 1.0)
        .cast("int")
        .alias("agree_price"),
        (F.col("a_noun") == F.col("b_noun")).cast("int").alias("agree_name"),
    )
    t_term = F.when(F.col("agree_type") == 1, 0.95 / F.col("u_type")).otherwise(
        0.05 / (1 - F.col("u_type"))
    )
    p_term = F.when(F.col("agree_price") == 1, F.lit(0.9 / 0.02)).otherwise(
        F.lit(0.1 / 0.98)
    )
    n_term = F.when(F.col("agree_name") == 1, 0.85 / F.col("u_name")).otherwise(
        0.15 / (1 - F.col("u_name"))
    )
    return (
        pairs.crossJoin(F.broadcast(u))
        .select(
            "a_partkey",
            "b_partkey",
            "agree_type",
            "agree_price",
            "agree_name",
            (F.round(t_term * p_term * n_term, 4) + F.lit(0.0)).alias("match_odds"),
        )
        .orderBy(F.col("match_odds").desc(), "a_partkey", "b_partkey")
        .limit(200)
    )


@_register(
    "maximal_repeated_substrings",
    r"""
    WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents
    ),
    g0 AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(toks) - 6),
                   i -> struct_pack(pos := i,
                                    g := array_to_string(toks[i:i+7], ' '))))
                   AS u
        FROM d WHERE len(toks) >= 8
    ),
    g AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM g0),
    dup AS (SELECT g FROM g GROUP BY g HAVING count(*) > 1),
    p AS (SELECT doc_id, pos FROM g WHERE g IN (SELECT g FROM dup)),
    r AS (
        SELECT doc_id, pos,
               CASE WHEN pos <= coalesce(
                        max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING), -1) + 1
                    THEN 0 ELSE 1 END AS brk
        FROM p
    ),
    isl AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM r
    )
    SELECT doc_id, CAST(min(pos) AS INT) AS start_pos,
           CAST(max(pos) + 7 - min(pos) + 1 AS INT) AS run_token_len
    FROM isl
    GROUP BY doc_id, island
    HAVING max(pos) + 7 - min(pos) + 1 >= 12
    ORDER BY doc_id, start_pos
    """,
    "MAXIMAL REPEATED SUBSTRINGS — exact substring-level duplication "
    "(the suffix-array dedup of Lee et al., 'Deduplicating Training "
    "Data Makes Language Models Better', ACL'22, re-expressed for "
    "shuffle-based execution): every token 8-gram is hashed, 8-grams "
    "occurring more than once ANYWHERE in the corpus mark their "
    "positions, and per document the overlapping/adjacent marked "
    "intervals [pos, pos+7] are merged into maximal runs (interval "
    "merge via running-max-end window), keeping runs >= 12 tokens — "
    "each output row is a maximal duplicated region a substring-dedup "
    "pass would cut. Scale: the corpus shuffles xxhash64(8-gram) "
    "int64s, never gram strings (collision odds ~ n^2/2^65 — at 1e12 "
    "grams one expected false mark, bounded and documented; the "
    "DuckDB oracle groups the literal strings so the hash-match also "
    "certifies the hashed plan); the duplicated-gram table is "
    "dup-grain, the semi-join is co-partitioned on the hash, and the "
    "interval merge windows are keyed per doc_id",
)
def maximal_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", text.tokens("text").alias("toks")).filter(
        F.size("toks") >= 8
    )
    g = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 7), "
                "i -> struct(i AS pos, "
                "xxhash64(concat_ws(' ', slice(toks, i, 8))) AS gh))"
            )
        ).alias("u"),
    ).select("doc_id", F.col("u.pos").alias("pos"), F.col("u.gh").alias("gh"))
    # consumed twice (dup-gram table + position probe): lazy barrier so
    # the tokenize+explode runs once per action, not per consumer
    g = barrier(g)
    dup = (
        g.groupBy("gh").agg(F.count("*").alias("cnt")).filter(F.col("cnt") > 1)
    ).select("gh")
    p = g.join(dup, "gh", "left_semi").select("doc_id", "pos")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = p.withColumn(
        "brk",
        F.when(
            F.col("pos")
            <= F.coalesce(F.max(F.col("pos") + 7).over(w_prev), F.lit(-1)) + 1,
            0,
        ).otherwise(1),
    )
    isl = r.withColumn(
        "island",
        F.sum("brk").over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("int").alias("start_pos"),
            (F.max("pos") + 7 - F.min("pos") + 1).cast("int").alias("run_token_len"),
        )
        .filter(F.col("run_token_len") >= 12)
        .select("doc_id", "start_pos", "run_token_len")
        .orderBy("doc_id", "start_pos")
    )


@_register(
    "golden_record_parts",
    """
    WITH fam AS (
        SELECT p_brand, split_part(p_name, ' ', 2) AS noun,
               p_partkey, p_type, p_size, p_retailprice,
               count(*) OVER (PARTITION BY p_brand,
                              split_part(p_name, ' ', 2)) AS n_members,
               min(p_partkey) OVER (PARTITION BY p_brand,
                                    split_part(p_name, ' ', 2))
                   AS golden_partkey,
               row_number() OVER (PARTITION BY p_brand,
                                  split_part(p_name, ' ', 2)
                                  ORDER BY p_retailprice DESC,
                                           p_partkey DESC) AS rn
        FROM part
    )
    SELECT p_brand, noun, CAST(n_members AS BIGINT) AS n_members,
           golden_partkey,
           p_type AS rep_type, p_size AS rep_size,
           p_retailprice AS rep_price
    FROM fam
    WHERE rn = 1 AND n_members >= 2
    ORDER BY p_brand, noun
    """,
    "GOLDEN-RECORD SURVIVORSHIP (MDM / entity-consolidation): duplicate "
    "part families (blocked on brand + name noun, the "
    "fuzzy_part_duplicates blocking key) collapse to ONE mastered "
    "record via explicit survivorship rules — stable id = min key in "
    "family, representative attributes taken from the highest-priced "
    "member (the 'most complete/most recent wins' rule made "
    "deterministic with a full tie-break), family size kept as audit. "
    "All three windows share one partition key so the family never "
    "leaves its shuffle bucket; no self-join, no collect. The "
    "consolidation step that turns record-linkage PAIRS "
    "(fuzzy_part_duplicates / fellegi_sunter_part_linkage) into a "
    "deduplicated dimension",
)
def golden_record_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = load_table(spark, sf_dir, "part")
    # coalesce('') matches DuckDB split_part on single-token names
    noun = F.coalesce(F.element_at(F.split("p_name", " "), 2), F.lit(""))
    fam_w = Window.partitionBy("p_brand", "noun")
    rank_w = fam_w.orderBy(F.col("p_retailprice").desc(), F.col("p_partkey").desc())
    fam = parts.withColumn("noun", noun).select(
        "p_brand",
        "noun",
        "p_partkey",
        "p_type",
        "p_size",
        "p_retailprice",
        F.count("*").over(fam_w).alias("n_members"),
        F.min("p_partkey").over(fam_w).alias("golden_partkey"),
        F.row_number().over(rank_w).alias("rn"),
    )
    return (
        fam.filter((F.col("rn") == 1) & (F.col("n_members") >= 2))
        .select(
            "p_brand",
            "noun",
            "n_members",
            "golden_partkey",
            F.col("p_type").alias("rep_type"),
            F.col("p_size").alias("rep_size"),
            F.col("p_retailprice").alias("rep_price"),
        )
        .orderBy("p_brand", "noun")
    )


@_register(
    "cross_source_dup_flow",
    f"""
    WITH sets AS (
        SELECT doc_id, source, n_chars, list_distinct({_D_SHINGLES}) AS sh
        FROM documents
    ),
    ne AS (SELECT * FROM sets WHERE len(sh) > 0),
    p AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
               a.source AS source_kept, b.source AS source_dropped,
               b.n_chars AS dropped_chars,
               len(list_intersect(a.sh, b.sh)) AS i,
               len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
        FROM ne a JOIN ne b ON a.doc_id < b.doc_id
    )
    SELECT source_kept, source_dropped,
           count(*) AS n_pairs,
           CAST(sum(dropped_chars) AS BIGINT) AS dropped_chars
    FROM p WHERE i * 1.0 / u >= 0.5
    GROUP BY source_kept, source_dropped
    ORDER BY n_pairs DESC, source_kept, source_dropped
    """,
    "CROSS-SOURCE DUPLICATION FLOW — dedup ATTRIBUTION: every "
    "near-dup pair (exact prefix-filtered Jaccard >= 0.5, the "
    "prefix_jaccard_pairs production path) charges the dropped "
    "document's source against the keeper's (first-writer, min "
    "doc_id), rolled up into a source x source flow matrix with the "
    "char mass dedup removes — the audit that shows WHICH crawls are "
    "republishing which (mirror detection) before mixture weights "
    "treat them as independent volume. The complement of "
    "source_shingle_overlap: that measures vocabulary overlap, this "
    "counts actual near-duplicate documents. Scale: identical plan to "
    "prefix_jaccard_pairs (its three keyed shuffles) plus a "
    "sources^2-bounded rollup; the oracle is the brute-force "
    "cross-join of the same semantics, so the hash-match proves the "
    "prefix pruning lossless through the attribution too",
)
def cross_source_dup_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    pairs = dedup.prefix_filter_jaccard_pairs(
        docs, "doc_id", text_col="text", threshold=0.5
    )
    meta = docs.select("doc_id", "source", "n_chars")
    a = meta.select(
        F.col("doc_id").alias("doc_id_a"), F.col("source").alias("source_kept")
    )
    b = meta.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("source").alias("source_dropped"),
        F.col("n_chars").alias("dc"),
    )
    return (
        pairs.join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .groupBy("source_kept", "source_dropped")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("dc").alias("dropped_chars"),
        )
        .orderBy(F.col("n_pairs").desc(), "source_kept", "source_dropped")
    )


@_register(
    "neardup_threshold_sweep",
    f"""
    WITH sets AS (
        SELECT doc_id, list_distinct({_D_SHINGLES}) AS sh FROM documents
    ),
    ne AS (SELECT * FROM sets WHERE len(sh) > 0),
    p AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
               len(list_intersect(a.sh, b.sh)) * 1.0
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                 AS j
        FROM ne a JOIN ne b ON a.doc_id < b.doc_id
    ),
    sweep AS (
        SELECT p.da, p.db, t.thr
        FROM p, (SELECT CAST(unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8]) AS DOUBLE) AS thr) t
        WHERE p.j >= t.thr
    )
    SELECT thr AS threshold,
           count(*) AS n_pairs,
           CAST(count(DISTINCT db) AS BIGINT) AS removable_docs_upper
    FROM sweep
    GROUP BY thr
    ORDER BY threshold
    """,
    "NEAR-DUP OPERATING CURVE: pair counts and an upper bound on "
    "removable documents (distinct higher-id pair members) at six "
    "candidate Jaccard thresholds — the sweep that sizes a dedup "
    "pass's aggressiveness BEFORE the 100 TB rewrite (too low deletes "
    "paraphrases, too high keeps mirrors). The pair stream is "
    "computed ONCE by the lossless prefix-filtered join at the most "
    "permissive threshold (0.3) — every stricter cutoff is a FILTER "
    "over those pairs, not a re-join (prefix filtering is monotone: "
    "candidates at t are a superset of candidates at t' > t); the "
    "sweep explodes six literals map-side into a 6-row rollup. The "
    "oracle re-states it as the brute-force cross join, so the "
    "hash-match proves the prefix pruning lossless at EVERY "
    "threshold simultaneously",
)
def neardup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    pairs = dedup.prefix_filter_jaccard_pairs(
        docs, "doc_id", text_col="text", threshold=0.3
    ).transform(barrier)  # one pair pass feeds both rollups
    thrs = [0.3, 0.4, 0.5, 0.6, 0.7, 0.8]
    # Bucket-and-accumulate instead of exploding the pair stream 6×
    # and running a per-threshold countDistinct (whose Expand doubled
    # the exploded volume again — the honest cost at the ×100 fixture
    # once invariants stopped count() from pruning the measures):
    # n_pairs(t) = Σ pairs in buckets ≥ t, and removable(t) =
    # |{b : max_j(b) ≥ t}| — "b has SOME pair ≥ t" is exactly
    # "b's max jaccard ≥ t", so one doc-grain max + two ≤6-row
    # bucket tables replace the 12× pair-stream blowup. The cumulative
    # step explodes thresholds over the TINY bucket frames only.
    bucket = F.lit(thrs[0])
    for t in thrs[1:]:
        bucket = F.when(F.col("jaccard") >= t, F.lit(t)).otherwise(bucket)
    pair_buckets = pairs.groupBy(bucket.alias("b")).agg(
        F.count("*").alias("c")
    )
    bmax = pairs.groupBy("doc_id_b").agg(F.max("jaccard").alias("jaccard"))
    doc_buckets = bmax.groupBy(bucket.alias("b")).agg(
        F.count("*").alias("c")
    )
    thr_lits = F.explode(F.array(*[F.lit(t) for t in thrs]))

    def _cum(buckets, out_col):
        return (
            buckets.select(thr_lits.alias("threshold"), "b", "c")
            .filter(F.col("b") >= F.col("threshold"))
            .groupBy("threshold")
            .agg(F.sum("c").alias(out_col))
        )

    return (
        _cum(pair_buckets, "n_pairs")
        .join(_cum(doc_buckets, "removable_docs_upper"), "threshold")
        .orderBy("threshold")
    )
