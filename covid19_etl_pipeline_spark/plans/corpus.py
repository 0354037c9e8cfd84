"""Training-corpus assembly: splits, sampling, mixture weights, curriculum,
sequence packing, datacards.

Registered query family (22 entries); split from the
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
from covid19_etl_pipeline_spark.plans._shared import (
    _D_SHINGLES,
    _D_TOKS,
    _d_minhash,
)

@_register(
    "hash_split_documents",
    """
    WITH tagged AS (
        SELECT lang,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                         BETWEEN '0' AND 'b'                          THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                         IN ('c', 'd')                                THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, lang, count(*) AS n_docs
    FROM tagged GROUP BY split, lang ORDER BY split, lang
    """,
    "deterministic train/val/test assignment by content-key hash "
    "(md5 of the stable doc key -> 12/2/2 sixteenths). Unlike "
    "df.sample(), the split is reproducible across runs, engines, and "
    "repartitioning — the required property for training-data splits; "
    "embarrassingly parallel, no shuffle until the audit rollup",
)
def hash_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    first_hex = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    split = (
        F.when(first_hex.between("0", "b"), "train")
        .when(first_hex.isin("c", "d"), "val")
        .otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("split", "lang")
    )


@_register(
    "training_corpus",
    f"""
    WITH RECURSIVE
    norm AS (
        SELECT doc_id, lang, text,
               lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS ntext
        FROM documents
    ),
    qual AS (SELECT * FROM norm WHERE len({_D_TOKS}) >= 5),
    exact_keep AS (SELECT min(doc_id) AS doc_id FROM qual GROUP BY md5(ntext)),
    docs1 AS (SELECT q.* FROM qual q JOIN exact_keep e ON q.doc_id = e.doc_id),
    sigs AS (
        SELECT doc_id,
               {_d_minhash(0)} AS mh0, {_d_minhash(1)} AS mh1,
               {_d_minhash(2)} AS mh2, {_d_minhash(3)} AS mh3,
               {_d_minhash(4)} AS mh4, {_d_minhash(5)} AS mh5,
               {_d_minhash(6)} AS mh6, {_d_minhash(7)} AS mh7
        FROM (SELECT doc_id, {_D_SHINGLES} AS sh FROM docs1)
    ),
    bands AS (
        SELECT doc_id, 0 AS band, concat_ws('|', mh0, mh1) AS sig FROM sigs
        UNION ALL SELECT doc_id, 1, concat_ws('|', mh2, mh3) FROM sigs
        UNION ALL SELECT doc_id, 2, concat_ws('|', mh4, mh5) FROM sigs
        UNION ALL SELECT doc_id, 3, concat_ws('|', mh6, mh7) FROM sigs
    ),
    filt AS (SELECT * FROM bands WHERE sig IS NOT NULL AND sig <> ''),
    pairs AS (
        SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb
        FROM filt a JOIN filt b ON a.band = b.band AND a.sig = b.sig
                                AND a.doc_id < b.doc_id
    ),
    edges AS (SELECT pa AS s, pb AS d FROM pairs UNION ALL SELECT pb, pa FROM pairs),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach(node, label) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.d, r.label FROM reach r JOIN edges e ON r.node = e.s
    ),
    labels AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id, d.lang,
           CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)
                     BETWEEN '0' AND 'b' THEN 'train'
                WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)
                     IN ('c', 'd') THEN 'val'
                ELSE 'test' END AS split,
           CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS INT) AS n_tokens,
           md5(d.ntext) AS fingerprint
    FROM docs1 d LEFT JOIN labels l ON d.doc_id = l.node
    WHERE l.node IS NULL OR l.node = l.cluster_id
    ORDER BY d.doc_id
    """,
    "CAPSTONE — the full training-corpus preparation chain in one "
    "composed plan: normalize -> quality gate (>=5 tokens) -> exact "
    "dedup on the normalized fingerprint -> MinHash-LSH near-dup pairs "
    "-> connected-components clustering -> survivor selection -> "
    "deterministic train/val/test split. Every stage is an operator "
    "verified standalone elsewhere; this proves they COMPOSE, against "
    "one composed oracle (recursive CTE for the iterative stage). "
    "Narrow stages fuse; the only shuffles are the two dedup "
    "aggregations, the LSH band join, and the O(diameter) cluster "
    "rounds on the (tiny) clustered subset",
)
def training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    qual = docs.withColumn("__ntext", text.normalized_text("text")).filter(
        text.token_count("text") >= 5
    )
    # docs1 feeds BOTH the LSH pair generation and the survivor join;
    # a barrier keeps the scan + normalize + exact-dedup from running
    # twice (at 100 TB: a reliable checkpoint / staging write). LAZY:
    # its blocks materialize inside connected_components' eager edge
    # barrier (the first action over this subtree) instead of paying a
    # separate job. distinct=False: a pair repeated per shared band is
    # absorbed by the components' min-aggregate, so the pairs-dedup
    # shuffle is pure overhead in this composition.
    docs1 = dedup.drop_exact_dups(qual, "doc_id", "__ntext").transform(barrier)
    pairs = dedup.lsh_candidate_pairs(docs1, "doc_id", "text", distinct=False)
    labels = dedup.connected_components(pairs, "doc_id_a", "doc_id_b")
    survivors = dedup.drop_near_dups(docs1, "doc_id", labels)
    first_hex = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    split = (
        F.when(first_hex.between("0", "b"), "train")
        .when(first_hex.isin("c", "d"), "val")
        .otherwise("test")
    )
    return survivors.select(
        "doc_id",
        "lang",
        split.alias("split"),
        text.token_count("text").alias("n_tokens"),
        F.md5(F.col("__ntext").cast("binary")).alias("fingerprint"),
    ).orderBy("doc_id")


@_register(
    "sample_k_per_group",
    """
    WITH ranked AS (
        SELECT doc_id, lang,
               CAST(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS INT) AS rk
        FROM documents
    )
    SELECT lang, doc_id, rk FROM ranked WHERE rk <= 3 ORDER BY lang, rk
    """,
    "deterministic K-per-group sampling: rank by content-key hash and "
    "keep the first K — a reproducible 'pick 3 examples per language' "
    "(eval sets, few-shot prompts) that is stable across runs, engines, "
    "and partitioning, unlike df.sample(). One partitioned window pass",
)
def sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id"
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).cast("int").alias("rk"))
        .filter(F.col("rk") <= 3)
        .orderBy("lang", "rk")
    )


@_register(
    "source_mixture_weights",
    """
    WITH counts AS (
        SELECT source, count(*) AS n_docs,
               sum(n_chars) AS n_chars_total
        FROM documents GROUP BY source
    )
    SELECT source, n_docs,
           round(pow(n_docs, 0.7) / sum(pow(n_docs, 0.7)) OVER (), 6)
               AS mixture_weight,
           CAST(round(1000 * pow(n_docs, 0.7)
                      / sum(pow(n_docs, 0.7)) OVER (), 0) AS BIGINT)
               AS docs_at_budget_1k,
           CAST(n_chars_total AS BIGINT) AS n_chars_total
    FROM counts
    ORDER BY source
    """,
    "temperature-scaled source mixing (w_s proportional to n_s^0.7, the "
    "standard upweight-the-tail recipe for multi-source training "
    "corpora): per-source counts -> normalized sampling weights -> "
    "expected docs at a fixed budget. One aggregation + a global window "
    "over #sources rows (tiny)",
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars_total"),
    )
    w_all = Window.partitionBy()
    raw = F.pow("n_docs", 0.7)
    weight = raw / F.sum(raw).over(w_all)
    return counts.select(
        "source",
        "n_docs",
        F.round(weight, 6).alias("mixture_weight"),
        F.round(1000 * weight, 0).cast("bigint").alias("docs_at_budget_1k"),
        F.col("n_chars_total").cast("bigint").alias("n_chars_total"),
    ).orderBy("source")


@_register(
    "stratified_sample_documents",
    """
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <=
          CASE lang WHEN 'en' THEN '7' WHEN 'de' THEN '3' ELSE '1' END
    ORDER BY doc_id
    """,
    "deterministic stratified sampling: per-language rates (en 8/16, "
    "de 4/16, others 2/16) applied as a content-key hash threshold — "
    "downsample the over-represented stratum, keep the tail. Unlike "
    "df.sample(fraction, seed) the selection is reproducible across "
    "engines, runs, and repartitioning (the property training-data "
    "curation needs for auditable corpus composition); "
    "embarrassingly parallel — a pure filter, no shuffle, and the "
    "hash predicate pushes to the scan",
)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    first_hex = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    thresh = (
        F.when(F.col("lang") == "en", "7")
        .when(F.col("lang") == "de", "3")
        .otherwise("1")
    )
    return (
        docs.filter(first_hex <= thresh)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@_register(
    "pack_training_sequences",
    r"""
    WITH d AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT
                    % 8 AS INT) AS pack_group,
               md5(CAST(doc_id AS VARCHAR)) AS ord_key
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens, pack_group,
               CAST(coalesce(sum(n_tokens) OVER (
                   PARTITION BY pack_group ORDER BY ord_key
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS toks_before
        FROM d
    ),
    b AS (
        SELECT pack_group,
               CAST(toks_before // 512 AS INT) AS bin_id,
               doc_id, n_tokens
        FROM c
    )
    SELECT pack_group, bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM b
    GROUP BY pack_group, bin_id
    ORDER BY pack_group, bin_id
    """,
    "token-budget sequence packing (the batch-construction step of an "
    "LLM training pipeline): documents are hashed into independent "
    "pack groups, deterministically ordered by content-free md5 "
    "within each, and assigned to 512-token bins by the RUNNING token "
    "count before each doc (a doc straddling a boundary starts a new "
    "bin's overflow — the streaming-friendly first-fit-in-order "
    "discipline). Greedy global packing is inherently sequential; "
    "hash-grouping makes it embarrassingly parallel with bounded "
    "per-group state — the 100 TB answer (one window per group, no "
    "global order). Reproducible across engines AND repartitioning",
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ord_key = F.md5(F.col("doc_id").cast("string"))
    d = docs.select(
        "doc_id",
        F.size(text.tokens("text")).alias("n_tokens"),
        F.conv(F.substring(ord_key, 1, 2), 16, 10).cast("int").__mod__(8)
        .cast("int").alias("pack_group"),
        ord_key.alias("ord_key"),
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy("ord_key")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn(
        "toks_before",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint"),
    )
    return (
        c.withColumn(
            "bin_id", F.floor(F.col("toks_before") / F.lit(512)).cast("int")
        )
        .groupBy("pack_group", "bin_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("pack_group", "bin_id")
    )


@_register(
    "temporal_split_events",
    """
    WITH ranked AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) DESC, event_id DESC)
                   AS rn
        FROM events
    ),
    labeled AS (
        SELECT event_type,
               CASE WHEN rn <= 2 THEN 'test' ELSE 'train' END AS split
        FROM ranked
    )
    SELECT split, event_type, count(*) AS n_events
    FROM labeled GROUP BY split, event_type ORDER BY split, event_type
    """,
    "temporal (leave-last-out) train/test split: each user's 2 most "
    "recent events become the held-out set — the time-respecting split "
    "sequence models need (a random split would leak future events "
    "into training). One row_number window per user on the epoch-us "
    "timeline (micros on BOTH engines, event_id tie-break), then a "
    "split x event_type audit rollup that shares the user_id "
    "exchange's output. At 100 TB the window is per-user state — "
    "scales with executors like every raw-grain window here",
)
def temporal_split_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("t_us").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "user_id", "event_type", "event_id", t_us.alias("t_us")
    ).withColumn("rn", F.row_number().over(w))
    labeled = ranked.select(
        "event_type",
        F.when(F.col("rn") <= 2, F.lit("test")).otherwise(F.lit("train")).alias(
            "split"
        ),
    )
    return (
        labeled.groupBy("split", "event_type")
        .agg(F.count("*").alias("n_events"))
        .orderBy("split", "event_type")
    )


@_register(
    "next_event_training_pairs",
    """
    WITH seq AS (
        SELECT user_id, event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id)
                   AS to_type
        FROM events
    ),
    pairs AS (SELECT from_type, to_type FROM seq WHERE to_type IS NOT NULL),
    c AS (
        SELECT from_type, to_type, count(*) AS n FROM pairs
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 4) + 0.0
               AS transition_p
    FROM c ORDER BY from_type, to_type
    """,
    "next-event prediction pairs: each user's event stream becomes "
    "(current, next) training pairs via a lead window, rolled into the "
    "event-type transition matrix with per-source-state probabilities "
    "— the label-generation step for next-action models AND a Markov "
    "baseline in one query. The transition-probability window runs "
    "over the tiny type x type rollup, not the event stream; the only "
    "full-data shuffle is the per-user lead window",
)
def next_event_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seq = ev.select(
        "user_id", F.col("event_type").alias("from_type"), t_us.alias("t_us"), "event_id"
    ).withColumn("to_type", F.lead("from_type").over(w))
    c = (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    wp = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n",
        (F.round(F.col("n") / F.sum("n").over(wp), 4) + 0.0).alias("transition_p"),
    ).orderBy("from_type", "to_type")


@_register(
    "source_calibrated_quality",
    """
    SELECT doc_id, source, n_chars,
           round(percent_rank() OVER (PARTITION BY source
                                      ORDER BY n_chars, doc_id), 6) + 0.0 AS source_pctl
    FROM documents
    ORDER BY doc_id
    """,
    "cross-source score calibration: a raw quality feature (length "
    "here; any scorer in production) is rank-normalized WITHIN its "
    "source via percent_rank, so thresholds mean the same thing for "
    "every source before corpus mixing — the fix for 'source A's "
    "median is source B's top decile'. One window partitioned by "
    "source (horizontally scalable); unique doc_id tie-break keeps "
    "ranks deterministic",
)
def source_calibrated_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        (F.round(F.percent_rank().over(w), 6) + F.lit(0.0)).alias("source_pctl"),
    ).orderBy("doc_id")


@_register(
    "truncation_audit",
    r"""
    SELECT source,
           count(*) AS n_docs,
           CAST(count(*) FILTER (n_tokens > 60) AS BIGINT) AS n_over_limit,
           round(avg(CASE WHEN n_tokens > 60 THEN n_tokens - 60 ELSE 0 END), 4)
               AS avg_truncated_tokens,
           round(sum(least(n_tokens, 60)) * 1.0 / sum(n_tokens), 4)
               AS kept_token_fraction
    FROM (
        SELECT source, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        FROM documents
    )
    GROUP BY source
    ORDER BY source
    """,
    "context-length truncation audit per source: how many documents "
    "exceed the training context budget (60 tokens here), the mean "
    "tokens a hard truncation would discard, and the kept-token "
    "fraction — the go/no-go stat for choosing truncate vs chunk "
    "(chunk_documents) per source before corpus assembly. One narrow "
    "token-count pass + one source-keyed rollup; every measure is "
    "partial-aggregable (conditional sums), no second scan",
)
def truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nt = text.token_count("text")
    over = nt > 60
    return (
        docs.select("source", nt.alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("n_tokens") > 60, 1).otherwise(0))
            .cast("bigint")
            .alias("n_over_limit"),
            F.round(
                F.avg(
                    F.when(F.col("n_tokens") > 60, F.col("n_tokens") - 60).otherwise(0)
                ),
                4,
            ).alias("avg_truncated_tokens"),
            F.round(
                F.sum(F.least(F.col("n_tokens"), F.lit(60))) * 1.0 / F.sum("n_tokens"),
                4,
            ).alias("kept_token_fraction"),
        )
        .orderBy("source")
    )


@_register(
    "weighted_sample_documents",
    """
    WITH keyed AS (
        SELECT doc_id, n_chars,
               round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT
                         % 1000003 + 1) / 1000004.0) / n_chars, 8) AS sample_key
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_chars, sample_key,
               CAST(row_number() OVER (ORDER BY sample_key DESC, doc_id) AS INT) AS rk
        FROM keyed
    )
    SELECT rk, doc_id, n_chars, sample_key FROM ranked
    WHERE rk <= 20 ORDER BY rk
    """,
    "weight-proportional sampling without replacement (Efraimidis-"
    "Spirakis exponential keys): key = ln(u)/w with u a DETERMINISTIC "
    "content-hash uniform (md5 hex -> integer, identical in both "
    "engines) and w = n_chars, top-k by key = a w-weighted sample — "
    "how a corpus is length/quality-weighted WITHOUT materializing "
    "per-row random state or a resample loop. One narrow keying pass "
    "+ TakeOrderedAndProject top-k (per-partition heaps, no global "
    "sort); reproducible across runs, engines, and repartitioning — "
    "the auditability property df.sample(weights=...) cannot give",
)
def weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hx = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10).cast(
        "long"
    )
    u = (hx % 1000003 + 1) / F.lit(1000004.0)
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.round(F.log(u) / F.col("n_chars"), 8).alias("sample_key"),
    )
    w = Window.orderBy(F.col("sample_key").desc(), "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 20)
        .select("rk", "doc_id", "n_chars", "sample_key")
        .orderBy("rk")
    )


@_register(
    "epoch_upsample_documents",
    """
    WITH weighted AS (
        SELECT doc_id, source,
               CASE WHEN source IN ('src0', 'src1', 'src2') THEN 2.5
                    WHEN source IN ('src3', 'src4')         THEN 1.5
                    ELSE 1.0 END AS repeat_factor
        FROM documents
    ),
    counted AS (
        SELECT doc_id, source,
               CAST(floor(repeat_factor) AS INT)
               + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                           < lpad(to_hex(CAST(256 * (repeat_factor
                                                     - floor(repeat_factor))
                                         AS INT)), 2, '0')
                      THEN 1 ELSE 0 END AS n_repeats
        FROM weighted
    )
    SELECT doc_id, source, CAST(r AS INT) AS repeat_idx
    FROM counted, LATERAL unnest(range(1, n_repeats + 1)) AS t(r)
    ORDER BY doc_id, repeat_idx
    """,
    "epoch up-sampling by mixture weight — the corpus-assembly stage "
    "that materializes per-source repeat factors (e.g. quality source "
    "x2.5): integer part via sequence-explode, FRACTIONAL part as a "
    "deterministic content-hash Bernoulli (hash prefix < threshold "
    "byte), so 2.5 means every doc twice plus a reproducible half of "
    "docs a third time. Pure narrow ops (no shuffle before the output "
    "sort) and auditable: the same doc always gets the same repeat "
    "count across runs, engines, and partitionings",
)
def epoch_upsample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rf = (
        F.when(F.col("source").isin("src0", "src1", "src2"), 2.5)
        .when(F.col("source").isin("src3", "src4"), 1.5)
        .otherwise(1.0)
    )
    frac_threshold = F.lpad(
        F.hex((256 * (F.col("repeat_factor") - F.floor("repeat_factor"))).cast("int")),
        2,
        "0",
    )
    extra = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < F.lower(frac_threshold),
        1,
    ).otherwise(0)
    counted = (
        docs.select("doc_id", "source", rf.alias("repeat_factor"))
        .withColumn(
            "n_repeats", (F.floor("repeat_factor").cast("int") + extra).cast("int")
        )
    )
    return (
        counted.select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1), F.col("n_repeats"))).alias("repeat_idx"),
        )
        .select("doc_id", "source", F.col("repeat_idx").cast("int").alias("repeat_idx"))
        .orderBy("doc_id", "repeat_idx")
    )


@_register(
    "recsys_negative_samples",
    """
    WITH np AS (SELECT count(*) AS n FROM part),
    pidx AS (
        SELECT p_partkey,
               CAST(row_number() OVER (ORDER BY p_partkey) AS BIGINT) AS pi
        FROM part
    ),
    draws AS (
        SELECT c.c_custkey, t.i,
               (('0x' || substr(md5(CAST(c.c_custkey AS VARCHAR) || '|'
                                   || CAST(t.i AS VARCHAR)), 1, 12))::UBIGINT
                % np.n) + 1 AS pi
        FROM customer c CROSS JOIN np, LATERAL unnest(range(1, 9)) AS t(i)
    ),
    cand AS (
        SELECT d.c_custkey, p.p_partkey, min(d.i) AS i
        FROM draws d JOIN pidx p ON d.pi = p.pi
        GROUP BY d.c_custkey, p.p_partkey
    ),
    interacted AS (
        SELECT DISTINCT o.o_custkey, l.l_partkey
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    negatives AS (
        SELECT c.c_custkey, c.p_partkey, c.i,
               row_number() OVER (PARTITION BY c.c_custkey
                                  ORDER BY c.i, c.p_partkey) AS rk
        FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM interacted x
                          WHERE x.o_custkey = c.c_custkey
                            AND x.l_partkey = c.p_partkey)
    )
    SELECT c_custkey, CAST(rk AS INT) AS neg_rank, p_partkey
    FROM negatives WHERE rk <= 3
    ORDER BY c_custkey, neg_rank
    """,
    "negative sampling for recommender/contrastive training over the "
    "user-item interaction graph: per customer, 8 deterministic hash "
    "draws index into the part dimension (draw-and-join — NEVER the "
    "O(users x items) cross join), collisions collapse keeping the "
    "earliest draw, interactions are anti-joined away, first 3 "
    "survivors per user kept. At 100 TB: draws are narrow arithmetic, "
    "the item index broadcasts (dims are small), and the anti join "
    "shuffles only the sampled candidates — sampling cost scales with "
    "users x draws, independent of catalog size. Content-hash draws "
    "make the negatives reproducible across engines and runs",
)
def recsys_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    n_parts = part.count()  # dimension-table scalar, a stats lookup at scale
    # small-dim global window: single partition is fine on a dimension
    pidx = part.select(
        "p_partkey",
        F.row_number().over(Window.orderBy("p_partkey")).cast("bigint").alias("pi"),
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    hx = F.conv(
        F.substring(
            F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit("|"), F.col("i").cast("string"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    draws = cust.select(
        "c_custkey", F.explode(F.sequence(F.lit(1), F.lit(8))).alias("i")
    ).select("c_custkey", "i", ((hx % n_parts) + 1).alias("pi"))
    cand = (
        draws.join(join_side(pidx, n_parts), "pi")
        .groupBy("c_custkey", "p_partkey")
        .agg(F.min("i").alias("i"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    interacted = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c_custkey"), F.col("l_partkey").alias("p_partkey"))
        # no distinct: LEFT ANTI against duplicated interaction rows is
        # identical, and the dedup was a full extra fact shuffle (the
        # oracle keeps DISTINCT for the NOT-EXISTS formulation only)
    )
    negatives = cand.join(interacted, ["c_custkey", "p_partkey"], "left_anti")
    w = Window.partitionBy("c_custkey").orderBy("i", "p_partkey")
    return (
        negatives.withColumn("neg_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("neg_rank") <= 3)
        .select("c_custkey", "neg_rank", "p_partkey")
        .orderBy("c_custkey", "neg_rank")
    )


@_register(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE
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
    pairs AS (
        SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb
        FROM filt a JOIN filt b ON a.band = b.band AND a.sig = b.sig
                                AND a.doc_id < b.doc_id
    ),
    edges AS (SELECT pa AS s, pb AS d FROM pairs UNION ALL SELECT pb, pa FROM pairs),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach(node, label) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.d, r.label FROM reach r JOIN edges e ON r.node = e.s
    ),
    labels AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id,
           coalesce(l.cluster_id, d.doc_id) AS cluster_id,
           CASE WHEN substr(md5(CAST(coalesce(l.cluster_id, d.doc_id) AS VARCHAR)),
                            1, 1) BETWEEN '0' AND 'b' THEN 'train'
                WHEN substr(md5(CAST(coalesce(l.cluster_id, d.doc_id) AS VARCHAR)),
                            1, 1) IN ('c', 'd') THEN 'val'
                ELSE 'test' END AS split
    FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
    ORDER BY d.doc_id
    """,
    "LEAKAGE-SAFE train/val/test split: hash-splitting on doc_id lets "
    "near-duplicates straddle train and test (silent eval "
    "contamination); here the split key is the near-dup CLUSTER id "
    "(LSH pairs -> connected components; singletons are their own "
    "cluster), so every near-dup family lands in ONE split by "
    "construction. The per-doc hash split (hash_split_documents) and "
    "the dedup pipeline compose into eval hygiene — same "
    "deterministic md5 split thresholds, same 12/2/2 ratios",
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(docs, "doc_id", "text")
    labels = dedup.connected_components(pairs, "doc_id_a", "doc_id_b").select(
        F.col("node").alias("doc_id"), F.col("label").alias("cl")
    )
    joined = docs.select("doc_id").join(labels, "doc_id", "left")
    cid = F.coalesce(F.col("cl"), F.col("doc_id"))
    first_hex = F.substring(F.md5(cid.cast("string")), 1, 1)
    split = (
        F.when(first_hex.between("0", "b"), "train")
        .when(first_hex.isin("c", "d"), "val")
        .otherwise("test")
    )
    return joined.select(
        "doc_id", cid.alias("cluster_id"), split.alias("split")
    ).orderBy("doc_id")


@_register(
    "loo_target_encoding",
    """
    WITH seg AS (
        SELECT c_mktsegment,
               count(*) AS n_seg,
               sum(c_acctbal) AS sum_bal
        FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment,
           round(c.c_acctbal, 4) AS c_acctbal,
           round((s.sum_bal - c.c_acctbal) / (s.n_seg - 1), 4) AS segment_loo_mean
    FROM customer c JOIN seg s ON c.c_mktsegment = s.c_mktsegment
    ORDER BY c.c_custkey
    """,
    "leave-one-out target encoding — the leakage-safe categorical "
    "feature: each row's segment mean EXCLUDES its own target value "
    "((sum - y) / (n - 1)), so the encoding never memorizes the row it "
    "describes. One per-category rollup (category-cardinality-sized, "
    "BROADCAST back onto the fact) + map-side arithmetic — no window, "
    "no per-row re-aggregation; the 100 TB cost is one scan + one "
    "tiny-table join regardless of category count",
)
def loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    seg = c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_seg"), F.sum("c_acctbal").alias("sum_bal")
    )
    loo = (F.col("sum_bal") - F.col("c_acctbal")) / (F.col("n_seg") - 1)
    return (
        c.join(F.broadcast(seg), "c_mktsegment")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round("c_acctbal", 4).alias("c_acctbal"),
            F.round(loo, 4).alias("segment_loo_mean"),
        )
        .orderBy("c_custkey")
    )


@_register(
    "length_bucketed_batches",
    f"""
    WITH t AS (
        SELECT doc_id, len({_D_TOKS}) AS n_tokens FROM documents
    ),
    b AS (
        SELECT CAST(floor(n_tokens / 64) AS INT) AS bucket, n_tokens FROM t
    )
    SELECT bucket,
           CAST(bucket * 64 AS INT) AS len_lo,
           CAST(bucket * 64 + 63 AS INT) AS len_hi,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(max(n_tokens) AS INT) AS max_tokens,
           round(1.0 - sum(n_tokens) * 1.0 / (count(*) * max(n_tokens)), 4)
               AS pad_waste_frac
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    "length-bucketed batching audit — the padding-waste number that "
    "drives sequence-bucketing decisions in training dataloaders: "
    "docs are binned into width-64 token-length buckets and each "
    "bucket reports how much compute pad-to-max batching would waste "
    "(1 - sum/(n*max)). Map-only projection + one agg keyed on the "
    "bucket id; at 100 TB this is a single pass over token counts "
    "(already materialized by the quality gate), shuffle is "
    "O(n_buckets) cells. The decision query BEFORE "
    "pack_training_sequences (which implements the packing itself)",
)
def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        F.floor(text.token_count("text") / 64).cast("int").alias("bucket"),
        text.token_count("text").alias("n_tokens"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.max("n_tokens").cast("int").alias("max_tokens"),
        )
        .select(
            "bucket",
            (F.col("bucket") * 64).cast("int").alias("len_lo"),
            (F.col("bucket") * 64 + 63).cast("int").alias("len_hi"),
            "n_docs",
            "sum_tokens",
            "max_tokens",
            F.round(
                1.0 - F.col("sum_tokens") / (F.col("n_docs") * F.col("max_tokens")), 4
            ).alias("pad_waste_frac"),
        )
        .select("bucket", "len_lo", "len_hi", "n_docs", "sum_tokens", "max_tokens", "pad_waste_frac")
        .orderBy("bucket")
    )


@_register(
    "curriculum_order_documents",
    f"""
    WITH s AS (
        SELECT doc_id, len({_D_TOKS}) AS n_tokens FROM documents
    ),
    q AS (
        SELECT round(quantile_cont(n_tokens, 0.75), 6) AS q75,
               round(quantile_cont(n_tokens, 0.50), 6) AS q50,
               round(quantile_cont(n_tokens, 0.25), 6) AS q25
        FROM s
    ),
    tiers AS (
        SELECT s.doc_id,
               CASE WHEN s.n_tokens >= q.q75 THEN 1
                    WHEN s.n_tokens >= q.q50 THEN 2
                    WHEN s.n_tokens >= q.q25 THEN 3
                    ELSE 4 END AS tier
        FROM s, q
    )
    SELECT doc_id, CAST(tier AS INT) AS tier,
           CAST(row_number() OVER (
                    ORDER BY tier,
                             md5(CAST(doc_id AS VARCHAR)),
                             doc_id) AS BIGINT) AS curriculum_rank
    FROM tiers ORDER BY curriculum_rank
    """,
    "curriculum ordering for staged training: docs fall into 4 "
    "difficulty tiers by QUARTILE CUTOFFS (token count as the "
    "difficulty proxy; any quality/perplexity score drops in), then "
    "are DETERMINISTICALLY shuffled within tier via md5(doc_id) so "
    "each epoch's order is reproducible. No global window anywhere: "
    "cutoffs are one scalar percentile row broadcast to a map-side "
    "CASE (at 100 TB: percentile_approx on the stats pass), the rank "
    "is a per-tier row_number (window keyed on tier) plus each "
    "tier's cumulative-count offset from a tiny self-joined count "
    "table — the distributed total-order idiom. Oracle states the "
    "same rank as one global window; thresholds rounded to 6dp on "
    "both sides so interpolation ulps cannot flip a boundary doc",
)
def curriculum_order_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", text.token_count("text").alias("n_tokens")
    )
    cuts = docs.agg(
        F.round(F.percentile("n_tokens", F.lit(0.75)), 6).alias("q75"),
        F.round(F.percentile("n_tokens", F.lit(0.50)), 6).alias("q50"),
        F.round(F.percentile("n_tokens", F.lit(0.25)), 6).alias("q25"),
    )
    tier = (
        F.when(F.col("n_tokens") >= F.col("q75"), 1)
        .when(F.col("n_tokens") >= F.col("q50"), 2)
        .when(F.col("n_tokens") >= F.col("q25"), 3)
        .otherwise(4)
        .cast("int")
    )
    tiers = docs.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        tier.alias("tier"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("__shuf"),
    )
    per_tier = tiers.withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy("tier").orderBy("__shuf", "doc_id")
        ),
    )
    counts = tiers.groupBy("tier").agg(F.count("*").alias("__n"))
    c2 = counts.select(F.col("tier").alias("__t2"), F.col("__n").alias("__n2"))
    offsets = (
        counts.join(F.broadcast(c2), F.col("__t2") < F.col("tier"), "left")
        .groupBy("tier")
        .agg(F.coalesce(F.sum("__n2"), F.lit(0)).alias("__off"))
    )
    return (
        per_tier.join(F.broadcast(offsets), "tier")
        .select(
            "doc_id",
            "tier",
            (F.col("__rk") + F.col("__off")).cast("bigint").alias("curriculum_rank"),
        )
        .orderBy("curriculum_rank")
    )


@_register(
    "corpus_datacard",
    f"""
    WITH t AS (
        SELECT source, lang,
               len({_D_TOKS}) AS n_tokens,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                   AS fp
        FROM documents
    )
    SELECT coalesce(source, '__all__') AS source,
           count(*) AS n_docs,
           CAST(count(DISTINCT lang) AS INT) AS n_langs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens), 4) AS avg_tokens,
           round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
           round(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens,
           round(1.0 - count(DISTINCT fp) * 1.0 / count(*), 4)
               AS exact_dup_frac
    FROM t
    GROUP BY GROUPING SETS ((source), ())
    ORDER BY source
    """,
    "corpus datacard — the per-source summary block a dataset "
    "datasheet publishes: doc/lang counts, token totals, exact "
    "interpolated token-length quantiles, and the exact-dup fraction "
    "from normalized-text fingerprints. One scan, GROUPING SETS "
    "(per-source + grand total in a single Expand pass, no UNION "
    "re-scan); count(DISTINCT fp) and count(DISTINCT lang) expand to "
    "the standard two-phase distinct-agg. At 100 TB the quantiles "
    "swap to percentile_approx (KLL sketch, mergeable) — the "
    "approx_percentile_check query audits exactly that substitution",
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "lang",
        text.token_count("text").alias("n_tokens"),
        F.md5(text.normalized_text("text").cast("binary")).alias("fp"),
    )
    g = t.groupingSets([["source"], []], "source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").cast("int").alias("n_langs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.5)), 4).alias("p50_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.9)), 4).alias("p90_tokens"),
        F.round(1.0 - F.countDistinct("fp") / F.count("*"), 4).alias(
            "exact_dup_frac"
        ),
    )
    return g.select(
        F.coalesce("source", F.lit("__all__")).alias("source"),
        "n_docs",
        "n_langs",
        "total_tokens",
        "avg_tokens",
        "p50_tokens",
        "p90_tokens",
        "exact_dup_frac",
    ).orderBy("source")


@_register(
    "temperature_mix_sources",
    """
    WITH counts AS (
        SELECT source, count(*) AS n_s FROM documents GROUP BY source
    ),
    quotas AS (
        SELECT source, n_s,
               CAST(floor(0.5 * sum(n_s) OVER ()
                          * sqrt(n_s) / sum(sqrt(n_s)) OVER ()) AS BIGINT)
                   AS quota
        FROM counts
    ),
    ranked AS (
        SELECT d.doc_id, d.source,
               row_number() OVER (PARTITION BY d.source
                                  ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                           d.doc_id) AS rn
        FROM documents d
    )
    SELECT r.doc_id, r.source
    FROM ranked r JOIN quotas q ON r.source = q.source
    WHERE r.rn <= q.quota
    ORDER BY r.doc_id
    """,
    "temperature-based source mixing (T=2, target fraction 0.5): the "
    "LLM-corpus rebalancer — per-source sampling quotas proportional "
    "to n^(1/T), flattening the source distribution so a dominant "
    "crawl stops drowning small high-quality sources. Selection is a "
    "content-hash rank within source (deterministic, reproducible "
    "under repartitioning) cut at the quota; quotas derive from one "
    "tiny per-source rollup with window totals (the fact is scanned "
    "once for counts, once for ranking). At 100 TB both passes are "
    "one shuffle each and the quota table broadcasts",
)
def temperature_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    w = Window.partitionBy()
    quota = F.floor(
        0.5 * F.sum("n_s").over(w) * F.sqrt("n_s") / F.sum(F.sqrt("n_s")).over(w)
    ).cast("bigint")
    quotas = counts.select("source", quota.alias("quota"))
    rw = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id"
    )
    ranked = docs.select(
        "doc_id", "source", F.row_number().over(rw).alias("rn")
    )
    return (
        ranked.join(F.broadcast(quotas), "source")
        .filter(F.col("rn") <= F.col("quota"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@_register(
    "dsir_importance_weights",
    r"""
    WITH toks AS (
        SELECT doc_id, lang,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents
    ),
    tb AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT % 64
                    AS BIGINT) AS b
        FROM toks
    ),
    bc AS (
        SELECT b,
               count(*) FILTER (lang = 'en') AS n_t,
               count(*) AS n_r
        FROM tb GROUP BY b
    ),
    tot AS (SELECT sum(n_t) AS tt, sum(n_r) AS tr FROM bc),
    lr AS (
        SELECT b,
               round(ln(((n_t + 1.0) / (tt + 64.0))
                        / ((n_r + 1.0) / (tr + 64.0))), 6) AS w
        FROM bc, tot
    ),
    per_doc AS (
        SELECT tb.doc_id,
               min(tb.lang) AS lang,
               count(*) AS n_tokens,
               round(sum(lr.w), 6) AS li
        FROM tb JOIN lr USING (b)
        GROUP BY tb.doc_id
    ),
    thr AS (SELECT quantile_cont(li, 0.8) AS q FROM per_doc)
    SELECT doc_id, lang,
           CAST(n_tokens AS INT) AS n_tokens,
           li + 0.0 AS log_importance,
           round(round(li * 1000000) / n_tokens) / 1000000.0 + 0.0
               AS li_per_token,
           round(li - q, 6) >= 0 AS selected
    FROM per_doc, thr
    ORDER BY doc_id
    """,
    "DSIR-style importance weighting for data selection (Xie et al., "
    "'Data Selection for Language Models via Importance Resampling', "
    "arXiv:2302.03169 — public method): features are tokens hashed "
    "into 64 buckets (md5-derived, engine-portable — the "
    "linear_quality_classifier convention); the target distribution "
    "is learned from the in-domain slice (lang='en' here, any "
    "high-quality reference corpus in production) and each document's "
    "log importance weight is sum over its tokens of "
    "ln(p_target(bucket)/p_raw(bucket)) with add-one smoothing — the "
    "likelihood-ratio score that upweights target-like documents for "
    "resampling. Two corpus passes over ONE lazily-barriered "
    "(doc_id, lang, bucket) token stream: pass 1 collapses to 64 "
    "bucket cells map-side (the learned 'model' is a 64-row broadcast "
    "— scan-speed inference, same as production DSIR's hashed n-gram "
    "tables); pass 2 folds the broadcast log-ratios per doc in one "
    "doc-keyed aggregation. Selection threshold = exact p80 of the "
    "per-doc weights, a 1-row scalar broadcast; the boundary "
    "comparison is rounded so interpolation float noise cannot flip "
    "membership across engines. At 100 TB drop the token-stream "
    "barrier and re-tokenize pass 2 (recompute beats caching a "
    "token-grade intermediate), and raise buckets 64 -> 2^20 hashed "
    "bigrams — the plan shape is unchanged",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = F.explode(text.tokens("text")).alias("tok")
    tb = (
        spread(docs, "doc_id")
        .select("doc_id", "lang", tok)
        .select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 8), 16, 10)
                .cast("long")
                % 64
            ).alias("b"),
        )
        .transform(barrier)  # both passes read the bucket stream
    )
    bc = tb.groupBy("b").agg(
        F.count(F.when(F.col("lang") == "en", 1)).alias("n_t"),
        F.count("*").alias("n_r"),
    )
    tot = bc.agg(F.sum("n_t").alias("tt"), F.sum("n_r").alias("tr"))
    lr = bc.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            F.log(
                ((F.col("n_t") + 1.0) / (F.col("tt") + 64.0))
                / ((F.col("n_r") + 1.0) / (F.col("tr") + 64.0))
            ),
            6,
        ).alias("w"),
    )
    per_doc = (
        tb.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count("*").alias("n_tokens"),
            F.round(F.sum("w"), 6).alias("li"),
        )
        # consumed TWICE (the p80 threshold probe below AND the final
        # projection); without a barrier the lr join + doc-grain agg
        # over the token blocks executes once per consumer. Eager +
        # doc-grain = tiny blocks; consistent ~0.05-0.15s win at sf0.1
        # (interleaved A/B, min 1.27->1.22), and at 100 TB it removes a
        # full second pass over the token stream
        .transform(barrier, eager=True)
    )
    thr = per_doc.agg(F.percentile(F.col("li"), 0.8).alias("q"))
    return (
        per_doc.crossJoin(F.broadcast(thr))
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            (F.col("li") + F.lit(0.0)).alias("log_importance"),
            # per-token mean in integer MICRO units: li is 6dp-rounded, so
            # li*1e6 is integral; the only tie-prone rounding then happens
            # on an exactly-representable x.5 double, which both engines
            # resolve identically (away from zero) — round(li/n, 6) instead
            # hits shortest-decimal-repr half boundaries where Spark's
            # BigDecimal HALF_UP and DuckDB's double rounding disagree
            # (found by the sf0.1 sweep: -0.051883/26)
            (
                F.round(F.round(F.col("li") * 1000000) / F.col("n_tokens"))
                / 1000000.0
                + F.lit(0.0)
            ).alias("li_per_token"),
            (F.round(F.col("li") - F.col("q"), 6) >= 0).alias("selected"),
        )
        .orderBy("doc_id")
    )


@_register(
    "doremi_domain_weights",
    r"""
    WITH tok AS (
        SELECT source, lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS t
        FROM documents
    ),
    vocab AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
    total AS (SELECT sum(cnt) AS n FROM vocab),
    scored AS (
        SELECT tok.source, ln(vocab.cnt * 1.0 / total.n) AS logp
        FROM tok JOIN vocab USING (t) CROSS JOIN total
    ),
    per_src AS (
        SELECT source, count(*) AS n_tokens,
               round(-avg(logp), 4) AS mean_nll
        FROM scored GROUP BY source
    ),
    ext AS (
        SELECT *, min(mean_nll) OVER () AS min_nll,
               count(*) OVER () AS n_sources
        FROM per_src
    ),
    term AS (
        SELECT *, round(exp(0.1 * (mean_nll - min_nll)), 6) AS t
        FROM ext
    )
    SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, mean_nll,
           round(1.0 / n_sources, 6) + 0.0 AS base_weight,
           round(t / sum(t) OVER (), 4) + 0.0 AS updated_weight
    FROM term
    ORDER BY source
    """,
    "DOMAIN REWEIGHTING, DoReMi-style one-step (Xie et al., "
    "arXiv:2305.10429): each source's proxy loss is its mean token "
    "negative-log-likelihood under the corpus unigram LM (the "
    "unigram_logprob_quality model, grouped by source instead of "
    "doc), and mixture weights update multiplicatively — "
    "w_s ∝ w_base * exp(eta * excess_loss_s) with eta=0.1, excess "
    "over the best source, renormalized — upweighting the domains "
    "the reference model finds hardest. This is the exponentiated-"
    "gradient step the DoReMi proxy loop applies per round, computed "
    "exactly from one corpus pass. Scale: vocabulary + corpus total "
    "broadcast (the trained artifact), ONE source-grain rollup; the "
    "min/sum windows run over the #sources-row result. Per-source "
    "NLL is rounded before exp so the update is engine-portable",
)
def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = docs.select("source", F.explode(text.tokens("text")).alias("t0")).select(
        "source", F.lower("t0").alias("t")
    )
    vocab = tok.groupBy("t").agg(F.count("*").alias("cnt")).transform(barrier)
    total = vocab.agg(F.sum("cnt").alias("n"))
    scored = (
        tok.join(F.broadcast(vocab), "t")
        .join(F.broadcast(total))
        .withColumn("logp", F.log(F.col("cnt") * 1.0 / F.col("n")))
    )
    per_src = scored.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.round(-F.avg("logp"), 4).alias("mean_nll"),
    )
    w_all = Window.partitionBy()
    ext = per_src.withColumn("min_nll", F.min("mean_nll").over(w_all)).withColumn(
        "n_sources", F.count("*").over(w_all)
    )
    term = ext.withColumn(
        "t", F.round(F.exp(0.1 * (F.col("mean_nll") - F.col("min_nll"))), 6)
    )
    return (
        term.select(
            "source",
            "n_tokens",
            "mean_nll",
            (F.round(F.lit(1.0) / F.col("n_sources"), 6) + F.lit(0.0)).alias(
                "base_weight"
            ),
            (
                F.round(F.col("t") / F.sum("t").over(w_all), 4) + F.lit(0.0)
            ).alias("updated_weight"),
        )
        .orderBy("source")
    )


@_register(
    "quantile_normalize_scores",
    """
    WITH pr AS (
        SELECT doc_id, source, n_chars,
               percent_rank() OVER (PARTITION BY source
                                    ORDER BY n_chars, doc_id) AS src_pct
        FROM documents
    ),
    ecdf AS (
        SELECT n_chars AS v,
               (sum(count(*)) OVER (ORDER BY n_chars
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)) * 1.0
                   / (SELECT count(*) FROM documents) AS cum_frac
        FROM documents GROUP BY n_chars
    )
    SELECT pr.doc_id, pr.source, pr.n_chars AS raw_score,
           round(pr.src_pct, 6) + 0.0 AS source_pct,
           min(ecdf.v) AS normalized_score
    FROM pr JOIN ecdf ON ecdf.cum_frac >= pr.src_pct
    GROUP BY pr.doc_id, pr.source, pr.n_chars, pr.src_pct
    ORDER BY pr.doc_id
    """,
    "QUANTILE NORMALIZATION across sources (the microarray/"
    "score-harmonization transform): each document's score (n_chars "
    "as the stand-in) maps to its WITHIN-SOURCE percent rank, then "
    "onto the pooled corpus distribution's value at that rank — after "
    "which every source's score distribution is the same pooled one, "
    "so cross-source thresholds mean the same thing everywhere (the "
    "fix when one crawl's 'quality 0.8' is another's 0.5). Scale: "
    "per-source ranks are keyed windows; the pooled quantile function "
    "is an ECDF over the VALUE-grain rollup (bounded by the score "
    "domain, not the corpus) whose one ordered window runs on that "
    "rollup; the rank->value lookup broadcasts the ECDF table and "
    "min-aggregates the first value at-or-above each rank — the "
    "inequality join fans out only to the bounded value domain",
)
def quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    pr = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.percent_rank().over(w_src).alias("src_pct"),
    )
    w_v = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    total = docs.agg(F.count("*").alias("n_total"))
    ecdf = (
        docs.groupBy(F.col("n_chars").alias("v"))
        .agg(F.count("*").alias("c"))
        .withColumn("cum", F.sum("c").over(w_v))
        .crossJoin(F.broadcast(total))
        .select("v", (F.col("cum") * 1.0 / F.col("n_total")).alias("cum_frac"))
    )
    joined = pr.join(F.broadcast(ecdf), F.col("cum_frac") >= F.col("src_pct"))
    return (
        joined.groupBy("doc_id", "source", "n_chars", "src_pct")
        .agg(F.min("v").alias("normalized_score"))
        .select(
            "doc_id",
            "source",
            F.col("n_chars").alias("raw_score"),
            (F.round("src_pct", 6) + F.lit(0.0)).alias("source_pct"),
            "normalized_score",
        )
        .orderBy("doc_id")
    )
