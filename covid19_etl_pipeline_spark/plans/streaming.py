"""Live Structured Streaming executions.

Registered query family (7 entries); split from the original monolithic
plans/queries.py.

Every entry here EXECUTES the stream (readStream -> stateful operators
-> memory sink driven to completion) and carries a full DuckDB oracle
equal to its batch twin: a fully-drained finite stream equals the batch
computation because the rollup entries run in complete mode (no
eviction), dedup runs without a watermark (exact state), and the staged
source is a single parquet file so the watermarked stream-stream join
drains in one micro-batch (the watermark never advances mid-stream; the
stream==batch pytest equality tests prove the same identity under
multi-batch arrival). Aggregated doubles are rounded to 4 decimals on
both sides per the plans/_registry.py conventions.
"""

from __future__ import annotations
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from covid19_etl_pipeline_spark.catalog import load_table
from covid19_etl_pipeline_spark.operators import text

from covid19_etl_pipeline_spark.plans._registry import _register
from covid19_etl_pipeline_spark.plans._shared import _D_SHINGLES, _d_minhash

def _staged_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage a stream-readable copy of ``events`` (micros timestamps,
    fixed schema — the nanos repair is a batch-reader concern) under a
    DETERMINISTIC path keyed on sf_dir, written once and reused: a fresh
    mkdtemp per invocation leaks a full events copy on every bench /
    driver run."""
    import hashlib
    import os
    import tempfile

    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    staging = os.path.join(tempfile.gettempdir(), f"spark_graft_stage_events_{key}")
    if not os.path.exists(os.path.join(staging, "_SUCCESS")):
        # write-to-temp + atomic rename: concurrent stagers race benignly
        # (one rename wins, losers read the winner's complete copy).
        # coalesce(1) pins the single-file invariant the watermarked
        # stream-stream join's oracle relies on (one file -> one
        # micro-batch -> the watermark never evicts a buffered row
        # before its matches arrive); it held incidentally at the test
        # SFs, this makes it explicit at any SF.
        tmp = staging + f".tmp{os.getpid()}"
        load_table(spark, sf_dir, "events").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        try:
            os.rename(tmp, staging)
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return staging


@_register(
    "streaming_daily_rollup_live",
    """
    SELECT CAST(time_bucket(INTERVAL 1 DAY, ts) AS DATE) AS event_date,
           round(sum(value), 4) + 0.0                    AS total_value,
           count(user_id)                                AS users_reporting
    FROM events
    GROUP BY event_date
    ORDER BY event_date
    """,
    "LIVE Structured Streaming execution of the daily rollup (SURVEY "
    "§2.9 extension): file-source readStream over a staged copy of "
    "events -> 1-day watermark -> 1-day tumbling window -> sum/"
    "non-null-count (the reference's aggregate_by_date semantics, "
    "data_transformer.py:258-276) -> memory sink driven to completion. "
    "Incremental state replaces the reference's daily full-table "
    "recompute; the watermark bounds state for late data. Oracled "
    "(r04 verdict #8): COMPLETE output mode evicts nothing, so the "
    "fully-drained stream equals the batch rollup exactly — the "
    "epoch-aligned 1-day window is DuckDB's time_bucket; the "
    "stream==batch equality test proves the same identity under "
    "multi-batch arrival",
)
def streaming_daily_rollup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid19_etl_pipeline_spark.streaming.daily_rollup import (
        read_events_stream,
        run_to_memory_sink,
        streaming_daily_rollup,
    )

    staging = _staged_events_dir(spark, sf_dir)
    rollup = streaming_daily_rollup(read_events_stream(spark, staging, 8))
    run_to_memory_sink(rollup, "streaming_daily_rollup_live")
    return (
        spark.table("streaming_daily_rollup_live")
        .select(
            "event_date",
            (F.round("total_value", 4) + F.lit(0.0)).alias("total_value"),
            "users_reporting",
        )
        .orderBy("event_date")
    )


@_register(
    "streaming_session_rollup_live",
    """
    WITH lagged AS (
        SELECT user_id, event_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id) AS prev_ts
        FROM events
    ),
    marked AS (
        SELECT user_id, ts, value,
               sum(CASE WHEN prev_ts IS NULL
                         OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
        FROM lagged
    )
    SELECT user_id,
           min(ts)                        AS session_start,
           max(ts) + INTERVAL 30 MINUTE   AS session_end,
           count(*)                       AS n_events,
           round(sum(value), 4) + 0.0     AS session_value
    FROM marked
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    "LIVE streaming session windows (SURVEY §2.9 extension): "
    "file-source stream -> 10-min watermark -> dynamic-gap "
    "session_window per user -> per-session count/sum, driven to "
    "completion through a memory sink in complete mode. Session "
    "windows MERGE as events arrive — state the watermark bounds and "
    "evicts in append mode; complete mode evicts nothing, so the "
    "drained stream equals the batch session build exactly. Oracled "
    "(r04 verdict #8) via the lag+cumulative-flag sessionize idiom: "
    "a new session starts when the gap to the previous event is "
    ">= 30 min (session_window merges overlapping [ts, ts+gap) "
    "intervals, so an exact-gap event starts a NEW session); "
    "session_end = last ts + gap, matching session_window.end",
)
def streaming_session_rollup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid19_etl_pipeline_spark.streaming.daily_rollup import (
        read_events_stream,
        run_to_memory_sink,
    )
    from covid19_etl_pipeline_spark.streaming.stateful import streaming_session_rollup

    staging = _staged_events_dir(spark, sf_dir)
    rollup = streaming_session_rollup(read_events_stream(spark, staging, 8))
    run_to_memory_sink(rollup, "streaming_session_rollup_live")
    return (
        spark.table("streaming_session_rollup_live")
        .select(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            (F.round("session_value", 4) + F.lit(0.0)).alias("session_value"),
        )
        .orderBy("user_id", "session_start")
    )


@_register(
    "streaming_dedup_live",
    """
    SELECT event_type, count(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    "LIVE streaming deduplication (streaming.stateful.streaming_dedup): "
    "the staged events stream unioned with itself (an at-least-once "
    "source that redelivers every row) -> dropDuplicates on event_id "
    "-> memory sink, then a batch rollup of the sink proves the 2x "
    "input collapsed back to exactly one row per event. State is "
    "per-key and watermark-evictable (dropDuplicatesWithinWatermark) "
    "in the bounded-state production form; the exact no-watermark form "
    "runs here so the drained result is deterministic. Oracled (r04 "
    "verdict #8): event_id is the events PK, so deduping the doubled "
    "stream reproduces the base table and the per-type rollup equals "
    "a plain batch GROUP BY; stream==batch equality in "
    "tests/test_streaming_stateful.py",
)
def streaming_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid19_etl_pipeline_spark.streaming.daily_rollup import (
        read_events_stream,
        run_to_memory_sink,
    )
    from covid19_etl_pipeline_spark.streaming.stateful import streaming_dedup

    staging = _staged_events_dir(spark, sf_dir)
    stream = read_events_stream(spark, staging, 8)
    doubled = stream.union(read_events_stream(spark, staging, 8))
    deduped = streaming_dedup(doubled, keys=("event_id",), watermark=None)
    run_to_memory_sink(deduped, "streaming_dedup_live", output_mode="append")
    return (
        spark.table("streaming_dedup_live")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
        .orderBy("event_type")
    )


@_register(
    "streaming_join_live",
    """
    SELECT p.user_id                  AS user_id,
           count(*)                   AS n_context_rows,
           count(DISTINCT p.event_id) AS n_purchases
    FROM events p
    JOIN events e
      ON e.user_id = p.user_id
     AND e.ts >= p.ts - INTERVAL 60 MINUTE
     AND e.ts <  p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.user_id
    ORDER BY user_id
    """,
    "LIVE watermarked stream-stream join (streaming.joins."
    "purchase_context_join): purchases stream inner-joined to the same "
    "user's events in the preceding 60 minutes, equi key + time-range "
    "predicate over two watermarked file streams -> memory sink -> "
    "batch per-user rollup of joined pairs. Both sides buffer only "
    "within the watermark horizon, so state is O(window), not "
    "O(stream). Oracled (r04 verdict #8) with the batch range-join "
    "SQL: the staged source is one parquet file, so the join drains "
    "in a single micro-batch and the watermark never evicts a "
    "buffered row before its matches arrive — under multi-batch "
    "arrival the same identity is proven by the stream==batch "
    "equality test (tests/test_streaming_stateful.py)",
)
def streaming_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid19_etl_pipeline_spark.streaming.daily_rollup import (
        read_events_stream,
        run_to_memory_sink,
    )
    from covid19_etl_pipeline_spark.streaming.joins import purchase_context_join

    staging = _staged_events_dir(spark, sf_dir)
    purchases = read_events_stream(spark, staging, 8).filter(
        F.col("event_type") == "purchase"
    )
    events = read_events_stream(spark, staging, 8)
    joined = purchase_context_join(purchases, events, window_minutes=60)
    run_to_memory_sink(joined, "streaming_join_live", output_mode="append")
    return (
        spark.table("streaming_join_live")
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_context_rows"),
            F.countDistinct("purchase_id").alias("n_purchases"),
        )
        .orderBy("user_id")
    )


def _staged_docs_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage a stream-readable copy of ``documents`` under a
    deterministic path keyed on sf_dir (same policy as
    ``_staged_events_dir`` — written once, reused across runs)."""
    import hashlib
    import os
    import tempfile

    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    staging = os.path.join(tempfile.gettempdir(), f"spark_graft_stage_docs_{key}")
    if not os.path.exists(os.path.join(staging, "_SUCCESS")):
        tmp = staging + f".tmp{os.getpid()}"
        load_table(spark, sf_dir, "documents").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        try:
            os.rename(tmp, staging)
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return staging


@_register(
    "streaming_corpus_gate_live",
    r"""
    SELECT lang,
           count(*)                     AS n_admitted,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (
        SELECT lang, min(n_chars) AS n_chars
        FROM documents
        WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 5
        GROUP BY lang, md5(text)
    ) survivors
    GROUP BY lang
    ORDER BY lang
    """,
    "LIVE streaming corpus intake — the ingestion half of the training "
    "pipeline run as a stream: documents file-stream -> quality gate "
    "(>= 5 tokens, the training_corpus precondition) -> streaming "
    "exact dedup on (lang, content fingerprint) -> append sink -> "
    "per-lang admitted counts. Composes the same operators the batch "
    "capstone verifies, incrementally: a crawl batch landing every few "
    "minutes is gated and deduped as it arrives instead of re-scanning "
    "the corpus nightly; fingerprint state is per-key (watermark-"
    "evictable at scale against a persisted index — the "
    "incremental_corpus_dedup batch twin is the replay/backfill path). "
    "Oracled (r04 verdict #8): keying the dedup on (lang, fp) instead "
    "of fp alone makes the rollup deterministic at EVERY scale — the "
    "sf0.1 corpus has 7 identical texts labeled with two langs, and a "
    "fp-only dedup would keep an arrival-order-dependent copy; every "
    "aggregated column (lang in the key; n_chars a function of text) "
    "is then independent of which physical row survived",
)
def streaming_corpus_gate_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid19_etl_pipeline_spark.streaming.daily_rollup import run_to_memory_sink

    staging = _staged_docs_dir(spark, sf_dir)
    schema = load_table(spark, sf_dir, "documents").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(staging)
    )
    gated = (
        stream.filter(F.size(text.tokens("text")) >= 5)
        .withColumn("__fp", F.md5(F.col("text").cast("binary")))
        .dropDuplicates(["lang", "__fp"])
    )
    run_to_memory_sink(gated, "streaming_corpus_gate_live", output_mode="append")
    return (
        spark.table("streaming_corpus_gate_live")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_admitted"),
            F.sum(F.col("n_chars")).alias("total_chars"),
        )
        .orderBy("lang")
    )


@_register(
    "streaming_enrich_join_live",
    """
    WITH firsts AS (
        SELECT user_id, event_type AS channel,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    dim AS (SELECT user_id, channel FROM firsts WHERE rn = 1)
    SELECT d.channel, e.event_type,
           count(*) AS n_events,
           round(sum(e.value), 4) AS sum_value
    FROM events e JOIN dim d USING (user_id)
    GROUP BY d.channel, e.event_type
    ORDER BY channel, event_type
    """,
    "LIVE stream-static broadcast enrichment (streaming.joins."
    "static_enrich_join): the events stream joins a static per-user "
    "dimension (acquisition channel = event type of the user's first "
    "event, min_by (ts, event_id) — deterministic tie-break) map-side "
    "via broadcast, appends to a memory sink, and the fully-consumed "
    "sink rolls up per (channel, event_type). Because the enrichment "
    "is STATELESS — no buffering, no watermark, nothing dropped — the "
    "drained stream equals the batch join exactly, so unlike the "
    "other five live streaming entries this one carries a full DuckDB "
    "oracle: the hash check proves stream==batch end-to-end, not just "
    "row counts. The canonical dimension-lookup shape on a stream; "
    "state is ZERO (vs the watermark-bounded stream-stream join), the "
    "dimension ships once per micro-batch plan",
)
def streaming_enrich_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid19_etl_pipeline_spark.sources.io import read_parquet
    from covid19_etl_pipeline_spark.streaming.daily_rollup import (
        read_events_stream,
        run_to_memory_sink,
    )
    from covid19_etl_pipeline_spark.streaming.joins import static_enrich_join

    staging = _staged_events_dir(spark, sf_dir)
    dim = (
        read_parquet(spark, staging)
        .groupBy("user_id")
        .agg(
            F.min_by("event_type", F.struct("ts", "event_id")).alias("channel")
        )
    )
    stream = read_events_stream(spark, staging, 8)
    enriched = static_enrich_join(stream, dim).select(
        "channel", "event_type", "value"
    )
    run_to_memory_sink(
        enriched, "streaming_enrich_join_live", output_mode="append"
    )
    return (
        spark.table("streaming_enrich_join_live")
        .groupBy("channel", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("channel", "event_type")
    )


@_register(
    "streaming_neardup_probe_live",
    f"""
    WITH sigs AS (
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
    oldb AS (
        SELECT DISTINCT band, sig FROM bands
        WHERE doc_id % 5 <> 0 AND sig <> ''
    ),
    newb AS (SELECT doc_id, band, sig FROM bands WHERE doc_id % 5 = 0),
    hits AS (
        SELECT n.doc_id,
               CAST(count(o.band) AS INT) AS n_band_hits
        FROM newb n
        LEFT JOIN oldb o ON n.band = o.band AND n.sig = o.sig
        GROUP BY n.doc_id
    )
    SELECT doc_id, n_band_hits,
           CASE WHEN n_band_hits > 0 THEN 'candidate' ELSE 'novel' END
               AS status
    FROM hits
    ORDER BY doc_id
    """,
    "LIVE streaming near-dup PROBE — the arrival-time half of "
    "incremental_corpus_dedup run as a real stream: new documents "
    "(doc_id %% 5 = 0) file-stream in, each micro-batch computes "
    "MinHash band signatures ROW-LEVEL (dedup.minhash_value inside "
    "the projection — no streaming aggregation, so the query stays in "
    "append mode) and LEFT-joins the static persisted band index of "
    "the old corpus (distinct (band, sig) of dedup.lsh_band_table — "
    "all a membership probe needs, and the stream-static join ships "
    "it once per micro-batch plan). Verdict per new doc after drain: "
    "n_band_hits in 0..4 and candidate/novel — the cheap "
    "arrival-time gate a 100 TB ingest runs on every crawl batch "
    "BEFORE the expensive verify stage (the batch twin carries the "
    "full exact+near pipeline; this is its probe front-end, state "
    "ZERO on the stream side). Oracle: identical md5 minhash/banding "
    "in DuckDB over the same corpus split — a fully-drained finite "
    "stream equals the batch probe exactly because the join is "
    "stateless",
)
def streaming_neardup_probe_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid19_etl_pipeline_spark.operators import dedup
    from covid19_etl_pipeline_spark.streaming.daily_rollup import (
        run_to_memory_sink,
    )

    staging = _staged_docs_dir(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    # static persisted index: the old corpus's band table, deduped to
    # its distinct (band, sig) probe keys (lsh_band_table already
    # drops empty signatures, so an empty-sig stream row can't match)
    old_idx = (
        dedup.lsh_band_table(
            docs.filter(F.col("doc_id") % 5 != 0), "doc_id", "text"
        )
        .select("band", "sig")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(staging)
    )
    sh = text.shingles(text.tokens("text"), k=3)
    # Row-level minhash with the digest economy the batch path gets
    # from minhash_signatures: 8 inline dedup.minhash_value(sh, i)
    # calls each re-evaluate tokenize+shingle AND an md5 transform
    # over the whole shingle array (Catalyst does not CSE across
    # higher-order-function lambdas) — 8 shingle passes + 8 md5
    # passes per row where 1 + 2 suffice (each md5 digest yields four
    # 8-hex hash words). Staging the shingle array and the TWO digest
    # arrays as named columns makes every band signature a cheap
    # substring+array_min over shared buffers; signatures are
    # bit-identical (same digests, same words). Still a stateless
    # per-row projection — append-mode safe.
    def _digest(g: int) -> Column:
        # closure, NOT a default-arg lambda: F.transform treats a
        # two-parameter lambda as (element, index)
        return F.transform(
            F.col("__sh"), lambda s: F.md5(F.concat(F.lit(f"{g}|"), s))
        ).alias(f"__d{g}")

    digests = [_digest(g) for g in range(2)]

    def _mh(index: int) -> Column:
        g, w = index // 4, index % 4
        return F.array_min(
            F.transform(
                F.col(f"__d{g}"), lambda d: F.substring(d, 1 + 8 * w, 8)
            )
        )

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("|", _mh(2 * b), _mh(2 * b + 1)).alias("sig"),
            )
            for b in range(4)
        ]
    )
    probes = (
        stream.filter(F.col("doc_id") % 5 == 0)
        .select(F.col("doc_id"), sh.alias("__sh"))
        .select("doc_id", *digests)
        .select(F.col("doc_id"), F.explode(band_structs).alias("bs"))
        .select(
            "doc_id",
            F.col("bs.band").alias("band"),
            F.col("bs.sig").alias("sig"),
        )
        .join(F.broadcast(old_idx), ["band", "sig"], "left")
    )
    run_to_memory_sink(
        probes, "streaming_neardup_probe_live", output_mode="append"
    )
    return (
        spark.table("streaming_neardup_probe_live")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0))
            .cast("int")
            .alias("n_band_hits")
        )
        .select(
            "doc_id",
            "n_band_hits",
            F.when(F.col("n_band_hits") > 0, "candidate")
            .otherwise("novel")
            .alias("status"),
        )
        .orderBy("doc_id")
    )
