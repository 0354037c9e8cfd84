"""Stateful streaming: session windows, stream-stream joins and
deduplication (SURVEY §2.9 extension surface).

The batch form of ``session_rollup`` is checked against an independent
pandas re-derivation; the streaming forms are checked against their
batch twins on the same data (the engine's stream==batch invariant).
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
from pyspark.sql import functions as F

from covid19_etl_pipeline_spark.catalog import load_table
from covid19_etl_pipeline_spark.sources.io import write_parquet
from covid19_etl_pipeline_spark.streaming.daily_rollup import EVENTS_SCHEMA
from covid19_etl_pipeline_spark.streaming.stateful import session_rollup, streaming_session_rollup

GAP = pd.Timedelta(minutes=30)


def _events(spark, sf_dir, max_user=10):
    return load_table(spark, sf_dir, "events").filter(F.col("user_id") < max_user)


def _pandas_sessions(pdf: pd.DataFrame) -> set[tuple]:
    """Independent session derivation: sort per user, split where the
    inter-event gap is >= 30 min (session_window half-open [start,
    start+gap) semantics), aggregate count/sum/bounds."""
    out = []
    for uid, g in pdf.sort_values(["user_id", "ts", "event_id"]).groupby("user_id"):
        cur = []
        prev = None
        for row in g.itertuples():
            if prev is not None and (row.ts - prev) >= GAP:
                out.append((uid, cur))
                cur = []
            cur.append(row)
            prev = row.ts
        out.append((uid, cur))
    return {
        (
            uid,
            rows[0].ts,
            rows[-1].ts + GAP,
            len(rows),
            round(sum(r.value for r in rows), 4),
        )
        for uid, rows in out
    }


def test_batch_session_rollup_matches_pandas_oracle(spark, sf_dir):
    ev = _events(spark, sf_dir)
    got = {
        (
            r["user_id"],
            r["session_start"],
            r["session_end"],
            r["n_events"],
            round(r["session_value"], 4),
        )
        for r in session_rollup(ev).collect()
    }
    expected = _pandas_sessions(ev.toPandas())
    assert got == expected


def _stage_stream_dir(spark, df, tmp_path, name, n_files=1):
    """Write `df` as exactly `n_files` parquet files into the staging
    area and copy them into the stream dir with increasing mtimes so the
    file source picks them up in a deterministic order."""
    stream_dir = tmp_path / name
    stream_dir.mkdir(exist_ok=True)
    stage = tmp_path / f"_stage_{name}_{len(os.listdir(stream_dir))}"
    # repartition (not coalesce): the source may have fewer partitions
    # than n_files, and coalesce can only shrink
    write_parquet(df.repartition(n_files), str(stage))
    t = 1_700_000_000 + len(os.listdir(stream_dir)) * 10
    for i, f in enumerate(sorted(p for p in os.listdir(stage) if p.endswith(".parquet"))):
        dst = stream_dir / f"{len(os.listdir(stream_dir)):03d}.parquet"
        shutil.copy(stage / f, dst)
        os.utime(dst, (t + i, t + i))
    return str(stream_dir)


def _drain(stream_df, query_name, output_mode):
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_streaming_session_rollup_matches_batch(spark, sf_dir, tmp_path):
    """Append-mode session windows: a far-future sentinel event advances
    the watermark so every real session finalizes and is emitted."""
    ev = _events(spark, sf_dir, max_user=5)
    src = _stage_stream_dir(spark, ev, tmp_path, "sess")

    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(10**9, max_ts + pd.Timedelta(days=30), 9999, "sentinel", 0.0, "{}")],
        EVENTS_SCHEMA,
    )
    _stage_stream_dir(spark, sentinel, tmp_path, "sess")
    # second sentinel => one more micro-batch after the watermark jump,
    # guaranteeing the finalized windows are flushed to the sink
    _stage_stream_dir(
        spark,
        sentinel.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY")),
        tmp_path,
        "sess",
    )

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _drain(streaming_session_rollup(stream), "t_sessions", "append")

    got = {
        (r["user_id"], r["session_start"], r["n_events"], round(r["session_value"], 4))
        for r in spark.sql("SELECT * FROM t_sessions").collect()
        if r["user_id"] != 9999
    }
    expected = {
        (r["user_id"], r["session_start"], r["n_events"], round(r["session_value"], 4))
        for r in session_rollup(ev).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream join == the batch range join on the
    same data (purchases x prior-60min events per user)."""
    from covid19_etl_pipeline_spark.streaming.joins import purchase_context_join

    ev = _events(spark, sf_dir, max_user=6)
    src = _stage_stream_dir(spark, ev, tmp_path, "ssj", n_files=2)

    def reader():
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    purchases = reader().filter(F.col("event_type") == "purchase")
    joined = purchase_context_join(purchases, reader())
    _drain(joined, "t_ssj", "append")

    got = spark.sql(
        "SELECT purchase_id, count(*) AS n, round(sum(value), 4) AS sv "
        "FROM t_ssj GROUP BY purchase_id"
    ).collect()
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    e = ev.select("user_id", F.col("ts").alias("e_ts"), "value")
    expected = (
        p.join(
            e,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 60 MINUTES"))
            & (F.col("e_ts") < F.col("p_ts")),
        )
        .groupBy("purchase_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sv"))
        .collect()
    )
    as_map = lambda rows: {r["purchase_id"]: (r["n"], r["sv"]) for r in rows}
    assert as_map(got) == as_map(expected)
    assert len(got) > 0


def test_streaming_dedup_across_microbatches(spark, sf_dir, tmp_path):
    """Rows re-delivered in a LATER micro-batch must be dropped: feed
    the same file twice, expect each event exactly once."""
    from covid19_etl_pipeline_spark.streaming.stateful import streaming_dedup

    ev = _events(spark, sf_dir, max_user=5)
    src = _stage_stream_dir(spark, ev, tmp_path, "dedup")
    _stage_stream_dir(spark, ev, tmp_path, "dedup")   # exact re-delivery

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _drain(streaming_dedup(stream, keys=("event_id",)), "t_dedup", "append")

    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM t_dedup").first()
    assert got["n"] == got["d"] == ev.count()
