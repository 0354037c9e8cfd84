"""Streaming form of the daily rollup (SURVEY §7.2 step 9).

The reference's cadence is a daily batch overwrite
(dags/covid_pipeline_dag.py:101 cron). The streaming equivalent keeps
the SAME aggregation semantics as ``aggregate_by_date``
(data_transformer.py:258-276) but computes it incrementally:

    file/kafka source → withWatermark → 1-day tumbling window →
    sum/count per window → sink

Late data is handled by the watermark instead of the reference's
full-table recompute; at 100 TB/day this is the difference between an
incremental state update and a daily full scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Explicit schema for the events stream (readStream requires one —
#: schema-on-read inference is a batch-only convenience).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def streaming_daily_rollup(
    events: DataFrame,
    watermark: str = "1 day",
    window_size: str = "1 day",
) -> DataFrame:
    """Tumbling-window daily rollup over a streaming events DataFrame.

    Mirrors the batch ``aggregate_by_date`` measures: sum(value) and
    non-null user count per day. ``count(user_id)`` keeps the
    reference's non-null (not distinct) semantics
    (data_transformer.py:275).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_size).alias("w"))
        .agg(
            F.sum("value").alias("total_value"),
            F.count("user_id").alias("users_reporting"),
        )
        .select(
            F.col("w.start").cast("date").alias("event_date"),
            "total_value",
            "users_reporting",
        )
    )


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    NOTE: parquet TIMESTAMP(NANOS) inputs need
    ``spark.sql.legacy.parquet.nanosAsLong`` plus an explicit rebuild —
    for the synthetic catalog prefer feeding the stream from a
    pre-normalized directory (tests write one with ``write_parquet``).
    """
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def run_to_memory_sink(
    rollup: DataFrame,
    query_name: str = "daily_rollup_stream",
    output_mode: str = "complete",
) -> None:
    """Drive the streaming query synchronously to completion against a
    memory sink (local smoke-test harness; production uses a real sink
    + trigger). ``complete`` fits aggregation queries; row-shaped
    queries (dedup, stream-stream joins) need ``append``."""
    q = (
        rollup.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

