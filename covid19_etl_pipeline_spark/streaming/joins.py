"""Stream-stream join + foreachBatch incremental sink (SURVEY §2.9
extension — the two remaining Structured Streaming shapes after
windowed aggregation and arbitrary state).

- ``purchase_context_join``: watermarked stream-stream inner join —
  the streaming twin of the batch ``events_before_purchase`` range
  join. Both sides buffer only inside their watermark horizon; the
  time-range predicate bounds state eviction, so state is
  O(events within the window), not O(stream).
- ``foreach_batch_upsert``: the production streaming-sink pattern for
  targets without native streaming support: each micro-batch is folded
  into a keyed table via the batch ``upsert_on_key`` MERGE shape.
  Exactly-once comes from idempotent overwrite per key + the
  checkpoint's batch replay.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from covid19_etl_pipeline_spark.operators.partitioning import barrier
from covid19_etl_pipeline_spark.operators.setops import upsert_on_key


def purchase_context_join(
    purchases: DataFrame,
    events: DataFrame,
    window_minutes: int = 60,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Join each streaming purchase to the same user's events in the
    preceding ``window_minutes``. Equi key (user) + range predicate —
    identical semantics to the batch ``events_before_purchase`` join,
    expressed over two watermarked streams.
    """
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    e = events.withWatermark("ts", watermark).select(
        "user_id", F.col("ts").alias("e_ts"), "value"
    )
    return p.join(
        e,
        F.expr(
            f"p_user = user_id AND e_ts >= p_ts - INTERVAL {window_minutes} MINUTES "
            "AND e_ts < p_ts"
        ),
    )


def foreach_batch_upsert(
    table: str,
    keys: tuple[str, ...],
    reduce_batch: Callable[[DataFrame], DataFrame] | None = None,
    path: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` function that MERGEs every micro-batch
    into ``table`` on ``keys`` (updates win over existing rows).

    ``reduce_batch`` pre-collapses the batch to one row per key (e.g.
    latest-by-timestamp) before the merge. An eager ``barrier``
    materializes the merged result so the table can be overwritten
    while being read. ``path`` makes the table external (explicit data
    location instead of the warehouse dir).
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        reduced = reduce_batch(batch_df) if reduce_batch is not None else batch_df
        if spark.catalog.tableExists(table):
            merged = upsert_on_key(spark.table(table), reduced, keys)
        else:
            merged = reduced
        writer = barrier(merged, eager=True).write.mode("overwrite")
        if path is not None:
            writer = writer.option("path", path)
        writer.saveAsTable(table)

    return _apply


def latest_per_key(df: DataFrame, key: str, order_cols: tuple[str, ...]) -> DataFrame:
    """One row per key: lexicographic max over ``order_cols`` plus the
    remaining payload (single agg pass, the struct-argmax idiom)."""
    payload = [c for c in df.columns if c != key]
    mx = F.max(F.struct(*[F.col(c) for c in order_cols],
                        *[F.col(c) for c in payload if c not in order_cols]))
    out = df.groupBy(key).agg(mx.alias("__m"))
    return out.select(key, *[F.col(f"__m.{c}").alias(c) for c in payload])


def static_enrich_join(
    stream: DataFrame, dim: DataFrame, on: str = "user_id"
) -> DataFrame:
    """Stream-static broadcast enrichment: join a (small) static
    dimension into a stream map-side. STATELESS — unlike stream-stream
    joins there is no buffering and no watermark requirement, so the
    enrichment is exactly-once deterministic and costs one broadcast
    per micro-batch plan. The canonical production shape for
    dimension lookup (user profile, device registry, IP-geo) on an
    event stream; at scale the dimension refreshes by restarting the
    query or via a Delta/CDC-backed table, the join shape is unchanged.
    """
    return stream.join(F.broadcast(dim), on)
