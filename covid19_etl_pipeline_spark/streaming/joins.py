"""Streaming joins (SURVEY §2.9 extension — the join shapes after
windowed aggregation and keyed state).

- ``purchase_context_join``: watermarked stream-stream inner join —
  the streaming twin of the batch ``events_before_purchase`` range
  join. Both sides buffer only inside their watermark horizon; the
  time-range predicate bounds state eviction, so state is
  O(events within the window), not O(stream).
- ``static_enrich_join``: stateless stream-static broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
