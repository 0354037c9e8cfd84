"""Stateful streaming operators (SURVEY §2.9 — absent from the
reference, engine extension per §7.2 step 9).

Two stateful shapes beyond the tumbling-window rollup:

- ``session_rollup``: built-in ``session_window`` (dynamic-gap session
  aggregation). Works on BOTH batch and streaming DataFrames — the
  batch form doubles as the oracle for the streaming form, and as a
  cross-check against the lag/cumsum ``sessionize`` registry query.
- ``streaming_dedup``: keyed deduplication whose per-key state the
  watermark evicts.

At 100 TB/day the difference between these and the reference's daily
full recompute (dags/covid_pipeline_dag.py:101) is incremental state
update vs full rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Session gap: two events of one user closer than this belong to one
#: session (mirrors the batch `sessionize` registry query's 30-min gap).
DEFAULT_GAP = "30 minutes"


def session_rollup(events: DataFrame, gap: str = DEFAULT_GAP) -> DataFrame:
    """Per-user session aggregation via the built-in ``session_window``.

    A session closes after ``gap`` of inactivity; windows merge as new
    events arrive (streaming) or in one pass (batch). Emits one row per
    (user, session): bounds, event count, value sum.
    """
    return (
        events.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def streaming_session_rollup(
    events: DataFrame, gap: str = DEFAULT_GAP, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming form: watermarked so closed sessions can be finalized
    and state evicted (append mode emits only finalized sessions)."""
    return session_rollup(events.withWatermark("ts", watermark), gap=gap)


def streaming_dedup(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str | None = "1 day",
) -> DataFrame:
    """Streaming deduplication: drop rows whose key was already seen —
    the streaming twin of the batch exact-dedup operator, for at-least-
    once sources that re-deliver (training pipelines dedup the stream
    BEFORE it lands, not after).

    With a watermark, per-key state is evicted once the key's event
    time passes out of the horizon (``dropDuplicatesWithinWatermark``)
    — bounded state, the 100 TB form. ``watermark=None`` keeps state
    forever (exact, unbounded — test/small-stream only).
    """
    if watermark is None:
        return events.dropDuplicates(list(keys))
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )

