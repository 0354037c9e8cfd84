"""Window operators.

Reference parity:
- W1 7-day moving average, row frame ``rowsBetween(-6, 0)``
  (data_transformer.py:279-289). The reference's window is UNPARTITIONED
  — acceptable only on its ~1-row-per-day post-aggregate series; the
  engine exposes both forms and requires a partition key at raw grain
  (an unpartitioned window executes in ONE task — a single-executor
  bottleneck at 100 TB).

Generalizations the reference implies but lacks (SURVEY §2.5):
- rank / top-N-per-group via ``row_number`` (the proper form of the
  dashboard's client-side ``nlargest``, dashboard.py:187-189)
- per-group exponentially weighted moving average (``ewma_by_group``)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def moving_average(
    df: DataFrame,
    value_cols: Sequence[str],
    order_col: str,
    partition_cols: Sequence[str] = (),
    periods: int = 7,
    suffix: str | None = None,
) -> DataFrame:
    """Trailing N-period moving average per value column (W1).

    ``Window.orderBy(order_col).rowsBetween(-(periods-1), 0)`` — identical
    frame to data_transformer.py:281. With ``partition_cols`` empty this
    reproduces the reference's deliberately-global series; pass entity
    keys for the scalable per-entity form.
    """
    w = Window.orderBy(order_col).rowsBetween(-(periods - 1), 0)
    if partition_cols:
        w = Window.partitionBy(*partition_cols).orderBy(order_col).rowsBetween(-(periods - 1), 0)
    sfx = suffix if suffix is not None else f"_{periods}day_avg"
    out = df
    for c in value_cols:
        out = out.withColumn(f"{c}{sfx}", F.avg(F.col(c)).over(w))
    return out


def top_n_per_group(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_by: Sequence[Column],
    n: int,
    rank_col: str = "rn",
    keep_rank: bool = False,
) -> DataFrame:
    """Top-N rows per group via ``row_number`` over a partitioned window.

    Pass a deterministic tie-break (e.g. the natural key) as the last
    ``order_by`` column so results are stable across engines.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= n)
    return out if keep_rank else out.drop(rank_col)


def ewma_by_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.2,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially weighted moving average per group — the one
    sequential recurrence (y_t = (1-a)·y_{t-1} + a·x_t) that Spark's
    window functions cannot express, so it is the legitimate
    ``applyInPandas`` grouped-map case: each group's ordered series is
    folded in one Arrow-batched pandas pass. State is per-group and
    groups are independent, so it scales with the number of entities;
    a group's whole series must fit one executor (fine for per-entity
    daily series; chunk by time for unbounded histories).
    """
    import pandas as pd  # noqa: F401  (Arrow path)

    from covid19_etl_pipeline_spark.operators.partitioning import spread

    fields = df.schema.fields
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
    out_schema += f", {out_col} double"

    def _fold(pdf):
        pdf = pdf.sort_values(order_col)
        pdf[out_col] = pdf[value_col].ewm(alpha=alpha, adjust=False).mean()
        return pdf

    # grouped-map parallelism comes from the INPUT partitioning: AQE
    # coalesces a small upstream rollup to one partition, which would
    # serialize every group through a single Python worker (measured
    # ~5x on the daily-rollup input). spread's explicit group-key hash
    # partitioning satisfies applyInPandas's clustering requirement, so
    # no extra exchange is added — it only pins the worker fan-out.
    return spread(df, group_col).groupBy(group_col).applyInPandas(
        _fold, schema=out_schema
    )
