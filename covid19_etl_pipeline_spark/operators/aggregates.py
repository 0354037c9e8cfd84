"""Aggregation operators.

Reference parity:
- A1 multi-key hash aggregate with 8 simultaneous measures
  (aggregate_by_country, data_transformer.py:219-256)
- A3 post-aggregation derived measures (data_transformer.py:243-249)

The A2 per-date global rollup is ``pipeline.aggregate_by_date``; the
A4/A5 scalar counts are ``catalog.table_stats``.

Scale notes: Spark plans these as partial (map-side) + final hash
aggregates automatically — one shuffle on the group keys, combiner
semantics free. ``F.count(col)`` counts NON-NULL values while
``F.count("*")`` counts rows; the reference mixes both
(data_transformer.py:275 vs :239) and the distinction is preserved.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def rollup_by_entity(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[Column],
    derived: dict[str, Column] | None = None,
    order_by: Column | None = None,
) -> DataFrame:
    """Generic multi-measure rollup: groupBy keys → aggs → derived cols → sort.

    The shape of ``aggregate_by_country`` (data_transformer.py:231-252):
    one hash-aggregate shuffle, then narrow arithmetic, then an optional
    global sort (range-partitioned exchange; skip it at scale unless the
    consumer needs total order).
    """
    out = df.groupBy(*keys).agg(*aggs)
    for name, col in (derived or {}).items():
        out = out.withColumn(name, col)
    if order_by is not None:
        out = out.orderBy(order_by)
    return out


def null_profile(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """Data-quality profile: total rows + null count per column in ONE
    aggregation pass (reference parity: debugdb.py's per-table row-count
    and NaN checks, which issue one SQL query per column — at 100 TB
    that is N full scans; this is one).

    Returns a single row: ``n_rows`` plus ``<col>_nulls`` per column.
    NaN counts as null for float/double columns (pandas-NaN parity —
    the reference's SQLite path stores NaN as NULL).
    """
    cols = list(columns) if columns is not None else df.columns
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        is_missing = F.col(c).isNull()
        if dict(df.dtypes).get(c) in ("float", "double"):
            is_missing = is_missing | F.isnan(c)
        aggs.append(F.sum(is_missing.cast("bigint")).alias(f"{c}_nulls"))
    return df.agg(*aggs)
