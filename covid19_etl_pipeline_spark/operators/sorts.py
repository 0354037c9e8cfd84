"""Sort / limit / top-k operators.

Reference parity:
- O1/O2 global sorts (data_transformer.py:252, :291; dashboard ORDER BYs)
- O3 top-k sort+limit (``ORDER BY total_cases DESC LIMIT 50``,
  dashboard.py:99-100): ``orderBy(...).limit(k)``, as in the
  ``topk_orders`` query
- O4 client-side nlargest (dashboard.py:187-189) → engine-side top-k
- O5 most-recent-N-days (dashboard.py:359) → date-range filter form

Scale notes: ``orderBy().limit(k)`` plans as TakeOrderedAndProject —
each task keeps a k-row heap, the driver merges; no global sort shuffle.
A bare global ``orderBy`` is a range-partitioned exchange (sampling pass
+ shuffle) — only use when the consumer truly needs total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def most_recent_days(df: DataFrame, date_col: str, days: int) -> DataFrame:
    """Rows within ``days`` of the max date — the set-based form of the
    dashboard's ``head(days_back)`` slice (O5). The max date is a 1-row
    broadcast aggregate, not a driver collect, so the operator stays
    fully lazy/distributed; at scale prefer partition-pruned literal
    bounds when the cutoff is known up front."""
    max_d = df.agg(F.max(date_col).alias("__maxd"))
    return (
        df.crossJoin(F.broadcast(max_d))
        .filter(F.col(date_col) >= F.date_sub(F.col("__maxd"), days - 1))
        .drop("__maxd")
    )
