"""Filter / predicate operators.

Reference parity:
- IN-list membership filter  → data_transformer.py:297-317 (P4), the
  dashboard's ``WHERE location IN (...)`` (P5, dashboard.py:109-140)

The null-guard (P7, dashboard.py:307-310) and threshold (P8,
data_transformer.py:151) predicates are one ``df.filter`` each; the
``notnull_threshold`` query writes them inline.

Filters compile to Catalyst Filter nodes that push into the parquet
scan (``PushedFilters`` in ``.explain``) — at 100 TB the filter is
applied at row-group granularity via min/max + dictionary stats
before any row is materialized.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def filter_in_list(df: DataFrame, column: str, values: Iterable[str]) -> DataFrame:
    """Keep rows whose ``column`` is in ``values``
    (data_transformer.py:312: ``F.col("location").isin(countries)``).

    For very large value sets prefer :func:`semi_join_membership`
    (operators.joins) — an IN-list over ~thousands of literals bloats the
    plan; a broadcast semi join scales.
    """
    return df.filter(F.col(column).isin(list(values)))
