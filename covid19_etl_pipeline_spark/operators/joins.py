"""Join operators (SURVEY §2.3).

The reference has NO joins — covid and vaccination facts stay separate
end-to-end — but its serving schema implies the enrichment join
``covid_cases ⋈ vaccinations ON (location, date)``, and capability
parity requires the standard join family. All are Spark built-ins; the
engine's contribution is the scale discipline:

- fixed-size dimensions (region, nation) are explicitly ``F.broadcast``
  (no shuffle of the fact side — at 100 TB shuffling the fact table for
  a 25-row region dim would be the bottleneck); dimensions that grow
  with the data (customer, supplier, part) carry no hint: Catalyst
  broadcasts them while they fit ``autoBroadcastJoinThreshold`` and AQE
  re-decides from runtime sizes;
- fact-fact equi joins rely on AQE to pick shuffle-hash vs sort-merge
  and to split skewed partitions;
- membership semantics use left_semi / left_anti (never a distinct +
  inner join, which shuffles twice).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def broadcast_dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Fact ⋈ broadcast(dim): hash-join with the dim replicated to every
    executor; zero shuffle of the fact side."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Fact-fact equi join; Catalyst/AQE choose the physical strategy."""
    return left.join(right, on=on, how=how)


def semi_join_membership(df: DataFrame, members: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """EXISTS semantics (the scalable form of an IN-list filter, P4)."""
    return df.join(members, on=on, how="left_semi")


def anti_join_membership(df: DataFrame, members: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """NOT EXISTS semantics."""
    return df.join(members, on=on, how="left_anti")
