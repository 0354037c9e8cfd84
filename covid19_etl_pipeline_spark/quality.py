"""Declarative data-quality expectations (S3 deepened).

The reference validates ingests by re-reading samples and scanning
column-by-column (ingest validation `data_extractor.py`, the debug DB's
per-column null scans). This module states rules declaratively and
evaluates ALL of them in ONE aggregate pass over the data — the
Spark-first shape: every rule lowers to a conditional-count expression
inside a single job, so a 40-rule suite costs the same scan as one.

:func:`check_expectations` returns a small report DataFrame (rule,
n_rows, n_violations, pass) for gating a pipeline run.

Uniqueness is the one rule class that cannot ride the row-local pass
(it is a property of the whole key space); it lowers to
count - countDistinct inside the SAME aggregate (Catalyst plans the
distinct via Expand — still one scan).

At 100 TB the report pass is partial-aggregable end to end.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    """A named row-level rule: ``predicate`` must hold for every row.

    ``row_local`` marks rules a single row can violate on its own; it
    is False for whole-relation rules (uniqueness).
    """

    name: str
    predicate: Column
    row_local: bool = True


def expect_not_null(col: str) -> Expectation:
    return Expectation(f"{col}_not_null", F.col(col).isNotNull())


def expect_between(col: str, lo, hi) -> Expectation:
    """NULL passes (pair with expect_not_null to forbid NULLs) — rules
    stay orthogonal, so a violation diagnoses ONE defect."""
    c = F.col(col)
    return Expectation(
        f"{col}_between_{lo}_{hi}", c.isNull() | ((c >= F.lit(lo)) & (c <= F.lit(hi)))
    )


def expect_in(col: str, values: Sequence) -> Expectation:
    c = F.col(col)
    return Expectation(f"{col}_in_list", c.isNull() | c.isin(list(values)))


def expect_unique(col: str) -> Expectation:
    """Whole-relation rule: violations = n_rows - n_distinct (counts
    every extra copy). Not row-local."""
    # predicate is a placeholder; check_expectations special-cases this
    return Expectation(f"{col}_unique", F.lit(True), row_local=False)


def check_expectations(
    df: DataFrame, expectations: Sequence[Expectation]
) -> DataFrame:
    """Evaluate every rule in ONE aggregate job; returns a report frame
    (expectation, n_rows, n_violations, passed) ordered by rule name."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for e in expectations:
        if e.row_local:
            aggs.append(
                F.sum((~e.predicate).cast("long")).alias(f"__v_{e.name}")
            )
        else:
            col = e.name.removesuffix("_unique")
            aggs.append(
                (F.count(col) - F.countDistinct(col)).alias(f"__v_{e.name}")
            )
    row = df.agg(*aggs)
    # unpivot the 1-row aggregate into (rule, count) rows — a union of
    # per-rule projections would duplicate the whole aggregate subtree
    # per rule in the physical plan; unpivot keeps it ONE aggregate +
    # one Expand over a single row.
    long = row.unpivot(
        ids=["__n"],
        values=[f"`__v_{e.name}`" for e in expectations],
        variableColumnName="expectation",
        valueColumnName="__viol",
    )
    v = F.coalesce(F.col("__viol"), F.lit(0))
    return (
        long.select(
            F.regexp_replace("expectation", "^__v_", "").alias("expectation"),
            F.col("__n").alias("n_rows"),
            v.alias("n_violations"),
            (v == 0).alias("passed"),
        )
        .orderBy("expectation")
    )

