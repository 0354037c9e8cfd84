"""Declarative expectations: the one-pass report."""

from __future__ import annotations

import pytest

from covid19_etl_pipeline_spark.quality import (
    check_expectations,
    expect_between,
    expect_in,
    expect_not_null,
    expect_unique,
)


@pytest.fixture()
def frame(spark):
    return spark.createDataFrame(
        [
            (1, "US", 10.0),
            (2, "DE", -5.0),   # balance out of range
            (3, None, 20.0),   # null country
            (4, "FR", 30.0),
            (4, "US", 40.0),   # duplicate id
        ],
        ["id", "country", "balance"],
    )


def _rules():
    # built lazily: Column expressions need an active session
    return [
        expect_not_null("country"),
        expect_between("balance", 0.0, 100.0),
        expect_in("country", ["US", "DE", "FR"]),
        expect_unique("id"),
    ]


def test_report_counts(spark, frame):
    rep = {r["expectation"]: r for r in check_expectations(frame, _rules()).collect()}
    assert all(r["n_rows"] == 5 for r in rep.values())
    assert rep["country_not_null"]["n_violations"] == 1
    assert rep["balance_between_0.0_100.0"]["n_violations"] == 1
    assert rep["country_in_list"]["n_violations"] == 0  # null passes (orthogonal)
    assert rep["id_unique"]["n_violations"] == 1        # one extra copy
    assert rep["id_unique"]["passed"] is False
    assert rep["country_in_list"]["passed"] is True


def test_report_is_single_job(spark, frame):
    """All rules lower into one Aggregate — the plan holds a single
    pass over the source (plus the distinct Expand), not one scan per
    rule."""
    plan = check_expectations(frame, _rules())._jdf.queryExecution().executedPlan().treeString()
    # one scan per report row would show many ExistingRDD scans; union
    # of projections over ONE aggregated row shows exactly one
    assert plan.count("HashAggregate") <= 4  # partial+final (+ distinct Expand stages)
