"""Covid-domain pipeline unit tests — the reference's own test strategy
(tests/test_transformer.py: tiny explicit-schema fixtures, hand-computed
goldens) applied to the engine's transposed pipeline."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from covid19_etl_pipeline_spark.pipeline import (
    aggregate_by_country,
    aggregate_by_date,
    filter_countries_of_interest,
    run_transform_fanout,
    transform_covid_data,
    transform_vaccination_data,
)

COVID_SCHEMA = T.StructType(
    [
        T.StructField("location", T.StringType()),
        T.StructField("iso_code", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("total_cases", T.StringType()),
        T.StructField("total_deaths", T.StringType()),
        T.StructField("new_cases", T.StringType()),
        T.StructField("new_deaths", T.StringType()),
        T.StructField("population", T.StringType()),
    ]
)


@pytest.fixture()
def covid_df(spark):
    rows = [
        ("Testland", "TST", "2021-01-01", "1000", "10", "100", "1", "1000000"),
        ("Testland", "TST", "2021-01-02", "1100", "11", "100", "1", "1000000"),
        ("Zeroland", "ZRO", "2021-01-01", "0", "0", "0", "0", "500000"),
        ("Nulland", "NUL", "2021-01-01", None, None, None, None, None),
    ]
    return spark.createDataFrame(rows, COVID_SCHEMA)


def test_transform_covid_golden_cfr(spark, covid_df):
    """Reference golden case (tests/test_transformer.py:92-111):
    1000 cases / 10 deaths → CFR = 1.0."""
    out = transform_covid_data(covid_df)
    row = out.filter(
        (F.col("location") == "Testland") & (F.col("date") == "2021-01-01")
    ).first()
    assert abs(row["case_fatality_rate"] - 1.0) < 0.01
    assert row["year"] == 2021 and row["month"] == 1
    assert isinstance(row["date"], datetime.date)
    assert dict(out.dtypes)["total_cases"] == "double"


def test_transform_covid_zero_guard(spark, covid_df):
    """total_cases = 0 → CFR NULL (the when-guard, not a div-by-zero)."""
    out = transform_covid_data(covid_df)
    assert out.filter(F.col("location") == "Zeroland").first()["case_fatality_rate"] is None
    assert out.filter(F.col("location") == "Nulland").first()["case_fatality_rate"] is None


def test_transform_tolerates_missing_columns(spark):
    """Cast-if-exists contract (data_transformer.py:143-145): partial
    inputs must not fail."""
    df = spark.createDataFrame(
        [("A", "2021-01-01", "5")],
        T.StructType(
            [
                T.StructField("location", T.StringType()),
                T.StructField("date", T.StringType()),
                T.StructField("total_cases", T.StringType()),
            ]
        ),
    )
    out = transform_covid_data(df)
    assert dict(out.dtypes)["total_cases"] == "double"
    assert "total_deaths" not in out.columns
    assert out.count() == 1


def test_aggregate_by_country(spark, covid_df):
    out = aggregate_by_country(transform_covid_data(covid_df))
    t = out.filter(F.col("location") == "Testland").first()
    assert t["total_cases"] == 1100.0          # max
    assert t["cumulative_new_cases"] == 200.0  # sum
    assert t["data_points"] == 2               # count(*)
    assert abs(t["cases_per_100k"] - 110.0) < 1e-9
    # sorted desc by total_cases → Testland first
    assert out.first()["location"] == "Testland"


def test_aggregate_by_date_window_and_count_semantics(spark, covid_df):
    out = aggregate_by_date(transform_covid_data(covid_df)).collect()
    d1, d2 = out[0], out[1]
    # countries_reporting counts NON-NULL location values (3 rows on day 1)
    assert d1["countries_reporting"] == 3
    # 7-day avg warmup: day1 avg = day1; day2 avg = mean(day1, day2)
    assert d1["global_new_cases_7day_avg"] == d1["global_new_cases"]
    expected = (d1["global_new_cases"] + d2["global_new_cases"]) / 2
    assert abs(d2["global_new_cases_7day_avg"] - expected) < 1e-9


def test_filter_countries_membership(spark, covid_df):
    out = filter_countries_of_interest(covid_df, ["Testland"])
    locs = {r["location"] for r in out.select("location").distinct().collect()}
    assert locs == {"Testland"}


def test_vaccination_rates(spark):
    df = spark.createDataFrame(
        [("A", "AAA", "2021-06-01", "1000", "600", "300"),
         ("B", "BBB", "2021-06-01", "0", "0", "0")],
        ["location", "iso_code", "date", "total_vaccinations",
         "people_vaccinated", "people_fully_vaccinated"],
    )
    out = transform_vaccination_data(df)
    a = out.filter(F.col("location") == "A").first()
    assert abs(a["vaccination_rate"] - 60.0) < 1e-9
    assert abs(a["full_vaccination_rate"] - 30.0) < 1e-9
    assert out.filter(F.col("location") == "B").first()["vaccination_rate"] is None


def test_fanout_writes_all_sinks(spark, covid_df, tmp_path):
    paths = run_transform_fanout(covid_df, str(tmp_path), countries_of_interest=["Testland"])
    assert set(paths) == {
        "covid_data_transformed",
        "covid_by_country",
        "covid_by_date",
        "covid_filtered_countries",
    }
    full = spark.read.parquet(paths["covid_data_transformed"])
    assert full.count() == 4
    # year-partitioned layout for partition pruning
    assert any(p.name.startswith("year=") for p in tmp_path.glob("covid_data_transformed/*"))
    assert spark.read.parquet(paths["covid_filtered_countries"]).count() == 2


def test_main_module_runs_end_to_end(spark, tmp_path, capsys):
    """The ``python -m`` entry: extract -> fan-out -> serving star with
    per-phase timings, all on the demo frame."""
    from covid19_etl_pipeline_spark.__main__ import run_etl

    report = run_etl(spark, str(tmp_path / "etl"))
    assert set(report["timings"]) == {"extract", "transform", "load"}
    assert all(v >= 0 for v in report["timings"].values())
    assert set(report["marts"]) >= {
        "covid_data_transformed", "covid_by_country", "covid_by_date",
    }
    served = spark.sql(
        "SELECT count(*) AS n FROM aggregated_stats"
    ).first()["n"]
    assert served == 2  # two demo entities


def test_dag_task_chain(spark, tmp_path, monkeypatch):
    """dags/etl_dag.py: the scheduler-facing task callables compose
    end-to-end WITHOUT Airflow installed — extract stages raw parquet,
    transform writes the mart manifest, load publishes the star schema,
    notify summarizes. Paths (not data) are the hand-off, mirroring the
    XCom contract of the reference DAG."""
    import dags.etl_dag as dag_mod
    from covid19_etl_pipeline_spark import session as session_mod

    # keep the shared test session alive: each task normally owns (and
    # stops) its session; under test they share the fixture's
    monkeypatch.setattr(session_mod, "stop_spark", lambda: None)
    monkeypatch.setenv(dag_mod.STAGING_ENV, str(tmp_path))

    assert dag_mod.dag is None  # Airflow absent → import-gated wiring off

    run_id = "test_run"
    raw_path = dag_mod.extract_task(run_id)
    assert spark.read.parquet(raw_path).count() > 0

    manifest = dag_mod.transform_task(run_id, raw_path)
    import json

    marts = json.load(open(manifest))
    assert set(marts) >= {"covid_data_transformed", "covid_by_country", "covid_by_date"}
    for p in marts.values():
        assert spark.read.parquet(p).count() > 0

    serving = dag_mod.load_task(run_id, manifest)
    summary = dag_mod.notify_task(run_id, manifest, serving)
    assert "3 marts" in summary


def test_run_etl_transforms_and_aggregates_once(spark, tmp_path, monkeypatch):
    """One batch parses, transforms and aggregates once: the serving
    star loads from the marts. Every module binding of the three
    functions is counted, so a by-name import cannot hide a call."""
    import sys

    from covid19_etl_pipeline_spark import pipeline
    from covid19_etl_pipeline_spark.__main__ import run_etl

    calls = {}
    for name in ("transform_covid_data", "aggregate_by_country", "aggregate_by_date"):
        fn = getattr(pipeline, name)
        calls[name] = 0

        def counted(*a, _fn=fn, _name=name, **kw):
            calls[_name] += 1
            return _fn(*a, **kw)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__dict__", {}).get(name) is fn:
                monkeypatch.setattr(mod, name, counted)
    run_etl(spark, str(tmp_path / "etl"))
    assert calls == dict.fromkeys(calls, 1)


def test_star_tables_equal_their_marts(spark, covid_df, tmp_path):
    """Each serving table is its mart plus the ``created_at`` audit
    column: same columns in the same order, same rows both ways."""
    from covid19_etl_pipeline_spark.serving import STAR_FROM_MARTS, publish_star_schema

    marts = run_transform_fanout(covid_df, str(tmp_path / "marts"))
    served = publish_star_schema(spark, marts, str(tmp_path / "serving"))
    assert set(served) == set(STAR_FROM_MARTS)
    for table, (mart, _parts) in STAR_FROM_MARTS.items():
        star = spark.read.parquet(served[table])
        assert "created_at" in star.columns
        star = star.drop("created_at")
        want = spark.read.parquet(marts[mart])
        assert star.columns == want.columns, table
        assert star.exceptAll(want).count() == 0, table
        assert want.exceptAll(star).count() == 0, table


def test_run_etl_reports_quality_counters(spark, tmp_path):
    """The report's ``quality`` counters (rows and per-column nulls of
    the raw source) ride the fan-out's write and match DuckDB over the
    CSV. The header is in OWID order with an undeclared column, so the
    source also reads by header name."""
    import duckdb

    from covid19_etl_pipeline_spark.__main__ import COVID_RAW_SCHEMA, run_etl

    lines = ["iso_code,continent,location,date,total_cases,new_cases,"
             "total_deaths,new_deaths,population"]
    for i in range(40):
        loc, day = ("Germany", "DEU") if i % 2 else ("France", "FRA"), i // 2 + 1
        cells = ["" if (i + k) % (k + 3) == 0 else str(10 * i + k) for k in range(4)]
        lines.append(f"{loc[1]},Europe,{loc[0]},2021-01-{day:02d},{','.join(cells)},1000")
    csv = tmp_path / "owid.csv"
    csv.write_text("\n".join(lines) + "\n")

    report = run_etl(spark, str(tmp_path / "etl"), str(csv))
    cols = [f.name for f in COVID_RAW_SCHEMA.fields]
    row = duckdb.connect().execute(
        "SELECT count(*), " + ", ".join(f"count(*) - count({c})" for c in cols)
        + " FROM read_csv(?, header=true, all_varchar=true)",
        [str(csv)],
    ).fetchone()
    assert report["quality"] == {"n_rows": row[0], **{f"null_{c}": n for c, n in zip(cols, row[1:])}}
    assert report["quality"]["null_total_cases"] > 0
    locs = spark.read.parquet(report["serving"]["aggregated_stats"]).select("location", "iso_code")
    assert sorted(map(tuple, locs.collect())) == [("France", "FRA"), ("Germany", "DEU")]
