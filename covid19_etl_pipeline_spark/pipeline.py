"""The COVID ETL pipeline, Spark-native end to end.

Transposes the reference's transform/load semantics
(src/transform/data_transformer.py, src/load/data_loader.py) onto one
SparkSession with no pandas hop:

- ``transform_covid_data``       ↔ data_transformer.py:100-176
- ``transform_vaccination_data`` ↔ data_transformer.py:178-217
- ``aggregate_by_country``       ↔ data_transformer.py:219-256
- ``aggregate_by_date``          ↔ data_transformer.py:258-295 (+ W1 window :279-289)
- ``filter_countries_of_interest`` ↔ data_transformer.py:297-317
- ``run_transform_fanout``       ↔ transform_and_save_all data_transformer.py:346-425,
  with the ``cache()`` the reference claims but never calls (README.md:327;
  SURVEY §2.11 L4) — without it the CSV scan + casts re-execute once per sink.

The reference's load phase (parquet → pandas → SQLite,
data_loader.py:200-358) becomes partitioned-parquet ``write`` /
``saveAsTable`` — the serving tier is ``spark.sql`` over the catalog
(catalog.query), replacing SQLite + B-tree indices with partition
pruning + file stats. As in the reference (data_loader.py:194), the load
reads back the marts this fan-out wrote, so a batch transforms once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from covid19_etl_pipeline_spark.operators.aggregates import rollup_by_entity
from covid19_etl_pipeline_spark.operators.filters import filter_in_list
from covid19_etl_pipeline_spark.operators.projection import (
    cast_if_exists,
    guarded_ratio,
    parse_date,
    with_date_parts,
)
from covid19_etl_pipeline_spark.operators.windows import moving_average
from covid19_etl_pipeline_spark.sources.io import write_parquet

#: DOUBLE cast allowlist for the covid fact (data_transformer.py:116-141).
COVID_NUMERIC_COLUMNS: tuple[str, ...] = (
    "total_cases",
    "new_cases",
    "total_deaths",
    "new_deaths",
    "total_cases_per_million",
    "new_cases_per_million",
    "total_deaths_per_million",
    "new_deaths_per_million",
    "reproduction_rate",
    "icu_patients",
    "hosp_patients",
    "positive_rate",
    "tests_per_case",
    "total_tests",
    "new_tests",
    "population",
    "population_density",
    "median_age",
    "aged_65_older",
    "aged_70_older",
    "gdp_per_capita",
    "cardiovasc_death_rate",
    "diabetes_prevalence",
    "life_expectancy",
)

#: DOUBLE cast allowlist for the vaccination fact (data_transformer.py:182-192).
VACCINATION_NUMERIC_COLUMNS: tuple[str, ...] = (
    "total_vaccinations",
    "people_vaccinated",
    "people_fully_vaccinated",
    "total_boosters",
    "daily_vaccinations",
    "daily_vaccinations_per_million",
    "total_vaccinations_per_hundred",
    "people_vaccinated_per_hundred",
    "people_fully_vaccinated_per_hundred",
)


def transform_covid_data(df: DataFrame) -> DataFrame:
    """Typed core + derived measures (data_transformer.py:100-176):
    to_date, DOUBLE casts (if present), guarded case_fatality_rate,
    year/month/week."""
    out = parse_date(df, "date")
    out = cast_if_exists(out, COVID_NUMERIC_COLUMNS)
    # tolerant-ingest: derive only from columns that survived ingest;
    # emit a typed NULL otherwise so the output schema stays stable
    if {"total_deaths", "total_cases"} <= set(out.columns):
        cfr = guarded_ratio("total_deaths", "total_cases", scale=100.0)
    else:
        cfr = F.lit(None).cast("double")
    out = out.withColumn("case_fatality_rate", cfr)
    return with_date_parts(out, "date")


def transform_vaccination_data(df: DataFrame) -> DataFrame:
    """Vaccination variant (data_transformer.py:178-217): guarded
    vaccination_rate / full_vaccination_rate vs population-less base —
    the reference guards on people_vaccinated/total_vaccinations > 0."""
    out = parse_date(df, "date")
    out = cast_if_exists(out, VACCINATION_NUMERIC_COLUMNS)
    cols = set(out.columns)

    def rate(num: str) -> Column:
        if {num, "total_vaccinations"} <= cols:
            return guarded_ratio(
                num,
                "total_vaccinations",
                scale=100.0,
                guard=F.col("total_vaccinations") > 0,
            )
        return F.lit(None).cast("double")

    return out.withColumn("vaccination_rate", rate("people_vaccinated")).withColumn(
        "full_vaccination_rate", rate("people_fully_vaccinated")
    )


def aggregate_by_country(df: DataFrame) -> DataFrame:
    """Per-country rollup (data_transformer.py:219-256): 8 simultaneous
    aggregates + per-100k derived measures, sorted by total cases desc."""
    return rollup_by_entity(
        df,
        keys=("location", "iso_code"),
        aggs=[
            F.max("date").alias("last_updated"),
            F.max("total_cases").alias("total_cases"),
            F.sum("new_cases").alias("cumulative_new_cases"),
            F.max("total_deaths").alias("total_deaths"),
            F.sum("new_deaths").alias("cumulative_new_deaths"),
            F.avg("case_fatality_rate").alias("avg_case_fatality_rate"),
            F.max("population").alias("population"),
            F.count("*").alias("data_points"),
        ],
        derived={
            "cases_per_100k": guarded_ratio("total_cases", "population", scale=100000.0),
            "deaths_per_100k": guarded_ratio("total_deaths", "population", scale=100000.0),
        },
        order_by=F.col("total_cases").desc(),
    )


def aggregate_by_date(df: DataFrame) -> DataFrame:
    """Global daily rollup + 7-day moving averages
    (data_transformer.py:258-295). ``countries_reporting`` is the
    reference's non-null ``F.count("location")`` — NOT distinct
    (data_transformer.py:275). The unpartitioned W1 window is safe here:
    it runs on the ~1-row-per-day aggregate, never on raw grain."""
    daily = df.groupBy("date").agg(
        F.sum("new_cases").alias("global_new_cases"),
        F.sum("new_deaths").alias("global_new_deaths"),
        F.sum("total_cases").alias("global_total_cases"),
        F.sum("total_deaths").alias("global_total_deaths"),
        F.count("location").alias("countries_reporting"),
    )
    smoothed = moving_average(
        daily,
        value_cols=("global_new_cases", "global_new_deaths"),
        order_col="date",
        periods=7,
    )
    return smoothed.orderBy("date")


def filter_countries_of_interest(df: DataFrame, countries: Sequence[str]) -> DataFrame:
    """IN-list membership filter (data_transformer.py:297-317)."""
    return filter_in_list(df, "location", countries)


def run_transform_fanout(
    covid_raw: DataFrame,
    out_dir: str,
    countries_of_interest: Sequence[str] = (),
) -> dict[str, str]:
    """Multi-sink fan-out (transform_and_save_all,
    data_transformer.py:346-425): one transformed DataFrame → 4 sinks.

    The transformed fact is cached before fan-out so scan+casts execute
    once, not once per sink (fixes SURVEY §2.11 L4). Outputs are
    parquet; the full fact is partitioned by year for downstream
    partition pruning.
    """
    transformed = transform_covid_data(covid_raw).cache()
    try:
        paths = {
            "covid_data_transformed": write_parquet(
                transformed,
                f"{out_dir}/covid_data_transformed",
                partition_by=("year",),
            ),
            "covid_by_country": write_parquet(
                aggregate_by_country(transformed), f"{out_dir}/covid_by_country"
            ),
            "covid_by_date": write_parquet(
                aggregate_by_date(transformed), f"{out_dir}/covid_by_date"
            ),
        }
        if countries_of_interest:
            paths["covid_filtered_countries"] = write_parquet(
                filter_countries_of_interest(transformed, countries_of_interest),
                f"{out_dir}/covid_filtered_countries",
            )
        return paths
    finally:
        transformed.unpersist()
