"""End-to-end ETL entry point: ``python -m covid19_etl_pipeline_spark``.

The engine twin of the reference's ``python main.py`` orchestration
(main.py:53-174): extract → transform/fan-out → publish the serving
star from the marts, reported as one JSON line: per-phase ``timings``,
the ``marts`` and ``serving`` paths and the source's ``quality``
counters. Each phase is a thin call into the library API (SURVEY §2.11
L2/L3: keep the callable surface scheduler-agnostic — Airflow, cron,
or a shell wrap this module without modification).

With ``--input`` the extract phase reads a CSV with the OWID-shaped
schema; without it a small deterministic demo frame stands in, so the
module is runnable anywhere the package is installed.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from covid19_etl_pipeline_spark.pipeline import run_transform_fanout
from covid19_etl_pipeline_spark.serving import publish_star_schema
from covid19_etl_pipeline_spark.session import get_spark
from covid19_etl_pipeline_spark.sources.io import observe_quality, read_csv, validate_source

#: OWID-shaped raw schema (reference config/config.yaml source columns;
#: everything string-typed at the edge — the typed cast pipeline is the
#: transform phase's job, data_transformer.py:72-118).
COVID_RAW_SCHEMA = T.StructType(
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


def _demo_frame(spark: SparkSession) -> DataFrame:
    """Deterministic stand-in input (two entities, three days)."""
    rows = [
        ("Demoland", "DML", f"2021-01-0{d}", str(1000 * d), str(10 * d),
         "100", "1", "1000000")
        for d in (1, 2, 3)
    ] + [
        ("Otherland", "OTL", f"2021-01-0{d}", str(500 * d), str(5 * d),
         "50", "0", "500000")
        for d in (1, 2, 3)
    ]
    return spark.createDataFrame(rows, COVID_RAW_SCHEMA)


def run_etl(
    spark: SparkSession,
    out_dir: str,
    input_csv: str | None = None,
    countries: tuple[str, ...] = (),
) -> dict:
    """Run extract → transform → load; return phase timings, outputs
    and the source's quality counters, which ride the fan-out's first
    write (observed after validation: its sample job must not fire them)."""
    timings: dict[str, float] = {}

    t0 = time.time()
    raw = (
        read_csv(spark, input_csv, schema=COVID_RAW_SCHEMA)
        if input_csv
        else _demo_frame(spark)
    )
    if not validate_source(raw):
        raise ValueError("extract produced an empty or invalid source")
    raw, quality = observe_quality(raw)
    timings["extract"] = round(time.time() - t0, 3)

    t0 = time.time()
    outputs = run_transform_fanout(raw, f"{out_dir}/marts", countries)
    timings["transform"] = round(time.time() - t0, 3)

    t0 = time.time()
    served = publish_star_schema(spark, outputs, f"{out_dir}/serving")
    timings["load"] = round(time.time() - t0, 3)

    return {"timings": timings, "marts": outputs, "serving": served, "quality": quality.get}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="covid19_etl_pipeline_spark")
    p.add_argument("--input", default=None, help="raw CSV path (OWID shape)")
    p.add_argument("--out", required=True, help="output root directory")
    p.add_argument(
        "--countries", default="", help="comma-separated IN-list filter mart"
    )
    p.add_argument(
        "--config",
        default=None,
        help="pipeline yaml (reference config/config.yaml shape): sources, "
        "countries_of_interest, spark block — flags override the file",
    )
    args = p.parse_args(argv)
    countries = tuple(c for c in args.countries.split(",") if c)
    if args.config:
        from covid19_etl_pipeline_spark.config import load_config, session_kwargs

        cfg = load_config(args.config)
        spark = get_spark(**{"app_name": "covid19-etl", **session_kwargs(cfg)})
        if not countries:
            countries = cfg.countries
    else:
        spark = get_spark("covid19-etl")
    report = run_etl(spark, args.out, args.input, countries)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
