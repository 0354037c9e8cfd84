"""Example Airflow DAG for the Spark ETL engine — the scheduler wrapper
the reference ships (`/root/reference/dags/covid_pipeline_dag.py:86-138`:
daily schedule, retries, execution timeout, XCom hand-off between
extract → transform → load → notify), re-expressed over this engine's
callable API.

Design differences from the reference, deliberate:

- **Paths through XCom, not data.** The reference pushes whole
  DataFrames' worth of rows through XCom; here each task writes parquet
  to a staging directory and XComs only the PATH — the only shape that
  survives real data volumes (XCom is a metadata store, not a data
  plane). Load reads the marts named in transform's manifest.
- **One SparkSession per task, stopped on exit.** Scheduler workers
  must not leak JVMs between retries.
- **Import-gated.** The engine does not depend on Airflow; this module
  imports it lazily so the file is also a plain-Python example (every
  task callable runs standalone — that is how the test suite exercises
  them without a scheduler installed).

The task callables are the public surface; the DAG wiring at the bottom
is the 30 lines a deployment copies.
"""

from __future__ import annotations

import json
import os
from datetime import timedelta

STAGING_ENV = "SPARK_ETL_STAGING"


def _staging(run_id: str) -> str:
    root = os.environ.get(STAGING_ENV, "/tmp/spark_etl_staging")
    return f"{root}/{run_id}"


def extract_task(run_id: str, input_csv: str | None = None) -> str:
    """Extract: read the raw source (CSV, or the built-in demo frame),
    validate, stage as parquet. Returns the staged path (the XCom
    payload)."""
    from covid19_etl_pipeline_spark.__main__ import COVID_RAW_SCHEMA, _demo_frame
    from covid19_etl_pipeline_spark.session import get_spark, stop_spark
    from covid19_etl_pipeline_spark.sources.io import read_csv, validate_source, write_parquet

    spark = get_spark(app_name="etl-dag-extract")
    try:
        raw = (
            read_csv(spark, input_csv, schema=COVID_RAW_SCHEMA)
            if input_csv
            else _demo_frame(spark)
        )
        if not validate_source(raw):
            raise ValueError("extract produced an empty or invalid source")
        path = f"{_staging(run_id)}/raw"
        return write_parquet(raw, path)
    finally:
        stop_spark()


def transform_task(run_id: str, raw_path: str, countries: tuple[str, ...] = ()) -> str:
    """Transform: the multi-sink fan-out over the staged raw parquet.
    Returns a JSON manifest path listing every mart written."""
    from covid19_etl_pipeline_spark.pipeline import run_transform_fanout
    from covid19_etl_pipeline_spark.session import get_spark, stop_spark
    from covid19_etl_pipeline_spark.sources.io import read_parquet

    spark = get_spark(app_name="etl-dag-transform")
    try:
        raw = read_parquet(spark, raw_path)
        marts = run_transform_fanout(raw, f"{_staging(run_id)}/marts", countries)
        manifest = f"{_staging(run_id)}/marts_manifest.json"
        with open(manifest, "w") as fh:
            json.dump(marts, fh)
        return manifest
    finally:
        stop_spark()


def load_task(run_id: str, manifest_path: str) -> str:
    """Load: publish the star schema to the serving directory from the
    marts the transform's manifest lists. Returns the serving root."""
    from covid19_etl_pipeline_spark.serving import publish_star_schema
    from covid19_etl_pipeline_spark.session import get_spark, stop_spark

    with open(manifest_path) as fh:
        marts = json.load(fh)
    spark = get_spark(app_name="etl-dag-load")
    try:
        out = f"{_staging(run_id)}/serving"
        publish_star_schema(spark, marts, out)
        return out
    finally:
        stop_spark()


def notify_task(run_id: str, manifest_path: str, serving_path: str) -> str:
    """Notify: summarize the run (the reference prints a banner; a
    deployment swaps in email/Slack here)."""
    with open(manifest_path) as fh:
        marts = json.load(fh)
    summary = (
        f"ETL run {run_id}: {len(marts)} marts staged, "
        f"star schema at {serving_path}"
    )
    print(summary)
    return summary


try:  # pragma: no cover — exercised only where Airflow is installed
    from airflow import DAG
    from airflow.operators.python import PythonOperator
    from airflow.utils.dates import days_ago

    default_args = {
        "owner": "data-engineering",
        "depends_on_past": False,
        "retries": 2,
        "retry_delay": timedelta(minutes=5),
        "execution_timeout": timedelta(hours=2),
    }

    dag = DAG(
        "spark_etl_pipeline",
        default_args=default_args,
        description="Daily ETL over the PySpark engine",
        schedule_interval="0 6 * * *",
        start_date=days_ago(1),
        catchup=False,
        max_active_runs=1,
        tags=["etl", "pyspark"],
    )

    def _extract(**ctx):
        path = extract_task(ctx["run_id"])
        ctx["task_instance"].xcom_push(key="raw_path", value=path)

    def _transform(**ctx):
        raw = ctx["task_instance"].xcom_pull(task_ids="extract", key="raw_path")
        manifest = transform_task(ctx["run_id"], raw)
        ctx["task_instance"].xcom_push(key="manifest", value=manifest)

    def _load(**ctx):
        manifest = ctx["task_instance"].xcom_pull(task_ids="transform", key="manifest")
        serving = load_task(ctx["run_id"], manifest)
        ctx["task_instance"].xcom_push(key="serving", value=serving)

    def _notify(**ctx):
        ti = ctx["task_instance"]
        notify_task(
            ctx["run_id"],
            ti.xcom_pull(task_ids="transform", key="manifest"),
            ti.xcom_pull(task_ids="load", key="serving"),
        )

    extract = PythonOperator(task_id="extract", python_callable=_extract, dag=dag)
    transform = PythonOperator(task_id="transform", python_callable=_transform, dag=dag)
    load = PythonOperator(task_id="load", python_callable=_load, dag=dag)
    notify = PythonOperator(task_id="notify", python_callable=_notify, dag=dag)

    extract >> transform >> load >> notify
except ImportError:  # Airflow not installed — callables remain usable
    dag = None
