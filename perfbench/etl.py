"""The reference's own extract -> transform -> load batch:
``run_etl(spark, out, csv, countries)`` over a generated OWID-shaped CSV
with a 5-location IN-list. It is the set-up of the ``serve_mixed``
workload -- the batch publishes the serving star the client then reads
-- so its time is part of that workload's ``setup_s``, its layers
(``sources``, ``pipeline``, ``serving.publish_star_schema``) get their
spans in a traced run, and its outputs are checked like any operation.
It runs after the engine's common paths are warmed up, so its first
run is the batch as a fresh ``python -m covid19_etl_pipeline_spark``
process runs it, less the JVM and engine start.

The batch runs :data:`BATCHES` times, each into an empty output root,
and counts once in ``setup_s``, at the median of its runs: one batch
on a shared host spreads too much from run to run to gate on.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from perfbench.common import Ctx, median_or_zero, per_op_sums


BATCHES = 3

#: (name under covid19_etl_pipeline_spark.__main__, span name)
SPANNED = (
    ("read_csv", "sources.extract_s"),
    ("validate_source", "sources.extract_s"),
    ("run_transform_fanout", "pipeline.transform_s"),
    ("publish_star_schema", "serving.publish_s"),
)


def _parquet_tree(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def expected_rollup(csv: str) -> list[tuple]:
    """The country rollup computed by DuckDB straight from the CSV:
    (location, max total_cases, sum new_cases, row count)."""
    import duckdb

    con = duckdb.connect()
    try:
        return sorted(con.execute(
            "SELECT location, max(TRY_CAST(total_cases AS DOUBLE)), "
            "sum(TRY_CAST(new_cases AS DOUBLE)), count(*) "
            "FROM read_csv(?, header=true, all_varchar=true) GROUP BY location",
            [csv],
        ).fetchall())
    finally:
        con.close()


def check_outputs(out: str, info: dict, countries: tuple, rollup: list[tuple]):
    import duckdb
    import pyarrow.parquet as pq

    n_loc, n_days, n_rows = len(info["locations"]), info["days"], info["rows"]
    want = {
        "marts/covid_data_transformed": n_rows,
        "marts/covid_by_country": n_loc,
        "marts/covid_by_date": n_days,
        "marts/covid_filtered_countries": len(countries) * n_days,
        "serving/covid_cases": n_rows,
        "serving/aggregated_stats": n_loc,
        "serving/global_daily_stats": n_days,
    }
    for table, rows in want.items():
        got = pq.ParquetDataset(os.path.join(out, table)).read(columns=[]).num_rows
        if got != rows:
            return False, f"{table}: {got} rows, expected {rows}"
    con = duckdb.connect()
    try:
        got = sorted(con.execute(
            "SELECT location, total_cases, cumulative_new_cases, data_points "
            "FROM read_parquet(?)",
            [os.path.join(out, "marts/covid_by_country/*.parquet")],
        ).fetchall())
    finally:
        con.close()
    return got == rollup, "country rollup differs from DuckDB over the CSV"


def run_batch(ctx: Ctx, csv: str, info: dict, out: str) -> str:
    """Run the batch :data:`BATCHES` times, into ``<out>/<i>``, and check
    each one's outputs; return the root of the last one's serving star.
    A failure is counted, and the run goes on."""
    import covid19_etl_pipeline_spark.__main__ as etl_main

    rng = np.random.default_rng(ctx.seed)
    n_loc = len(info["locations"])
    countries = tuple(
        info["locations"][i][0] for i in sorted(rng.choice(n_loc, 5, replace=False))
    )
    start = time.perf_counter()
    rollup = expected_rollup(csv)
    ctx.setup_left_out += time.perf_counter() - start
    times = []
    for i in range(BATCHES):
        root = os.path.join(out, str(i))
        with ctx.tracer.wrap([(etl_main, attr, name) for attr, name in SPANNED]):
            start = time.perf_counter()
            with ctx.tracer.span("etl.run_s", op=f"etl-{i}"):
                etl_main.run_etl(ctx.spark, root, csv, countries)
            times.append(time.perf_counter() - start)
        start = time.perf_counter()
        try:
            ok, why = check_outputs(root, info, countries, rollup)
        except Exception as exc:  # noqa: BLE001 - a failed check must not end the run
            ok, why = False, f"{type(exc).__name__}: {str(exc)[:300]}"
        if not ok:
            ctx.fail("etl", 0.0, f"etl: {why}", timed=False)
        ctx.setup_left_out += time.perf_counter() - start
    etl_s = statistics.median(times)
    ctx.setup_left_out += sum(times) - etl_s
    files, size = _parquet_tree(root)
    ctx.detail.update(
        etl_s=etl_s, etl_runs_s=times, files_out=files, bytes_out=size,
        etl_out_bytes_per_in_byte=size / info["bytes"],
    )
    return os.path.join(root, "serving")


def layer_metrics(ctx: Ctx) -> dict[str, float]:
    """Per batch, the median over its runs: seconds, jobs and tasks per
    layer."""
    tr = ctx.tracer

    def med(name: str, attr: str = "seconds") -> float:
        return median_or_zero(per_op_sums(tr, name, attr).values())

    return {
        "etl.run_s": med("etl.run_s"),
        "sources.extract_s": med("sources.extract_s"),
        "pipeline.transform_s": med("pipeline.transform_s"),
        "serving.publish_s": med("serving.publish_s"),
        "sources.jobs": med("sources.extract_s", "jobs"),
        "pipeline.jobs": med("pipeline.transform_s", "jobs"),
        "serving.publish_jobs": med("serving.publish_s", "jobs"),
        "pipeline.tasks": med("pipeline.transform_s", "tasks"),
        "serving.publish_tasks": med("serving.publish_s", "tasks"),
        "etl.bytes_out": ctx.detail.get("bytes_out", 0),
        "etl.files_out": ctx.detail.get("files_out", 0),
    }
