"""Workload ``serve_mixed``: the reference's batch publishes a serving
star from a generated OWID CSV during set-up (``etl.run_batch``), then
one closed-loop client reads and writes it.

The client runs a fixed number of cycles of 14 operations, sized from
``--seconds`` (:data:`CYCLE_SECONDS` each), so two commits given the
same ``--seconds`` do the same work whatever their speed. Every cycle has the same mix and starts from the same state:

- 12 reads, the reference dashboard's four canned panels in turn: the
  global daily series and the top-N countries through
  ``serving.cached_query``, a per-country timeline with an IN-list and
  the latest row for one country through ``catalog.query``. Location
  keys are drawn from the seed with a Zipf skew. The result cache is
  emptied between cycles, so a cycle's first read of a cached panel is
  a miss and the other two are hits.
- 2 writes: ``serving.publish_versioned`` of a one-day increment, read
  back with ``read_current``, and a ``serving.delete_keys`` of one
  location on the year-partitioned fact. The deleted locations are the
  least popular ones, which no read asks for, so reads in later cycles
  find the rows earlier ones did.

The operations are short, so fixed per-query cost (analysis, job
scheduling) dominates rather than data volume.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil

import numpy as np

from perfbench import etl, gen
from perfbench.common import Ctx, median_or_zero, per_op_sums, timing_summary, warm_engine

FULL = (100, 500)  # locations x days
TINY = (12, 60)
#: a little more than one cycle takes on a quiet 4-vCPU host; a run
#: makes ``--seconds`` / CYCLE_SECONDS cycles (at least one)
CYCLE_SECONDS = 2.5
#: one cycle: each panel three times, then a publish and a delete
CYCLE = [("read", panel) for _ in range(3) for panel in range(4)] + [
    ("write", "publish"), ("write", "delete"),
]


INCREMENT_SCHEMA = "location string, iso_code string, date date, new_cases double"


def _zipf(rng, n: int) -> int:
    """A Zipf(1.3) rank in ``[0, n)``; draws past ``n`` are redrawn."""
    while (k := int(rng.zipf(1.3))) > n:
        pass
    return k - 1


def _in_list(names) -> str:
    return ", ".join(f"'{n}'" for n in names)


class Client:
    """The closed-loop client: builds each operation (its keys drawn
    from the seed), runs it, and checks its output against DuckDB over
    the same published parquet."""

    def __init__(
        self, ctx: Ctx, root: str, star: str, locations: list[str], first: dt.date, days: int,
        cycles: int,
    ):
        import duckdb

        from covid19_etl_pipeline_spark import catalog, serving

        self.ctx, self.catalog, self.serving = ctx, catalog, serving
        self.root = root
        self.star = star
        self.cache = os.path.join(root, "cache")
        self.rng = np.random.default_rng(ctx.seed + 7)
        # popularity order: a seeded permutation, Zipf-ranked; the last
        # ``cycles`` locations are never read, and are the ones deleted
        self.by_rank = [locations[i] for i in self.rng.permutation(len(locations))]
        self.read_keys = self.by_rank[: len(locations) - cycles]
        self.to_delete = self.by_rank[len(locations) - cycles:]
        self.first, self.days = first, days
        self.version = 0
        self.hits = self.cached_calls = 0
        self.duck = duckdb.connect()
        for view in ("aggregated_stats", "global_daily_stats"):
            self.duck.execute(
                f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{self.star}/{view}/*.parquet')"
            )

    # -- reads -----------------------------------------------------------

    def next_read(self, panel: int) -> tuple[str, bool]:
        """(SQL, cached?) for dashboard panel ``panel`` (0-3)."""
        if panel == 0:
            since = self.first + dt.timedelta(days=10)
            return (
                "SELECT date, global_new_cases, global_new_deaths, "
                "global_new_cases_7day_avg, global_new_deaths_7day_avg "
                f"FROM global_daily_stats WHERE date >= DATE '{since}' ORDER BY date",
                True,
            )
        if panel == 1:
            return (
                "SELECT location, iso_code, total_cases, total_deaths, cases_per_100k "
                "FROM aggregated_stats ORDER BY total_cases DESC, location LIMIT 50",
                True,
            )
        if panel == 2:
            keys = sorted({self.read_keys[_zipf(self.rng, len(self.read_keys))] for _ in range(3)})
            return (
                "SELECT location, date, new_cases, total_cases, case_fatality_rate "
                f"FROM covid_cases WHERE location IN ({_in_list(keys)}) "
                "ORDER BY location, date",
                False,
            )
        loc = self.read_keys[_zipf(self.rng, len(self.read_keys))]
        return (
            "SELECT location, date, total_cases, total_deaths, new_cases "
            f"FROM covid_cases WHERE location = '{loc}' ORDER BY date DESC LIMIT 1",
            False,
        )

    def read(self, sql: str, cached: bool, op: str):
        tr, spark = self.ctx.tracer, self.ctx.spark
        with tr.span("serve.read_s", op=op):
            if cached:
                with tr.span("serving.cached_query_s"):
                    df = self.serving.cached_query(spark, sql, self.cache, ttl_seconds=86_400)
            else:
                with tr.span("catalog.query_s"):
                    df = self.catalog.query(spark, sql)
            with tr.span("catalog.collect_s"):
                return df.collect()

    def check_read(self, sql: str, rows) -> tuple[bool, str]:
        got = _canon(tuple(r) for r in rows)
        want = _canon(self.duck.execute(self._duck_sql(sql)).fetchall())
        return got == want, f"{len(got)} rows vs DuckDB {len(want)}: {sql[:80]}"

    def _duck_sql(self, sql: str) -> str:
        fact = f"read_parquet('{self.star}/covid_cases/*/*.parquet', hive_partitioning=true)"
        return sql.replace("FROM covid_cases", f"FROM {fact}")

    # -- writes ----------------------------------------------------------

    def next_write(self, kind: str):
        """The argument of the next write: the location to delete, or
        the version id and rows of a one-day increment."""
        if kind == "delete":
            return self.to_delete.pop()
        self.version += 1
        day = self.first + dt.timedelta(days=self.days + self.version)
        rows = [
            (loc, f"C{loc[-4:]}", day, float(self.rng.integers(0, 10_000)))
            for loc in self.by_rank
        ]
        return f"{self.version:06d}", rows

    def write(self, kind: str, arg, op: str):
        tr, spark, serving = self.ctx.tracer, self.ctx.spark, self.serving
        with tr.span("serve.write_s", op=op):
            if kind == "publish":
                version, df = arg
                with tr.span("serving.publish_versioned_s"):
                    serving.publish_versioned(spark, df, "daily_increment", self.root, version)
                with tr.span("serving.read_current_s"):
                    return serving.read_current(spark, "daily_increment", self.root).count()
            path = f"{self.star}/covid_cases"
            keys = spark.createDataFrame([(arg,)], "location string")
            with tr.span("serving.delete_keys_s"):
                n = serving.delete_keys(spark, path, keys, ("location",), ("year",))
            # the fact's files changed: re-register the view over them
            spark.read.parquet(path).createOrReplaceTempView("covid_cases")
            return n

    def fact_rows(self, where: str = "") -> int:
        return self.duck.execute(
            "SELECT count(*) FROM read_parquet(?, hive_partitioning=true) " + where,
            [f"{self.star}/covid_cases/*/*.parquet"],
        ).fetchone()[0]


def _canon(rows) -> list[tuple]:
    def cell(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 9)
        return v

    return sorted((tuple(str(cell(v)) for v in r) for r in rows))


def run(ctx: Ctx) -> None:
    n_loc, n_days = TINY if ctx.tiny else FULL
    csv = os.path.join(ctx.work, "owid.csv")
    info = ctx.generate(gen.write_owid_csv, csv, ctx.seed, n_loc, n_days)
    info["days"] = n_days
    ctx.detail["input"] = {"rows": info["rows"], "bytes": info["bytes"]}
    root = os.path.join(ctx.work, "serve")
    locations = [name for name, _ in info["locations"]]
    spark = ctx.spark
    cycles = min(max(1, round(ctx.seconds / CYCLE_SECONDS)), n_loc // 2)

    warm_engine(spark, ctx.work)
    star = etl.run_batch(ctx, csv, info, os.path.join(ctx.work, "etl"))
    client = Client(
        ctx, root, star, locations,
        dt.date.fromisoformat(info["first_date"]), n_days, cycles,
    )
    rows_in_fact = info["rows"]
    _warm_up(spark, client, os.path.join(root, "warm"))

    for cycle in range(cycles):
        shutil.rmtree(client.cache, ignore_errors=True)
        for step, (kind, what) in enumerate(CYCLE):
            op = f"op-{cycle}-{step}"
            if kind == "read":
                sql, cached = client.next_read(what)
                _read(ctx, client, sql, cached, op)
            else:
                rows_in_fact -= _write(ctx, client, what, op, len(locations))

    # final state: Spark, DuckDB and the client's own count agree
    final_spark = spark.table("covid_cases").count()
    final_duck = client.fact_rows()
    if not final_spark == final_duck == rows_in_fact:
        ctx.fail(
            "final", 0.0,
            f"fact rows after deletes: spark {final_spark}, duckdb {final_duck}, "
            f"expected {rows_in_fact}",
            timed=False,
        )
    ctx.detail["cache"] = {"calls": client.cached_calls, "hits": client.hits}
    client.duck.close()


def _warm_up(spark, client: Client, warm: str) -> None:
    """One of each read and write shape, uncounted, on a separate cache
    root, version root and copy of the fact, so that no timed operation
    pays for the first run of its code path."""
    for panel in range(4):
        sql, cached = client.next_read(panel)
        if cached:
            client.serving.cached_query(spark, sql, f"{warm}/cache").collect()
        else:
            client.catalog.query(spark, sql).collect()
    loc = client.read_keys[0]
    day = client.first + dt.timedelta(days=client.days)
    inc = spark.createDataFrame([(loc, f"C{loc[-4:]}", day, 0.0)], INCREMENT_SCHEMA)
    client.serving.publish_versioned(spark, inc, "daily_increment", warm, "000000")
    client.serving.read_current(spark, "daily_increment", warm).count()
    fact = f"{warm}/covid_cases"
    shutil.copytree(f"{client.star}/covid_cases", fact)
    keys = spark.createDataFrame([(loc,)], "location string")
    client.serving.delete_keys(spark, fact, keys, ("location",), ("year",))


def _read(ctx: Ctx, client: Client, sql: str, cached: bool, op: str) -> None:
    if cached:
        client.cached_calls += 1
        client.hits += os.path.exists(os.path.join(_cache_dir(client.cache, sql), "_SUCCESS"))
    rows, sec = ctx.timed("read", lambda: client.read(sql, cached, op))
    if rows is not None:
        ctx.check("read", sec, lambda: client.check_read(sql, rows))


def _write(ctx: Ctx, client: Client, kind: str, op: str, n_locations: int) -> int:
    """Run one write; return the number of fact rows it deleted."""
    arg = client.next_write(kind)
    if kind == "publish":
        arg = (arg[0], ctx.spark.createDataFrame(arg[1], INCREMENT_SCHEMA))
        want = n_locations
    else:
        want = client.fact_rows(f"WHERE location = '{arg}'")
    got, sec = ctx.timed("write", lambda: client.write(kind, arg, op))
    if got is None:
        return 0
    ctx.check("write", sec, lambda: (got == want, f"{kind}: {got} rows, expected {want}"))
    return want if kind == "delete" else 0


def _cache_dir(cache_root: str, sql: str) -> str:
    """Where ``serving.cached_query`` keeps the snapshot for ``sql``."""
    import hashlib

    return os.path.join(cache_root, "q_" + hashlib.md5(sql.encode()).hexdigest()[:16])


def figures(ctx: Ctx) -> dict:
    """The workload's own end-to-end figures: the batch, then the reads
    and writes as median and tail with their sample counts."""
    reads = [op.seconds for op in ctx.ops if op.timed and op.kind == "read"]
    writes = [op.seconds for op in ctx.ops if op.timed and op.kind == "write"]
    return {
        "etl_s": ctx.detail.get("etl_s"),
        "etl_out_bytes_per_in_byte": ctx.detail.get("etl_out_bytes_per_in_byte"),
        "serve_read": timing_summary(reads),
        "serve_write": timing_summary(writes),
        "serve_ops_per_s": (len(reads) + len(writes)) / max(sum(reads) + sum(writes), 1e-9),
    }


def layer_metrics(ctx: Ctx) -> dict[str, float]:
    """The set-up batch's layers, then per operation: medians of span
    seconds, and jobs and tasks per read and per write."""
    tr = ctx.tracer
    reads = per_op_sums(tr, "serve.read_s")
    writes = per_op_sums(tr, "serve.write_s")
    read_jobs = per_op_sums(tr, "serve.read_s", "jobs")
    read_tasks = per_op_sums(tr, "serve.read_s", "tasks")
    write_jobs = per_op_sums(tr, "serve.write_s", "jobs")
    cache = ctx.detail.get("cache", {})

    def med(name: str) -> float:
        return median_or_zero(per_op_sums(tr, name).values())

    def mean(d: dict) -> float:
        return sum(d.values()) / len(d) if d else 0.0

    return {
        **etl.layer_metrics(ctx),
        "serve.read_s": median_or_zero(reads.values()),
        "serve.write_s": median_or_zero(writes.values()),
        "catalog.query_s": med("catalog.query_s"),
        "catalog.collect_s": med("catalog.collect_s"),
        "serving.cached_query_s": med("serving.cached_query_s"),
        "serving.cache_hit_ratio": cache.get("hits", 0) / max(cache.get("calls", 0), 1),
        "serving.read_current_s": med("serving.read_current_s"),
        "serving.publish_versioned_s": med("serving.publish_versioned_s"),
        "serving.delete_keys_s": med("serving.delete_keys_s"),
        "serve.jobs_per_read": mean(read_jobs),
        "serve.tasks_per_read": mean(read_tasks),
        "serve.jobs_per_write": mean(write_jobs),
    }
