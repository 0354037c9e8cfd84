"""Scalar helpers, HTTP source retry semantics, and the serving layer."""

from __future__ import annotations

from pathlib import Path
from unittest.mock import patch

from pyspark.sql import functions as F

from covid19_etl_pipeline_spark.functions.scalars import humanize_number
from covid19_etl_pipeline_spark.pipeline import run_transform_fanout
from covid19_etl_pipeline_spark.serving import publish_star_schema
from covid19_etl_pipeline_spark.sources import http


def test_scalar_helpers(spark):
    df = spark.createDataFrame([(1_000_000.0,), (1234.0,), (None,)], ["pop"])
    out = df.select(humanize_number("pop").alias("h")).collect()
    assert out[0]["h"] == "1.00M"
    assert out[1]["h"] == "1.23K"
    assert out[2]["h"] is None


def test_download_retries_with_backoff(tmp_path):
    """Reference contract (data_extractor.py:52-91): 3 attempts,
    2**attempt backoff, None after exhaustion."""
    sleeps: list[float] = []
    attempts = {"n": 0}

    def failing_get(*a, **k):
        attempts["n"] += 1
        raise ConnectionError("boom")

    target = tmp_path / "out.csv"
    if http._HAVE_REQUESTS:
        ctx = patch.object(http.requests, "get", side_effect=failing_get)
    else:
        ctx = patch.object(http.urllib.request, "urlopen", side_effect=failing_get)
    with ctx:
        result = http.download_file(
            "http://example.invalid/x.csv", target, retries=3, sleep=sleeps.append
        )
    assert result is None
    assert attempts["n"] == 3
    assert sleeps == [1, 2]  # 2**0, 2**1 between attempts


def test_download_success_streams_chunks(tmp_path):
    payload = b"a,b\n1,2\n" * 3000  # > one 8 KiB chunk

    class FakeResp:
        def raise_for_status(self):
            pass

        def iter_content(self, chunk_size):
            assert chunk_size == http.CHUNK_SIZE
            for i in range(0, len(payload), chunk_size):
                yield payload[i : i + chunk_size]

        def read(self, n):  # urllib path
            raise AssertionError("not used")

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    target = tmp_path / "d" / "out.csv"
    if http._HAVE_REQUESTS:
        with patch.object(http.requests, "get", return_value=FakeResp()):
            result = http.download_file("http://example.invalid/x.csv", target)
        assert result == target
        assert target.read_bytes() == payload


def test_named_source_registry(tmp_path):
    reg = http.SourceRegistry()
    reg.register(
        http.NamedSource("covid", "http://example.invalid/c.csv", "covid_{date}.csv")
    )
    assert reg.names() == ["covid"]
    with patch.object(http, "download_file", return_value=Path("/x")) as dl:
        reg.extract("covid", tmp_path, "20260813")
        url, path = dl.call_args[0]
        assert path == tmp_path / "covid_20260813.csv"


def test_publish_star_schema_and_query(spark, tmp_path):
    raw = spark.createDataFrame(
        [
            ("A", "AAA", "2021-01-01", "100", "1", "10", "1", "1000"),
            ("A", "AAA", "2021-01-02", "110", "2", "10", "1", "1000"),
            ("B", "BBB", "2021-01-01", "50", "0", "5", "0", "500"),
        ],
        ["location", "iso_code", "date", "total_cases", "total_deaths",
         "new_cases", "new_deaths", "population"],
    )
    marts = run_transform_fanout(raw, str(tmp_path / "marts"))
    paths = publish_star_schema(spark, marts, str(tmp_path))
    assert set(paths) == {"covid_cases", "aggregated_stats", "global_daily_stats"}
    # ad-hoc SQL surface over the registered views (S9)
    top = spark.sql(
        "SELECT location, total_cases FROM aggregated_stats ORDER BY total_cases DESC"
    ).collect()
    assert top[0]["location"] == "A" and top[0]["total_cases"] == 110.0
    daily = spark.sql("SELECT * FROM global_daily_stats ORDER BY date").collect()
    assert daily[0]["countries_reporting"] == 2
    # audit column stamped on every serving table
    assert "created_at" in spark.table("covid_cases").columns
    # fact is year-partitioned on disk
    assert any(p.name == "year=2021" for p in (tmp_path / "covid_cases").iterdir())


def test_overwrite_table_registers_view_without_a_job(spark, tmp_path, monkeypatch):
    """The view ``overwrite_table`` registers is bound to the schema it
    just wrote: registering it reads no parquet footer, so no job runs
    between the write and the return. The view still reads what a
    schema-inferring read of the directory does, partition column
    last."""
    from covid19_etl_pipeline_spark import serving

    sc = spark.sparkContext
    group = "overwrite-table-view"
    write = serving.write_parquet

    def write_then_tag(*args, **kwargs):
        path = write(*args, **kwargs)
        sc.setLocalProperty("spark.jobGroup.id", group)
        return path

    monkeypatch.setattr(serving, "write_parquet", write_then_tag)
    df = spark.createDataFrame(
        [(1, 2020, "a"), (2, 2021, "b"), (3, 2021, None)], "id long, year int, v string"
    )
    try:
        path = serving.overwrite_table(spark, df, "t_overwrite_view", str(tmp_path), ("year",))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    view, inferred = spark.table("t_overwrite_view"), spark.read.parquet(path)
    assert view.columns == inferred.columns == ["id", "v", "created_at", "year"]
    assert view.exceptAll(inferred).count() == 0
    assert inferred.exceptAll(view).count() == 0


def _jobs_run_by(spark, build):
    """``build()`` under a job group of its own: its result and the ids
    of the Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"jobs-run-by-{id(build)}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_runs_no_job(spark, sf_dir):
    """Every catalog table's schema is bound from its footer on the
    driver: building the frames runs no Spark job."""
    from covid19_etl_pipeline_spark.catalog import TABLES, load_table

    frames, jobs = _jobs_run_by(spark, lambda: [load_table(spark, sf_dir, t) for t in TABLES])
    assert jobs == []
    assert frames[TABLES.index("lineitem")].count() == 6000


def test_read_current_runs_no_job(spark, tmp_path):
    from covid19_etl_pipeline_spark.serving import publish_versioned, read_current

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    publish_versioned(spark, df, "t_current", str(tmp_path), "001")
    cur, jobs = _jobs_run_by(spark, lambda: read_current(spark, "t_current", str(tmp_path)))
    assert jobs == []
    assert sorted(r["id"] for r in cur.collect()) == [1, 2]


def test_list_versions_runs_no_job(spark, tmp_path):
    """Row counts come from the footers: building the versions table
    runs no Spark job, and each count is what a scan of that version
    counts."""
    from covid19_etl_pipeline_spark.serving import list_versions, publish_versioned
    from covid19_etl_pipeline_spark.sources.io import read_parquet

    root = str(tmp_path)
    for i, version in enumerate(("001", "002", "003")):
        df = spark.range(10 * (i + 1)).repartition(i + 1).withColumnRenamed("id", "k")
        publish_versioned(spark, df, "t_versions", root, version)
    versions, jobs = _jobs_run_by(spark, lambda: list_versions(spark, "t_versions", root))
    assert jobs == []
    rows = versions.collect()
    assert [r["version"] for r in rows] == ["001", "002", "003"]
    for r in rows:
        path = f"{root}/t_versions/v={r['version']}"
        assert r["n_rows"] == read_parquet(spark, path).count()


def test_cached_query_hit_runs_no_job_before_its_action(spark, tmp_path):
    from covid19_etl_pipeline_spark.serving import cached_query

    spark.createDataFrame([(1, 2.0), (2, 3.0)], "k long, x double").createOrReplaceTempView(
        "t_cached"
    )
    sql = "SELECT k, x * 2 AS y FROM t_cached"
    miss = cached_query(spark, sql, str(tmp_path))
    hit, jobs = _jobs_run_by(spark, lambda: cached_query(spark, sql, str(tmp_path)))
    assert jobs == []
    assert hit.schema == miss.schema
    assert sorted(map(tuple, hit.collect())) == [(1, 4.0), (2, 6.0)]


def test_jdbc_sink_round_trip(spark, tmp_path):
    """S8 external-store hand-off (data_loader.py:200-267 analog):
    overwrite = truncate-and-load, append accumulates, partitioned read
    fans out over bounded ranges."""
    from covid19_etl_pipeline_spark.serving import read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/servingdb;create=true"
    df = spark.range(50).select(
        F.col("id"),
        (F.col("id") * 1.5).alias("score"),
        F.concat(F.lit("u"), F.col("id")).alias("name"),
    )
    write_jdbc(df, url, "scores", mode="overwrite", num_partitions=2)
    back = read_jdbc(spark, url, "scores")
    assert back.count() == 50
    assert {f.name for f in back.schema.fields} == {"id", "score", "name"}
    assert back.agg(F.sum("score")).head()[0] == sum(i * 1.5 for i in range(50))

    # truncate-and-append semantics: append stacks, overwrite resets
    write_jdbc(df, url, "scores", mode="append")
    assert read_jdbc(spark, url, "scores").count() == 100
    write_jdbc(df, url, "scores", mode="overwrite")
    assert read_jdbc(spark, url, "scores").count() == 50

    # range-partitioned parallel read: same rows, bounded per-connection
    parted = read_jdbc(
        spark, url, "scores",
        partition_column="id", lower_bound=0, upper_bound=50, num_partitions=4,
    )
    assert parted.count() == 50
    assert parted.rdd.getNumPartitions() == 4


def test_yaml_config_loader(tmp_path):
    """L1/S2 config parity (config/config.yaml:4-66): sources bind into
    the registry, spark block maps onto session kwargs, countries load."""
    from covid19_etl_pipeline_spark.config import (
        build_registry,
        load_config,
        session_kwargs,
    )

    cfg_file = tmp_path / "pipeline.yaml"
    cfg_file.write_text(
        """
data_sources:
  owid_covid:
    url: "https://example.invalid/covid.csv"
    format: "csv"
    description: "cases"
  owid_vaccinations:
    url: "https://example.invalid/vax.csv"
    format: "csv"
spark:
  app_name: "config-driven"
  master: "local[2]"
  config:
    spark.sql.shuffle.partitions: 7
    spark.driver.memory: "2g"
processing:
  countries_of_interest: ["Brazil", "Germany"]
database:
  path: "serve/root"
"""
    )
    cfg = load_config(cfg_file)
    assert [s.name for s in cfg.sources] == ["owid_covid", "owid_vaccinations"]
    assert cfg.countries == ("Brazil", "Germany")
    assert cfg.serving_root == "serve/root"

    reg = build_registry(cfg)
    assert reg.names() == ["owid_covid", "owid_vaccinations"]

    kw = session_kwargs(cfg)
    assert kw["app_name"] == "config-driven"
    assert kw["master"] == "local[2]"
    assert kw["shuffle_partitions"] == 7
    assert kw["extra_conf"] == {"spark.driver.memory": "2g"}

    # malformed config fails loudly, not at first use
    bad = tmp_path / "bad.yaml"
    bad.write_text("data_sources:\n  broken:\n    format: csv\n")
    import pytest

    with pytest.raises(ValueError, match="needs a url"):
        load_config(bad)


def test_config_driven_e2e(spark, tmp_path):
    """--config drives the full E2E exactly like python -m with flags."""
    import covid19_etl_pipeline_spark.__main__ as entry

    cfg_file = tmp_path / "pipeline.yaml"
    cfg_file.write_text(
        """
processing:
  countries_of_interest: ["Demoland"]
"""
    )
    from covid19_etl_pipeline_spark.config import load_config

    cfg = load_config(cfg_file)
    report = entry.run_etl(spark, str(tmp_path / "out"), None, cfg.countries)
    assert set(report["timings"]) == {"extract", "transform", "load"}
    assert (tmp_path / "out" / "serving" / "covid_cases").exists()
    # the countries mart honored the config's IN-list
    marts = report["marts"]
    assert any("countr" in k or "filter" in k for k in marts) or len(marts) >= 3


def test_config_driven_cli_main(spark, tmp_path, capsys):
    """python -m covid19_etl_pipeline_spark --config <yaml> --out <dir>
    (in-process: get_spark getOrCreate reuses the test JVM)."""
    import json as _json

    import covid19_etl_pipeline_spark.__main__ as entry

    cfg_file = tmp_path / "pipeline.yaml"
    cfg_file.write_text(
        """
spark:
  app_name: "cli-config"
processing:
  countries_of_interest: ["Demoland", "Otherland"]
"""
    )
    rc = entry.main(["--config", str(cfg_file), "--out", str(tmp_path / "o")])
    assert rc == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(report["timings"]) == {"extract", "transform", "load"}
    assert (tmp_path / "o" / "serving" / "covid_cases").exists()


def test_versioned_publish_pointer_swap_and_rollback(spark, sf_dir, tmp_path):
    """Two publishes: readers follow _CURRENT to v2; rollback repoints
    to v1 with zero data movement; unknown rollback target raises."""
    import pytest

    from covid19_etl_pipeline_spark.serving import (
        publish_versioned,
        read_current,
        rollback_version,
    )

    root = str(tmp_path)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    publish_versioned(spark, nation, "dim_nation", root, "20260813")
    publish_versioned(spark, nation.limit(5), "dim_nation", root, "20260814")
    assert read_current(spark, "dim_nation", root).count() == 5
    rollback_version("dim_nation", root, "20260813")
    assert read_current(spark, "dim_nation", root).count() == 25
    with pytest.raises(FileNotFoundError):
        rollback_version("dim_nation", root, "19990101")


def test_cached_query_ttl_hit_and_expiry(spark, sf_dir, tmp_path):
    """Within TTL the snapshot is served (source changes invisible);
    after expiry the query re-executes and sees the new data — the
    reference dashboard's ttl=3600 contract, cross-process."""
    import os
    import time

    from covid19_etl_pipeline_spark.serving import cached_query

    spark.read.parquet(f"{sf_dir}/nation.parquet").limit(10).createOrReplaceTempView(
        "cq_nation"
    )
    sql = "SELECT count(*) AS n FROM cq_nation"
    root = str(tmp_path)
    assert cached_query(spark, sql, root, ttl_seconds=3600).first()["n"] == 10

    # source changes under the cache: still served stale within TTL
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView("cq_nation")
    assert cached_query(spark, sql, root, ttl_seconds=3600).first()["n"] == 10

    # expire the snapshot: next call re-executes and sees 25
    key_dir = next(p for p in os.listdir(root) if p.startswith("q_"))
    marker = os.path.join(root, key_dir, "_SUCCESS")
    os.utime(marker, (time.time() - 7200, time.time() - 7200))
    assert cached_query(spark, sql, root, ttl_seconds=3600).first()["n"] == 25


def test_governed_publication_capstone(spark, sf_dir, tmp_path):
    """The governed publication chain end to end: versioned publish with
    atomic pointer -> consumer view over the CURRENT version ->
    TTL-cached query on the view -> rollback flips what every
    downstream layer sees, with zero data movement."""
    from covid19_etl_pipeline_spark.serving import (
        cached_query,
        publish_versioned,
        read_current,
        rollback_version,
    )

    root = str(tmp_path / "store")
    cache = str(tmp_path / "cache")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")

    publish_versioned(spark, cust, "dim_customer", root, "v1")
    publish_versioned(spark, cust.limit(100), "dim_customer", root, "v2")

    read_current(spark, "dim_customer", root).createOrReplaceTempView("cust_gov")
    assert spark.table("cust_gov").count() == 100  # consumers see v2

    # TTL cache serves the governed result; rollback + re-registration
    # changes the physical data, the stale snapshot still serves until
    # expiry (the dashboard-freshness contract)
    n1 = cached_query(
        spark, "SELECT count(*) AS n FROM cust_gov", cache
    ).first()["n"]
    assert n1 == 100
    rollback_version("dim_customer", root, "v1")
    read_current(spark, "dim_customer", root).createOrReplaceTempView("cust_gov")
    assert spark.table("cust_gov").count() == cust.count()  # live view: v1
    n_cached = cached_query(
        spark, "SELECT count(*) AS n FROM cust_gov", cache
    ).first()["n"]
    assert n_cached == 100  # snapshot within TTL stays authoritative


def test_list_versions_metadata(spark, sf_dir, tmp_path):
    from covid19_etl_pipeline_spark.serving import list_versions, publish_versioned

    root = str(tmp_path)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    publish_versioned(spark, nation, "t", root, "v1")
    publish_versioned(spark, nation.limit(4), "t", root, "v2")
    got = {
        r["version"]: (r["n_rows"], r["is_current"])
        for r in list_versions(spark, "t", root).collect()
    }
    assert got == {"v1": (25, False), "v2": (4, True)}


def test_delete_keys_partition_scoped(spark, tmp_path):
    """Targeted delete rewrites only affected partitions, purges
    fully-deleted ones, and never touches unaffected files — also for
    null and escaped partition values, and the returned count is the
    number of rows actually removed."""
    import os

    from covid19_etl_pipeline_spark.serving import delete_keys

    path = str(tmp_path / "tbl")
    rows = [
        # (user_id, region, v)
        (1, "eu", 10), (2, "eu", 20), (3, "us", 30),
        (4, "us", 40), (5, "apac", 50),
        (6, None, 60), (7, None, 70), (8, "a/b", 80),
    ]
    df = spark.createDataFrame(rows, "user_id long, region string, v long")
    df.write.partitionBy("region").parquet(path)

    def files(part):
        d = os.path.join(path, f"region={part}")
        if not os.path.isdir(d):
            return None
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    def user_ids():
        return {r["user_id"] for r in spark.read.parquet(path).collect()}

    us_before = files("us")
    assert files("a%2Fb") is not None  # 'a/b' lands escaped
    # user 1: partial eu; user 5: ALL of apac; user 6: partial NULL
    # region; user 8: ALL of the escaped 'a/b' region
    keys = spark.createDataFrame([(1,), (5,), (6,), (8,)], "user_id long")
    n = delete_keys(spark, path, keys, ("user_id",), ("region",))
    assert user_ids() == {2, 3, 4, 7}
    assert n == len(rows) - len(user_ids()) == 4  # the rows actually removed
    # untouched partition: identical files, identical mtimes
    assert files("us") == us_before
    # fully-deleted partition directories purged, escaped one included
    assert files("apac") is None
    assert files("a%2Fb") is None
    # the last row of the NULL region: that partition is purged too
    keys7 = spark.createDataFrame([(7,)], "user_id long")
    assert delete_keys(spark, path, keys7, ("user_id",), ("region",)) == 1
    assert user_ids() == {2, 3, 4}
    assert files("__HIVE_DEFAULT_PARTITION__") is None
    # idempotent: nothing left to delete
    assert delete_keys(spark, path, keys, ("user_id",), ("region",)) == 0
    assert files("us") == us_before


def test_vacuum_versions_keeps_current_and_newest(spark, tmp_path):
    import os

    from covid19_etl_pipeline_spark.serving import (
        publish_versioned,
        read_current,
        rollback_version,
        vacuum_versions,
    )

    root = str(tmp_path)
    df = spark.createDataFrame([(1,)], ["x"])
    for v in ("2026-01-01", "2026-01-02", "2026-01-03"):
        publish_versioned(spark, df, "t", root, v)
    # roll back so _CURRENT points at the OLDEST version
    rollback_version("t", root, "2026-01-01")
    deleted = vacuum_versions("t", root, keep_last=1)
    # newest kept, current kept despite age, middle deleted
    assert deleted == ["2026-01-02"]
    left = sorted(e for e in os.listdir(os.path.join(root, "t")) if e.startswith("v="))
    assert left == ["v=2026-01-01", "v=2026-01-03"]
    assert read_current(spark, "t", root).count() == 1


def test_cached_frame_ttl(spark, tmp_path):
    """cached_frame: builder runs on miss, snapshot served inside TTL,
    rebuilt when expired (mtime aged artificially)."""
    import os

    from covid19_etl_pipeline_spark.serving import cached_frame

    calls = []

    def build():
        calls.append(1)
        return spark.range(5)

    root = str(tmp_path / "cache")
    os.makedirs(root)
    assert cached_frame(spark, "k1", build, root).count() == 5
    assert cached_frame(spark, "k1", build, root).count() == 5
    assert len(calls) == 1  # second call hit the snapshot
    # age the marker past the TTL → rebuild
    marker = os.path.join(root, "k1", "_SUCCESS")
    os.utime(marker, (0, 0))
    assert cached_frame(spark, "k1", build, root, ttl_seconds=10).count() == 5
    assert len(calls) == 2


def test_dashboard_render(spark, tmp_path):
    """dashboard: four engine-side panels render to one self-contained
    HTML page — hero + KPI tiles, a 2-series trend with legend and
    crosshair, two single-hue bar charts, and a table view per chart
    (tooltips enhance, never gate). Labels are HTML-escaped."""
    from pyspark.sql import Row

    from covid19_etl_pipeline_spark.dashboard import render_dashboard, write_dashboard

    import datetime as dt

    stats = [Row(table_name="orders", n_rows=1500), Row(table_name="events", n_rows=99)]
    trend = [
        Row(event_date=dt.date(2024, 1, 1 + i), total_value=100.0 + i * 10,
            users_reporting=5, value_7day_avg=100.0 + i * 5)
        for i in range(10)
    ]
    top = [Row(o_orderkey=1, o_custkey=9, o_totalprice=500.0),
           Row(o_orderkey=2, o_custkey=8, o_totalprice=250.0)]
    recent = [Row(event_type="<script>alert(1)</script>", n_events=7),
              Row(event_type="view", n_events=3)]
    page = render_dashboard(stats, trend, top, recent)

    assert page.count("<svg") == 3
    assert page.count("<details>") == 4          # table view per panel
    assert "crosshair" in page and "legend" in page
    assert "<script>alert(1)</script>" not in page          # escaped
    assert "&lt;script&gt;alert(1)&lt;/script&gt;" in page
    assert 'class="hero"' in page and page.count('class="tile"') == 2
    # deterministic for fixed input
    assert page == render_dashboard(stats, trend, top, recent)

    # end-to-end write against real test data, with the TTL cache
    out = write_dashboard(
        spark, "/root/testdata/sf0.001", str(tmp_path / "dash.html"),
        cache_root=str(tmp_path / "cache"),
    )
    body = open(out).read()
    assert body.count("<svg") == 3 and "Engine serving dashboard" in body


def test_compact_parquet_autosize_and_sort(spark, tmp_path):
    """compact_parquet auto-sizing: with no explicit target, the output
    file count derives from on-disk bytes (tiny data -> one file), rows
    and values survive exactly, and sort_by restores clustering."""
    import pyspark.sql.functions as F

    from covid19_etl_pipeline_spark.sources.io import compact_parquet

    path = str(tmp_path / "frag")
    spark.range(10_000).select(
        F.col("id"), (F.col("id") % 97).alias("k")
    ).repartition(64).write.parquet(path)

    n_after = compact_parquet(spark, path, sort_by="k")
    assert n_after == 1          # ~80KB of data -> one 128MB-target file
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.selectExpr("sum(id)").first()[0] == sum(range(10_000))
    # clustering restored: within the single sorted file, k is ordered
    ks = [r["k"] for r in back.collect()]
    assert ks == sorted(ks)
