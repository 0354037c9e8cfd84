"""Lakehouse operations: integrity audits, quality gates, data layout,
optimizer statistics, incremental view maintenance.

Registered query family (13 entries); split from the
original monolithic plans/queries.py.
"""

from __future__ import annotations
from functools import reduce
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from covid19_etl_pipeline_spark.catalog import load_table

from covid19_etl_pipeline_spark.plans._registry import _register

@_register(
    "referential_integrity_audit",
    """
    SELECT 'customer_pk_dups' AS check_name,
           (SELECT count(*) FROM (
               SELECT c_custkey FROM customer
               GROUP BY c_custkey HAVING count(*) > 1)) AS n_violations
    UNION ALL
    SELECT 'lineitem_null_keys',
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey IS NULL OR l_partkey IS NULL)
    UNION ALL
    SELECT 'lineitem_orphans',
           (SELECT count(*) FROM lineitem l
            LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderkey IS NULL)
    UNION ALL
    SELECT 'orders_orphan_customers',
           (SELECT count(*) FROM orders o
            LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey IS NULL)
    ORDER BY check_name
    """,
    "referential-integrity audit — the constraint checks a lakehouse "
    "must run itself (parquet enforces nothing): PK uniqueness, "
    "NOT-NULL key columns, and FK orphan detection in both fact "
    "directions. Orphan checks are left-ANTI joins (only the key "
    "column shuffles, and a broadcast when the parent side is small); "
    "the four audit scalars union into one tiny report. The engine "
    "twin of the reference's NaN/row-count diagnostics (debugdb.py)",
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    pk_dups = (
        c.groupBy("c_custkey").agg(F.count("*").alias("n")).filter(F.col("n") > 1)
    )
    null_keys = li.filter(
        F.col("l_orderkey").isNull() | F.col("l_partkey").isNull()
    )
    li_orphans = li.join(
        o.select("o_orderkey"),
        li["l_orderkey"] == o["o_orderkey"],
        "left_anti",
    )
    o_orphans = o.join(
        c.select("c_custkey"), o["o_custkey"] == c["c_custkey"], "left_anti"
    )
    return (
        one("customer_pk_dups", pk_dups)
        .unionByName(one("lineitem_null_keys", null_keys))
        .unionByName(one("lineitem_orphans", li_orphans))
        .unionByName(one("orders_orphan_customers", o_orphans))
        .orderBy("check_name")
    )


@_register(
    "join_key_skew_profile",
    """
    WITH k AS (
        SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(max(cnt) AS BIGINT) AS max_rows_per_key,
           round(avg(cnt), 4) AS avg_rows_per_key,
           round(CAST(quantile_cont(CAST(cnt AS DOUBLE), 0.99) AS DOUBLE), 4)
               AS p99_rows_per_key,
           round(CAST(max(cnt) AS DOUBLE) / avg(cnt), 4) AS skew_factor
    FROM k
    """,
    "join-key skew diagnostic — the measurement that decides between a "
    "plain shuffle join, AQE skew split, and explicit salting "
    "(`salted_brand_revenue`): per-key row counts, p99, and the "
    "max/avg skew factor. Two partial-aggregable passes (key rollup, "
    "then a 1-row profile); at 100 TB this runs on a sample or on the "
    "key rollup you were about to shuffle anyway. Run it BEFORE "
    "picking a join strategy, not after the straggler shows up",
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    return k.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("max_rows_per_key"),
        F.round(F.avg("cnt"), 4).alias("avg_rows_per_key"),
        F.round(F.percentile(F.col("cnt").cast("double"), 0.99), 4).alias(
            "p99_rows_per_key"
        ),
        F.round(F.max("cnt").cast("double") / F.avg("cnt"), 4).alias("skew_factor"),
    )


@_register(
    "join_key_skew_report",
    """
    WITH k AS (
        SELECT l_suppkey, count(*) AS n_lines
        FROM lineitem GROUP BY l_suppkey
    ),
    s AS (SELECT avg(n_lines) AS mean_lines FROM k)
    SELECT k.l_suppkey, k.n_lines,
           round(k.n_lines / s.mean_lines, 4) AS skew_factor
    FROM k, s
    ORDER BY k.n_lines DESC, k.l_suppkey
    LIMIT 10
    """,
    "join-key skew diagnosis — the operational pre-flight before any "
    "big shuffle join: per-key row counts on the join column, top "
    "offenders expressed as a multiple of the mean key load. The "
    "number that decides between a plain shuffle join, salting, or "
    "AQE skew-split. Partial-aggregable rollup + a 1-row broadcast "
    "mean + TakeOrdered(10) — nothing driver-side grows with key "
    "cardinality",
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy("l_suppkey").agg(F.count("*").alias("n_lines"))
    mean_ = k.agg(F.avg("n_lines").alias("mean_lines"))
    return (
        k.crossJoin(F.broadcast(mean_))
        .select(
            "l_suppkey",
            "n_lines",
            F.round(F.col("n_lines") / F.col("mean_lines"), 4).alias("skew_factor"),
        )
        .orderBy(F.col("n_lines").desc(), "l_suppkey")
        .limit(10)
    )


@_register(
    "data_quality_report",
    """
    WITH base AS (
        SELECT count(*) AS n,
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_custkey,
               sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS v_date,
               sum(CASE WHEN o_orderstatus IS NOT NULL
                         AND o_orderstatus NOT IN ('O', 'F', 'P')
                        THEN 1 ELSE 0 END) AS v_status,
               sum(CASE WHEN o_totalprice IS NOT NULL
                         AND (o_totalprice < 0 OR o_totalprice > 1000000)
                        THEN 1 ELSE 0 END) AS v_price,
               count(o_orderkey) - count(DISTINCT o_orderkey) AS v_unique
        FROM orders
    )
    SELECT t.expectation, base.n AS n_rows,
           CAST(t.v AS BIGINT) AS n_violations,
           t.v = 0 AS passed
    FROM base, LATERAL (VALUES
        ('o_custkey_not_null', v_custkey),
        ('o_orderdate_not_null', v_date),
        ('o_orderstatus_in_list', v_status),
        ('o_totalprice_between_0_1000000', v_price),
        ('o_orderkey_unique', v_unique)
    ) AS t(expectation, v)
    ORDER BY expectation
    """,
    "declarative data-quality gate over the orders ingest via the "
    "quality.check_expectations engine: five rules (not-null x2, "
    "domain list, range, key uniqueness) evaluated in ONE aggregate "
    "pass — the reference's re-read-and-scan-per-column validators "
    "(S3/debugdb) collapsed into a single job whose cost is "
    "independent of rule count. The report is rule-count-sized",
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid19_etl_pipeline_spark.quality import (
        check_expectations,
        expect_between,
        expect_in,
        expect_not_null,
        expect_unique,
    )

    o = load_table(spark, sf_dir, "orders")
    rules = [
        expect_not_null("o_custkey"),
        expect_not_null("o_orderdate"),
        expect_in("o_orderstatus", ("O", "F", "P")),
        expect_between("o_totalprice", 0, 1000000),
        expect_unique("o_orderkey"),
    ]
    return check_expectations(o, rules).orderBy("expectation")


@_register(
    "orders_month_digests",
    """
    WITH h AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
               CAST(('0x' || substr(md5(concat(
                   CAST(o_orderkey AS VARCHAR), '|',
                   CAST(o_custkey AS VARCHAR), '|',
                   CAST(CAST(o_orderdate AS DATE) AS VARCHAR))), 1, 15))
                   AS BIGINT) AS rh
        FROM orders
    )
    SELECT CAST(month AS DATE) AS month,
           count(*) AS n_orders,
           bit_xor(rh) AS digest
    FROM h
    GROUP BY month
    ORDER BY month
    """,
    "anti-entropy content digests: per month, an ORDER-INDEPENDENT "
    "xor-of-row-hashes fingerprint plus a row count — the replication/"
    "backfill drift detector (compare digests of two copies, re-sync "
    "only months that differ, never the whole table). xor partials "
    "merge associatively and commutatively, so the digest is "
    "partitioning-proof and incrementally maintainable (xor the delta "
    "rows in or out); hashes cover only canonically-rendered key "
    "columns so both engines fold the identical bytes. THE cheap "
    "primitive for verifying a 100 TB table copy without shipping it",
)
def orders_month_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    rh = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_custkey").cast("string"),
                    od.cast("string"),
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        o.select(F.date_trunc("month", od).cast("date").alias("month"), rh.alias("rh"))
        .groupBy("month")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr("bit_xor(rh)").alias("digest"),
        )
        .orderBy("month")
    )


@_register(
    "star_schema_fk_audit",
    """
    SELECT 'lineitem_orphans' AS check_name,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_bad
    UNION ALL
    SELECT 'orders_without_lines',
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                              WHERE l.l_orderkey = o.o_orderkey))
    UNION ALL
    SELECT 'orders_orphan_customer',
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'suppliers_unreferenced',
           (SELECT count(*) FROM supplier s
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                              WHERE l.l_suppkey = s.s_suppkey))
    ORDER BY check_name
    """,
    "referential-integrity audit across the star schema: orphan "
    "lineitems (fact rows whose order vanished — the partial-load "
    "smoking gun), childless orders, orders pointing at missing "
    "customers, and unreferenced suppliers — the FK checks a "
    "warehouse load gate runs because parquet enforces none of them. "
    "Each check is one LEFT ANTI join (dimension sides broadcast, "
    "the fact-fact pair shuffles on the join key once); the four "
    "1-row counts union into a fixed 4-row report, so driver state "
    "is constant regardless of table size",
)
def star_schema_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey")

    def count_row(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n_bad")).select(
            F.lit(name).alias("check_name"), "n_bad"
        )

    checks = [
        count_row(
            "lineitem_orphans",
            li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti"),
        ),
        count_row(
            "orders_without_lines",
            o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_anti"),
        ),
        count_row(
            "orders_orphan_customer",
            o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti"),
        ),
        count_row(
            "suppliers_unreferenced",
            s.join(li, s["s_suppkey"] == li["l_suppkey"], "left_anti"),
        ),
    ]
    return reduce(lambda a, b: a.unionByName(b), checks).orderBy("check_name")


def _zorder_bits_sql(x: str, y: str, shift_fn) -> str:
    """12-bit Morton interleave of two 6-bit dims, as an arithmetic
    expression string; ``shift_fn(expr, i)`` renders a right-shift in
    the target dialect (Spark ``shiftright``, DuckDB ``>>``)."""
    terms = []
    for i in range(6):
        terms.append(f"(({shift_fn(x, i)}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({shift_fn(y, i)}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


_Z_SPARK = _zorder_bits_sql("zx", "zy", lambda e, i: f"shiftright({e}, {i})")
_Z_DUCK = _zorder_bits_sql("zx", "zy", lambda e, i: f"({e} >> {i})")


@_register(
    "zorder_layout_parts",
    f"""
    WITH dims AS (
        SELECT p_partkey, p_size, p_retailprice,
               p_size - 1 AS zx,
               least(63, greatest(0, CAST(floor((p_retailprice - 900.0)
                                                / 1.5625) AS INT))) AS zy
        FROM part
    ),
    z AS (SELECT *, {_Z_DUCK} AS zval FROM dims),
    assigned AS (
        SELECT 'zorder' AS layout, CAST(zval >> 8 AS INT) AS bucket,
               p_size, p_retailprice FROM z
        UNION ALL
        SELECT 'unclustered' AS layout, CAST(p_partkey % 16 AS INT) AS bucket,
               p_size, p_retailprice FROM z
    )
    SELECT layout, bucket, count(*) AS cnt,
           min(p_size) AS min_size, max(p_size) AS max_size,
           min(p_retailprice) AS min_price, max(p_retailprice) AS max_price,
           round(((max(p_size) - min(p_size) + 1) / 50.0)
                 * ((max(p_retailprice) - min(p_retailprice)) / 100.0), 4)
               + 0.0 AS zone_volume_frac
    FROM assigned
    GROUP BY layout, bucket
    ORDER BY layout, bucket
    """,
    "Z-ORDER data layout + zone-map audit (the Delta/Iceberg OPTIMIZE "
    "ZORDER pattern): Morton-interleave two query dimensions "
    "(p_size, an equi-width price bin) into a 12-bit z-value, split the "
    "table into 16 files by z-prefix range (zval >> 8 — prefix ranges "
    "ARE the z-order range partitioner, no global sort window needed), "
    "and emit each file's zone map (min/max per dim) plus its fractional "
    "zone volume. The same table hashed by key ('unclustered') is the "
    "baseline: its zone maps span the whole domain (volume ~1.0) so a "
    "2-D predicate prunes nothing, while z-order files cover ~1/16 of "
    "the space — the min/max file-skipping win that makes multi-"
    "dimensional scans cheap at 100 TB. Map-side only: one scan, no "
    "join, no window; the per-file rollup is 32 rows",
)
def zorder_layout_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = load_table(spark, sf_dir, "part")
    dims = parts.select(
        "p_partkey",
        "p_size",
        "p_retailprice",
        (F.col("p_size") - 1).alias("zx"),
        F.least(
            F.lit(63),
            F.greatest(
                F.lit(0),
                F.floor((F.col("p_retailprice") - 900.0) / 1.5625).cast("int"),
            ),
        ).alias("zy"),
    )
    z = dims.withColumn("zval", F.expr(_Z_SPARK))
    assigned = z.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.shiftright("zval", 8).cast("int").alias("bucket"),
                ),
                F.struct(
                    F.lit("unclustered").alias("layout"),
                    F.pmod("p_partkey", F.lit(16)).cast("int").alias("bucket"),
                ),
            )
        ).alias("a"),
        F.col("p_size"),
        F.col("p_retailprice"),
    ).select("a.layout", "a.bucket", "p_size", "p_retailprice")
    return (
        assigned.groupBy("layout", "bucket")
        .agg(
            F.count("*").alias("cnt"),
            F.min("p_size").alias("min_size"),
            F.max("p_size").alias("max_size"),
            F.min("p_retailprice").alias("min_price"),
            F.max("p_retailprice").alias("max_price"),
            (
                F.round(
                    ((F.max("p_size") - F.min("p_size") + 1) / 50.0)
                    * ((F.max("p_retailprice") - F.min("p_retailprice")) / 100.0),
                    4,
                )
                + F.lit(0.0)
            ).alias("zone_volume_frac"),
        )
        .orderBy("layout", "bucket")
    )


@_register(
    "incremental_rollup_maintenance",
    """
    SELECT o_orderpriority,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           count(*) AS order_cnt,
           round(sum(o_totalprice), 4) AS total_revenue,
           round(sum(o_totalprice) / count(*), 4) + 0.0 AS avg_price,
           max(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderpriority, month
    ORDER BY o_orderpriority, month
    """,
    "INCREMENTAL MATERIALIZED-VIEW MAINTENANCE: the rollup is kept as "
    "mergeable PARTIAL aggregates (count, sum, max per group) — the "
    "stored base partials (orders before 2000-01-01) and the new "
    "delta partition's partials are combined group-wise (sum of "
    "counts, sum of sums, max of maxes) and the final measures "
    "(avg = merged sum / merged count) are derived only at merge "
    "time. The oracle is the FULL recompute over all of orders, so "
    "the hash-match proves the algebraic merge is lossless — the "
    "property that lets a 100 TB nightly rollup touch only the new "
    "partition's partials instead of rescanning history (same "
    "incremental stance as incremental_upsert / cdc_latest_user_state; "
    "avg/count(*) decompose because they are algebraic aggregates, "
    "Gray et al., Data Cube, ICDE'96). Base and delta scans both "
    "partition-prune on the split date",
)
def incremental_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    split = "2000-01-01"

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "o_orderpriority",
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"),
        ).agg(
            F.count("*").alias("p_cnt"),
            F.sum("o_totalprice").alias("p_sum"),
            F.max("o_totalprice").alias("p_max"),
        )

    base = partials(orders.filter(F.col("o_orderdate") < split))
    delta = partials(orders.filter(F.col("o_orderdate") >= split))
    merged = base.unionByName(delta)
    return (
        merged.groupBy("o_orderpriority", "month")
        .agg(
            F.sum("p_cnt").alias("order_cnt"),
            F.round(F.sum("p_sum"), 4).alias("total_revenue"),
            (F.round(F.sum("p_sum") / F.sum("p_cnt"), 4) + F.lit(0.0)).alias(
                "avg_price"
            ),
            F.max("p_max").alias("max_price"),
        )
        .orderBy("o_orderpriority", "month")
    )


@_register(
    "compaction_plan",
    """
    WITH day_files AS (
        SELECT CAST(ts AS DATE) AS d,
               count(*) AS n_rows,
               sum(coalesce(strlen(props), 0) + 64) AS bytes
        FROM events GROUP BY d
    ),
    placed AS (
        SELECT d, n_rows, bytes,
               coalesce(sum(bytes) OVER (ORDER BY d
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0) AS cum_before
        FROM day_files
    )
    SELECT CAST(floor(cum_before / 50000) AS INT) AS file_id,
           CAST(count(*) AS INT) AS n_source_files,
           min(d) AS day_min, max(d) AS day_max,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           CAST(sum(n_rows) AS BIGINT) AS total_rows
    FROM placed
    GROUP BY file_id
    ORDER BY file_id
    """,
    "COMPACTION PLANNING (the lakehouse small-file problem — Delta "
    "OPTIMIZE / Iceberg rewrite_data_files): per-day ingest 'files' "
    "(row count + byte mass from the payload column) are packed "
    "in day order into ~50 KB compacted files via cumulative-offset "
    "bin assignment — the same parallel first-fit-in-order rule as "
    "pack_training_sequences, so the plan is deterministic and "
    "reproducible under repartitioning (no sequential greedy state). "
    "Each output row is one compacted file: which day range it "
    "merges, how many small files it retires, and its final size — "
    "the maintenance plan that keeps scan task counts sane at 100 TB. "
    "Scale: one fact pass to day-grain stats; the ordered window runs "
    "over the days-sized rollup",
)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day_files = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.coalesce(F.octet_length("props"), F.lit(0)) + 64).alias("bytes"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    placed = day_files.withColumn(
        "cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0))
    )
    return (
        placed.groupBy(
            F.floor(F.col("cum_before") / 50000).cast("int").alias("file_id")
        )
        .agg(
            F.count("*").cast("int").alias("n_source_files"),
            F.min("d").alias("day_min"),
            F.max("d").alias("day_max"),
            F.sum("bytes").alias("total_bytes"),
            F.sum("n_rows").alias("total_rows"),
        )
        .orderBy("file_id")
    )


@_register(
    "join_size_estimate",
    """
    WITH ca AS (SELECT o_custkey AS k, count(*) AS na FROM orders GROUP BY k),
    cb AS (SELECT user_id % 1500 AS k, count(*) AS nb FROM events GROUP BY k),
    exact AS (
        SELECT CAST(sum(na * nb) AS BIGINT) AS exact_rows
        FROM ca JOIN cb USING (k)
    ),
    sa AS (
        SELECT o_custkey AS k, count(*) AS na FROM orders
        WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 4))::UBIGINT
              % 10 = 0
        GROUP BY k
    ),
    sb AS (
        SELECT user_id % 1500 AS k, count(*) AS nb FROM events
        WHERE ('0x' || substr(md5(event_id::VARCHAR), 1, 4))::UBIGINT
              % 10 = 0
        GROUP BY k
    ),
    sampled AS (
        SELECT CAST(sum(na * nb) * 100 AS BIGINT) AS sampled_est
        FROM sa JOIN sb USING (k)
    )
    SELECT exact.exact_rows, sampled.sampled_est,
           round(abs(sampled.sampled_est - exact.exact_rows) * 1.0
                 / exact.exact_rows, 4) AS rel_error
    FROM exact CROSS JOIN sampled
    """,
    "JOIN-CARDINALITY ESTIMATION — the optimizer-statistics number "
    "that decides broadcast vs shuffle vs skew handling BEFORE a "
    "100 TB join runs: |A join B| = sum over keys of cntA(k)*cntB(k), "
    "computed exactly from two key-grain rollups (never the join "
    "itself), beside the estimator a planner would actually use — "
    "the same formula over deterministic 10%% row samples scaled by "
    "1/p^2 — with its relative error. The key-count rollup is the "
    "reusable statistics artifact (ANALYZE TABLE's histogram "
    "sibling); both sides collapse to key grain before any join, so "
    "the audit costs two scans regardless of the true join size. "
    "Samples are md5-hash-deterministic, reproducible across engines "
    "and partitioning",
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    ekey = (F.col("user_id") % 1500).alias("k")

    def keyed_counts(df, key, alias):
        return df.groupBy(key).agg(F.count("*").alias(alias))

    def hsample(df, idcol):
        return df.filter(
            F.conv(F.substring(F.md5(F.col(idcol).cast("string").cast("binary")), 1, 4), 16, 10)
            .cast("long")
            % 10
            == 0
        )

    ca = keyed_counts(orders, F.col("o_custkey").alias("k"), "na")
    cb = keyed_counts(events, ekey, "nb")
    exact = (
        ca.join(cb, "k")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("exact_rows"))
    )
    sa = keyed_counts(hsample(orders, "o_orderkey"), F.col("o_custkey").alias("k"), "na")
    sb = keyed_counts(hsample(events, "event_id"), ekey, "nb")
    sampled = (
        sa.join(sb, "k")
        .agg((F.sum(F.col("na") * F.col("nb")) * 100).alias("sampled_est"))
    )
    return exact.crossJoin(F.broadcast(sampled)).select(
        "exact_rows",
        "sampled_est",
        F.round(
            F.abs(F.col("sampled_est") - F.col("exact_rows"))
            * 1.0
            / F.col("exact_rows"),
            4,
        ).alias("rel_error"),
    )


@_register(
    "selectivity_estimate_audit",
    """
    WITH stats AS (
        SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi,
               count(*) AS n
        FROM orders
    ),
    binned AS (
        SELECT least(19, greatest(0, CAST(floor((o_totalprice - stats.lo)
                      / ((stats.hi - stats.lo) / 20.0)) AS INT))) AS b,
               count(*) AS cnt
        FROM orders CROSS JOIN stats
        GROUP BY b
    ),
    preds AS (
        SELECT CAST(unnest([1000, 5000, 20000, 50000, 100000]) AS DOUBLE)
            AS cutoff
    ),
    est AS (
        SELECT p.cutoff,
               round(sum(CAST(binned.cnt AS DOUBLE) * least(1.0, greatest(0.0,
                    (p.cutoff - (stats.lo + binned.b
                                 * ((stats.hi - stats.lo) / 20.0)))
                    / ((stats.hi - stats.lo) / 20.0)))), 2) + 0.0
                   AS est_rows
        FROM binned CROSS JOIN stats CROSS JOIN preds p
        GROUP BY p.cutoff
    ),
    act AS (
        SELECT p.cutoff, count(*) FILTER (o.o_totalprice < p.cutoff)
            AS actual_rows
        FROM orders o CROSS JOIN preds p
        GROUP BY p.cutoff
    )
    SELECT est.cutoff, act.actual_rows,
           est.est_rows,
           round(abs(est.est_rows - act.actual_rows) * 1.0
                 / greatest(act.actual_rows, 1), 4) AS rel_error
    FROM est JOIN act USING (cutoff)
    ORDER BY cutoff
    """,
    "SELECTIVITY-ESTIMATION AUDIT — how good are the table's "
    "histogram statistics at predicting predicate selectivity (the "
    "number every cost-based plan choice hangs on): build a 20-bucket "
    "equi-width histogram of o_totalprice (the ANALYZE TABLE "
    "artifact), estimate rows under five range predicates with "
    "uniform-within-bucket interpolation, and report estimate vs "
    "actual with relative error. Large errors on real predicates are "
    "the signal to move to equi-DEPTH histograms "
    "(equidepth_deciles) or sketches. One scan builds the histogram, "
    "one scan measures truth; the estimation itself runs on 20 "
    "bucket rows x 5 predicate literals",
)
def selectivity_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    stats = orders.agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count("*").alias("n"),
    )
    width = (F.col("hi") - F.col("lo")) / 20.0
    binned = (
        orders.crossJoin(F.broadcast(stats))
        .groupBy(
            F.least(
                F.lit(19),
                F.greatest(
                    F.lit(0),
                    F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast(
                        "int"
                    ),
                ),
            ).alias("b")
        )
        .agg(F.count("*").alias("cnt"))
    )
    cutoffs = [1000.0, 5000.0, 20000.0, 50000.0, 100000.0]
    preds = F.explode(F.array(*[F.lit(c) for c in cutoffs])).alias("cutoff")
    est = (
        binned.crossJoin(F.broadcast(stats))
        .select("b", "cnt", "lo", "hi", preds)
        .groupBy("cutoff")
        .agg(
            (
                F.round(
                    F.sum(
                        F.col("cnt").cast("double")
                        * F.least(
                            F.lit(1.0),
                            F.greatest(
                                F.lit(0.0),
                                (
                                    F.col("cutoff")
                                    - (
                                        F.col("lo")
                                        + F.col("b")
                                        * ((F.col("hi") - F.col("lo")) / 20.0)
                                    )
                                )
                                / ((F.col("hi") - F.col("lo")) / 20.0),
                            ),
                        )
                    ),
                    2,
                )
                + F.lit(0.0)
            ).alias("est_rows")
        )
    )
    act = (
        orders.select("o_totalprice", preds)
        .groupBy("cutoff")
        .agg(
            F.count(F.when(F.col("o_totalprice") < F.col("cutoff"), 1)).alias(
                "actual_rows"
            )
        )
    )
    return (
        est.join(act, "cutoff")
        .select(
            "cutoff",
            "actual_rows",
            "est_rows",
            F.round(
                F.abs(F.col("est_rows") - F.col("actual_rows"))
                * 1.0
                / F.greatest(F.col("actual_rows"), F.lit(1)),
                4,
            ).alias("rel_error"),
        )
        .orderBy("cutoff")
    )


@_register(
    "selectivity_equidepth_compare",
    """
    WITH stats AS (
        SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi,
               count(*) AS n
        FROM orders
    ),
    widths AS (
        SELECT least(19, greatest(0, CAST(floor((o_totalprice - stats.lo)
                      / ((stats.hi - stats.lo) / 20.0)) AS INT))) AS b,
               count(*) AS cnt
        FROM orders CROSS JOIN stats
        GROUP BY b
    ),
    depth_bounds AS (
        SELECT quantile_cont(o_totalprice,
                             [0.05, 0.10, 0.15, 0.20, 0.25, 0.30, 0.35,
                              0.40, 0.45, 0.50, 0.55, 0.60, 0.65, 0.70,
                              0.75, 0.80, 0.85, 0.90, 0.95]) AS qs
        FROM orders
    ),
    preds AS (
        SELECT CAST(unnest([1000, 5000, 20000, 50000, 100000]) AS DOUBLE)
            AS cutoff
    ),
    ew AS (
        SELECT p.cutoff,
               round(sum(CAST(widths.cnt AS DOUBLE) * least(1.0, greatest(0.0,
                    (p.cutoff - (stats.lo + widths.b
                                 * ((stats.hi - stats.lo) / 20.0)))
                    / ((stats.hi - stats.lo) / 20.0)))), 2) + 0.0
                   AS est_width
        FROM widths CROSS JOIN stats CROSS JOIN preds p
        GROUP BY p.cutoff
    ),
    ed AS (
        SELECT p.cutoff,
               round((len(list_filter(db.qs, q -> q < p.cutoff)) + 0.5)
                     * stats.n / 20.0, 2) + 0.0 AS est_depth
        FROM depth_bounds db CROSS JOIN stats CROSS JOIN preds p
    ),
    act AS (
        SELECT p.cutoff, count(*) FILTER (o.o_totalprice < p.cutoff)
            AS actual_rows
        FROM orders o CROSS JOIN preds p
        GROUP BY p.cutoff
    )
    SELECT act.cutoff, act.actual_rows,
           ew.est_width, ed.est_depth,
           round(abs(ew.est_width - act.actual_rows) * 1.0
                 / greatest(act.actual_rows, 1), 4) AS err_width,
           round(abs(ed.est_depth - act.actual_rows) * 1.0
                 / greatest(act.actual_rows, 1), 4) AS err_depth
    FROM act JOIN ew USING (cutoff) JOIN ed USING (cutoff)
    ORDER BY cutoff
    """,
    "EQUI-WIDTH vs EQUI-DEPTH selectivity estimation, head to head — "
    "the upgrade decision selectivity_estimate_audit points at, as a "
    "measured number: the same five range predicates estimated from "
    "a 20-bucket equi-width histogram (uniform interpolation) AND "
    "from 19 exact vigintile boundaries (each bucket holds n/20 rows "
    "by construction, so the estimate is buckets-below-cutoff + half "
    "the straddling bucket), with per-predicate relative errors side "
    "by side. Equi-depth wins wherever the value distribution is "
    "skewed — which is why ANALYZE computes quantile sketches, not "
    "value ranges, at 100 TB. Boundary list is a 1-row broadcast; "
    "estimation runs on bucket/boundary grain",
)
def selectivity_equidepth_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    stats = orders.agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count("*").alias("n"),
    )
    fracs = [round(0.05 * i, 2) for i in range(1, 20)]
    depth_bounds = orders.agg(
        F.percentile("o_totalprice", F.array(*[F.lit(f) for f in fracs])).alias("qs")
    )
    width = (F.col("hi") - F.col("lo")) / 20.0
    widths = (
        orders.crossJoin(F.broadcast(stats))
        .groupBy(
            F.least(
                F.lit(19),
                F.greatest(
                    F.lit(0),
                    F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast(
                        "int"
                    ),
                ),
            ).alias("b")
        )
        .agg(F.count("*").alias("cnt"))
    )
    cutoffs = [1000.0, 5000.0, 20000.0, 50000.0, 100000.0]
    preds = F.explode(F.array(*[F.lit(cv) for cv in cutoffs])).alias("cutoff")
    ew = (
        widths.crossJoin(F.broadcast(stats))
        .select("b", "cnt", "lo", "hi", preds)
        .groupBy("cutoff")
        .agg(
            (
                F.round(
                    F.sum(
                        F.col("cnt").cast("double")
                        * F.least(
                            F.lit(1.0),
                            F.greatest(
                                F.lit(0.0),
                                (
                                    F.col("cutoff")
                                    - (
                                        F.col("lo")
                                        + F.col("b")
                                        * ((F.col("hi") - F.col("lo")) / 20.0)
                                    )
                                )
                                / ((F.col("hi") - F.col("lo")) / 20.0),
                            ),
                        )
                    ),
                    2,
                )
                + F.lit(0.0)
            ).alias("est_width")
        )
    )
    ed = (
        depth_bounds.crossJoin(F.broadcast(stats))
        .select("qs", "n", preds)
        .select(
            "cutoff",
            (
                F.round(
                    (
                        F.size(
                            F.filter("qs", lambda q: q < F.col("cutoff"))
                        )
                        + 0.5
                    )
                    * F.col("n")
                    / 20.0,
                    2,
                )
                + F.lit(0.0)
            ).alias("est_depth"),
        )
    )
    act = (
        orders.select("o_totalprice", preds)
        .groupBy("cutoff")
        .agg(
            F.count(F.when(F.col("o_totalprice") < F.col("cutoff"), 1)).alias(
                "actual_rows"
            )
        )
    )
    return (
        act.join(ew, "cutoff")
        .join(F.broadcast(ed), "cutoff")
        .select(
            "cutoff",
            "actual_rows",
            "est_width",
            "est_depth",
            F.round(
                F.abs(F.col("est_width") - F.col("actual_rows"))
                * 1.0
                / F.greatest(F.col("actual_rows"), F.lit(1)),
                4,
            ).alias("err_width"),
            F.round(
                F.abs(F.col("est_depth") - F.col("actual_rows"))
                * 1.0
                / F.greatest(F.col("actual_rows"), F.lit(1)),
                4,
            ).alias("err_depth"),
        )
        .orderBy("cutoff")
    )


@_register(
    "lakehouse_nightly_maintenance",
    """
    WITH s AS (SELECT * FROM orders WHERE o_orderkey % 4 = 1)
    SELECT 'clustering_disjoint_files' AS metric, CAST(1 AS BIGINT) AS value
    UNION ALL SELECT 'files_after_compact', 4
    UNION ALL SELECT 'files_staged', 16
    UNION ALL SELECT 'rows_after', (SELECT count(*) FROM s)
    UNION ALL SELECT 'rows_before', (SELECT count(*) FROM s)
    UNION ALL SELECT 'vacuum_current_readable', 1
    UNION ALL SELECT 'versions_deleted', 2
    UNION ALL SELECT 'zorder_rows', (SELECT count(*) FROM s)
    ORDER BY metric
    """,
    "the nightly-maintenance job a 100 TB deployment actually "
    "schedules, composed end to end from the individually-green "
    "building blocks (VERDICT r10 #8): publish 3 immutable versions "
    "of an orders slice into a versioned store (the newest "
    "deliberately fragmented into 16 small files, the incremental-"
    "writer failure mode) -> vacuum_versions retention (keep newest + "
    "_CURRENT; deletes the 2 stale versions, never the pointer "
    "target) -> compact_parquet on the current version (16 -> 4 "
    "files, re-sorted on o_orderkey while rewriting) -> write_zordered "
    "layout rewrite on (o_custkey, o_totalprice) for multi-column "
    "skipping. The report is the job's audit trail, every row "
    "engine-VERIFIED against the real filesystem/table state: file "
    "counts are counted on disk, row conservation is re-counted "
    "through the _CURRENT pointer after vacuum+compact (an unsafe "
    "vacuum or torn swap shows up as rows_after != rows_before), and "
    "clustering_disjoint_files re-reads the compacted files via "
    "input_file_name() and checks per-file [min,max] o_orderkey "
    "ranges are pairwise disjoint — the property that makes footer "
    "stats prune. The oracle pins the SQL-visible facts (slice "
    "counts) and the asserted-constant outcomes; a hash match proves "
    "the engine's checks all came back true. Driver-side collect is "
    "a handful of audit scalars — maintenance is an imperative job "
    "by nature; every data pass (stage, compact, zorder, checks) is "
    "distributed. At 100 TB the same composition runs per-partition "
    "with compaction targets from on-disk bytes, exactly as "
    "compact_parquet sizes them",
)
def lakehouse_nightly_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import shutil
    import tempfile

    from covid19_etl_pipeline_spark.serving import (
        publish_versioned,
        read_current,
    )
    from covid19_etl_pipeline_spark.serving import vacuum_versions as _vacuum
    from covid19_etl_pipeline_spark.sources.io import (
        compact_parquet,
        read_parquet,
        write_zordered,
    )

    sl = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 4 == 1
    )
    root = tempfile.mkdtemp(prefix="spark_graft_maint_")
    try:
        rows_before = sl.count()
        # three published versions; the newest fragmented into 16
        # small files (what an incremental writer leaves behind)
        publish_versioned(spark, sl.limit(10), "orders_slice", root, "001")
        publish_versioned(spark, sl.limit(10), "orders_slice", root, "002")
        publish_versioned(
            spark, sl.repartition(16), "orders_slice", root, "003"
        )
        cur_dir = os.path.join(root, "orders_slice", "v=003")
        files_staged = sum(
            1 for f in os.listdir(cur_dir) if f.endswith(".parquet")
        )
        # 1) retention: keep newest + whatever _CURRENT points at
        deleted = _vacuum("orders_slice", root, keep_last=1)
        # 2) compaction: 16 -> 4 files, restoring o_orderkey clustering
        files_after = compact_parquet(
            spark, cur_dir, target_partitions=4, sort_by="o_orderkey"
        )
        # 3) layout rewrite for multi-column skipping
        zdir = os.path.join(root, "orders_slice_zorder")
        write_zordered(
            read_current(spark, "orders_slice", root),
            zdir,
            zorder_by=["o_custkey", "o_totalprice"],
            num_files=4,
        )
        # engine-verified audit: conservation through the pointer...
        cur = read_current(spark, "orders_slice", root)
        rows_after = cur.count()
        zorder_rows = read_parquet(spark, zdir).count()
        # ...and REAL per-file disjointness of the restored clustering
        spans = (
            cur.select(
                F.input_file_name().alias("f"), F.col("o_orderkey").alias("k")
            )
            .groupBy("f")
            .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
            .orderBy("lo")
            .collect()
        )
        disjoint = all(
            spans[i]["hi"] < spans[i + 1]["lo"] for i in range(len(spans) - 1)
        )
        report = [
            ("clustering_disjoint_files", int(disjoint)),
            ("files_after_compact", files_after),
            ("files_staged", files_staged),
            ("rows_after", rows_after),
            ("rows_before", rows_before),
            ("vacuum_current_readable", int(rows_after == rows_before)),
            ("versions_deleted", len(deleted)),
            ("zorder_rows", zorder_rows),
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(report, "metric string, value long").orderBy(
        "metric"
    )
