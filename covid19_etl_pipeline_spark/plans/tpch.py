"""TPC-H decision-support query shapes (Q2–Q22) and derived star-schema
analytics.

Registered query family (23 entries); split from the
original monolithic plans/queries.py.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from covid19_etl_pipeline_spark.catalog import load_table

from covid19_etl_pipeline_spark.plans._registry import _register
from covid19_etl_pipeline_spark.plans._shared import trade_lines

@_register(
    "top_unshipped_orders",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
      AND CAST(l_shipdate AS DATE) > DATE '1998-03-15'
    GROUP BY l_orderkey, orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    "TPC-H Q3 shape: 3-table join, segment+date filters pushed to the "
    "scans, revenue rollup, top-10 (TakeOrderedAndProject — no global "
    "sort). The dimension side (filtered customer) broadcasts; unique "
    "l_orderkey tie-break",
)
def top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit("1998-03-15")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit("1998-03-15")
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "l_orderkey",
            F.to_date("o_orderdate").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@_register(
    "regional_revenue",
    """
    SELECT r_name AS region, n_name AS nation,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           count(*) AS n_lineitems
    FROM region JOIN nation   ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders   ON o_custkey   = c_custkey
                JOIN lineitem ON l_orderkey  = o_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY r_name, n_name
    ORDER BY r_name, revenue DESC, n_name
    """,
    "TPC-H Q5 shape: 5-table star join — region/nation broadcast as tiny "
    "dims (hinted), customer by size (Catalyst's broadcast threshold, "
    "re-decided by AQE), the orders-to-lineitem fact join is the only "
    "shuffle; per-(region, nation) revenue rollup",
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
        .orderBy("region", F.col("revenue").desc(), "nation")
    )


@_register(
    "supplier_nation_profit",
    """
    SELECT n_name AS nation,
           CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS ship_year,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN part     ON p_partkey   = l_partkey
    JOIN supplier ON s_suppkey   = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_retailprice > 910
    GROUP BY n_name, ship_year
    ORDER BY nation, ship_year
    """,
    "TPC-H Q9 shape: fact joined to TWO broadcast dimension chains "
    "(part via l_partkey; supplier→nation via l_suppkey) with the part "
    "filter (retailprice > 910 — inside every SF's price range, so "
    "the result is never degenerately empty) pushed below the join, profit rolled up per supplier-nation "
    "and ship year — completes catalog coverage (part + supplier)",
)
def supplier_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_retailprice") > 910)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.to_date("l_shipdate")).alias("ship_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("nation", "ship_year")
    )


@_register(
    "order_count_distribution",
    """
    WITH per_cust AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    SELECT n_orders, count(*) AS n_customers
    FROM per_cust
    GROUP BY n_orders
    ORDER BY n_customers DESC, n_orders DESC
    """,
    "TPC-H Q13 shape — customer order-count distribution: left outer "
    "join with a join-side predicate (priority filter must live in the "
    "ON clause, not WHERE, or zero-order customers vanish), count per "
    "customer, then histogram the counts. Plan: one shuffle to "
    "co-partition customer and orders on custkey, the per-customer "
    "aggregate reuses that partitioning (no extra exchange), and the "
    "second aggregate is over #distinct-counts rows (tiny). The "
    "reference has no outer joins (SURVEY §2.3) — this is the "
    "capability-parity demo for them",
)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), F.col("n_orders").desc())
    )


@_register(
    "sole_returner_suppliers",
    """
    WITH l AS (SELECT l_orderkey, l_suppkey, l_returnflag FROM lineitem)
    SELECT s.s_name, count(DISTINCT l1.l_orderkey) AS n_orders
    FROM supplier s
    JOIN l l1 ON l1.l_suppkey = s.s_suppkey AND l1.l_returnflag = 'R'
    WHERE EXISTS (
            SELECT 1 FROM l l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
            SELECT 1 FROM l l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY n_orders DESC, s.s_name
    LIMIT 20
    """,
    "TPC-H Q21 shape — suppliers who are the SOLE returner in "
    "multi-supplier orders: correlated EXISTS (another supplier in the "
    "order) + NOT EXISTS (no other supplier returned) composed as "
    "left-semi + left-anti self-joins on lineitem, then a broadcast "
    "supplier join and distinct-count rollup. All three lineitem scans "
    "shuffle on l_orderkey, so AQE plans them into one co-partitioned "
    "exchange reuse; the reference has no semi/anti joins (SURVEY "
    "§2.3) — this composes both in one query with a unique "
    "(n_orders desc, s_name) tie-break",
)
def sole_returner_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    r_lines = li.filter(F.col("l_returnflag") == "R")
    others = li.select(
        F.col("l_orderkey").alias("o_key"),
        F.col("l_suppkey").alias("o_supp"),
        F.col("l_returnflag").alias("o_flag"),
    )
    multi_cond = (F.col("l_orderkey") == F.col("o_key")) & (
        F.col("l_suppkey") != F.col("o_supp")
    )
    in_multi = r_lines.join(others, multi_cond, "left_semi")
    sole = in_multi.join(
        others.filter(F.col("o_flag") == "R"), multi_cond, "left_anti"
    )
    return (
        sole.join(sup, sole["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "s_name")
        .limit(20)
    )


@_register(
    "small_order_revenue",
    """
    WITH pa AS (
        SELECT l_partkey, avg(l_quantity) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT round(sum(l.l_extendedprice) / 7.0, 4) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < 0.5 * pa.avg_qty
    """,
    "TPC-H Q17 shape — correlated scalar aggregate subquery "
    "(per-part average quantity) decorrelated as a WINDOW: the "
    "correlated bound is avg OVER (PARTITION BY l_partkey), so the "
    "fact scans once and shuffles once (the pre-agg + join-back "
    "form, which the oracle uses, duplicates the scan subtree; the "
    "per-row-subquery anti-pattern is O(n) scans). Engines agree "
    "exactly: integer quantities sum exactly in double, so the "
    "window avg equals the grouped avg bit-for-bit",
)
def small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Window form, not pre-agg + join-back: the join-back duplicates
    # the lineitem scan subtree (no exchange reuse across expression
    # ids), while avg OVER (PARTITION BY l_partkey) computes the
    # correlated bound in the SAME shuffle that would feed the join —
    # one scan, one exchange. Determinism: quantities are small
    # integers, their double sum is exact in any order, so the window
    # avg equals the oracle's grouped avg bit-for-bit.
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    return (
        li.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


@_register(
    "nation_pair_trade_volume",
    """
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(year(CAST(l.l_shipdate AS DATE)) AS INT) AS ship_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS volume,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    WHERE sn.n_name <> cn.n_name
      AND year(CAST(l.l_shipdate AS DATE)) BETWEEN 1996 AND 1997
    GROUP BY sn.n_name, cn.n_name, year(CAST(l.l_shipdate AS DATE))
    HAVING sum(l.l_extendedprice * (1 - l.l_discount)) > 0
    ORDER BY volume DESC, supp_nation, cust_nation, ship_year
    LIMIT 25
    """,
    "TPC-H Q7 shape — cross-border trade volume with the SAME "
    "dimension (nation) joined in TWO roles (supplier's vs customer's "
    "nation): one fact⋈fact shuffle (lineitem⋈orders on orderkey) in "
    "the shared trade_lines join, nation broadcast by hint and "
    "customer/supplier by size, the inequality filter applied "
    "after both roles resolve. Year-banded predicate prunes at the "
    "scan. Completes the multi-join matrix (Q3/Q5/Q9/Q13/Q17/Q21 "
    "elsewhere); unique tie-broken top-25",
)
def nation_pair_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    ship_year = F.year(F.to_date("l_shipdate"))
    li = (
        load_table(spark, sf_dir, "lineitem")
        .withColumn("ship_year", ship_year)
        .filter(F.col("ship_year").between(1996, 1997))
    )
    joined = trade_lines(spark, sf_dir, li).filter(
        F.col("supp_nation") != F.col("cust_nation")
    )
    vol = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        joined.groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(F.round(vol, 4).alias("volume"), F.count("*").alias("n_lines"))
        .filter(F.col("volume") > 0)
        .orderBy(
            F.col("volume").desc(), "supp_nation", "cust_nation", "ship_year"
        )
        .limit(25)
    )


@_register(
    "revenue_contribution",
    """
    WITH nat AS (
        SELECT r.r_name AS region_name, n.n_name AS nation_name,
               sum(o.o_totalprice) AS rev
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    )
    SELECT region_name, nation_name,
           round(rev, 4) AS revenue,
           round(rev / sum(rev) OVER (PARTITION BY region_name), 6) + 0.0
               AS share_of_region,
           round(rev / sum(rev) OVER (), 6) + 0.0 AS share_of_total
    FROM nat
    ORDER BY region_name, nation_name
    """,
    "contribution analysis (percent-of-parent at two grains): "
    "per-nation revenue as a share of its region and of the world — "
    "aggregate once, then two window sums over the tiny rollup (25 "
    "nations), so the expensive pass is the single fact aggregation; "
    "dims broadcast. The BI 'share of wallet' pattern generalizing the "
    "reference's per-country aggregates (data_transformer.py:219-256)",
)
def revenue_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    # customer is fact-key-sized — NOT broadcast (AQE may still choose
    # to at small SF); only the true dims (25 nations, 5 regions) ship.
    nat = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w_region = Window.partitionBy("region_name")
    w_all = Window.partitionBy()
    return nat.select(
        "region_name",
        "nation_name",
        F.round("rev", 4).alias("revenue"),
        (F.round(F.col("rev") / F.sum("rev").over(w_region), 6) + 0.0).alias(
            "share_of_region"
        ),
        (F.round(F.col("rev") / F.sum("rev").over(w_all), 6) + 0.0).alias(
            "share_of_total"
        ),
    ).orderBy("region_name", "nation_name")


@_register(
    "cheapest_supplier_per_part",
    """
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (
        SELECT l_partkey, min(unit_cost) AS best_cost
        FROM cost GROUP BY l_partkey
    )
    SELECT c.l_partkey AS partkey, s.s_name,
           round(c.unit_cost, 4) AS unit_cost
    FROM cost c
    JOIN best b ON c.l_partkey = b.l_partkey AND c.unit_cost = b.best_cost
    JOIN supplier s ON c.l_suppkey = s.s_suppkey
    JOIN part p ON c.l_partkey = p.p_partkey
    WHERE p.p_size > 45
    ORDER BY unit_cost, partkey, s.s_name
    LIMIT 20
    """,
    "TPC-H Q2 shape — min-cost supplier per part via join-back on "
    "(key, min): unlike the struct-argmin (`minmax_by_priority`, which "
    "keeps ONE winner), the equality join back to the minimum keeps "
    "ALL tied suppliers — Q2's correlated `= (SELECT min ...)` "
    "semantics. The min-join-back equality is on a double both "
    "engines derived from identical per-row divisions, so it is "
    "exact; part dim broadcasts, both aggregates hash on partkey. "
    "Unique (cost, partkey, name) tie-broken top-20",
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_size")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    best = cost.groupBy("l_partkey").agg(F.min("unit_cost").alias("best_cost"))
    return (
        cost.join(
            best.withColumnRenamed("l_partkey", "b_partkey"),
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("unit_cost") == F.col("best_cost")),
        )
        .join(sup, F.col("l_suppkey") == sup["s_suppkey"])
        .join(
            part.filter(F.col("p_size") > 45),
            F.col("l_partkey") == part["p_partkey"],
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            "s_name",
            F.round("unit_cost", 4).alias("unit_cost"),
        )
        .orderBy("unit_cost", "partkey", "s_name")
        .limit(20)
    )


@_register(
    "late_shipment_priority_count",
    """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate <  DATE '1997-01-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    "TPC-H Q4 shape — order-priority checking: EXISTS over lineitem "
    "becomes a LEFT SEMI join with a non-equi residual (shipped >60 "
    "days after order date), then a tiny per-priority count. The date "
    "band prunes the orders scan; the semi join never widens rows "
    "(each order emitted once no matter how many late lines) — the "
    "property that makes EXISTS safe at 100 TB where an inner join "
    "would double-count. (reference has no subqueries: SURVEY §2.3)",
)
def late_shipment_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    banded = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    late = banded.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@_register(
    "returned_item_top_customers",
    """
    SELECT c.c_custkey, c.c_name, n.n_name AS nation_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate <  DATE '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    "TPC-H Q10 shape — returned-item reporting: lineitem filtered to "
    "returns joins orders (fact⋈fact shuffle on orderkey), then the "
    "customer and nation dimensions broadcast; per-customer revenue "
    "rollup, unique-tie-broken top-20 (TakeOrderedAndProject — no "
    "global sort). Return-flag + date predicates push to the scans "
    "so the shuffle carries only returned lines",
)
def returned_item_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        joined.groupBy("c_custkey", "c_name", F.col("n_name").alias("nation_name"))
        .agg(F.round(rev, 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@_register(
    "priority_class_line_counts",
    """
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= DATE '1997-01-01'
      AND l.l_shipdate <  DATE '1998-01-01'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    "TPC-H Q12 shape — shipping-mode priority matrix as conditional "
    "aggregation: ONE pass over the fact⋈fact join computes both the "
    "high- and low-priority counts via sum(CASE ...) — no second scan, "
    "no pivot shuffle. The year band pushes to the lineitem scan. "
    "(count-if as partial-aggregable sum: SURVEY §2.4 A1 note)",
)
def priority_class_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    joined = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
        .orderBy("l_returnflag")
    )


@_register(
    "promo_revenue_ratio",
    """
    SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4) + 0.0
               AS promo_revenue_pct,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= DATE '1996-09-01'
      AND l.l_shipdate <  DATE '1996-10-01'
    """,
    "TPC-H Q14 shape — promotion-revenue share: broadcast part dim "
    "onto the month-banded lineitem scan, numerator and denominator "
    "as two partial-aggregable sums in one grand aggregate (no "
    "separate promo subquery, no second join). Month predicate is the "
    "partition-pruning hook at scale",
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    ).join(p, F.col("l_partkey") == F.col("p_partkey"))
    promo = F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0)))
    return joined.agg(
        (F.round(100.0 * promo / F.sum(disc), 4) + 0.0).alias("promo_revenue_pct"),
        F.count("*").alias("n_lines"),
    )


@_register(
    "large_volume_customers",
    """
    WITH big AS (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_date,
           round(o.o_totalprice, 4) AS total_price,
           round(b.total_qty, 4) AS total_qty
    FROM big b
    JOIN orders o   ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY total_price DESC, o.o_orderkey
    LIMIT 20
    """,
    "TPC-H Q18 shape — large-volume customers: the HAVING-filtered "
    "per-order quantity rollup (map-side partial agg shrinks the "
    "shuffle to one row per order) joins back to orders ON the SAME "
    "key it was grouped on — with orderkey-bucketed tables this join "
    "needs no exchange at all — then the customer dim broadcasts. "
    "Unique-tie-broken top-20 via TakeOrderedAndProject",
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            F.round("o_totalprice", 4).alias("total_price"),
            F.round("total_qty", 4).alias("total_qty"),
        )
        .orderBy(F.col("total_price").desc(), "o_orderkey")
        .limit(20)
    )


@_register(
    "disjunctive_brand_revenue",
    """
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    "TPC-H Q19 shape — disjunctive (OR-of-ANDs) join predicate: the "
    "quantity disjuncts union to l_quantity BETWEEN 1 AND 30 and the "
    "brand disjuncts to an IN-list, so Catalyst derives pushable "
    "per-side filters from the OR (constraint propagation) while the "
    "full mixed predicate evaluates post-join; part side broadcasts. "
    "The classic case where naive engines fall back to cross-join "
    "filtering",
)
def disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    joined = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return joined.filter(cond).agg(
        F.round(rev, 4).alias("revenue"), F.count("*").alias("n_lines")
    )


@_register(
    "supplier_value_concentration",
    """
    WITH sv AS (
        SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS supply_value
        FROM lineitem GROUP BY l_suppkey
    ),
    sh AS (
        SELECT l_suppkey, supply_value,
               100.0 * supply_value / sum(supply_value) OVER () AS pct,
               avg(supply_value) OVER () AS avg_value
        FROM sv
    )
    SELECT s.s_name, sh.l_suppkey AS s_suppkey,
           round(sh.supply_value, 4) AS supply_value,
           round(sh.pct, 4) AS pct_of_total
    FROM sh JOIN supplier s ON s.s_suppkey = sh.l_suppkey
    WHERE sh.supply_value > 1.05 * sh.avg_value
    ORDER BY supply_value DESC, s_suppkey
    """,
    "TPC-H Q11 shape — value concentration: per-supplier revenue "
    "rollup kept IF above a fraction-of-global-average threshold "
    "(1.05x mean — scale-free, unlike Q11's literal fraction which "
    "empties as supplier count grows). The global sum and avg are "
    "unpartitioned window aggs over the already-tiny rollup (one row "
    "per supplier) — NOT a second scan of lineitem and not a "
    "join-back; the same window feeds both the threshold and the "
    "reported share. Supplier dim broadcasts",
)
def supplier_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sv = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "supply_value"
        )
    )
    w = Window.partitionBy()
    return (
        sv.withColumn("total_value", F.sum("supply_value").over(w))
        .withColumn("avg_value", F.avg("supply_value").over(w))
        .filter(F.col("supply_value") > 1.05 * F.col("avg_value"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_name",
            F.col("l_suppkey").alias("s_suppkey"),
            F.round("supply_value", 4).alias("supply_value"),
            F.round(100.0 * F.col("supply_value") / F.col("total_value"), 4).alias(
                "pct_of_total"
            ),
        )
        .orderBy(F.col("supply_value").desc(), "s_suppkey")
    )


@_register(
    "dormant_premium_customers",
    """
    WITH ab AS (
        SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_mktsegment, count(*) AS n_custs,
           round(sum(c.c_acctbal), 4) AS total_bal
    FROM customer c, ab
    WHERE c.c_acctbal > ab.avg_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderpriority = '1-URGENT'
      )
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    "TPC-H Q22 shape — dormant premium accounts: an uncorrelated "
    "scalar subquery (global positive-balance average, 1 row, "
    "broadcast) gates the customer scan, then NOT EXISTS over urgent "
    "orders becomes a LEFT ANTI join (the filter pushes into the "
    "orders scan BEFORE the anti join, so the join state holds only "
    "urgent orders), finishing in a tiny per-segment rollup. "
    "(every-customer-has-orders gotcha: the anti join must be on the "
    "filtered orders, not all orders)",
)
def dormant_premium_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_custs"),
            F.round(F.sum("c_acctbal"), 4).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


@_register(
    "discount_revenue_forecast",
    """
    SELECT round(sum(l_extendedprice * l_discount), 4)
               AS forecast_revenue_delta,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24
    """,
    "TPC-H Q6 shape — what-if revenue from dropping small discounts: "
    "a pure scan-and-aggregate with every predicate (date band, "
    "discount band, quantity cap) pushed to the parquet scan and a "
    "2-column ReadSchema beyond the filter columns — the query whose "
    "entire cost at 100 TB is I/O after partition pruning on the "
    "ship-date band. No join, no shuffle beyond the 1-row final agg "
    "(reference parity: the what-if aggregate in "
    "data_transformer.py's summary stats, src/transform/"
    "data_transformer.py:219-256, generalized to a banded filter)",
)
def discount_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "forecast_revenue_delta"
            ),
            F.count("*").alias("n_lines"),
        )
    )


@_register(
    "national_market_share",
    """
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           round(sum(CASE WHEN sn.n_name = 'NATION_3'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4) + 0.0
               AS mkt_share,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
               AS region_revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN region r   ON cn.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN part p     ON l.l_partkey  = p.p_partkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
      AND o.o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1998-12-31'
    GROUP BY o_year ORDER BY o_year
    """,
    "TPC-H Q8 shape — national market share: one supplier nation's "
    "slice of a region's ECONOMY-part revenue per year. The widest "
    "join tree in the registry (lineitem + orders + customer + part + "
    "supplier + nation x2 roles + region): the two facts meet in one "
    "shuffle join while part/supplier/nation/region broadcast, and the "
    "share is a conditional-sum-over-sum in the same grand aggregate — "
    "no per-nation subquery. The part + region filters are the "
    "selectivity levers Catalyst pushes below the joins",
)
def national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    od = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") <= F.lit("1998-12-31").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    reg = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_rev = F.sum(F.when(F.col("sn_name") == "NATION_3", rev).otherwise(F.lit(0.0)))
    return (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(reg), F.col("cn_region") == F.col("r_regionkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.round(nat_rev / F.sum(rev), 4) + 0.0).alias("mkt_share"),
            F.round(F.sum(rev), 4).alias("region_revenue"),
        )
        .orderBy("o_year")
    )


@_register(
    "top_revenue_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
    ORDER BY s.s_suppkey
    """,
    "TPC-H Q15 shape — top supplier by quarterly revenue: the CREATE "
    "VIEW + scalar-max of the original becomes a window max OVER the "
    "per-supplier rollup (one pass, ties kept), so the revenue rollup "
    "is computed ONCE instead of once for the view and once for the "
    "subquery. The global window is safe because its input is already "
    "one row per supplier — the same deliberate tiny-rollup exception "
    "as supplier_value_concentration. Revenue is rounded BEFORE the "
    "max comparison so the tie set is engine-stable",
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "total_rev"
            )
        )
    )
    top = rev.withColumn(
        "__max_rev", F.max("total_rev").over(Window.partitionBy())
    ).filter(F.col("total_rev") == F.col("__max_rev"))
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        top.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


@_register(
    "supplier_part_variety",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND ps.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    "TPC-H Q16 shape — supplier variety per part segment: the "
    "part-supplier relationship is DERIVED as distinct (partkey, "
    "suppkey) pairs from lineitem (this catalog has no partsupp "
    "table), the NOT-IN complaint-supplier exclusion runs as a "
    "broadcast anti join BEFORE the expensive distinct-count, and the "
    "brand/size filters broadcast with the part dim. The distinct on "
    "the fact pairs is the one big shuffle; count(DISTINCT) then "
    "reuses its clustering",
)
def supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    excl = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        ps.join(excl, ps["l_suppkey"] == excl["s_suppkey"], "left_anti")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@_register(
    "promo_heavy_suppliers",
    """
    WITH shipped AS (
        SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        GROUP BY l_suppkey, l_partkey
    ),
    heavy AS (
        SELECT DISTINCT sh.l_suppkey
        FROM shipped sh JOIN part p ON p.p_partkey = sh.l_partkey
        WHERE p.p_type = 'PROMO' AND sh.qty > 60
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
      AND s.s_suppkey IN (SELECT l_suppkey FROM heavy)
    ORDER BY s.s_suppkey
    """,
    "TPC-H Q20 shape — suppliers shipping promo parts in volume: the "
    "correlated availqty subquery of the original becomes a per-(supp, "
    "part) year-banded quantity rollup (partsupp is derived from "
    "lineitem in this catalog), gated by the broadcast promo-part "
    "filter, collapsed to a distinct supplier set, and applied to the "
    "EUROPE supplier dim as a broadcast LEFT SEMI join — the nested "
    "IN-subqueries never materialize a row wider than a key",
)
def promo_heavy_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    promo = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    heavy = (
        shipped.join(promo, F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("qty") > 60)
        .select("l_suppkey")
        .distinct()
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        sup.join(
            F.broadcast(heavy), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@_register(
    "customers_active_every_quarter",
    """
    WITH q AS (
        SELECT o_custkey,
               quarter(CAST(o_orderdate AS DATE)) AS yq,
               o_totalprice
        FROM orders
        WHERE year(CAST(o_orderdate AS DATE)) = 1995
    ),
    universe AS (SELECT count(DISTINCT yq) AS n_quarters FROM q)
    SELECT o_custkey,
           CAST(count(DISTINCT yq) AS BIGINT) AS quarters_active,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS revenue
    FROM q, universe
    GROUP BY o_custkey, universe.n_quarters
    HAVING count(DISTINCT yq) = universe.n_quarters
    ORDER BY o_custkey
    """,
    "relational DIVISION — 'customers with at least one order in EVERY "
    "quarter of 1995': the classic for-all query SQL can only state "
    "as double-negated NOT EXISTS or, as here, the count-distinct "
    "equality form (distinct periods per customer == period universe). "
    "The count form is the 100 TB shape: one partial-aggregable "
    "countDistinct per customer + a 1-row broadcast universe, vs the "
    "anti-join double negation that shuffles the customer x period "
    "cross space. Consecutive-streak cousin lives in the gaps-and-"
    "islands query; this is exact set coverage",
)
def customers_active_every_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    q = o.filter(F.year(d) == 1995).select(
        "o_custkey",
        F.quarter(d).alias("yq"),
        "o_totalprice",
    )
    universe = q.agg(F.countDistinct("yq").alias("n_quarters"))
    return (
        q.crossJoin(F.broadcast(universe))
        .groupBy("o_custkey", "n_quarters")
        .agg(
            F.countDistinct("yq").alias("quarters_active"),
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
        .filter(F.col("quarters_active") == F.col("n_quarters"))
        .drop("n_quarters")
        .orderBy("o_custkey")
    )
