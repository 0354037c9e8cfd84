"""Core relational parity surface (SURVEY §2): scans, projections,
filters, sorts, joins, windows, set ops, aggregates, SCD/CDC shapes.

Registered query family (64 entries); split from the
original monolithic plans/queries.py.
"""

from __future__ import annotations
from functools import reduce
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from covid19_etl_pipeline_spark.catalog import TABLES, load_table
from covid19_etl_pipeline_spark.operators.joins import anti_join_membership
from covid19_etl_pipeline_spark.operators.joins import broadcast_dim_join
from covid19_etl_pipeline_spark.operators.joins import equi_join
from covid19_etl_pipeline_spark.operators.joins import semi_join_membership
from covid19_etl_pipeline_spark.operators.partitioning import salted_equi_join
from covid19_etl_pipeline_spark.operators.projection import guarded_ratio
from covid19_etl_pipeline_spark.operators.setops import upsert_on_key
from covid19_etl_pipeline_spark.operators.windows import moving_average
from covid19_etl_pipeline_spark.operators.windows import top_n_per_group

from covid19_etl_pipeline_spark.plans._registry import REGISTRY, _register

@_register(
    "rollup_entity",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                            AS sum_qty,
           round(sum(l_extendedprice), 4)                       AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)    AS sum_disc_price,
           round(avg(l_quantity), 4)                            AS avg_qty,
           round(avg(l_discount), 4)                            AS avg_disc,
           max(CAST(l_shipdate AS DATE))                        AS last_shipdate,
           count(*)                                             AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    "FLAGSHIP — multi-key multi-measure hash rollup (A1+A3+O1; "
    "aggregate_by_country shape, data_transformer.py:219-256)",
)
def rollup_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.max(F.to_date("l_shipdate")).alias("last_shipdate"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_register(
    "daily_rollup_7day",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS event_date,
               sum(value)       AS tv,
               count(user_id)   AS users_reporting
        FROM events GROUP BY 1
    )
    SELECT event_date,
           round(tv, 4) AS total_value,
           users_reporting,
           round(avg(tv) OVER (ORDER BY event_date
                               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
               AS value_7day_avg
    FROM daily ORDER BY event_date
    """,
    "global daily rollup + unpartitioned 7-day moving average "
    "(A2+W1; aggregate_by_date, data_transformer.py:258-295)",
)
def daily_rollup_7day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("event_date")).agg(
        F.sum("value").alias("tv"),
        F.count("user_id").alias("users_reporting"),
    )
    smoothed = moving_average(daily, ["tv"], "event_date", periods=7, suffix="_7day_avg")
    return smoothed.select(
        "event_date",
        F.round("tv", 4).alias("total_value"),
        "users_reporting",
        F.round("tv_7day_avg", 4).alias("value_7day_avg"),
    ).orderBy("event_date")


@_register(
    "date_parts",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE)                 AS order_date,
           CAST(year(o_orderdate) AS INT)            AS order_year,
           CAST(month(o_orderdate) AS INT)           AS order_month,
           CAST(weekofyear(o_orderdate) AS INT)      AS order_week
    FROM orders
    """,
    "to_date + year/month/ISO-week derivation (P3, F1-F4; "
    "data_transformer.py:113,156-160)",
)
def date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        d.alias("order_date"),
        F.year(d).alias("order_year"),
        F.month(d).alias("order_month"),
        F.weekofyear(d).alias("order_week"),
    )


@_register(
    "guarded_ratio",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity > 0
                THEN l_extendedprice / l_quantity * 100 END AS unit_price_x100
    FROM lineitem
    """,
    "null-guarded division (P6/P8/F5/F6; case_fatality_rate guard, "
    "data_transformer.py:148-154)",
)
def q_guarded_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        guarded_ratio("l_extendedprice", "l_quantity", scale=100.0).alias("unit_price_x100"),
    )


@_register(
    "inlist_filter",
    """
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
    """,
    "IN-list membership filter (P4/P5; filter_countries_of_interest, "
    "data_transformer.py:297-317)",
)
def inlist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")).select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )


@_register(
    "notnull_threshold",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE value IS NOT NULL AND value > 0
    """,
    "not-null + threshold predicates (P7/P8; dashboard.py:307-310, "
    "data_transformer.py:151)",
)
def notnull_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("value").isNotNull() & (F.col("value") > 0)).select(
        "event_id", "user_id", "event_type", "value"
    )


@_register(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
    "top-k sort+limit → TakeOrderedAndProject (O3; dashboard.py:99-100)",
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(50)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@_register(
    "recent_days",
    """
    SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS event_date
    FROM events
    WHERE CAST(ts AS DATE) >= (SELECT max(CAST(ts AS DATE)) - 6 FROM events)
    """,
    "most-recent-N-days as a date-range predicate (O5; dashboard.py:359)",
)
def recent_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid19_etl_pipeline_spark.operators.sorts import most_recent_days

    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    return (
        most_recent_days(ev, "event_date", 7)
        .select("event_id", "user_id", "event_type", "event_date")
    )


@_register(
    "top_orders_per_priority",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
    "top-N-per-group via row_number window (SURVEY §2.5 generalization of "
    "dashboard nlargest, dashboard.py:187-189)",
)
def top_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return top_n_per_group(
        o.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        partition_cols=("o_orderpriority",),
        order_by=(F.col("o_totalprice").desc(), F.col("o_orderkey")),
        n=3,
        keep_rank=True,
    )


@_register(
    "dim_join_rollup",
    """
    SELECT r_name, n_name,
           count(*)                      AS n_customers,
           round(sum(c_acctbal), 4)      AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
    "broadcast dimension join chain fact⋈nation⋈region + rollup "
    "(SURVEY §2.3)",
)
def dim_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = broadcast_dim_join(
        broadcast_dim_join(c, n, on=F.col("c_nationkey") == F.col("n_nationkey")),
        r,
        on=F.col("n_regionkey") == F.col("r_regionkey"),
    )
    return (
        joined.groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 4).alias("total_acctbal"),
        )
        .orderBy("r_name", "n_name")
    )


@_register(
    "fact_join_agg",
    """
    SELECT o_orderpriority,
           count(*)                                          AS n_line_items,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "fact-fact equi join + rollup (orders⋈lineitem; SURVEY §2.3)",
)
def fact_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        equi_join(o, li, on=F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_line_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
        )
        .orderBy("o_orderpriority")
    )


@_register(
    "semi_join_customers",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "left-semi membership join (EXISTS; scalable form of P4)",
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return semi_join_membership(
        c, o.select(F.col("o_custkey").alias("c_custkey")), on="c_custkey"
    ).select("c_custkey", "c_name", "c_acctbal")


@_register(
    "anti_join_customers",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND year(CAST(o_orderdate AS DATE)) = 1998)
    """,
    "left-anti membership join (NOT EXISTS): customers with no 1998 "
    "order — the recent-inactivity form, chosen over the bare "
    "no-orders-ever form because the synthetic catalog gives every "
    "customer at least one order, which made the result (and hence "
    "the oracle comparison) degenerately EMPTY at every scale; this "
    "predicate leaves ~20% of customers at each SF so the anti join's "
    "semantics are actually exercised by the hash check",
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.year(F.to_date("o_orderdate")) == 1998
    )
    return anti_join_membership(
        c, o.select(F.col("o_custkey").alias("c_custkey")), on="c_custkey"
    ).select("c_custkey", "c_name", "c_acctbal")


@_register(
    "user_daily_7day_avg",
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS event_date, sum(value) AS dv
        FROM events GROUP BY 1, 2
    )
    SELECT user_id, event_date,
           round(dv, 4) AS daily_value,
           round(avg(dv) OVER (PARTITION BY user_id ORDER BY event_date
                               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
               AS value_7day_avg
    FROM daily
    """,
    "PARTITIONED 7-day moving average per entity (the scalable form of W1 "
    "— data_transformer.py:279-289 note in SURVEY §2.5)",
)
def user_daily_7day_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("event_date")).agg(
        F.sum("value").alias("dv")
    )
    sm = moving_average(
        daily, ["dv"], "event_date", partition_cols=("user_id",), periods=7, suffix="_7day_avg"
    )
    return sm.select(
        "user_id",
        "event_date",
        F.round("dv", 4).alias("daily_value"),
        F.round("dv_7day_avg", 4).alias("value_7day_avg"),
    )


@_register(
    "user_daily_delta",
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS event_date, sum(value) AS dv
        FROM events GROUP BY 1, 2
    )
    SELECT user_id, event_date,
           round(dv, 4) AS daily_value,
           round(dv - lag(dv) OVER (PARTITION BY user_id ORDER BY event_date), 4)
               AS value_delta
    FROM daily
    """,
    "lag/lead daily delta per entity (SURVEY §2.5 gap: no lag in reference)",
)
def user_daily_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("event_date")).agg(
        F.sum("value").alias("dv")
    )
    w = Window.partitionBy("user_id").orderBy("event_date")
    return daily.select(
        "user_id",
        "event_date",
        F.round("dv", 4).alias("daily_value"),
        F.round(F.col("dv") - F.lag("dv").over(w), 4).alias("value_delta"),
    )


@_register(
    "incremental_upsert",
    """
    WITH u AS (
        SELECT o_orderkey, o_totalprice * 1.1 AS price, 'new' AS src, 0 AS pri
        FROM orders WHERE o_orderstatus = 'O'
    ),
    c AS (
        SELECT o_orderkey, o_totalprice AS price, 'old' AS src, 1 AS pri
        FROM orders
    ),
    all_rows AS (SELECT * FROM u UNION ALL SELECT * FROM c),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY pri) AS rn
        FROM all_rows
    )
    SELECT o_orderkey, round(price, 4) AS price, src FROM ranked WHERE rn = 1
    """,
    "incremental upsert: unionByName + dedup-on-key, updates win "
    "(SURVEY §2.7 — the incremental loading README.md:328 claims but "
    "never implements)",
)
def incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.1).alias("price"),
        F.lit("new").alias("src"),
    )
    current = o.select(
        "o_orderkey", F.col("o_totalprice").alias("price"), F.lit("old").alias("src")
    )
    merged = upsert_on_key(current, updates, keys=("o_orderkey",))
    return merged.select("o_orderkey", F.round("price", 4).alias("price"), "src")


@_register(
    "distinct_agg",
    """
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(*)                  AS n_orders
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "distinct aggregate (SURVEY §2.4 'not present in reference; free from "
    "Spark' — countries_reporting done right)",
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


@_register(
    "global_stats",
    "\nUNION ALL\n".join(
        f"SELECT '{t}' AS table_name, count(*) AS n_rows FROM {t}" for t in TABLES
    ),
    "per-table row counts (S10/A5; print_database_stats, "
    "data_loader.py:393-404)",
)
def global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = [
        load_table(spark, sf_dir, t)
        .agg(F.count("*").alias("n_rows"))
        .select(F.lit(t).alias("table_name"), "n_rows")
        for t in TABLES
    ]
    return reduce(DataFrame.unionByName, counts)


@_register(
    "percentile_agg",
    """
    SELECT o_orderpriority,
           round(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 4) AS median_price,
           round(CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE), 4) AS p90_price,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "exact percentiles (linear interpolation) per group — sort-based "
    "aggregate (extension of A1)",
)
def percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", 0.5), 4).alias("median_price"),
            F.round(F.percentile("o_totalprice", 0.9), 4).alias("p90_price"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@_register(
    "rollup_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "hierarchical grouping sets (ROLLUP): per-group + subtotal + grand "
    "total in one pass (SURVEY §2.4 gap)",
)
def rollup_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


@_register(
    "pivot_linestatus",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS "F",
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS "O"
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "pivot: one column per l_linestatus value (explicit value list — no "
    "extra distinct-discovery scan)",
)
def pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 4))
        .orderBy("l_returnflag")
    )


@_register(
    "json_extract_props",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INT) AS prop_k
    FROM events
    """,
    "semi-structured extraction: JSON path over a string column "
    "(get_json_object; events.props)",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


@_register(
    "sessionize",
    """
    WITH lagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS t_us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id) AS prev_us
        FROM events
    )
    SELECT user_id, event_id,
           CAST(sum(CASE WHEN prev_us IS NULL
                          OR t_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY t_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
               AS session_id
    FROM lagged
    """,
    "sessionization: 30-min-gap cumulative-flag sessions via lag + "
    "running sum (custom stateful op composed from windows)",
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # compare epoch MICROseconds on both engines: the parquet stores
    # nanos; Spark truncates to micros, DuckDB's epoch_us does the same
    t_us = F.unix_micros(F.col("ts"))
    lagged = ev.select("user_id", "event_id", t_us.alias("t_us")).withColumn(
        "prev_us", F.lag("t_us").over(Window.partitionBy("user_id").orderBy("t_us", "event_id"))
    )
    new_sess = F.when(
        F.col("prev_us").isNull() | (F.col("t_us") - F.col("prev_us") > 1_800_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return lagged.select(
        "user_id",
        "event_id",
        F.sum(new_sess).over(w_run).cast("int").alias("session_id"),
    )


@_register(
    "asof_join_orders",
    """
    WITH od AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS od_date,
               max(o_totalprice) AS last_order_price
        FROM orders GROUP BY 1, 2
    ),
    ev AS (
        SELECT event_id, user_id, CAST(ts AS DATE) AS event_date FROM events
    )
    SELECT ev.event_id, ev.user_id, ev.event_date,
           round(od.last_order_price, 4) AS last_order_price
    FROM ev ASOF LEFT JOIN od
      ON ev.user_id = od.o_custkey AND ev.event_date >= od.od_date
    """,
    "as-of join (most-recent-match): events pick up the latest prior "
    "order per customer — union-merge windowed implementation, checked "
    "against DuckDB's native ASOF JOIN",
)
def asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid19_etl_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.to_date("ts").alias("event_date")
    )
    od = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.to_date("o_orderdate").alias("od_date"),
        )
        .agg(F.max("o_totalprice").alias("last_order_price"))
    )
    out = asof_join(
        ev,
        od,
        on="user_id",
        left_time="event_date",
        right_time="od_date",
        value_cols=["last_order_price"],
    )
    return out.select(
        "event_id",
        "user_id",
        "event_date",
        F.round("last_order_price", 4).alias("last_order_price"),
    )


@_register(
    "above_avg_orders",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS price
    FROM (
        SELECT o_orderkey, o_custkey, o_totalprice,
               avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg
        FROM orders
    )
    WHERE o_totalprice > cust_avg
    """,
    "decorrelated correlated subquery: orders above their customer's "
    "average, as a windowed aggregate (one shuffle instead of a "
    "per-row subquery)",
)
def above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("cust_avg", F.avg("o_totalprice").over(w))
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("price"))
    )


@_register(
    "cube_agg",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           round(avg(l_discount), 4) AS avg_disc
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "full cube: all grouping-set combinations in one pass "
    "(SURVEY §2.4 gap — free from Spark)",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
    )


@_register(
    "intersect_customers",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    "INTERSECT set op: customers holding both open and finished orders "
    "(SURVEY §2.7 — set ops absent from reference)",
)
def intersect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    open_c = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    done_c = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return open_c.intersect(done_c)


@_register(
    "string_funcs",
    """
    SELECT c_custkey,
           upper(c_name)                                   AS name_upper,
           substr(c_name, 1, 8)                            AS name_prefix,
           CAST(length(c_name) AS INT)                     AS name_len,
           concat(c_mktsegment, '#', CAST(c_custkey AS VARCHAR)) AS seg_key,
           replace(lower(c_name), 'customer', 'cust')      AS name_short,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0')       AS key_padded
    FROM customer
    """,
    "string function surface: upper/substr/length/concat/replace/lpad "
    "(SURVEY §2.8 breadth)",
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.concat(
            F.col("c_mktsegment"), F.lit("#"), F.col("c_custkey").cast("string")
        ).alias("seg_key"),
        F.replace(F.lower("c_name"), F.lit("customer"), F.lit("cust")).alias("name_short"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
    )


@_register(
    "date_arithmetic",
    """
    SELECT o_orderpriority,
           round(avg(datediff('day', CAST(o_orderdate AS DATE),
                              CAST(l_shipdate AS DATE))), 4) AS avg_days_to_ship,
           CAST(min(datediff('day', CAST(o_orderdate AS DATE),
                             CAST(l_shipdate AS DATE))) AS INT) AS min_days,
           CAST(max(datediff('day', CAST(o_orderdate AS DATE),
                             CAST(l_shipdate AS DATE))) AS INT) AS max_days
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "date arithmetic: datediff order→ship latency per priority "
    "(SURVEY §2.8 breadth; F1-F4 family)",
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dd = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.avg(dd), 4).alias("avg_days_to_ship"),
            F.min(dd).alias("min_days"),
            F.max(dd).alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


@_register(
    "except_customers",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    "EXCEPT set op: customers with urgent orders but no finished orders "
    "(SURVEY §2.7 — set ops absent from reference; complement of "
    "intersect_customers)",
)
def except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    finished = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    # .subtract == EXCEPT DISTINCT; Catalyst plans it as a left-anti
    # hash-aggregate join, broadcastable when the right side is small.
    return urgent.subtract(finished)


@_register(
    "rank_distribution",
    """
    SELECT c_custkey, c_mktsegment,
           CAST(ntile(4) OVER w AS INT)        AS quartile,
           round(percent_rank() OVER w, 6)     AS pct_rank,
           round(cume_dist() OVER w, 6)        AS cum_dist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    "distribution windows: ntile/percent_rank/cume_dist per segment "
    "(SURVEY §2.5 gap — no ranking in reference; unique (acctbal, custkey) "
    "tie-break)",
)
def rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
    )


@_register(
    "running_total_user",
    """
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
               AS running_value,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS INT) AS seq
    FROM events
    """,
    "running total per entity: unbounded-preceding rows frame + sequence "
    "number (SURVEY §2.5 gap; partitioned => scales with #users)",
)
def running_total_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4).alias(
            "running_value"
        ),
        F.row_number().over(w).cast("int").alias("seq"),
    )


@_register(
    "user_range_7day_avg",
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS event_date,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS unix_day,
               sum(value) AS dv
        FROM events GROUP BY 1, 2, 3
    )
    SELECT user_id, event_date,
           round(dv, 4) AS daily_value,
           round(avg(dv) OVER (PARTITION BY user_id ORDER BY unix_day
                               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
               AS value_7day_range_avg
    FROM daily
    """,
    "VALUE-based range frame: 7 calendar-day average per entity — unlike "
    "the rows frame (user_daily_7day_avg), gaps in the date series do not "
    "widen the window (SURVEY §2.5: reference W1 is rows-only)",
)
def user_range_7day_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id",
        F.to_date("ts").alias("event_date"),
        F.unix_date(F.to_date("ts")).alias("unix_day"),
    ).agg(F.sum("value").alias("dv"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("unix_day")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "user_id",
        "event_date",
        F.round("dv", 4).alias("daily_value"),
        F.round(F.avg("dv").over(w), 4).alias("value_7day_range_avg"),
    )


@_register(
    "histogram_totalprice",
    """
    SELECT CAST(floor(o_totalprice / 50000) AS INT) AS bucket,
           count(*)                                 AS n_orders,
           round(sum(o_totalprice), 4)              AS sum_price,
           round(min(o_totalprice), 4)              AS min_price,
           round(max(o_totalprice), 4)              AS max_price
    FROM orders
    GROUP BY bucket
    ORDER BY bucket
    """,
    "histogram binning: fixed-width floor buckets over a measure "
    "(engine breadth — width_bucket semantics via floor arithmetic, "
    "identical IEEE division both engines)",
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("int").alias("bucket")
    return (
        o.groupBy(bucket)
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
            F.round(F.min("o_totalprice"), 4).alias("min_price"),
            F.round(F.max("o_totalprice"), 4).alias("max_price"),
        )
        .orderBy("bucket")
    )


@_register(
    "minmax_by_priority",
    """
    SELECT o_orderpriority,
           max(struct_pack(p := o_totalprice, k := o_orderkey)).k AS max_price_orderkey,
           min(struct_pack(p := o_totalprice, k := o_orderkey)).k AS min_price_orderkey,
           round(max(o_totalprice), 4) AS max_price,
           round(min(o_totalprice), 4) AS min_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "argmax/argmin per group via lexicographic struct max — deterministic "
    "(orderkey tie-break inside the struct), single hash-agg pass, no "
    "window/self-join (SURVEY §2.4 breadth)",
)
def minmax_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pk = F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k"))
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.max(pk).getField("k").alias("max_price_orderkey"),
            F.min(pk).getField("k").alias("min_price_orderkey"),
            F.round(F.max("o_totalprice"), 4).alias("max_price"),
            F.round(F.min("o_totalprice"), 4).alias("min_price"),
        )
        .orderBy("o_orderpriority")
    )


@_register(
    "approx_distinct_users",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           TRUE                    AS hll_ok
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    "approx_count_distinct (HyperLogLog++, rsd=0.01) validated against the "
    "exact distinct count within 5% — the sketch value itself is "
    "engine-specific, so the contract checked is the error bound "
    "(the 100 TB path: HLL is mergeable across partitions, exact "
    "countDistinct is a full shuffle of the key space)",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    exact = F.countDistinct("user_id")
    approx = F.approx_count_distinct("user_id", rsd=0.01)
    return (
        ev.groupBy("event_type")
        .agg(
            exact.alias("n_users_exact"),
            (F.abs(approx - exact) <= 0.05 * exact).alias("hll_ok"),
        )
        .orderBy("event_type")
    )


@_register(
    "events_before_purchase",
    """
    SELECT p.event_id AS purchase_id,
           count(*) AS n_prior_events,
           round(sum(e.value), 4) AS sum_prior_value
    FROM events p JOIN events e
      ON p.user_id = e.user_id
     AND p.event_type = 'purchase'
     AND e.ts >= p.ts - INTERVAL 60 MINUTE
     AND e.ts < p.ts
    GROUP BY p.event_id
    ORDER BY p.event_id
    """,
    "time-range (interval) self-join: activity in the 60 min before each "
    "purchase. Spark plan: equi-join on user_id co-partitions both sides "
    "(one shuffle, AQE-broadcastable), range predicate applied post-join — "
    "at 100 TB, bucket events by user_id and partition by time so the "
    "range filter prunes files (SURVEY §2.3: no range join in reference)",
)
def events_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    e = ev.select("user_id", F.col("ts").alias("e_ts"), "value")
    joined = p.join(
        e,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 60 MINUTES"))
        & (F.col("e_ts") < F.col("p_ts")),
    )
    return (
        joined.groupBy("purchase_id")
        .agg(
            F.count("*").alias("n_prior_events"),
            F.round(F.sum("value"), 4).alias("sum_prior_value"),
        )
        .orderBy("purchase_id")
    )


@_register(
    "scalar_subquery_ratio",
    """
    SELECT o_orderkey,
           round(o_totalprice, 4) AS totalprice,
           round(o_totalprice / (SELECT avg(o_totalprice) FROM orders), 6)
               AS price_ratio
    FROM orders
    WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
    """,
    "uncorrelated scalar subquery: global average computed once and "
    "broadcast to every row (Spark: 1-row agg + broadcast cross join — "
    "no per-row recomputation, no driver collect; SURVEY §2.4 breadth)",
)
def scalar_subquery_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    avg_df = o.agg(F.avg("o_totalprice").alias("_global_avg"))
    return (
        o.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > 1.8 * F.col("_global_avg"))
        .select(
            "o_orderkey",
            F.round("o_totalprice", 4).alias("totalprice"),
            F.round(F.col("o_totalprice") / F.col("_global_avg"), 6).alias("price_ratio"),
        )
    )


@_register(
    "collect_orders_list",
    """
    SELECT o_custkey,
           list_sort(list(o_orderkey)) AS orderkeys,
           count(*)                    AS n_orders
    FROM orders
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
    "array-building aggregate: per-customer sorted order list — "
    "collect_list is unordered across partitions, so array_sort makes "
    "the result deterministic (SURVEY §2.4 breadth; array type surface)",
)
def collect_orders_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.array_sort(F.collect_list("o_orderkey")).alias("orderkeys"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("o_custkey")
    )


@_register(
    "stats_by_returnflag",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4)                  AS qty_stddev,
           round(var_samp(l_quantity), 4)                     AS qty_var,
           round(corr(l_quantity, l_extendedprice), 6)        AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4)  AS qty_price_covar
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "statistical aggregates: stddev/variance/correlation/covariance per "
    "group — single hash-agg pass, partial-aggregable (moment sketches "
    "merge across partitions) so it scales like sum() (SURVEY §2.4 "
    "breadth)",
)
def stats_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("qty_stddev"),
            F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_covar"
            ),
        )
        .orderBy("l_returnflag")
    )


# One SQL text, two engines: the ad-hoc SQL surface (S9,
# data_loader.py:406-416) demonstrated with a dialect-neutral statement
# that Spark SQL and DuckDB both execute verbatim.
_SQL_SURFACE = """
    SELECT o_orderstatus,
           count(*)                    AS n_orders,
           round(sum(o_totalprice), 4) AS total_revenue,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


@_register(
    "sql_surface_revenue",
    _SQL_SURFACE,
    "ad-hoc SQL surface (S9): register_tables + spark.sql running the "
    "IDENTICAL SQL text the oracle runs — the engine's query entry point "
    "is ANSI SQL over temp views, not a bespoke DSL",
)
def sql_surface_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid19_etl_pipeline_spark.catalog import query, register_tables

    register_tables(spark, sf_dir, tables=("orders",))
    return query(spark, _SQL_SURFACE)


@_register(
    "null_profile_enriched",
    """
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN o_totalprice IS NULL OR isnan(o_totalprice)
                         THEN 1 ELSE 0 END) AS BIGINT) AS o_totalprice_nulls,
           CAST(sum(CASE WHEN user_value IS NULL OR isnan(user_value)
                         THEN 1 ELSE 0 END) AS BIGINT) AS user_value_nulls
    FROM orders LEFT JOIN (
        SELECT user_id, sum(value) AS user_value FROM events GROUP BY user_id
    ) e ON o_custkey = user_id
    """,
    "one-pass null/NaN profile over a LEFT-JOIN enrichment (reference "
    "parity: debugdb.py NaN checks, which scan once PER column; this is "
    "one aggregation pass for all columns). Unmatched join keys surface "
    "as user_value nulls — the standard post-enrichment quality gate",
)
def null_profile_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid19_etl_pipeline_spark.operators.aggregates import null_profile

    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(F.sum("value").alias("user_value"))
    enriched = o.join(totals, o["o_custkey"] == totals["user_id"], "left")
    return null_profile(enriched, ["o_totalprice", "user_value"])


@_register(
    "tumbling_6h_rollup",
    """
    SELECT time_bucket(INTERVAL 6 HOUR, ts) AS bucket_start,
           count(*)                         AS n_events,
           round(sum(value), 4)             AS total_value
    FROM events
    GROUP BY bucket_start
    ORDER BY bucket_start
    """,
    "batch tumbling window: F.window('ts', '6 hours') — the SAME "
    "operator the streaming daily rollup uses, epoch-aligned like "
    "DuckDB's time_bucket, so batch and streaming share one "
    "windowing semantics (SURVEY §2.9 bridge)",
)
def tumbling_6h_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "n_events",
            "total_value",
        )
        .orderBy("bucket_start")
    )


@_register(
    "gap_fill_daily",
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d, sum(value) AS dv
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, min(d) AS dmin, max(d) AS dmax FROM daily GROUP BY 1),
    cal AS (
        SELECT user_id,
               CAST(unnest(generate_series(dmin, dmax, INTERVAL 1 DAY)) AS DATE) AS d
        FROM bounds
    )
    SELECT cal.user_id, cal.d AS event_date,
           coalesce(round(dv, 4), 0.0) AS daily_value,
           dv IS NOT NULL           AS observed
    FROM cal LEFT JOIN daily ON cal.user_id = daily.user_id AND cal.d = daily.d
    """,
    "calendar gap-fill: densify each entity's daily series between its "
    "own min/max date. Spark side is the LEAD-window form: each daily "
    "row explodes the INCLUSIVE day range [d, next_d) — its own day "
    "(observed, real value) plus the gap days to its successor "
    "(zero-filled). One branch, no self-join, no union: exactly two "
    "shuffles (daily agg + per-entity window). The oracle states the "
    "same result as the naive bounds+calendar LEFT JOIN, which would "
    "cost a third shuffle and recompute the daily aggregate",
)
def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.sum("value").alias("dv")
    )
    w = Window.partitionBy("user_id").orderBy("d")
    with_next = daily.withColumn("next_d", F.lead("d").over(w))
    day = F.explode(
        F.sequence(
            "d", F.coalesce(F.date_sub("next_d", 1), F.col("d"))
        )
    )
    return with_next.select(
        "user_id", F.col("d").alias("_d"), F.col("dv").alias("_dv"), day.alias("event_date")
    ).select(
        "user_id",
        "event_date",
        F.when(F.col("event_date") == F.col("_d"), F.round("_dv", 4))
        .otherwise(F.lit(0.0))
        .alias("daily_value"),
        (F.col("event_date") == F.col("_d")).alias("observed"),
    )


@_register(
    "equidepth_deciles",
    """
    WITH ranked AS (
        SELECT o_totalprice,
               CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INT)
                   AS decile
        FROM orders
    )
    SELECT decile,
           count(*)                    AS n_orders,
           round(min(o_totalprice), 4) AS lo,
           round(max(o_totalprice), 4) AS hi
    FROM ranked GROUP BY decile ORDER BY decile
    """,
    "equi-depth histogram: ntile deciles with per-bucket bounds — the "
    "statistics shape optimizers collect (equal COUNT per bucket, "
    "variable width; complement of the equi-WIDTH histogram_totalprice). "
    "Unique (price, orderkey) tie-break keeps bucket edges deterministic. "
    "SCALE NOTE: the global ntile is single-task by definition — exact "
    "equi-depth needs a total order. The 100 TB path derives approximate "
    "edges from percentile_approx (see approx_percentile_check) and bins "
    "with range predicates instead",
)
def equidepth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select("o_totalprice", F.ntile(10).over(w).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
        )
        .orderBy("decile")
    )


@_register(
    "approx_percentile_check",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4)  AS p50_exact,
           round(quantile_cont(o_totalprice, 0.95), 4) AS p95_exact,
           TRUE AS sketch_ok
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "percentile_approx (mergeable quantile sketch, accuracy 10000) "
    "validated within 2% of the exact interpolated percentile — like "
    "the HLL check, the contract is the error bound, since the sketch "
    "value is engine-specific. At 100 TB the sketch is the only option: "
    "exact percentiles need a full sort of the key space per group",
)
def approx_percentile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    p50e = F.expr("percentile(o_totalprice, 0.5)")
    p95e = F.expr("percentile(o_totalprice, 0.95)")
    p50a = F.percentile_approx("o_totalprice", 0.5, 10000)
    p95a = F.percentile_approx("o_totalprice", 0.95, 10000)
    tol = 0.02
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(p50e, 4).alias("p50_exact"),
            F.round(p95e, 4).alias("p95_exact"),
            (
                (F.abs(p50a - p50e) <= tol * p50e)
                & (F.abs(p95a - p95e) <= tol * p95e)
            ).alias("sketch_ok"),
        )
        .orderBy("o_orderpriority")
    )


@_register(
    "unpivot_measures",
    """
    WITH agg AS (
        SELECT l_returnflag,
               round(sum(l_quantity), 4)      AS sum_qty,
               round(sum(l_extendedprice), 4) AS sum_price,
               round(sum(l_discount), 4)      AS sum_disc
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
    UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM agg
    UNION ALL SELECT l_returnflag, 'sum_disc',  sum_disc  FROM agg
    ORDER BY l_returnflag, measure
    """,
    "unpivot/melt — the inverse of pivot_linestatus: wide per-flag "
    "measures to long (flag, measure, value) rows via df.unpivot "
    "(Catalyst Expand node: one pass, rows x n_measures output, no "
    "join or union re-scan; the oracle states it as UNION ALL)",
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        F.round(F.sum("l_discount"), 4).alias("sum_disc"),
    )
    return agg.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="measure",
        valueColumnName="value",
    ).orderBy("l_returnflag", "measure")


@_register(
    "humanized_revenue",
    """
    SELECT o_orderpriority,
           round(sum(o_totalprice), 2) AS revenue,
           CASE WHEN abs(sum(o_totalprice)) >= 1e9
                    THEN printf('%.2f', sum(o_totalprice) / 1e9) || 'B'
                WHEN abs(sum(o_totalprice)) >= 1e6
                    THEN printf('%.2f', sum(o_totalprice) / 1e6) || 'M'
                WHEN abs(sum(o_totalprice)) >= 1e3
                    THEN printf('%.2f', sum(o_totalprice) / 1e3) || 'K'
                ELSE printf('%.2f', sum(o_totalprice)) END AS revenue_human
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "engine-side number humanization (F10 — the reference formats "
    "f'{x/1e6:.2f}M' client-side, dashboard.py:200-202): "
    "scalars.humanize_number emits '757.70M'-style strings in the "
    "serving plan, so dashboards need no client formatting pass",
)
def humanized_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid19_etl_pipeline_spark.functions.scalars import humanize_number

    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.sum("o_totalprice").alias("__t"))
        .select(
            "o_orderpriority",
            F.round("__t", 2).alias("revenue"),
            humanize_number("__t").alias("revenue_human"),
        )
        .orderBy("o_orderpriority")
    )


@_register(
    "salted_brand_revenue",
    """
    SELECT p_brand,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    "skew-resistant fact-dim join via explicit salting "
    "(operators/partitioning.salted_equi_join): the big side gets a "
    "per-row salt, the dim side is replicated salt ways, the join key "
    "becomes (partkey, salt) — a power-law hot key that would pin one "
    "shuffle partition is scattered across 8. Results are IDENTICAL to "
    "the plain join (the oracle is the unsalted join), which is the "
    "point: salting changes the physical distribution only. At 100 TB "
    "this is the fallback when even AQE's skew split leaves a "
    "straggler (SURVEY §7.4)",
)
def salted_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_extendedprice", "l_discount"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_equi_join(li, pt, "p_partkey", salt=8)
    return (
        joined.groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("p_brand")
    )


_SKEW_STRESS_ORACLE = """
    WITH big AS (
        SELECT CASE WHEN l_partkey % 10 < 3 THEN 1 ELSE l_partkey END AS k,
               l_extendedprice, l_discount
        FROM lineitem
    ),
    dim AS (
        SELECT p_partkey AS k, p_brand FROM part WHERE p_partkey % 10 >= 3
        UNION ALL SELECT 1, 'Brand#HOT'
    )
    SELECT p_brand,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           count(*) AS n_lines
    FROM big JOIN dim USING (k)
    GROUP BY p_brand
    ORDER BY p_brand
    """


def _skew_stress_frames(spark: SparkSession, sf_dir: str):
    """Deliberately skewed join inputs for the salting stress bench:
    ~30% of lineitem rows collapse onto ONE hot key (partkeys ending
    0-2 all map to key 1), the dim side keeps unique keys. The same
    frames feed the plain and the salted variant so BENCH measures the
    strategy, not the data."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_partkey") % 10 < 3, F.lit(1))
        .otherwise(F.col("l_partkey"))
        .alias("k"),
        "l_extendedprice",
        "l_discount",
    )
    pt = load_table(spark, sf_dir, "part")
    dim = (
        pt.filter(F.col("p_partkey") % 10 >= 3)
        .select(F.col("p_partkey").alias("k"), "p_brand")
        .unionByName(
            spark.createDataFrame([(1, "Brand#HOT")], "k long, p_brand string")
        )
    )
    return li, dim


def _skew_stress_rollup(joined: DataFrame) -> DataFrame:
    return (
        joined.groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("p_brand")
    )


@_register(
    "skewed_key_rollup_plain",
    _SKEW_STRESS_ORACLE,
    "skew-stress CONTROL: the deliberately hot key (one key = ~30% of "
    "the fact) joined with a plain shuffle-hash join — the broadcast "
    "path is hinted off because the scenario under test is the "
    "shuffle-join regime where a dim side is too big to broadcast (at "
    "100 TB a billion-row dim). One reducer owns the hot key unless "
    "AQE's skew split intervenes; BENCH records this against the "
    "salted twin `skewed_key_rollup_salted` so the salting payoff is "
    "a measured number (SCALE.md §9), not an assertion",
)
def skewed_key_rollup_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, dim = _skew_stress_frames(spark, sf_dir)
    return _skew_stress_rollup(li.join(dim.hint("shuffle_hash"), "k"))


@_register(
    "skewed_key_rollup_salted",
    _SKEW_STRESS_ORACLE,
    "skew-stress TREATMENT: identical inputs and result as "
    "`skewed_key_rollup_plain`, but through "
    "partitioning.salted_equi_join (per-row salt on the fact, dim "
    "replicated salt ways, join key (k, salt)) — the hot key's rows "
    "scatter across 8 partitions instead of pinning one reducer. "
    "Oracle is the SAME unsalted SQL: salting is physical only",
)
def skewed_key_rollup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, dim = _skew_stress_frames(spark, sf_dir)
    return _skew_stress_rollup(
        salted_equi_join(li, dim.hint("shuffle_hash"), "k", salt=8)
    )


@_register(
    "scd2_customer_tiers",
    """
    WITH h AS (
        SELECT o_custkey,
               CAST(o_orderdate AS DATE) AS order_date,
               CAST(least(floor(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) / 250000), 5) AS INT)
                   AS tier
        FROM orders
    ),
    changes AS (
        SELECT o_custkey, order_date, tier,
               lag(tier) OVER (PARTITION BY o_custkey
                               ORDER BY order_date, tier) AS prev_tier
        FROM h
    ),
    versions AS (
        SELECT o_custkey, tier, order_date AS valid_from,
               lead(order_date) OVER (PARTITION BY o_custkey
                                      ORDER BY order_date, tier) AS valid_to
        FROM changes
        WHERE prev_tier IS NULL OR tier <> prev_tier
    )
    SELECT o_custkey, tier, valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM versions
    ORDER BY o_custkey, valid_from
    """,
    "SCD2 (type-2 slowly-changing dimension) build from history: "
    "cumulative customer spend -> derived tier attribute -> "
    "change-detection (lag) keeps only rows where the tier moves -> "
    "validity intervals (lead) + is_current flag. The warehouse-"
    "standard versioned-dimension pattern the reference's "
    "truncate-and-reload serving layer (data_loader.py:252-262) cannot "
    "express. Plan: one shuffle on custkey; all three windows share "
    "the same partitioning, so Catalyst plans them into a single "
    "sort+exchange. The running sum is ordered by the unique "
    "(o_orderdate, o_orderkey) key, so float accumulation order — and "
    "therefore every tier boundary — is engine-deterministic",
)
def scd2_customer_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w_cum = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    h = o.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("order_date"),
        F.least(
            F.floor(F.sum("o_totalprice").over(w_cum) / 250000), F.lit(5)
        )
        .cast("int")
        .alias("tier"),
    )
    w_chg = Window.partitionBy("o_custkey").orderBy("order_date", "tier")
    changes = h.withColumn("prev_tier", F.lag("tier").over(w_chg)).filter(
        F.col("prev_tier").isNull() | (F.col("tier") != F.col("prev_tier"))
    )
    w_ver = Window.partitionBy("o_custkey").orderBy("order_date", "tier")
    return (
        changes.select(
            "o_custkey",
            "tier",
            F.col("order_date").alias("valid_from"),
            F.lead("order_date").over(w_ver).alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
        .orderBy("o_custkey", "valid_from")
    )


@_register(
    "price_percentile_ranks",
    """
    SELECT o_orderkey, o_orderpriority,
           round(percent_rank() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice, o_orderkey), 6)
               AS price_percent_rank,
           round(cume_dist() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey), 6)
               AS price_cume_dist
    FROM orders
    WHERE o_custkey < 100
    ORDER BY o_orderkey
    """,
    "relative-standing window functions (percent_rank, cume_dist) per "
    "priority class — the remaining ranking-family members after "
    "row_number/rank/dense_rank (`rank_distribution`) and ntile "
    "(`equidepth_deciles`). Both are exact integer ratios "
    "((rank-1)/(n-1), n_le/n), so engine-deterministic; the unique "
    "(o_totalprice, o_orderkey) ordering pins tie behavior identically "
    "on both sides. One shuffle on the partition key",
)
def price_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("price_percent_rank"),
        F.round(F.cume_dist().over(w), 6).alias("price_cume_dist"),
    ).orderBy("o_orderkey")


@_register(
    "price_extremes_window",
    """
    SELECT o_orderkey, o_orderpriority,
           round(first_value(o_totalprice) OVER w, 4) AS cheapest_in_class,
           round(last_value(o_totalprice) OVER w, 4)  AS priciest_in_class,
           round(nth_value(o_totalprice, 2) OVER w, 4) AS second_cheapest
    FROM orders
    WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_orderkey
    """,
    "value-navigation window family (first_value / last_value / "
    "nth_value) with an explicit unbounded-both ROWS frame — "
    "last_value under the DEFAULT frame is the notorious footgun (it "
    "sees only up to CURRENT ROW); pinning the frame makes the "
    "semantics explicit and engine-identical. Unique (price, orderkey) "
    "ordering; one shuffle on the partition key",
)
def price_extremes_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.first("o_totalprice").over(w), 4).alias("cheapest_in_class"),
        F.round(F.last("o_totalprice").over(w), 4).alias("priciest_in_class"),
        F.round(F.nth_value("o_totalprice", 2).over(w), 4).alias("second_cheapest"),
    ).orderBy("o_orderkey")


@_register(
    "cdc_latest_user_state",
    """
    WITH ranked AS (
        SELECT user_id, event_id, event_type, value, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id,
           event_id AS last_event_id,
           event_type AS last_event_type,
           round(value, 4) AS last_value,
           CAST(epoch_us(ts) AS BIGINT) AS last_ts_us
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
    "CDC log compaction: collapse an append-only change log to the "
    "current snapshot — one row per key, the latest by (ts, event_id), "
    "in the window form: one shuffle on the key. At 100 TB this is the "
    "materialization step between a CDC feed and a serving table",
)
def cdc_latest_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 4).alias("last_value"),
            F.unix_micros("ts").alias("last_ts_us"),
        )
        .orderBy("user_id")
    )


@_register(
    "grouping_sets_matrix",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
           count(*) AS n_lines,
           round(sum(l_extendedprice), 4) AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY gid, l_returnflag, l_linestatus
    """,
    "explicit GROUPING SETS with grouping_id disambiguation — the "
    "general form behind `rollup_grouping_sets`/`cube_agg`: all three "
    "granularities (pair, flag subtotal, grand total) computed in ONE "
    "Expand+hash-agg pass over one scan, with gid telling a NULL key "
    "from a subtotal row. (SURVEY §2.4: reference lacks multi-level "
    "aggregation entirely)",
)
def grouping_sets_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


@_register(
    "bloom_pruned_revenue",
    """
    SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS order_month,
           round(sum(l_extendedprice * (1 - l_discount)), 4)            AS revenue,
           count(*)                                                     AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY order_month
    ORDER BY order_month
    """,
    "selective fact-fact join shaped for Catalyst runtime bloom-filter "
    "injection (InjectRuntimeFilter): the urgent-orders side is "
    "selective but — at 100 TB — too large to broadcast, so the join is "
    "pinned sort-merge and Spark builds a bloom filter from the "
    "filtered creation side and pushes might_contain() down into the "
    "lineitem scan, pruning most of the probe-side shuffle at the "
    "source. Locally the 10 GB application-side threshold keeps the "
    "filter off (results identical either way — it is pure pruning); "
    "the plan test forces the thresholds down and pins the "
    "might_contain shape the query runs with at scale",
)
def bloom_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("od"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    return (
        j.groupBy(F.date_trunc("month", "od").cast("date").alias("order_month"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
        .orderBy("order_month")
    )


@_register(
    "close_order_pairs",
    """
    WITH o AS (
        SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders
    )
    SELECT a.o_custkey,
           count(*)                                              AS n_pairs,
           CAST(min(abs(datediff('day', a.od, b.od))) AS INT)    AS min_gap_days,
           round(avg(abs(datediff('day', a.od, b.od))), 4)       AS avg_gap_days
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND abs(datediff('day', a.od, b.od)) <= 30
    GROUP BY a.o_custkey
    ORDER BY a.o_custkey
    """,
    "range-interval self-join: per customer, pairs of orders placed "
    "within 30 days of each other (burst-purchase detection). The "
    "scalable shape is equi-key + range predicate: Spark shuffles BOTH "
    "sides once on the customer key and evaluates the date-range "
    "predicate inside each co-partitioned group, so fan-out is bounded "
    "by orders-per-customer, never O(n^2). (A range join with NO equi "
    "key is the degenerate case — then you bucket the time axis into "
    "band keys first, the events_before_purchase pattern)",
)
def close_order_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    a, b = o.alias("a"), o.alias("b")
    gap = F.abs(F.datediff(F.col("b.od"), F.col("a.od")))
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (gap <= 30),
        )
        .groupBy(F.col("a.o_custkey").alias("o_custkey"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.min(gap).alias("min_gap_days"),
            F.round(F.avg(gap), 4).alias("avg_gap_days"),
        )
        .orderBy("o_custkey")
    )


@_register(
    "period_revenue_reconciliation",
    """
    WITH a AS (
        SELECT o_custkey, round(sum(o_totalprice), 4) AS rev_early
        FROM orders WHERE year(CAST(o_orderdate AS DATE)) BETWEEN 1995 AND 1996
        GROUP BY o_custkey
    ),
    b AS (
        SELECT o_custkey, round(sum(o_totalprice), 4) AS rev_late
        FROM orders WHERE year(CAST(o_orderdate AS DATE)) BETWEEN 1997 AND 1998
        GROUP BY o_custkey
    )
    SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey,
           a.rev_early,
           b.rev_late,
           CASE WHEN a.o_custkey IS NULL THEN 'late_only'
                WHEN b.o_custkey IS NULL THEN 'early_only'
                ELSE 'both' END AS presence,
           round(b.rev_late - a.rev_early, 4) AS rev_delta
    FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
    ORDER BY o_custkey
    """,
    "FULL OUTER reconciliation — the join type the registry lacked: "
    "per-customer revenue in two adjacent periods, full-outer on the "
    "customer key so the result carries matched, early-only, and "
    "late-only rows with a presence class and a period delta (the "
    "period-over-period drift report every serving layer grows). Both "
    "inputs aggregate BEFORE the join, so the full-outer runs on "
    "per-key rollups (small) rather than raw facts, and both rollups "
    "share the same custkey partitioning — one exchange each, no "
    "re-shuffle for the join",
)
def period_revenue_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", F.year(F.col("o_orderdate").cast("date")).alias("yr")
    )

    def window_rev(lo: int, hi: int, out: str) -> DataFrame:
        return (
            o.filter(F.col("yr").between(lo, hi))
            .groupBy("o_custkey")
            .agg(F.round(F.sum("o_totalprice"), 4).alias(out))
        )

    a = window_rev(1995, 1996, "rev_early")
    b = window_rev(1997, 1998, "rev_late")
    joined = a.alias("a").join(
        b.alias("b"), F.col("a.o_custkey") == F.col("b.o_custkey"), "full_outer"
    )
    presence = (
        F.when(F.col("a.o_custkey").isNull(), "late_only")
        .when(F.col("b.o_custkey").isNull(), "early_only")
        .otherwise("both")
    )
    return joined.select(
        F.coalesce(F.col("a.o_custkey"), F.col("b.o_custkey")).alias("o_custkey"),
        "rev_early",
        "rev_late",
        presence.alias("presence"),
        F.round(F.col("rev_late") - F.col("rev_early"), 4).alias("rev_delta"),
    ).orderBy("o_custkey")


@_register(
    "variant_props_stats",
    """
    SELECT event_type,
           count(*) AS n_events,
           round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
    FROM events
    WHERE props IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
    "Spark-4 VARIANT semi-structured path: parse_json shreds the "
    "props string to a binary variant ONCE, variant_get pulls a TYPED "
    "field without per-access string re-parsing (vs get_json_object, "
    "which re-parses the JSON text for every path expression — at "
    "100 TB with several extracted fields that is the difference "
    "between one parse and N parses per row), then a standard rollup. "
    "Oracle states the same semantics with JSON string functions",
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").cast("int").alias("max_k"),
        )
        .orderBy("event_type")
    )


@_register(
    "scd2_point_in_time_lookup",
    """
    WITH h AS (
        SELECT o_custkey,
               CAST(o_orderdate AS DATE) AS order_date,
               CAST(least(floor(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) / 250000), 5) AS INT)
                   AS tier
        FROM orders
    ),
    changes AS (
        SELECT o_custkey, order_date, tier,
               lag(tier) OVER (PARTITION BY o_custkey
                               ORDER BY order_date, tier) AS prev_tier
        FROM h
    ),
    versions AS (
        SELECT o_custkey, tier, order_date AS valid_from,
               lead(order_date) OVER (PARTITION BY o_custkey
                                      ORDER BY order_date, tier) AS valid_to
        FROM changes
        WHERE prev_tier IS NULL OR tier <> prev_tier
    )
    SELECT o.o_orderkey, o.o_custkey,
           CAST(o.o_orderdate AS DATE) AS order_date,
           v.tier AS tier_at_order
    FROM orders o JOIN versions v
      ON o.o_custkey = v.o_custkey
     AND CAST(o.o_orderdate AS DATE) >= v.valid_from
     AND (v.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < v.valid_to)
    WHERE year(CAST(o.o_orderdate AS DATE)) = 1996
    ORDER BY o.o_orderkey
    """,
    "SCD2 POINT-IN-TIME lookup — the feature-store join half of the "
    "versioned-dimension story (scd2_customer_tiers is the build "
    "half): each 1996 order joined to the customer-tier version valid "
    "AT ITS DATE via equi key + half-open interval residual "
    "[valid_from, valid_to). Zero-width versions (two tier bumps on "
    "one date) are excluded by the strict upper bound, so every order "
    "matches exactly one version — the training-time leak-free "
    "feature join (no future tier leaks into a past order). Same "
    "custkey partitioning serves the build windows AND the lookup "
    "join",
)
def scd2_point_in_time_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    versions = REGISTRY["scd2_customer_tiers"].fn(spark, sf_dir).select(
        F.col("o_custkey").alias("v_custkey"), "tier", "valid_from", "valid_to"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("order_date")
    ).filter(F.year("order_date") == 1996)
    j = o.join(
        versions,
        (o.o_custkey == versions.v_custkey)
        & (F.col("order_date") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("order_date") < F.col("valid_to"))),
    )
    return j.select(
        "o_orderkey", "o_custkey", "order_date", F.col("tier").alias("tier_at_order")
    ).orderBy("o_orderkey")


@_register(
    "paged_orders",
    """
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
           round(o_totalprice, 4) AS o_totalprice
    FROM orders
    WHERE (CAST(o_orderdate AS DATE), o_orderkey) > (DATE '1996-06-01', 2500)
    ORDER BY o_orderdate, o_orderkey
    LIMIT 25
    """,
    "KEYSET pagination — the serving-layer pattern OFFSET cannot "
    "survive: the next page is WHERE (sort_key, unique_key) > "
    "(cursor) ORDER BY ... LIMIT n, so every page costs one pruned "
    "scan + TakeOrdered(n) regardless of page depth, where OFFSET "
    "100000 re-sorts and discards 100k rows per request. The row "
    "comparison compiles to a pushable range predicate on the leading "
    "key; the unique tie-break key makes pages gap- and overlap-free "
    "under concurrent inserts",
)
def paged_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    cursor_date, cursor_key = "1996-06-01", 2500
    after = (od > F.lit(cursor_date).cast("date")) | (
        (od == F.lit(cursor_date).cast("date")) & (F.col("o_orderkey") > cursor_key)
    )
    return (
        o.filter(after)
        .select(
            "o_orderkey",
            od.alias("o_orderdate"),
            F.round("o_totalprice", 4).alias("o_totalprice"),
        )
        .orderBy("o_orderdate", "o_orderkey")
        .limit(25)
    )


@_register(
    "bag_setops_orders",
    """
    WITH y99 AS (
        SELECT o_custkey, o_orderpriority FROM orders
        WHERE o_orderdate >= TIMESTAMP '1999-01-01'
          AND o_orderdate <  TIMESTAMP '2000-01-01'
    ),
    y00 AS (
        SELECT o_custkey, o_orderpriority FROM orders
        WHERE o_orderdate >= TIMESTAMP '2000-01-01'
          AND o_orderdate <  TIMESTAMP '2001-01-01'
    )
    SELECT 'except_all' AS op, o_custkey, o_orderpriority
    FROM (SELECT * FROM y99 EXCEPT ALL SELECT * FROM y00)
    UNION ALL
    SELECT 'intersect_all' AS op, o_custkey, o_orderpriority
    FROM (SELECT * FROM y99 INTERSECT ALL SELECT * FROM y00)
    ORDER BY op, o_custkey, o_orderpriority
    """,
    "BAG-SEMANTICS SET OPERATIONS (EXCEPT ALL / INTERSECT ALL): the "
    "multiset counterparts of the distinct set ops in operators/"
    "setops.py — two order-year workload slices at (customer, "
    "priority) grain, where EXCEPT ALL keeps the SURPLUS occurrences "
    "(a customer with three urgent orders in 1999 and one in 2000 "
    "contributes two rows — lost order VOLUME, which distinct EXCEPT "
    "silently collapses) and INTERSECT ALL the matched ones. Spark "
    "plans both as hash aggregates computing per-row multiplicity "
    "deltas (count_l - count_r) then a generate replay — one shuffle "
    "per side on the full row key, the same partial+final shape as "
    "any distinct, no join. Completes the §2.7 set-op family at bag "
    "semantics",
)
def bag_setops_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def year_slice(lo: str, hi: str) -> DataFrame:
        return orders.filter(
            (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
        ).select("o_custkey", "o_orderpriority")

    y99 = year_slice("1999-01-01", "2000-01-01")
    y00 = year_slice("2000-01-01", "2001-01-01")
    tagged = y99.exceptAll(y00).select(
        F.lit("except_all").alias("op"), "o_custkey", "o_orderpriority"
    ).unionByName(
        y99.intersectAll(y00).select(
            F.lit("intersect_all").alias("op"), "o_custkey", "o_orderpriority"
        )
    )
    return tagged.orderBy("op", "o_custkey", "o_orderpriority")


@_register(
    "modal_priority_by_nation",
    """
    WITH joined AS (
        SELECT n.n_name AS nation, o.o_orderpriority AS priority
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
    ),
    counts AS (
        SELECT nation, priority, count(*) AS cnt
        FROM joined GROUP BY nation, priority
    ),
    ranked AS (
        SELECT nation, priority, cnt,
               row_number() OVER (PARTITION BY nation
                                  ORDER BY cnt DESC, priority) AS rn,
               CAST(sum(cnt) OVER (PARTITION BY nation) AS BIGINT)
                   AS nation_orders
        FROM counts
    )
    SELECT nation, priority AS modal_priority,
           CAST(cnt AS BIGINT) AS modal_count, nation_orders,
           round(cnt * 1.0 / nation_orders, 4) AS modal_share
    FROM ranked WHERE rn = 1
    ORDER BY nation
    """,
    "MODE AGGREGATE per group — the one classic summary statistic "
    "the aggregate family lacked (min/max/avg/median/percentiles all "
    "exist): most frequent order priority per customer nation with "
    "its share, via the scalable two-step (value-count rollup, then "
    "a rank window over the GROUP x VALUE grain — never a "
    "per-group collect). Deterministic tie-break on the value. The "
    "same shape computes any categorical mode at 100 TB: the window "
    "input is |groups| x |distinct values|, not the fact",
)
def modal_priority_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    counts = joined.groupBy(
        F.col("n_name").alias("nation"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count("*").alias("cnt"))
    w_rank = Window.partitionBy("nation").orderBy(F.col("cnt").desc(), "priority")
    w_tot = Window.partitionBy("nation")
    ranked = counts.select(
        "nation",
        "priority",
        "cnt",
        F.row_number().over(w_rank).alias("rn"),
        F.sum("cnt").over(w_tot).alias("nation_orders"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "nation",
            F.col("priority").alias("modal_priority"),
            F.col("cnt").alias("modal_count"),
            "nation_orders",
            F.round(F.col("cnt") * 1.0 / F.col("nation_orders"), 4).alias(
                "modal_share"
            ),
        )
        .orderBy("nation")
    )
