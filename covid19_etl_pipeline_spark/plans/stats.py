"""Statistical tests, drift metrics, inequality measures, regression, and
mergeable-sketch (HLL / CMS / KMV / bitmap) queries.

Registered query family (29 entries); split from the
original monolithic plans/queries.py.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from covid19_etl_pipeline_spark.catalog import load_table
from covid19_etl_pipeline_spark.operators.partitioning import barrier

from covid19_etl_pipeline_spark.plans._registry import _register

@_register(
    "price_quantity_regression",
    """
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4)     AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "per-group OLS fit (price ~ quantity) from second-moment aggregates: "
    "slope = covar_pop/var_pop, intercept = mean_y - slope*mean_x, "
    "r2 = corr^2 — pure built-in partial-aggregable moments, no "
    "applyInPandas needed (Spark-first answer to a per-group model fit)",
)
def price_quantity_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    slope = F.covar_pop("l_quantity", "l_extendedprice") / F.var_pop("l_quantity")
    intercept = F.avg("l_extendedprice") - slope * F.avg("l_quantity")
    r2 = F.pow(F.corr("l_quantity", "l_extendedprice"), 2)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(slope, 4).alias("slope"),
            F.round(intercept, 4).alias("intercept"),
            F.round(r2, 6).alias("r2"),
        )
        .orderBy("l_returnflag")
    )


@_register(
    "heavy_hitters_cms",
    """
    WITH topk AS (
        SELECT event_type, count(*) AS n_events_exact
        FROM events
        GROUP BY event_type
        ORDER BY n_events_exact DESC, event_type
        LIMIT 20
    )
    SELECT event_type, n_events_exact, TRUE AS cms_ok
    FROM topk
    ORDER BY event_type
    """,
    "count-min-sketch heavy hitters validated against exact counts: the "
    "CMS estimate is engine-specific (seeded, mergeable across "
    "partitions), so — like the HLL query — the checked contract is "
    "the CMS guarantee: estimate >= exact and estimate <= exact + "
    "eps * N (eps=0.001, confidence 0.99). The sketch is built "
    "distributed (one pass, partial sketches merged tree-wise) and "
    "probed on the driver against the TOP-K of the exact rollup only — "
    "every driver-side structure is bounded by k=20 (TakeOrdered, not "
    "an unbounded collect), so the audit is safe on an arbitrarily "
    "high-cardinality key; N comes from the sketch's own totalCount, "
    "not a second pass over the fact",
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    eps, confidence, seed = 0.001, 0.99, 42
    k = 20
    raw = ev.agg(
        F.expr(
            f"count_min_sketch(event_type, {eps}d, {confidence}d, {seed})"
        ).alias("s")
    ).head()["s"]
    jvm = spark._jvm
    sketch = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(raw))
    )
    # bounded driver state: top-k heavy hitters only (k rows, whatever
    # the key cardinality), and the stream total from the sketch itself
    topk = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n_events_exact"))
        .orderBy(F.col("n_events_exact").desc(), "event_type")
        .limit(k)
        .collect()
    )
    total = sketch.totalCount()
    rows = [
        (
            r["event_type"],
            r["n_events_exact"],
            r["n_events_exact"]
            <= sketch.estimateCount(r["event_type"])
            <= r["n_events_exact"] + eps * total,
        )
        for r in topk
    ]
    return spark.createDataFrame(
        rows, "event_type string, n_events_exact bigint, cms_ok boolean"
    ).orderBy("event_type")


@_register(
    "hll_union_event_types",
    """
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           TRUE AS union_ok
    FROM events
    """,
    "mergeable-sketch union: one HLL sketch per event_type (the "
    "per-partition / per-day rollup you'd store at 100 TB), then "
    "hll_union_agg merges the 5 sketches into the global "
    "distinct-user estimate WITHOUT re-scanning events — the "
    "re-aggregability property that lets pre-computed daily sketches "
    "answer any date-range distinct query. Sketch bytes are "
    "engine-specific, so the checked contract is the union estimate "
    "within 5% of the exact global distinct (same convention as "
    "`approx_distinct_users`/`heavy_hitters_cms`)",
)
def hll_union_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("n_type_exact"),
    )
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_users_est"),
        F.sum("n_type_exact").alias("_ignore"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("n_users_exact"))
    return (
        exact.crossJoin(F.broadcast(merged))
        .select(
            F.col("n_users_exact").cast("bigint").alias("n_users_exact"),
            (
                F.abs(F.col("n_users_est") - F.col("n_users_exact"))
                <= 0.05 * F.col("n_users_exact")
            ).alias("union_ok"),
        )
    )


@_register(
    "distribution_moments",
    """
    WITH s AS (
        SELECT l_returnflag, count(*) AS n, avg(l_extendedprice) AS mu
        FROM lineitem GROUP BY l_returnflag
    ),
    m AS (
        SELECT l.l_returnflag,
               max(s.n) AS n,
               stddev_samp(l.l_extendedprice) AS sd,
               sum(pow(l.l_extendedprice - s.mu, 2)) / max(s.n) AS m2,
               sum(pow(l.l_extendedprice - s.mu, 3)) / max(s.n) AS m3,
               sum(pow(l.l_extendedprice - s.mu, 4)) / max(s.n) AS m4
        FROM lineitem l JOIN s ON l.l_returnflag = s.l_returnflag
        GROUP BY l.l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT)                      AS n_rows,
           round(sd, 4)                           AS std_price,
           round(m3 / pow(m2, 1.5), 4) + 0.0      AS skew_price,
           round(m4 / pow(m2, 2) - 3, 4) + 0.0    AS kurt_price
    FROM m ORDER BY l_returnflag
    """,
    "distribution-shape statistics per group: sample stddev, population "
    "skewness m3/m2^1.5 and population excess kurtosis m4/m2^2 - 3 of "
    "the price column — the data-profiling layer over the reference's "
    "plain avg/max stats (get_statistics, data_transformer.py:434-448). "
    "Spark's skewness/kurtosis are ONE-PASS streaming central-moment "
    "aggregates (partial-aggregable, map-side combine, no second scan); "
    "the oracle states the same population formulas as an explicit "
    "two-pass moment computation, pinning the exact semantics (DuckDB's "
    "own skewness()/kurtosis() are sample-corrected and would NOT match)",
)
def distribution_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
            (F.round(F.skewness("l_extendedprice"), 4) + F.lit(0.0)).alias("skew_price"),
            (F.round(F.kurtosis("l_extendedprice"), 4) + F.lit(0.0)).alias("kurt_price"),
        )
        .orderBy("l_returnflag")
    )


@_register(
    "approx_top_event_types",
    """
    SELECT CAST(row_number() OVER (ORDER BY count(*) DESC, event_type) AS INT) AS rk,
           event_type,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY n_events DESC, event_type
    LIMIT 3
    """,
    "Spark-4-native approx_top_k sketch for bounded-cardinality heavy "
    "hitters: one mergeable sketch aggregate (no full groupBy shuffle "
    "of distinct keys at 100 TB — partial sketches merge tree-wise), "
    "exploded to ranked rows. The sketch is EXACT by construction when "
    "maxItemsTracked >= NDV (here 100 >> 5 event types) — which is what "
    "makes it hash-comparable against the exact GROUP BY oracle; the "
    "unbounded-NDV regime is heavy_hitters_cms' error-bound contract",
)
def approx_top_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sketch = ev.agg(F.expr("approx_top_k(event_type, 3, 100)").alias("tk"))
    # re-rank the exploded sketch rows explicitly: the sketch's internal
    # order leaves equal counts in insertion order, which need not match
    # the oracle's (count desc, event_type) tie-break. 3 rows — the
    # single-partition window is free.
    exploded = sketch.select(F.explode("tk").alias("s")).select(
        F.col("s.item").alias("event_type"),
        F.col("s.count").alias("n_events"),
    )
    w = Window.orderBy(F.col("n_events").desc(), "event_type")
    return exploded.select(
        F.row_number().over(w).cast("int").alias("rk"),
        "event_type",
        "n_events",
    ).orderBy("rk")


@_register(
    "cumulative_distinct_users",
    """
    WITH firsts AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_date
        FROM events GROUP BY user_id
    ),
    new_per_day AS (
        SELECT first_date AS event_date, count(*) AS new_users
        FROM firsts GROUP BY first_date
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS event_date FROM events)
    SELECT d.event_date,
           CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
           CAST(sum(coalesce(n.new_users, 0)) OVER (ORDER BY d.event_date)
                AS BIGINT) AS cumulative_users
    FROM days d LEFT JOIN new_per_day n USING (event_date)
    ORDER BY d.event_date
    """,
    "cumulative distinct-user curve — COUNT(DISTINCT) OVER, which "
    "Spark's window functions lack, composed from built-ins: each "
    "user's first-seen date (one user-keyed agg), new-user counts per "
    "day, then a running sum over the DAY-GRAIN rollup. The naive "
    "form (distinct-count per expanding window) rescans the fact once "
    "per day; this is two partial-aggregable shuffles + a window over "
    "#days rows. The unpartitioned running-sum window is post-"
    "aggregation only (the W1 exemption)",
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("event_date")
    )
    firsts = ev.groupBy("user_id").agg(F.min("event_date").alias("first_date"))
    new_per_day = firsts.groupBy(F.col("first_date").alias("event_date")).agg(
        F.count("*").alias("new_users")
    )
    days = ev.select("event_date").distinct()
    joined = days.join(new_per_day, "event_date", "left").select(
        "event_date", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w = Window.orderBy("event_date").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "event_date",
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    ).orderBy("event_date")


#: Deterministic user sample for the sketch-overlap audit: md5 first two
#: hex chars < 0x40 → p = 64/256 = 1/4, bit-identical in DuckDB via
#: ('0x'||substr(md5(...),1,2))::UBIGINT. At 100 TB the threshold drops
#: (e.g. < 1 → p = 1/256) — the audit cost scales with p², the estimate
#: cost not at all.
_OVERLAP_SAMPLE_THRESHOLD = 64
_OVERLAP_SAMPLE_P = _OVERLAP_SAMPLE_THRESHOLD / 256.0
#: Below this many sampled users the binomial error swamps any sketch
#: signal — the audit abstains (trivially true) rather than flapping.
_OVERLAP_MIN_SAMPLE = 30


@_register(
    "hll_user_overlap_estimate",
    f"""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    ds AS (
        SELECT * FROM du
        WHERE ('0x' || substr(md5(user_id::VARCHAR), 1, 2))::UBIGINT
              < {_OVERLAP_SAMPLE_THRESHOLD}
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_overlap_sampled,
           TRUE AS overlap_ok
    FROM ds a JOIN ds b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
    ORDER BY type_a, type_b
    """,
    "audience-overlap estimation from sketches alone: per event-type "
    "pair, |A-intersect-B| estimated by inclusion-exclusion over HLL "
    "sketches (est_A + est_B - est(A union B), the union via hll_union "
    "on the two binary sketches). THE pre-aggregated-audience pattern: "
    "at 100 TB the per-segment sketches are tiny persisted artifacts "
    "and ANY pairwise overlap is answered WITHOUT rejoining the fact. "
    "The audit side never touches the full fact either — a "
    "deterministic md5 hash-sample of users (p=1/4 here, smaller at "
    "scale) bounds the exact pairwise join to the sample, and the "
    "contract abstains below 30 sampled users where binomial noise "
    "swamps the sketch signal. Sketch values are engine-specific, so "
    "the hash-checked columns are the portable sampled overlap and the "
    "error-bound boolean (the approx_distinct_users convention); "
    "hll_user_overlap_audit is the full-exact variant",
)
def hll_user_overlap_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = ev.groupBy("event_type").agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    a = sk.select(F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b"))
    est = (
        F.expr("hll_sketch_estimate(sk_a)")
        + F.expr("hll_sketch_estimate(sk_b)")
        - F.expr("hll_sketch_estimate(hll_union(sk_a, sk_b))")
    )
    # deterministic, engine-portable user sample: the exact join runs on
    # p of the users, never the full audience
    ds = (
        ev.filter(
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 2), 16, 10)
            .cast("bigint")
            < _OVERLAP_SAMPLE_THRESHOLD
        )
        .distinct()
    )
    sampled = (
        ds.alias("x")
        .join(ds.alias("y"), "user_id")
        .filter(F.col("x.event_type") < F.col("y.event_type"))
        .groupBy(
            F.col("x.event_type").alias("type_a"), F.col("y.event_type").alias("type_b")
        )
        .agg(F.count("*").alias("n_overlap_sampled"))
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("type_a") < F.col("type_b"))
        .withColumn("est_overlap", est)
    )
    scaled = F.col("n_overlap_sampled") / F.lit(_OVERLAP_SAMPLE_P)
    return (
        pairs.join(sampled, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "n_overlap_sampled",
            (
                (F.col("n_overlap_sampled") < _OVERLAP_MIN_SAMPLE)
                | (F.abs(F.col("est_overlap") - scaled) <= 0.30 * scaled)
            ).alias("overlap_ok"),
        )
        .orderBy("type_a", "type_b")
    )


@_register(
    "hll_user_overlap_audit",
    """
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(DISTINCT a.user_id) AS n_overlap_exact,
           TRUE AS overlap_ok
    FROM du a JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
    ORDER BY type_a, type_b
    """,
    "AUDIT variant of hll_user_overlap_estimate: the exact pairwise "
    "user-overlap self-join, checked against the sketch estimate within "
    "10%. Deliberately NOT the production path — the exact join "
    "re-shuffles the full distinct (segment, user) stream and is the "
    "one query here that must not run at 100 TB grain; run it on "
    "samples or small segments to calibrate the sketch error bound",
)
def hll_user_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = ev.groupBy("event_type").agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    a = sk.select(F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b"))
    est = (
        F.expr("hll_sketch_estimate(sk_a)")
        + F.expr("hll_sketch_estimate(sk_b)")
        - F.expr("hll_sketch_estimate(hll_union(sk_a, sk_b))")
    )
    du = ev.distinct()
    exact = (
        du.alias("x")
        .join(du.alias("y"), "user_id")
        .filter(F.col("x.event_type") < F.col("y.event_type"))
        .groupBy(
            F.col("x.event_type").alias("type_a"), F.col("y.event_type").alias("type_b")
        )
        .agg(F.countDistinct("user_id").alias("n_overlap_exact"))
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("type_a") < F.col("type_b"))
        .withColumn("est_overlap", est)
    )
    return (
        pairs.join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "n_overlap_exact",
            (
                F.abs(F.col("est_overlap") - F.col("n_overlap_exact"))
                <= 0.10 * F.col("n_overlap_exact")
            ).alias("overlap_ok"),
        )
        .orderBy("type_a", "type_b")
    )


@_register(
    "price_distribution_psi",
    """
    WITH binned AS (
        SELECT CASE WHEN year(CAST(o_orderdate AS DATE)) <= 1997
                    THEN 'baseline' ELSE 'current' END AS period,
               least(CAST(floor(o_totalprice / 50000) AS INT), 9) AS bin
        FROM orders
    ),
    counts AS (
        SELECT period, bin, count(*) AS n FROM binned GROUP BY period, bin
    ),
    totals AS (
        SELECT period, sum(n) AS tot FROM counts GROUP BY period
    ),
    fracs AS (
        SELECT c.bin,
               max(CASE WHEN c.period = 'baseline'
                        THEN (c.n + 0.5) / (t.tot + 5.0) END) AS p_base,
               max(CASE WHEN c.period = 'current'
                        THEN (c.n + 0.5) / (t.tot + 5.0) END) AS p_curr
        FROM counts c JOIN totals t USING (period)
        GROUP BY c.bin
    ),
    tw AS (
        SELECT max(CASE WHEN period = 'baseline' THEN tot END) AS tot_base,
               max(CASE WHEN period = 'current'  THEN tot END) AS tot_curr
        FROM totals
    ),
    contrib AS (
        SELECT bin,
               coalesce(p_base, 0.5 / (tot_base + 5.0)) AS pb,
               coalesce(p_curr, 0.5 / (tot_curr + 5.0)) AS pc
        FROM fracs, tw
    )
    SELECT bin,
           round(pb, 6) AS p_baseline,
           round(pc, 6) AS p_current,
           round((pc - pb) * ln(pc / pb), 6) + 0.0 AS psi_contribution
    FROM contrib
    ORDER BY bin
    """,
    "population stability index (PSI) — the standard drift metric "
    "between a baseline and a current snapshot: fixed-width price "
    "bins, smoothed bin fractions ((n+0.5)/(N+5) Laplace smoothing so "
    "empty bins stay finite), per-bin (p_c - p_b)*ln(p_c/p_b) "
    "contributions. PSI > 0.2 on any feature gates a retrain/"
    "re-ingest. Two partial-aggregable passes over one scan (period "
    "tag is a map-side CASE); the bin matrix is tiny thereafter",
)
def price_distribution_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    period = F.when(
        F.year(F.col("o_orderdate").cast("date")) <= 1997, "baseline"
    ).otherwise("current")
    bin_ = F.least(F.floor(F.col("o_totalprice") / 50000).cast("int"), F.lit(9))
    # counts feeds BOTH the totals rollup and the fraction join — the
    # barrier materializes the tiny (period x bin) matrix once so the
    # orders scan runs once, not per consumer
    counts = (
        o.select(period.alias("period"), bin_.alias("bin"))
        .groupBy("period", "bin")
        .agg(F.count("*").alias("n"))
        .transform(barrier)
    )
    totals = counts.groupBy("period").agg(F.sum("n").alias("tot"))
    fr = (F.col("n") + 0.5) / (F.col("tot") + 5.0)
    fracs = (
        counts.join(totals, "period")
        .groupBy("bin")
        .agg(
            F.max(F.when(F.col("period") == "baseline", fr)).alias("p_base"),
            F.max(F.when(F.col("period") == "current", fr)).alias("p_curr"),
        )
    )
    # an absent bin gets the true Laplace floor 0.5/(N_period+5), not a
    # population-blind constant — the 1-row period-totals matrix
    # broadcasts onto the bin rows
    totals_wide = totals.agg(
        F.max(F.when(F.col("period") == "baseline", F.col("tot"))).alias("tot_base"),
        F.max(F.when(F.col("period") == "current", F.col("tot"))).alias("tot_curr"),
    )
    fracs = fracs.crossJoin(F.broadcast(totals_wide))
    pb = F.coalesce(F.col("p_base"), 0.5 / (F.col("tot_base") + 5.0))
    pc = F.coalesce(F.col("p_curr"), 0.5 / (F.col("tot_curr") + 5.0))
    return (
        fracs.select(
            "bin",
            F.round(pb, 6).alias("p_baseline"),
            F.round(pc, 6).alias("p_current"),
            (F.round((pc - pb) * F.log(pc / pb), 6) + F.lit(0.0)).alias(
                "psi_contribution"
            ),
        )
        .orderBy("bin")
    )


@_register(
    "customer_revenue_gini",
    """
    WITH rev AS (
        SELECT o_custkey, sum(o_totalprice) AS r FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS i FROM rev
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(r), 4) AS total_revenue,
           round(2.0 * sum(i * r) / (count(*) * sum(r))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM ranked
    """,
    "revenue concentration as a Gini coefficient: per-customer revenue "
    "rollup, rank-weighted Lorenz sum 2*sum(i*x)/(n*sum(x)) - (n+1)/n "
    "with a unique (revenue, custkey) rank order for determinism. The "
    "single-number inequality audit behind 'top 1% of customers drive "
    "X%' — one entity rollup + one rank window over the rollup + one "
    "grand aggregate; the fact is scanned once. At 100 TB swap the "
    "exact rank for an equi-depth histogram approximation of the "
    "Lorenz curve",
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("r"))
    ranked = rev.select(
        "r", F.row_number().over(Window.orderBy("r", "o_custkey")).alias("i")
    )
    n = F.count("*")
    gini = 2.0 * F.sum(F.col("i") * F.col("r")) / (n * F.sum("r")) - (n + 1.0) / n
    return ranked.agg(
        n.cast("bigint").alias("n_customers"),
        F.round(F.sum("r"), 4).alias("total_revenue"),
        F.round(gini, 6).alias("gini"),
    )


@_register(
    "lead_time_percentiles",
    """
    WITH lt AS (
        SELECT o.o_orderpriority,
               datediff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)) AS lead_days
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(quantile_cont(lead_days, 0.50), 4) AS p50_days,
           round(quantile_cont(lead_days, 0.90), 4) AS p90_days,
           round(quantile_cont(lead_days, 0.99), 4) AS p99_days,
           CAST(max(lead_days) AS INT) AS max_days
    FROM lt
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "operational-latency SLO profile: order-to-ship lead time in days "
    "per priority class with exact p50/p90/p99 tails (linear "
    "interpolation, matching DuckDB quantile_cont) — the "
    "fulfillment-latency twin of a service's latency dashboard, and "
    "the per-group percentile shape every SLO report needs. One "
    "fact-fact join + one grouped percentile pass; at 100 TB exact "
    "percentiles swap for percentile_approx (approx_percentile_check "
    "pins that error contract)",
)
def lead_time_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_orderdate").cast("date").alias("od")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    lt = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority", F.datediff("sd", "od").alias("lead_days")
    )
    return (
        lt.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.round(F.expr("percentile(lead_days, 0.50)"), 4).alias("p50_days"),
            F.round(F.expr("percentile(lead_days, 0.90)"), 4).alias("p90_days"),
            F.round(F.expr("percentile(lead_days, 0.99)"), 4).alias("p99_days"),
            F.max("lead_days").cast("int").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


@_register(
    "weighted_median_unit_price",
    """
    WITH pts AS (
        SELECT l_returnflag,
               round(l_extendedprice / l_quantity, 4) AS unit_price,
               l_quantity AS w
        FROM lineitem WHERE l_quantity > 0
    ),
    cum AS (
        SELECT l_returnflag, unit_price, w,
               sum(w) OVER (PARTITION BY l_returnflag
                            ORDER BY unit_price
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cw,
               sum(w) OVER (PARTITION BY l_returnflag) AS tw
        FROM pts
    )
    SELECT l_returnflag,
           round(min(unit_price), 4) AS weighted_median_price,
           round(max(tw), 4) AS total_weight
    FROM cum
    WHERE cw >= tw / 2
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "WEIGHTED median — the inventory-weighted price statistic plain "
    "percentile cannot express: each line's unit price carries its "
    "quantity as mass; the weighted median is the smallest price whose "
    "cumulative mass reaches half the group total. One partitioned "
    "sort-window builds the cumulative mass (ties collapse by "
    "accumulating equal prices together — deterministic without a "
    "unique tie-break because the FILTER-then-MIN form only reads the "
    "crossing point), then a min-aggregate. At 100 TB: same shape on "
    "pre-binned (price-bucket, mass) rollups — the window runs over "
    "buckets, not lines",
)
def weighted_median_unit_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    pts = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") / F.col("l_quantity"), 4).alias("unit_price"),
        F.col("l_quantity").alias("w"),
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("unit_price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("l_returnflag")
    cum = pts.withColumns(
        {"cw": F.sum("w").over(w_cum), "tw": F.sum("w").over(w_tot)}
    )
    return (
        cum.filter(F.col("cw") >= F.col("tw") / 2)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("unit_price"), 4).alias("weighted_median_price"),
            F.round(F.max("tw"), 4).alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


@_register(
    "bitmap_exact_distinct_users",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    "EXACT distinct counting from mergeable bitmap partials (Spark's "
    "bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg "
    "— the RoaringBitmap-style materialization ClickHouse/Delta use): "
    "ids bucket into fixed 32k-bit ranges, each (key, bucket) holds a "
    "bitmap partial, and the exact distinct count is the SUM of "
    "per-bucket bitmap cardinalities. Unlike HLL this path is exact — "
    "the hash check is value equality with count(DISTINCT), no error "
    "contract needed — and unlike count(DISTINCT) the partials are "
    "persistable/re-aggregable artifacts: at 100 TB the per-day "
    "(segment, bucket) bitmaps are stored once and any date-range "
    "exact distinct is a bitmap-OR + popcount away, never a re-scan "
    "of the fact. Both aggregation levels partial-aggregate map-side",
)
def bitmap_exact_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    partials = (
        ev.withColumn("bucket", F.expr("bitmap_bucket_number(user_id)"))
        .groupBy("event_type", "bucket")
        .agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm"),
            F.count("*").alias("n_ev"),
        )
    )
    return (
        partials.groupBy("event_type")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).alias("n_users"),
            F.sum("n_ev").alias("n_events"),
        )
        .orderBy("event_type")
    )


@_register(
    "k_anonymity_audit",
    """
    WITH cells AS (
        SELECT c_mktsegment, c_nationkey, count(*) AS cell_size
        FROM customer
        GROUP BY c_mktsegment, c_nationkey
    )
    SELECT c_mktsegment, c_nationkey, cell_size,
           cell_size < 5 AS violates_k5,
           cell_size < 20 AS small_cell
    FROM cells
    ORDER BY cell_size, c_mktsegment, c_nationkey
    LIMIT 10
    """,
    "k-anonymity audit over quasi-identifier cells — the privacy "
    "pre-flight for releasing or training on user-adjacent tables: "
    "group by the quasi-identifier tuple (segment x nation here), "
    "report the 10 SMALLEST cells with k=5 violation and small-cell "
    "(<20) flags — the bounded worst-offenders view stays non-empty "
    "at every scale (a pure <threshold filter goes vacuous once the "
    "data outgrows the cutoff), and the smallest cells are exactly "
    "what the privacy review reads first. One partial-aggregable "
    "rollup + TakeOrderedAndProject. The remediation (generalize "
    "or suppress small cells) composes with the masking ops in "
    "text_normalize_redact",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    cells = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("cell_size")
    )
    return (
        cells.select(
            "c_mktsegment",
            "c_nationkey",
            "cell_size",
            (F.col("cell_size") < 5).alias("violates_k5"),
            (F.col("cell_size") < 20).alias("small_cell"),
        )
        .orderBy("cell_size", "c_mktsegment", "c_nationkey")
        .limit(10)
    )


@_register(
    "ab_test_conversion_lift",
    """
    WITH assigned AS (
        SELECT DISTINCT user_id,
               CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 2))::UBIGINT
                         % 2 = 0
                    THEN 'A' ELSE 'B' END AS variant
        FROM events
    ),
    converted AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    per_variant AS (
        SELECT a.variant,
               count(*) AS n_users,
               CAST(count(c.user_id) AS BIGINT) AS n_converted,
               count(c.user_id) * 1.0 / count(*) AS rate
        FROM assigned a LEFT JOIN converted c USING (user_id)
        GROUP BY a.variant
    ),
    wide AS (
        SELECT max(CASE WHEN variant = 'A' THEN n_users END)     AS na,
               max(CASE WHEN variant = 'A' THEN n_converted END) AS ca,
               max(CASE WHEN variant = 'A' THEN rate END)        AS ra,
               max(CASE WHEN variant = 'B' THEN n_users END)     AS nb,
               max(CASE WHEN variant = 'B' THEN n_converted END) AS cb,
               max(CASE WHEN variant = 'B' THEN rate END)        AS rb
        FROM per_variant
    )
    SELECT p.variant, p.n_users, p.n_converted,
           round(p.rate, 4) AS conversion_rate,
           round(w.rb - w.ra, 4) + 0.0 AS lift_b_minus_a,
           round((w.rb - w.ra) /
                 nullif(sqrt(((w.ca + w.cb) * 1.0 / (w.na + w.nb))
                        * (1 - (w.ca + w.cb) * 1.0 / (w.na + w.nb))
                        * (1.0 / w.na + 1.0 / w.nb)), 0), 4) + 0.0 AS z_score
    FROM per_variant p, wide w
    ORDER BY p.variant
    """,
    "A/B conversion lift with a two-proportion pooled z-statistic: "
    "variant assignment is the deterministic md5 hash-split (how real "
    "experiment frameworks bucket users — reproducible across engines "
    "and runs), conversion = any purchase, and the pooled z-score is "
    "computed from the 2-row per-variant rollup. The experimentation "
    "primitive on top of the engine: one distinct pass for exposure, "
    "one for conversion (both partial-aggregable, co-keyed on "
    "user_id), then pure scalar math on a broadcast 1-row stats "
    "frame. |z| > 1.96 reads as significant at 95%",
)
def ab_test_conversion_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    variant = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 2), 16, 10)
        .cast("bigint")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    assigned = ev.select("user_id").distinct().withColumn("variant", variant)
    converted = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("is_conv", F.lit(1))
    )
    per_variant = (
        assigned.join(converted, "user_id", "left")
        .groupBy("variant")
        .agg(
            F.count("*").alias("n_users"),
            F.count("is_conv").alias("n_converted"),
            (F.count("is_conv") / F.count("*")).alias("rate"),
        )
    )
    wide = per_variant.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("variant") == "A", F.col("n_converted"))).alias("ca"),
        F.max(F.when(F.col("variant") == "A", F.col("rate"))).alias("ra"),
        F.max(F.when(F.col("variant") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("variant") == "B", F.col("n_converted"))).alias("cb"),
        F.max(F.when(F.col("variant") == "B", F.col("rate"))).alias("rb"),
    )
    pooled = (F.col("ca") + F.col("cb")) / (F.col("na") + F.col("nb"))
    se = F.sqrt(pooled * (1 - pooled) * (1 / F.col("na") + 1 / F.col("nb")))
    return (
        per_variant.crossJoin(F.broadcast(wide))
        .select(
            "variant",
            "n_users",
            "n_converted",
            F.round("rate", 4).alias("conversion_rate"),
            (F.round(F.col("rb") - F.col("ra"), 4) + F.lit(0.0)).alias("lift_b_minus_a"),
            (
                F.round((F.col("rb") - F.col("ra")) / F.nullif(se, F.lit(0)), 4)
                + F.lit(0.0)
            ).alias("z_score"),
        )
        .orderBy("variant")
    )


@_register(
    "measure_correlation_matrix",
    """
    WITH c AS (
        SELECT corr(l_quantity, l_extendedprice) AS c_qp,
               corr(l_quantity, l_discount)      AS c_qd,
               corr(l_quantity, l_tax)           AS c_qt,
               corr(l_extendedprice, l_discount) AS c_pd,
               corr(l_extendedprice, l_tax)      AS c_pt,
               corr(l_discount, l_tax)           AS c_dt
        FROM lineitem
    )
    SELECT t.var_a, t.var_b, round(t.v, 6) + 0.0 AS corr_r
    FROM c, LATERAL (VALUES
        ('l_discount', 'l_tax', c_dt),
        ('l_extendedprice', 'l_discount', c_pd),
        ('l_extendedprice', 'l_tax', c_pt),
        ('l_quantity', 'l_discount', c_qd),
        ('l_quantity', 'l_extendedprice', c_qp),
        ('l_quantity', 'l_tax', c_qt)
    ) AS t(var_a, var_b, v)
    ORDER BY var_a, var_b
    """,
    "pairwise Pearson correlation matrix over the lineitem measures in "
    "ONE aggregate pass (all six co-moments accumulate map-side and "
    "merge tree-wise — no per-pair scans, no shuffle beyond the final "
    "6-value reduce), unpivoted to tidy (var_a, var_b, corr) rows via "
    "stack. The feature-redundancy screen run before any model "
    "training; at 100 TB still exactly one scan regardless of how "
    "many pairs are requested",
)
def measure_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_quantity", "l_tax"),
        ("l_extendedprice", "l_discount"),
        ("l_extendedprice", "l_tax"),
        ("l_discount", "l_tax"),
    ]
    agg = li.agg(
        *[F.corr(a, b).alias(f"c_{i}") for i, (a, b) in enumerate(pairs)]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', c_{i}" for i, (a, b) in enumerate(pairs)
    )
    return (
        agg.select(
            F.expr(f"stack({len(pairs)}, {stack_args}) AS (var_a, var_b, v)")
        )
        .select(
            "var_a", "var_b", (F.round("v", 6) + F.lit(0.0)).alias("corr_r")
        )
        .orderBy("var_a", "var_b")
    )


@_register(
    "multi_regression_price",
    """
    WITH m AS (
        SELECT count(*) AS n,
               avg(l_quantity)              AS mx1,
               avg(l_discount)              AS mx2,
               avg(l_extendedprice)         AS my,
               avg(l_quantity * l_quantity) AS mx1x1,
               avg(l_discount * l_discount) AS mx2x2,
               avg(l_quantity * l_discount) AS mx1x2,
               avg(l_quantity * l_extendedprice) AS mx1y,
               avg(l_discount * l_extendedprice) AS mx2y
        FROM lineitem
    ),
    c AS (
        SELECT n,
               mx1x1 - mx1 * mx1 AS s11,
               mx2x2 - mx2 * mx2 AS s22,
               mx1x2 - mx1 * mx2 AS s12,
               mx1y  - mx1 * my  AS s1y,
               mx2y  - mx2 * my  AS s2y,
               mx1, mx2, my
        FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12), 6)
               AS beta_quantity,
           round((s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12), 6)
               AS beta_discount,
           round(my - (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) * mx1
                    - (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) * mx2,
                 4) AS intercept
    FROM c
    """,
    "two-regressor OLS by normal equations — extendedprice ~ quantity "
    "+ discount: every co-moment accumulates in ONE aggregate pass "
    "(map-side partials, tree merge) and the 2x2 system solves in "
    "closed form on the 1-row result; scan count is independent of "
    "regressor count until the moment matrix itself is the bottleneck "
    "(hundreds of features — then you shard the Gram matrix, the same "
    "k×dim-cell update shape as the k-means rollup). The multi-feature "
    "step past price_quantity_regression's single-var regr_* form",
)
def multi_regression_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x1, x2, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    m = li.agg(
        F.count("*").alias("n"),
        F.avg(x1).alias("mx1"),
        F.avg(x2).alias("mx2"),
        F.avg(y).alias("my"),
        F.avg(x1 * x1).alias("mx1x1"),
        F.avg(x2 * x2).alias("mx2x2"),
        F.avg(x1 * x2).alias("mx1x2"),
        F.avg(x1 * y).alias("mx1y"),
        F.avg(x2 * y).alias("mx2y"),
    )
    s11 = F.col("mx1x1") - F.col("mx1") * F.col("mx1")
    s22 = F.col("mx2x2") - F.col("mx2") * F.col("mx2")
    s12 = F.col("mx1x2") - F.col("mx1") * F.col("mx2")
    s1y = F.col("mx1y") - F.col("mx1") * F.col("my")
    s2y = F.col("mx2y") - F.col("mx2") * F.col("my")
    det = s11 * s22 - s12 * s12
    b1 = (s22 * s1y - s12 * s2y) / det
    b2 = (s11 * s2y - s12 * s1y) / det
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(b1, 6).alias("beta_quantity"),
        F.round(b2, 6).alias("beta_discount"),
        F.round(
            F.col("my") - b1 * F.col("mx1") - b2 * F.col("mx2"), 4
        ).alias("intercept"),
    )


@_register(
    "kmv_distinct_users",
    """
    WITH h AS (
        SELECT DISTINCT event_type,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT
                   AS hv
        FROM events
    ),
    rk AS (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r
        FROM h
    ),
    sk AS (SELECT event_type, hv, r FROM rk WHERE r <= 64),
    per AS (
        SELECT event_type,
               max(CASE WHEN r = 64 THEN hv END) AS kth,
               count(*) AS n_in_sketch
        FROM sk GROUP BY event_type
    ),
    ex AS (
        SELECT event_type, count(DISTINCT user_id) AS n_exact
        FROM events GROUP BY event_type
    ),
    merged AS (
        SELECT hv, row_number() OVER (ORDER BY hv) AS r
        FROM (SELECT DISTINCT hv FROM sk)
    ),
    g AS (
        SELECT max(CASE WHEN r = 64 THEN hv END) AS kth,
               count(*) AS n_in_sketch
        FROM merged WHERE r <= 64
    ),
    gex AS (SELECT count(DISTINCT user_id) AS n_exact FROM events),
    scored AS (
        SELECT p.event_type, e.n_exact,
               CASE WHEN p.kth IS NULL THEN CAST(p.n_in_sketch AS DOUBLE)
                    ELSE 63.0 * power(16.0, 15.0) / p.kth END AS est
        FROM per p JOIN ex e ON p.event_type = e.event_type
        UNION ALL
        SELECT '__all__', gex.n_exact,
               CASE WHEN g.kth IS NULL THEN CAST(g.n_in_sketch AS DOUBLE)
                    ELSE 63.0 * power(16.0, 15.0) / g.kth END
        FROM g, gex
    )
    SELECT event_type, CAST(n_exact AS BIGINT) AS n_exact,
           round(est, 4) AS kmv_estimate,
           abs(est - n_exact) <= 0.5 * n_exact AS kmv_ok
    FROM scored
    ORDER BY event_type
    """,
    "KMV (k-minimum-values) distinct sketch built from RELATIONAL "
    "PRIMITIVES — unlike HLL (engine-specific registers, only the "
    "error contract is checkable), a KMV sketch IS data: the k=64 "
    "smallest md5 fractions of the key per group, so both engines "
    "compute bit-identical sketches AND estimates ((k-1)/kth-min "
    "fraction), making the estimator itself hash-comparable. "
    "Mergeability is demonstrated structurally: the '__all__' row is "
    "estimated from the UNION of the per-type sketches (min-wise "
    "merge, k smallest of the pooled mins) — never re-touching the "
    "fact, exactly how persisted per-segment sketches answer global "
    "questions at 100 TB. Sub-k groups fall back to exact (sketch is "
    "the full hash set). Error bound ~1/sqrt(k-1): a 50% gate at "
    "k=64 (the tight contract is audited by approx_distinct_users)",
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    k = 64
    space = 16.0 ** 15
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    h = ev.select("event_type", hv.alias("hv")).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    sk = (
        h.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= k)
    ).transform(barrier)  # the persisted per-segment sketch artifact
    per = sk.groupBy("event_type").agg(
        F.max(F.when(F.col("r") == k, F.col("hv"))).alias("kth"),
        F.count("*").alias("n_in_sketch"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    est = F.when(
        F.col("kth").isNull(), F.col("n_in_sketch").cast("double")
    ).otherwise(F.lit(float(k - 1)) * F.lit(space) / F.col("kth"))
    scored = per.join(ex, "event_type").select(
        "event_type", "n_exact", est.alias("est")
    )
    merged = (
        sk.select("hv")
        .distinct()
        .withColumn("r", F.row_number().over(Window.orderBy("hv")))
        .filter(F.col("r") <= k)
    )
    g = merged.agg(
        F.max(F.when(F.col("r") == k, F.col("hv"))).alias("kth"),
        F.count("*").alias("n_in_sketch"),
    )
    gex = ev.select("user_id").agg(F.countDistinct("user_id").alias("n_exact"))
    g_row = g.crossJoin(F.broadcast(gex)).select(
        F.lit("__all__").alias("event_type"), "n_exact", est.alias("est")
    )
    return (
        scored.unionByName(g_row)
        .select(
            "event_type",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.round("est", 4).alias("kmv_estimate"),
            (F.abs(F.col("est") - F.col("n_exact")) <= 0.5 * F.col("n_exact")).alias(
                "kmv_ok"
            ),
        )
        .orderBy("event_type")
    )


@_register(
    "ks_price_drift",
    """
    WITH binned AS (
        SELECT least(CAST(floor(o_totalprice / 1000) AS INT), 999) AS bucket,
               CASE WHEN year(CAST(o_orderdate AS DATE)) <= 1997
                    THEN 1 ELSE 0 END AS is_base
        FROM orders
    ),
    counts AS (
        SELECT bucket,
               sum(is_base)     AS n_base,
               sum(1 - is_base) AS n_curr
        FROM binned GROUP BY bucket
    ),
    tot AS (
        SELECT sum(n_base) AS tot_base, sum(n_curr) AS tot_curr FROM counts
    ),
    cum AS (
        SELECT sum(c.n_base) OVER (ORDER BY c.bucket) * 1.0 / t.tot_base
                   AS f_base,
               sum(c.n_curr) OVER (ORDER BY c.bucket) * 1.0 / t.tot_curr
                   AS f_curr,
               t.tot_base, t.tot_curr
        FROM counts c, tot t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(tot_base) AS BIGINT) AS n_base,
           CAST(max(tot_curr) AS BIGINT) AS n_curr,
           round(max(abs(f_base - f_curr)), 6) AS ks_d,
           round(1.358 * sqrt((max(tot_base) + max(tot_curr)) * 1.0
                              / (max(tot_base) * max(tot_curr))), 6) AS ks_crit,
           max(abs(f_base - f_curr))
               > 1.358 * sqrt((max(tot_base) + max(tot_curr)) * 1.0
                              / (max(tot_base) * max(tot_curr))) AS drifted
    FROM cum
    """,
    "two-sample Kolmogorov-Smirnov drift test between the baseline "
    "(<=1997) and current order-price distributions: D = max ECDF gap "
    "over 1000-unit price buckets, compared against the alpha=0.05 "
    "critical value 1.358*sqrt((n+m)/nm) — the distribution-free "
    "companion to `price_distribution_psi` (PSI scores magnitude, KS "
    "gives a significance threshold). Scale shape: the fact collapses "
    "to bucket-sized counts BEFORE the only ordered window (same "
    "post-agg-window rule as `cusum_changepoint_days` / "
    "`seasonal_decomposition_daily`), totals ride in as one broadcast "
    "row; ECDF fractions are exact integer ratios, so D is "
    "engine-deterministic",
)
def ks_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    is_base = (
        F.when(F.year(F.col("o_orderdate").cast("date")) <= 1997, 1)
        .otherwise(0)
    )
    counts = (
        o.select(
            F.least(
                F.floor(F.col("o_totalprice") / 1000).cast("int"), F.lit(999)
            ).alias("bucket"),
            is_base.alias("is_base"),
        )
        .groupBy("bucket")
        .agg(
            F.sum("is_base").alias("n_base"),
            F.sum(1 - F.col("is_base")).alias("n_curr"),
        )
    )
    tot = counts.agg(
        F.sum("n_base").alias("tot_base"), F.sum("n_curr").alias("tot_curr")
    )
    # the ordered window runs on bucket-sized post-agg data (<=1000
    # rows), never the fact — the single partition is intentional
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.crossJoin(F.broadcast(tot)).select(
        (F.sum("n_base").over(w) * 1.0 / F.col("tot_base")).alias("f_base"),
        (F.sum("n_curr").over(w) * 1.0 / F.col("tot_curr")).alias("f_curr"),
        "tot_base",
        "tot_curr",
    )
    crit = 1.358 * F.sqrt(
        (F.max("tot_base") + F.max("tot_curr"))
        * 1.0
        / (F.max("tot_base") * F.max("tot_curr"))
    )
    return cum.agg(
        F.count("*").alias("n_buckets"),
        F.max("tot_base").cast("bigint").alias("n_base"),
        F.max("tot_curr").cast("bigint").alias("n_curr"),
        F.round(F.max(F.abs(F.col("f_base") - F.col("f_curr"))), 6).alias("ks_d"),
        F.round(crit, 6).alias("ks_crit"),
        (F.max(F.abs(F.col("f_base") - F.col("f_curr"))) > crit).alias("drifted"),
    )


@_register(
    "benford_first_digit",
    """
    WITH d AS (
        SELECT CAST(floor(o_totalprice
                          / power(10, floor(log10(o_totalprice)))) AS INT)
                   AS digit
        FROM orders WHERE o_totalprice > 0
    ),
    c AS (
        SELECT digit, count(*) AS n FROM d GROUP BY digit
    ),
    t AS (SELECT sum(n) AS tot FROM c)
    SELECT c.digit,
           CAST(c.n AS BIGINT) AS n,
           round(c.n * 1.0 / t.tot, 6) AS observed_frac,
           round(log10(1.0 + 1.0 / c.digit), 6) AS benford_frac,
           round(abs(c.n * 1.0 / t.tot - log10(1.0 + 1.0 / c.digit)), 6)
               AS abs_dev
    FROM c, t
    ORDER BY c.digit
    """,
    "Benford's-law first-significant-digit audit on order totals: "
    "observed digit fractions vs the log10(1+1/d) expectation — the "
    "classic anomaly/fabrication screen for financial measures (a "
    "synthetic uniform price generator fails it loudly, which is "
    "itself a data-provenance signal). Map-only digit extraction + a "
    "9-group aggregate with the total broadcast back; exact integer "
    "ratios keep both engines bit-identical",
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    c = (
        o.select(
            F.floor(
                F.col("o_totalprice")
                / F.pow(10.0, F.floor(F.log10("o_totalprice")))
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    t = c.agg(F.sum("n").alias("tot"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") * 1.0 / F.col("tot"), 6).alias("observed_frac"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_frac"),
            F.round(
                F.abs(
                    F.col("n") * 1.0 / F.col("tot")
                    - F.log10(1.0 + 1.0 / F.col("digit"))
                ),
                6,
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )


@_register(
    "chi2_event_type_weekday",
    """
    WITH cells AS (
        SELECT event_type, isodow(ts) - 1 AS dow, count(*) AS n
        FROM events GROUP BY event_type, isodow(ts) - 1
    ),
    rt AS (SELECT event_type, sum(n) AS row_tot FROM cells GROUP BY event_type),
    ct AS (SELECT dow, sum(n) AS col_tot FROM cells GROUP BY dow),
    g  AS (SELECT sum(n) AS grand,
                  count(DISTINCT event_type) AS n_types,
                  count(DISTINCT dow) AS n_dows
           FROM cells),
    x AS (
        SELECT sum(power(c.n - rt.row_tot * ct.col_tot * 1.0 / g.grand, 2)
                   / (rt.row_tot * ct.col_tot * 1.0 / g.grand)) AS chi2,
               max(g.grand) AS grand,
               max((g.n_types - 1) * (g.n_dows - 1)) AS dof,
               max(CASE WHEN g.n_types < g.n_dows
                        THEN g.n_types ELSE g.n_dows END) - 1 AS mindim
        FROM cells c
        JOIN rt USING (event_type) JOIN ct USING (dow), g
    )
    SELECT round(chi2, 4) AS chi2,
           CAST(dof AS INT) AS dof,
           CAST(grand AS BIGINT) AS n,
           round(sqrt(chi2 / (grand * mindim)), 6) AS cramers_v
    FROM x
    """,
    "chi-square independence test (event_type x weekday contingency) "
    "with Cramer's V effect size — the categorical drift/association "
    "screen next to KS (continuous) and PSI (binned). The fact "
    "collapses to a types-x-7 cell table first; margins and the grand "
    "total are cell-table rollups joined back onto cells (all "
    "broadcast-sized), so the test costs one shuffle on the cell key. "
    "Margins are exact integer sums; the chi2 sum over ~35 cells is "
    "rounded to 4dp, far above double summation-order noise",
)
def chi2_event_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select("event_type", F.weekday("ts").alias("dow"))
        .groupBy("event_type", "dow")
        .agg(F.count("*").alias("n"))
    )
    rt = cells.groupBy("event_type").agg(F.sum("n").alias("row_tot"))
    ct = cells.groupBy("dow").agg(F.sum("n").alias("col_tot"))
    g = cells.agg(
        F.sum("n").alias("grand"),
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct("dow").alias("n_dows"),
    )
    expected = F.col("row_tot") * F.col("col_tot") * 1.0 / F.col("grand")
    x = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(g))
        .agg(
            F.sum(F.pow(F.col("n") - expected, 2) / expected).alias("chi2"),
            F.max("grand").alias("grand"),
            F.max((F.col("n_types") - 1) * (F.col("n_dows") - 1)).alias("dof"),
            (F.max(F.least("n_types", "n_dows")) - 1).alias("mindim"),
        )
    )
    return x.select(
        F.round("chi2", 4).alias("chi2"),
        F.col("dof").cast("int").alias("dof"),
        F.col("grand").cast("bigint").alias("n"),
        F.round(F.sqrt(F.col("chi2") / (F.col("grand") * F.col("mindim"))), 6)
            .alias("cramers_v"),
    )


@_register(
    "mann_whitney_price_drift",
    """
    WITH binned AS (
        SELECT least(CAST(floor(o_totalprice / 1000) AS INT), 999) AS bucket,
               CASE WHEN year(CAST(o_orderdate AS DATE)) <= 1997
                    THEN 1 ELSE 0 END AS is_base
        FROM orders
    ),
    counts AS (
        SELECT bucket,
               sum(is_base)            AS n_base,
               sum(1 - is_base)        AS n_curr,
               count(*)                AS n_all
        FROM binned GROUP BY bucket
    ),
    ranked AS (
        SELECT bucket, n_base, n_curr, n_all,
               coalesce(sum(n_all) OVER (
                   ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + (n_all + 1) / 2.0 AS midrank
        FROM counts
    ),
    agg AS (
        SELECT sum(n_base)                    AS n1,
               sum(n_curr)                    AS n2,
               sum(n_base + n_curr)           AS n,
               sum(n_base * midrank)          AS r1,
               sum(n_all * n_all * n_all - n_all) AS tie_term
        FROM ranked
    )
    SELECT CAST(n1 AS BIGINT) AS n_base,
           CAST(n2 AS BIGINT) AS n_curr,
           round(r1 - n1 * (n1 + 1) / 2.0, 1) AS u_stat,
           round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                 / sqrt(n1 * n2 / 12.0
                        * ((n + 1) - tie_term * 1.0 / (n * (n - 1)))), 4)
               + 0.0 AS z_score,
           abs((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
               / sqrt(n1 * n2 / 12.0
                      * ((n + 1) - tie_term * 1.0 / (n * (n - 1))))) > 1.96
               AS shifted
    FROM agg
    """,
    "Mann-Whitney U rank-sum test between baseline (<=1997) and "
    "current order prices — the nonparametric LOCATION-shift "
    "companion to `ks_price_drift` (shape) and "
    "`price_distribution_psi` (magnitude): tie-corrected normal "
    "approximation, |z| > 1.96 flags a median shift no mean-based "
    "t-test assumption is needed for. Distributed trick: exact "
    "per-observation ranks are never materialized — observations "
    "collapse to price buckets and each bucket contributes its "
    "MIDRANK (cum-before + (n+1)/2) times its group count, which is "
    "algebraically the exact tied-rank sum. One fact pass to bucket "
    "counts, one ordered window over <=1000 bucket rows, one scalar "
    "row out; all sums are integer/half-integer-valued doubles, so "
    "both engines agree bit-for-bit before the final rounded division",
)
def mann_whitney_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    is_base = (
        F.when(F.year(F.col("o_orderdate").cast("date")) <= 1997, 1)
        .otherwise(0)
    )
    counts = (
        o.select(
            F.least(
                F.floor(F.col("o_totalprice") / 1000).cast("int"), F.lit(999)
            ).alias("bucket"),
            is_base.alias("is_base"),
        )
        .groupBy("bucket")
        .agg(
            F.sum("is_base").alias("n_base"),
            F.sum(1 - F.col("is_base")).alias("n_curr"),
            F.count("*").alias("n_all"),
        )
    )
    # midranks over the bucket-sized rollup (documented post-agg window)
    w_prev = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = counts.withColumn(
        "midrank",
        F.coalesce(F.sum("n_all").over(w_prev), F.lit(0))
        + (F.col("n_all") + 1) / 2.0,
    )
    agg = ranked.agg(
        F.sum("n_base").alias("n1"),
        F.sum("n_curr").alias("n2"),
        F.sum(F.col("n_base") + F.col("n_curr")).alias("n"),
        F.sum(F.col("n_base") * F.col("midrank")).alias("r1"),
        F.sum(
            F.col("n_all") * F.col("n_all") * F.col("n_all") - F.col("n_all")
        ).alias("tie_term"),
    )
    u = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    sigma = F.sqrt(
        F.col("n1")
        * F.col("n2")
        / 12.0
        * (
            (F.col("n") + 1)
            - F.col("tie_term") * 1.0 / (F.col("n") * (F.col("n") - 1))
        )
    )
    z = (u - F.col("n1") * F.col("n2") / 2.0) / sigma
    return agg.select(
        F.col("n1").cast("bigint").alias("n_base"),
        F.col("n2").cast("bigint").alias("n_curr"),
        F.round(u, 1).alias("u_stat"),
        (F.round(z, 4) + 0.0).alias("z_score"),
        (F.abs(z) > 1.96).alias("shifted"),
    )


@_register(
    "rolling_7day_distinct_users",
    """
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    days AS (
        SELECT d, CAST(d - DATE '1970-01-01' AS BIGINT) AS r
        FROM (SELECT DISTINCT d FROM du)
    ),
    expl AS (
        SELECT du.user_id, unnest(generate_series(days.r, days.r + 6)) AS ri
        FROM du JOIN days USING (d)
    ),
    exact AS (
        SELECT d2.d, count(DISTINCT e.user_id) AS n_users_exact
        FROM expl e JOIN days d2 ON e.ri = d2.r
        GROUP BY d2.d
    )
    SELECT d, n_users_exact, TRUE AS hll_7day_ok
    FROM exact ORDER BY d
    """,
    "rolling 7-day distinct users via MERGEABLE HLL sketches "
    "(Spark-4 datasketches: one hll_sketch_agg per day, then "
    "hll_union_agg over the 7-row window — the sketch union is the "
    "whole point: day sketches are built ONCE and re-unioned per "
    "window position, where exact distinct would rescan every "
    "7-day span of the fact). Sketch estimates are engine-specific, "
    "so the hash-checked contract is the <=5% error bound against the "
    "exact count (the `approx_distinct_users` convention); windows are "
    "7 CALENDAR days (rangeBetween over the days-since-epoch ordinal), "
    "so a zero-event day still advances the window instead of silently "
    "stretching it; the exact twin avoids a non-equi range join by "
    "exploding each (day, user) into its <=7 covered day ordinals — "
    "bounded fan-out + hash agg, no BNLJ. The day-grain windows run on "
    "the days-sized rollup. At 100 TB the sketch path ships kilobyte "
    "day-sketches; the exact side is the audit you sample, not the "
    "production plan",
)
def rolling_7day_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    # calendar-day ordinal (days since epoch): a day with zero events still
    # advances the window, so the '7-day' span is 7 CALENDAR days even
    # across gaps — rangeBetween over the ordinal, not rowsBetween over
    # observed rows
    days = du.select("d").distinct().withColumn(
        "r", F.unix_date("d").cast("bigint")
    )
    expl = du.join(F.broadcast(days), "d").select(
        "user_id", F.explode(F.sequence(F.col("r"), F.col("r") + 6)).alias("ri")
    )
    exact = (
        expl.join(
            F.broadcast(days.select(F.col("d").alias("d_i"), F.col("r").alias("ri"))),
            "ri",
        )
        .groupBy("d_i")
        .agg(F.countDistinct("user_id").alias("n_users_exact"))
    )
    daily_sk = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id", 14).alias("sk")
    )
    w7 = Window.orderBy(F.unix_date("d").cast("bigint")).rangeBetween(-6, 0)
    est = daily_sk.select(
        "d", F.hll_sketch_estimate(F.hll_union_agg("sk").over(w7)).alias("est")
    )
    return (
        est.join(exact, est["d"] == exact["d_i"])
        .select(
            "d",
            "n_users_exact",
            (
                F.abs(F.col("est") - F.col("n_users_exact"))
                <= 0.05 * F.col("n_users_exact")
            ).alias("hll_7day_ok"),
        )
        .orderBy("d")
    )


_BOOT_B = 20  # bootstrap replicates (one-pass Poisson bootstrap)


def _boot_u_sql(b: int) -> str:
    """Deterministic uniform in [0,1) for (order, replicate): md5-derived,
    bit-identical in Spark and DuckDB (the minhash hash convention).
    Each digest yields FOUR independent 32-bit uniforms (8-hex slices),
    so 20 replicates cost 5 md5s per row instead of 20 — the hashing is
    the whole scan cost of the one-pass bootstrap."""
    off = 1 + 8 * (b % 4)
    return (
        f"CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|{b // 4}'), "
        f"{off}, 8)) AS BIGINT) / 4294967296.0"
    )


def _boot_w_sql(b: int) -> str:
    """Poisson(1)-approximating weight from the uniform draw (pmf
    cumulative cuts .3679/.7358/.9197/.9810, tail mass on 4)."""
    u = _boot_u_sql(b)
    return (
        f"CASE WHEN {u} < 0.3679 THEN 0 WHEN {u} < 0.7358 THEN 1 "
        f"WHEN {u} < 0.9197 THEN 2 WHEN {u} < 0.9810 THEN 3 ELSE 4 END"
    )


@_register(
    "bootstrap_mean_ci",
    f"""
    WITH a AS (
        SELECT count(*) AS n, avg(o_totalprice) AS grand_mean,
           {", ".join(f"sum(({_boot_w_sql(b)}) * o_totalprice) AS wx{b}, sum({_boot_w_sql(b)}) AS w{b}" for b in range(_BOOT_B))}
        FROM orders
    ),
    m AS (
        SELECT n, grand_mean,
               list_sort([{", ".join(f"round(wx{b} / w{b}, 4)" for b in range(_BOOT_B))}]) AS means
        FROM a
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           round(grand_mean, 4) AS grand_mean,
           means[2] + 0.0 AS boot_ci_lo,
           means[{_BOOT_B - 1}] + 0.0 AS boot_ci_hi
    FROM m
    """,
    "one-pass Poisson bootstrap 90% CI for the mean order price: each "
    "of 20 replicates weights every row by a deterministic "
    "md5-derived Poisson(1)-approximating count, so ALL replicate "
    "sums accumulate in a SINGLE scan/aggregate (the resample-free "
    "bootstrap used on datasets too large to resample; Chamandy et "
    "al., 'Estimating Uncertainty for Massive Data Streams') — no "
    "per-replicate pass, no data copy, and the percentile CI falls "
    "out of sorting the 20-element replicate-mean array driver-side-"
    "free. Deterministic hash weights make the CI itself "
    "hash-comparable across engines; replicate means round to 4dp "
    "before the sort so summation order cannot reorder ties",
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def u(b: int):
        # four 32-bit uniforms per digest (8-hex slices): 20 replicates
        # cost 5 md5s/row, not 20 — in lockstep with _boot_u_sql
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("o_orderkey").cast("string"), F.lit(f"|{b // 4}")
                        )
                    ),
                    1 + 8 * (b % 4),
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            / F.lit(4294967296.0)
        )

    def w(b: int):
        ub = u(b)
        return (
            F.when(ub < 0.3679, 0)
            .when(ub < 0.7358, 1)
            .when(ub < 0.9197, 2)
            .when(ub < 0.9810, 3)
            .otherwise(4)
        )

    # weights project BEFORE the aggregate: inside agg expressions the
    # hash subtree is re-evaluated once per aggregate function (no CSE
    # across the 40 sums — measured), while a Project computes each
    # replicate weight once per row
    proj = o.select(
        "o_totalprice", *[w(b).alias(f"__w{b}") for b in range(_BOOT_B)]
    )
    aggs = [F.count("*").alias("n"), F.avg("o_totalprice").alias("grand_mean")]
    for b in range(_BOOT_B):
        aggs.append(
            F.sum(F.col(f"__w{b}") * F.col("o_totalprice")).alias(f"wx{b}")
        )
        aggs.append(F.sum(f"__w{b}").alias(f"w{b}"))
    a = proj.agg(*aggs)
    means = F.array_sort(
        F.array(
            *[
                F.round(F.col(f"wx{b}") / F.col(f"w{b}"), 4)
                for b in range(_BOOT_B)
            ]
        )
    )
    return a.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.round("grand_mean", 4).alias("grand_mean"),
        (F.element_at(means, 2) + 0.0).alias("boot_ci_lo"),
        (F.element_at(means, _BOOT_B - 1) + 0.0).alias("boot_ci_hi"),
    )


@_register(
    "revenue_theil_decomposition",
    """
    WITH cr AS (
        SELECT o.o_custkey, c.c_nationkey, sum(o.o_totalprice) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey, c.c_nationkey
    ),
    g AS (
        SELECT n.n_name AS nation,
               count(*) AS n_g,
               sum(cr.x) AS x_g,
               sum(cr.x * ln(cr.x)) AS xlx_g
        FROM cr JOIN nation n ON cr.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ),
    tot AS (SELECT sum(n_g) AS n, sum(x_g) AS x FROM g)
    SELECT nation,
           CAST(n_g AS BIGINT) AS n_customers,
           round(x_g / tot.x, 6) + 0.0 AS revenue_share,
           round((x_g / tot.x) * (xlx_g / x_g - ln(x_g / n_g)), 6) + 0.0
               AS theil_within,
           round((x_g / tot.x) * ln((x_g / n_g) / (tot.x / tot.n)), 6) + 0.0
               AS theil_between
    FROM g, tot
    ORDER BY nation
    """,
    "Theil-T inequality decomposition of customer revenue by nation — "
    "the grouped analysis Gini cannot do: total inequality splits "
    "EXACTLY into within-nation spread (share-weighted per-nation "
    "Theil) plus between-nation mean gaps, so you can tell whether "
    "revenue concentration lives inside markets or across them. "
    "Computed entirely from per-nation moment sums (n, sum x, "
    "sum x*ln x): T_g = (sum x ln x)/X_g - ln(mu_g) needs NO second "
    "pass over customers — one custkey rollup, one broadcast-dim "
    "nation rollup, grand totals as a 1-row scalar; rounded at "
    "output, far above the summation-order noise floor",
)
def revenue_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cr = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("o_custkey", "c_nationkey")
        .agg(F.sum("o_totalprice").alias("x"))
    )
    g = (
        cr.join(F.broadcast(n), cr["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_g"),
            F.sum("x").alias("x_g"),
            F.sum(F.col("x") * F.log("x")).alias("xlx_g"),
        )
    )
    tot = g.agg(F.sum("n_g").alias("n"), F.sum("x_g").alias("x"))
    share = F.col("x_g") / F.col("x")
    mu_g = F.col("x_g") / F.col("n_g")
    mu = F.col("x") / F.col("n")
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "nation",
            F.col("n_g").cast("bigint").alias("n_customers"),
            (F.round(share, 6) + 0.0).alias("revenue_share"),
            (
                F.round(share * (F.col("xlx_g") / F.col("x_g") - F.log(mu_g)), 6)
                + 0.0
            ).alias("theil_within"),
            (F.round(share * F.log(mu_g / mu), 6) + 0.0).alias("theil_between"),
        )
        .orderBy("nation")
    )


@_register(
    "runs_test_randomness",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS v
        FROM orders GROUP BY d
    ),
    med AS (SELECT median(v) AS m FROM daily),
    signed AS (
        SELECT d, CAST(v > med.m AS INT) AS s
        FROM daily CROSS JOIN med
    ),
    runs AS (
        SELECT s,
               CASE WHEN s = lag(s) OVER (ORDER BY d) THEN 0 ELSE 1 END
                   AS brk
        FROM signed
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(s) AS BIGINT) AS n_above,
               CAST(count(*) - sum(s) AS BIGINT) AS n_below,
               CAST(sum(brk) AS BIGINT) AS n_runs
        FROM runs
    )
    SELECT n_days, n_above, n_below, n_runs,
           round(2.0 * n_above * n_below / (n_above + n_below) + 1, 4)
               AS expected_runs,
           round((n_runs - (2.0 * n_above * n_below / (n_above + n_below)
                            + 1))
                 / sqrt((2.0 * n_above * n_below
                         * (2.0 * n_above * n_below - n_above - n_below))
                        / ((n_above + n_below) * (n_above + n_below)
                           * (n_above + n_below - 1.0))), 4) + 0.0
               AS z_score
    FROM agg
    """,
    "WALD-WOLFOWITZ RUNS TEST on the daily-revenue series: is the "
    "above/below-median sign sequence consistent with independence, "
    "or does it carry trend/cycle structure (too few runs) or "
    "oscillation (too many)? The distribution-free independence "
    "check that belongs beside the KS/Mann-Whitney/chi-square drift "
    "family — run counts via one lag window, then the closed-form "
    "normal approximation z = (R - mu)/sigma from EXACT integer "
    "counts (every term is a ratio of integers, so both engines "
    "compute bit-identical doubles before the final rounding). "
    "Scale: the fact collapses to the days-sized rollup before the "
    "only ordered window; the median is a 1-row scalar broadcast",
)
def runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    med = daily.agg(F.median("v").alias("m"))
    signed = daily.crossJoin(F.broadcast(med)).select(
        "d", (F.col("v") > F.col("m")).cast("int").alias("s")
    )
    w = Window.orderBy("d")
    runs = signed.select(
        "s",
        F.when(F.col("s") == F.lag("s").over(w), 0).otherwise(1).alias("brk"),
    )
    agg = runs.agg(
        F.count("*").alias("n_days"),
        F.sum("s").alias("n_above"),
        (F.count("*") - F.sum("s")).alias("n_below"),
        F.sum("brk").alias("n_runs"),
    )
    na, nb, r = F.col("n_above"), F.col("n_below"), F.col("n_runs")
    mu = 2.0 * na * nb / (na + nb) + 1
    var = (2.0 * na * nb * (2.0 * na * nb - na - nb)) / (
        (na + nb) * (na + nb) * (na + nb - 1.0)
    )
    return agg.select(
        "n_days",
        "n_above",
        "n_below",
        "n_runs",
        F.round(mu, 4).alias("expected_runs"),
        (F.round((r - mu) / F.sqrt(var), 4) + F.lit(0.0)).alias("z_score"),
    )


@_register(
    "capture_recapture_estimate",
    """
    WITH s1 AS (
        SELECT l_partkey FROM lineitem
        WHERE ('0x' || substr(md5(l_orderkey::VARCHAR), 1, 4))::UBIGINT
              % 5 = 0
        GROUP BY l_partkey
    ),
    s2 AS (
        SELECT l_partkey FROM lineitem
        WHERE ('0x' || substr(md5(l_orderkey::VARCHAR), 1, 4))::UBIGINT
              % 5 = 1
        GROUP BY l_partkey
    ),
    m AS (
        SELECT (SELECT count(*) FROM s1) AS n1,
               (SELECT count(*) FROM s2) AS n2,
               (SELECT count(*) FROM s1 JOIN s2 USING (l_partkey)) AS overlap
    ),
    truth AS (SELECT count(DISTINCT l_partkey) AS true_distinct FROM lineitem)
    SELECT m.n1 AS sample1_distinct, m.n2 AS sample2_distinct,
           m.overlap,
           CAST(round(((m.n1 + 1.0) * (m.n2 + 1.0) / (m.overlap + 1.0)) - 1)
                AS BIGINT) AS chapman_estimate,
           truth.true_distinct,
           round(abs(((m.n1 + 1.0) * (m.n2 + 1.0) / (m.overlap + 1.0)) - 1
                     - truth.true_distinct) * 1.0 / truth.true_distinct, 4)
               AS rel_error
    FROM m CROSS JOIN truth
    """,
    "CAPTURE-RECAPTURE population estimation (Chapman's "
    "bias-corrected Lincoln-Petersen): two independent deterministic "
    "20%%-of-orders samples each 'capture' a set of part keys; the "
    "overlap rate estimates the TOTAL distinct population — "
    "N ~ (n1+1)(n2+1)/(m+1) - 1 — the ecology estimator data teams "
    "reuse to ask 'how many distinct entities exist that we have NOT "
    "yet crawled/joined' from cheap samples, audited here against "
    "the exact distinct count. All inputs are exact integers (two "
    "sampled key rollups + one key-grain overlap join), so the "
    "estimate is bit-identical across engines; samples are md5-hash "
    "deterministic. Scale: the samples prune at the scan, the "
    "overlap join runs at key grain — the audit never needs the "
    "full-corpus distinct except as the truth column (which a real "
    "deployment drops)",
)
def capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("l_orderkey").cast("string").cast("binary")), 1, 4),
            16,
            10,
        ).cast("long")
        % 5
    )
    s1 = li.filter(bucket == 0).select("l_partkey").distinct()
    s2 = li.filter(bucket == 1).select("l_partkey").distinct()
    n1 = s1.agg(F.count("*").alias("n1"))
    n2 = s2.agg(F.count("*").alias("n2"))
    overlap = s1.join(s2, "l_partkey").agg(F.count("*").alias("overlap"))
    truth = li.agg(F.countDistinct("l_partkey").alias("true_distinct"))
    est = (F.col("n1") + 1.0) * (F.col("n2") + 1.0) / (F.col("overlap") + 1.0) - 1
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(overlap))
        .crossJoin(F.broadcast(truth))
        .select(
            F.col("n1").alias("sample1_distinct"),
            F.col("n2").alias("sample2_distinct"),
            "overlap",
            F.round(est).cast("long").alias("chapman_estimate"),
            "true_distinct",
            F.round(
                F.abs(est - F.col("true_distinct")) * 1.0 / F.col("true_distinct"),
                4,
            ).alias("rel_error"),
        )
    )


@_register(
    "event_count_overdispersion",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
        FROM events GROUP BY event_type, d
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           round(avg(c), 4) AS mean_daily,
           round(var_samp(c), 4) AS var_daily,
           round(var_samp(c) / avg(c), 4) + 0.0 AS dispersion_index,
           var_samp(c) / avg(c) > 1.5 AS overdispersed
    FROM daily
    GROUP BY event_type
    ORDER BY event_type
    """,
    "OVERDISPERSION DIAGNOSTIC per event type: the variance-to-mean "
    "ratio of daily counts (dispersion index; 1 under Poisson) — the "
    "check that decides whether count models/alerting thresholds can "
    "assume Poisson noise or need negative-binomial headroom (bursty "
    "types false-alarm constantly under Poisson limits). Two "
    "partial-aggregable rollups: fact to (type, day), then a "
    "types-sized moment aggregate; var_samp is computed from "
    "streaming central moments in both engines and rounded. "
    "Complements user_event_burstiness (per-user gap CV) at the "
    "SERIES level",
)
def event_count_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("d")).agg(
        F.count("*").alias("c")
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.round(F.avg("c"), 4).alias("mean_daily"),
            F.round(F.var_samp("c"), 4).alias("var_daily"),
            (F.round(F.var_samp("c") / F.avg("c"), 4) + F.lit(0.0)).alias(
                "dispersion_index"
            ),
            (F.var_samp("c") / F.avg("c") > 1.5).alias("overdispersed"),
        )
        .orderBy("event_type")
    )


@_register(
    "lorenz_curve_deciles",
    """
    WITH per_cust AS (
        SELECT o_custkey, sum(o_totalprice) AS rev
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT rev,
               ntile(10) OVER (ORDER BY rev, o_custkey) AS decile
        FROM per_cust
    ),
    tot AS (SELECT sum(rev) AS t, count(*) AS n FROM per_cust),
    per_decile AS (
        SELECT decile, count(*) AS n_customers, sum(rev) AS decile_rev
        FROM ranked GROUP BY decile
    )
    SELECT CAST(p.decile AS INT) AS decile,
           CAST(p.n_customers AS BIGINT) AS n_customers,
           round(p.decile_rev, 4) AS decile_revenue,
           round(p.decile_rev / tot.t, 4) AS revenue_share,
           round(sum(p.decile_rev) OVER (ORDER BY p.decile
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) / tot.t, 4)
               AS cum_revenue_share
    FROM per_decile p CROSS JOIN tot
    ORDER BY decile
    """,
    "LORENZ CURVE by customer decile — the distribution curve BEHIND "
    "customer_revenue_gini's single coefficient: customers ranked "
    "into revenue deciles (deterministic ntile with key tie-break), "
    "each decile's revenue share and the cumulative share (the "
    "Lorenz ordinates; the diagonal gap IS the Gini). The "
    "whale-analysis view every revenue-concentration or data-source-"
    "concentration review draws. Scale: the fact collapses to the "
    "customer rollup first; the ntile and cumulative windows run "
    "over entity-rollup and 10-row inputs respectively (the "
    "documented post-aggregate global-series shape)",
)
def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev"))
    ranked = per_cust.select(
        "rev", F.ntile(10).over(Window.orderBy("rev", "o_custkey")).alias("decile")
    )
    tot = per_cust.agg(F.sum("rev").alias("t"), F.count("*").alias("n"))
    per_decile = ranked.groupBy("decile").agg(
        F.count("*").alias("n_customers"), F.sum("rev").alias("decile_rev")
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_decile.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_customers",
            F.round("decile_rev", 4).alias("decile_revenue"),
            F.round(F.col("decile_rev") / F.col("t"), 4).alias("revenue_share"),
            F.round(
                F.sum("decile_rev").over(w_cum) / F.col("t"), 4
            ).alias("cum_revenue_share"),
        )
        .orderBy("decile")
    )
