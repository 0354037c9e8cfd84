"""Event-stream / time-series analytics: funnels, cohorts, resampling,
smoothing, attribution, survival analysis.

Registered query family (35 entries); split from the
original monolithic plans/queries.py.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from covid19_etl_pipeline_spark.catalog import load_table
from covid19_etl_pipeline_spark.operators.partitioning import barrier, spread

from covid19_etl_pipeline_spark.plans._registry import _register

@_register(
    "anomaly_mad_events",
    """
    WITH med AS (
        SELECT user_id, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY user_id
    ),
    dev AS (
        SELECT e.user_id, e.event_id, e.value, m.med,
               abs(e.value - m.med) AS adev
        FROM events e JOIN med m USING (user_id)
    ),
    mad AS (
        SELECT user_id, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY user_id
    )
    SELECT d.event_id, d.user_id,
           round(d.value, 4) AS value,
           round((d.value - d.med) / (1.4826 * t.mad), 4) AS robust_z
    FROM dev d JOIN mad t USING (user_id)
    WHERE t.mad > 0 AND abs(d.value - d.med) > 3 * 1.4826 * t.mad
    ORDER BY d.event_id
    """,
    "robust per-entity anomaly detection: median absolute deviation "
    "(MAD) flags events >3 robust sigmas from the user's median — "
    "outlier-resistant where mean/stddev are not. Two percentile "
    "aggregations + broadcastable per-user stats joins, all built-in "
    "(no UDF; exact percentiles swap for percentile_approx at 100 TB)",
)
def anomaly_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # dev is consumed twice (the MAD aggregate and the final join);
    # without a barrier each consumer re-runs the per-user median
    # aggregation over the full fact. localCheckpoint materializes the
    # TINY per-user stats once (#users rows) — the duplicated part
    # left is a bare scan + broadcast join, which is the cheap half.
    med = (
        ev.groupBy("user_id")
        .agg(F.expr("percentile(value, 0.5)").alias("med"))
        .transform(barrier)
    )
    dev = ev.join(F.broadcast(med), "user_id").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("user_id").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "user_id")
        .filter((F.col("mad") > 0) & (F.col("adev") > 3 * 1.4826 * F.col("mad")))
        .select(
            "event_id",
            "user_id",
            F.round("value", 4).alias("value"),
            F.round(
                (F.col("value") - F.col("med")) / (1.4826 * F.col("mad")), 4
            ).alias("robust_z"),
        )
        .orderBy("event_id")
    )


@_register(
    "funnel_conversion",
    """
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END)   AS t_signup,
               min(CASE WHEN event_type = 'click' THEN ts END)    AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT count(*) FILTER (t_signup IS NOT NULL) AS n_signup,
           count(*) FILTER (t_click > t_signup)   AS n_click_after_signup,
           count(*) FILTER (t_purchase > t_click AND t_click > t_signup)
               AS n_full_funnel
    FROM firsts
    """,
    "funnel analysis: ordered signup -> click -> purchase conversion "
    "via conditional-min first-touch timestamps — ONE pass over events "
    "(conditional aggregation), one tiny per-user row set, no "
    "per-step self-joins (the naive N-step funnel is N-1 joins)",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )

    def count_if(cond):
        return F.coalesce(F.sum(cond.cast("long")), F.lit(0).cast("long"))

    return firsts.agg(
        count_if(F.col("t_signup").isNotNull()).alias("n_signup"),
        count_if(F.col("t_click") > F.col("t_signup")).alias("n_click_after_signup"),
        count_if(
            (F.col("t_purchase") > F.col("t_click"))
            & (F.col("t_click") > F.col("t_signup"))
        ).alias("n_full_funnel"),
    )


@_register(
    "cohort_retention",
    """
    WITH cohort AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY user_id
    )
    SELECT CAST(floor(datediff('day', DATE '2024-01-01', first_day) / 7) AS INT)
               AS cohort_week,
           CAST(floor(datediff('day', c.first_day, CAST(e.ts AS DATE)) / 7) AS INT)
               AS week_offset,
           count(DISTINCT e.user_id) AS active_users
    FROM events e JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "cohort retention: users bucketed by first-activity week, activity "
    "counted per week offset since their cohort start — first-touch "
    "agg + broadcastable cohort join + distinct-count rollup (the "
    "standard retention triangle; distinct goes approx at 100 TB)",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    return (
        ev.join(F.broadcast(cohort), "user_id")
        .select(
            F.floor(
                F.datediff("first_day", F.lit("2024-01-01")) / 7
            ).cast("int").alias("cohort_week"),
            F.floor(
                F.datediff(F.to_date("ts"), F.col("first_day")) / 7
            ).cast("int").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@_register(
    "interpolate_daily",
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d, sum(value) AS dv
        FROM events GROUP BY 1, 2
    ),
    nxt AS (
        SELECT user_id, d, dv,
               lead(d)  OVER (PARTITION BY user_id ORDER BY d) AS next_d,
               lead(dv) OVER (PARTITION BY user_id ORDER BY d) AS next_dv
        FROM daily
    ),
    expanded AS (
        SELECT user_id, d, dv, next_d, next_dv,
               CAST(unnest(generate_series(d, coalesce(next_d - INTERVAL 1 DAY, d),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM nxt
    )
    SELECT user_id, day AS event_date,
           round(CASE WHEN day = d THEN dv
                      ELSE dv + (next_dv - dv) * datediff('day', d, day)
                                / datediff('day', d, next_d) END, 4) AS value_interp,
           day = d AS observed
    FROM expanded
    ORDER BY user_id, event_date
    """,
    "resample with LINEAR interpolation: gap days get the straight-line "
    "value between the surrounding observations (vs gap_fill_daily's "
    "zero-fill) — same single-branch lead-window explode, two shuffles, "
    "identical IEEE interpolation formula both engines",
)
def interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.sum("value").alias("dv")
    )
    w = Window.partitionBy("user_id").orderBy("d")
    nxt = daily.withColumn("next_d", F.lead("d").over(w)).withColumn(
        "next_dv", F.lead("dv").over(w)
    )
    expanded = nxt.withColumn(
        "day",
        F.explode(F.sequence("d", F.coalesce(F.date_sub("next_d", 1), F.col("d")))),
    )
    interp = F.when(F.col("day") == F.col("d"), F.col("dv")).otherwise(
        F.col("dv")
        + (F.col("next_dv") - F.col("dv"))
        * F.datediff("day", "d")
        / F.datediff("next_d", "d")
    )
    return expanded.select(
        "user_id",
        F.col("day").alias("event_date"),
        F.round(interp, 4).alias("value_interp"),
        (F.col("day") == F.col("d")).alias("observed"),
    ).orderBy("user_id", "event_date")


@_register(
    "sliding_window_rollup",
    """
    WITH starts AS (
        SELECT time_bucket(INTERVAL 12 HOUR, ts) AS w_start, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL 12 HOUR, ts) - INTERVAL 12 HOUR, value
        FROM events
    )
    SELECT w_start, count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM starts GROUP BY w_start ORDER BY w_start
    """,
    "sliding (hopping) window: 1-day windows every 12 hours — each "
    "event lands in windowLength/slide = 2 windows (Spark's Expand "
    "node duplicates rows per window; the oracle states the same via "
    "UNION ALL of the two shifted bucket families). The overlap factor "
    "is the scale knob: cost = overlap x input",
)
def sliding_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day", "12 hours").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("w_start"), "n_events", "total_value")
        .orderBy("w_start")
    )


@_register(
    "locf_fill_daily",
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d, sum(value) AS dv
        FROM events GROUP BY 1, 2
    ),
    nxt AS (
        SELECT user_id, d, dv,
               lead(d) OVER (PARTITION BY user_id ORDER BY d) AS next_d
        FROM daily
    )
    SELECT user_id,
           CAST(unnest(generate_series(d, coalesce(next_d - INTERVAL 1 DAY, d),
                                       INTERVAL 1 DAY)) AS DATE) AS event_date,
           round(dv, 4) AS value_filled,
           CAST(unnest(generate_series(d, coalesce(next_d - INTERVAL 1 DAY, d),
                                       INTERVAL 1 DAY)) AS DATE) = d AS observed
    FROM nxt
    ORDER BY user_id, event_date
    """,
    "LOCF resample (last observation carried forward): gap days repeat "
    "the previous observed value — completing the fill-strategy family "
    "(zero-fill gap_fill_daily / linear interpolate_daily / LOCF). Same "
    "two-shuffle lead-window explode; LOCF is the right fill for "
    "state-like series (prices, counters) where zero/linear fabricate",
)
def locf_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.sum("value").alias("dv")
    )
    w = Window.partitionBy("user_id").orderBy("d")
    nxt = daily.withColumn("next_d", F.lead("d").over(w))
    return (
        nxt.withColumn(
            "event_date",
            F.explode(F.sequence("d", F.coalesce(F.date_sub("next_d", 1), F.col("d")))),
        )
        .select(
            "user_id",
            "event_date",
            F.round("dv", 4).alias("value_filled"),
            (F.col("event_date") == F.col("d")).alias("observed"),
        )
        .orderBy("user_id", "event_date")
    )


@_register(
    "winsorize_values",
    """
    WITH q AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS p05,
               quantile_cont(value, 0.95) AS p95
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           round(sum(least(greatest(e.value, q.p05), q.p95)), 4) AS winsorized_sum,
           round(sum(e.value), 4) AS raw_sum,
           CAST(count(*) FILTER (e.value < q.p05 OR e.value > q.p95) AS BIGINT)
               AS n_clamped
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    "per-group winsorization: clamp values to the [p05, p95] band "
    "before aggregating — the outlier-robust cleaning pass (exact "
    "percentiles here; percentile_approx at 100 TB). Broadcastable "
    "per-group bounds join + one aggregation",
)
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    outlier = (F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95"))
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.sum(clamped), 4).alias("winsorized_sum"),
            F.round(F.sum("value"), 4).alias("raw_sum"),
            F.coalesce(F.sum(outlier.cast("long")), F.lit(0).cast("long")).alias(
                "n_clamped"
            ),
        )
        .orderBy("event_type")
    )


@_register(
    "ewma_daily_value",
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d, sum(value) AS dv
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT user_id, d, dv,
               CAST(row_number() OVER w - 1 AS INT) AS t,
               first_value(dv) OVER w AS x0
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY d)
    ),
    acc AS (
        SELECT user_id, d, dv, t, x0,
               sum(CASE WHEN t > 0 THEN dv * pow(0.8, -t) ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        FROM idx
    )
    SELECT user_id, d AS event_date, round(dv, 4) AS daily_value,
           round(pow(0.8, t) * x0 + 0.2 * pow(0.8, t) * s, 4) AS ewma
    FROM acc ORDER BY user_id, event_date
    """,
    "per-entity EWMA (alpha=0.2) via applyInPandas — the sequential "
    "recurrence no Spark window expresses, Arrow-batched per group. "
    "The oracle uses the closed form (y_t = (1-a)^t x_0 + "
    "a * sum (1-a)^(t-i) x_i), valid at 4dp for bounded series — the "
    "ONE Pandas-path query on the surface, and it still carries a full "
    "value-level oracle",
)
def ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from covid19_etl_pipeline_spark.operators.windows import ewma_by_group

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("event_date")).agg(
        F.sum("value").alias("dv")
    )
    out = ewma_by_group(daily, "user_id", "event_date", "dv", alpha=0.2)
    # lazy barrier: the presentation sort's range partitioner SAMPLES
    # its child, which would re-execute the whole Arrow stage for the
    # boundary pass (measured 2x) — the checkpoint makes the sampling
    # read materialized blocks instead
    return (
        out.transform(barrier)
        .select(
            "user_id",
            "event_date",
            F.round("dv", 4).alias("daily_value"),
            F.round("ewma", 4).alias("ewma"),
        )
        .orderBy("user_id", "event_date")
    )


@_register(
    "autocorr_lag1_users",
    """
    WITH dd AS (
        SELECT user_id, CAST(ts AS DATE) AS d, sum(value) AS v
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    lg AS (
        SELECT user_id, v,
               lag(v) OVER (PARTITION BY user_id ORDER BY d) AS pv
        FROM dd
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(v, pv), 4) + 0.0 AS autocorr_lag1
    FROM lg
    WHERE pv IS NOT NULL
    GROUP BY user_id
    HAVING count(*) >= 10
    ORDER BY user_id
    """,
    "per-entity lag-1 autocorrelation of the daily value series — the "
    "seasonality/momentum diagnostic: daily rollup, lag window, then "
    "corr as partial-aggregable moments per user. The rollup and the "
    "window partition on the SAME key (user_id), so one exchange "
    "serves both; corr never leaves the JVM. Pair floor keeps the "
    "estimate meaningful (and sidesteps n<2 NULL-vs-NaN engine "
    "disagreement)",
)
def autocorr_lag1_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # repartition on user_id ALONE up front: HashPartitioning(user_id)
    # satisfies the (user_id, d) rollup's clustering requirement AND
    # the lag window's, so the whole chain runs on ONE exchange
    # (same single-exchange discipline as scd2_customer_tiers).
    ev = load_table(spark, sf_dir, "events").repartition("user_id")
    dd = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(F.sum("value").alias("v"))
    w = Window.partitionBy("user_id").orderBy("d")
    lg = dd.withColumn("pv", F.lag("v").over(w)).filter(F.col("pv").isNotNull())
    return (
        lg.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            (F.round(F.corr("v", "pv"), 4) + 0.0).alias("autocorr_lag1"),
        )
        .filter(F.col("n_pairs") >= 10)
        .orderBy("user_id")
    )


@_register(
    "rolling_median_value",
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               round(sum(value), 4) AS day_value
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT user_id, d,
           round(median(day_value) OVER (
               PARTITION BY user_id ORDER BY d
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) + 0.0
               AS rolling_median_7
    FROM daily ORDER BY user_id, d
    """,
    "7-row rolling median of per-user daily value — the robust "
    "(outlier-immune) twin of the 7-day moving average W1. Spark has "
    "no median window aggregate; the engine composes one JVM-side: "
    "sort_array(collect_list(v) over the frame) + element_at middle "
    "picks — whole-stage-codegen eligible, no UDF, and the frame is "
    "bounded (7 elements) so the per-row array never grows with data "
    "size. Shares the user_id exchange between the daily rollup and "
    "the window (subset rule). Day values round to 4dp BEFORE the "
    "median so both engines pick middles from identical inputs",
)
def rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(F.round(F.sum("value"), 4).alias("day_value"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.sort_array(F.collect_list("day_value").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    med = (lo + hi) / 2.0
    return daily.select(
        "user_id",
        "d",
        (F.round(med, 4) + 0.0).alias("rolling_median_7"),
    ).orderBy("user_id", "d")


@_register(
    "rfm_customer_segments",
    """
    WITH rfm AS (
        SELECT o_custkey,
               CAST(datediff('day', max(CAST(o_orderdate AS DATE)),
                             DATE '2001-09-01') AS INT)  AS recency_days,
               count(*)                                  AS frequency,
               round(sum(o_totalprice), 4)               AS monetary
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           CAST(ntile(4) OVER (ORDER BY recency_days, o_custkey) AS INT) AS r_quartile,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS INT) AS f_quartile,
           CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS INT) AS m_quartile
    FROM rfm
    ORDER BY o_custkey
    """,
    "RFM feature assembly + quartile scoring — the canonical customer-"
    "segmentation feature pipeline (recency from a pinned reference "
    "date for determinism, frequency, monetary) with ntile quartiles "
    "on unique tie-broken orderings (quartile 1 = best). One fact "
    "rollup shuffle; the three ntile windows run on the per-customer "
    "rollup (entity-sized, not fact-sized). At 100 TB swap exact ntile "
    "for percentile_approx threshold lookups to avoid the global sort "
    "of even the rollup",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2001-09-01").cast("date"), F.max(F.col("o_orderdate").cast("date"))
        ).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 4).alias("monetary"),
    )
    q = lambda order: F.ntile(4).over(Window.orderBy(*order)).cast("int")  # noqa: E731
    return rfm.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        q([F.col("recency_days"), F.col("o_custkey")]).alias("r_quartile"),
        q([F.col("frequency").desc(), F.col("o_custkey")]).alias("f_quartile"),
        q([F.col("monetary").desc(), F.col("o_custkey")]).alias("m_quartile"),
    ).orderBy("o_custkey")


@_register(
    "dow_seasonality_profile",
    """
    WITH daily AS (
        SELECT event_type,
               CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INT) AS dow,
               value
        FROM events WHERE value IS NOT NULL
    ),
    per_dow AS (
        SELECT event_type, dow, count(*) AS n_events, avg(value) AS avg_value
        FROM daily GROUP BY event_type, dow
    )
    SELECT event_type, dow, n_events,
           round(avg_value, 4) AS avg_value,
           round(avg_value / (sum(avg_value * n_events) OVER (PARTITION BY event_type)
                              / sum(n_events) OVER (PARTITION BY event_type)), 4)
               AS seasonal_index
    FROM per_dow
    ORDER BY event_type, dow
    """,
    "day-of-week seasonality profile per event type: mean value per "
    "(type, dow) and its ratio to the type's overall mean — the "
    "seasonal-index baseline that turns raw activity into "
    "calendar-adjusted anomaly inputs. The overall mean is recovered "
    "from the per-dow rollup itself (weighted window over 7 rows per "
    "type), so the fact is scanned ONCE and the windows run on 7xtypes "
    "rows. dow is Sunday=1 in both engines after the +1 alignment",
)
def dow_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    per_dow = (
        ev.select(
            "event_type", F.dayofweek(F.col("ts").cast("date")).alias("dow"), "value"
        )
        .groupBy("event_type", "dow")
        .agg(F.count("*").alias("n_events"), F.avg("value").alias("avg_value"))
    )
    w = Window.partitionBy("event_type")
    overall = F.sum(F.col("avg_value") * F.col("n_events")).over(w) / F.sum(
        "n_events"
    ).over(w)
    return per_dow.select(
        "event_type",
        "dow",
        "n_events",
        F.round("avg_value", 4).alias("avg_value"),
        F.round(F.col("avg_value") / overall, 4).alias("seasonal_index"),
    ).orderBy("event_type", "dow")


@_register(
    "timed_conversion_rate",
    """
    WITH signups AS (
        SELECT user_id, min(ts) AS t_signup
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    converted AS (
        SELECT s.user_id, s.t_signup,
               min(e.ts) AS t_purchase
        FROM signups s JOIN events e
          ON e.user_id = s.user_id
         AND e.event_type = 'purchase'
         AND e.ts >= s.t_signup
         AND e.ts <= s.t_signup + INTERVAL 7 DAY
        GROUP BY s.user_id, s.t_signup
    )
    SELECT CAST(s.t_signup AS DATE) AS signup_date,
           count(*) AS n_signups,
           CAST(count(c.user_id) AS BIGINT) AS n_converted_7d,
           round(count(c.user_id) * 1.0 / count(*), 4) AS conversion_rate,
           round(avg((epoch_us(c.t_purchase) - epoch_us(c.t_signup)) / 1e6), 1)
               AS avg_seconds_to_convert
    FROM signups s LEFT JOIN converted c USING (user_id)
    GROUP BY signup_date
    ORDER BY signup_date
    """,
    "TIMED funnel conversion: signup -> purchase counts only within a "
    "7-day window after each user's first signup (funnel_conversion's "
    "untimed first-touch form overstates conversion). Per-user firsts "
    "are one user-keyed agg; the window predicate rides the user "
    "equi-join (the events_before_purchase range-join shape); the "
    "epoch-seconds average pins identical timestamp arithmetic in "
    "both engines. Cohorted by signup date with rate and "
    "time-to-convert — the funnel health dashboard row",
)
def timed_conversion_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t_p")
    )
    converted = (
        signups.join(purchases, "user_id")
        .filter(
            (F.col("t_p") >= F.col("t_signup"))
            & (F.col("t_p") <= F.col("t_signup") + F.expr("INTERVAL 7 DAY"))
        )
        .groupBy("user_id", "t_signup")
        .agg(F.min("t_p").alias("t_purchase"))
        .select("user_id", "t_purchase")
    )
    joined = signups.join(converted, "user_id", "left")
    secs = (F.unix_micros("t_purchase") - F.unix_micros("t_signup")) / 1e6
    return (
        joined.groupBy(F.col("t_signup").cast("date").alias("signup_date"))
        .agg(
            F.count("*").alias("n_signups"),
            F.count("t_purchase").cast("bigint").alias("n_converted_7d"),
            F.round(F.count("t_purchase") * 1.0 / F.count("*"), 4).alias(
                "conversion_rate"
            ),
            F.round(F.avg(secs), 1).alias("avg_seconds_to_convert"),
        )
        .orderBy("signup_date")
    )


@_register(
    "event_path_funnel_users",
    """
    WITH seq AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(regexp_split_to_array(path, '>')) AS INT) AS n_events,
           regexp_matches(path, 'signup.*click.*purchase') AS did_funnel_path
    FROM seq
    ORDER BY user_id
    """,
    "complex-event path matching: each user's time-ordered event-type "
    "sequence serialized to one string (deterministic (ts, event_id) "
    "order inside the aggregate), then the funnel pattern "
    "signup-then-click-then-purchase matched as an RE2-safe regex — "
    "CEP subsequence detection without a self-join per stage (the "
    "N-stage generalization of funnel_conversion's conditional-min "
    "pairs). One user-keyed shuffle; per-user state is the path "
    "string, bounded by events-per-user",
)
def event_path_funnel_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("event_type")))
    )
    path = F.array_join(F.transform(ordered, lambda s: s["event_type"]), ">")
    seq = ev.groupBy("user_id").agg(path.alias("path"))
    return seq.select(
        "user_id",
        F.size(F.split("path", ">")).cast("int").alias("n_events"),
        F.col("path").rlike("signup.*click.*purchase").alias("did_funnel_path"),
    ).orderBy("user_id")


@_register(
    "rolling_corr_activity_value",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS event_date,
               CAST(count(*) AS DOUBLE) AS n_events,
               avg(value) AS avg_value
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, event_date
    )
    SELECT event_type, event_date,
           round(corr(n_events, avg_value) OVER (
               PARTITION BY event_type ORDER BY event_date
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) + 0.0
               AS corr_7d
    FROM daily
    ORDER BY event_type, event_date
    """,
    "rolling 7-day correlation between activity volume and mean value "
    "per event type — the windowed co-movement diagnostic (is heavier "
    "traffic cheaper or pricier this week?): a 2-variable moment "
    "aggregate over a bounded ROWS frame, W1's moving-average shape "
    "generalized from avg to corr. The window runs on the day-grain "
    "rollup (tiny), partitioned by type; the fact contributes one "
    "partial-aggregable pass",
)
def rolling_corr_activity_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("event_date"))
        .agg(
            F.count("*").cast("double").alias("n_events"),
            F.avg("value").alias("avg_value"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_date")
        .rowsBetween(-6, 0)
    )
    # ANSI mode makes corr() error on zero-variance frames (single-row
    # or constant series) where SQL semantics want NULL — state corr as
    # guarded moment ratios instead (pop/sample factors cancel, so this
    # equals the oracle's sample corr on non-degenerate frames)
    sx = F.stddev_pop("n_events").over(w)
    sy = F.stddev_pop("avg_value").over(w)
    cxy = F.covar_pop("n_events", "avg_value").over(w)
    corr = F.when((sx > 0) & (sy > 0), cxy / (sx * sy))
    return daily.select(
        "event_type",
        "event_date",
        (F.round(corr, 4) + F.lit(0.0)).alias("corr_7d"),
    ).orderBy("event_type", "event_date")


@_register(
    "longest_daily_streak",
    """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    grp AS (
        SELECT user_id, d,
               d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                        AS INT) AS g
        FROM days
    ),
    runs AS (
        SELECT user_id, g, count(*) AS run_len, min(d) AS run_start
        FROM grp GROUP BY user_id, g
    )
    SELECT user_id,
           CAST(max(run_len) AS INT) AS longest_streak_days,
           min(run_start) FILTER (run_len = max_len) AS first_longest_start
    FROM (SELECT *, max(run_len) OVER (PARTITION BY user_id) AS max_len FROM runs)
    GROUP BY user_id
    ORDER BY user_id
    """,
    "gaps-and-islands: longest consecutive-active-day streak per user "
    "via the date-minus-rank idiom (consecutive days share the "
    "constant d - row_number group key — no self-join, no recursive "
    "walk). Engagement-streak analytics in two user-partitioned "
    "windows + two rollups, all on the distinct (user, day) grain; "
    "ties on streak length resolve to the earliest start",
)
def longest_daily_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("d")).cast("int")
    grp = days.select("user_id", "d", F.date_sub(F.col("d"), rn).alias("g"))
    runs = grp.groupBy("user_id", "g").agg(
        F.count("*").alias("run_len"), F.min("d").alias("run_start")
    )
    w = Window.partitionBy("user_id")
    runs2 = runs.withColumn("max_len", F.max("run_len").over(w))
    return (
        runs2.groupBy("user_id")
        .agg(
            F.max("run_len").cast("int").alias("longest_streak_days"),
            F.min(F.when(F.col("run_len") == F.col("max_len"), F.col("run_start"))).alias(
                "first_longest_start"
            ),
        )
        .orderBy("user_id")
    )


@_register(
    "windowed_funnel_conversion",
    """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click'
          AND e.ts >= s1.t1 AND e.ts <= s1.t1 + INTERVAL 7 DAY
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e
        JOIN s1 USING (user_id) JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase'
          AND e.ts >= s2.t2 AND e.ts <= s1.t1 + INTERVAL 7 DAY
        GROUP BY e.user_id
    ),
    staged AS (
        SELECT s1.user_id,
               CASE WHEN s3.user_id IS NOT NULL THEN 3
                    WHEN s2.user_id IS NOT NULL THEN 2
                    ELSE 1 END AS funnel_step
        FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    )
    SELECT funnel_step, count(*) AS n_users
    FROM staged GROUP BY funnel_step ORDER BY funnel_step
    """,
    "ordered multi-step windowed funnel (the ClickHouse windowFunnel "
    "shape): signup -> click -> purchase must occur IN ORDER inside a "
    "7-day window anchored at the first signup; per-user max step "
    "reached, rolled up to step counts. Each step is a min-aggregate "
    "join against the previous step's anchor — at 100 TB every stage "
    "shuffles on user_id, so all three stages co-partition and AQE "
    "plans them as one exchange reuse; no window-function state, no "
    "per-user event array materialization",
)
def windowed_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts") >= F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 7 DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s1, "user_id")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") >= F.col("t2"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 7 DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    staged = (
        s1.join(s2.select("user_id", F.lit(2).alias("st2")), "user_id", "left")
        .join(s3.select("user_id", F.lit(3).alias("st3")), "user_id", "left")
        .select(
            F.coalesce(F.col("st3"), F.col("st2"), F.lit(1)).alias("funnel_step")
        )
    )
    return (
        staged.groupBy("funnel_step")
        .agg(F.count("*").alias("n_users"))
        .orderBy("funnel_step")
    )


@_register(
    "cohort_retention_matrix",
    """
    WITH firsts AS (
        SELECT user_id,
               CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(date_diff('day', f.cohort_week,
                    CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS INT)
                   AS week_offset
        FROM events e JOIN firsts f USING (user_id)
    ),
    sizes AS (
        SELECT cohort_week, count(*) AS cohort_size
        FROM firsts GROUP BY cohort_week
    )
    SELECT a.cohort_week, a.week_offset,
           count(*) AS n_active,
           round(count(*) * 1.0 / max(s.cohort_size), 4) AS retention
    FROM activity a JOIN sizes s USING (cohort_week)
    GROUP BY a.cohort_week, a.week_offset
    ORDER BY cohort_week, week_offset
    """,
    "cohort retention matrix — the product-analytics staple: users "
    "bucketed by first-activity week, per (cohort, week-offset) active "
    "share. Plan: one shuffle on user_id builds first-touch, the "
    "distinct (user, offset) grid rides the same partitioning, and the "
    "cohort-size join is a broadcast (cohort count ~ weeks, tiny). At "
    "100 TB the distinct is the heavy stage and is exactly "
    "partial-aggregable; no windows, no skew (weeks are uniform)",
)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")).cast("date"), F.col("cohort_week"))
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    return (
        activity.join(F.broadcast(sizes), "cohort_week")
        .groupBy("cohort_week", "week_offset")
        .agg(
            F.count("*").alias("n_active"),
            F.round(F.count("*") / F.max("cohort_size"), 4).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


@_register(
    "user_value_ohlc_daily",
    """
    WITH ranked AS (
        SELECT user_id, CAST(ts AS DATE) AS d, value,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY epoch_us(ts), event_id) AS rn_open,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY epoch_us(ts) DESC, event_id DESC)
                   AS rn_close
        FROM events WHERE value IS NOT NULL
    )
    SELECT user_id, d,
           round(max(CASE WHEN rn_open  = 1 THEN value END), 4) AS open,
           round(max(value), 4) AS high,
           round(min(value), 4) AS low,
           round(max(CASE WHEN rn_close = 1 THEN value END), 4) AS close,
           count(*) AS n_ticks
    FROM ranked
    GROUP BY user_id, d
    ORDER BY user_id, d
    """,
    "OHLC bar construction (open/high/low/close per entity-day) — the "
    "time-series downsampling primitive for tick/metric streams: "
    "first/last by the unique (ts, event_id) order plus min/max, in "
    "one grouped pass. Plan: a single shuffle on (user, day); the "
    "open/close selection is two row_number windows SHARING that "
    "partitioning (one sort, Catalyst fuses them), then a plain "
    "partial-aggregable rollup — no self-join against min/max ts",
)
def user_value_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = F.col("ts").cast("date")
    w_open = Window.partitionBy("user_id", "d").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    w_close = Window.partitionBy("user_id", "d").orderBy(
        F.unix_micros("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "user_id", d.alias("d"), "value", "ts", "event_id"
    ).withColumns(
        {
            "rn_open": F.row_number().over(w_open),
            "rn_close": F.row_number().over(w_close),
        }
    )
    return (
        ranked.groupBy("user_id", "d")
        .agg(
            F.round(F.max(F.when(F.col("rn_open") == 1, F.col("value"))), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max(F.when(F.col("rn_close") == 1, F.col("value"))), 4).alias("close"),
            F.count("*").alias("n_ticks"),
        )
        .orderBy("user_id", "d")
    )


@_register(
    "cusum_changepoint_days",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, sum(value) AS day_total
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, CAST(ts AS DATE)
    ),
    stats AS (
        SELECT event_type,
               avg(day_total) AS mu,
               stddev_pop(day_total) AS sigma
        FROM daily GROUP BY event_type
    ),
    cusum AS (
        SELECT d.event_type, d.d,
               round(d.day_total, 4) AS day_total,
               round(sum(d.day_total - s.mu) OVER (
                   PARTITION BY d.event_type ORDER BY d.d), 4) + 0.0 AS cusum,
               s.sigma
        FROM daily d JOIN stats s USING (event_type)
    )
    SELECT event_type, d, day_total, cusum,
           abs(cusum) > 3 * sigma AS is_changepoint
    FROM cusum
    ORDER BY event_type, d
    """,
    "CUSUM change-point scan per series: cumulative sum of deviations "
    "from the series mean, flagged where |CUSUM| exceeds 3 sigma — the "
    "classic drift detector for metric streams (PSI's sequential "
    "cousin: PSI compares two snapshots, CUSUM localizes WHEN the "
    "shift happened). Plan: the fact collapses to per-(series, day) "
    "SUMS first (partial-aggregable; sums, not means — a mean's "
    "small-divisor quotient can land exactly on a 4dp half-boundary "
    "where engines' last-bit rounding diverges), the series-stats "
    "join broadcasts, and the running window orders each series by "
    "day — state per series is one partial sum, days-sized, never "
    "fact-sized. The series-final CUSUM is a mathematical zero; "
    "+ 0.0 normalizes its float sign",
)
def cusum_changepoint_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.sum("value").alias("day_total"))
    )
    stats = daily.groupBy("event_type").agg(
        F.avg("day_total").alias("mu"), F.stddev_pop("day_total").alias("sigma")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    cs = (
        daily.join(F.broadcast(stats), "event_type")
        .withColumn(
            "cusum",
            F.round(F.sum(F.col("day_total") - F.col("mu")).over(w), 4) + F.lit(0.0),
        )
    )
    return cs.select(
        "event_type",
        "d",
        F.round("day_total", 4).alias("day_total"),
        "cusum",
        (F.abs(F.col("cusum")) > 3 * F.col("sigma")).alias("is_changepoint"),
    ).orderBy("event_type", "d")


@_register(
    "first_touch_attribution",
    """
    WITH lagged AS (
        SELECT user_id, event_id, event_type, value, epoch_us(ts) AS t_us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id) AS prev_us
        FROM events
    ),
    sess AS (
        SELECT user_id, event_id, event_type, value, t_us,
               CAST(sum(CASE WHEN prev_us IS NULL
                              OR t_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY t_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
                   AS session_id
        FROM lagged
    ),
    tagged AS (
        SELECT user_id, session_id, event_type, value, t_us, event_id,
               first_value(event_type) OVER (
                   PARTITION BY user_id, session_id
                   ORDER BY t_us, event_id) AS entry_channel
        FROM sess
    )
    SELECT entry_channel,
           CAST(count(DISTINCT (user_id, session_id)) AS BIGINT) AS n_sessions,
           count(*) FILTER (event_type = 'purchase') AS n_purchases,
           round(coalesce(sum(value) FILTER (event_type = 'purchase'), 0), 4)
               AS attributed_revenue
    FROM tagged
    GROUP BY entry_channel
    ORDER BY entry_channel
    """,
    "first-touch revenue attribution: 30-min-gap sessions (the "
    "sessionize primitive), each session's ENTRY event type becomes "
    "the acquisition channel, and every purchase inside the session "
    "attributes its value to that channel — the marketing-analytics "
    "join of sessionization + windowed first_value + conditional "
    "rollup. All three windows share the per-user exchange (the "
    "session window's partition keys are a superset), so the fact "
    "shuffles once; the channel rollup is partial-aggregable",
)
def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t_us = F.unix_micros(F.col("ts"))
    lagged = ev.select(
        "user_id", "event_id", "event_type", "value", t_us.alias("t_us")
    ).withColumn(
        "prev_us",
        F.lag("t_us").over(Window.partitionBy("user_id").orderBy("t_us", "event_id")),
    )
    new_sess = F.when(
        F.col("prev_us").isNull() | (F.col("t_us") - F.col("prev_us") > 1_800_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = lagged.withColumn(
        "session_id",
        F.sum(new_sess)
        .over(
            Window.partitionBy("user_id")
            .orderBy("t_us", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("int"),
    )
    tagged = sess.withColumn(
        "entry_channel",
        F.first("event_type").over(
            Window.partitionBy("user_id", "session_id").orderBy("t_us", "event_id")
        ),
    )
    is_purchase = F.col("event_type") == "purchase"
    return (
        tagged.groupBy("entry_channel")
        .agg(
            F.countDistinct("user_id", "session_id").alias("n_sessions"),
            F.count(F.when(is_purchase, 1)).alias("n_purchases"),
            F.round(
                F.coalesce(F.sum(F.when(is_purchase, F.col("value"))), F.lit(0.0)), 4
            ).alias("attributed_revenue"),
        )
        .orderBy("entry_channel")
    )


@_register(
    "open_orders_timeline",
    """
    WITH closes AS (
        SELECT l_orderkey AS o_orderkey,
               CAST(max(l_shipdate) AS DATE) + INTERVAL 1 DAY AS close_d
        FROM lineitem GROUP BY l_orderkey
    ),
    deltas AS (
        SELECT CAST(o_orderdate AS DATE) AS d, 1 AS delta FROM orders
        UNION ALL
        SELECT CAST(c.close_d AS DATE) AS d, -1 AS delta
        FROM closes c JOIN orders o USING (o_orderkey)
    ),
    daily AS (
        SELECT d, sum(delta) AS net FROM deltas GROUP BY d
    )
    SELECT d,
           CAST(sum(net) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS open_orders
    FROM daily
    ORDER BY d
    """,
    "sweep-line concurrency: how many orders are OPEN (placed, not yet "
    "fully shipped) on each day — the interval-stabbing problem solved "
    "without an interval join: each order contributes +1 at placement "
    "and -1 the day after its last shipment; per-day net deltas then a "
    "running sum. The O(n log n) sweep replaces the O(n * days) "
    "point-in-interval join. Plan: per-order close rollup rides the "
    "orderkey join; the daily net is partial-aggregable to days-sized "
    "data BEFORE the single ordered window — the 100 TB concurrency "
    "timeline costs one fact shuffle",
)
def open_orders_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    closes = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.date_add(F.max(F.col("l_shipdate").cast("date")), 1).alias("close_d")
    )
    deltas = (
        o.select(F.col("o_orderdate").cast("date").alias("d"), F.lit(1).alias("delta"))
        .unionAll(
            closes.join(o, "o_orderkey").select(
                F.col("close_d").alias("d"), F.lit(-1).alias("delta")
            )
        )
    )
    daily = deltas.groupBy("d").agg(F.sum("delta").alias("net"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "d", F.sum("net").over(w).cast("bigint").alias("open_orders")
    ).orderBy("d")


@_register(
    "seasonal_decomposition_daily",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, sum(value) AS y
        FROM events WHERE value IS NOT NULL
        GROUP BY CAST(ts AS DATE)
    ),
    trended AS (
        SELECT d, y,
               CASE WHEN count(*) OVER w = 7
                    THEN avg(y) OVER w END AS trend
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detrended AS (
        SELECT d, y, trend,
               CAST(dayofweek(d) + 1 AS INT) AS dow,
               y - trend AS resid0
        FROM trended
    ),
    seasonal AS (
        SELECT dow, avg(resid0) AS s
        FROM detrended WHERE resid0 IS NOT NULL GROUP BY dow
    )
    SELECT t.d,
           round(t.y, 4) AS y,
           round(t.trend, 4) AS trend,
           round(s.s, 4) AS seasonal,
           round(t.y - t.trend - s.s, 4) AS residual
    FROM detrended t JOIN seasonal s USING (dow)
    WHERE t.trend IS NOT NULL
    ORDER BY t.d
    """,
    "classical seasonal decomposition (moving-average flavor of STL): "
    "7-day CENTERED moving average as trend (only full windows — "
    "edges yield NULL, excluded like statsmodels does), day-of-week "
    "mean of the detrended series as the seasonal component, rest "
    "residual — the anomaly-detection preprocessor that separates "
    "'weekends are low' from 'this day is wrong'. Plan: the fact "
    "collapses to a days-sized series first; the centered window and "
    "the 7-row seasonal rollup both run on days-sized data (the "
    "documented post-agg global-window pattern); the seasonal table "
    "broadcasts back. DOW normalized to Spark's 1-based convention",
)
def seasonal_decomposition_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum("value").alias("y")
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trended = daily.withColumn(
        "trend", F.when(F.count("*").over(w) == 7, F.avg("y").over(w))
    )
    detrended = trended.withColumns(
        {
            "dow": F.dayofweek("d").cast("int"),
            "resid0": F.col("y") - F.col("trend"),
        }
    )
    seasonal = (
        detrended.filter(F.col("resid0").isNotNull())
        .groupBy("dow")
        .agg(F.avg("resid0").alias("s"))
    )
    return (
        detrended.join(F.broadcast(seasonal), "dow")
        .filter(F.col("trend").isNotNull())
        .select(
            "d",
            F.round("y", 4).alias("y"),
            F.round("trend", 4).alias("trend"),
            F.round("s", 4).alias("seasonal"),
            F.round(F.col("y") - F.col("trend") - F.col("s"), 4).alias("residual"),
        )
        .orderBy("d")
    )


@_register(
    "throttled_events",
    """
    WITH g AS (
        SELECT event_id, user_id, event_type,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id)) AS gap_us
        FROM events
    )
    SELECT event_id, user_id, event_type, gap_us
    FROM g
    WHERE gap_us IS NULL OR gap_us >= 300000000
    ORDER BY event_id
    """,
    "event debouncing / throttling: within each (user, event_type) "
    "stream ordered by time, drop events arriving under 300s after "
    "their predecessor (keep the first of every burst) — the "
    "double-fire/retry-storm filter applied before events feed "
    "sessionization or billing. One partitioned lag window keyed on "
    "the entity (no SinglePartition at raw grain), gap arithmetic on "
    "epoch seconds; the simple-lag form is deliberate — the "
    "kept-anchor recursive form is the streaming_dedup watermark "
    "variant's job",
)
def throttled_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    return (
        ev.select("event_id", "user_id", "event_type", gap.alias("gap_us"))
        .filter(F.col("gap_us").isNull() | (F.col("gap_us") >= 300_000_000))
        .orderBy("event_id")
    )


@_register(
    "twap_user_value",
    """
    WITH seg AS (
        SELECT user_id, value,
               epoch_us(lead(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)) - epoch_us(ts)
                   AS dur_us
        FROM events
    )
    SELECT user_id,
           CAST(count(dur_us) AS INT) AS n_intervals,
           round(sum(value * dur_us) / sum(dur_us), 4) AS twap
    FROM seg
    WHERE dur_us IS NOT NULL AND dur_us > 0
    GROUP BY user_id
    ORDER BY user_id
    """,
    "time-weighted average value per user (TWAP): each observation is "
    "weighted by how long it remained current (lead(ts) - ts), so "
    "irregular sampling cannot bias the mean toward burst periods — "
    "the standard metric form for prices/gauges sampled on change. "
    "One partitioned lead window + one aggregation, both keyed on the "
    "entity; zero-duration segments (same-timestamp retries) are "
    "excluded on BOTH sides so the weight sum is strictly positive",
)
def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dur = F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")
    return (
        ev.select("user_id", "value", dur.alias("dur_us"))
        .filter(F.col("dur_us").isNotNull() & (F.col("dur_us") > 0))
        .groupBy("user_id")
        .agg(
            F.count("dur_us").cast("int").alias("n_intervals"),
            F.round(
                F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 4
            ).alias("twap"),
        )
        .orderBy("user_id")
    )


@_register(
    "trending_event_types",
    """
    WITH mx AS (SELECT max(CAST(ts AS DATE)) AS max_d FROM events),
    sc AS (
        SELECT e.event_type,
               count(*) AS n_events,
               sum(power(0.5, datediff('day', CAST(e.ts AS DATE), mx.max_d)))
                   AS decayed
        FROM events e, mx
        GROUP BY e.event_type
    )
    SELECT CAST(row_number() OVER (ORDER BY decayed DESC, event_type) AS INT)
               AS rk,
           event_type, n_events,
           round(decayed, 4) AS decayed_score
    FROM sc
    ORDER BY rk
    """,
    "exponentially-decayed trending counts: each event contributes "
    "0.5^age_days, so yesterday outweighs last month without any "
    "window cutoff — the trending-dashboard scorer. Decay base 0.5 is "
    "deliberate: 0.5^k is an exact power of two in binary floating "
    "point, so both engines produce identical per-event terms and the "
    "sum is portable after rounding. One scan + a 1-row max-date "
    "broadcast + a partial-aggregable sum; at 100 TB the decayed "
    "partial per (type, day) is a maintainable artifact — multiply "
    "yesterday's total by the decay and add today's count",
)
def trending_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.to_date("ts")).alias("max_d"))
    age = F.datediff(F.col("max_d"), F.to_date("ts"))
    sc = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.pow(F.lit(0.5), age)).alias("decayed"),
        )
    )
    rk = F.row_number().over(Window.orderBy(F.col("decayed").desc(), "event_type"))
    return (
        sc.select(
            rk.cast("int").alias("rk"),
            "event_type",
            "n_events",
            F.round("decayed", 4).alias("decayed_score"),
        )
        .orderBy("rk")
    )


@_register(
    "acf_multi_lag",
    """
    WITH dd AS (
        SELECT CAST(ts AS DATE) AS d, sum(value) AS v
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    lg AS (
        SELECT v,
               lag(v, 1) OVER (ORDER BY d) AS l1,
               lag(v, 2) OVER (ORDER BY d) AS l2,
               lag(v, 3) OVER (ORDER BY d) AS l3,
               lag(v, 4) OVER (ORDER BY d) AS l4,
               lag(v, 5) OVER (ORDER BY d) AS l5,
               lag(v, 6) OVER (ORDER BY d) AS l6,
               lag(v, 7) OVER (ORDER BY d) AS l7
        FROM dd
    ),
    c AS (
        SELECT corr(v, l1) AS c1, corr(v, l2) AS c2, corr(v, l3) AS c3,
               corr(v, l4) AS c4, corr(v, l5) AS c5, corr(v, l6) AS c6,
               corr(v, l7) AS c7
        FROM lg
    )
    SELECT t.lag, round(t.acf, 4) + 0.0 AS acf
    FROM c, LATERAL (VALUES
        (1, c1), (2, c2), (3, c3), (4, c4), (5, c5), (6, c6), (7, c7)
    ) AS t(lag, acf)
    ORDER BY t.lag
    """,
    "multi-lag autocorrelation function (lags 1-7) of the global daily "
    "value series — the weekly-seasonality fingerprint (a lag-7 spike "
    "= day-of-week cycle) read before choosing window sizes or "
    "forecast features. The fact collapses to a days-sized series "
    "FIRST (partial-aggregable), then all seven lag columns share ONE "
    "ordered window pass and all seven corrs accumulate in ONE "
    "aggregate — the documented post-agg global-window pattern: the "
    "single-partition sort touches ~365 rows/year, never the fact",
)
def acf_multi_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dd = ev.groupBy(F.to_date("ts").alias("d")).agg(F.sum("value").alias("v"))
    w = Window.orderBy("d")
    lg = dd.select(
        "v", *[F.lag("v", i).over(w).alias(f"l{i}") for i in range(1, 8)]
    )
    c = lg.agg(*[F.corr("v", f"l{i}").alias(f"c{i}") for i in range(1, 8)])
    stack_args = ", ".join(f"{i}, c{i}" for i in range(1, 8))
    return (
        c.select(F.expr(f"stack(7, {stack_args}) AS (lag, acf0)"))
        .select("lag", (F.round("acf0", 4) + F.lit(0.0)).alias("acf"))
        .orderBy("lag")
    )


@_register(
    "kaplan_meier_retention",
    """
    WITH obs AS (
        SELECT max(CAST(o_orderdate AS DATE)) AS obs_end FROM orders
    ),
    cust AS (
        SELECT o_custkey,
               min(CAST(o_orderdate AS DATE)) AS first_d,
               max(CAST(o_orderdate AS DATE)) AS last_d
        FROM orders GROUP BY o_custkey
    ),
    subj AS (
        SELECT CAST(floor((last_d - first_d) / 30) AS INT) AS duration_p,
               CASE WHEN last_d < obs_end - INTERVAL 90 DAY
                    THEN 1 ELSE 0 END AS churned
        FROM cust, obs
    ),
    per AS (
        SELECT duration_p,
               sum(churned)     AS n_churned,
               sum(1 - churned) AS n_censored
        FROM subj GROUP BY duration_p
    ),
    risk AS (
        SELECT duration_p, n_churned, n_censored,
               sum(n_churned + n_censored) OVER (
                   ORDER BY duration_p DESC) AS n_at_risk
        FROM per
    )
    SELECT duration_p,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(n_churned AS BIGINT) AS n_churned,
           CAST(n_censored AS BIGINT) AS n_censored,
           round(exp(sum(ln(greatest(1.0 - n_churned * 1.0 / n_at_risk,
                                     1e-12))) OVER (
               ORDER BY duration_p)), 6) + 0.0 AS survival
    FROM risk
    ORDER BY duration_p
    """,
    "Kaplan-Meier survival estimator for customer retention: subjects "
    "are customers, lifetime = 30-day periods between first and last "
    "order, churn event = went quiet >90 days before the observation "
    "end (otherwise right-censored) — the survival curve S(t) = "
    "prod(1 - d_t/r_t) that a naive churn-rate average gets wrong "
    "because censored customers leave the risk set without counting "
    "as events. Scale shape: one per-customer rollup shuffle, then "
    "the life table collapses to duration-period grain before the "
    "ordered windows (the post-agg-window rule); at-risk counts come "
    "from a reverse-cumulative sum, the product via exp-sum-ln "
    "(integer-ratio hazards, rounded at output only)",
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    obs = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("obs_end"))
    cust = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("first_d"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
    )
    subj = cust.crossJoin(F.broadcast(obs)).select(
        F.floor(F.datediff("last_d", "first_d") / 30)
        .cast("int")
        .alias("duration_p"),
        F.when(F.col("last_d") < F.date_sub(F.col("obs_end"), 90), 1)
        .otherwise(0)
        .alias("churned"),
    )
    per = subj.groupBy("duration_p").agg(
        F.sum("churned").alias("n_churned"),
        F.sum(1 - F.col("churned")).alias("n_censored"),
    )
    # both windows run on the duration-period life table (a handful of
    # rows after the rollup), never the customer set — the documented
    # post-aggregate single-partition pattern
    w_risk = Window.orderBy(F.col("duration_p").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_surv = Window.orderBy("duration_p").rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = per.withColumn(
        "n_at_risk", F.sum(F.col("n_churned") + F.col("n_censored")).over(w_risk)
    )
    return risk.select(
        "duration_p",
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("n_churned").cast("bigint").alias("n_churned"),
        F.col("n_censored").cast("bigint").alias("n_censored"),
        (
            F.round(
                F.exp(
                    F.sum(
                        # hazard=1 (fully-churned deepest bucket) would be
                        # ln(0): clamp so S(t) collapses to ~0 identically
                        # in Spark and the DuckDB oracle instead of NULL/-inf
                        F.log(
                            F.greatest(
                                1.0
                                - F.col("n_churned") * 1.0 / F.col("n_at_risk"),
                                F.lit(1e-12),
                            )
                        )
                    ).over(w_surv)
                ),
                6,
            )
            + 0.0
        ).alias("survival"),
    ).orderBy("duration_p")


@_register(
    "event_transition_entropy",
    """
    WITH seq AS (
        SELECT event_type AS cur,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    tc AS (
        SELECT cur, nxt, count(*) AS n
        FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    rt AS (SELECT cur, sum(n) AS tot FROM tc GROUP BY cur)
    SELECT tc.cur AS event_type,
           CAST(rt.tot AS BIGINT) AS n_transitions,
           CAST(count(*) AS INT) AS n_next_states,
           round(-sum((tc.n * 1.0 / rt.tot) * ln(tc.n * 1.0 / rt.tot)), 6)
               + 0.0 AS transition_entropy
    FROM tc JOIN rt ON tc.cur = rt.cur
    GROUP BY tc.cur, rt.tot
    ORDER BY event_type
    """,
    "per-state entropy of the event-type transition distribution "
    "H(next | cur) — the sequence-predictability metric over the "
    "Markov chain `next_event_training_pairs` builds: near-zero means "
    "scripted/bot-like sessions, near-ln(k) uniform wandering. One "
    "(user, time)-keyed lag window on the fact, then all aggregation "
    "happens on the types^2-sized transition table with its row "
    "totals joined back broadcast-sized; exact integer ratios feed "
    "ln, rounded at output. The deterministic (ts, event_id) sort key "
    "pins tie order across engines",
)
def event_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    tc = seq.groupBy("cur", "nxt").agg(F.count("*").alias("n"))
    rt = tc.groupBy("cur").agg(F.sum("n").alias("tot"))
    p = F.col("n") * 1.0 / F.col("tot")
    return (
        tc.join(F.broadcast(rt), "cur")
        .groupBy(F.col("cur").alias("event_type"), F.col("tot"))
        .agg(
            F.count("*").cast("int").alias("n_next_states"),
            (F.round(-F.sum(p * F.log(p)), 6) + 0.0).alias("transition_entropy"),
        )
        .select(
            "event_type",
            F.col("tot").cast("bigint").alias("n_transitions"),
            "n_next_states",
            "transition_entropy",
        )
        .orderBy("event_type")
    )


@_register(
    "user_event_burstiness",
    """
    WITH gaps AS (
        SELECT user_id,
               epoch(ts) - epoch(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) AS gap_s
        FROM events
    ),
    mo AS (
        SELECT user_id, count(*) AS n,
               sum(gap_s) AS s1, sum(gap_s * gap_s) AS s2
        FROM gaps WHERE gap_s IS NOT NULL
        GROUP BY user_id HAVING count(*) >= 10
    ),
    st AS (
        SELECT user_id, n,
               s1 / n AS mu,
               sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sigma
        FROM mo
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_gaps,
           round(mu, 4) AS mean_gap_s,
           round(sigma / mu, 4) + 0.0 AS gap_cv,
           round((sigma - mu) / (sigma + mu), 4) + 0.0 AS burstiness
    FROM st
    WHERE mu > 0
    ORDER BY user_id
    """,
    "per-user burstiness of event inter-arrival times (Goh & Barabasi "
    "B = (sigma-mu)/(sigma+mu) in [-1,1]: -1 periodic/bot-like metronome, "
    "0 Poisson, ->1 extreme bursts) plus the coefficient of variation — "
    "the temporal-signature screen that separates organic users from "
    "schedulers. One (user, time) lag window co-keyed with the "
    "per-user moment aggregate (same exchange), variance from explicit "
    "moment sums so both engines share the formula rather than a "
    "stddev() implementation; integer epoch-second gaps sum exactly",
)
def user_event_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.col("ts").cast("double")
            - F.lag(F.col("ts").cast("double")).over(w)
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    mo = (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("gap_s").alias("s1"),
            F.sum(F.col("gap_s") * F.col("gap_s")).alias("s2"),
        )
        .filter(F.col("n") >= 10)
    )
    mu = F.col("s1") / F.col("n")
    sigma = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    )
    return (
        mo.select(
            "user_id",
            F.col("n").cast("bigint").alias("n_gaps"),
            F.round(mu, 4).alias("mean_gap_s"),
            (F.round(sigma / mu, 4) + 0.0).alias("gap_cv"),
            (F.round((sigma - mu) / (sigma + mu), 4) + 0.0).alias("burstiness"),
            mu.alias("__mu"),
        )
        .filter(F.col("__mu") > 0)
        .drop("__mu")
        .orderBy("user_id")
    )


@_register(
    "holt_forecast_users",
    """
    WITH RECURSIVE
    daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS y
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    srs AS (
        SELECT user_id,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                    AS INT) AS idx,
               CAST(y AS DOUBLE) AS y
        FROM daily
    ),
    lens AS (SELECT user_id, max(idx) AS n FROM srs GROUP BY user_id),
    rec AS (
        SELECT s1.user_id, 1 AS t, s1.y AS l, s2.y - s1.y AS b
        FROM srs s1 JOIN srs s2
          ON s1.user_id = s2.user_id AND s1.idx = 1 AND s2.idx = 2
        UNION ALL
        SELECT r.user_id, r.t + 1,
               0.5 * s.y + 0.5 * (r.l + r.b),
               0.3 * ((0.5 * s.y + 0.5 * (r.l + r.b)) - r.l) + 0.7 * r.b
        FROM rec r JOIN srs s ON s.user_id = r.user_id AND s.idx = r.t + 1
    )
    SELECT r.user_id,
           CAST(lens.n AS INT) AS n_days,
           round(r.l, 4) + 0.0 AS level,
           round(r.b, 4) + 0.0 AS trend,
           round(r.l + 3 * r.b, 4) + 0.0 AS forecast_3day
    FROM rec r JOIN lens ON r.user_id = lens.user_id AND r.t = lens.n
    ORDER BY r.user_id
    """,
    "grouped Holt linear-trend forecasting (double exponential "
    "smoothing, alpha=0.5 gamma=0.3): per user, the daily activity "
    "series folds through the level/trend recursion l_t = a*y + "
    "(1-a)(l+b), b_t = g*(l_t - l_prev) + (1-g)*b, initialized l_1 = "
    "y_1, b_1 = y_2 - y_1; forecast = level + 3*trend. The fold is ONE "
    "JVM-side F.aggregate over each user's date-sorted series (per-key "
    "state bounded by the forecast window — 30 days here, never "
    "corpus-sized), so the whole operator is one shuffle on user_id "
    "and scales horizontally; the oracle replays the identical "
    "IEEE-double recursion as a recursive CTE, so the hash match pins "
    "every intermediate to the bit. The sequential-state operator "
    "family (EWMA rides pandas; Holt shows the built-in-fold path)",
)
def holt_forecast_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # one user_id exchange up front: subset partitioning satisfies BOTH
    # the (user, day) rollup and the per-user series collect (the
    # autocorr_lag1_users pattern) — without it the daily rollup
    # shuffles the corpus on (user, day) and then re-shuffles on user
    daily = (
        spread(ev, "user_id")
        .groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").alias("y"))
    )
    srs = (
        daily.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(F.struct("d", "y"))).alias("a"))
        .filter(F.size("a") >= 2)
    )
    vals = F.transform("a", lambda s: s["y"].cast("double"))
    y1 = F.element_at(vals, 1)
    y2 = F.element_at(vals, 2)
    init = F.struct(y1.alias("l"), (y2 - y1).alias("b"))
    rest = F.slice(vals, 2, F.size(vals) - 1)

    def step(acc, x):
        l_new = F.lit(0.5) * x + F.lit(0.5) * (acc["l"] + acc["b"])
        b_new = F.lit(0.3) * (l_new - acc["l"]) + F.lit(0.7) * acc["b"]
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    acc = F.aggregate(rest, init, step)
    return srs.select(
        "user_id",
        F.size("a").alias("n_days"),
        (F.round(acc["l"], 4) + F.lit(0.0)).alias("level"),
        (F.round(acc["b"], 4) + F.lit(0.0)).alias("trend"),
        (F.round(acc["l"] + F.lit(3) * acc["b"], 4) + F.lit(0.0)).alias(
            "forecast_3day"
        ),
    ).orderBy("user_id")


@_register(
    "frequent_event_sequences",
    """
    WITH seq AS (
        SELECT user_id, event_type AS e1,
               lead(event_type, 1) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS e2,
               lead(event_type, 2) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS e3
        FROM events
    )
    SELECT e1, e2, e3,
           count(DISTINCT user_id) AS support_users,
           count(*) AS occurrences
    FROM seq
    WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY e1, e2, e3
    HAVING count(DISTINCT user_id) >= 10
    ORDER BY support_users DESC, occurrences DESC, e1, e2, e3
    LIMIT 25
    """,
    "SEQUENTIAL PATTERN MINING (PrefixSpan/SPAM family, contiguous "
    "form): frequent length-3 event-type sequences over per-user "
    "event streams, with support counted in USERS (the sequence-mining "
    "convention — a user looping one funnel ten times is one "
    "supporter) beside raw occurrence counts. Two lead() windows share "
    "ONE (user_id, ts) sort, the rollup is |types|^3-bounded, and "
    "min-support pruning (HAVING) keeps only patterns a recommender / "
    "funnel-design pass would act on. Scale: the only corpus shuffle "
    "is the keyed window sort; no per-user arrays, no self-joins",
)
def frequent_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(
            F.countDistinct("user_id").alias("support_users"),
            F.count("*").alias("occurrences"),
        )
        .filter(F.col("support_users") >= 10)
        .orderBy(
            F.col("support_users").desc(),
            F.col("occurrences").desc(),
            "e1",
            "e2",
            "e3",
        )
        .limit(25)
    )


@_register(
    "user_activity_trend",
    """
    WITH daily AS (
        SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
               count(*) AS y
        FROM events
        GROUP BY user_id, x
    ),
    m AS (
        SELECT user_id, count(*) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM daily GROUP BY user_id
    )
    SELECT user_id, CAST(n AS INT) AS n_days,
           CAST(sy AS BIGINT) AS total_events,
           round((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx), 6) + 0.0
               AS events_per_day_slope
    FROM m
    WHERE n >= 5
    ORDER BY user_id
    """,
    "GROUPED TREND REGRESSION: per-user OLS slope of daily event "
    "count over calendar time (x = epoch-day ordinal), from one "
    "moment aggregate per user — the engagement-trajectory feature "
    "(growing/flat/churning) behind retention models. Every moment "
    "(n, sum x, sum y, sum xy, sum x^2) is EXACT integer arithmetic; "
    "the single closed-form division is the only float op, so both "
    "engines agree to the bit before rounding. Scale: the daily "
    "rollup and the per-user moments share one user_id exchange "
    "(subset partitioning); no window, no series materialization — "
    "the same normal-equations pattern as multi_regression_price, "
    "partitioned by group",
)
def user_activity_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread(load_table(spark, sf_dir, "events"), "user_id")
    daily = ev.groupBy(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "x"
        ),
    ).agg(F.count("*").alias("y"))
    m = daily.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        * 1.0
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    return (
        m.filter(F.col("n") >= 5)
        .select(
            "user_id",
            F.col("n").cast("int").alias("n_days"),
            F.col("sy").alias("total_events"),
            (F.round(slope, 6) + F.lit(0.0)).alias("events_per_day_slope"),
        )
        .orderBy("user_id")
    )


@_register(
    "linear_attribution_revenue",
    """
    WITH purchases AS (
        SELECT event_id AS pid, user_id, ts AS pts, value AS rev
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    touches AS (
        SELECT p.pid, p.rev, e.event_type AS channel
        FROM purchases p JOIN events e
          ON e.user_id = p.user_id
         AND e.ts < p.pts
         AND e.ts >= p.pts - INTERVAL 7 DAY
         AND e.event_type <> 'purchase'
    ),
    credited AS (
        SELECT pid, channel,
               rev * 1.0 / (count(*) OVER (PARTITION BY pid)) AS credit
        FROM touches
    )
    SELECT channel,
           CAST(count(DISTINCT pid) AS BIGINT) AS purchases_touched,
           round(sum(credit), 4) AS attributed_revenue
    FROM credited
    GROUP BY channel
    ORDER BY channel
    """,
    "LINEAR MULTI-TOUCH ATTRIBUTION: every purchase's revenue splits "
    "EQUALLY across the channels the user touched in the preceding "
    "7 days — the each-touch-matters model beside "
    "first_touch_attribution's winner-takes-all (the two bounds a "
    "marketing-mix review compares). The touch join is the "
    "close_order_pairs range-join shape: co-partitioned on user_id "
    "with the time predicate evaluated in-bucket; per-purchase touch "
    "counts ride a pid-keyed window; the channel rollup is "
    "types-sized. Credit division is exact integers into one "
    "division, so shares are engine-identical before rounding",
)
def linear_attribution_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        F.col("value").alias("rev"),
    )
    touches = purchases.join(
        ev,
        (ev.user_id == F.col("p_user"))
        & (ev.ts < F.col("pts"))
        & (ev.ts >= F.col("pts") - F.expr("INTERVAL 7 DAY"))
        & (ev.event_type != "purchase"),
    ).select("pid", "rev", F.col("event_type").alias("channel"))
    w = Window.partitionBy("pid")
    credited = touches.withColumn(
        "credit", F.col("rev") * 1.0 / F.count("*").over(w)
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.countDistinct("pid").alias("purchases_touched"),
            F.round(F.sum("credit"), 4).alias("attributed_revenue"),
        )
        .orderBy("channel")
    )


@_register(
    "time_decay_attribution",
    """
    WITH purchases AS (
        SELECT event_id AS pid, user_id, ts AS pts, value AS rev
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    touches AS (
        SELECT p.pid, p.rev, e.event_type AS channel,
               power(0.5, date_diff('second', e.ts, p.pts)
                          / (3.5 * 86400.0)) AS w
        FROM purchases p JOIN events e
          ON e.user_id = p.user_id
         AND e.ts < p.pts
         AND e.ts >= p.pts - INTERVAL 7 DAY
         AND e.event_type <> 'purchase'
    ),
    credited AS (
        SELECT pid, channel,
               rev * w / (sum(w) OVER (PARTITION BY pid)) AS credit
        FROM touches
    )
    SELECT channel,
           CAST(count(DISTINCT pid) AS BIGINT) AS purchases_touched,
           round(sum(credit), 4) AS attributed_revenue
    FROM credited
    GROUP BY channel
    ORDER BY channel
    """,
    "TIME-DECAY ATTRIBUTION — the third model of the attribution "
    "trilogy (first_touch_attribution winner-takes-all, "
    "linear_attribution_revenue equal-credit, this one recency-"
    "weighted): each 7-day-window touch carries weight "
    "0.5^(age / 3.5 days) — a 3.5-day half-life — normalized per "
    "purchase, so recent touches earn more credit. Same plan as the "
    "linear model: co-partitioned user range join, pid-keyed "
    "normalization window, types-sized rollup; the decay weight is "
    "pure per-row arithmetic on exact second differences, identical "
    "across engines before the final rounded sum",
)
def time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("pts"),
        F.col("value").alias("rev"),
    )
    t = ev.select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    ).filter(F.col("channel") != "purchase")
    age_sec = F.col("pts").cast("long") - F.col("t_ts").cast("long")
    touches = purchases.join(
        t,
        (F.col("t_user") == F.col("p_user"))
        & (F.col("t_ts") < F.col("pts"))
        & (F.col("t_ts") >= F.col("pts") - F.expr("INTERVAL 7 DAY")),
    ).select(
        "pid",
        "rev",
        "channel",
        F.pow(F.lit(0.5), age_sec / (3.5 * 86400.0)).alias("w"),
    )
    win = Window.partitionBy("pid")
    credited = touches.withColumn(
        "credit", F.col("rev") * F.col("w") / F.sum("w").over(win)
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.countDistinct("pid").alias("purchases_touched"),
            F.round(F.sum("credit"), 4).alias("attributed_revenue"),
        )
        .orderBy("channel")
    )
