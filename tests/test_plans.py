"""Physical-plan assertions: the plan shapes that matter at 100 TB.

Correctness tests prove the numbers; these prove the EXECUTION SHAPE —
filters reach the parquet scan, dimension joins broadcast, top-k avoids
global sorts, raw-grain windows are partitioned. A regression here is a
performance bug even while results stay right.
"""

from __future__ import annotations

import re

import pytest

from covid19_etl_pipeline_spark.plans.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_inlist_filter_pushes_down(spark):
    plan = _plan(spark, "inlist_filter")
    assert "PushedFilters" in plan and "In(c_mktsegment" in plan


def test_notnull_threshold_pushes_down(spark):
    plan = _plan(spark, "notnull_threshold")
    assert "IsNotNull(value)" in plan and "GreaterThan(value,0.0)" in plan


def test_scan_prunes_columns(spark):
    """guarded_ratio touches 4 of 11 lineitem columns — the scan must
    read only those (ReadSchema pruning)."""
    plan = _plan(spark, "guarded_ratio")
    read = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_extendedprice" in read and "l_quantity" in read
    assert "l_shipdate" not in read and "l_discount" not in read


def test_dim_join_broadcasts(spark):
    plan = _plan(spark, "dim_join_rollup")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered(spark):
    plan = _plan(spark, "topk_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort shuffle


def test_partitioned_window_no_single_partition(spark):
    """user_daily_7day_avg must run a PARTITIONED window — a raw-grain
    unpartitioned window is the single-task trap (SURVEY §2.5 W1)."""
    plan = _plan(spark, "user_daily_7day_avg")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_semi_join_is_semi(spark):
    plan = _plan(spark, "semi_join_customers")
    assert "LeftSemi" in plan


def test_flagship_is_two_stage_hash_agg(spark):
    """rollup_entity: partial + final hash aggregate around one
    exchange (map-side combine present)."""
    plan = _plan(spark, "rollup_entity")
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial" in plan.lower()


@pytest.mark.parametrize(
    "name",
    ["rollup_entity", "fact_join_agg", "text_quality", "sim_bruteforce_topk"],
)
def test_no_python_udfs_in_plans(spark, name):
    """Parity + extension hot paths stay JVM-side (no BatchEvalPython /
    ArrowEvalPython nodes)."""
    plan = _plan(spark, name)
    assert "EvalPython" not in plan


def test_q3_shape_pushdown_and_topk(spark):
    """TPC-H Q3 shape: segment filter reaches the customer scan; the
    top-10 is a TakeOrderedAndProject, not a global sort."""
    plan = _plan(spark, "top_unshipped_orders")
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "TakeOrderedAndProject" in plan


def test_q5_shape_broadcasts_dims(spark):
    """TPC-H Q5 shape: every dimension join is a broadcast."""
    plan = _plan(spark, "regional_revenue")
    assert plan.count("BroadcastHashJoin") >= 3


def test_scalar_subquery_broadcasts(spark):
    """The 1-row global aggregate reaches every row via broadcast, never
    a shuffle or a driver collect."""
    plan = _plan(spark, "scalar_subquery_ratio")
    assert "BroadcastExchange" in plan


def test_range_join_is_equi_not_cartesian(spark):
    """The time-range self-join must extract user_id as the equi key —
    a CartesianProduct/BroadcastNestedLoop here would be O(n^2) rows at
    scale."""
    plan = _plan(spark, "events_before_purchase")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sliding_window_uses_expand(spark):
    """Hopping windows must be the Expand-node form (each row duplicated
    per overlapping window), not a join against a window table."""
    plan = _plan(spark, "sliding_window_rollup")
    assert "Expand" in plan
    assert "Join" not in plan


def test_capstone_stays_jvm_side(spark):
    """The composed training-corpus chain must contain no Python eval
    nodes anywhere — every stage is built-in expressions."""
    plan = _plan(spark, "training_corpus")
    assert "EvalPython" not in plan


def test_q7_shape_broadcasts_all_dims(spark):
    """nation_pair_trade_volume: both nation roles (hinted) + customer +
    supplier (sized under autoBroadcastJoinThreshold at this fixture,
    not hinted) broadcast; the only join that may shuffle is
    lineitem⋈orders."""
    plan = _plan(spark, "nation_pair_trade_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


#: Queries joining customer, supplier or part as a dimension: every
#: ``trade_lines`` caller plus the TPC-H/star queries that join those
#: tables directly. The tables grow with the data, so no hint may pin
#: them to a broadcast — Catalyst sizes them against the threshold.
GROWING_DIM_QUERIES = (
    "nation_trade_pagerank",
    "nation_trade_triangles",
    "bfs_shortest_hops",
    "cheapest_trade_route",
    "nation_trade_communities",
    "nation_trade_assortativity",
    "trade_community_modularity",
    "nation_trade_kcore",
    "nation_link_prediction",
    "nation_trade_anf",
    "trade_edge_truss_support",
    "nation_pair_trade_volume",
    "regional_revenue",
    "supplier_nation_profit",
    "sole_returner_suppliers",
    "cheapest_supplier_per_part",
    "returned_item_top_customers",
    "promo_revenue_ratio",
    "large_volume_customers",
    "disjunctive_brand_revenue",
    "supplier_value_concentration",
    "national_market_share",
    "top_revenue_supplier",
    "supplier_part_variety",
    "promo_heavy_suppliers",
    "star_schema_fk_audit",
    "brand_affinity_lift",
    "revenue_theil_decomposition",
)


def _depth(line: str) -> int:
    """Nesting depth of one line of a physical plan's tree string."""
    return len(line) - len(line.lstrip(" :+-"))


def _broadcast_tables(plan: str) -> set[str]:
    """Parquet tables a BroadcastExchange ships as read: scans inside the
    broadcast's own stage. Scans below a further exchange feed an
    aggregate or a shuffle first, so they are not broadcast as-is."""
    lines = plan.splitlines()

    def is_exchange(line: str) -> bool:
        return line.lstrip(" :+-").split(" ", 1)[0].endswith("Exchange")

    found: set[str] = set()
    for i, line in enumerate(lines):
        if not line.lstrip(" :+-").startswith("BroadcastExchange"):
            continue
        cut = None  # depth of an exchange whose subtree is skipped
        for sub in lines[i + 1 :]:
            if _depth(sub) <= _depth(line):
                break
            if cut is not None and _depth(sub) > cut:
                continue
            cut = _depth(sub) if is_exchange(sub) else None
            found.update(re.findall(r"/(\w+)\.parquet\]", sub))
    return found


@pytest.mark.parametrize("name", GROWING_DIM_QUERIES)
def test_growing_dims_not_force_broadcast(spark, monkeypatch, name):
    """With size-based broadcasting off, only hints can broadcast: no
    broadcast side of the query's initial plan — nor of any barrier
    input it materializes on the way — may scan customer, supplier or
    part."""
    plans: list[str] = []
    df_type = type(spark.range(0))
    cut = df_type.localCheckpoint

    def recording_cut(df, eager=True):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return cut(df, eager)

    monkeypatch.setattr(df_type, "localCheckpoint", recording_cut)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = REGISTRY[name].fn(spark, SF)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.set(key, saved)
    for plan in plans:
        assert not _broadcast_tables(plan) & {"customer", "supplier", "part"}, plan


def test_recsys_part_index_join_side_from_count(spark, monkeypatch):
    """recsys_negative_samples picks the join side of its row-numbered
    part index from the part count it already takes: above
    ``BROADCAST_ROW_BOUND`` no BroadcastExchange, however deep its
    subtree, scans part."""
    from covid19_etl_pipeline_spark.operators import partitioning

    monkeypatch.setattr(partitioning, "BROADCAST_ROW_BOUND", 0)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        lines = _plan(spark, "recsys_negative_samples").splitlines()
    finally:
        spark.conf.set(key, saved)

    broadcast_scans = set()
    for i, line in enumerate(lines):
        if line.lstrip(" :+-").startswith("BroadcastExchange"):
            for sub in lines[i + 1 :]:
                if _depth(sub) <= _depth(line):
                    break
                broadcast_scans.update(re.findall(r"/(\w+)\.parquet\]", sub))
    assert "part" not in broadcast_scans


def test_salted_join_scatters_key(spark):
    """salted_brand_revenue: the join key must be the composite
    (partkey, salt) — the physical partitioning no longer keys on the
    raw (skewable) partkey alone."""
    plan = _plan(spark, "salted_brand_revenue")
    assert "__salt" in plan
    assert "CartesianProduct" not in plan


def test_q21_shape_semi_and_anti(spark):
    plan = _plan(spark, "sole_returner_suppliers")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q13_outer_join_keeps_zero_order_customers(spark):
    """The priority predicate must live in the join, not a post-filter
    that would turn the outer join inner: plan keeps LeftOuter and no
    Filter on o_orderpriority sits above the join."""
    plan = _plan(spark, "order_count_distribution")
    assert "LeftOuter" in plan


def test_scd2_windows_share_one_exchange(spark):
    """All three SCD2 windows partition by custkey — exactly one
    hashpartitioning exchange on custkey may appear."""
    plan = _plan(spark, "scd2_customer_tiers")
    n_cust_exchanges = sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning(o_custkey" in line
    )
    assert n_cust_exchanges == 1, plan


def test_kmeans_assignment_broadcasts_centroids(spark):
    plan = _plan(spark, "kmeans_refined_centroids")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_stratified_sample_is_pure_filter(spark):
    """No shuffle at all before the final sort: sampling must not
    repartition."""
    plan = _plan(spark, "stratified_sample_documents")
    body = plan.split("Sort", 1)[-1]
    assert "Exchange hashpartitioning" not in body


def test_retrieval_hydration_broadcasts_hits(spark):
    plan = _plan(spark, "semantic_doc_retrieval")
    assert "BroadcastHashJoin" in plan


def test_q4_shape_semi_join_with_residual(spark):
    """late_shipment_priority_count: EXISTS compiles to ONE LeftSemi
    join carrying the non-equi lateness residual — no inner join that
    would multiply orders by their late lines, and the date band is
    pushed into the orders scan."""
    plan = _plan(spark, "late_shipment_priority_count")
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q10_shape_dims_broadcast_topk(spark):
    """returned_item_top_customers: customer + nation broadcast; the
    returnflag filter reaches the lineitem scan; top-20 avoids a
    global sort."""
    plan = _plan(spark, "returned_item_top_customers")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "EqualTo(l_returnflag,R)" in plan
    assert "TakeOrderedAndProject" in plan


def test_q12_shape_single_pass_conditional_agg(spark):
    """priority_class_line_counts: both counts come from ONE aggregate
    over ONE scan of each side (no per-class re-scan)."""
    plan = _plan(spark, "priority_class_line_counts")
    assert plan.count("Scan parquet") == 2


def test_q14_shape_broadcasts_part(spark):
    plan = _plan(spark, "promo_revenue_ratio")
    assert "BroadcastHashJoin" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_q19_shape_derives_pushable_disjunct_bounds(spark):
    """disjunctive_brand_revenue: Catalyst must derive pushable
    per-side bounds from the OR-of-ANDs predicate — the quantity
    disjunct union reaches the lineitem scan and the brand/size
    disjunct union reaches the part scan."""
    plan = _plan(spark, "disjunctive_brand_revenue")
    # each scan gets the union of its own disjunct bounds pushed down
    assert "PushedFilters: [IsNotNull(p_size), GreaterThanOrEqual(p_size,1)" in plan
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_q11_shape_scans_lineitem_once(spark):
    """supplier_value_concentration: threshold AND share both come from
    window aggs over the per-supplier rollup — lineitem is scanned
    exactly once (no second scan for the global total)."""
    plan = _plan(spark, "supplier_value_concentration")
    assert plan.count("Scan parquet") == 2  # lineitem + supplier dim


def test_q22_shape_anti_join_on_filtered_orders(spark):
    """dormant_premium_customers: the urgent-priority filter must push
    into the orders scan (the anti-join build holds only urgent
    orders, not all orders)."""
    plan = _plan(spark, "dormant_premium_customers")
    assert "LeftAnti" in plan
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan


def test_grouping_sets_single_expand_pass(spark):
    """grouping_sets_matrix: all three granularities come from ONE
    Expand + aggregate over ONE scan — not a UNION of re-scans."""
    plan = _plan(spark, "grouping_sets_matrix")
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_autocorr_single_user_exchange(spark):
    """autocorr_lag1_users: the daily rollup and the lag window share
    one hashpartitioning(user_id) exchange (subset-partitioning
    satisfies the (user_id, d) clustering)."""
    plan = _plan(spark, "autocorr_lag1_users")
    n = sum(
        1 for line in plan.splitlines() if "hashpartitioning(user_id" in line
    )
    assert n == 1, plan


def test_bm25_single_corpus_tokenize(spark):
    """bm25_doc_retrieval: the doc-side tokenize+explode subtree exists
    once (df comes from a window over tf, not a join-back); only the
    tiny 1-row stats aggregate reads documents a second time."""
    plan = _plan(spark, "bm25_doc_retrieval")
    assert plan.count("Scan parquet") == 2
    assert plan.count("Generate explode") == 1


def test_decontamination_broadcasts_eval_side(spark):
    """decontaminate_eval_overlap: the eval shingle set is the small
    (broadcast) side — the training shingle stream must NOT shuffle
    into a SortMergeJoin for the overlap probe."""
    plan = _plan(spark, "decontaminate_eval_overlap")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pmi_broadcasts_vocab_both_roles(spark):
    """bigram_pmi_collocations: unigram vocabulary joins in both word
    roles plus the scalar total — all three as broadcasts, so the
    bigram count stream never shuffles for a join."""
    plan = _plan(spark, "bigram_pmi_collocations")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan or plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_token_entropy_single_exchange(spark):
    """token_entropy_quality: spread() hash-partitions the scan by
    doc_id, and BOTH hash aggs ((doc_id, tok), then (doc_id)) are
    satisfied by that one partitioning via the subset rule — the only
    other exchange is the final sort's range partitioning."""
    plan = _plan(spark, "token_entropy_quality")
    n = sum(1 for line in plan.splitlines() if "hashpartitioning(doc_id" in line)
    assert n == 1, plan


def test_q6_all_filters_pushed(spark):
    """discount_revenue_forecast: the date/discount/quantity bands all
    reach the parquet scan as PushedFilters — at scale this query is
    pure pruned I/O."""
    plan = _plan(spark, "discount_revenue_forecast")
    pushed = next(line for line in plan.splitlines() if "PushedFilters" in line)
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_q8_broadcasts_all_dims(spark):
    """national_market_share: 7 joins — the orders⋈lineitem fact join
    may shuffle, but part/supplier/nation(x2)/region broadcast."""
    plan = _plan(spark, "national_market_share")
    assert plan.count("BroadcastHashJoin") >= 5


def test_q16_anti_join_before_distinct_count(spark):
    """supplier_part_variety: the complaint-supplier exclusion is a
    broadcast anti join; no shuffled anti join."""
    plan = _plan(spark, "supplier_part_variety")
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "LeftAnti" in plan and "BroadcastHashJoin" in plan
    )
    assert "SortMergeJoin LeftAnti" not in plan


def test_q20_semi_join_on_key_set(spark):
    """promo_heavy_suppliers: the heavy-supplier set applies as a
    broadcast LEFT SEMI join against the supplier dim."""
    plan = _plan(spark, "promo_heavy_suppliers")
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan


def test_rolling_median_no_python_and_bounded_frame(spark):
    """rolling_median_value: the median composes from built-in array
    functions (no EvalPython), and both exchanges key on user_id — the
    map-side partial agg shrinks the first shuffle to daily rows, so
    two small exchanges beat one raw-events repartition."""
    plan = _plan(spark, "rolling_median_value")
    assert "EvalPython" not in plan
    n = sum(1 for l in plan.splitlines() if "hashpartitioning(user_id" in l)
    assert n <= 2, plan


def test_temporal_split_single_user_exchange(spark):
    """temporal_split_events: the row_number window is the only
    user-keyed exchange; the audit rollup re-keys on (split, type)."""
    plan = _plan(spark, "temporal_split_events")
    n = sum(1 for l in plan.splitlines() if "hashpartitioning(user_id" in l)
    assert n == 1, plan
    assert "SinglePartition" not in plan


def test_simhash_pairs_broadcast_no_cartesian(spark):
    """simhash_near_pairs: the source-blocked pair join must never plan
    a cartesian product; the signature table is small enough to
    broadcast at any SF."""
    plan = _plan(spark, "simhash_near_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_dup_ngrams_broadcast_joinback(spark):
    """corpus_duplicate_ngrams: the frequent-shingle set (heavy tail
    only) broadcasts back onto the shingle stream — the corpus-side
    explode is never re-shuffled for the join."""
    plan = _plan(spark, "corpus_duplicate_ngrams")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_random_projection_is_map_only(spark):
    """random_projection_embeddings: pure higher-order array functions —
    no join, no aggregate, no Python eval; the only exchanges are
    spread()'s input scatter and the output sort."""
    plan = _plan(spark, "random_projection_embeddings")
    assert "EvalPython" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_cluster_sample_broadcasts_centroids_partitioned_windows(spark):
    """cluster_balanced_sample: centroid assignment is a broadcast
    nested loop (points never move for the distance pass) and every
    window is partitioned (vec_id / cid) — no single-task stage."""
    plan = _plan(spark, "cluster_balanced_sample")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SinglePartition" not in plan


def test_zipf_counts_two_stage_then_tiny_window(spark):
    """zipf_term_slope: token counting is a partial+final hash agg (the
    only corpus-scale pass); the unpartitioned rank window runs on the
    post-aggregation vocabulary only — upstream of it there is exactly
    one corpus-wide exchange (on the term key)."""
    plan = _plan(spark, "zipf_term_slope")
    assert plan.count("HashAggregate") >= 2
    n = sum(1 for line in plan.splitlines() if "hashpartitioning(t" in line)
    assert n == 1, plan


def test_unigram_lm_broadcasts_vocab(spark):
    """unigram_logprob_quality: the vocabulary and the corpus-total row
    broadcast onto the token stream — no shuffled join of the corpus."""
    plan = _plan(spark, "unigram_logprob_quality")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_moments_single_pass_partial_agg(spark):
    """distribution_moments: skewness/kurtosis are ONE-PASS streaming
    moment aggregates — partial+final hash agg around one exchange, no
    second scan of lineitem (the oracle needs two passes; Spark must
    not)."""
    plan = _plan(spark, "distribution_moments")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("HashAggregate") >= 2


def test_bloom_runtime_filter_injects(spark):
    """bloom_pruned_revenue at scale: with the size thresholds crossed
    (forced here), Catalyst's InjectRuntimeFilter builds a bloom filter
    from the selective orders side and pushes might_contain() into the
    lineitem scan — probe-side rows are pruned BEFORE the join shuffle."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(spark, "bloom_pruned_revenue")
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_close_order_pairs_equi_key_no_cartesian(spark):
    """close_order_pairs: the range predicate must ride on the custkey
    EQUI join (co-partitioned, fan-out bounded per key) — never a
    cartesian/nested-loop plan."""
    plan = _plan(spark, "close_order_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prefix_jaccard_no_cartesian_all_equi(spark):
    """prefix_jaccard_pairs: candidate generation is an equi-join on
    prefix shingles and verification an equi-join on doc ids — the
    brute-force O(n^2) shape (cartesian) must never appear."""
    plan = _plan(spark, "prefix_jaccard_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_full_outer_reuses_rollup_partitioning(spark):
    """period_revenue_reconciliation: the full-outer join must reuse
    the custkey hash partitioning its two input rollups already
    produced — exactly 2 custkey exchanges (one per rollup side), none
    added for the join itself."""
    plan = _plan(spark, "period_revenue_reconciliation")
    assert "FullOuter" in plan
    n = sum(1 for l in plan.splitlines() if "Exchange hashpartitioning(o_custkey" in l)
    assert n == 2, plan


def test_pagerank_stays_jvm_side(spark):
    """nation_trade_pagerank: iterative loop composed of joins/aggs —
    never a Python-eval node; iteration state is checkpointed (plan
    shows materialized RDD scans, not a 3x-unrolled lineage)."""
    plan = _plan(spark, "nation_trade_pagerank")
    assert "EvalPython" not in plan
    assert "Scan ExistingRDD" in plan


def test_bpe_counts_are_two_stage_vocab_aggs(spark):
    """bpe_merge_induction: pair counting is partial+final hash agg on
    the pair key; the winning rule rides a 1-row broadcast (cross) —
    all JVM-side."""
    plan = _plan(spark, "bpe_merge_induction")
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastNestedLoopJoin" in plan  # 1-row merge-rule broadcast
    assert "EvalPython" not in plan


def test_approx_top_k_merges_partial_sketches(spark):
    """approx_top_event_types: the sketch must aggregate as partial
    per-partition sketches merged at the final stage — no groupBy
    shuffle of raw distinct keys."""
    plan = _plan(spark, "approx_top_event_types")
    assert "partial_approx_top_k" in plan
    assert "Exchange hashpartitioning(event_type" not in plan


def test_negative_sampling_broadcasts_item_index_no_cartesian(spark):
    """recsys_negative_samples: draws index-join into the broadcast
    item dim and candidates anti-join interactions — never a
    users-by-items cartesian."""
    plan = _plan(spark, "recsys_negative_samples")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_weighted_sample_uses_take_ordered(spark):
    """weighted_sample_documents: top-k by sample key must plan
    per-partition heaps (TakeOrderedAndProject), not a global sort."""
    plan = _plan(spark, "weighted_sample_documents")
    assert "TakeOrderedAndProject" in plan


def test_epoch_upsample_is_narrow_until_sort(spark):
    """epoch_upsample_documents: repeat materialization is explode over
    narrow ops — no join, no aggregate before the output sort."""
    plan = _plan(spark, "epoch_upsample_documents")
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Partition-pruning at runtime (DPP): joining a partitioned fact
    to a filtered dimension must inject a dynamicpruning subquery into
    the fact scan — only matching partitions are read. This is the
    serving layout's replacement for the reference's SQLite indices
    working at JOIN time, not just for literal predicates."""
    from pyspark.sql import functions as F

    from covid19_etl_pipeline_spark.catalog import load_table
    from covid19_etl_pipeline_spark.sources.io import write_parquet

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").withColumn(
        "ship_year", F.year(F.col("l_shipdate").cast("date"))
    )
    fact_path = str(tmp_path / "fact")
    write_parquet(li, fact_path, partition_by=["ship_year"])
    dim = spark.createDataFrame([(1996, "keep")], ["ship_year", "tag"]).filter(
        F.col("tag") == "keep"
    )
    j = (
        spark.read.parquet(fact_path)
        .join(dim, "ship_year")
        .groupBy("ship_year")
        .agg(F.sum("l_quantity"))
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_leakage_split_left_join_preserves_all_docs(spark):
    """leakage_safe_split: every document must appear exactly once —
    the cluster-label join is a left outer (singletons keep their own
    id), never an inner join that would drop unclustered docs."""
    from covid19_etl_pipeline_spark.plans.queries import REGISTRY as R

    df = R["leakage_safe_split"].fn(spark, SF)
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert df.count() == n_docs


def test_psi_single_scan_two_stage_aggs(spark):
    """price_distribution_psi: period tagging is a map-side CASE over
    ONE orders scan; the (period, bin) matrix is materialized once and
    feeds both consumers (checkpoint barrier — the scan must not
    duplicate per consumer)."""
    plan = _plan(spark, "price_distribution_psi")
    assert "Scan parquet" not in plan or plan.count("Scan parquet") <= 1, plan
    assert "Scan ExistingRDD" in plan  # the materialized counts matrix


def test_timed_conversion_no_cartesian(spark):
    """timed_conversion_rate: the 7-day window predicate rides the
    user equi-join — never a cartesian/nested-loop."""
    plan = _plan(spark, "timed_conversion_rate")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_all_user_keyed_no_window(spark):
    """windowed_funnel_conversion: the step cascade is min-agg joins
    co-keyed on user_id — no window operator, no cartesian, and every
    exchange hashes on user_id until the final step rollup."""
    plan = _plan(spark, "windowed_funnel_conversion")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cohort_sizes_broadcast(spark):
    """cohort_retention_matrix: the cohort-size table (weeks-sized)
    must broadcast back onto the activity grid, never shuffle it."""
    plan = _plan(spark, "cohort_retention_matrix")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ohlc_windows_share_one_sort(spark):
    """user_value_ohlc_daily: both row_number windows partition on
    (user_id, d) — exactly ONE hash exchange on those keys feeds the
    whole window + rollup pipeline."""
    plan = _plan(spark, "user_value_ohlc_daily")
    n = sum(
        1
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "user_id" in l and "d#" in l
    )
    assert n == 1, plan
    assert "SinglePartition" not in plan


def test_triangles_all_equi_joins(spark):
    """nation_trade_triangles: triangle enumeration is two equi-joins
    over the canonical edge list — no cartesian/nested-loop, and the
    edge list is materialized once (ExistingRDD), not recomputed per
    join role."""
    plan = _plan(spark, "nation_trade_triangles")
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan


def test_whitening_stats_broadcast(spark):
    """embedding_dimension_whitening: the dims-sized stats rollup
    broadcasts back onto the exploded stream; no sort anywhere before
    the final output ordering."""
    plan = _plan(spark, "embedding_dimension_whitening")
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_skew_report_bounded_driver_state(spark):
    """join_key_skew_report: top offenders come from TakeOrdered (k
    rows), never a global sort + unbounded collect; the mean is a
    broadcast scalar."""
    plan = _plan(spark, "join_key_skew_report")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_division_broadcasts_universe(spark):
    """customers_active_every_quarter: the period universe is a 1-row
    broadcast onto the per-customer rollup — never a shuffled join,
    and the distinct-count is the partial-aggregable form."""
    plan = _plan(spark, "customers_active_every_quarter")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cusum_collapses_before_window(spark):
    """cusum_changepoint_days: the running window consumes the per-day
    collapse (partial+final agg), and series stats broadcast back."""
    plan = _plan(spark, "cusum_changepoint_days")
    assert "partial_sum" in plan
    assert "BroadcastHashJoin" in plan


def test_attribution_single_user_exchange(spark):
    """first_touch_attribution: lag, session-sum, and first_value all
    partition by user (or a superset) — the fact shuffles on user_id
    exactly once."""
    plan = _plan(spark, "first_touch_attribution")
    n = sum(
        1
        for l in plan.splitlines()
        if "Exchange hashpartitioning(user_id" in l
    )
    assert n == 1, plan


def test_weighted_median_partitioned_window(spark):
    """weighted_median_unit_price: cumulative-mass window partitions on
    the group key — no cartesian, no Python."""
    plan = _plan(spark, "weighted_median_unit_price")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "Window" in plan


def test_sweepline_aggregates_before_global_window(spark):
    """open_orders_timeline: endpoint deltas partial-aggregate to per-day
    nets BEFORE the single date-ordered window — the (documented)
    post-agg global window runs on days-sized input, so a partial
    aggregate must appear below it."""
    plan = _plan(spark, "open_orders_timeline")
    assert "partial_sum" in plan
    assert "Union" in plan


def test_bitmap_distinct_all_partial_aggregable(spark):
    """bitmap_exact_distinct_users: both levels are hash aggregates with
    map-side partials — no distinct Expand, no Python."""
    plan = _plan(spark, "bitmap_exact_distinct_users")
    assert "bitmap_construct_agg" in plan
    assert "Expand" not in plan
    assert "EvalPython" not in plan


def test_seasonal_broadcasts_dow_component(spark):
    """seasonal_decomposition_daily: the 7-row DOW seasonal table
    broadcasts back onto the daily series."""
    plan = _plan(spark, "seasonal_decomposition_daily")
    assert "BroadcastHashJoin" in plan


def test_k_anonymity_no_join(spark):
    """k_anonymity_audit: one rollup + filter — no join of any kind."""
    plan = _plan(spark, "k_anonymity_audit")
    assert "Join" not in plan
    assert "partial_count" in plan


def test_bigram_lm_broadcasts_stats(spark):
    """bigram_lm_perplexity: the vocabulary-sized count tables broadcast
    onto the corpus bigram stream — scoring never shuffles the corpus,
    and no Python touches the hot path."""
    plan = _plan(spark, "bigram_lm_perplexity")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan  # 1-row vocab scalar
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_correlation_matrix_single_pass(spark):
    """measure_correlation_matrix: all six co-moments in ONE aggregate
    over one scan — no join, no per-pair re-scan."""
    plan = _plan(spark, "measure_correlation_matrix")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_pq_adc_broadcasts_lookup(spark):
    """pq_adc_topk: codebook and query lookup tables broadcast; the
    codes side is never shuffled for the ADC join."""
    plan = _plan(spark, "pq_adc_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_frame_sample_prunes_payload(spark):
    """multimodal_frame_sample: metadata-only schedule — the scan reads
    doc_id/source/n_chars, never the text payload."""
    plan = _plan(spark, "multimodal_frame_sample")
    read = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "n_chars" in read
    assert "text" not in read


def test_bfs_rounds_behind_checkpoint_barrier(spark):
    """bfs_shortest_hops: the result reads the final round's
    materialized labels (checkpoint barrier) — the fact joins ran once
    during the rounds, and the output plan re-executes none of them."""
    plan = _plan(spark, "bfs_shortest_hops")
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_throttle_twap_partitioned_windows(spark):
    """throttled_events / twap_user_value: entity-keyed windows only —
    no SinglePartition at raw grain, no Python."""
    for name in ("throttled_events", "twap_user_value"):
        plan = _plan(spark, name)
        assert "Window" in plan
        assert "SinglePartition" not in plan
        assert "EvalPython" not in plan


def test_month_digests_partial_aggregable(spark):
    """orders_month_digests: xor digests accumulate map-side (partial
    bit_xor before the exchange) — the mergeable-fingerprint contract."""
    plan = _plan(spark, "orders_month_digests")
    assert "partial_bit_xor" in plan or "partial" in plan
    assert "Join" not in plan


def test_bpe_apply_broadcasts_rules(spark):
    """bpe_apply_merges: both merge-rule tables reach the corpus stream
    as 1-row broadcasts (rule application is map-only); no Python."""
    plan = _plan(spark, "bpe_apply_merges")
    assert plan.count("BroadcastNestedLoopJoin") >= 2
    assert "EvalPython" not in plan


def test_novelty_no_cartesian(spark):
    """doc_novelty_fraction: shingle-keyed equi join only."""
    plan = _plan(spark, "doc_novelty_fraction")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_incremental_dedup_probe_shapes(spark):
    """incremental_corpus_dedup: the batch-survivor side is a LeftAnti
    probe (the exact-stage LeftSemi ran inside the checkpointed exdup
    subtree); no cartesian anywhere; no Python."""
    plan = _plan(spark, "incremental_corpus_dedup")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_cheapest_route_behind_checkpoint_barrier(spark):
    """cheapest_trade_route: rounds materialize; the output plan
    re-executes none of the fact joins."""
    plan = _plan(spark, "cheapest_trade_route")
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_multi_regression_single_pass(spark):
    """multi_regression_price: all nine co-moments in one aggregate —
    no join, one scan."""
    plan = _plan(spark, "multi_regression_price")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_feature_hashing_no_pivot_no_join(spark):
    """feature_hashing_vectors: sum-of-CASE builds all dims in one
    per-doc aggregate — no pivot shuffle, no join, no Python."""
    plan = _plan(spark, "feature_hashing_vectors")
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_loo_encoding_broadcasts_category_stats(spark):
    """loo_target_encoding: the per-segment rollup broadcasts back onto
    the fact — no fact-sized shuffle for the join, no window."""
    plan = _plan(spark, "loo_target_encoding")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_frequent_pairs_prunes_before_pair_join(spark):
    """frequent_part_pairs: pairs expand in-basket (Generate over the
    per-order item arrays — the PCY twin's map-side shape, no
    order-keyed self-join), and the baskets are built from the
    a-priori-PRUNED item set (the freq join sits below the basket
    aggregate)."""
    plan = _plan(spark, "frequent_part_pairs")
    assert "Generate explode" in plan
    # basket collection (collect_set) feeds the pair Generate — the
    # self-join form would show a second orderkey Exchange + Join here
    assert "ObjectHashAggregate" in plan
    assert "CartesianProduct" not in plan
    # a-priori prune: the frequent-item join below the basket agg
    assert "Join" in plan


def test_trending_broadcasts_max_date(spark):
    """trending_event_types: 1-row max-date scalar broadcasts; decayed
    sum is a partial-aggregable single pass."""
    plan = _plan(spark, "trending_event_types")
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial" in plan.lower()


def test_acf_single_window_single_agg(spark):
    """acf_multi_lag: seven lags share ONE window pass and seven corrs
    ONE aggregate — plan has exactly one Window node."""
    plan = _plan(spark, "acf_multi_lag")
    assert plan.count("Window") == 1


def test_cluster_separation_broadcast_centroids(spark):
    """embedding_cluster_separation: centroids broadcast onto members;
    no cartesian beyond the tiny labels x labels pair join."""
    plan = _plan(spark, "embedding_cluster_separation")
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_paged_orders_pushes_cursor_and_takes_ordered(spark):
    """paged_orders: the keyset cursor reaches the scan as a pushed
    range predicate on the leading key, and the page is a
    TakeOrderedAndProject — no global sort at any page depth."""
    plan = _plan(spark, "paged_orders")
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters" in plan


def test_kmv_sketch_behind_checkpoint_merge_from_sketch(spark):
    """kmv_distinct_users: the global '__all__' estimate reads the
    CHECKPOINTED per-type sketches (min-wise merge), not the fact —
    structural proof of mergeability."""
    plan = _plan(spark, "kmv_distinct_users")
    assert "Scan ExistingRDD" in plan  # merged pool reads the sketch artifact


def test_holt_forecast_hand_computed(spark, tmp_path):
    """holt_forecast_users recursion against hand arithmetic:
    series y = [2, 4, 6] (one user, 3 days), alpha=.5, gamma=.3:
      l1=2, b1=2
      t2: l=.5*4+.5*(2+2)=4,  b=.3*(4-2)+.7*2=2
      t3: l=.5*6+.5*(4+2)=6,  b=.3*(6-4)+.7*2=2
    forecast = 6 + 3*2 = 12."""
    import datetime as dt

    from covid19_etl_pipeline_spark.plans.queries import REGISTRY

    rows = []
    eid = 0
    for day, n in [(1, 2), (2, 4), (3, 6)]:
        for _ in range(n):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, day, 12, 0), 7, "view", 1.0, ""))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = REGISTRY["holt_forecast_users"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_days"], r["level"], r["trend"], r["forecast_3day"]) == (3, 6.0, 2.0, 12.0)
