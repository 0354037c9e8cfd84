"""Empty- and degenerate-input behavior: operators must return empty
(or identity) results, never crash — the contract that matters when a
daily partition is missing or a filter eliminates everything upstream.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from covid19_etl_pipeline_spark.operators.aggregates import null_profile
from covid19_etl_pipeline_spark.operators.dedup import (
    connected_components,
    drop_exact_dups,
    drop_near_dups,
    lsh_candidate_pairs,
)
from covid19_etl_pipeline_spark.operators.setops import upsert_on_key
from covid19_etl_pipeline_spark.streaming.stateful import session_rollup

EVENTS = "event_id long, ts timestamp, user_id long, event_type string, value double"
DOCS = "doc_id long, text string"


def _empty(spark, schema):
    return spark.createDataFrame([], schema)


def test_session_rollup_empty(spark):
    assert session_rollup(_empty(spark, EVENTS)).count() == 0


def test_null_profile_empty(spark):
    row = null_profile(_empty(spark, DOCS)).first()
    assert row["n_rows"] == 0
    # sum over zero rows is null — count-style semantics preserved as null
    assert row["doc_id_nulls"] is None and row["text_nulls"] is None


def test_lsh_pairs_empty_and_single_doc(spark):
    assert lsh_candidate_pairs(_empty(spark, DOCS), "doc_id").count() == 0
    one = spark.createDataFrame([(1, "only one document here")], DOCS)
    assert lsh_candidate_pairs(one, "doc_id").count() == 0


def test_connected_components_empty_edges(spark):
    edges = _empty(spark, "a long, b long")
    assert connected_components(edges, "a", "b").count() == 0


def test_drop_near_dups_empty_labels_keeps_all(spark):
    docs = spark.createDataFrame([(1, "a"), (2, "b")], DOCS)
    labels = _empty(spark, "node long, label long")
    assert drop_near_dups(docs, "doc_id", labels).count() == 2


def test_drop_exact_dups_all_identical(spark):
    docs = spark.createDataFrame([(i, "same text") for i in range(5)], DOCS)
    out = drop_exact_dups(docs, "doc_id").collect()
    assert len(out) == 1 and out[0]["doc_id"] == 0


def test_upsert_empty_sides(spark):
    cur = spark.createDataFrame([(1, "x")], "k long, v string")
    empty = _empty(spark, "k long, v string")
    assert upsert_on_key(cur, empty, ("k",)).count() == 1
    assert upsert_on_key(empty, cur, ("k",)).count() == 1
    assert upsert_on_key(empty, empty, ("k",)).count() == 0


def test_lloyd_fewer_points_than_k(spark):
    """n < k: only centroids that exist get members; no crash, every
    point still assigned exactly once."""
    from covid19_etl_pipeline_spark.operators.similarity import lloyd_iterations

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    assigned, cent = lloyd_iterations(emb, k=8, iters=2)
    rows = assigned.collect()
    assert len(rows) == 2
    assert len({r["pid"] for r in rows}) == 2
    assert cent.count() <= 2


def test_salted_join_left_preserves_unmatched(spark):
    from covid19_etl_pipeline_spark.operators.partitioning import salted_equi_join

    big = spark.createDataFrame([(1, "x"), (9, "orphan")], ["k", "v"])
    small = spark.createDataFrame([(1, "dim")], ["k", "name"])
    out = salted_equi_join(big, small, "k", salt=4, how="left").collect()
    assert len(out) == 2
    by_k = {r["k"]: r["name"] for r in out}
    assert by_k[1] == "dim" and by_k[9] is None


def test_pack_sequences_invariants(spark):
    """Packing is a partition of the corpus: every doc lands in exactly
    one bin, bins never exceed budget + one straddling doc, and the
    assignment is stable under repartitioning."""
    from covid19_etl_pipeline_spark.plans.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    bins = REGISTRY["pack_training_sequences"].fn(spark, sf).collect()
    n_docs = sum(r["n_docs"] for r in bins)
    from covid19_etl_pipeline_spark.catalog import load_table

    assert n_docs == load_table(spark, sf, "documents").count()
    assert all(r["bin_id"] >= 0 for r in bins)
    max_doc_tokens = 512  # docs are short; loose straddler bound
    assert all(r["total_tokens"] < 512 + max_doc_tokens for r in bins)


def test_quantize_codes_bounded(spark):
    """Symmetric absmax quantization: every code within [-127, 127],
    reconstruction error within scale/254 (+ float slack)."""
    from covid19_etl_pipeline_spark.plans.queries import REGISTRY

    rows = (
        REGISTRY["quantize_embeddings_int8"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert len(rows) == 200
    for r in rows:
        # 1e-6 slack: max_abs_err is rounded to 6dp in-query and can
        # land up to 5e-7 above the exact scale/254 bound
        assert r["max_abs_err"] <= r["scale"] / 254.0 + 1e-6
        # checksum of 64 codes each in [-127,127]
        assert abs(r["q_checksum"]) <= 64 * 127


def test_token_entropy_bounds(spark):
    """Shannon entropy of a token distribution is bounded by
    [0, ln(distinct_tokens)]; token totals dominate distinct counts."""
    import math

    from covid19_etl_pipeline_spark.plans.queries import REGISTRY

    rows = (
        REGISTRY["token_entropy_quality"].fn(spark, "/root/testdata/sf0.001").collect()
    )
    assert rows
    for r in rows:
        assert r["n_tokens"] >= r["distinct_tokens"] >= 1
        assert -1e-4 <= r["token_entropy"] <= math.log(r["distinct_tokens"]) + 1e-4


def test_transition_probabilities_normalize(spark):
    """Per from-state transition probabilities sum to 1 (rounding
    slack), and total pair count = total events - one per user (each
    user's last event has no successor)."""
    from collections import defaultdict

    from covid19_etl_pipeline_spark.catalog import load_table
    from covid19_etl_pipeline_spark.plans.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["next_event_training_pairs"].fn(spark, sf).collect()
    by_from = defaultdict(float)
    n_pairs = 0
    for r in rows:
        by_from[r["from_type"]] += r["transition_p"]
        n_pairs += r["n"]
    for ft, s in by_from.items():
        assert abs(s - 1.0) < 0.005, (ft, s)
    ev = load_table(spark, sf, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert n_pairs == n_events - n_users


def test_temporal_split_holds_out_two_per_user(spark):
    """The leave-last-out split holds out exactly 2 events per user
    (every sf0.001 user has >= 2 events) and partitions the table."""
    from covid19_etl_pipeline_spark.catalog import load_table
    from covid19_etl_pipeline_spark.plans.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["temporal_split_events"].fn(spark, sf).collect()
    test_n = sum(r["n_events"] for r in rows if r["split"] == "test")
    total = sum(r["n_events"] for r in rows)
    ev = load_table(spark, sf, "events")
    assert total == ev.count()
    assert test_n == 2 * ev.select("user_id").distinct().count()


def test_decontamination_fraction_bounded(spark):
    """Contamination is a fraction of the doc's own distinct shingle
    set — always in (0, 1]; match counts are positive."""
    from covid19_etl_pipeline_spark.plans.queries import REGISTRY

    rows = (
        REGISTRY["decontaminate_eval_overlap"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert rows
    for r in rows:
        assert 0.0 < r["contamination"] <= 1.0
        assert r["shared_shingles"] >= 1 and r["matched_eval_docs"] >= 1


def test_corpus_duplicate_ngrams_fractions_bounded(spark):
    """The cross-doc duplication audit reports a fraction of the doc's
    own distinct shingles — (0, 1], never more dup shingles than total."""
    from covid19_etl_pipeline_spark.plans.queries import REGISTRY

    rows = (
        REGISTRY["corpus_duplicate_ngrams"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert rows
    for r in rows:
        assert 1 <= r["dup_shingles"] <= r["n_shingles"]
        assert 0.0 < r["dup_fraction"] <= 1.0


def test_random_projection_shape_and_isometry(spark):
    """SRP output is k=8 wide for every vector and, per Johnson-
    Lindenstrauss, preserves squared norms in expectation: the mean
    norm_ratio over the corpus must sit near 1 (loose 2x band — the
    variance of a k=8 projection is large per-vector, tight in mean)."""
    from covid19_etl_pipeline_spark.plans.queries import REGISTRY

    rows = (
        REGISTRY["random_projection_embeddings"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert rows
    mean_ratio = sum(r["norm_ratio"] for r in rows) / len(rows)
    for r in rows:
        assert len(r["projection"]) == 8
        assert r["norm_ratio"] > 0
    assert 0.5 < mean_ratio < 2.0


def test_cluster_balanced_sample_covers_clusters(spark):
    """At most 5 sampled vectors per cluster, ranks are 1..n without
    gaps, and every reported cluster id is one of the 8 centroids."""
    from collections import defaultdict

    from covid19_etl_pipeline_spark.plans.queries import REGISTRY

    rows = (
        REGISTRY["cluster_balanced_sample"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert rows
    per_cluster = defaultdict(list)
    for r in rows:
        assert 0 <= r["cluster_id"] < 8
        assert r["rk"] <= min(5, r["cluster_size"])
        per_cluster[r["cluster_id"]].append(r["rk"])
    for ranks in per_cluster.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_zipf_slope_negative_and_bounded(spark):
    """A frequency-ranked vocabulary always fits with non-positive
    slope (counts are non-increasing in rank) and r2 in [0, 1]."""
    from covid19_etl_pipeline_spark.plans.queries import REGISTRY

    row = (
        REGISTRY["zipf_term_slope"].fn(spark, "/root/testdata/sf0.001").first()
    )
    assert row["n_terms"] >= 2
    assert row["zipf_slope"] <= 0.0
    assert 0.0 <= row["r2"] <= 1.0


def test_unigram_logprob_covers_all_docs(spark):
    """Every document gets an LM score (all tokens are in-vocabulary by
    construction), mean log-prob is negative, and perplexity >= 1."""
    from covid19_etl_pipeline_spark.catalog import load_table
    from covid19_etl_pipeline_spark.plans.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["unigram_logprob_quality"].fn(spark, sf).collect()
    assert len(rows) == load_table(spark, sf, "documents").count()
    for r in rows:
        assert r["n_tokens"] >= 1
        assert r["mean_logprob"] < 0.0
        assert r["perplexity"] >= 1.0


def test_kaplan_meier_survival_invariants(spark):
    """Life-table invariants: S(t) is non-increasing in (0, 1]; the
    at-risk count is non-increasing in duration; events + censored at a
    duration never exceed the subjects still at risk there."""
    from covid19_etl_pipeline_spark.plans.queries import REGISTRY

    rows = (
        REGISTRY["kaplan_meier_retention"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert rows, "life table must not be empty"
    prev_s, prev_risk = 1.0 + 1e-9, None
    for r in rows:  # already ordered by duration_p
        assert 0.0 < r["survival"] <= 1.0 + 1e-9
        assert r["survival"] <= prev_s + 1e-9
        assert r["n_churned"] + r["n_censored"] <= r["n_at_risk"]
        if prev_risk is not None:
            assert r["n_at_risk"] <= prev_risk
        prev_s, prev_risk = r["survival"], r["n_at_risk"]
    # every subject leaves the risk set exactly once
    assert sum(r["n_churned"] + r["n_censored"] for r in rows) == rows[0]["n_at_risk"]


def test_mann_whitney_u_bounds(spark):
    """U is bounded by n1*n2; the tie-corrected z is finite; bucketed
    midranks conserve total rank mass (checked implicitly: U plus its
    mirror equals n1*n2)."""
    from covid19_etl_pipeline_spark.plans.queries import REGISTRY

    r = (
        REGISTRY["mann_whitney_price_drift"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()[0]
    )
    n1, n2 = r["n_base"], r["n_curr"]
    assert 0.0 <= r["u_stat"] <= n1 * n2
    assert abs(r["z_score"]) < 100
