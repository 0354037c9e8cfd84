"""Local replica of the driver's correctness gate: run every registry
query on Spark AND its DuckDB oracle on the same parquet, compare
row-count, column names, and order-insensitive values.

This is the engine's primary end-to-end correctness layer (SURVEY §5:
the oracle-check layer the reference lacks).
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from covid19_etl_pipeline_spark.catalog import TABLES, table_path
from covid19_etl_pipeline_spark.operators.partitioning import CHECKPOINT_DIR_CONF
from covid19_etl_pipeline_spark.plans.queries import REGISTRY

#: Default sf0.001 keeps the full sweep fast; set PARITY_SF_DIR to run
#: the identical gate at the driver's sf0.01 (or any other scale) —
#: catches scale-dependent divergence (AQE re-plans, broadcast flips).
SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")

#: The oracle queries that cut lineage (``partitioning.barrier``) at the
#: default sf0.001. Pinned, so a query that gains or loses a cut is a
#: reviewed change, and so the storage-backed sweep below covers every
#: query whose cuts ``CHECKPOINT_DIR_CONF`` has to reach.
LINEAGE_CUTTING = frozenset(
    {
        "anomaly_mad_events", "association_rules_parts", "bfs_shortest_hops",
        "bigram_lm_perplexity", "bigram_pmi_collocations", "bpe_apply_merges",
        "bpe_fertility_by_lang", "bpe_merge_induction", "brand_affinity_lift",
        "cheapest_trade_route", "containment_doc_pairs",
        "corpus_duplicate_ngrams", "cross_source_dup_flow",
        "decontaminate_eval_overlap", "doremi_domain_weights",
        "dsir_importance_weights", "dup_cluster_size_distribution",
        "dup_clusters", "embedding_cluster_separation",
        "embedding_curation_pipeline", "embedding_neardup_pairs",
        "embedding_outlier_docs", "embedding_pca_top_component",
        "eval_embedding_leakage", "ewma_daily_value", "frequent_part_pairs_pcy",
        "fuzzy_part_duplicates", "incremental_corpus_dedup",
        "incremental_embedding_dedup", "ivf_multiprobe_recall",
        "kmeans_refined_centroids", "kmv_distinct_users", "leakage_safe_split",
        "lsh_banding_recall", "maximal_repeated_substrings",
        "minhash_estimate_accuracy", "mutual_nearest_embeddings",
        "mutual_nearest_ivf", "mutual_nn_ivf_recall", "nation_link_prediction",
        "nation_trade_anf", "nation_trade_communities", "nation_trade_kcore",
        "nation_trade_pagerank", "nation_trade_triangles",
        "near_dedup_survivors", "neardup_threshold_sweep",
        "ngram_jaccard_pairs", "prefix_jaccard_pairs", "price_distribution_psi",
        "quality_gate_threshold_sweep", "semdedup_survivors",
        "semdedup_two_level_survivors", "sim_ivf_topk", "simhash_near_pairs",
        "source_shingle_overlap", "trade_community_modularity",
        "trade_edge_truss_support", "training_corpus",
        "unigram_logprob_quality",
    }
)


def _shard(names: list[str]) -> list[str]:
    """Optional process-level sharding for the full-registry sweep:
    ``PARITY_SHARD=i/n`` selects every n-th query (round-robin by
    sorted index, deterministic). ``tools/partest.py`` launches one
    pytest process per shard so the ~4-minute serial sweep runs in
    parallel on the 32-core box without pytest-xdist (not shipped in
    this environment). Unset → full sweep (the CI gate)."""
    spec = os.environ.get("PARITY_SHARD", "")
    if not spec:
        return names
    i, n = (int(p) for p in spec.split("/"))
    return [q for idx, q in enumerate(names) if idx % n == i]


ORACLE_QUERIES = _shard(sorted(n for n, s in REGISTRY.items() if s.oracle is not None))
ROWS_ONLY_QUERIES = _shard(sorted(n for n, s in REGISTRY.items() if s.oracle is None))


def _duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
    return con


def _normalize(value):
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        # collapse float noise below the rounding applied in-query
        return round(value, 9)
    return value


def _row_set(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        tuple(str(_normalize(row[i])) for i in order) for row in rows
    )


@pytest.fixture
def cuts(monkeypatch):
    """Lineage cuts made while the test runs, by DataFrame method:
    ``localCheckpoint`` (executor-local) and ``checkpoint`` (storage)."""
    counts = {"localCheckpoint": 0, "checkpoint": 0}
    for method in counts:
        real = getattr(ClassicDataFrame, method)

        def counted(self, *args, _method=method, _real=real, **kwargs):
            counts[_method] += 1
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(ClassicDataFrame, method, counted)
    return counts


def _assert_matches_oracle(spark, name):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    con = _duck_connection(SF_DIR)
    rel = con.execute(spec.oracle)
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    # degenerate-parity guard: an empty result trivially "matches" an
    # empty oracle while exercising nothing (caught twice: a k-core
    # threshold above the backbone's degree range, an anti join whose
    # membership side covered every row). Every query is required to
    # produce rows at every test SF — make the predicate selective at
    # the smallest scale, not vacuous.
    assert spark_rows, f"{name}: both engines returned 0 rows — vacuous parity"
    s_set, d_set = _row_set(spark_rows, spark_cols), _row_set(duck_rows, duck_cols)
    mismatches = [
        (a, b) for a, b in zip(s_set, d_set) if a != b
    ]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:5]}"


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, name, cuts):
    _assert_matches_oracle(spark, name)
    if "PARITY_SF_DIR" not in os.environ:
        assert (sum(cuts.values()) > 0) == (name in LINEAGE_CUTTING), (
            f"{name}: {cuts} lineage cuts — update LINEAGE_CUTTING"
        )


@pytest.mark.parametrize("name", _shard(sorted(LINEAGE_CUTTING)))
def test_storage_backed_barriers_match_oracle(spark, name, cuts, tmp_path):
    """``CHECKPOINT_DIR_CONF`` covers the whole engine: with it set, every
    lineage cut of the query is a storage-backed checkpoint under the
    configured dir (none is executor-local) and the rows still match
    the oracle. Each checkpoint leaves one ``rdd-<id>`` dir — empty for
    an empty frame, which has no partitions to write."""
    ckpt = tmp_path / "ckpt"
    spark.conf.set(CHECKPOINT_DIR_CONF, str(ckpt))
    try:
        _assert_matches_oracle(spark, name)
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    assert cuts["localCheckpoint"] == 0, f"{name}: {cuts}"
    rdd_dirs = [d for _, ds, _ in os.walk(ckpt) for d in ds if d.startswith("rdd-")]
    assert len(rdd_dirs) == cuts["checkpoint"] > 0, f"{name}: {cuts} {rdd_dirs}"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_runs(spark, name):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, SF_DIR)
    assert sdf.count() >= 0
    assert sdf.columns
