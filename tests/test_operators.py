"""Operator unit tests on tiny inline fixtures (SURVEY §5 style)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from covid19_etl_pipeline_spark.operators.filters import filter_in_list
from covid19_etl_pipeline_spark.operators.joins import (
    anti_join_membership,
    broadcast_dim_join,
    semi_join_membership,
)
from covid19_etl_pipeline_spark.operators.partitioning import salted_equi_join, spread
from covid19_etl_pipeline_spark.operators.projection import (
    cast_if_exists,
    select_rename,
    with_date_parts,
)
from covid19_etl_pipeline_spark.operators.setops import union_by_name, upsert_on_key
from covid19_etl_pipeline_spark.operators.windows import moving_average, top_n_per_group


def test_cast_if_exists_partial(spark):
    df = spark.createDataFrame([("1", "x")], ["a", "b"])
    out = cast_if_exists(df, ["a", "missing"], "double")
    assert dict(out.dtypes) == {"a": "double", "b": "string"}


def test_select_rename_skips_absent(spark):
    df = spark.createDataFrame([(1, 2)], ["a", "b"])
    out = select_rename(df, {"a": "x", "nope": "y"})
    assert out.columns == ["x"]


def test_date_parts_iso_week(spark):
    df = spark.createDataFrame([("2021-01-01",)], ["date"]).select(
        F.to_date("date").alias("date")
    )
    row = with_date_parts(df).first()
    assert (row["year"], row["month"], row["week"]) == (2021, 1, 53)  # ISO-8601


def test_filters(spark):
    df = spark.createDataFrame([("a",), ("b",), ("c",)], ["k"])
    assert filter_in_list(df, "k", ["a", "c"]).count() == 2


def test_moving_average_partitioned(spark):
    df = spark.createDataFrame(
        [("u1", 1, 10.0), ("u1", 2, 20.0), ("u1", 3, 30.0), ("u2", 1, 100.0)],
        ["user", "day", "v"],
    )
    out = moving_average(df, ["v"], "day", partition_cols=("user",), periods=2)
    got = {(r["user"], r["day"]): r["v_2day_avg"] for r in out.collect()}
    assert got[("u1", 1)] == 10.0
    assert got[("u1", 2)] == 15.0
    assert got[("u1", 3)] == 25.0
    assert got[("u2", 1)] == 100.0


def test_top_n_per_group_deterministic_ties(spark):
    df = spark.createDataFrame(
        [("g", 5.0, 1), ("g", 5.0, 2), ("g", 4.0, 3)], ["grp", "v", "id"]
    )
    out = top_n_per_group(
        df, ("grp",), (F.col("v").desc(), F.col("id")), n=2, keep_rank=True
    ).collect()
    assert [(r["id"], r["rn"]) for r in sorted(out, key=lambda r: r["rn"])] == [(1, 1), (2, 2)]


def test_union_by_name_missing_columns(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "a"])
    b = spark.createDataFrame([(2,)], ["id"])
    out = union_by_name(a, b)
    assert out.count() == 2
    assert out.filter(F.col("id") == 2).first()["a"] is None


def test_upsert_on_key_updates_win(spark):
    current = spark.createDataFrame([(1, "old"), (2, "old")], ["k", "v"])
    updates = spark.createDataFrame([(2, "new"), (3, "new")], ["k", "v"])
    out = {r["k"]: r["v"] for r in upsert_on_key(current, updates, ["k"]).collect()}
    assert out == {1: "old", 2: "new", 3: "new"}


def test_semi_anti_joins(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    members = spark.createDataFrame([(2,), (3,), (3,)], ["k"])
    assert {r["k"] for r in semi_join_membership(df, members, "k").collect()} == {2, 3}
    assert {r["k"] for r in anti_join_membership(df, members, "k").collect()} == {1}


def test_broadcast_dim_join_is_broadcast(spark):
    fact = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "v"])
    dim = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "name"])
    out = broadcast_dim_join(fact, dim, "k")
    assert out.count() == 2
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_salted_join_matches_plain_join(spark):
    big = spark.createDataFrame([(1, i) for i in range(50)] + [(2, 99)], ["k", "v"])
    small = spark.createDataFrame([(1, "hot"), (2, "cold")], ["k", "name"])
    salted = salted_equi_join(big, small, "k", salt=4)
    plain = big.join(small, "k")
    assert salted.count() == plain.count() == 51
    assert sorted(r["name"] for r in salted.filter(F.col("k") == 2).collect()) == ["cold"]


def test_spread_changes_partitioning_not_rows(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], ["id"])
    out = spread(df, "id", partitions=4)
    assert out.rdd.getNumPartitions() == 4
    assert out.count() == 10


def test_null_profile_counts_nulls_and_nans(spark):
    from covid19_etl_pipeline_spark.operators.aggregates import null_profile

    df = spark.createDataFrame(
        [(1, float("nan"), "a"), (2, None, None), (3, 1.5, "c"), (None, 2.5, "d")],
        "id long, x double, s string",
    )
    row = null_profile(df).first()
    assert row["n_rows"] == 4
    assert row["id_nulls"] == 1
    assert row["x_nulls"] == 2   # one NULL + one NaN
    assert row["s_nulls"] == 1
    # column subset
    sub = null_profile(df, ["s"]).columns
    assert sub == ["n_rows", "s_nulls"]


def test_quality_score_features(spark):
    """The per-document features the ``text_quality`` query selects."""
    from covid19_etl_pipeline_spark.operators import text

    df = spark.createDataFrame(
        [(1, "The cat sat."), (2, "")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            text.token_count("text").alias("n_tokens"),
            text.punct_ratio("text").alias("punct_ratio"),
            text.stopword_ratio("text").alias("stopword_ratio"),
        ).collect()
    }
    assert out[1]["n_tokens"] == 3
    assert abs(out[1]["punct_ratio"] - 1 / 12) < 1e-9
    assert abs(out[1]["stopword_ratio"] - 1 / 3) < 1e-9
    assert out[2]["punct_ratio"] is None


def test_decode_image_unsupported_formats_raise():
    from covid19_etl_pipeline_spark.operators.multimodal import decode_image

    # a JPEG-sniffed but malformed payload hits the real SOF0 codec and
    # raises ValueError; LOSSY WebP (VP8) hits the real VP8L dispatch
    # and raises ValueError (documented unsupported); formats with no
    # in-repo codec (AVIF) still raise NotImplementedError honestly
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 fake jpeg")
    with pytest.raises(ValueError):
        decode_image(b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00abcd")
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00\x00\x00\x1cftypavif fake avif payload")


def test_pagerank_hand_computed_chain(spark):
    """A→B (single edge), 3 iterations, d=0.85, N=2: teleport=0.075;
    A never receives inflow so r(A)=0.075 after one round; B converges
    to 0.075 + 0.85·0.075 = 0.13875 once A's rank settles."""
    from covid19_etl_pipeline_spark.operators import graph

    edges = spark.createDataFrame([("A", "B", 1.0)], ["src", "dst", "w"])
    got = {r["node"]: r["rank"] for r in graph.pagerank(edges, weight="w").collect()}
    assert got["A"] == pytest.approx(0.075, abs=1e-9)
    assert got["B"] == pytest.approx(0.13875, abs=1e-9)


def test_pagerank_symmetric_cycle_is_fixed_point(spark):
    """A→B→A: the uniform distribution is the exact fixed point —
    every iteration returns 0.5/0.5 regardless of iteration count."""
    from covid19_etl_pipeline_spark.operators import graph

    edges = spark.createDataFrame([("A", "B", 2.0), ("B", "A", 2.0)], ["src", "dst", "w"])
    for iters in (1, 4):
        got = {
            r["node"]: r["rank"]
            for r in graph.pagerank(edges, weight="w", iterations=iters).collect()
        }
        assert got["A"] == pytest.approx(0.5, abs=1e-9)
        assert got["B"] == pytest.approx(0.5, abs=1e-9)


def test_orient_by_degree_key_and_triangle_invariance(spark):
    """Pins the orientation key: edges point low-(degree, id) → high.
    Star center 'h' (degree 3) must be the DESTINATION of every star
    edge even though 'h' sorts lexicographically before its leaves;
    degree ties fall back to id order. Triangle membership counts are
    orientation-invariant."""
    from covid19_etl_pipeline_spark.operators import graph

    # canonical (a < b) undirected edges: star around h + triangle x-y-z
    edges = spark.createDataFrame(
        [("h", "p"), ("h", "q"), ("h", "r"), ("x", "y"), ("x", "z"), ("y", "z")],
        "a string, b string",
    )
    oriented = {(r["a"], r["b"]) for r in graph.orient_by_degree(edges).collect()}
    # star: leaves (deg 1) → hub h (deg 3); hub id order is irrelevant
    assert {("p", "h"), ("q", "h"), ("r", "h")} <= oriented
    # triangle: all degree 2 → id tie-break keeps canonical order
    assert {("x", "y"), ("x", "z"), ("y", "z")} <= oriented
    assert len(oriented) == 6

    # orientation is physical: oriented triangle enumeration finds the
    # same single triangle the lexicographic orientation finds
    from pyspark.sql import functions as F

    e = graph.orient_by_degree(edges).localCheckpoint()
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z"))
    )
    assert sorted(map(tuple, tri.collect())) == [("x", "y", "z")]


def test_bfs_hops_chain_and_unreachable(spark):
    """Hand-computed BFS: chain a->b->c->d plus a shortcut a->c; node z
    is disconnected and must be absent from the result."""
    from covid19_etl_pipeline_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("z", "z")],
        "src string, dst string",
    )
    sources = spark.createDataFrame([("a",)], "node string")
    got = {
        r["node"]: r["hops"]
        for r in graph.bfs_hops(edges, sources).collect()
    }
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_hops_multi_source_min(spark):
    """Two sources: every node gets the min distance over sources."""
    from covid19_etl_pipeline_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "c")], "src string, dst string"
    )
    sources = spark.createDataFrame([("a",), ("x",)], "node string")
    got = {
        r["node"]: r["hops"]
        for r in graph.bfs_hops(edges, sources).collect()
    }
    assert got == {"a": 0, "x": 0, "b": 1, "c": 1}


def test_relax_rounds_bounded_hops(spark):
    """min-plus relaxation: cheap long path beats expensive direct edge
    only once enough rounds allow it; k rounds = paths of <= k edges."""
    from covid19_etl_pipeline_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b", 10.0), ("a", "c", 1.0), ("c", "d", 1.0), ("d", "b", 1.0)],
        "src string, dst string, w double",
    )
    sources = spark.createDataFrame([("a",)], "node string")
    one = {
        r["node"]: r["cost"]
        for r in graph.relax_rounds(edges, sources, rounds=1).collect()
    }
    assert one["b"] == 10.0  # direct edge only after 1 round
    three = {
        r["node"]: r["cost"]
        for r in graph.relax_rounds(edges, sources, rounds=3).collect()
    }
    assert three["b"] == 3.0  # a->c->d->b now visible
    assert three["a"] == 0.0 and three["c"] == 1.0 and three["d"] == 2.0


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one weak bridge resolve to two
    communities; min-label tie-break makes each community's label the
    lexicographically smallest member. Symmetrization is implicit
    (edges given one-directional)."""
    from covid19_etl_pipeline_spark.operators import graph

    edges = spark.createDataFrame(
        [
            ("a", "b", 5.0), ("b", "c", 5.0), ("a", "c", 5.0),
            ("x", "y", 5.0), ("y", "z", 5.0), ("x", "z", 5.0),
            ("c", "x", 1.0),  # weak bridge
        ],
        "src string, dst string, w double",
    )
    got = {
        r["node"]: r["lbl"]
        for r in graph.label_propagation(edges, weight="w", iterations=4).collect()
    }
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == got["z"] == "x"


def test_label_propagation_pair_swap_is_deterministic(spark):
    """Documented synchronous-LPA behavior: an isolated pair swaps
    labels every round (no convergence), but the outcome for a FIXED
    iteration count is deterministic — round parity decides. Self-loops
    are dropped, so a self-loop-only node is absent from the output."""
    from covid19_etl_pipeline_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("c", "c", 9.0)],  # c: self-loop only
        "src string, dst string, w double",
    )

    def run(iters):
        return {
            r["node"]: r["lbl"]
            for r in graph.label_propagation(
                edges, weight="w", iterations=iters
            ).collect()
        }

    assert run(1) == {"a": "b", "b": "a"}  # odd parity: swapped
    assert run(2) == {"a": "a", "b": "b"}  # even parity: back home
    assert run(2) == run(2)  # reproducible


def test_iterative_graph_ops_reliable_checkpoint_mode(spark, tmp_path):
    """CHECKPOINT_DIR_CONF must route the (now lazy) per-round barriers
    of pagerank, BFS, min-plus relaxation, and label propagation to the
    storage-backed checkpoint with identical results — the reliable
    path ignores laziness, so this pins that the lazy default did not
    break the fault-tolerant mode."""
    import os

    from pyspark.sql import functions as F

    from covid19_etl_pipeline_spark.operators.graph import (
        bfs_hops,
        label_propagation,
        pagerank,
        relax_rounds,
    )
    from covid19_etl_pipeline_spark.operators.partitioning import (
        CHECKPOINT_DIR_CONF,
    )

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0), (3, 4, 5.0), (4, 5, 1.0)],
        "src long, dst long, w double",
    )
    srcs = spark.createDataFrame([(1,)], "node long")

    def run_all():
        return (
            sorted(map(tuple, pagerank(edges, weight="w").collect())),
            sorted(map(tuple, bfs_hops(edges, srcs).collect())),
            sorted(map(tuple, relax_rounds(edges, srcs).collect())),
            sorted(map(tuple, label_propagation(
                edges.select(F.col("src").alias("a"), F.col("dst").alias("b"), "w"),
                "a", "b", weight="w").collect())),
        )

    default = run_all()
    ckpt = str(tmp_path / "reliable_graph_ckpt")
    spark.conf.set(CHECKPOINT_DIR_CONF, ckpt)
    try:
        reliable = run_all()
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    assert reliable == default
    written = [os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs]
    assert written, "no checkpoint files written under the configured dir"
