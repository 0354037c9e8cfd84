"""Graph operators over edge-list DataFrames.

Extension surface (BASELINE.json north star; no graph ops exist in the
reference): link-analysis quality scoring for training-data pipelines (the web-graph/domain-rank signal used to weight crawl data),
expressed Spark-first — an edge list is just a DataFrame, one power
iteration is one join + one aggregation, and the driver loop controls
iteration count only (same pattern as ``dedup.connected_components``
and ``similarity.lloyd_iterations``).

At scale: the expensive pass is building/aggregating the edge list from
the fact data (one keyed shuffle); iterations then run on the
aggregated graph, shuffling only (dst, contribution) pairs per round.
``partitioning.barrier`` per round cuts the lineage chain so plan size
stays constant in the iteration count (storage-backed barriers via
``partitioning.CHECKPOINT_DIR_CONF`` on clusters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from covid19_etl_pipeline_spark.operators.partitioning import barrier, join_side

# Under BROADCAST_ROW_BOUND nodes, pagerank pins the rank/contribution
# side of every per-round join as an explicit broadcast (both frames
# are node-sized). The aggregated-graph leaves sit on RDD scans whose size
# Catalyst cannot estimate, so the static planner falls back to
# sort-merge; AQE does convert to broadcast at runtime, but only
# AFTER paying each join's exchange — the explicit hint removes the
# exchanges outright (measured: 3-iteration nation graph, ~2.1s ->
# ~1.3s at sf0.1). Above the bound the joins are hinted shuffled-hash
# (``join_side``). DRIVER-MEMORY CONTRACT (ADVICE r11): at the bound each broadcast is
# a ~(node, double) frame — ~100 MB framed, built on the driver once
# for out-weights plus once per iteration for ranks/contribs — so a
# deployment running pagerank near 2M nodes needs roughly
# iterations × 100 MB of transient driver headroom (broadcasts are
# GC'd between rounds; ~1-2 GB driver memory is the safe minimum).


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 3,
    damping: float = 0.85,
    round_digits: int = 8,
) -> DataFrame:
    """Weighted PageRank by unrolled power iteration.

    ``r_{k+1}(v) = (1-d)/N + d * Σ_{(u,v)∈E} w(u,v)/out_w(u) · r_k(u)``

    Simplified semantics (documented, oracle-matched): dangling-node
    mass is NOT redistributed — a node with no outgoing edges only
    contributes teleport mass. Ranks are rounded to ``round_digits``
    per iteration so float summation order cannot drift results across
    engines or partitionings (the kmeans-rounds trick — what makes an
    iterative algorithm hash-comparable against a SQL oracle).

    Returns (node, rank) for every node appearing as src or dst.
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    # ONE eager barrier on the caller's edge list: callers typically
    # hand over a fact-scale aggregation pipeline, and it feeds nodes,
    # out-weights, AND the transition matrix below — without the
    # barrier the fact pass re-executes once per consumer (measured
    # 2× on nation_trade_pagerank). Everything downstream reads the
    # aggregated-graph-sized blocks.
    e = barrier(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")),
        eager=True,
    )
    # lazy: the count() right after is the action that materializes the
    # nodes blocks — no separate scheduler round-trip for the barrier
    nodes = barrier(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()

    # Join strategy from the REAL node count (already probed above for
    # the teleport term — zero extra jobs), never Catalyst's estimate:
    # see join_side.
    # round(1-d) before dividing: binary-float 1.0-0.85 is 1 ulp off the
    # 0.15 literal a SQL oracle folds to — pin both to the same double
    teleport = round(1.0 - damping, 12) / n_nodes
    out_w = e.groupBy("src").agg(F.sum("w").alias("ow"))
    # transition matrix rows: contribution fraction per edge. Lazy:
    # the unrolled power iteration references trans as ONE shared
    # subplan, so its blocks materialize inside the final job.
    trans = barrier(
        e.join(join_side(out_w, n_nodes), "src").select(
            "src", "dst", (F.col("w") / F.col("ow")).alias("p")
        )
    )

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("r"))
    for i in range(iterations):
        contrib = (
            trans.join(join_side(ranks, n_nodes), trans.src == ranks.node)
            .select("dst", (F.col("p") * F.col("r")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = nodes.join(
            join_side(contrib, n_nodes), nodes.node == contrib.dst, "left"
        ).select(
            "node",
            F.round(
                F.lit(teleport)
                + damping * F.coalesce(F.col("inflow"), F.lit(0.0)),
                round_digits,
            ).alias("r"),
        )
        # each round references the previous ranks exactly ONCE, so the
        # unrolled plan grows linearly and Catalyst compiles the whole
        # power iteration into a single job — no per-round barrier
        # needed. Only cut lineage periodically so deep iteration counts
        # don't blow up the optimizer or the task-closure size.
        if (i + 1) % 4 == 0 and (i + 1) < iterations:
            ranks = barrier(ranks, eager=True)
    return ranks.select("node", F.col("r").alias("rank"))


def orient_by_degree(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Degree-ordered orientation of an undirected edge list: each edge
    points from its lower-(degree, id) endpoint to the higher one.

    The standard triangle-enumeration optimization (Ortmann/Brandes;
    GraphX's triangleCount does the same): orienting by DEGREE instead
    of raw id bounds the out-degree of every node by O(sqrt(|E|)) —
    under a skewed degree distribution a hub node becomes the join
    PROBE side in (almost) all of its edges, so the e1⋈e2 fan-out is
    capped by arboricity instead of the hub's full degree. Orientation
    is purely physical: any strict total order yields each triangle
    exactly once, so results (and oracle hashes) are identical to the
    lexicographic orientation.

    Input must be canonical distinct undirected edges (a < b, no
    self-loops). Output columns keep the same names, re-oriented so
    ``a`` is the endpoint with the smaller (degree, id) key.
    """
    e = edges.select(F.col(a).alias("__u"), F.col(b).alias("__v"))
    deg = (
        e.select(F.col("__u").alias("__n"))
        .unionAll(e.select(F.col("__v").alias("__n")))
        .groupBy("__n")
        .agg(F.count("*").alias("__deg"))
    )
    # degree table is node-sized — broadcast locally; at cluster scale
    # this becomes a shuffle join on the node id, still edge-bounded
    du = deg.select(F.col("__n").alias("__u"), F.col("__deg").alias("__du"))
    dv = deg.select(F.col("__n").alias("__v"), F.col("__deg").alias("__dv"))
    u_first = (F.col("__du") < F.col("__dv")) | (
        (F.col("__du") == F.col("__dv")) & (F.col("__u") < F.col("__v"))
    )
    return (
        e.join(F.broadcast(du), "__u")
        .join(F.broadcast(dv), "__v")
        .select(
            F.when(u_first, F.col("__u")).otherwise(F.col("__v")).alias(a),
            F.when(u_first, F.col("__v")).otherwise(F.col("__u")).alias(b),
        )
    )


def relax_rounds(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    rounds: int = 4,
    round_digits: int = 4,
) -> DataFrame:
    """Bounded-hop min-plus relaxation (Bellman-Ford rounds): after k
    rounds ``cost(v)`` is the cheapest total edge cost over paths of at
    most k edges from the source set — the weighted generalization of
    :func:`bfs_hops` with a FIXED round count instead of a convergence
    check, so the semantics ("cheapest within k hops") are exact and
    engine-portable rather than dependent on when iteration stops.

    Costs are re-rounded to ``round_digits`` every round (the pagerank/
    kmeans trick) so float summation order cannot drift the min across
    engines or partitionings. Each round is one join + one min-agg on
    the edge list; unreachable-within-k nodes are absent.
    """
    e = barrier(
        edges.select(
            F.col(src).alias("s"),
            F.col(dst).alias("d"),
            F.col(weight).cast("double").alias("w"),
        ),
        eager=True,
    )
    dist = barrier(sources.select(F.col("node"), F.lit(0.0).alias("cost")), eager=True)
    for _ in range(rounds):
        step = e.join(dist, e["s"] == dist["node"]).select(
            F.col("d").alias("node"),
            F.round(F.col("cost") + F.col("w"), round_digits).alias("cost"),
        )
        # lazy: rounds are FIXED (no probe), so the whole unrolled
        # chain materializes in the caller's single action; each round's
        # dist is one shared RDD for its two references (join + union)
        dist = barrier(
            step.union(dist).groupBy("node").agg(F.min("cost").alias("cost"))
        )
    return dist


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Single-source(-set) shortest hop counts by iterative frontier
    relaxation — distributed BFS.

    ``dist_0(v) = 0`` for v in ``sources`` (a 1-column DataFrame named
    ``node``); each round relaxes every edge once:
    ``dist_{k+1}(v) = min(dist_k(v), min_{(u,v)∈E} dist_k(u) + 1)``.
    Fixed point in O(eccentricity) rounds. The driver loop only
    CONTROLS iteration; each round is one join + one min-aggregation on
    the edge list, and convergence rides the same monotone invariant as
    ``dedup.connected_components`` — distances only decrease or appear,
    so (row count, sum of dists) is strictly "growing-then-shrinking"
    until stable; comparing the scalar pair per round costs one 1-row
    collect, never a row-level diff join.

    Returns (node, hops) for every node reachable from ``sources``.
    Unreachable nodes are absent (the relational BFS convention — a
    LEFT join against the full node set recovers them as NULL).
    """
    e = barrier(edges.select(F.col(src).alias("s"), F.col(dst).alias("d")), eager=True)
    dist = barrier(sources.select(F.col("node"), F.lit(0).alias("hops")), eager=True)
    prev_state = None
    for _ in range(max_iter):
        # lazy: the convergence probe right after is the action that
        # materializes the round's blocks — one scheduler round-trip
        # per round instead of two
        relaxed = barrier(
            e.join(dist, e["s"] == dist["node"])
            .select(F.col("d").alias("node"), (F.col("hops") + 1).alias("hops"))
            .union(dist)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
        )
        row = relaxed.agg(
            F.count("*").alias("n"), F.sum("hops").alias("s")
        ).collect()[0]
        state = (row["n"], row["s"])
        dist = relaxed
        if state == prev_state:
            break
        prev_state = state
    return dist


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 3,
) -> DataFrame:
    """Deterministic weighted label propagation (community detection).

    Synchronous LPA with a total tie order: each round every node
    adopts ``argmax_l Σ_{u∈N(v), lbl(u)=l} w(u,v)``, ties broken by
    the smallest label — the randomized-update ambiguity of classic
    LPA is removed so the result is reproducible across runs, engines,
    and partitionings (same design stance as ``pagerank``'s per-round
    rounding). Edges are symmetrized (parallel edges' weights summed,
    self-loops dropped); isolated nodes keep their own label.

    Known synchronous-LPA caveat (shared with GraphX's implementation):
    on bipartite-like structures where a node's vote is dominated by a
    single neighbor (e.g. an isolated pair), simultaneous updates swap
    labels every round instead of converging — the result is still
    DETERMINISTIC for a fixed ``iterations`` (round parity decides),
    which is what the oracle contract needs; community graphs with
    intra-community triangles (the case the operator targets) converge
    normally.

    Scale shape: one round = one equi-join of the aggregated edge list
    against the label table + one (node, label) aggregation + one
    per-node argmax window — all keyed on node, so rounds reuse the
    same hash partitioning. Labels are checkpointed per round: the
    keep-semantics left join references the label table twice, which
    would double the unrolled plan per round without a barrier.

    Returns (node, lbl).
    """
    from pyspark.sql import Window

    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"), w.alias("w"))
    sym = e0.unionByName(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"), F.col("w"))
    )
    e = barrier(
        sym.filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w")),
        eager=True,
    )
    nodes = e.select(F.col("a").alias("node")).distinct()
    labels = barrier(nodes.select("node", F.col("node").alias("lbl")), eager=True)
    wv = Window.partitionBy("a").orderBy(F.col("s").desc(), F.col("lbl"))
    for _ in range(iterations):
        best = (
            e.join(labels, e["b"] == labels["node"])
            .groupBy("a", "lbl")
            .agg(F.sum("w").alias("s"))
            .withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select(F.col("a").alias("bn"), F.col("lbl").alias("new_lbl"))
        )
        # lazy: fixed rounds, no probe — the final action materializes
        # the chain; the checkpoint still dedups the label table's two
        # references per round (same RDD identity)
        labels = barrier(
            labels.join(best, labels["node"] == best["bn"], "left")
            .select("node", F.coalesce("new_lbl", "lbl").alias("lbl"))
        )
    return labels
