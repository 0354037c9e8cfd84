"""Distributed graph algorithms over the nation trade graph (PageRank,
triangles, communities, k-core, trusses, ANF).

Registered query family (11 entries); split from the
original monolithic plans/queries.py.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from covid19_etl_pipeline_spark.catalog import load_table
from covid19_etl_pipeline_spark.operators import graph
from covid19_etl_pipeline_spark.operators.partitioning import barrier

from covid19_etl_pipeline_spark.plans._registry import _register
from covid19_etl_pipeline_spark.plans._shared import trade_lines

@_register(
    "nation_trade_pagerank",
    """
    WITH edges AS (
        SELECT cn.n_name AS src, sn.n_name AS dst, CAST(count(*) AS DOUBLE) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        GROUP BY cn.n_name, sn.n_name
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    trans AS (
        SELECT e.src, e.dst, e.w / ow.ow AS p
        FROM edges e
        JOIN (SELECT src, sum(w) AS ow FROM edges GROUP BY src) ow USING (src)
    ),
    r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes, nn),
    r1 AS (
        SELECT nd.node,
               round(0.15 / max(nn.n) + 0.85 * coalesce(sum(t.p * r0.r), 0), 8) AS r
        FROM nodes nd CROSS JOIN nn
        LEFT JOIN trans t ON t.dst = nd.node
        LEFT JOIN r0 ON r0.node = t.src
        GROUP BY nd.node
    ),
    r2 AS (
        SELECT nd.node,
               round(0.15 / max(nn.n) + 0.85 * coalesce(sum(t.p * r1.r), 0), 8) AS r
        FROM nodes nd CROSS JOIN nn
        LEFT JOIN trans t ON t.dst = nd.node
        LEFT JOIN r1 ON r1.node = t.src
        GROUP BY nd.node
    ),
    r3 AS (
        SELECT nd.node,
               round(0.15 / max(nn.n) + 0.85 * coalesce(sum(t.p * r2.r), 0), 8) AS r
        FROM nodes nd CROSS JOIN nn
        LEFT JOIN trans t ON t.dst = nd.node
        LEFT JOIN r2 ON r2.node = t.src
        GROUP BY nd.node
    )
    SELECT node AS nation,
           round(r, 6) + 0.0 AS pagerank,
           CAST(row_number() OVER (ORDER BY r DESC, node) AS INT) AS rk
    FROM r3
    ORDER BY rk
    """,
    "link-analysis quality scoring (the web/domain-graph rank signal "
    "used to weight crawl data): weighted PageRank by power iteration "
    "over the customer-nation -> supplier-nation trade graph. The "
    "corpus-scale work is ONE pass building the edge list (lineitem "
    "joins orders on the only real shuffle; the dims broadcast — "
    "nation by hint, customer and supplier by size); "
    "the 3 unrolled iterations then run on the aggregated graph, each "
    "one join + one sum keyed on dst. Per-iteration 8dp rounding pins "
    "float drift so the iterative result stays hash-comparable (the "
    "kmeans-rounds trick); dangling mass deliberately not "
    "redistributed, semantics stated and matched in the oracle. At "
    "web scale the same loop shuffles (dst, contribution) pairs per "
    "round with localCheckpoint lineage cuts — connected_components' "
    "pattern",
)
def nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        trade_lines(spark, sf_dir, li)
        .groupBy(F.col("cust_nation").alias("src"), F.col("supp_nation").alias("dst"))
        .agg(F.count("*").cast("double").alias("w"))
    )
    ranks = graph.pagerank(edges, "src", "dst", weight="w", iterations=3)
    w_rk = Window.orderBy(F.col("rank").desc(), "node")
    return ranks.select(
        F.col("node").alias("nation"),
        (F.round("rank", 6) + F.lit(0.0)).alias("pagerank"),
        F.row_number().over(w_rk).cast("int").alias("rk"),
    ).orderBy("rk")


@_register(
    "nation_trade_triangles",
    """
    WITH raw_edges AS (
        SELECT DISTINCT
               least(cn.n_name, sn.n_name)    AS a,
               greatest(cn.n_name, sn.n_name) AS b
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        WHERE cn.n_name <> sn.n_name
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM raw_edges e1
        JOIN raw_edges e2 ON e2.a = e1.b
        JOIN raw_edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    members AS (
        SELECT x AS nation FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    )
    SELECT nation, count(*) AS n_triangles
    FROM members
    GROUP BY nation
    ORDER BY n_triangles DESC, nation
    """,
    "per-node triangle counting on the nation trade graph — the "
    "clustering/community primitive: canonicalize to undirected "
    "(least, greatest) distinct edges, re-orient each edge by "
    "DEGREE-ordered rank (graph.orient_by_degree — lower (deg, id) "
    "endpoint first), enumerate oriented triangles via two "
    "equi-joins (a strict total order, so every triangle is produced "
    "exactly once), then count per member. Degree orientation is the "
    "100 TB skew defense: a hub node sits on the probe side of "
    "(almost) all its edges, capping join fan-out by arboricity "
    "~O(sqrt(|E|)) instead of the hub degree; orientation is purely "
    "physical, so the result (and oracle hash, which uses the "
    "lexicographic orientation) is identical. The edge list itself "
    "is the deduped distinct, never the fact",
)
def nation_trade_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        trade_lines(spark, sf_dir, li)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .select(
            F.least("cust_nation", "supp_nation").alias("a"),
            F.greatest("cust_nation", "supp_nation").alias("b"),
        )
        .distinct()
    )
    edges = (
        # degree-ordered physical orientation (see description) — then
        # the oriented list is consumed three times by the triangle
        # joins: materialize once (vocabulary-sized, not fact-sized)
        graph.orient_by_degree(edges, "a", "b").transform(barrier)
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z"))
    )
    members = (
        tri.select(F.col("x").alias("nation"))
        .unionAll(tri.select(F.col("y").alias("nation")))
        .unionAll(tri.select(F.col("z").alias("nation")))
    )
    return (
        members.groupBy("nation")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "nation")
    )


@_register(
    "bfs_shortest_hops",
    """
    WITH RECURSIVE
    edges_raw AS (
        SELECT cn.n_name AS src, sn.n_name AS dst, count(*) AS cnt
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        WHERE cn.n_name <> sn.n_name
        GROUP BY cn.n_name, sn.n_name
    ),
    ranked AS (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cnt DESC, dst) AS rk
        FROM edges_raw
    ),
    edges AS (SELECT src, dst FROM ranked WHERE rk <= 2),
    s0 AS (SELECT min(src) AS node FROM edges),
    walk(node, hops) AS (
        SELECT node, 0 FROM s0
        UNION
        SELECT e.dst, w.hops + 1
        FROM walk w JOIN edges e ON w.node = e.src
        WHERE w.hops < 25
    )
    SELECT node, CAST(min(hops) AS INT) AS hops
    FROM walk GROUP BY node
    ORDER BY hops, node
    """,
    "single-source shortest hop counts by distributed BFS (frontier "
    "relaxation — graph.bfs_hops): the trade graph sparsified to each "
    "nation's top-2 partner lanes (row_number over the edge rollup, "
    "deterministic tie-break), then iterative relax rounds dist(v) = "
    "min(dist(v), min over in-edges dist(u)+1) from the lexicographic-"
    "min source nation. Each round is ONE join + ONE min-agg on the "
    "aggregated edge list (never the fact), converging in "
    "O(eccentricity) rounds with a scalar monotone convergence check — "
    "the same driver-controls-iteration-only pattern as connected "
    "components and pagerank. The oracle is a recursive CTE of the "
    "same relaxation, so the hash-match proves the iterative plan "
    "reaches the true fixed point. At 100 TB the edge rollup is the "
    "only fact-sized shuffle; rounds shuffle O(|V|) label rows",
)
def bfs_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges_raw = (
        trade_lines(spark, sf_dir, li)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(F.col("cust_nation").alias("src"), F.col("supp_nation").alias("dst"))
        .agg(F.count("*").alias("cnt"))
    )
    rk = F.row_number().over(
        Window.partitionBy("src").orderBy(F.col("cnt").desc(), "dst")
    )
    edges = (
        edges_raw.withColumn("rk", rk).filter(F.col("rk") <= 2).select("src", "dst")
    )
    sources = edges.agg(F.min("src").alias("node"))
    return (
        graph.bfs_hops(edges, sources)
        .select("node", F.col("hops").cast("int").alias("hops"))
        .orderBy("hops", "node")
    )


@_register(
    "cheapest_trade_route",
    """
    WITH RECURSIVE
    edges_raw AS (
        SELECT cn.n_name AS src, sn.n_name AS dst, count(*) AS cnt
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        WHERE cn.n_name <> sn.n_name
        GROUP BY cn.n_name, sn.n_name
    ),
    ranked AS (
        SELECT src, dst, round(1000.0 / cnt, 4) AS w,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cnt DESC, dst) AS rk
        FROM edges_raw
    ),
    edges AS (SELECT src, dst, w FROM ranked WHERE rk <= 2),
    s0 AS (SELECT min(src) AS node FROM edges),
    walk(node, cost, hops) AS (
        SELECT node, CAST(0.0 AS DOUBLE), 0 FROM s0
        UNION
        SELECT e.dst, round(w.cost + e.w, 4), w.hops + 1
        FROM walk w JOIN edges e ON w.node = e.src
        WHERE w.hops < 4
    )
    SELECT node, round(min(cost), 4) AS cost
    FROM walk GROUP BY node
    ORDER BY cost, node
    """,
    "cheapest-route cost within 4 hops — bounded min-plus relaxation "
    "(graph.relax_rounds, the weighted Bellman-Ford generalization of "
    "bfs_shortest_hops): edge cost is inverse lane volume (thin lanes "
    "are expensive), each round relaxes every edge once with per-round "
    "rounding so float summation order cannot drift the min across "
    "engines. The FIXED round count makes the semantics exact "
    "('cheapest over paths of <= 4 edges') rather than dependent on "
    "convergence timing — and bounded-hop costs are what routing/"
    "attribution actually wants. One join + one min-agg per round on "
    "the aggregated edge list; oracle = hop-bounded recursive CTE",
)
def cheapest_trade_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges_raw = (
        trade_lines(spark, sf_dir, li)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(F.col("cust_nation").alias("src"), F.col("supp_nation").alias("dst"))
        .agg(F.count("*").alias("cnt"))
    )
    rk = F.row_number().over(
        Window.partitionBy("src").orderBy(F.col("cnt").desc(), "dst")
    )
    edges = (
        edges_raw.withColumn("rk", rk)
        .filter(F.col("rk") <= 2)
        .select("src", "dst", F.round(1000.0 / F.col("cnt"), 4).alias("w"))
    )
    sources = edges.agg(F.min("src").alias("node"))
    return (
        graph.relax_rounds(edges, sources, rounds=4)
        .select("node", F.round("cost", 4).alias("cost"))
        .orderBy("cost", "node")
    )


@_register(
    "nation_trade_communities",
    """
    WITH raw AS (
        SELECT cn.n_name AS a, sn.n_name AS b, count(*) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        GROUP BY cn.n_name, sn.n_name
    ),
    sym AS (
        SELECT a, b, CAST(sum(w) AS DOUBLE) AS w
        FROM (
            SELECT a, b, w FROM raw
            UNION ALL
            SELECT b AS a, a AS b, w FROM raw
        )
        WHERE a <> b
        GROUP BY a, b
    ),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    l0 AS (SELECT node, node AS lbl FROM nodes),
    s1 AS (SELECT e.a, p.lbl, sum(e.w) AS s
           FROM sym e JOIN l0 p ON e.b = p.node GROUP BY e.a, p.lbl),
    b1 AS (SELECT a, lbl FROM (
               SELECT a, lbl, row_number() OVER (
                   PARTITION BY a ORDER BY s DESC, lbl) AS rn FROM s1)
           WHERE rn = 1),
    l1 AS (SELECT p.node, coalesce(b.lbl, p.lbl) AS lbl
           FROM l0 p LEFT JOIN b1 b ON p.node = b.a),
    s2 AS (SELECT e.a, p.lbl, sum(e.w) AS s
           FROM sym e JOIN l1 p ON e.b = p.node GROUP BY e.a, p.lbl),
    b2 AS (SELECT a, lbl FROM (
               SELECT a, lbl, row_number() OVER (
                   PARTITION BY a ORDER BY s DESC, lbl) AS rn FROM s2)
           WHERE rn = 1),
    l2 AS (SELECT p.node, coalesce(b.lbl, p.lbl) AS lbl
           FROM l1 p LEFT JOIN b2 b ON p.node = b.a),
    s3 AS (SELECT e.a, p.lbl, sum(e.w) AS s
           FROM sym e JOIN l2 p ON e.b = p.node GROUP BY e.a, p.lbl),
    b3 AS (SELECT a, lbl FROM (
               SELECT a, lbl, row_number() OVER (
                   PARTITION BY a ORDER BY s DESC, lbl) AS rn FROM s3)
           WHERE rn = 1),
    l3 AS (SELECT p.node, coalesce(b.lbl, p.lbl) AS lbl
           FROM l2 p LEFT JOIN b3 b ON p.node = b.a)
    SELECT node AS nation, lbl AS community,
           CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT)
               AS community_size
    FROM l3
    ORDER BY community, nation
    """,
    "community detection by deterministic weighted label propagation "
    "over the customer-nation -> supplier-nation trade graph (3 "
    "synchronous rounds, argmax neighbor-label weight with min-label "
    "tie-break — classic LPA's randomized update order removed so the "
    "partition is reproducible across engines/partitionings; the "
    "community side of the graph family next to `nation_trade_pagerank` "
    "(influence), `dup_clusters` (connectivity), and "
    "`nation_trade_triangles` (cohesion)). Scale shape: the fact "
    "collapses to the aggregated edge list once (one keyed shuffle + "
    "broadcast dims); every round then joins/aggregates on the node "
    "key only — integer-valued weight sums keep the argmax exact. "
    "graph.label_propagation checkpoints labels per round because the "
    "keep-semantics left join consumes the label table twice",
)
def nation_trade_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        trade_lines(spark, sf_dir, li)
        .groupBy(F.col("cust_nation").alias("src"), F.col("supp_nation").alias("dst"))
        .agg(F.count("*").alias("w"))
    )
    labels = graph.label_propagation(edges, "src", "dst", weight="w", iterations=3)
    wc = Window.partitionBy("lbl")
    return labels.select(
        F.col("node").alias("nation"),
        F.col("lbl").alias("community"),
        F.count("*").over(wc).alias("community_size"),
    ).orderBy("community", "nation")


@_register(
    "nation_trade_assortativity",
    """
    WITH raw AS (
        SELECT cn.n_name AS a, sn.n_name AS b, count(*) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        GROUP BY cn.n_name, sn.n_name
    ),
    symw AS (
        SELECT a, b, sum(w) AS w FROM (
            SELECT a, b, w FROM raw UNION ALL SELECT b AS a, a AS b, w FROM raw
        ) WHERE a <> b GROUP BY a, b
    ),
    mw AS (SELECT avg(w) AS mean_w FROM symw),
    sym AS (SELECT a, b FROM symw, mw WHERE symw.w > mw.mean_w),
    deg AS (SELECT a AS node, count(*) AS d FROM sym GROUP BY a),
    ed AS (
        SELECT da.d * 1.0 AS x, db.d * 1.0 AS y
        FROM sym e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node
    ),
    mo AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        FROM ed
    )
    SELECT CAST(n AS BIGINT) AS n_edges,
           round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                      THEN (n * sxy - sx * sy)
                           / (sqrt(n * sxx - sx * sx)
                              * sqrt(n * syy - sy * sy)) END, 4)
               + 0.0 AS assortativity
    FROM mo
    """,
    "degree assortativity of the trade-graph BACKBONE (Newman 2002): "
    "edges are first thresholded to above-mean weight (the disparity-"
    "filter-lite backbone — a raw TPC-H-ish trade graph is complete, "
    "where every degree ties and assortativity is undefined), then "
    "Pearson correlation of endpoint degrees over the surviving "
    "symmetrized edges — positive means hubs trade with hubs "
    "(resilient core), negative a hub-and-spoke topology (skew "
    "warning for graph-partitioned workloads). Computed from ONE "
    "moment-aggregate pass over edges joined to the broadcast-sized "
    "degree table (the `multi_regression_price` closed-form trick — "
    "no second scan, no built-in corr() whose accumulation internals "
    "differ per engine); zero-variance degenerate graphs return NULL "
    "instead of dividing by zero; integer degree products sum "
    "exactly, rounded at output",
)
def nation_trade_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    raw = (
        trade_lines(spark, sf_dir, li)
        .groupBy(F.col("cust_nation").alias("a"), F.col("supp_nation").alias("b"))
        .agg(F.count("*").alias("w"))
    )
    symw = (
        raw.unionByName(
            raw.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )
    # backbone threshold: above-mean edge weight (1-row scalar broadcast)
    mw = symw.agg(F.avg("w").alias("mean_w"))
    sym = (
        symw.crossJoin(F.broadcast(mw))
        .filter(F.col("w") > F.col("mean_w"))
        .select("a", "b")
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("d"))
    ed = (
        sym.join(F.broadcast(deg.select(F.col("node").alias("na"), F.col("d").alias("da"))), F.col("a") == F.col("na"))
        .join(F.broadcast(deg.select(F.col("node").alias("nb"), F.col("d").alias("db"))), F.col("b") == F.col("nb"))
        .select((F.col("da") * 1.0).alias("x"), (F.col("db") * 1.0).alias("y"))
    )
    mo = ed.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.when(
        (varx > 0) & (vary > 0),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.sqrt(varx) * F.sqrt(vary)),
    )
    return mo.select(
        F.col("n").cast("bigint").alias("n_edges"),
        (F.round(r, 4) + 0.0).alias("assortativity"),
    )


@_register(
    "trade_community_modularity",
    """
    WITH raw AS (
        SELECT cn.n_name AS a, sn.n_name AS b, count(*) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        GROUP BY cn.n_name, sn.n_name
    ),
    sym AS (
        SELECT a, b, CAST(sum(w) AS DOUBLE) AS w
        FROM (
            SELECT a, b, w FROM raw
            UNION ALL
            SELECT b AS a, a AS b, w FROM raw
        )
        WHERE a <> b
        GROUP BY a, b
    ),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    l0 AS (SELECT node, node AS lbl FROM nodes),
    s1 AS (SELECT e.a, p.lbl, sum(e.w) AS s
           FROM sym e JOIN l0 p ON e.b = p.node GROUP BY e.a, p.lbl),
    b1 AS (SELECT a, lbl FROM (
               SELECT a, lbl, row_number() OVER (
                   PARTITION BY a ORDER BY s DESC, lbl) AS rn FROM s1)
           WHERE rn = 1),
    l1 AS (SELECT p.node, coalesce(b.lbl, p.lbl) AS lbl
           FROM l0 p LEFT JOIN b1 b ON p.node = b.a),
    s2 AS (SELECT e.a, p.lbl, sum(e.w) AS s
           FROM sym e JOIN l1 p ON e.b = p.node GROUP BY e.a, p.lbl),
    b2 AS (SELECT a, lbl FROM (
               SELECT a, lbl, row_number() OVER (
                   PARTITION BY a ORDER BY s DESC, lbl) AS rn FROM s2)
           WHERE rn = 1),
    l2 AS (SELECT p.node, coalesce(b.lbl, p.lbl) AS lbl
           FROM l1 p LEFT JOIN b2 b ON p.node = b.a),
    s3 AS (SELECT e.a, p.lbl, sum(e.w) AS s
           FROM sym e JOIN l2 p ON e.b = p.node GROUP BY e.a, p.lbl),
    b3 AS (SELECT a, lbl FROM (
               SELECT a, lbl, row_number() OVER (
                   PARTITION BY a ORDER BY s DESC, lbl) AS rn FROM s3)
           WHERE rn = 1),
    lab AS (SELECT p.node, coalesce(b.lbl, p.lbl) AS lbl
            FROM l2 p LEFT JOIN b3 b ON p.node = b.a),
    mm AS (SELECT sum(w) AS m2 FROM sym),
    deg AS (SELECT a AS node, sum(w) AS dw FROM sym GROUP BY a),
    dc AS (SELECT l.lbl, sum(d.dw) AS d_c, count(*) AS n_members
           FROM deg d JOIN lab l ON d.node = l.node GROUP BY l.lbl),
    ec AS (SELECT la.lbl, sum(e.w) AS e_c
           FROM sym e
           JOIN lab la ON e.a = la.node
           JOIN lab lb ON e.b = lb.node
           WHERE la.lbl = lb.lbl
           GROUP BY la.lbl)
    SELECT dc.lbl AS community,
           CAST(dc.n_members AS BIGINT) AS n_members,
           round(coalesce(ec.e_c, 0) / mm.m2, 6) + 0.0 AS internal_frac,
           round(dc.d_c / mm.m2, 6) + 0.0 AS degree_frac,
           round(coalesce(ec.e_c, 0) / mm.m2
                 - (dc.d_c / mm.m2) * (dc.d_c / mm.m2), 6) + 0.0
               AS modularity_contrib
    FROM dc LEFT JOIN ec ON dc.lbl = ec.lbl, mm
    ORDER BY community
    """,
    "Newman modularity decomposition of the label-propagation "
    "partition (`nation_trade_communities`): per community, the "
    "within-community edge fraction e_c/2m against the null "
    "expectation (d_c/2m)^2 — the audit that tells you whether LPA "
    "found structure or noise (sum of contributions ~0 means the "
    "partition is no better than random wiring). Runs the SAME "
    "deterministic 3-round LPA, then two rollups over the aggregated "
    "edge list with the 25-node label table broadcast everywhere and "
    "the total edge mass as a 1-row scalar; integer-valued weight "
    "sums keep both engines exact before the rounded divisions",
)
def trade_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        trade_lines(spark, sf_dir, li)
        .groupBy(F.col("cust_nation").alias("src"), F.col("supp_nation").alias("dst"))
        .agg(F.count("*").alias("w"))
    )
    labels = graph.label_propagation(edges, "src", "dst", weight="w", iterations=3)
    e0 = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("w").cast("double").alias("w")
    )
    sym = (
        e0.unionByName(e0.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
        .transform(barrier)
    )
    mm = sym.agg(F.sum("w").alias("m2"))
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.sum("w").alias("dw"))
    lab = labels.select("node", "lbl").transform(barrier)
    dc = (
        deg.join(F.broadcast(lab), "node")
        .groupBy("lbl")
        .agg(F.sum("dw").alias("d_c"), F.count("*").alias("n_members"))
    )
    ec = (
        sym.join(
            F.broadcast(lab.select(F.col("node").alias("a"), F.col("lbl").alias("la"))), "a"
        )
        .join(
            F.broadcast(lab.select(F.col("node").alias("b"), F.col("lbl").alias("lb"))), "b"
        )
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lbl"))
        .agg(F.sum("w").alias("e_c"))
    )
    return (
        dc.join(ec, "lbl", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            F.col("lbl").alias("community"),
            F.col("n_members").cast("bigint").alias("n_members"),
            (F.round(F.coalesce("e_c", F.lit(0.0)) / F.col("m2"), 6) + 0.0).alias(
                "internal_frac"
            ),
            (F.round(F.col("d_c") / F.col("m2"), 6) + 0.0).alias("degree_frac"),
            (
                F.round(
                    F.coalesce("e_c", F.lit(0.0)) / F.col("m2")
                    - (F.col("d_c") / F.col("m2")) * (F.col("d_c") / F.col("m2")),
                    6,
                )
                + 0.0
            ).alias("modularity_contrib"),
        )
        .orderBy("community")
    )


@_register(
    "nation_trade_kcore",
    """
    WITH raw AS (
        SELECT cn.n_name AS a, sn.n_name AS b, count(*) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        GROUP BY cn.n_name, sn.n_name
    ),
    symw AS (
        SELECT a, b, sum(w) AS w FROM (
            SELECT a, b, w FROM raw UNION ALL SELECT b AS a, a AS b, w FROM raw
        ) WHERE a <> b GROUP BY a, b
    ),
    mw AS (SELECT avg(w) AS mean_w FROM symw),
    e0 AS (SELECT a, b FROM symw, mw WHERE symw.w > mw.mean_w),
    d0 AS (SELECT a AS n, count(*) AS d FROM e0 GROUP BY a),
    k0 AS (SELECT n FROM d0 WHERE d >= 10),
    e1 AS (SELECT e0.a, e0.b FROM e0
           JOIN k0 x ON e0.a = x.n JOIN k0 y ON e0.b = y.n),
    d1 AS (SELECT a AS n, count(*) AS d FROM e1 GROUP BY a),
    k1 AS (SELECT n FROM d1 WHERE d >= 10),
    e2 AS (SELECT e1.a, e1.b FROM e1
           JOIN k1 x ON e1.a = x.n JOIN k1 y ON e1.b = y.n),
    d2 AS (SELECT a AS n, count(*) AS d FROM e2 GROUP BY a),
    k2 AS (SELECT n FROM d2 WHERE d >= 10),
    e3 AS (SELECT e2.a, e2.b FROM e2
           JOIN k2 x ON e2.a = x.n JOIN k2 y ON e2.b = y.n)
    SELECT a AS nation, CAST(count(*) AS BIGINT) AS core_degree
    FROM e3 GROUP BY a
    ORDER BY nation
    """,
    "k-core decomposition (k=10, FIXED 3 peel rounds) of the trade-"
    "graph backbone: iteratively remove nodes with degree < k, then "
    "report the surviving nodes' within-core degrees — the dense-"
    "subgraph extraction used to find tightly-coupled trading blocs "
    "(and, on web/citation graphs, the spam/core filter). Rounds are "
    "FIXED rather than converged so the oracle is an unrolled CTE "
    "chain and semantics are engine-portable ('3-round peel'; the "
    "backbone converges in fewer). Scale shape: the fact-scale edge "
    "aggregation happens ONCE behind an eager barrier; each peel "
    "round is one node-sized degree rollup + two broadcast semi-joins "
    "against the keep set, with lazy per-round barriers so the whole "
    "peel materializes in the caller's single action. Same backbone "
    "construction as nation_trade_assortativity (above-mean-weight "
    "edges — the raw graph is complete)",
)
def nation_trade_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 10
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    raw = (
        trade_lines(spark, sf_dir, li)
        .groupBy(F.col("cust_nation").alias("a"), F.col("supp_nation").alias("b"))
        .agg(F.count("*").alias("w"))
    )
    symw = (
        raw.unionByName(
            raw.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )
    mw = symw.agg(F.avg("w").alias("mean_w"))
    # the fact-scale aggregation materializes ONCE; every peel round
    # reads graph-sized blocks
    e = barrier(
        symw.crossJoin(F.broadcast(mw))
        .filter(F.col("w") > F.col("mean_w"))
        .select("a", "b"),
        eager=True,
    )
    for _ in range(3):
        keep = (
            e.groupBy("a")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= k)
            .select(F.col("a").alias("n"))
        )
        ka = keep.select(F.col("n").alias("a"))
        kb = keep.select(F.col("n").alias("b"))
        # lazy: fixed rounds, no probe — the caller's action
        # materializes the unrolled peel chain
        e = barrier(
            e.join(F.broadcast(ka), "a", "left_semi").join(
                F.broadcast(kb), "b", "left_semi"
            )
        )
    return (
        e.groupBy(F.col("a").alias("nation"))
        .agg(F.count("*").alias("core_degree"))
        .orderBy("nation")
    )


@_register(
    "nation_link_prediction",
    """
    WITH weighted AS (
        SELECT least(cn.n_name, sn.n_name)    AS a,
               greatest(cn.n_name, sn.n_name) AS b,
               count(*) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        WHERE cn.n_name <> sn.n_name
        GROUP BY a, b
    ),
    mw AS (SELECT avg(w) AS m FROM weighted),
    raw_edges AS (SELECT a, b FROM weighted, mw WHERE w > m),
    sym AS (
        SELECT a AS x, b AS z FROM raw_edges
        UNION ALL
        SELECT b AS x, a AS z FROM raw_edges
    ),
    deg AS (SELECT x AS node, count(*) AS d FROM sym GROUP BY x),
    wedges AS (
        SELECT s1.x AS u, s2.x AS v, s1.z AS z
        FROM sym s1 JOIN sym s2
          ON s1.z = s2.z AND s1.x < s2.x
    ),
    scored AS (
        SELECT w.u, w.v,
               count(*) AS common_neighbors,
               round(sum(1.0 / ln(deg.d)), 6) AS adamic_adar
        FROM wedges w JOIN deg ON w.z = deg.node
        GROUP BY w.u, w.v
    )
    SELECT s.u AS nation_a, s.v AS nation_b,
           CAST(s.common_neighbors AS BIGINT) AS common_neighbors,
           s.adamic_adar
    FROM scored s
    LEFT JOIN raw_edges e ON e.a = s.u AND e.b = s.v
    WHERE e.a IS NULL
    ORDER BY s.adamic_adar DESC, nation_a, nation_b
    LIMIT 20
    """,
    "LINK PREDICTION on the above-mean-weight trade BACKBONE — Adamic-Adar scores "
    "(sum of 1/ln(deg) over common neighbors) for node pairs NOT yet "
    "connected: the 'who will trade next' / recommendation primitive "
    "(Liben-Nowell & Kleinberg, CIKM'03). Wedge enumeration is an "
    "equi-join keyed on the shared neighbor — pairs meet in their "
    "common neighbor's bucket (the same bucketing idea as LSH bands), "
    "never all-pairs; degrees join at node grain; existing edges drop "
    "via an anti join. Common neighbors of a pair always have degree "
    ">= 2, so ln(deg) is never zero. The corpus-scale cost is the ONE "
    "edge-aggregation pass (shared with the whole nation_trade_* "
    "family); wedges/degrees live on the aggregated graph. At 100 TB "
    "hub neighbors dominate wedge fan-out — cap or sample "
    "above-arboricity hubs (documented skew valve), scores unchanged "
    "for non-hub pairs",
)
def nation_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        trade_lines(spark, sf_dir, li)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            F.least("cust_nation", "supp_nation").alias("a"),
            F.greatest("cust_nation", "supp_nation").alias("b"),
        )
        .agg(F.count("*").alias("w"))
        # the aggregated weighted edge list feeds the mean threshold
        # and the backbone — barrier so the fact-scale aggregation
        # runs once (the nation_trade_kcore backbone recipe: the FULL
        # graph is complete at scale, so prediction only makes sense
        # on the above-mean-weight backbone)
        .transform(barrier)
    )
    mean_w = edges.agg(F.avg("w").alias("m"))
    edges = (
        edges.crossJoin(F.broadcast(mean_w))
        .filter(F.col("w") > F.col("m"))
        .select("a", "b")
        .transform(barrier)
    )
    sym = edges.select(F.col("a").alias("x"), F.col("b").alias("z")).unionByName(
        edges.select(F.col("b").alias("x"), F.col("a").alias("z"))
    )
    deg = sym.groupBy(F.col("x").alias("node")).agg(F.count("*").alias("d"))
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    wedges = s1.join(
        s2, (F.col("s1.z") == F.col("s2.z")) & (F.col("s1.x") < F.col("s2.x"))
    ).select(F.col("s1.x").alias("u"), F.col("s2.x").alias("v"), F.col("s1.z").alias("z"))
    scored = (
        wedges.join(F.broadcast(deg), wedges.z == deg.node)
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.round(F.sum(1.0 / F.log(F.col("d"))), 6).alias("adamic_adar"),
        )
    )
    return (
        scored.join(
            F.broadcast(edges),
            (scored.u == edges.a) & (scored.v == edges.b),
            "left_anti",
        )
        .select(
            F.col("u").alias("nation_a"),
            F.col("v").alias("nation_b"),
            "common_neighbors",
            "adamic_adar",
        )
        .orderBy(F.col("adamic_adar").desc(), "nation_a", "nation_b")
        .limit(20)
    )


@_register(
    "nation_trade_anf",
    """
    WITH weighted AS (
        SELECT least(cn.n_name, sn.n_name)    AS a,
               greatest(cn.n_name, sn.n_name) AS b,
               count(*) AS w
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        WHERE cn.n_name <> sn.n_name
        GROUP BY a, b
    ),
    mw AS (SELECT avg(w) AS m FROM weighted),
    bb AS (SELECT a, b FROM weighted, mw WHERE w > m),
    d1 AS (
        SELECT a AS x, b AS z FROM bb
        UNION
        SELECT b AS x, a AS z FROM bb
    ),
    d2 AS (
        SELECT x, z FROM d1
        UNION
        SELECT e1.x, e2.z FROM d1 e1 JOIN d1 e2 ON e1.z = e2.x
        WHERE e1.x <> e2.z
    ),
    d3 AS (
        SELECT x, z FROM d2
        UNION
        SELECT d2.x, d1.z FROM d2 JOIN d1 ON d2.z = d1.x
        WHERE d2.x <> d1.z
    ),
    n AS (SELECT count(DISTINCT x) AS nn FROM d1)
    SELECT r.radius,
           CAST(r.n_pairs AS BIGINT) AS n_pairs,
           round(r.n_pairs * 1.0 / (n.nn * 1.0 * (n.nn - 1)), 4)
               AS reach_frac
    FROM (
        SELECT 1 AS radius, (SELECT count(*) FROM d1) AS n_pairs
        UNION ALL
        SELECT 2, (SELECT count(*) FROM d2)
        UNION ALL
        SELECT 3, (SELECT count(*) FROM d3)
    ) r CROSS JOIN n
    ORDER BY r.radius
    """,
    "APPROXIMATE NEIGHBOURHOOD FUNCTION shape (ANF/HyperANF, Palmer "
    "et al. KDD'02 / Boldi-Vigna WWW'11): for radius r = 1..3, how "
    "many ordered node pairs of the above-mean trade backbone are "
    "within r hops, and what fraction of all pairs — the "
    "connectivity/effective-diameter audit (effective diameter = "
    "first r reaching 90%). Each expansion round is one equi-join on "
    "the frontier key + a distinct, on the AGGREGATED graph; the "
    "corpus-scale cost is the single edge-aggregation pass shared by "
    "the nation_trade_* family. Here reachable SETS are exact "
    "(node-grain graph); at 100 TB node scale each set becomes an "
    "HLL sketch unioned per round — HyperANF's exact trick, same "
    "join shape, error-bounded counts (the hll_union_event_types "
    "mergeable-sketch pattern)",
)
def nation_trade_anf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    weighted = (
        trade_lines(spark, sf_dir, li)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            F.least("cust_nation", "supp_nation").alias("a"),
            F.greatest("cust_nation", "supp_nation").alias("b"),
        )
        .agg(F.count("*").alias("w"))
        .transform(barrier)
    )
    mean_w = weighted.agg(F.avg("w").alias("m"))
    bb = (
        weighted.crossJoin(F.broadcast(mean_w))
        .filter(F.col("w") > F.col("m"))
        .select("a", "b")
    )
    d1 = (
        bb.select(F.col("a").alias("x"), F.col("b").alias("z"))
        .unionByName(bb.select(F.col("b").alias("x"), F.col("a").alias("z")))
        .distinct()
        .transform(barrier)
    )

    def expand(reach: DataFrame) -> DataFrame:
        e1, e2 = reach.alias("e1"), d1.alias("e2")
        step = (
            e1.join(e2, F.col("e1.z") == F.col("e2.x"))
            .select(F.col("e1.x").alias("x"), F.col("e2.z").alias("z"))
            .filter(F.col("x") != F.col("z"))
        )
        return reach.unionByName(step).distinct().transform(barrier)

    d2 = expand(d1)
    d3 = expand(d2)
    nn = d1.agg(F.countDistinct("x").alias("nn"))
    counts = (
        d1.agg(F.count("*").alias("n_pairs")).select(F.lit(1).alias("radius"), "n_pairs")
        .unionByName(
            d2.agg(F.count("*").alias("n_pairs")).select(
                F.lit(2).alias("radius"), "n_pairs"
            )
        )
        .unionByName(
            d3.agg(F.count("*").alias("n_pairs")).select(
                F.lit(3).alias("radius"), "n_pairs"
            )
        )
    )
    return (
        counts.crossJoin(F.broadcast(nn))
        .select(
            "radius",
            "n_pairs",
            F.round(
                F.col("n_pairs") * 1.0 / (F.col("nn") * 1.0 * (F.col("nn") - 1)), 4
            ).alias("reach_frac"),
        )
        .orderBy("radius")
    )


@_register(
    "trade_edge_truss_support",
    """
    WITH raw_edges AS (
        SELECT DISTINCT
               least(cn.n_name, sn.n_name)    AS a,
               greatest(cn.n_name, sn.n_name) AS b
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
        WHERE cn.n_name <> sn.n_name
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM raw_edges e1
        JOIN raw_edges e2 ON e2.a = e1.b
        JOIN raw_edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    edge_support AS (
        SELECT a, b, count(*) AS support FROM (
            SELECT x AS a, y AS b FROM tri
            UNION ALL SELECT y AS a, z AS b FROM tri
            UNION ALL SELECT x AS a, z AS b FROM tri
        ) GROUP BY a, b
    )
    SELECT e.a AS nation_a, e.b AS nation_b,
           CAST(coalesce(s.support, 0) AS BIGINT) AS triangle_support,
           coalesce(s.support, 0) >= 2 AS in_4_truss
    FROM raw_edges e LEFT JOIN edge_support s
      ON e.a = s.a AND e.b = s.b
    ORDER BY triangle_support, nation_a, nation_b
    LIMIT 30
    """,
    "K-TRUSS EDGE SUPPORT on the trade graph: per edge, how many "
    "triangles contain it (its 'support') — the edge-grain dense-"
    "subgraph primitive beside node-grain k-core "
    "(nation_trade_kcore): an edge with support >= k-2 survives the "
    "k-truss, and support-0 edges are triangle-free ties (bridge "
    "candidates between communities). Reuses "
    "nation_trade_triangles' oriented enumeration — each triangle "
    "produced once via two equi-joins on degree-ordered edges, then "
    "unpivoted to its three edges for the support rollup; the 30 "
    "weakest edges surface first (the ones a backbone/community "
    "analysis examines). One fact-scale edge aggregation, "
    "everything after is graph-grain",
)
def trade_edge_truss_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        trade_lines(spark, sf_dir, li)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .select(
            F.least("cust_nation", "supp_nation").alias("a"),
            F.greatest("cust_nation", "supp_nation").alias("b"),
        )
        .distinct()
        .transform(barrier)  # feeds triangle joins + the base list
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
        )
    )
    tri_edges = (
        tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .unionByName(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
        .unionByName(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
    )
    support = tri_edges.groupBy("a", "b").agg(F.count("*").alias("support"))
    return (
        edges.join(support, ["a", "b"], "left")
        .select(
            F.col("a").alias("nation_a"),
            F.col("b").alias("nation_b"),
            F.coalesce(F.col("support"), F.lit(0)).alias("triangle_support"),
            (F.coalesce(F.col("support"), F.lit(0)) >= 2).alias("in_4_truss"),
        )
        .orderBy("triangle_support", "nation_a", "nation_b")
        .limit(30)
    )
