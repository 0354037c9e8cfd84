"""Oracle-SQL fragments and helpers shared by multiple query-family
modules (kept in exact lockstep with the operator-package
expressions they mirror — see each helper's comment), plus the one
plan sub-tree several families join the same way (``trade_lines``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid19_etl_pipeline_spark.catalog import load_table


def trade_lines(spark: SparkSession, sf_dir: str, li: DataFrame) -> DataFrame:
    """The caller's lineitem rows joined to orders, customer, supplier
    and nation in its two roles: each line gains ``cust_nation`` (its
    customer's nation name) and ``supp_nation`` (its supplier's). ``li``
    must carry ``l_orderkey`` and ``l_suppkey``; its own columns and
    filters pass through.

    lineitem⋈orders is the fact-sized shuffle. Only the 25-row
    ``nation`` is hinted; customer and supplier grow with the data, so
    Catalyst sizes them against ``autoBroadcastJoinThreshold`` (and AQE
    re-decides at runtime) instead of a hint forcing a broadcast.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
    )


_D_TOKS = r"regexp_split_to_array(trim(text), '\s+')"
_D_SHINGLES = (
    f"CASE WHEN len({_D_TOKS}) >= 3 "
    f"THEN list_transform(range(1, len({_D_TOKS}) - 1), "
    f"i -> array_to_string({_D_TOKS}[i:i+2], ' ')) "
    f"ELSE [] END"
)


def _d_minhash(index: int, shingles_expr: str = "sh") -> str:
    # mirrors dedup.minhash_value: hash <index> = 8-hex-digit word
    # <index%4> of md5('<index//4>|' || shingle) — 4 hashes per digest
    g, w = index // 4, index % 4
    return (
        f"list_min(list_transform({shingles_expr}, "
        f"s -> substr(md5('{g}|' || s), {1 + 8 * w}, 8)))"
    )


#: Adaptive pair-blocking width for the (source, md5-sub-block) audit
#: queries: hex-prefix length of the content-free md5(doc_id) block key.
#: 16-way blocking up to 20k docs, 256-way to 320k, 4096-way beyond —
#: per-block membership (and the per-block quadratic pair stage) stays
#: bounded as the corpus scales, which is exactly "the knob a 100 TB
#: run turns" promised by the blocked-pair docstrings. The SQL fragment
#: and the Python function MUST stay in lockstep: the oracle derives
#: the width from count(documents) inside the query, the Spark plan
#: from DataFrame.count() at build time.
_D_BLK_W = (
    "(SELECT 1 + CAST(count(*) > 20000 AS INT) "
    "+ CAST(count(*) > 320000 AS INT) FROM documents)"
)


def adaptive_blk_width(n: int) -> int:
    """Python twin of ``_D_BLK_W`` — see that fragment's comment."""
    return 1 + (n > 20_000) + (n > 320_000)


#: fellegi_sunter_part_linkage: catalog size past which the fixed
#: (p_brand, p_size) block key (25x50 domain — occupancy, and the
#: per-block quadratic, grow LINEARLY with the catalog) widens with the
#: name-noun, the Splink-style "add a blocking rule when a block
#: saturates" response. The SQL fragment and fs_widen_parts MUST stay
#: in lockstep: the oracle derives the decision from count(part) inside
#: the query, the Spark plan from DataFrame.count() at build time.
FS_WIDEN_PARTS = 500_000
_FS_WIDEN_SQL = (
    f"((SELECT count(*) FROM part) <= {FS_WIDEN_PARTS}\n"
    "              OR split_part(a.p_name, ' ', 2)\n"
    "                 = split_part(b.p_name, ' ', 2))"
)


def fs_widen_parts(n: int) -> bool:
    """Python twin of ``_FS_WIDEN_SQL``: True = widen the block key
    with the name-noun (the SQL term then only keeps noun-equal
    pairs)."""
    return n > FS_WIDEN_PARTS
