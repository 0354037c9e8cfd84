"""Deduplication operators (exact + near-dup) for training-data pipelines.

Beyond-reference extension surface (BASELINE.json). Algorithms:

- **exact**: hash-groupBy on content (or its md5) — one shuffle keyed on
  the fingerprint; at 100 TB group on ``md5(text)`` not ``text`` so
  shuffle rows stay small.
- **MinHash + LSH banding**: shingle → per-seed min-hash → band
  signatures → bucket self-join. Candidate generation is an equi-join on
  (band, signature) — no O(n²) pair scan; buckets bound comparison cost.
  Hashes are md5-derived so the pipeline is deterministic and
  reproducible across engines (vs Spark's murmur3 ``F.hash``, which a
  SQL oracle can't mirror).
- **n-gram Jaccard verification**: exact similarity on candidate pairs
  only (post-LSH), via array_intersect/array_union on distinct shingles.
- **SimHash**: 32-bit signature from per-token md5 bits, bit-majority
  aggregated; near-dups = signatures within small Hamming distance.

All stages are built-in higher-order functions — no Python in the hot
path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from covid19_etl_pipeline_spark.operators.partitioning import barrier, join_side, spread
from covid19_etl_pipeline_spark.operators.text import normalized_text, shingles, tokens


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Group identical texts: fingerprint → (keeper id, copy count).

    Shuffles md5 fingerprints (32 bytes/row), never full documents.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(f"keeper_{id_col}"),
            F.count("*").alias("n_copies"),
        )
    )


def drop_exact_dups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep the min-id row per identical text (deterministic survivor —
    ``id_col`` is unique, so ``min_by`` has no ties).

    ONE partial-aggregable hash agg keyed on the md5 fingerprint:
    ``min_by(struct(*cols), id)`` combines map-side, so each partition
    ships at most one candidate row per fingerprint and no sort runs —
    unlike the row_number-window form (same shuffle but adds a sort,
    and a pathological fingerprint lands one oversized sort partition)
    or the agg-then-semi-join form (evaluates the input subtree twice
    unless a barrier is interposed; measured 4× slower cold). The
    map-side combine is also the skew story: a text duplicated across
    half the corpus still contributes one row per map partition.
    """
    cols = df.columns
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("__fp"))
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("__r"))
        .select("__r.*")
    )


def minhash_value(shingle_col: Column, index: int) -> Column:
    """One MinHash: lexicographic min over shingles of hash ``index``,
    where hash ``index`` is the 8-hex-digit word ``index % 4`` of
    md5('<index//4>|' || shingle) — four independent 32-bit hashes per
    md5 evaluation, so an n-hash signature costs ceil(n/4) digests per
    shingle instead of n (measured ~2× faster end-to-end at sf0.1; at
    100 TB the digest count is the dominant narrow compute of the
    whole dedup pass). md5 (not F.hash/murmur3) so signatures are
    engine-portable and stable across Spark versions.
    """
    g, w = index // 4, index % 4
    return F.array_min(
        F.transform(
            shingle_col,
            lambda s: F.substring(F.md5(F.concat(F.lit(f"{g}|"), s)), 1 + 8 * w, 8),
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-document MinHash signature columns ``mh0..mh{n-1}``.

    Shape: explode shingles once, digest ceil(n/4) md5s in ONE
    codegen'd Project over the flat (doc, shingle) stream — each md5
    yields FOUR independent 32-bit hash words (8 hex digits each), the
    standard several-hashes-from-one-digest economy — then a partial-
    aggregable min per doc. vs one digest per hash this quarters the
    dominant narrow compute (measured ~2× end-to-end at sf0.1); vs the
    array-transform form the explode keeps the md5 inside whole-stage
    codegen (interpreted lambda mode measured ~2× slower cold).
    ``explode_outer`` keeps sub-k-token docs as a NULL row so the
    output row set matches the input (their signature columns are
    NULL, as with an empty-set min).
    """
    sh = shingles(tokens(text_col), k=shingle_k)
    # md5-minhashing is the expensive narrow compute; spread it across
    # all cores (a small parquet input is otherwise ONE task)
    ex = spread(df, id_col).select(F.col(id_col), F.explode_outer(sh).alias("__s"))
    n_groups = (num_hashes + 3) // 4
    digests = ex.select(
        id_col,
        *[
            F.md5(F.concat(F.lit(f"{g}|"), F.col("__s"))).alias(f"__d{g}")
            for g in range(n_groups)
        ],
    )
    proj = digests.select(
        id_col,
        *[
            F.substring(f"__d{i // 4}", 1 + 8 * (i % 4), 8).alias(f"__h{i}")
            for i in range(num_hashes)
        ],
    )
    return proj.groupBy(id_col).agg(
        *[F.min(f"__h{i}").alias(f"mh{i}") for i in range(num_hashes)]
    )


def lsh_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """The (id, band, sig) LSH banding table — the PERSISTED INDEX of a
    production near-dup system: one narrow signature pass, exploded per
    band, empty signatures dropped. At 100 TB this table is written
    once per corpus snapshot and probed by every incremental batch.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    return (
        sigs.select(F.col(id_col), F.explode(band_cols).alias("bs"))
        .select(id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
        .filter(F.col("sig") != "")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    distinct: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any full band signature become a
    candidate pair (id_a < id_b, distinct).

    Plan shape: one narrow signature pass → explode to (band, sig, id)
    → ONE (band, sig)-keyed aggregation into per-bucket id arrays →
    map-side in-bucket pair expansion. vs the self-equi-join form this
    saves the join stage entirely (the bucket aggregation shuffles the
    same (band, sig, id) rows the join's exchange would) — measured
    ~2× faster at sf0.1 with identical pairs. A doc appears once per
    bucket, so in-bucket pairs need no dedup; pair volume is the same
    Σ|bucket|² either way. Trade-off vs the join: a degenerate hot
    bucket expands in ONE task here, where AQE skew-join could split
    it — that is what ``max_bucket`` is for: buckets above the cap are
    DROPPED wholesale (a bucket with 10⁵+ members is not
    "near-duplicates", it is boilerplate; production dedup at 100 TB
    routes it to a dedicated boilerplate pass instead of generating
    its quadratic pairs). Default None = no cap, exact parity with
    the join form.

    ``distinct=False`` skips the final dedup shuffle: a pair appears
    once per shared band (≤ ``bands``×). Correct when the consumer is
    duplicate-absorbing — ``connected_components``' min-aggregate, a
    semi-join — and saves one corpus-pairs shuffle in composed plans.
    """
    bt = lsh_band_table(df, id_col, text_col, num_hashes, bands, shingle_k)
    buckets = (
        bt.groupBy("band", "sig")
        # sort_array: collect_list order is partition-nondeterministic;
        # sorting makes the (a < b) pair orientation reproducible
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("__ids") <= max_bucket)
    n = F.size("__ids")
    pair_structs = F.flatten(
        F.transform(
            "__ids",
            lambda x, i: F.transform(
                F.slice("__ids", i + F.lit(2), n - i - 1),
                lambda y: F.struct(
                    x.alias(f"{id_col}_a"), y.alias(f"{id_col}_b")
                ),
            ),
        )
    )
    pairs = buckets.select(F.explode(pair_structs).alias("__p")).select(
        f"__p.{id_col}_a", f"__p.{id_col}_b"
    )
    return pairs.distinct() if distinct else pairs


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.0,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (default: LSH candidates).

    Verification stage of the MinHash pipeline: joins each side's
    distinct-shingle set and computes |A∩B| / |A∪B|.
    """
    if candidates is None:
        candidates = lsh_candidate_pairs(df, id_col, text_col, shingle_k=shingle_k)
    # both sides of the pair join read the shingle sets — materialize
    # them once (the staged shingle-set table of a real pipeline);
    # without the barrier the tokenize+shingle subtree runs twice.
    sets = (
        spread(df, id_col)
        .select(
            F.col(id_col),
            F.array_distinct(shingles(tokens(text_col), k=shingle_k)).alias("sh"),
        )
        .transform(barrier)
    )
    out = (
        candidates.join(sets.withColumnRenamed(id_col, f"{id_col}_a"), on=f"{id_col}_a")
        .withColumnRenamed("sh", "sh_a")
        .join(sets.withColumnRenamed(id_col, f"{id_col}_b"), on=f"{id_col}_b")
        .withColumnRenamed("sh", "sh_b")
        .withColumn(
            "jaccard",
            F.when(
                F.size(F.array_union("sh_a", "sh_b")) > 0,
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
            ).otherwise(F.lit(None)),
        )
        .select(f"{id_col}_a", f"{id_col}_b", "jaccard")
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.6,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact all-pairs set-similarity self-join via prefix filtering
    (the AllPairs/PPJoin family).

    The complement of LSH banding: NO false negatives and still no
    O(n²) cross join. Order each document's distinct-shingle set by
    ascending global document frequency (rarest shingle first); its
    *prefix* is the first ``|S| - ceil(t·|S|) + 1`` shingles. Two sets
    can reach Jaccard ≥ t only if their prefixes share an element, so
    an equi-join on prefix shingles is a COMPLETE candidate generator;
    the exact Jaccard verify pass then keeps the true matches.

    Plan shape: one tokenize pass feeding (a) the document-frequency
    rollup (shuffle keyed on shingle), (b) a per-doc rank window
    (shuffle on doc id), (c) the prefix equi-join (shuffle on shingle).
    Rare-first ordering is what bounds the join fan-out — a shingle
    unique to one document never produces a candidate, and for high t
    the frequent (skewed) shingles never enter any prefix. A PPJoin
    size bound (t·|B| <= |A| <= |B|/t) plus the PPJoin POSITIONAL
    filter (overlap upper bound from the matched shingle's rank in
    each set's rarity order) prune candidates before the
    array-carrying verify join. At 100 TB the
    frequency rollup is a reusable stats artifact, and the verify join
    ships only candidate pairs + shingle sets, not the corpus.

    Pruning power scales with shingle-universe diversity: k must be
    large enough that shingles are rare (df ≪ n_docs). k=2 on a
    small-vocabulary corpus degenerates toward all-pairs (measured 73×
    slower than k=3 on the synthetic corpus at sf0.1, whose bigram
    universe is only ~900 shingles vs ~27k trigrams).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    # Shingle sets feed prefix generation AND verification — materialize
    # once (the staged shingle-set table of a production pipeline).
    # Shingles are hashed to 64-bit ints up front: set cardinalities (and
    # hence Jaccard) are preserved (a collision inside one document's
    # ~10²-shingle set over a 2⁶⁴ space is negligible, and the oracle
    # hash-match audits exactly that), while every downstream exchange —
    # frequency rollup, prefix equi-join, verify intersect — ships and
    # compares fixed-width longs instead of k-token strings.
    # Empty-set rows are dropped via the cheap precondition
    # size(tokens) >= k (shingles are empty iff the doc has < k tokens):
    # filtering on size(sh) AFTER the projection lets predicate pushdown
    # clone the whole shingle expression into an interpreted Filter and
    # evaluate it twice per row — measured 6× slower on this stage.
    sets = (
        spread(df, id_col)
        .filter(F.size(tokens(text_col)) >= shingle_k)
        .select(
            F.col(id_col),
            F.array_distinct(
                F.transform(shingles(tokens(text_col), k=shingle_k), lambda s: F.xxhash64(s))
            ).alias("sh"),
        )
        .transform(barrier)
    )
    # carry the set size through the explode — saves a join back to sets
    ex = sets.select(F.col(id_col), F.size("sh").alias("sz"), F.explode("sh").alias("s"))
    freq = ex.groupBy("s").agg(F.count("*").alias("df_cnt"))
    rk = F.row_number().over(
        Window.partitionBy(id_col).orderBy("df_cnt", "s")
    )
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    prefix = (
        # shuffle-hash hint: ex is the corpus-scale exploded shingle
        # stream and freq its distinct-shingle rollup — both sit on a
        # localCheckpoint lineage whose size Catalyst cannot estimate,
        # and at the x100 fixture the static planner broadcast the
        # 99M-row ex side into an 8g driver ("not enough memory to
        # build and broadcast", racy under AQE re-plan timing). Same
        # estimate-picked-broadcast class as the verify joins below.
        ex.join(freq.hint("shuffle_hash"), "s")
        .select(F.col(id_col), "s", "sz", rk.alias("rk"), prefix_len.alias("plen"))
        .filter(F.col("rk") <= F.col("plen"))
        .select(id_col, "s", "sz", "rk")
        # the self-join below references this subtree TWICE (a and b
        # aliases) and Catalyst does not dedupe common subplans — without
        # a barrier the explode + freq join + rank window runs twice per
        # action. LAZY (re-measured r12 on a steal-quiet host): the
        # sibling map stages scan the SAME checkpoint RDD and the block
        # manager computes each block once (getOrElseUpdate dedup), so
        # the r11 eager-vs-lazy gap (2.03 vs 2.38s, taken in a steal-
        # bursty session) does not reproduce — clean interleaved A/B:
        # lazy 1.94s vs eager 2.02s at sf0.1, 4.47 vs 4.49s warm at
        # ×10. Lazy additionally folds the materialization into the
        # first consuming job (one scheduler round-trip fewer). At
        # 100 TB the blocks land on executor storage either way — the
        # one-materialization-vs-two-passes trade is unchanged.
    )
    prefix = barrier(prefix)
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter: Jaccard >= t forces an overlap of at
    # least alpha = t/(1+t)·(|A|+|B|). The rarity order is GLOBAL, so
    # the first shingle the two sets share sits at a consistent point in
    # both orderings, and every other common shingle lies strictly after
    # it in BOTH sets: overlap <= 1 + min(|A|-rk_a, |B|-rk_b) for that
    # first-common row. A true match always survives via its
    # first-common-shingle row (which the prefix theorem guarantees is
    # in both prefixes), so pruning rows whose positional bound can't
    # reach alpha is lossless — it just cuts candidates before the
    # distinct and the array-carrying verify join.
    alpha = F.lit(threshold / (1.0 + threshold)) * (F.col("a.sz") + F.col("b.sz"))
    candidates = (
        # shuffle-hash for the same reason: the b-side prefix stream is
        # corpus-scale and estimate-blind post-window
        a.join(b.hint("shuffle_hash"), on="s")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        # size filter (PPJoin length bound): t·|B| <= |A| <= |B|/t
        .filter(
            (F.col("a.sz") >= threshold * F.col("b.sz"))
            & (F.col("b.sz") >= threshold * F.col("a.sz"))
        )
        .filter(
            F.lit(1) + F.least(F.col("a.sz") - F.col("a.rk"), F.col("b.sz") - F.col("b.rk"))
            >= alpha
        )
        .select(
            F.col(f"a.{id_col}").alias(f"{id_col}_a"),
            F.col(f"b.{id_col}").alias(f"{id_col}_b"),
        )
        .distinct()
    )
    # union-free verify: |A∪B| = |A| + |B| - |A∩B| — one array
    # intersection per pair, no union allocation. Both verify joins are
    # HINTED shuffled-hash: the set side carries the corpus's shingle
    # arrays, whose deserialized hash-map footprint is an order of
    # magnitude past its on-wire size — at the ×100 fixture a
    # 64MB-estimate auto-broadcast of one side OOMed an 8g driver
    # ("not enough memory to build and broadcast"), the dup_clusters
    # r08 lesson again: never let an estimate pick a broadcast for a
    # corpus-scale frame. Shuffled-hash also skips sorting the
    # array-carrying rows a sort-merge join would pay for.
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    jac = inter / (F.col("sz_a") + F.col("sz_b") - inter)
    return (
        candidates.join(
            sets.select(
                F.col(id_col).alias(f"{id_col}_a"),
                F.col("sh").alias("sh_a"),
                F.size("sh").alias("sz_a"),
            ).hint("shuffle_hash"),
            f"{id_col}_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias(f"{id_col}_b"),
                F.col("sh").alias("sh_b"),
                F.size("sh").alias("sz_b"),
            ).hint("shuffle_hash"),
            f"{id_col}_b",
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select(f"{id_col}_a", f"{id_col}_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_k: int = 3,
) -> DataFrame:
    """Asymmetric containment self-join: pairs where
    ``|A∩B| / |A| ≥ t`` — doc A is (mostly) CONTAINED in doc B. The
    quote/boilerplate detector Jaccard misses: a paragraph quoted
    inside a much larger page has tiny Jaccard but containment ≈ 1.

    One-sided prefix bound: the overlap must reach ``ceil(t·|A|)``, so
    if the first ``|A| - ceil(t·|A|) + 1`` rarest shingles of A miss B
    entirely, A cannot be contained — only A's prefix joins, against
    ALL of B's shingles. A size bound (``|B| ≥ t·|A|``) prunes
    impossible containers before verification.

    Returns (id_inner, id_outer, containment) with id_inner ≠ id_outer
    (both directions evaluated independently — containment is not
    symmetric).
    """
    # hashed shingles + cheap pre-projection emptiness filter — same
    # rationale as prefix_filter_jaccard_pairs (containment is
    # hash-invariant: it only counts set memberships).
    sets = (
        spread(df, id_col)
        .filter(F.size(tokens(text_col)) >= shingle_k)
        .select(
            F.col(id_col),
            F.array_distinct(
                F.transform(shingles(tokens(text_col), k=shingle_k), lambda s: F.xxhash64(s))
            ).alias("sh"),
        )
        .transform(barrier)
    )
    ex = sets.select(F.col(id_col), F.size("sh").alias("sz"), F.explode("sh").alias("s"))
    freq = ex.groupBy("s").agg(F.count("*").alias("df_cnt"))
    rk = F.row_number().over(Window.partitionBy(id_col).orderBy("df_cnt", "s"))
    plen = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    prefix = (
        # shuffle-hash: both sides corpus-scale and estimate-blind —
        # same rationale as prefix_filter_jaccard_pairs' freq join
        ex.join(freq.hint("shuffle_hash"), "s")
        .select(F.col(id_col), "s", "sz", rk.alias("rk"), plen.alias("plen"))
        .filter(F.col("rk") <= F.col("plen"))
        .select(F.col(id_col).alias("id_inner"), "s", F.col("sz").alias("sz_inner"))
    )
    full = ex.select(F.col(id_col).alias("id_outer"), "s", F.col("sz").alias("sz_outer"))
    candidates = (
        prefix.join(full.hint("shuffle_hash"), on="s")
        .filter(F.col("id_inner") != F.col("id_outer"))
        .filter(F.col("sz_outer") >= threshold * F.col("sz_inner"))
        .select("id_inner", "id_outer")
        .distinct()
    )
    # verify joins hinted shuffled-hash — same rationale as
    # prefix_filter_jaccard_pairs: the set side's deserialized shingle
    # arrays must never ride an estimate-picked broadcast at scale
    cont = F.size(F.array_intersect("sh_a", "sh_b")) / F.size("sh_a")
    return (
        candidates.join(
            sets.select(
                F.col(id_col).alias("id_inner"), F.col("sh").alias("sh_a")
            ).hint("shuffle_hash"),
            "id_inner",
        )
        .join(
            sets.select(
                F.col(id_col).alias("id_outer"), F.col("sh").alias("sh_b")
            ).hint("shuffle_hash"),
            "id_outer",
        )
        .withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_inner", "id_outer", "containment")
    )


def simhash(df: DataFrame, id_col: str, text_col: str = "text", bits: int = 32) -> DataFrame:
    """SimHash signature: per-token md5 → low ``bits`` bits → weighted
    bit-majority vote → integer signature.

    Explodes tokens once (linear), aggregates per (doc, bit) via a
    posexplode over the bit positions of each token hash — two narrow
    explodes + one hash-agg shuffle on the doc id.
    """
    tok = spread(df, id_col).select(
        F.col(id_col), F.explode(F.array_distinct(tokens(normalized_text(text_col)))).alias("tok")
    )
    # low `bits` bits of the token's md5 as a bigint (15 hex chars = 60
    # bits, safely inside bigint range)
    tok = tok.withColumn(
        "h", F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("bigint")
    )
    # SQL-side shift: the shiftright Python wrapper requires a literal
    # shift amount, the SQL form takes expressions
    with_bits = tok.select(
        F.col(id_col),
        F.col("h"),
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
    ).withColumn("vote", F.expr("cast(shiftright(h, bit) & 1 as int) * 2 - 1"))
    votes = with_bits.groupBy(id_col, "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(cast(1 as bigint), bit)")).otherwise(
                F.lit(0)
            )
        ).alias("simhash")
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two integer signatures via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 20,
) -> DataFrame:
    """Undirected connected components by iterative min-label
    propagation: every node starts labeled with itself; each round takes
    the min label over its neighborhood; fixed point = components. The
    step after candidate-pair generation in a dedup pipeline — pairs
    become clusters, then one representative per cluster survives.

    Genuinely iterative (no closed SQL form at scale): the driver loop
    only CONTROLS iteration — each round is one distributed
    join+groupBy, converging in O(graph diameter) rounds (dup clusters
    are near-cliques, so typically 2-3). ``barrier`` cuts the
    exponential lineage per round; setting
    ``partitioning.CHECKPOINT_DIR_CONF`` on the session makes every
    barrier storage-backed for cluster deployments (identical labels
    either mode — tested).

    Returns (node, label) with label = min node id of the component.
    """
    # the caller's edge list (often a whole LSH pipeline) is consumed
    # by BOTH direction-selects below — materialize it once, or the
    # candidate-generation subtree executes 2x (and 4x through adj).
    edges_m = barrier(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d")), eager=True
    )
    # Join strategy from the REAL edge count, not Catalyst's estimate:
    # candidate generators are Arrow/mapInPandas stages whose output
    # size Catalyst cannot see (measured: a 42.7M-pair GEMM output
    # estimated at 4 MiB), so at scale the static planner auto-
    # broadcasts a data-scale frame and the driver dies building it
    # (x100 sweep: `Not enough memory to build and broadcast`). The
    # eager barrier above just materialized the blocks, so count() is
    # one cheap job. Labels are node-sized, bounded by 2·edges, so the
    # edge count sizes every label-side join_side.
    n_edges = edges_m.count()

    # no distinct on the bidirectional list: candidate generators emit
    # (a < b) pairs already distinct, and reversing cannot create dups;
    # duplicate edges would anyway be absorbed by the min-aggregate, so
    # the distinct was a pure extra shuffle (measured ~0.15s/call).
    bi = edges_m.union(
        edges_m.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    nodes = bi.select(F.col("s").alias("node")).distinct()
    # self-loops fold "keep your own label" into the neighborhood min:
    # each round is ONE join + ONE min-agg (no join-back against the
    # previous labels). Convergence detection rides a monotone
    # invariant instead of a row-level diff: labels only ever
    # decrease, so sum(label) is strictly decreasing until the fixed
    # point — a scalar comparison per round, not a join.
    # lazy (eager=False): adj's blocks materialize inside the round-0
    # labels job below instead of costing a scheduler round-trip of
    # their own — only edges_m needs the EAGER barrier (it guards the
    # caller's candidate-generation subtree from re-execution).
    adj = barrier(
        bi.union(nodes.select(F.col("node").alias("s"), F.col("node").alias("d")))
    )
    # round 0 fused: with identity starting labels, the first
    # neighborhood-min is just min(s) per d over adj (the self-loop
    # carries the node's own id) — one agg instead of a join+agg round.
    # For the near-clique graphs dedup produces this IS the fixed
    # point, so the loop below typically runs once to confirm.
    # Checkpoints are LAZY (eager=False): the convergence probe right
    # after is the first action, so one job both materializes the new
    # labels' blocks and returns the scalar sum — fusing what were two
    # scheduler round-trips per round into one.
    labels0 = adj.groupBy(F.col("d").alias("node")).agg(F.min("s").alias("label"))
    # round 1 is FUSED into the round-0 action: dup graphs converge in
    # 1-2 propagation rounds, so paying one lazy join+halve before the
    # first convergence probe turns the typical probe sequence
    # (s0, s1<s0, s2<s1, s3==s2 — four scheduler round-trips) into
    # (s01, s2==s01 — two). A graph already converged at round 0 pays
    # one redundant join over the labels-sized frame inside the same
    # job — no extra action, the cost the fusion trades away from the
    # common case. Labels stay monotone, so the sum probe is unchanged.
    nbr0 = (
        adj.join(join_side(labels0, n_edges), adj["s"] == labels0["node"])
        .groupBy(F.col("d").alias("node"))
        .agg(F.min("label").alias("label"))
    )
    par0 = labels0.select(
        F.col("node").alias("pnode"), F.col("label").alias("plabel")
    )
    labels = barrier(
        nbr0.join(join_side(par0, n_edges), nbr0["label"] == par0["pnode"]).select(
            "node", F.least("label", "plabel").alias("label")
        )
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iter):
        nbr_min = (
            adj.join(join_side(labels, n_edges), adj["s"] == labels["node"])
            .groupBy(F.col("d").alias("node"))
            .agg(F.min("label").alias("label"))
        )
        # path halving (pointer jumping): label <- label[label]. One
        # extra self-join per round turns O(diameter) rounds into
        # O(log diameter) — on a chain-shaped component of diameter
        # 1000 that is ~10 rounds instead of ~1000. The parent lookup
        # reads the PREVIOUS round's materialized labels (slightly
        # staler than nbr_min, still monotone-safe) so the nbr_min
        # subtree is not executed twice. Fused into ONE job with the
        # nbr_min aggregate + the sum probe: a probe-first split round
        # (check nbr_min, halve only on progress) was measured SLOWER
        # on LSH graphs that need 2-3 real rounds — each split round
        # pays an extra scheduler round-trip that the fused form
        # amortizes into the same job.
        parent = labels.select(
            F.col("node").alias("pnode"), F.col("label").alias("plabel")
        )
        labels = barrier(
            nbr_min.join(
                join_side(parent, n_edges), nbr_min["label"] == parent["pnode"]
            ).select("node", F.least("label", "plabel").alias("label"))
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def drop_near_dups(
    df: DataFrame,
    id_col: str,
    labels: DataFrame,
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Survivor selection: keep every row not in any dup cluster, plus
    the min-id representative of each cluster (``labels`` from
    ``connected_components``). Left join + filter — one join whose
    strategy is picked from the REAL label count (r12, guide §3.1):
    ``labels`` sits behind connected_components' barriers, so Catalyst
    cannot size it and static planning falls back to sort-merge — TWO
    exchanges plus sorts, one of them over the whole corpus side (the
    r12 training_corpus before-plan). ``join_side`` broadcasts the
    labels under the bound (corpus side never shuffles) and pins
    shuffled-hash above it — never an estimate-picked build, the r08
    lesson.

    PRECONDITION: ``labels`` must already sit behind a MATERIALIZED
    ``barrier`` — connected_components' output does, its convergence
    probe ran the last one. The label count runs a job while this frame
    is built; over an unmaterialized ``labels`` that job runs the whole
    labels lineage, and the final action runs it again.
    """
    lbl = labels.select(
        F.col(node_col).alias("__node"), F.col(label_col).alias("__label")
    )
    # (node, label) rows are two longs: the BROADCAST_ROW_BOUND contract
    lbl = join_side(lbl, labels.count())
    return (
        df.join(lbl, df[id_col] == F.col("__node"), "left")
        .filter(F.col("__node").isNull() | (F.col("__node") == F.col("__label")))
        .drop("__node", "__label")
    )
