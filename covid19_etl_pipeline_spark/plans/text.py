"""Text analysis: quality scoring, language ID, tokenization and BPE,
lexical statistics, PII scrubbing.

Registered query family (27 entries); split from the
original monolithic plans/queries.py.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from covid19_etl_pipeline_spark.catalog import load_table
from covid19_etl_pipeline_spark.operators import text
from covid19_etl_pipeline_spark.operators.partitioning import barrier, spread

from covid19_etl_pipeline_spark.plans._registry import _register
from covid19_etl_pipeline_spark.plans._shared import (
    _D_SHINGLES,
    _D_TOKS,
)

def _d_lang_score(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in text.STOPWORDS[lang])
    return (
        f"len(list_intersect(list_distinct(list_transform({_D_TOKS}, t -> lower(t))), "
        f"[{words}]))"
    )


@_register(
    "text_quality",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_measured,
           CAST(len({_D_TOKS}) AS INT) AS n_tokens,
           CAST(len(regexp_extract_all(text,
               '{text.BPE_TOKEN_PATTERN.replace("'", "''")}')) AS INT) AS n_bpe_tokens,
           CASE WHEN length(text) > 0
                THEN length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                     * 1.0 / length(text) END AS punct_ratio,
           CASE WHEN len({_D_TOKS}) > 0
                THEN len(list_filter({_D_TOKS},
                         t -> list_contains(['the','a','and','of','to','in','is','that','it','for'],
                                            lower(t))))
                     * 1.0 / len({_D_TOKS}) END AS stopword_ratio
    FROM documents
    """,
    "per-document quality features: char/token/BPE-token counts, "
    "punctuation + stopword ratios (extension: quality scoring)",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # regex feature extraction is the hot loop — spread the small scan
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_measured"),
        text.token_count("text").alias("n_tokens"),
        text.bpe_token_count("text").alias("n_bpe_tokens"),
        text.punct_ratio("text").alias("punct_ratio"),
        text.stopword_ratio("text").alias("stopword_ratio"),
    )


@_register(
    "lang_id",
    f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {_d_lang_score('de')} AS s_de,
               {_d_lang_score('en')} AS s_en,
               {_d_lang_score('es')} AS s_es,
               {_d_lang_score('fr')} AS s_fr
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                ELSE 'de' END AS lang_pred
    FROM scored
    """,
    "heuristic language ID: stopword-coverage argmax "
    "(extension: language identification)",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return text.language_id(docs.select("doc_id", "lang", "text"), "text").drop("text")


@_register(
    "word_count_topk",
    r"""
    SELECT tok AS word, count(*) AS n
    FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents)
    WHERE tok <> ''
    GROUP BY tok ORDER BY n DESC, word LIMIT 20
    """,
    "corpus word frequencies: tokenize → explode → count → top-k "
    "(SURVEY §7.2 step 8; deterministic count-then-word tie-break)",
)
def word_count_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        docs.select(F.explode(text.tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(20)
    )


@_register(
    "text_normalize_redact",
    """
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS norm_fingerprint,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                AS INT) AS n_digits_redacted,
           CAST(length(regexp_replace(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'))
                AS INT) AS len_after_email_mask
    FROM documents
    """,
    "text normalization + PII-style masking: whitespace collapse + "
    "casefold (fingerprinted via md5 so the oracle compares content, "
    "not layout), digit redaction count, email-pattern masking — "
    "RE2-safe patterns, all JVM-side regexp (extension: the cleaning "
    "pass before dedup/tokenization)",
)
def text_normalize_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return docs.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("norm_fingerprint"),
        (
            F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
        ).cast("int").alias("n_digits_redacted"),
        F.length(
            F.regexp_replace("text", "[A-Za-z0-9._]+@[A-Za-z0-9.]+", "<EMAIL>")
        ).cast("int").alias("len_after_email_mask"),
    )


@_register(
    "chunk_documents",
    f"""
    WITH t AS (
        SELECT doc_id, {_D_TOKS} AS toks FROM documents
    ),
    n AS (
        SELECT doc_id, toks,
               CASE WHEN len(toks) <= 50 THEN 1
                    ELSE CAST(ceil((len(toks) - 50) / 25.0) AS INT) + 1
               END AS n_chunks
        FROM t
    ),
    c AS (
        SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_idx, toks FROM n
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(len(toks[chunk_idx*25 + 1 : chunk_idx*25 + 50]) AS INT) AS chunk_len,
           md5(array_to_string(toks[chunk_idx*25 + 1 : chunk_idx*25 + 50], ' '))
               AS chunk_hash
    FROM c
    """,
    "document chunking: overlapping 50-token windows with stride 25 via "
    "sequence+explode+slice — one narrow pass, no shuffle, rows fan out "
    "~n_tokens/stride per doc (the context-window preparation step for "
    "training pipelines; chunk content compared by md5 fingerprint)",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = text.tokens("text")
    with_chunks = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0), text.n_chunks(toks) - 1)).alias("chunk_idx"),
    )
    chunk = F.slice("toks", F.col("chunk_idx") * 25 + 1, 50)
    return with_chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(chunk).alias("chunk_len"),
        F.md5(F.concat_ws(" ", chunk).cast("binary")).alias("chunk_hash"),
    )


@_register(
    "repetition_quality",
    f"""
    WITH sh AS (
        SELECT doc_id, lang,
               len({_D_TOKS}) - 2 AS n_tri,
               len(list_distinct({_D_SHINGLES})) AS n_distinct
        FROM documents
        WHERE len({_D_TOKS}) >= 3
    )
    SELECT doc_id, lang,
           CAST(n_tri AS INT) AS n_trigrams,
           round(1.0 - CAST(n_distinct AS DOUBLE) / n_tri, 4)
               AS dup_trigram_frac,
           (1.0 - CAST(n_distinct AS DOUBLE) / n_tri) > 0.2 AS flagged
    FROM sh
    ORDER BY doc_id
    """,
    "intra-document repetition scoring (the Gopher-style quality "
    "filter): fraction of duplicate token trigrams within each doc — "
    "boilerplate/spam/generation loops score high and get flagged "
    "(>0.2). Reuses the dedup shingle machinery (text.shingles); "
    "embarrassingly parallel narrow compute, no shuffle before the "
    "final sort, and per-row integer-ratio arithmetic so both engines "
    "agree exactly",
)
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The quality gate filters on the CHEAP token count (>=3 tokens <=>
    # >=1 trigram): Catalyst substitutes filter expressions through
    # projections and pushes them below the spread() exchange, so a
    # filter phrased on the shingle array would rebuild every trigram
    # string on the (single-split) pre-spread side. n_trigrams is
    # likewise derived arithmetically (n_toks - 2) so the trigram array
    # is constructed exactly once, in the post-spread parallel project.
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    n_toks = F.size(text.tokens("text"))
    tri = text.shingles(text.tokens("text"), k=3)
    sized = docs.filter(n_toks >= 3).select(
        "doc_id",
        "lang",
        (n_toks - 2).alias("n_trigrams"),
        F.size(F.array_distinct(tri)).alias("n_distinct"),
    )
    frac = 1.0 - F.col("n_distinct").cast("double") / F.col("n_trigrams")
    return sized.select(
        "doc_id",
        "lang",
        "n_trigrams",
        F.round(frac, 4).alias("dup_trigram_frac"),
        (frac > 0.2).alias("flagged"),
    ).orderBy("doc_id")


@_register(
    "tfidf_top_terms",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
                                     t -> lower(t))) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df ON tf.term = df.term, n
    ),
    r AS (
        SELECT doc_id, term, tfidf,
               CAST(row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS INT) AS rank
        FROM scored
    )
    SELECT doc_id, term, tfidf, rank
    FROM r WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
    "per-document TF-IDF top terms: explode tokens -> term frequency "
    "per doc -> document frequency (count over the already-distinct "
    "doc-term pairs, no second distinct pass) -> tf * ln(N/df) -> "
    "top-3 per doc. The doc-count scalar joins in as a broadcast "
    "1-row aggregate (no driver round-trip); scores are rounded "
    "BEFORE ranking so the (tfidf desc, term) order is engine-"
    "deterministic. The keyword-extraction primitive for corpus "
    "labeling/retrieval indexing",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # df (document frequency) is a WINDOW count over the tf rollup, not
    # a groupBy + join-back: the join-back form duplicates the whole
    # tokenize->explode->tf subtree in the physical plan (expression
    # ids differ, so ReusedExchange never kicks in) — at 100 TB that
    # doubles the dominant cost. The window adds one exchange on term
    # but tokenizes once. The doc-count scalar reads the UNspread
    # table: it needs no parallel compute, so no repartition branch.
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id",
        F.explode(F.transform(text.tokens("text"), F.lower)).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n = load_table(spark, sf_dir, "documents").agg(F.count("*").alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
        .orderBy("doc_id", "rank")
    )


@_register(
    "bm25_doc_retrieval",
    r"""
    WITH base AS (
        SELECT doc_id,
               list_transform(regexp_split_to_array(trim(text), '\s+'),
                              t -> lower(t)) AS toks
        FROM documents
    ),
    stats AS (
        SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM base
    ),
    hits AS (
        SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base
    ),
    tf AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM hits WHERE term IN ('join', 'window', 'scan')
        GROUP BY doc_id, dl, term
    ),
    scored AS (
        SELECT tf.doc_id,
               sum(ln(1.0 + (stats.n_docs - dfc.df + 0.5) / (dfc.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / stats.avgdl)))
                   AS score
        FROM tf
        JOIN (SELECT term, count(*) AS df FROM tf GROUP BY term) dfc
          ON tf.term = dfc.term, stats
        GROUP BY tf.doc_id
    )
    SELECT doc_id, round(score, 6) AS bm25_score,
           CAST(row_number() OVER (ORDER BY round(score, 6) DESC, doc_id)
                AS INT) AS rank
    FROM scored
    ORDER BY rank
    LIMIT 10
    """,
    "BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed term query — "
    "the lexical side of a retrieval stack (pairs with "
    "`semantic_doc_retrieval`'s dense side). Doc length comes "
    "arithmetically from the token array (no pre-filter explode of "
    "the whole corpus reaches the shuffle: the IN-list on term cuts "
    "the exploded stream to query terms only); corpus stats (N, "
    "avgdl) ride in as ONE broadcast 1-row aggregate; df is a window "
    "over the tf rollup (single tokenize, same trick as "
    "`tfidf_top_terms`). Scores round before ranking for "
    "engine-stable order",
)
def bm25_doc_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = ["join", "window", "scan"]
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    base = docs.select(
        "doc_id", F.transform(text.tokens("text"), F.lower).alias("toks")
    )
    stats = (
        load_table(spark, sf_dir, "documents")
        .select(F.transform(text.tokens("text"), F.lower).alias("toks"))
        .agg(
            F.count("*").alias("n_docs"),
            F.avg(F.size("toks")).alias("avgdl"),
        )
    )
    tf = (
        base.select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.explode(F.filter("toks", lambda t: t.isin(terms))).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * F.col("tf")
            * 2.2
            / (
                F.col("tf")
                + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("bm25_score"))
    )
    w = Window.orderBy(F.col("bm25_score").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .orderBy("rank")
        .limit(10)
    )


@_register(
    "token_entropy_quality",
    r"""
    WITH t AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, tok, count(*) AS n
        FROM t WHERE tok <> '' GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           count(*) AS distinct_tokens,
           round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 4) + 0.0
               AS token_entropy
    FROM c GROUP BY doc_id ORDER BY doc_id
    """,
    "per-document Shannon entropy of the token distribution — the "
    "lexical-diversity quality signal (near-zero entropy = a document "
    "that repeats one token; complements repetition_quality's "
    "duplicate-trigram fraction). H = ln N - sum(n ln n)/N from the "
    "per-(doc, token) counts: two partial-aggregable hash aggs on the "
    "same doc_id key (one Exchange), no window, no UDF",
)
def token_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    c = (
        docs.select("doc_id", F.explode(text.tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("n"))
    )
    return (
        c.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count("*").alias("distinct_tokens"),
            (
                F.round(
                    F.log(F.sum("n"))
                    - F.sum(F.col("n") * F.log("n")) / F.sum("n"),
                    4,
                )
                + 0.0
            ).alias("token_entropy"),
        )
        .orderBy("doc_id")
    )


@_register(
    "bigram_pmi_collocations",
    r"""
    WITH t AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents
    ),
    u AS (SELECT tok, count(*) AS c FROM t WHERE tok <> '' GROUP BY tok),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM u),
    toks AS (
        SELECT regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
    ),
    bg AS (
        SELECT unnest(CASE WHEN len(tk) >= 2
                      THEN list_transform(range(1, len(tk)),
                                          i -> tk[i] || ' ' || tk[i+1])
                      ELSE [] END) AS bigram
        FROM toks
    ),
    bc AS (
        SELECT bigram, count(*) AS cab
        FROM bg GROUP BY bigram HAVING count(*) >= 3
    )
    SELECT bc.bigram,
           bc.cab AS pair_count,
           round(ln(bc.cab * 1.0 * (SELECT total FROM n)
                    / (ua.c * 1.0 * ub.c)), 4) + 0.0 AS pmi
    FROM bc
    JOIN u ua ON split_part(bc.bigram, ' ', 1) = ua.tok
    JOIN u ub ON split_part(bc.bigram, ' ', 2) = ub.tok
    ORDER BY pmi DESC, bigram LIMIT 25
    """,
    "top bigram collocations by pointwise mutual information: "
    "PMI = ln(c_ab * N / (c_a * c_b)) over corpus-wide unigram/bigram "
    "counts with a frequency floor (c_ab >= 3). The unigram vocabulary "
    "is materialized once and BROADCAST to both join roles (a "
    "vocabulary is millions of rows while the corpus is billions — the "
    "classic small-side of a 100 TB text job); the scalar token total "
    "rides a broadcast 1-row cross join. Round-before-rank keeps the "
    "top-25 engine-stable (extension: phrase mining / tokenizer-merge "
    "candidate discovery)",
)
def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    u = (
        docs.select(F.explode(text.tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .transform(barrier)  # feeds the total AND both unigram join roles
    )
    total = u.agg(F.sum("c").alias("total"))
    bc = (
        docs.select(
            F.explode(text.shingles(text.tokens("text"), k=2)).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count("*").alias("cab"))
        .filter(F.col("cab") >= 3)
    )
    w = F.split(F.col("bigram"), " ")
    ua = u.select(F.col("tok").alias("tok_a"), F.col("c").alias("ca"))
    ub = u.select(F.col("tok").alias("tok_b"), F.col("c").alias("cb"))
    return (
        bc.join(F.broadcast(ua), w.getItem(0) == F.col("tok_a"))
        .join(F.broadcast(ub), w.getItem(1) == F.col("tok_b"))
        .crossJoin(F.broadcast(total))
        .select(
            "bigram",
            F.col("cab").alias("pair_count"),
            (
                F.round(
                    F.log(F.col("cab") * 1.0 * F.col("total") / (F.col("ca") * 1.0 * F.col("cb"))),
                    4,
                )
                + 0.0
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(25)
    )


@_register(
    "vocab_growth_by_source",
    r"""
    WITH f AS (
        SELECT source, doc_id,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents
    )
    SELECT source,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS total_tokens,
           count(DISTINCT tok) AS distinct_tokens,
           round(count(DISTINCT tok) * 1.0 / count(*), 4) + 0.0
               AS type_token_ratio
    FROM f WHERE tok <> ''
    GROUP BY source ORDER BY source
    """,
    "per-source vocabulary growth profile: document count, token "
    "volume, distinct vocabulary, and type-token ratio — the "
    "source-level diversity diagnostic that feeds mixture weighting "
    "(source_mixture_weights) and flags template-heavy sources (low "
    "TTR). Multiple COUNT(DISTINCT) in one pass rides Spark's Expand "
    "rewrite — still a single scan of the exploded token stream",
)
def vocab_growth_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        docs.select("source", "doc_id", F.explode(text.tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("total_tokens"),
            F.countDistinct("tok").alias("distinct_tokens"),
            (
                F.round(F.countDistinct("tok") / F.count("*"), 4) + 0.0
            ).alias("type_token_ratio"),
        )
        .orderBy("source")
    )


@_register(
    "zipf_term_slope",
    rf"""
    WITH tok AS (
        SELECT lower(unnest({_D_TOKS})) AS t FROM documents
    ),
    counts AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
    ranked AS (
        SELECT t, cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, t) AS INT) AS rk
        FROM counts
    ),
    top AS (SELECT * FROM ranked WHERE rk <= 100)
    SELECT count(*) AS n_terms,
           round(regr_slope(ln(cnt), ln(rk)), 4) AS zipf_slope,
           round(regr_intercept(ln(cnt), ln(rk)), 4) AS zipf_intercept,
           round(regr_r2(ln(cnt), ln(rk)), 6) AS r2
    FROM top
    """,
    "Zipf fit of the corpus vocabulary: term counts, frequency-ranked, "
    "OLS of ln(count) ~ ln(rank) over the top-100 terms — slope near -1 "
    "is the natural-language signature, a flat or cliff-shaped fit "
    "flags templated/synthetic text (corpus-health audit alongside "
    "token_entropy_quality's per-doc signal). The rank window runs on "
    "the post-aggregation vocabulary (tiny vs the corpus), the fit is "
    "pure partial-aggregable moments — token counting is the only "
    "corpus-scale pass",
)
def zipf_term_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    counts = (
        docs.select(F.explode(text.tokens("text")).alias("t0"))
        .select(F.lower("t0").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), "t")
    top = (
        counts.select("t", "cnt", F.row_number().over(w).cast("int").alias("rk"))
        .filter(F.col("rk") <= 100)
    )
    lnr, lnc = F.log("rk"), F.log("cnt")
    slope = F.covar_pop(lnr, lnc) / F.var_pop(lnr)
    intercept = F.avg(lnc) - slope * F.avg(lnr)
    r2 = F.pow(F.corr(lnr, lnc), 2)
    return top.agg(
        F.count("*").alias("n_terms"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round(intercept, 4).alias("zipf_intercept"),
        F.round(r2, 6).alias("r2"),
    )


@_register(
    "unigram_logprob_quality",
    rf"""
    WITH tok AS (
        SELECT doc_id, lower(unnest({_D_TOKS})) AS t FROM documents
    ),
    vocab AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
    total AS (SELECT sum(cnt) AS n FROM vocab),
    scored AS (
        SELECT tok.doc_id, ln(vocab.cnt * 1.0 / total.n) AS logp
        FROM tok JOIN vocab USING (t) CROSS JOIN total
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(logp), 4) AS mean_logprob,
           round(exp(-avg(logp)), 4) AS perplexity
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    "unigram language-model quality score (the CCNet/Wikipedia-LM "
    "perplexity filter, reduced to its unigram core): corpus token "
    "probabilities p(t) = cnt/N, then per doc the mean token log-prob "
    "and its perplexity — documents far off the corpus distribution "
    "(boilerplate, wrong language, gibberish) score high-perplexity "
    "and get filtered. The vocabulary (small vs the corpus) broadcasts "
    "back onto the token stream and the corpus total is a broadcast "
    "1-row aggregate, so the corpus-side cost is one doc_id shuffle "
    "for the per-doc mean; at 100 TB the vocab table is the trained "
    "'model' artifact, reused across runs",
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = docs.select("doc_id", F.explode(text.tokens("text")).alias("t0")).select(
        "doc_id", F.lower("t0").alias("t")
    )
    # the vocab rollup feeds BOTH the broadcast join and the corpus
    # total — materialize the tiny table once so the corpus tokenize
    # isn't re-run per consumer (at 100 TB: the persisted LM artifact)
    vocab = tok.groupBy("t").agg(F.count("*").alias("cnt")).transform(barrier)
    total = vocab.agg(F.sum("cnt").alias("n"))
    scored = (
        tok.join(F.broadcast(vocab), "t")
        .join(F.broadcast(total))
        .withColumn("logp", F.log(F.col("cnt") * 1.0 / F.col("n")))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("logp"), 4).alias("mean_logprob"),
            F.round(F.exp(-F.avg("logp")), 4).alias("perplexity"),
        )
        .orderBy("doc_id")
    )


def _bpe_pair_counts(symdf: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over a (sym, freq) vocabulary — the
    BPE statistics pass. Runs on the VOCABULARY, never the corpus."""
    pairs = (
        "CASE WHEN size(a) >= 2 THEN transform(sequence(1, size(a) - 1), "
        "i -> concat(element_at(a, i), ' ', element_at(a, i + 1))) "
        "ELSE CAST(array() AS array<string>) END"
    )
    return (
        symdf.select(F.split("sym", " ").alias("a"), "freq")
        .select(F.explode(F.expr(pairs)).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
    )


def _bpe_apply_merge(symdf: DataFrame, top1: DataFrame) -> DataFrame:
    """Apply one merge rule to every vocabulary entry: left-to-right
    non-overlapping replace of the space-separated pair (identical
    replace() semantics in Spark and DuckDB, including the consumed-
    boundary case — stated, not hidden)."""
    return symdf.crossJoin(F.broadcast(top1.select("pair", "new_symbol"))).select(
        F.trim(
            F.expr(
                "replace(concat(' ', sym, ' '), "
                "concat(' ', pair, ' '), concat(' ', new_symbol, ' '))"
            )
        ).alias("sym"),
        "freq",
    )


@_register(
    "bpe_merge_induction",
    r"""
    WITH words AS (
        SELECT w, count(*) AS freq FROM (
            SELECT lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS w
            FROM documents
        ) WHERE regexp_matches(w, '^[a-z]+$') AND len(w) >= 2
        GROUP BY w
    ),
    sym0 AS (
        SELECT array_to_string(regexp_split_to_array(w, ''), ' ') AS sym, freq
        FROM words
    ),
    p1 AS (
        SELECT pair, sum(freq) AS cnt FROM (
            SELECT unnest(list_transform(range(1, len(a)),
                                         i -> a[i] || ' ' || a[i+1])) AS pair,
                   freq
            FROM (SELECT regexp_split_to_array(sym, ' ') AS a, freq FROM sym0)
        ) GROUP BY pair
    ),
    t1 AS (
        SELECT pair, replace(pair, ' ', '') AS new_symbol, cnt
        FROM p1 ORDER BY cnt DESC, pair LIMIT 1
    ),
    sym1 AS (
        SELECT trim(replace(' ' || s.sym || ' ',
                            ' ' || t1.pair || ' ',
                            ' ' || t1.new_symbol || ' ')) AS sym, s.freq
        FROM sym0 s, t1
    ),
    p2 AS (
        SELECT pair, sum(freq) AS cnt FROM (
            SELECT unnest(list_transform(range(1, len(a)),
                                         i -> a[i] || ' ' || a[i+1])) AS pair,
                   freq
            FROM (SELECT regexp_split_to_array(sym, ' ') AS a, freq FROM sym1)
        ) GROUP BY pair
    ),
    t2 AS (
        SELECT pair, replace(pair, ' ', '') AS new_symbol, cnt
        FROM p2 ORDER BY cnt DESC, pair LIMIT 1
    )
    SELECT CAST(1 AS INT) AS merge_rank, pair, new_symbol, cnt AS pair_count FROM t1
    UNION ALL
    SELECT CAST(2 AS INT), pair, new_symbol, cnt FROM t2
    ORDER BY merge_rank
    """,
    "BPE vocabulary induction, 2 unrolled merge rounds: lowercase "
    "alphabetic word frequencies -> char-symbol spelling -> adjacent-"
    "pair counts -> merge the max pair (count desc, pair asc "
    "tie-break) -> recount -> second merge. THE tokenizer-training "
    "core, in pure built-ins. The classic BPE trick is the scale "
    "story: pair statistics run over the (word, freq) VOCABULARY "
    "(tiny), never the corpus — the corpus contributes one token-count "
    "pass; each round is then a vocab-sized map + one pair-key "
    "shuffle. Merge application is engine-portable left-to-right "
    "replace (both engines consume the shared boundary space "
    "identically — semantics stated and oracle-matched). The merged "
    "top-1 rule broadcasts; driver never sees the data",
)
def bpe_merge_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    words = (
        docs.select(F.explode(text.tokens("text")).alias("t0"))
        .select(F.lower("t0").alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    # the vocabulary feeds round-1 counting AND merge application —
    # materialize once (at corpus scale this is the persisted vocab)
    sym0 = words.select(
        F.array_join(F.split("w", ""), " ").alias("sym"), "freq"
    ).transform(barrier)
    top = F.row_number().over(Window.orderBy(F.col("cnt").desc(), "pair"))
    t1 = (
        _bpe_pair_counts(sym0)
        .withColumn("rn", top)
        .filter(F.col("rn") == 1)
        .select("pair", F.expr("replace(pair, ' ', '')").alias("new_symbol"), "cnt")
        .transform(barrier)
    )
    sym1 = _bpe_apply_merge(sym0, t1)
    t2 = (
        _bpe_pair_counts(sym1)
        .withColumn("rn", top)
        .filter(F.col("rn") == 1)
        .select("pair", F.expr("replace(pair, ' ', '')").alias("new_symbol"), "cnt")
    )
    r1 = t1.select(
        F.lit(1).cast("int").alias("merge_rank"), "pair", "new_symbol",
        F.col("cnt").alias("pair_count"),
    )
    r2 = t2.select(
        F.lit(2).cast("int").alias("merge_rank"), "pair", "new_symbol",
        F.col("cnt").alias("pair_count"),
    )
    return r1.unionByName(r2).orderBy("merge_rank")


@_register(
    "bpe_apply_merges",
    r"""
    WITH words AS (
        SELECT w, count(*) AS freq FROM (
            SELECT lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS w
            FROM documents
        ) WHERE regexp_matches(w, '^[a-z]+$') AND len(w) >= 2
        GROUP BY w
    ),
    sym0 AS (
        SELECT array_to_string(regexp_split_to_array(w, ''), ' ') AS sym, freq
        FROM words
    ),
    p1 AS (
        SELECT pair, sum(freq) AS cnt FROM (
            SELECT unnest(list_transform(range(1, len(a)),
                                         i -> a[i] || ' ' || a[i+1])) AS pair,
                   freq
            FROM (SELECT regexp_split_to_array(sym, ' ') AS a, freq FROM sym0)
        ) GROUP BY pair
    ),
    t1 AS (
        SELECT pair, replace(pair, ' ', '') AS new_symbol, cnt
        FROM p1 ORDER BY cnt DESC, pair LIMIT 1
    ),
    sym1 AS (
        SELECT trim(replace(' ' || s.sym || ' ',
                            ' ' || t1.pair || ' ',
                            ' ' || t1.new_symbol || ' ')) AS sym, s.freq
        FROM sym0 s, t1
    ),
    p2 AS (
        SELECT pair, sum(freq) AS cnt FROM (
            SELECT unnest(list_transform(range(1, len(a)),
                                         i -> a[i] || ' ' || a[i+1])) AS pair,
                   freq
            FROM (SELECT regexp_split_to_array(sym, ' ') AS a, freq FROM sym1)
        ) GROUP BY pair
    ),
    t2 AS (
        SELECT pair, replace(pair, ' ', '') AS new_symbol, cnt
        FROM p2 ORDER BY cnt DESC, pair LIMIT 1
    ),
    dw AS (
        SELECT doc_id, w FROM (
            SELECT doc_id,
                   lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS w
            FROM documents
        ) WHERE regexp_matches(w, '^[a-z]+$') AND len(w) >= 2
    ),
    sp AS (
        SELECT doc_id,
               array_to_string(regexp_split_to_array(w, ''), ' ') AS sym
        FROM dw
    ),
    ap1 AS (
        SELECT doc_id, sym,
               trim(replace(' ' || sym || ' ',
                            ' ' || t1.pair || ' ',
                            ' ' || t1.new_symbol || ' ')) AS sym1
        FROM sp, t1
    ),
    ap2 AS (
        SELECT doc_id, sym,
               trim(replace(' ' || sym1 || ' ',
                            ' ' || t2.pair || ' ',
                            ' ' || t2.new_symbol || ' ')) AS sym2
        FROM ap1, t2
    )
    SELECT doc_id,
           CAST(count(*) AS INT) AS n_words,
           CAST(sum(len(regexp_split_to_array(sym, ' '))) AS BIGINT)
               AS n_symbols_before,
           CAST(sum(len(regexp_split_to_array(sym2, ' '))) AS BIGINT)
               AS n_symbols_after
    FROM ap2 GROUP BY doc_id
    ORDER BY doc_id
    """,
    "tokenizer APPLICATION — the other half of bpe_merge_induction: "
    "the two induced merge rules are applied in rank order to every "
    "document's word stream (char-spelled symbols, left-to-right "
    "non-overlapping replace — round 2 can consume round 1's merged "
    "symbol, so application is strictly sequential), then per-doc "
    "symbol counts before/after measure the compression the learned "
    "vocabulary buys. The scale split is the point: induction runs on "
    "the (word, freq) VOCABULARY, application is a MAP-ONLY corpus "
    "pass with the rank-ordered merge table BROADCAST — exactly how a "
    "learned tokenizer deploys at 100 TB (rules are driver-free: the "
    "1-row rule tables cross-broadcast onto the stream)",
)
def bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    dw = (
        docs.select("doc_id", F.explode(text.tokens("text")).alias("t0"))
        .select("doc_id", F.lower("t0").alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
    )
    words = dw.groupBy("w").agg(F.count("*").alias("freq"))
    sym0v = words.select(
        F.array_join(F.split("w", ""), " ").alias("sym"), "freq"
    ).transform(barrier)
    top = F.row_number().over(Window.orderBy(F.col("cnt").desc(), "pair"))
    t1 = (
        _bpe_pair_counts(sym0v)
        .withColumn("rn", top)
        .filter(F.col("rn") == 1)
        .select("pair", F.expr("replace(pair, ' ', '')").alias("new_symbol"))
        .transform(barrier)
    )
    sym1v = _bpe_apply_merge(sym0v, t1)
    t2 = (
        _bpe_pair_counts(sym1v)
        .withColumn("rn", top)
        .filter(F.col("rn") == 1)
        .select("pair", F.expr("replace(pair, ' ', '')").alias("new_symbol"))
        .transform(barrier)
    )
    apply1 = F.trim(
        F.expr(
            "replace(concat(' ', sym, ' '), concat(' ', t1_pair, ' '), "
            "concat(' ', t1_sym, ' '))"
        )
    )
    apply2 = F.trim(
        F.expr(
            "replace(concat(' ', sym1, ' '), concat(' ', t2_pair, ' '), "
            "concat(' ', t2_sym, ' '))"
        )
    )
    spelled = dw.select(
        "doc_id", F.array_join(F.split("w", ""), " ").alias("sym")
    )
    applied = (
        spelled.crossJoin(
            F.broadcast(
                t1.select(
                    F.col("pair").alias("t1_pair"), F.col("new_symbol").alias("t1_sym")
                )
            )
        )
        .withColumn("sym1", apply1)
        .crossJoin(
            F.broadcast(
                t2.select(
                    F.col("pair").alias("t2_pair"), F.col("new_symbol").alias("t2_sym")
                )
            )
        )
        .withColumn("sym2", apply2)
    )
    return (
        applied.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_words"),
            F.sum(F.size(F.split("sym", " "))).cast("bigint").alias("n_symbols_before"),
            F.sum(F.size(F.split("sym2", " "))).cast("bigint").alias("n_symbols_after"),
        )
        .orderBy("doc_id")
    )


@_register(
    "bigram_lm_perplexity",
    f"""
    WITH toks AS (
        SELECT doc_id, {_D_TOKS} AS tk FROM documents
    ),
    big AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk)),
                                     i -> {{'p': tk[i], 'w': tk[i+1]}})) AS bg
        FROM toks WHERE len(tk) >= 2
    ),
    bg2 AS (SELECT doc_id, bg.p AS prev, bg.w AS w FROM big),
    c2 AS (SELECT prev, w, count(*) AS n2 FROM bg2 GROUP BY prev, w),
    c1 AS (SELECT prev, sum(n2) AS n1 FROM c2 GROUP BY prev),
    v AS (
        SELECT count(*) AS nv
        FROM (SELECT prev AS t FROM c2 UNION SELECT w FROM c2)
    ),
    scored AS (
        SELECT b.doc_id,
               -ln((c2.n2 + 0.5) / (c1.n1 + 0.5 * v.nv)) AS nll
        FROM bg2 b
        JOIN c2 ON b.prev = c2.prev AND b.w = c2.w
        JOIN c1 ON b.prev = c1.prev, v
    )
    SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
           round(avg(nll), 4) AS avg_nll
    FROM scored GROUP BY doc_id
    ORDER BY doc_id
    """,
    "statistical-LM quality scoring — per-document mean negative "
    "log-likelihood under a corpus-level bigram model with Laplace "
    "smoothing (P(w|prev) = (C(prev,w)+0.5)/(C(prev)+0.5V)): the "
    "perplexity-proxy filter every pretraining pipeline runs (high "
    "avg_nll = disfluent/anomalous text, low = repetitive boilerplate). "
    "Two corpus passes: a stats pass builds the bigram count table "
    "(VOCABULARY-sized, checkpointed once; the context counts and "
    "vocab size DERIVE from it with no further corpus scans), then a "
    "scoring pass joins each document's bigram stream against the "
    "BROADCAST stats — map-side, no shuffle of the corpus. At 100 TB "
    "the stats table is a reusable persisted artifact keyed on corpus "
    "snapshot; scoring stays embarrassingly parallel",
)
def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tk = text.tokens("text")
    big = (
        docs.filter(F.size(tk) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(tk, 1, F.size(tk) - 1).alias("prev"),
                    F.slice(tk, 2, F.size(tk) - 1).alias("w"),
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.prev").alias("prev"), F.col("bg.w").alias("w"))
        # the bigram stream feeds the count model (c2, below) AND the
        # per-doc scoring join — without a barrier the tokenize + slice
        # + explode pass runs once per consumer. Lazy is safe here (the
        # consumers are sequential: the c2 broadcast build materializes
        # the blocks, the main job reuses them); measured a consistent
        # ~0.1s at sf0.1 and at 100 TB it halves the corpus passes
        .transform(barrier)
    )
    # vocabulary-sized stats artifact — one corpus pass, materialized
    # once; c1 and V derive from it without touching the corpus again
    c2 = big.groupBy("prev", "w").agg(F.count("*").alias("n2")).transform(barrier)
    c1 = c2.groupBy("prev").agg(F.sum("n2").alias("n1"))
    v = (
        c2.select(F.col("prev").alias("t"))
        .union(c2.select(F.col("w").alias("t")))
        .distinct()
        .agg(F.count("*").alias("nv"))
    )
    nll = -F.log((F.col("n2") + 0.5) / (F.col("n1") + 0.5 * F.col("nv")))
    return (
        big.join(F.broadcast(c2), ["prev", "w"])
        .join(F.broadcast(c1), "prev")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            F.round(F.avg(nll), 4).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


@_register(
    "feature_hashing_vectors",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest({_D_TOKS}) AS t FROM documents
        WHERE len(trim(text)) > 0
    ),
    b AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(t), 1, 8))::UBIGINT % 8 AS INT)
                   AS bucket
        FROM tok
    ),
    v AS (
        SELECT doc_id,
               count(*) AS n_tokens,
               sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS h0,
               sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS h1,
               sum(CASE WHEN bucket = 2 THEN 1 ELSE 0 END) AS h2,
               sum(CASE WHEN bucket = 3 THEN 1 ELSE 0 END) AS h3,
               sum(CASE WHEN bucket = 4 THEN 1 ELSE 0 END) AS h4,
               sum(CASE WHEN bucket = 5 THEN 1 ELSE 0 END) AS h5,
               sum(CASE WHEN bucket = 6 THEN 1 ELSE 0 END) AS h6,
               sum(CASE WHEN bucket = 7 THEN 1 ELSE 0 END) AS h7
        FROM b GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, h0, h1, h2, h3, h4, h5, h6, h7,
           round(sqrt(h0*h0 + h1*h1 + h2*h2 + h3*h3
                    + h4*h4 + h5*h5 + h6*h6 + h7*h7), 4) AS l2_norm
    FROM v ORDER BY doc_id
    """,
    "the hashing trick: tokens map to a FIXED 8-dim count vector via "
    "md5-bucket assignment — vocabulary-free featurization (no fitted "
    "dictionary to broadcast or version, collisions absorbed by the "
    "model), the standard first featurizer for streaming/huge-vocab "
    "text. One conditional-sum pass per doc builds all dims (sum-of-"
    "CASE, no pivot shuffle); md5-derived buckets make the vector "
    "engine- and partitioning-portable. At 100 TB: map-only until the "
    "per-doc agg, dim count is a constant in the plan, not a join",
)
def feature_hashing_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = docs.filter(F.length(F.trim("text")) > 0).select(
        "doc_id", F.explode(text.tokens("text")).alias("t")
    )
    bucket = (
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("bigint") % 8
    ).cast("int")
    b = tok.select("doc_id", bucket.alias("bucket"))
    hs = [
        F.sum(F.when(F.col("bucket") == i, 1).otherwise(0)).alias(f"h{i}")
        for i in range(8)
    ]
    v = b.groupBy("doc_id").agg(F.count("*").alias("n_tokens"), *hs)
    l2 = F.round(
        F.sqrt(
            sum((F.col(f"h{i}") * F.col(f"h{i}")) for i in range(8))
        ),
        4,
    )
    return v.select(
        "doc_id", "n_tokens", *[f"h{i}" for i in range(8)], l2.alias("l2_norm")
    ).orderBy("doc_id")


@_register(
    "source_unigram_jsd",
    r"""
    WITH toks AS (
        SELECT source,
               unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
                                     t -> lower(t))) AS term
        FROM documents
    ),
    st AS (
        SELECT source, term, count(*) AS n FROM toks GROUP BY source, term
    ),
    j AS (
        SELECT st.source, st.term,
               st.n * 1.0 / sum(st.n) OVER (PARTITION BY st.source) AS p,
               sum(st.n) OVER (PARTITION BY st.term) * 1.0
                   / sum(st.n) OVER () AS q,
               sum(st.n) OVER (PARTITION BY st.source) AS tot
        FROM st
    )
    SELECT source,
           CAST(max(tot) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab_terms,
           round(sum(q), 6) + 0.0 AS corpus_coverage,
           round(0.5 * sum(p * ln(2 * p / (p + q))
                           + q * ln(2 * q / (p + q)))
                 + 0.5 * (1 - sum(q)) * ln(2), 6) + 0.0 AS jsd_vs_corpus
    FROM j GROUP BY source ORDER BY source
    """,
    "per-source Jensen-Shannon divergence from the corpus unigram "
    "distribution — the mixture-health metric that tells you which "
    "crawl source's token distribution has drifted from the blend "
    "(`source_mixture_weights` reweights by SIZE; this flags "
    "reweighting by CONTENT). Algebraic trick for scale: the "
    "absent-term half of the JSD sum collapses to "
    "0.5*(1 - coverage)*ln2, so only source-PRESENT (source, term) "
    "rows are ever joined — no |sources| x |vocab| expansion; one "
    "(source, term) rollup, corpus/term/source masses via windows on "
    "that rollup, one per-source aggregate out. Rounded at output: "
    "the term-sum order differs across engines, 6dp sits far above "
    "double accumulation noise",
)
def source_unigram_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    st = (
        docs.select(
            "source",
            F.explode(F.transform(text.tokens("text"), F.lower)).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count("*").alias("n"))
    )
    w_src = Window.partitionBy("source")
    w_term = Window.partitionBy("term")
    # corpus total as a 1-row broadcast scalar, NOT an unpartitioned
    # window — a global window would single-partition the vocab-sized
    # rollup at scale
    ctot = st.agg(F.sum("n").alias("ctot"))
    j = st.crossJoin(F.broadcast(ctot)).select(
        "source",
        "term",
        (F.col("n") * 1.0 / F.sum("n").over(w_src)).alias("p"),
        (F.sum("n").over(w_term) * 1.0 / F.col("ctot")).alias("q"),
        F.sum("n").over(w_src).alias("tot"),
    )
    return (
        j.groupBy("source")
        .agg(
            F.max("tot").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("vocab_terms"),
            (F.round(F.sum("q"), 6) + 0.0).alias("corpus_coverage"),
            (
                F.round(
                    0.5
                    * F.sum(
                        F.col("p") * F.log(2 * F.col("p") / (F.col("p") + F.col("q")))
                        + F.col("q") * F.log(2 * F.col("q") / (F.col("p") + F.col("q")))
                    )
                    + 0.5 * (1 - F.sum("q")) * float(__import__("math").log(2.0)),
                    6,
                )
                + 0.0
            ).alias("jsd_vs_corpus"),
        )
        .orderBy("source")
    )


@_register(
    "readability_scores",
    r"""
    WITH m AS (
        SELECT doc_id, lang,
               len(regexp_split_to_array(trim(text), '\s+')) AS words,
               greatest(len(regexp_split_to_array(text, '[.!?]+')) - 1, 1)
                   AS sentences,
               greatest(len(regexp_split_to_array(lower(text), '[aeiouy]+')) - 1,
                        1) AS syllables
        FROM documents
    )
    SELECT doc_id, lang,
           CAST(words AS BIGINT) AS n_words,
           CAST(sentences AS BIGINT) AS n_sentences,
           CAST(syllables AS BIGINT) AS n_syllables,
           round(206.835 - 1.015 * (words * 1.0 / sentences)
                 - 84.6 * (syllables * 1.0 / words), 4) + 0.0
               AS flesch_score
    FROM m
    WHERE words > 0
    ORDER BY doc_id
    """,
    "Flesch reading-ease scoring per document — the readability gate "
    "a children's-content / plain-language corpus filter runs "
    "(Flesch 1948: 206.835 - 1.015*(words/sentence) - "
    "84.6*(syllables/word)); syllables approximated as vowel-group "
    "runs, the standard codepoint-only heuristic when no dictionary "
    "is shippable. Map-only (three regexp splits per row, all "
    "RE2-safe), no shuffle at any scale; integer counts make the "
    "formula engine-exact before the output rounding",
)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    sentences = F.greatest(
        F.size(F.split(F.col("text"), r"[.!?]+")) - 1, F.lit(1)
    )
    syllables = F.greatest(
        F.size(F.split(F.lower(F.col("text")), r"[aeiouy]+")) - 1, F.lit(1)
    )
    m = docs.select(
        "doc_id",
        "lang",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    ).filter(F.col("words") > 0)
    return m.select(
        "doc_id",
        "lang",
        F.col("words").cast("bigint").alias("n_words"),
        F.col("sentences").cast("bigint").alias("n_sentences"),
        F.col("syllables").cast("bigint").alias("n_syllables"),
        (
            F.round(
                206.835
                - 1.015 * (F.col("words") * 1.0 / F.col("sentences"))
                - 84.6 * (F.col("syllables") * 1.0 / F.col("words")),
                4,
            )
            + 0.0
        ).alias("flesch_score"),
    ).orderBy("doc_id")


@_register(
    "lang_id_agreement_kappa",
    f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {_d_lang_score('de')} AS s_de,
               {_d_lang_score('en')} AS s_en,
               {_d_lang_score('es')} AS s_es,
               {_d_lang_score('fr')} AS s_fr
        FROM documents
    ),
    pred AS (
        SELECT lang,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                    ELSE 'de' END AS lang_pred
        FROM scored
    ),
    cm AS (
        SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY lang, lang_pred
    ),
    tot AS (SELECT sum(n) AS n FROM cm),
    po AS (SELECT coalesce(sum(n), 0) AS agree FROM cm WHERE lang = lang_pred),
    rt AS (SELECT lang AS lbl, sum(n) AS r FROM cm GROUP BY lang),
    ct AS (SELECT lang_pred AS lbl, sum(n) AS c FROM cm GROUP BY lang_pred),
    pe AS (
        SELECT sum(coalesce(rt.r, 0) * coalesce(ct.c, 0)) AS rc
        FROM rt FULL JOIN ct ON rt.lbl = ct.lbl
    )
    SELECT CAST(tot.n AS BIGINT) AS n_docs,
           round(po.agree * 1.0 / tot.n, 6) AS observed_agreement,
           round(pe.rc * 1.0 / (tot.n * tot.n), 6) AS expected_agreement,
           round((po.agree * 1.0 / tot.n - pe.rc * 1.0 / (tot.n * tot.n))
                 / (1 - pe.rc * 1.0 / (tot.n * tot.n)), 6) + 0.0
               AS cohens_kappa
    FROM tot, po, pe
    """,
    "Cohen's kappa between the stopword-coverage lang-id heuristic "
    "(`lang_id`) and the labeled language — chance-corrected "
    "agreement, the honest version of raw accuracy when the label "
    "distribution is skewed (a majority-class guesser scores high "
    "accuracy but kappa ~0). The classifier-vs-reference audit shape "
    "that also serves annotator-agreement QA on labeling pipelines. "
    "Everything reduces to the labels^2-sized confusion matrix: "
    "marginals re-aggregate it, the three scalars cross in as 1-row "
    "broadcasts; exact integer ratios make kappa engine-deterministic",
)
def lang_id_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    pred = text.language_id(docs.select("doc_id", "lang", "text"), "text").select(
        "lang", "lang_pred"
    )
    cm = pred.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))
    tot = cm.agg(F.sum("n").alias("n"))
    po = cm.filter(F.col("lang") == F.col("lang_pred")).agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("agree")
    )
    rt = cm.groupBy(F.col("lang").alias("lbl")).agg(F.sum("n").alias("r"))
    ct = cm.groupBy(F.col("lang_pred").alias("lbl")).agg(F.sum("n").alias("c"))
    pe = (
        rt.join(ct, "lbl", "full")
        .agg(
            F.sum(
                F.coalesce("r", F.lit(0)) * F.coalesce("c", F.lit(0))
            ).alias("rc")
        )
    )
    po_f = F.col("agree") * 1.0 / F.col("n")
    pe_f = F.col("rc") * 1.0 / (F.col("n") * F.col("n"))
    return (
        tot.crossJoin(F.broadcast(po))
        .crossJoin(F.broadcast(pe))
        .select(
            F.col("n").cast("bigint").alias("n_docs"),
            F.round(po_f, 6).alias("observed_agreement"),
            F.round(pe_f, 6).alias("expected_agreement"),
            (F.round((po_f - pe_f) / (1 - pe_f), 6) + 0.0).alias("cohens_kappa"),
        )
    )


@_register(
    "lang_id_class_prf",
    f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {_d_lang_score('de')} AS s_de,
               {_d_lang_score('en')} AS s_en,
               {_d_lang_score('es')} AS s_es,
               {_d_lang_score('fr')} AS s_fr
        FROM documents
    ),
    pred AS (
        SELECT lang,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                    ELSE 'de' END AS lang_pred
        FROM scored
    ),
    cm AS (
        SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY lang, lang_pred
    ),
    rt AS (SELECT lang AS lbl, sum(n) AS n_true FROM cm GROUP BY lang),
    ct AS (SELECT lang_pred AS lbl, sum(n) AS n_pred FROM cm GROUP BY lang_pred),
    tp AS (SELECT lang AS lbl, sum(n) AS n_correct FROM cm
           WHERE lang = lang_pred GROUP BY lang),
    j AS (
        SELECT coalesce(rt.lbl, ct.lbl) AS label,
               coalesce(rt.n_true, 0) AS n_true,
               coalesce(ct.n_pred, 0) AS n_pred,
               coalesce(tp.n_correct, 0) AS n_correct
        FROM rt
        FULL JOIN ct ON rt.lbl = ct.lbl
        LEFT JOIN tp ON coalesce(rt.lbl, ct.lbl) = tp.lbl
    )
    SELECT label,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_pred AS BIGINT) AS n_pred,
           CAST(n_correct AS BIGINT) AS n_correct,
           round(CASE WHEN n_pred > 0
                      THEN n_correct * 1.0 / n_pred END, 6) + 0.0 AS precision,
           round(CASE WHEN n_true > 0
                      THEN n_correct * 1.0 / n_true END, 6) + 0.0 AS recall,
           round(CASE WHEN n_correct > 0
                      THEN 2.0 * n_correct / (n_pred + n_true)
                      ELSE 0.0 END, 6) + 0.0 AS f1
    FROM j
    ORDER BY label
    """,
    "per-class precision / recall / F1 for the lang-id heuristic "
    "against labels — the confusion-matrix decomposition kappa "
    "summarizes (`lang_id_agreement_kappa`): which languages the "
    "classifier over-claims (low precision) vs misses (low recall), "
    "including labels it never predicts (zh -> recall 0, NULL "
    "precision) and predictions with no true class (und). One "
    "labels^2 confusion rollup re-aggregated three ways, "
    "full-outer-joined on the label union — output is labels-sized; "
    "exact integer ratios, F1 = 2TP/(pred+true) avoids the P+R "
    "division chain (exact in both engines)",
)
def lang_id_class_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    pred = text.language_id(docs.select("doc_id", "lang", "text"), "text").select(
        "lang", "lang_pred"
    )
    cm = pred.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))
    rt = cm.groupBy(F.col("lang").alias("lbl")).agg(F.sum("n").alias("n_true"))
    ct = cm.groupBy(F.col("lang_pred").alias("lbl")).agg(
        F.sum("n").alias("n_pred")
    )
    tp = (
        cm.filter(F.col("lang") == F.col("lang_pred"))
        .groupBy(F.col("lang").alias("lbl"))
        .agg(F.sum("n").alias("n_correct"))
    )
    j = (
        rt.join(ct, "lbl", "full")
        .join(tp, "lbl", "left")
        .select(
            F.col("lbl").alias("label"),
            F.coalesce("n_true", F.lit(0)).alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("n_correct", F.lit(0)).alias("n_correct"),
        )
    )
    return j.select(
        "label",
        F.col("n_true").cast("bigint").alias("n_true"),
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("n_correct").cast("bigint").alias("n_correct"),
        (
            F.round(
                F.when(F.col("n_pred") > 0, F.col("n_correct") * 1.0 / F.col("n_pred")),
                6,
            )
            + 0.0
        ).alias("precision"),
        (
            F.round(
                F.when(F.col("n_true") > 0, F.col("n_correct") * 1.0 / F.col("n_true")),
                6,
            )
            + 0.0
        ).alias("recall"),
        (
            F.round(
                F.when(
                    F.col("n_correct") > 0,
                    2.0 * F.col("n_correct") / (F.col("n_pred") + F.col("n_true")),
                ).otherwise(0.0),
                6,
            )
            + 0.0
        ).alias("f1"),
    ).orderBy("label")


@_register(
    "source_diversity_by_lang",
    """
    WITH c AS (
        SELECT lang, source, count(*) AS n
        FROM documents GROUP BY lang, source
    ),
    t AS (SELECT lang, sum(n) AS tot FROM c GROUP BY lang)
    SELECT c.lang,
           CAST(max(t.tot) AS BIGINT) AS n_docs,
           CAST(count(*) AS INT) AS n_sources,
           round(sum(power(c.n * 1.0 / t.tot, 2)), 6) AS simpson_index,
           round(1.0 / sum(power(c.n * 1.0 / t.tot, 2)), 4)
               AS effective_sources,
           round(-sum((c.n * 1.0 / t.tot) * ln(c.n * 1.0 / t.tot)), 6)
               + 0.0 AS shannon_entropy
    FROM c JOIN t ON c.lang = t.lang
    GROUP BY c.lang
    ORDER BY c.lang
    """,
    "source-diversity audit per language: Simpson concentration "
    "sum(p^2), its inverse (the EFFECTIVE number of sources — 20 "
    "sources contributing like 3 means the language rides on 3 "
    "crawls), and Shannon entropy — the mixture-robustness check "
    "before trusting a language's volume number, and the ecological "
    "twin of `source_mixture_weights` (size) and `source_unigram_jsd` "
    "(content). Everything reduces to the langs x sources cell "
    "rollup with per-language totals joined back broadcast-sized; "
    "exact integer ratios under the rounding",
)
def source_diversity_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(F.count("*").alias("n"))
    t = c.groupBy("lang").agg(F.sum("n").alias("tot"))
    p = F.col("n") * 1.0 / F.col("tot")
    return (
        c.join(F.broadcast(t), "lang")
        .groupBy("lang")
        .agg(
            F.max("tot").cast("bigint").alias("n_docs"),
            F.count("*").cast("int").alias("n_sources"),
            F.round(F.sum(F.pow(p, 2)), 6).alias("simpson_index"),
            F.round(1.0 / F.sum(F.pow(p, 2)), 4).alias("effective_sources"),
            (F.round(-F.sum(p * F.log(p)), 6) + 0.0).alias("shannon_entropy"),
        )
        .orderBy("lang")
    )


@_register(
    "redact_pii_documents",
    r"""
    WITH seeded AS (
        SELECT doc_id,
               text || CASE CAST(doc_id % 4 AS INT)
                   WHEN 0 THEN ' contact user' || doc_id
                            || '@mail.example.com or (555) 123-4567'
                   WHEN 1 THEN ' ssn 123-45-6789 from 192.168.1.'
                            || CAST(doc_id % 250 AS VARCHAR)
                   ELSE '' END AS text
        FROM documents
    ),
    red AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                   text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
                   '(\+?\d{1,2}[ -])?(\(\d{3}\) ?|\b\d{3}[ -])\d{3}[ -]\d{4}\b',
                   '<PHONE>', 'g'),
                   '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS rtext
        FROM seeded
    )
    SELECT doc_id,
           CAST((len(rtext) - len(replace(rtext, '<EMAIL>', ''))) / 7 AS INT)
               AS n_emails,
           CAST((len(rtext) - len(replace(rtext, '<PHONE>', ''))) / 7 AS INT)
               AS n_phones,
           CAST((len(rtext) - len(replace(rtext, '<SSN>', ''))) / 5 AS INT)
               AS n_ssns,
           CAST((len(rtext) - len(replace(rtext, '<IP>', ''))) / 4 AS INT)
               AS n_ips,
           md5(rtext) AS redacted_fp
    FROM red
    ORDER BY doc_id
    """,
    "PII scrub before tokenization (text.redact_pii): chained "
    "regexp_replace for emails, SSNs, phones, IPv4 — RE2-safe rule "
    "strings shared verbatim between the Spark plan and the oracle, "
    "applied email-first so digit runs never half-match later rules. "
    "Deterministic PII is seeded into the fixture text per doc (the "
    "corpus itself is synthetic words), then the md5 of the redacted "
    "text plus per-type redaction counts are hash-matched — proving "
    "replace-ALL semantics and pattern parity across regex engines. "
    "Pure narrow compute: scan-speed at 100 TB, zero shuffle "
    "(ORDER BY is presentation)",
)
def redact_pii_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    seeded = F.concat(
        F.col("text"),
        F.when(
            (did % 4) == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@mail.example.com or (555) 123-4567"),
            ),
        )
        .when(
            (did % 4) == 1,
            F.concat(
                F.lit(" ssn 123-45-6789 from 192.168.1."),
                (did % 250).cast("string"),
            ),
        )
        .otherwise(F.lit("")),
    )
    red = text.redact_pii(seeded)

    def n_of(token: str) -> F.Column:
        return (
            (F.length(red) - F.length(F.replace(red, F.lit(token), F.lit(""))))
            / len(token)
        ).cast("int")

    return docs.select(
        "doc_id",
        n_of("<EMAIL>").alias("n_emails"),
        n_of("<PHONE>").alias("n_phones"),
        n_of("<SSN>").alias("n_ssns"),
        n_of("<IP>").alias("n_ips"),
        F.md5(red.cast("binary")).alias("redacted_fp"),
    ).orderBy("doc_id")


@_register(
    "linear_quality_classifier",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents
    ),
    f AS (
        SELECT doc_id,
               sum(((CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT % 64
                          AS BIGINT) * 37) % 21 - 10) / 16.0) AS s,
               count(*) AS n
        FROM toks GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n AS INT) AS n_tokens,
           round(-0.25 + s / n, 6) + 0.0 AS logit,
           round(1.0 / (1.0 + exp(-(-0.25 + s / n))), 4) + 0.0 AS score,
           (1.0 / (1.0 + exp(-(-0.25 + s / n))) >= 0.5) AS keep
    FROM f
    ORDER BY doc_id
    """,
    "fasttext-style linear quality classifier INFERENCE at corpus "
    "scale: every token hashes into one of 64 feature buckets "
    "(md5-derived, engine-portable), the bucket's weight comes from a "
    "broadcast-sized weight table (synthetic deterministic weights "
    "w[j] = ((j*37)%21-10)/16 — SIXTEENTHS, so every per-doc "
    "weight-sum is an exact dyadic rational and order-independent "
    "across engines), mean-pooled into a logit and squashed through a "
    "sigmoid. The Spark side is a per-row JVM fold over the token "
    "array (F.aggregate + element_at into a 64-literal weight array): "
    "ZERO shuffles except the presentation sort — the entire "
    "classifier runs at scan speed, exactly how production quality "
    "filters (fastText/DCLM-style) deploy over 100 TB. Swap the "
    "synthetic weights for trained ones and nothing else changes",
)
def linear_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    weights = F.array(*[F.lit(((j * 37) % 21 - 10) / 16.0) for j in range(64)])
    toks = text.tokens("text")

    def w_of(tok):
        bucket = (
            F.conv(F.substring(F.md5(tok.cast("binary")), 1, 8), 16, 10).cast("long")
            % 64
        )
        return F.element_at(weights, (bucket + 1).cast("int"))

    n = F.size(toks)
    s = F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + w_of(t))
    logit = F.lit(-0.25) + s / n
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return docs.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        (F.round(logit, 6) + F.lit(0.0)).alias("logit"),
        (F.round(score, 4) + F.lit(0.0)).alias("score"),
        (score >= 0.5).alias("keep"),
    ).orderBy("doc_id")


@_register(
    "bpe_fertility_by_lang",
    r"""
    WITH words AS (
        SELECT w, count(*) AS freq FROM (
            SELECT lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS w
            FROM documents
        ) WHERE regexp_matches(w, '^[a-z]+$') AND len(w) >= 2
        GROUP BY w
    ),
    sym0 AS (
        SELECT array_to_string(regexp_split_to_array(w, ''), ' ') AS sym, freq
        FROM words
    ),
    p1 AS (
        SELECT pair, sum(freq) AS cnt FROM (
            SELECT unnest(list_transform(range(1, len(a)),
                                         i -> a[i] || ' ' || a[i+1])) AS pair,
                   freq
            FROM (SELECT regexp_split_to_array(sym, ' ') AS a, freq FROM sym0)
        ) GROUP BY pair
    ),
    t1 AS (
        SELECT pair, replace(pair, ' ', '') AS new_symbol, cnt
        FROM p1 ORDER BY cnt DESC, pair LIMIT 1
    ),
    sym1 AS (
        SELECT trim(replace(' ' || s.sym || ' ',
                            ' ' || t1.pair || ' ',
                            ' ' || t1.new_symbol || ' ')) AS sym, s.freq
        FROM sym0 s, t1
    ),
    p2 AS (
        SELECT pair, sum(freq) AS cnt FROM (
            SELECT unnest(list_transform(range(1, len(a)),
                                         i -> a[i] || ' ' || a[i+1])) AS pair,
                   freq
            FROM (SELECT regexp_split_to_array(sym, ' ') AS a, freq FROM sym1)
        ) GROUP BY pair
    ),
    t2 AS (
        SELECT pair, replace(pair, ' ', '') AS new_symbol, cnt
        FROM p2 ORDER BY cnt DESC, pair LIMIT 1
    ),
    dw AS (
        SELECT lang, w FROM (
            SELECT lang,
                   lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS w
            FROM documents
        ) WHERE regexp_matches(w, '^[a-z]+$') AND len(w) >= 2
    ),
    sp AS (
        SELECT lang,
               array_to_string(regexp_split_to_array(w, ''), ' ') AS sym
        FROM dw
    ),
    ap1 AS (
        SELECT lang, sym,
               trim(replace(' ' || sym || ' ',
                            ' ' || t1.pair || ' ',
                            ' ' || t1.new_symbol || ' ')) AS sym1
        FROM sp, t1
    ),
    ap2 AS (
        SELECT lang, sym,
               trim(replace(' ' || sym1 || ' ',
                            ' ' || t2.pair || ' ',
                            ' ' || t2.new_symbol || ' ')) AS sym2
        FROM ap1, t2
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(regexp_split_to_array(sym, ' '))) AS BIGINT)
               AS n_chars,
           CAST(sum(len(regexp_split_to_array(sym2, ' '))) AS BIGINT)
               AS n_subwords,
           round(sum(len(regexp_split_to_array(sym2, ' '))) * 1.0
                 / count(*), 4) + 0.0 AS fertility,
           round(sum(len(regexp_split_to_array(sym2, ' '))) * 1.0
                 / sum(len(regexp_split_to_array(sym, ' '))), 4) + 0.0
               AS compression_ratio
    FROM ap2
    GROUP BY lang
    ORDER BY lang
    """,
    "tokenizer FERTILITY audit per language: merges are learned on the "
    "WHOLE corpus (the same 2-round vocabulary-statistics BPE as "
    "bpe_merge_induction/bpe_apply_merges), then each language's words "
    "are segmented and fertility = subword tokens per word is rolled "
    "up per lang, with the char->subword compression ratio — the "
    "multilingual token-budget audit that shows which languages pay "
    "more tokens per word under a shared vocabulary (the famous "
    "English-centric-tokenizer tax). Scale shape identical to "
    "bpe_apply_merges: pair statistics and merge rules live at "
    "VOCABULARY grain (broadcast), the corpus makes one spell-and-"
    "replace pass, and the fertility rollup is languages-sized",
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    dw = (
        docs.select("lang", F.explode(text.tokens("text")).alias("t0"))
        .select("lang", F.lower("t0").alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
    )
    words = dw.groupBy("w").agg(F.count("*").alias("freq"))
    sym0v = words.select(
        F.array_join(F.split("w", ""), " ").alias("sym"), "freq"
    ).transform(barrier)
    top = F.row_number().over(Window.orderBy(F.col("cnt").desc(), "pair"))
    t1 = (
        _bpe_pair_counts(sym0v)
        .withColumn("rn", top)
        .filter(F.col("rn") == 1)
        .select("pair", F.expr("replace(pair, ' ', '')").alias("new_symbol"))
        .transform(barrier)
    )
    sym1v = _bpe_apply_merge(sym0v, t1)
    t2 = (
        _bpe_pair_counts(sym1v)
        .withColumn("rn", top)
        .filter(F.col("rn") == 1)
        .select("pair", F.expr("replace(pair, ' ', '')").alias("new_symbol"))
        .transform(barrier)
    )
    spelled = dw.select("lang", F.array_join(F.split("w", ""), " ").alias("sym"))
    ap1 = spelled.crossJoin(
        F.broadcast(t1.select(F.col("pair").alias("t1_pair"), F.col("new_symbol").alias("t1_sym")))
    ).withColumn(
        "sym1",
        F.trim(
            F.expr(
                "replace(concat(' ', sym, ' '), concat(' ', t1_pair, ' '), "
                "concat(' ', t1_sym, ' '))"
            )
        ),
    )
    ap2 = ap1.crossJoin(
        F.broadcast(t2.select(F.col("pair").alias("t2_pair"), F.col("new_symbol").alias("t2_sym")))
    ).withColumn(
        "sym2",
        F.trim(
            F.expr(
                "replace(concat(' ', sym1, ' '), concat(' ', t2_pair, ' '), "
                "concat(' ', t2_sym, ' '))"
            )
        ),
    )
    n_chars = F.sum(F.size(F.split("sym", " ")))
    n_sub = F.sum(F.size(F.split("sym2", " ")))
    return (
        ap2.groupBy("lang")
        .agg(
            F.count("*").alias("n_words"),
            n_chars.alias("n_chars"),
            n_sub.alias("n_subwords"),
            (F.round(n_sub * 1.0 / F.count("*"), 4) + F.lit(0.0)).alias("fertility"),
            (F.round(n_sub * 1.0 / n_chars, 4) + F.lit(0.0)).alias(
                "compression_ratio"
            ),
        )
        .orderBy("lang")
    )


@_register(
    "quality_classifier_calibration",
    r"""
    WITH toks AS (
        SELECT doc_id, n_chars,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents
    ),
    f AS (
        SELECT doc_id, any_value(n_chars) AS n_chars,
               sum(((CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT % 64
                          AS BIGINT) * 37) % 21 - 10) / 16.0) AS s,
               count(*) AS n
        FROM toks GROUP BY doc_id
    ),
    scored AS (
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-(-0.25 + s / n))), 4) + 0.0 AS score,
               CAST(n_chars >= 300 AS INT) AS label
        FROM f
    ),
    binned AS (
        SELECT least(9, CAST(floor(score * 10) AS INT)) AS bin, score, label
        FROM scored
    ),
    per_bin AS (
        SELECT bin, count(*) AS n,
               round(avg(score), 4) + 0.0 AS mean_confidence,
               round(avg(label), 4) + 0.0 AS positive_rate
        FROM binned GROUP BY bin
    )
    SELECT bin, n, mean_confidence, positive_rate,
           round(abs(positive_rate - mean_confidence), 4) + 0.0 AS calib_gap,
           round(abs(positive_rate - mean_confidence) * n
                 / (sum(n) OVER ()), 6) + 0.0 AS ece_contrib
    FROM per_bin
    ORDER BY bin
    """,
    "CLASSIFIER CALIBRATION AUDIT — reliability diagram + Expected "
    "Calibration Error (Guo et al., ICML'17) for the deployed quality "
    "classifier: each document's sigmoid score (the exact "
    "linear_quality_classifier inference expression) lands in one of "
    "10 confidence bins; per bin, mean confidence vs empirical "
    "positive rate (label: the independent n_chars >= 300 length "
    "gate) gives the calibration gap, and n/N-weighted gaps are the "
    "per-bin ECE contributions (their sum IS the ECE). The audit that "
    "decides whether a quality filter's scores can be THRESHOLDED "
    "meaningfully before it curates 100 TB. Scale: scoring is the "
    "same zero-shuffle scan-speed fold as the classifier; the only "
    "post-agg window is a sum over the 10-row bin rollup",
)
def quality_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    weights = F.array(*[F.lit(((j * 37) % 21 - 10) / 16.0) for j in range(64)])
    toks = text.tokens("text")

    def w_of(tok):
        bucket = (
            F.conv(F.substring(F.md5(tok.cast("binary")), 1, 8), 16, 10).cast("long")
            % 64
        )
        return F.element_at(weights, (bucket + 1).cast("int"))

    n = F.size(toks)
    s = F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + w_of(t))
    logit = F.lit(-0.25) + s / n
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 4) + F.lit(0.0)
    scored = docs.select(
        score.alias("score"),
        (F.col("n_chars") >= 300).cast("int").alias("label"),
    )
    binned = scored.withColumn(
        "bin", F.least(F.lit(9), F.floor(F.col("score") * 10).cast("int"))
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        (F.round(F.avg("score"), 4) + F.lit(0.0)).alias("mean_confidence"),
        (F.round(F.avg("label"), 4) + F.lit(0.0)).alias("positive_rate"),
    )
    gap = F.abs(F.col("positive_rate") - F.col("mean_confidence"))
    return (
        per_bin.withColumn("n_total", F.sum("n").over(Window.partitionBy()))
        .select(
            "bin",
            "n",
            "mean_confidence",
            "positive_rate",
            (F.round(gap, 4) + F.lit(0.0)).alias("calib_gap"),
            (F.round(gap * F.col("n") / F.col("n_total"), 6) + F.lit(0.0)).alias(
                "ece_contrib"
            ),
        )
        .orderBy("bin")
    )


@_register(
    "quality_gate_threshold_sweep",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents
    ),
    f AS (
        SELECT doc_id,
               sum(((CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT % 64
                          AS BIGINT) * 37) % 21 - 10) / 16.0) AS s,
               count(*) AS n
        FROM toks GROUP BY doc_id
    ),
    scored AS (
        SELECT doc_id, n,
               round(1.0 / (1.0 + exp(-(-0.25 + s / n))), 4) + 0.0 AS score
        FROM f
    ),
    n_total AS (SELECT count(*) AS nt, sum(n) AS tok_total FROM scored),
    sweep AS (
        SELECT s.doc_id, s.n, s.score, t.thr
        FROM scored s,
             (SELECT CAST(unnest([0.30, 0.35, 0.40, 0.45, 0.50,
                                  0.55, 0.60, 0.65, 0.70]) AS DOUBLE)
                     AS thr) t
        WHERE s.score >= t.thr
    )
    SELECT sweep.thr AS threshold,
           count(*) AS docs_kept,
           round(count(*) * 1.0 / n_total.nt, 4) AS kept_frac,
           round(sum(sweep.n) * 1.0 / n_total.tok_total, 4)
               AS token_mass_kept_frac
    FROM sweep CROSS JOIN n_total
    GROUP BY sweep.thr, n_total.nt, n_total.tok_total
    ORDER BY threshold
    """,
    "QUALITY-GATE OPERATING CURVE: the threshold sweep a data team "
    "runs BEFORE committing a 100 TB filter pass — for nine candidate "
    "score cutoffs, how many documents and what fraction of the "
    "TOKEN mass survive the linear quality classifier at that "
    "threshold (token mass is what the training budget actually "
    "buys). Scoring is the classifier's zero-shuffle scan-speed fold "
    "done ONCE; the sweep is a 9-way map-side explode of threshold "
    "literals (no joins, no re-scoring per cutoff) into a 9-row "
    "rollup; corpus totals are a 1-row broadcast. Answers 'where do "
    "we set the knife' with one corpus pass",
)
def quality_gate_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    weights = F.array(*[F.lit(((j * 37) % 21 - 10) / 16.0) for j in range(64)])
    toks = text.tokens("text")

    def w_of(tok):
        bucket = (
            F.conv(F.substring(F.md5(tok.cast("binary")), 1, 8), 16, 10).cast("long")
            % 64
        )
        return F.element_at(weights, (bucket + 1).cast("int"))

    n = F.size(toks)
    s = F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + w_of(t))
    score = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(-0.25) + s / n))), 4
    ) + F.lit(0.0)
    scored = docs.select(
        n.alias("n"), score.alias("score")
    ).transform(barrier)
    totals = scored.agg(
        F.count("*").alias("nt"), F.sum("n").alias("tok_total")
    )
    thrs = [0.30, 0.35, 0.40, 0.45, 0.50, 0.55, 0.60, 0.65, 0.70]
    sweep = scored.select(
        "n",
        "score",
        F.explode(F.array(*[F.lit(t) for t in thrs])).alias("thr"),
    ).filter(F.col("score") >= F.col("thr"))
    return (
        sweep.groupBy(F.col("thr").alias("threshold"))
        .agg(F.count("*").alias("docs_kept"), F.sum("n").alias("kept_toks"))
        .crossJoin(F.broadcast(totals))
        .select(
            "threshold",
            "docs_kept",
            F.round(F.col("docs_kept") * 1.0 / F.col("nt"), 4).alias("kept_frac"),
            F.round(F.col("kept_toks") * 1.0 / F.col("tok_total"), 4).alias(
                "token_mass_kept_frac"
            ),
        )
        .orderBy("threshold")
    )
