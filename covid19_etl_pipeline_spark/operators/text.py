"""Text-analysis operators for LLM training-data pipelines.

Beyond-reference extension surface (BASELINE.json north star): language
ID, quality scoring, token counting, fingerprinting over the
``documents`` table. Everything here is built-in-function Spark (JVM
codegen, zero Python UDFs) so the hot path stays vectorized at 100 TB;
each transform is narrow (no shuffle).

Oracle-parity notes: token split / regex semantics are chosen to be
expressible identically in DuckDB (RE2) — no lookarounds, explicit
character classes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Whitespace tokenizer pattern (RE2- and Java-regex compatible).
TOKEN_SPLIT_PATTERN = r"\s+"

#: BPE-ish token pattern: contractions, space-prefixed word/number runs,
#: punctuation runs, residual whitespace. No lookarounds (RE2-safe).
BPE_TOKEN_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+"

#: Punctuation class for quality scoring.
PUNCT_CLASS = r"[^.!?,;:]"

#: Tiny stopword inventories for the n-gram/stopword language heuristic.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pas", "pour", "dans"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "no", "por", "con"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), TOKEN_SPLIT_PATTERN)


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish subword token count via regexp extraction (a cheap
    stand-in for a real tokenizer; linear scan, codegen'd)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), 0))


def punct_ratio(col: Column | str) -> Column:
    """Sentence-punctuation chars / total chars, null on empty text."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(F.regexp_replace(c, PUNCT_CLASS, ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(None))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords (quality signal)."""
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(None))


def language_scores(col: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit scores (n-gram-free heuristic: stopword
    coverage is the classic cheap language signal)."""
    toks = F.array_distinct(F.transform(tokens(col), F.lower))
    out: dict[str, Column] = {}
    for lang, words in STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.array_intersect(toks, sw))
    return out


def language_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: argmax of stopword coverage, 'und' when no
    language scores at all. Deterministic tie-break by language code."""
    scores = language_scores(text_col)
    pairs = F.array(
        *[F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang")) for lang in sorted(scores)]
    )
    best = F.array_max(pairs)
    return df.withColumn(
        out_col, F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))
    )


def normalized_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of normalized text.
    (Content-defined; stable across engines — DuckDB md5 matches.)"""
    return F.md5(normalized_text(col))


def shingles(toks: Column, k: int = 3) -> Column:
    """k-token shingles from a token array (for MinHash / Jaccard).

    ``transform(sequence(1, n-k+1), i -> concat_ws(' ', slice(toks, i, k)))``
    — empty when fewer than k tokens.
    """
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def n_chunks(toks: Column, chunk_size: int = 50, stride: int = 25) -> Column:
    """Number of overlapping token windows covering ``toks``: one chunk
    when the doc fits, else 1 + ceil((n - chunk_size) / stride). Shared
    formula with the chunking oracle — keep in lockstep."""
    n = F.size(toks)
    return F.when(n <= chunk_size, F.lit(1)).otherwise(
        F.ceil((n - chunk_size) / F.lit(float(stride))).cast("int") + 1
    )


#: PII redaction rules, applied in order. RE2-safe (no lookarounds, no
#: backreferences) so the SAME pattern strings run in Spark
#: (java.util.regex) and any RE2 engine (DuckDB, Go) — ordering
#: matters: email first so its digits never half-match the phone rule.
PII_RULES: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"(\+?\d{1,2}[ -])?(\(\d{3}\) ?|\b\d{3}[ -])\d{3}[ -]\d{4}\b", "<PHONE>"),
    (r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)


def redact_pii(col: Column | str) -> Column:
    """Chained ``regexp_replace`` PII scrub (emails, SSNs, phone
    numbers, IPv4) — the pre-training compliance pass every corpus
    gets before tokenization. Pure narrow JVM compute: at 100 TB this
    runs at scan speed with zero shuffle, and the rule list is the
    single source of truth for engine and oracle alike (replacement
    semantics: replace-ALL, identical in Spark and RE2 engines)."""
    out = F.col(col) if isinstance(col, str) else col
    for pattern, token in PII_RULES:
        out = F.regexp_replace(out, pattern, token)
    return out
