"""Composable DataFrame operators — the engine's analytics core.

Each module maps to a SURVEY.md §2 inventory section:

- projection  — P1-P3, F1-F4, F7 (allowlist select/rename, cast-if-exists,
                date parsing/parts)
- filters     — P4-P5 (IN-list)
- aggregates  — A1, A3, F8 (multi-measure rollups, null profile)
- windows     — W1 + generalizations (moving averages, rank/top-N-per-group)
- joins       — §2.3 (broadcast dim joins, equi, semi/anti)
- sorts       — O5 (most-recent-N-days)
- setops      — §2.7 (unionByName, incremental upsert/dedup-on-key)
- asof        — §2.3 extension: as-of join (union-merge + last ignorenulls)
- partitioning— physical layout: spread, salted skew join, join-side
                choice, lineage barrier
- dedup       — extension: exact / MinHash-LSH / SimHash / n-gram Jaccard /
                connected-components clustering / survivor selection
- similarity  — extension: cosine top-k brute force + LSH-bucketed ANN
- text        — extension: tokenization, quality scoring, language ID,
                fingerprinting, chunking
- multimodal  — extension: binary-column decode/feature plumbing (real
                stdlib codecs, AVIF and lossy WebP out of reach)
"""
