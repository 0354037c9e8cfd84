"""Batch sources & sinks.

Reference parity:
- S4 CSV scan with header (load_csv_to_spark, data_transformer.py:72-98).
  The reference uses ``inferSchema=true`` (an extra full scan); the
  engine takes an explicit StructType and infers only when none is given
  (dev convenience, never the production path).
- S5 Parquet sink, overwrite mode (save_to_parquet,
  data_transformer.py:319-344). The reference manually ``rmtree``s the
  prior output; ``mode("overwrite")`` already does that atomically per
  directory, so the engine drops the manual delete.
- S6 Parquet scan (data_loader.py:182-198 — pandas there; Spark here).
- S3 ingest validation (validate_extracted_data,
  data_extractor.py:169-195): sample-read, reject empty.

Scale notes: writes accept ``partition_by`` so the 100 TB layout gets
partition pruning (the Spark equivalent of the reference's SQLite
indices, data_loader.py:163-176).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV scan (S4). Explicit schema preferred; inference is dev-only.

    With a header, the schema binds by column NAME as the reference's
    read does (data_transformer.py:85-89), not by position as Spark's
    would: one header job reads the names, undeclared columns are
    dropped and a declared column the header lacks raises."""
    reader = spark.read.option("header", str(header).lower())
    if schema is None:
        return reader.option("inferSchema", "true").csv(path)
    declared = {f.name: f for f in schema.fields}
    names = reader.csv(path).columns if header else list(declared)
    missing = [n for n in declared if n not in names]
    if missing:
        raise ValueError(f"{path}: header lacks declared columns {missing}")
    in_file = T.StructType([declared.get(n, T.StructField(n, T.StringType())) for n in names])
    return reader.schema(in_file).csv(path).select(*declared)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (S6) — columnar, pushdown, pruning."""
    return spark.read.parquet(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
) -> str:
    """Parquet sink (S5). ``partition_by`` enables partition pruning for
    downstream scans (e.g. by entity or date)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return path


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multiline: bool = False,
) -> DataFrame:
    """JSON-lines scan. Same explicit-schema contract as CSV — without a
    schema Spark samples the whole input to infer one (an extra scan at
    100 TB). ``multiline`` handles one-document-per-file payloads."""
    reader = spark.read.option("multiLine", str(multiline).lower())
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
    compression: str | None = "gzip",
) -> str:
    """JSON-lines sink — the interchange format for downstream consumers
    that cannot read parquet; compressed by default since raw JSON is
    ~10x parquet's footprint."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)
    return path


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    compression: str | None = "gzip",
) -> str:
    """CSV sink — the egress twin of the S4 scan, for consumers that
    need plain text. Arrays/maps/structs are not CSV-representable;
    project them out (or JSON-encode) before writing."""
    writer = df.write.mode(mode).option("header", str(header).lower())
    if compression:
        writer = writer.option("compression", compression)
    writer.csv(path)
    return path


def validate_source(df: DataFrame, sample_rows: int = 100) -> bool:
    """Ingest validation (S3): non-empty sample with at least one column.

    ``limit(n).count()`` reads at most one partition's worth of data —
    the Spark analogue of the reference's ``pd.read_csv(nrows=100)``.
    """
    if not df.columns:
        return False
    return df.limit(sample_rows).count() > 0


def observe_quality(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    name: str = "quality",
):
    """Attach in-flight data-quality metrics to a DataFrame.

    The reference counts rows and nulls with EXTRA scans (ingest
    validation re-reads the sample, debugdb.py scans per column); Spark's
    ``Observation`` rides the existing action instead — metrics are
    accumulated inside whatever job materializes ``df`` next, at zero
    additional passes. At 100 TB that is the difference between free
    telemetry and doubling the pipeline's I/O.

    Returns ``(observed_df, observation)``; after any action on
    ``observed_df``, ``observation.get`` yields ``n_rows`` plus one
    ``null_<col>`` count per tracked column.
    """
    from pyspark.sql import Observation

    cols = list(columns) if columns is not None else list(df.columns)
    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}") for c in cols
    ]
    return df.observe(obs, *metrics), obs


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with schema merging: unions the schemas of all
    files so datasets written before a column existed still read
    (columns missing in older files come back null) — the scan-level
    half of the engine's schema-drift contract (SURVEY §1.3; the
    projection half is ``cast_if_exists``). Merging reads every file
    footer, so reserve it for evolving datasets."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_partitions: int | None = None,
    target_file_mb: int = 128,
    sort_by: str | None = None,
) -> int:
    """Compact a small-file parquet directory: read → repartition →
    write to a staging sibling → atomic directory swap. Small files are
    the chronic failure mode of incremental/streaming writers (every
    scan pays per-file open + footer cost; at 100 TB a 1000-file
    directory beats a 1M-file one by orders of magnitude in planning
    time). Returns the file count after compaction.

    ``target_partitions=None`` sizes the output from the CURRENT
    on-disk bytes — ``ceil(total / target_file_mb)`` — instead of a
    guess; ``sort_by`` re-sorts while rewriting anyway, restoring
    single-column clustering the incremental writers destroyed (for
    multi-column clustering, re-run :func:`write_zordered` instead)."""
    import math
    import os
    import shutil

    staging = path.rstrip("/") + "__compacting"
    backup = path.rstrip("/") + "__precompact"
    if target_partitions is None:
        on_disk = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )
        target_partitions = max(1, math.ceil(on_disk / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if sort_by is not None:
        df = df.repartitionByRange(target_partitions, sort_by).sortWithinPartitions(
            sort_by
        )
    else:
        df = df.repartition(target_partitions)
    df.write.mode("overwrite").parquet(staging)
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: Sequence[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> str:
    """Range-clustered parquet write: ``repartitionByRange`` on the
    cluster columns + sort within each partition, so every output file
    covers a narrow, near-disjoint value range. Parquet footers then
    carry tight min/max stats and any scan filtered on the cluster
    columns skips whole files — the single-dimension form of data
    clustering (the partition-pruning complement for high-cardinality
    columns where ``partitionBy`` would explode the directory count).
    """
    cols = list(cluster_by)
    parted = (
        df.repartitionByRange(num_files, *cols)
        if num_files is not None
        else df.repartitionByRange(*cols)
    )
    parted.sortWithinPartitions(*cols).write.mode(mode).parquet(path)
    return path


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: Sequence[str],
    num_files: int | None = None,
    bits: int = 8,
    mode: str = "overwrite",
) -> str:
    """Z-order-clustered parquet write: multi-dimensional data skipping.

    ``write_clustered`` gives tight per-file min/max on ONE column;
    filtering on the second range-cluster column still touches every
    file. Z-ordering interleaves the bits of each column's normalized
    bucket id into a single space-filling-curve key, then range-
    partitions + sorts on it — every output file covers a small
    hyper-rectangle, so parquet footer stats prune files for predicates
    on ANY z-ordered column (the Delta/Iceberg OPTIMIZE ZORDER layout,
    built from Spark primitives).

    The min/max normalization pass is one scalar aggregate (a stats
    lookup at scale, not a data pass worth counting). NULLs map to
    bucket 0. Bit interleaving is pure JVM bitwise arithmetic — no UDF.
    """
    cols = list(zorder_by)
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    levels = (1 << bits) - 1
    buckets = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        mn = 0.0 if mn is None else float(mn)
        span = 1.0 if mx is None or float(mx) == mn else float(mx) - mn
        b = F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * levels)
        # explicit coalesce: least()/greatest() SKIP nulls (a NULL value
        # would fall through to the max bucket, not 0 as documented)
        b = F.coalesce(b, F.lit(0))
        buckets.append(F.greatest(F.lit(0), F.least(F.lit(levels), b)).cast("long"))
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for i, b in enumerate(buckets):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                    bit * len(cols) + i,
                )
            )
    tmp = df.withColumn("__z", z)
    parted = (
        tmp.repartitionByRange(num_files, "__z")
        if num_files is not None
        else tmp.repartitionByRange("__z")
    )
    parted.sortWithinPartitions("__z").drop("__z").write.mode(mode).parquet(path)
    return path


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the other columnar interchange format (Hive/Trino
    ecosystems). Same pushdown/pruning behavior as parquet: predicates
    and column projections reach the stripe reader."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
) -> str:
    """ORC sink with the same partitioned-layout contract as
    ``write_parquet`` — zlib-striped columnar files readable by any
    Hive-compatible engine."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)
    return path


def read_text_lines(
    spark: SparkSession,
    path: str,
    whole_file: bool = False,
) -> DataFrame:
    """Raw-text corpus source: one row per line (or per FILE with
    ``whole_file`` — one document per file, the common crawl-dump
    layout). Single ``value: string`` column; pair with
    ``input_file_name()`` downstream for provenance. The ingestion
    front door for text that hasn't been structured yet."""
    return spark.read.option("wholetext", str(whole_file).lower()).text(path)


def write_text_lines(df: DataFrame, path: str, mode: str = "overwrite") -> str:
    """Raw-text sink: requires exactly one string column (Spark's text
    writer contract) — the export shape for line-oriented tokenizer
    pipelines."""
    df.write.mode(mode).text(path)
    return path


def assert_schema(df: DataFrame, expected: T.StructType, strict: bool = False) -> DataFrame:
    """Schema contract enforcement at the ingest boundary (S3/S4
    hardening): fail FAST and loudly on drift instead of letting a
    renamed/retyped upstream column surface as nulls three jobs later.

    Non-strict (default): every expected column must exist with the
    expected type; extra columns are tolerated (additive evolution is
    not a break). Strict: the schemas must match exactly (order
    ignored). Returns the input df (pass-through) so the guard composes
    inside read pipelines.
    """
    actual = {f.name: f.dataType for f in df.schema.fields}
    problems = []
    for f in expected.fields:
        if f.name not in actual:
            problems.append(f"missing column {f.name} ({f.dataType.simpleString()})")
        elif actual[f.name] != f.dataType:
            problems.append(
                f"column {f.name}: expected {f.dataType.simpleString()}, "
                f"got {actual[f.name].simpleString()}"
            )
    if strict:
        extra = set(actual) - {f.name for f in expected.fields}
        if extra:
            problems.append(f"unexpected columns: {sorted(extra)}")
    if problems:
        raise ValueError("schema contract violated: " + "; ".join(problems))
    return df


def write_with_manifest(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
) -> dict:
    """Publish parquet + a ``_manifest.json`` audit sidecar: row count,
    schema, and an order-insensitive content hash (sum of per-row
    xxhash64 over every column) — the hand-off contract that lets a
    downstream consumer (or a later backfill) verify it read the same
    dataset that was published, without trusting directory state.

    The count/hash ride ONE ``Observation`` on the write job itself —
    zero extra scans (same mechanism as ``observe_quality``). At
    100 TB the manifest is what makes republication idempotent:
    comparing manifests replaces re-reading both copies.
    """
    import json
    import os

    from pyspark.sql import Observation

    obs = Observation("manifest")
    cols = [F.col(c) for c in df.columns]
    # decimal(38,0) accumulator: a bigint sum of 64-bit hashes overflows
    # under ANSI mode after ~2^32 rows of same-sign hashes
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("content_hash"),
    )
    write_parquet(observed, path, mode=mode, partition_by=partition_by)
    row = obs.get
    manifest = {
        "n_rows": row["n_rows"],
        "content_hash": row["content_hash"],
        "schema": df.schema.jsonValue(),
        "partition_by": list(partition_by),
    }
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True, default=str)
    return manifest


def verify_manifest(spark: SparkSession, path: str) -> bool:
    """Re-derive the manifest from the parquet at ``path`` and compare —
    True iff row count and content hash both match (the consumer-side
    half of the publish contract)."""
    import json
    import os

    with open(os.path.join(path, "_manifest.json")) as fh:
        manifest = json.load(fh)
    df = spark.read.parquet(path)
    # rebuild with the MANIFEST's column order — xxhash64 is
    # order-sensitive in its arguments, and partitioned reads reorder
    # partition columns to the end
    names = [f["name"] for f in manifest["schema"]["fields"]]
    cols = [F.col(c) for c in names]
    row = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("content_hash"),
    ).head()
    return (
        row["n_rows"] == manifest["n_rows"]
        and str(row["content_hash"]) == str(manifest["content_hash"])
    )


def read_parquet_resilient(
    spark: SparkSession,
    path: str,
    ignore_corrupt: bool = True,
    ignore_missing: bool = True,
) -> DataFrame:
    """Parquet scan that survives corrupt or vanished files — the
    operational posture for petabyte directories where one bad object
    must not fail a 10-hour job. ``ignoreCorruptFiles`` drops
    unreadable FILES (footer/page-level corruption) and
    ``ignoreMissingFiles`` drops objects deleted between listing and
    read (eventual-consistency / concurrent-compaction races).

    Deliberately NOT the default read path: silent row loss is worse
    than a failed job unless the caller has a row-count reconciliation
    downstream (pair with ``verify_manifest`` / the month-digest
    queries, which is exactly what they are for).
    """
    return (
        spark.read.option("ignoreCorruptFiles", str(ignore_corrupt).lower())
        .option("ignoreMissingFiles", str(ignore_missing).lower())
        .parquet(path)
    )


def write_parquet_bloom(
    df: DataFrame,
    path: str,
    bloom_cols: Sequence[str],
    expected_ndv: int = 100_000,
    mode: str = "overwrite",
) -> str:
    """Parquet write with per-column BLOOM FILTERS in the file footers.

    Min/max stats prune files for RANGE predicates; bloom filters prune
    for POINT lookups on high-cardinality, unsorted columns (user ids,
    request ids) where min/max spans everything — the reader tests the
    filter before touching any page. Size the ``expected_ndv`` to the
    per-file distinct count: too low inflates false positives, too
    high wastes footer bytes (~1.2 bytes/ndv at 1% fpp).

    The lookup-side complement of ``write_clustered``/``write_zordered``
    (which reorganize rows); this only annotates files, so it composes
    with either layout.
    """
    writer = df.write.mode(mode)
    for c in bloom_cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(expected_ndv)
        )
    writer.parquet(path)
    return path


def overwrite_partitions_dynamic(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
) -> str:
    """Dynamic partition overwrite — replace ONLY the partitions present
    in ``df``, leaving sibling partitions untouched: the daily-backfill
    idiom (re-land one day into a date-partitioned dataset without
    rewriting or truncating the year). Static overwrite mode would drop
    EVERY partition first; the dynamic conf scopes the overwrite to the
    partitions the job actually produced. The conf is set per-write and
    restored, so the session default stays static (the safer global).
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return path
