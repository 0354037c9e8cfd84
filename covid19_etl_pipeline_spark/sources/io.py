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
- S6 Parquet scan (data_loader.py:182-198 — pandas there; Spark here):
  :func:`read_parquet`, the engine's one reader of existing parquet
  (``catalog.load_table``, the serving tier, compaction). It binds the
  schema from one footer read with pyarrow on the driver, so no Spark
  job runs to infer it.
- S3 ingest validation (validate_extracted_data,
  data_extractor.py:169-195): sample-read, reject empty.

Scale notes: writes accept ``partition_by`` so the 100 TB layout gets
partition pruning (the Spark equivalent of the reference's SQLite
indices, data_loader.py:163-176); ``write_zordered`` clusters files for
data skipping on several columns, ``compact_parquet`` rewrites small
files, and ``overwrite_partitions_dynamic`` replaces only the
partitions a job produced.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.types as pat
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type


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


#: Footer key under which Spark's parquet writer stores the row schema
#: (JSON); Spark's own schema inference returns it as written.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Arrow leaf types Spark's parquet reader maps differently from
# ``from_arrow_type``: unsigned ints widen (``from_arrow_type`` rejects
# them) and an all-null column is a plain INT32.
_READER_TYPES = {
    pa.uint8(): T.ShortType(),
    pa.uint16(): T.IntegerType(),
    pa.uint32(): T.LongType(),
    pa.uint64(): T.DecimalType(20, 0),
    pa.null(): T.IntegerType(),
}


def _listed(name: str) -> bool:
    """Whether Spark's file listing keeps ``name``: hidden are names
    starting with ``.``, and with ``_`` unless a ``k=v`` partition."""
    return not (name.startswith(".") or (name.startswith("_") and "=" not in name))


def _footer_file(path: str) -> str | None:
    """The file whose footer stands for ``path``'s schema: ``path``
    itself, or the first data file of a sorted walk of the directory.
    None when there is none, or when summary files are present (Spark
    infers from those first)."""
    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path):
        if {"_metadata", "_common_metadata"} & set(files):
            return None
        dirs[:] = sorted(d for d in dirs if _listed(d))
        data = sorted(f for f in files if _listed(f))
        if data:
            return os.path.join(root, data[0])
    return None


def parquet_row_count(path: str) -> int:
    """Rows in the parquet file or directory ``path``, summed from the
    footers of the data files Spark's listing keeps: no Spark job."""
    if os.path.isfile(path):
        return pq.read_metadata(path).num_rows
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if _listed(d)]
        total += sum(pq.read_metadata(os.path.join(root, f)).num_rows for f in files if _listed(f))
    return total


def _reader_type(at: pa.DataType, ntz: bool) -> T.DataType:
    """The type Spark's parquet reader gives a column whose footer type
    is ``at``. Raises where that is not known for sure; the caller then
    leaves inference to Spark."""
    if pat.is_struct(at):
        return T.StructType([T.StructField(f.name, _reader_type(f.type, ntz)) for f in at])
    if pat.is_list(at) or pat.is_large_list(at) or pat.is_fixed_size_list(at):
        return T.ArrayType(_reader_type(at.value_type, ntz))
    if pat.is_map(at):
        return T.MapType(_reader_type(at.key_type, ntz), _reader_type(at.item_type, ntz))
    if pat.is_dictionary(at):
        return _reader_type(at.value_type, ntz)
    if pat.is_duration(at):
        return T.LongType()  # a plain INT64 in the file
    if at in _READER_TYPES:
        return _READER_TYPES[at]
    if (
        pat.is_time(at)
        or (pat.is_timestamp(at) and at.unit == "ns")
        or (pat.is_decimal(at) and at.precision > 38)
    ):
        raise TypeError(f"no bound reader type for {at}")
    return from_arrow_type(at, prefer_timestamp_ntz=ntz)


def parquet_schema(spark: SparkSession, path: str) -> tuple[T.StructType | None, tuple[str, ...]]:
    """The schema Spark's inference gives the parquet file or directory
    ``path``, from one footer read with pyarrow in the driver process,
    plus the top-level columns stored as TIMESTAMP(NANOS).

    Spark-written footers carry Spark's row schema, used as is. Others
    map arrow types the way Spark's reader does under the session's
    ``inferTimestampNTZ``; nanosecond columns are LongType, as inference
    gives them under ``nanosAsLong``. The schema is None when it cannot
    be bound exactly (no data file, a type without a sure mapping, INT96,
    ``binaryAsString`` or ``mergeSchema`` on): the read then infers."""
    conf = spark.conf
    file = _footer_file(path)
    if file is None or "true" in (
        conf.get("spark.sql.parquet.binaryAsString", "false"),
        conf.get("spark.sql.parquet.mergeSchema", "false"),
    ):
        return None, ()
    try:
        meta = pq.read_metadata(file)
        if _SPARK_ROW_METADATA in (meta.metadata or {}):
            return T.StructType.fromJson(json.loads(meta.metadata[_SPARK_ROW_METADATA])), ()
        if any(meta.schema.column(i).physical_type == "INT96" for i in range(meta.num_columns)):
            return None, ()
        arrow = meta.schema.to_arrow_schema()
        nanos = tuple(f.name for f in arrow if pat.is_timestamp(f.type) and f.type.unit == "ns")
        ntz = conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true"
        fields = [
            T.StructField(f.name, T.LongType() if f.name in nanos else _reader_type(f.type, ntz))
            for f in arrow
        ]
    except (OSError, LookupError, ValueError, TypeError, pa.ArrowException):
        return None, ()  # an unreadable footer, or a type without a sure mapping
    return T.StructType(fields), nanos


def read_parquet(
    spark: SparkSession,
    path: str,
    footer: tuple[T.StructType | None, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Parquet scan (S6) with its schema bound from the footer
    (:func:`parquet_schema`, or ``footer`` when the caller already read
    it): no Spark job runs to infer it. Hive partition columns still
    come from Spark's partition discovery, appended last. Where the
    schema cannot be bound, or nanosecond columns meet a session without
    ``nanosAsLong``, Spark infers it, raising its own error where it
    cannot read the file."""
    schema, nanos = footer if footer is not None else parquet_schema(spark, path)
    if schema is None or (nanos and spark.conf.get(NANOS_AS_LONG, "false") != "true"):
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


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
    df = read_parquet(spark, path)
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


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: Sequence[str],
    num_files: int | None = None,
    bits: int = 8,
    mode: str = "overwrite",
) -> str:
    """Z-order-clustered parquet write: multi-dimensional data skipping.

    Range-clustering on columns (a, b) gives tight per-file min/max on
    ``a`` only; filtering on ``b`` still touches every file. Z-ordering
    interleaves the bits of each column's normalized bucket id into a
    single space-filling-curve key, then range-partitions + sorts on
    it — every output file covers a small
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
