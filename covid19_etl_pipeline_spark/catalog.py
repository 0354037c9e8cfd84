"""Table catalog: register the engine's tables as Spark temp views.

Reference parity: the reference's serving layer registers four SQLite
tables and exposes an ad-hoc SQL surface (data_loader.py:59-180 DDL,
:406-416 ``query(sql)``). The Spark-native equivalent is temp views over
columnar Parquet with ``spark.sql`` as the query entry point — Catalyst
gets predicate pushdown, column pruning and partition pruning for free.

The driver's synthetic star schema (TESTDATA.md) is the engine's test
catalog; real deployments point ``register_tables`` at any directory of
parquet datasets.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covid19_etl_pipeline_spark.sources.io import NANOS_AS_LONG, parquet_schema, read_parquet

#: All tables in the driver's synthetic catalog (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table. Parquet scan → full pushdown/pruning.

    The schema comes from one footer read, in the driver process
    (``sources.io.parquet_schema``): building the frame runs no Spark
    job. Nanosecond-timestamp columns found there are read as raw INT64
    (runtime conf ``spark.sql.legacy.parquet.nanosAsLong``) and restored
    to TimestampType via integer-division ``div 1000`` (a
    double-precision divide would corrupt epoch-nanos > 2^53).
    """
    path = table_path(sf_dir, name)
    # Pin UTC at runtime (the caller's session may be vanilla): parquet
    # timestamps are instants, and every to_date()/window() bucketing —
    # and the TZ-naive DuckDB oracle — assumes UTC wall time. A session
    # in any other zone would shift date boundaries.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Parquet micros with isAdjustedToUTC=false would otherwise surface as
    # TIMESTAMP_NTZ (Spark 4 default), which unix_micros()/window() reject;
    # read them as instants in the pinned-UTC session instead.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    footer = parquet_schema(spark, path)
    nanos = footer[1]
    if nanos:
        spark.conf.set(NANOS_AS_LONG, "true")
    df = read_parquet(spark, path, footer)
    for c in nanos:
        df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def register_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    tables: tuple[str, ...] = TABLES,
) -> dict[str, DataFrame]:
    """Register every catalog table as a temp view named after itself.

    Missing files are skipped (tolerant-ingest contract, SURVEY §1.3).
    Returns the registered DataFrames keyed by table name.
    """
    registered: dict[str, DataFrame] = {}
    for name in tables:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        registered[name] = df
    return registered


def query(spark: SparkSession, sql: str) -> DataFrame:
    """Ad-hoc SQL surface (reference: data_loader.py:406-416)."""
    return spark.sql(sql)


def table_stats(spark: SparkSession, tables: tuple[str, ...] = TABLES) -> dict[str, int]:
    """Row count per registered table (reference: data_loader.py:393-404)."""
    counts: dict[str, int] = {}
    for name in tables:
        try:
            counts[name] = spark.table(name).count()
        except Exception:
            continue
    return counts
