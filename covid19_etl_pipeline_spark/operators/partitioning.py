"""Physical-layout operators: parallelism spreading and skew handling.

Scale rationale (SURVEY §7.4, BASELINE north star):

- ``spread``: a parquet dataset smaller than one split executes as ONE
  task no matter how many cores exist — any expensive per-row compute
  downstream (md5 minhashing, regex feature extraction, vector math)
  becomes single-threaded. One explicit round-robin/hash repartition
  buys full parallelism for the cost of shuffling the (small) input
  once. At real 100 TB scale inputs arrive in thousands of splits and
  ``spread`` is a no-op decision — it exists for the
  small-table-expensive-compute regime (docs/embeddings side tables).
- ``salted_equi_join``: hot keys turn one shuffle partition into the
  straggler. Salting replicates the small side ``salt`` ways and
  scatters the big side's hot keys across them. AQE's skew-join split
  handles most cases at runtime; explicit salting is for the extreme
  (power-law keys) where even split partitions overwhelm one executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, *key_cols: str, partitions: int | None = None) -> DataFrame:
    """Repartition to the session's shuffle parallelism so downstream
    per-row compute uses every core (hash on ``key_cols`` when given,
    else round-robin)."""
    if partitions is None:
        partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    if key_cols:
        return df.repartition(partitions, *key_cols)
    return df.repartition(partitions)


def salted_equi_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi join: salt the big side's key, replicate the
    small side across all salt values, join on (key, salt).

    Correct for 1:N joins where ``small`` has unique keys. Cost: small
    side is written ``salt``× (usually broadcast anyway); big side's hot
    partitions split ``salt`` ways.
    """
    # per-ROW salt on the big side (a per-key salt would keep the hot
    # key in one partition and defeat the point); seeded for replayability
    big_salted = big.withColumn("__salt", F.floor(F.rand(seed=42) * salt).cast("int"))
    small_salted = small.withColumn(
        "__salt_arr", F.sequence(F.lit(0), F.lit(salt - 1))
    ).withColumn("__salt", F.explode("__salt_arr")).drop("__salt_arr")
    out = big_salted.join(small_salted, on=[on, "__salt"], how=how)
    return out.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    by: str,
    buckets: int = 16,
    sort_by: str | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed table: rows are hash-clustered on
    ``by`` into ``buckets`` files per partition (optionally sorted
    within each bucket).

    This is Spark's answer to the reference's SQLite B-tree indices
    (data_loader.py:163-176) for the JOIN side: two tables bucketed the
    same way on the join key equi-join WITHOUT a shuffle — at 100 TB
    that removes the dominant network cost of every fact⋈fact join on
    the bucket key. ``sort_by`` additionally pre-sorts bucket files so
    sort-merge join skips its sort phase.

    When ``path`` is given the table is external (data at ``path``);
    bucketing metadata lives in the catalog either way — plain
    ``.parquet(path)`` writes cannot carry it.
    """
    writer = df.write.mode(mode).bucketBy(buckets, by)
    if sort_by is not None:
        writer = writer.sortBy(sort_by)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def bucketed_equi_join(
    spark,
    left_table: str,
    right_table: str,
    on: str,
    how: str = "inner",
) -> DataFrame:
    """Equi-join two same-bucketed catalog tables on the bucket key.

    With matching bucket counts Catalyst plans a SortMergeJoin whose
    children are bare bucketed scans — no Exchange on either side
    (verified by the plan test). This is the co-located join strategy
    for repeated fact⋈fact joins where neither side broadcasts.
    """
    return spark.table(left_table).join(spark.table(right_table), on=on, how=how)


#: Row count under which the engine broadcasts a frame it sized itself
#: (a real ``count()``, never Catalyst's estimate, which is unusable over
#: Arrow and RDD stages); above it the join is hinted shuffled-hash, so
#: nothing data-scale ever builds on the driver. One bound for every such
#: join: connected-components and drop_near_dups labels, pagerank nodes,
#: the frequent-shingle filter. DRIVER-MEMORY CONTRACT: at the bound a
#: frame of two 8-byte columns builds a ~100 MB relation on the driver.
#: Small-driver deployments should LOWER this bound rather than raise
#: driver memory.
BROADCAST_ROW_BOUND = 2_000_000


#: Session conf key: when set to a storage path, iterative operators
#: (connected components, pagerank, k-means) switch their per-round
#: lineage barrier from executor-local blocks to the storage-backed
#: checkpoint — the production setting for long multi-round jobs where
#: an executor loss must not restart the iteration from round 0.
CHECKPOINT_DIR_CONF = "spark.covid19_etl_pipeline.checkpoint.dir"


def iteration_barrier(df: DataFrame, eager: bool = True) -> DataFrame:
    """The per-round barrier used by every iterative operator.

    Default: ``localCheckpoint`` (executor-block storage — fast, fine
    on local[n], lost with an executor). When ``CHECKPOINT_DIR_CONF``
    is set on the session, routes to :func:`reliable_checkpoint`
    instead, so ONE config line flips the whole engine's iterative
    surface to fault-tolerant barriers; results are identical either
    way (the toggle is physical, verified by test).
    """
    ckpt_dir = df.sparkSession.conf.get(CHECKPOINT_DIR_CONF, "")
    if ckpt_dir:
        return reliable_checkpoint(df, ckpt_dir)
    return df.localCheckpoint(eager=eager)


def reliable_checkpoint(df: DataFrame, checkpoint_dir: str) -> DataFrame:
    """Reliable (storage-backed) checkpoint — the production form of
    the ``localCheckpoint`` barriers used throughout the iterative
    operators (connected components, pagerank, BFS, k-means).

    ``localCheckpoint`` stores blocks on executors: fast, but lost with
    an executor — fine on local[n], wrong for a 10-hour 1000-executor
    job. This sets the SparkContext checkpoint dir (HDFS/object storage
    in production) and materializes ``df`` there, truncating lineage
    AND surviving executor loss; an iterative caller passes
    ``barrier=lambda d: reliable_checkpoint(d, dir)`` where it would
    use ``DataFrame.localCheckpoint``.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None or not str(sc.getCheckpointDir()).startswith(
        checkpoint_dir.rstrip("/")
    ):
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)
