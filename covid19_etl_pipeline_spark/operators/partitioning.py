"""Physical-layout operators: parallelism spreading and skew handling,
plus one helper per physical decision the engine steers by hand —
``barrier`` (every lineage cut) and ``join_side`` (every join strategy
picked from a real row count).

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


#: Row count under which the engine broadcasts a frame it sized itself
#: (a real ``count()``, never Catalyst's estimate, which is unusable over
#: Arrow and RDD stages); above it the join is hinted shuffled-hash, so
#: nothing data-scale ever builds on the driver. One bound for every such
#: join, all through :func:`join_side`: connected-components and
#: drop_near_dups labels, pagerank nodes, the frequent-shingle filter.
#: DRIVER-MEMORY CONTRACT: at the bound a frame of two 8-byte columns
#: builds a ~100 MB relation on the driver. Small-driver deployments
#: should LOWER this bound rather than raise driver memory.
BROADCAST_ROW_BOUND = 2_000_000


def join_side(df: DataFrame, n_rows: int) -> DataFrame:
    """The build side of a join whose strategy is picked from ``df``'s
    REAL row count ``n_rows``: an explicit broadcast at or under
    ``BROADCAST_ROW_BOUND``, else a shuffled-hash hint, which never
    builds on the driver and skips sort-merge's sort. AQE may still
    convert to broadcast from runtime sizes — those are accurate."""
    return F.broadcast(df) if n_rows <= BROADCAST_ROW_BOUND else df.hint("shuffle_hash")


#: Session conf key: when set to a storage path, every :func:`barrier`
#: in the engine writes a storage-backed checkpoint there instead of
#: executor-local blocks — the production setting for long jobs where
#: an executor loss must not restart the work from scratch.
CHECKPOINT_DIR_CONF = "spark.covid19_etl_pipeline.checkpoint.dir"


def barrier(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage — the engine's only lineage cut; no other
    module calls ``localCheckpoint`` or ``checkpoint``.

    Default: ``localCheckpoint`` (executor-block storage — fast, fine
    on local[n], lost with an executor), lazy unless ``eager``: a lazy
    barrier materializes inside the first action that reads it. When
    ``CHECKPOINT_DIR_CONF`` is set on the session, the cut is a
    storage-backed checkpoint in that dir (HDFS/object storage in
    production), which truncates lineage AND survives executor loss.
    Storage-backed mode is always eager: a lazy reliable checkpoint
    recomputes its input. Results are identical either way (the
    setting is physical, verified by test).
    """
    ckpt_dir = df.sparkSession.conf.get(CHECKPOINT_DIR_CONF, "")
    if not ckpt_dir:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    # Spark checkpoints into a fresh ``<dir>/<uuid>`` (qualified, e.g.
    # ``file:/...``) per setCheckpointDir: re-set only on a new dir
    current = sc.getCheckpointDir()
    if current is None or not current.rsplit("/", 1)[0].endswith(ckpt_dir.rstrip("/")):
        sc.setCheckpointDir(ckpt_dir)
    return df.checkpoint(eager=True)
