"""SparkSession factory (reference parity: data_transformer.py:36-70 session
builder; config/config.yaml:25-31 spark block).

The reference hard-codes ``spark.sql.shuffle.partitions=10`` and 2g
driver/executor memory. The engine instead turns on AQE so Spark picks
shuffle parallelism at runtime (coalescing small post-shuffle partitions,
splitting skewed ones) — the right default from local[32] up to a
1000-executor cluster.

Scale notes (100 TB):
- ``spark.sql.adaptive.enabled`` + ``coalescePartitions`` +
  ``skewJoin`` handle the static-partition-count problem the reference
  punts on.
- ``spark.sql.session.timeZone=UTC`` pins timestamp semantics so results
  are reproducible across clusters (and match the DuckDB oracle, which is
  UTC-naive).
- Arrow enabled for any pandas-UDF extension operators.

Warm worker image: Python-backed tasks (pandas UDFs, and every
``createDataFrame`` over a local list, which plans as a scan over a
Python RDD) run in workers forked from ``spark.python.daemon.module``.
The stock daemon leaves two fixed costs on each task, which dominate
short serving operations:

- PySpark calls ``importlib.invalidate_caches()`` at the start of every
  task. On Python < 3.12 that makes each zipimporter over ``pyspark.zip``
  re-parse the archive's whole central directory: ~130-200 ms per task
  on a 4-core host, even on a reused worker.
- The stock daemon pre-imports only ``pyspark.worker``, so every Arrow
  worker imports pandas, pyarrow and ``pyspark.sql.pandas`` on its first
  task.

``get_spark`` therefore names :mod:`covid19_etl_pipeline_spark._pyworker`
as the daemon module; it fixes both once, before any fork. Precondition:
the daemon must be able to import this package. ``get_spark`` prepends
the package root to ``spark.executorEnv.PYTHONPATH``, which covers local
mode; a cluster must ship the package to its executors (``--py-files``
or an image). Sessions built elsewhere (a vanilla ``SparkSession``) keep
the stock daemon, and the engine runs unchanged on it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "covid19-etl-pipeline-spark"

#: The directory holding this package: the daemon's import root.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    Parameters mirror the reference's config surface (app name, master,
    shuffle partitions — config/config.yaml:25-31) but default to
    adaptive execution instead of fixed values.
    """
    cores = _default_parallelism()
    extra_conf = dict(extra_conf or {})
    python_path = os.pathsep.join(
        filter(None, (PACKAGE_ROOT, extra_conf.pop("spark.executorEnv.PYTHONPATH", None)))
    )
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = cores

    # Pin BLAS to one thread per Python worker BEFORE any worker can
    # load numpy: OpenBLAS/MKL read these at library load, and a worker
    # imports numpy while unpickling an Arrow-UDF closure — i.e. before
    # any code inside the UDF body runs, so a setdefault there is too
    # late (ADVICE r07). Spark already runs one task per core; a
    # multi-threaded BLAS inside each task oversubscribes the machine.
    # Local mode: workers fork from this process and inherit os.environ.
    # Cluster mode: spark.executorEnv.* below carries the same pin.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.executorEnv.PYTHONPATH", python_path)
        .config("spark.python.daemon.module", "covid19_etl_pipeline_spark._pyworker")
    )
    # local-mode JVM heap (driver == executor here) defaults to 1g,
    # which the 10x scale fixtures overflow; honored only at JVM
    # launch, so it must be set before the first session of a process
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    for key, value in extra_conf.items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
