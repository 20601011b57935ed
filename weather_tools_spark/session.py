"""SparkSession factory tuned for both local testing and cluster scale.

The knobs below are chosen for the 100 TB design point and merely
*parameterized* for local runs:

- AQE on (runtime coalescing, skew-join splitting) so plans self-correct
  at scale without hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE coalescing makes the initial number non-critical.
- Arrow enabled so every Pandas-UDF boundary is columnar-batched.
- Session timezone pinned to UTC: the reference coerces tz-naive times to
  UTC (weather_mv/loader_pipeline/util.py:116-120) and the DuckDB oracle
  compares UTC-naive timestamps.
- ``spark.sql.legacy.parquet.nanosAsLong=true``: the events table stores
  TIMESTAMP(NANOS) which Spark's vectorized parquet reader rejects;
  reading nanos as LongType keeps the native columnar scan + filter
  pushdown, and ``catalog.load_table`` converts to a microsecond
  TimestampType column (DuckDB performs the same ns→µs truncation).
- ``get_spark`` on a ``local*`` master starts Python workers from this
  package's daemon (``spark.python.daemon.module`` =
  ``weather_tools_spark.worker_daemon``), whose forked workers skip the
  per-task re-read of Spark's zip archives, and puts
  the package root on the workers' ``PYTHONPATH`` so the daemon imports
  at launch. ``configure`` does not select it: a session built elsewhere
  (the external driver, ``tools/strict_sweep.py``) cannot guarantee its
  workers import the package, so it keeps the stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "weather_tools_spark"


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 4


def default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    16g, or about two thirds of physical memory on a smaller host (in
    local mode the driver JVM runs every task, so its heap must leave
    the host room for the Python workers)."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf names here
        return "16g"
    return f"{min(16 * 1024, phys * 2 // 3 // 2**20)}m"


def configure(builder: SparkSession.Builder, shuffle_partitions: int | None = None) -> SparkSession.Builder:
    """Apply the engine's standard config to any builder (including the
    driver-provided one)."""
    n = shuffle_partitions or default_parallelism()
    return (
        builder.config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Python DataSource filter pushdown (sources/datasource.py
        # absorbs lat/lon/time range predicates inside the decode task)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # spill-awareness at scale: 128 MB input splits keep a task's
        # working set well inside executor memory even for wide rows;
        # AQE's advisory size governs post-shuffle partition sizing
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(64 * 1024 * 1024))
    )


def get_spark(app_name: str = DEFAULT_APP_NAME, master: str | None = None) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[N]`` with N = SPARK_GRAFT_CPUS or the
    machine's core count; on a cluster, leave ``master`` unset and let
    spark-submit decide. With a master set, the driver memory is
    SPARK_GRAFT_DRIVER_MEM, else :func:`default_driver_memory`.

    On every ``local*`` master the Python daemon is
    ``weather_tools_spark.worker_daemon``, which re-reads a zip archive
    only when it changed, and the package root goes on the workers'
    ``PYTHONPATH`` so that daemon imports. Only here, not in
    ``configure``: other masters and sessions built elsewhere cannot
    guarantee the package imports at daemon launch, so they keep
    ``pyspark.daemon``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{default_parallelism()}]"
    if master:
        builder = builder.master(master)
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    if master and master.startswith("local"):
        # Python workers must import this package (driver-side sys.path
        # edits don't cross the process boundary): the daemon that forks
        # them is this package's, so every worker skips the per-task
        # zip-directory re-reads (see worker_daemon)
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ).config("spark.python.daemon.module", "weather_tools_spark.worker_daemon")
    if master and master.startswith("local-cluster"):
        # real separate executor JVMs: executor memory must fit the
        # worker grant declared in the master string
        builder = builder.config("spark.executor.memory", os.environ.get("SPARK_GRAFT_EXEC_MEM", "6g"))
    spark = configure(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
