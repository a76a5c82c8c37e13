"""SparkSession factory tuned for this engine.

Local test profile: single JVM, ``local[N]`` threads. The settings
below are chosen so the SAME logical plans scale to a real cluster:
AQE handles runtime re-planning (partition coalescing, skew-join
splitting), shuffle partitions match parallelism instead of the
legacy 200 default, and Arrow is enabled for every pandas exchange
so Pandas-UDF operators stay vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# The directory that holds this package: Python workers import the
# daemon module (mapreduce_lab_spark/daemon.py) from it.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Generated classes kept by the JVM-wide codegen cache (Spark's static
# default is 100); see get_spark for how the size was chosen.
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(
    app_name: str = "mapreduce_lab_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    Every knob here matters at 100 TB, not just locally:

    - ``spark.sql.adaptive.enabled`` + skew-join handling: runtime
      re-planning fixes skewed shuffle partitions that static planning
      cannot see (Zipfian word keys, hot join keys).
    - ``spark.sql.shuffle.partitions``: sized to the executor-core
      count; AQE coalesces down when partitions are small, so
      overshooting is cheap while undershooting serializes reducers.
    - Arrow for all Python exchange paths (Pandas UDFs, toPandas).
    - UTC session timezone so timestamp semantics are stable across
      driver/executor locales (and match the DuckDB oracle).
    - ``spark.sql.codegen.cache.maxEntries`` at ``CODEGEN_CACHE_ENTRIES``
      (8192): under Spark's default of 100 a session evicts the classes
      of its own earlier queries and recompiles them on every warm run
      (six benchmark queries generate 119 classes; each warm pass paid
      100 janino compiles, ~0.7 s). A full-registry pass at sf0.01 with
      whole-stage codegen ON compiled 4,186 distinct classes and grew
      driver Metaspace from 78 to 245 MB, so 8192 holds every class the
      registry generates with headroom. It is a static conf: it only
      takes effect when this call creates the JVM.
    - ``spark.ui.showConsoleProgress`` off: PySpark launches as
      ``pyspark-shell``, which turns the carriage-return progress bar
      on, and those lines break any driver that parses a script's stdout
      (bench.py's metric line came back unparsed in round 2).
    - ``spark.python.daemon.module`` set to ``mapreduce_lab_spark.daemon``
      on local masters, with this package's root on the workers'
      ``PYTHONPATH``: PySpark's own daemon re-read 16 zip archives
      (``pyspark.zip``, the Spark core jar, py4j) at the start of every
      Python task, 118-172 ms per task on CPython < 3.13; this one
      re-reads an archive only when it changed (see the module). Cluster
      executors do not have this checkout's path, so they keep
      PySpark's daemon.

    This is the repo's only ``SparkSession.builder``: benches, scripts
    and tests all run under these settings.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.python.daemon.module", "mapreduce_lab_spark.daemon"
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
