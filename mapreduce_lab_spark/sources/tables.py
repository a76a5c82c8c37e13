"""Parquet table sources for the synthetic star schema.

The reference's only source is a whole-file text scan
(``core/worker.go:122-142``); see ``sources/text.py`` for that
contract. This module is the engine's primary columnar source:
Parquet scans that Catalyst can push filters into and prune columns
from — on a 100 TB lake this is where most of the performance lives
(``.explain`` must show PushedFilters / narrow ReadSchema, which the
declarative loaders here preserve by never materializing eagerly).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
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

# Dimensions small enough to broadcast at ANY scale factor: their
# cardinality is fixed (TPC-H regions/nations) or grows sublinearly.
# Fact tables must never be broadcast.
BROADCAST_SAFE = frozenset({"region", "nation", "supplier"})

# Reader confs that change the types Spark infers from a Parquet footer.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# path -> (file identity + _SCHEMA_CONFS values, inferred schema)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table of the star schema.

    The scan's schema is inferred once per file and reused while the
    file is unchanged (``_read_parquet``): inference runs a Spark job
    to read the footer, ~0.1 s per call on a warm session against
    ~0.02 s with a known schema, and every query loads its tables
    again."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a file's schema only once.

    A hit is keyed on the file's inode, size and mtime and on the reader
    confs that change inferred types, so a file rewritten in place or a
    conf change infers again. Each call builds a fresh relation, so
    self-joins still get distinct attribute ids. Directories (whose
    schema depends on every file in them), URIs and missing paths always
    infer."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    path = os.path.abspath(path)
    st = os.stat(path)
    key = (st.st_ino, st.st_size, st.st_mtime_ns, *(spark.conf.get(c) for c in _SCHEMA_CONFS))
    cached = _SCHEMAS.get(path)
    if cached is not None and cached[0] == key:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every table as a temp view and return the names.

    This is the raw-SQL entry point: after ``register_views`` a user
    can run any ``spark.sql("SELECT ... FROM lineitem ...")`` against
    the same catalog the DuckDB oracle sees — the SQL twin of the
    DataFrame loaders, with identical pushdown/pruning (temp views
    over parquet scans stay fully declarative; nothing materializes).
    """
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return list(TABLES)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize events.ts to session-zoned TIMESTAMP across data vintages.

    The generator has emitted two physical types for ``ts``:

    - TIMESTAMP(NANOS), which the Spark Parquet reader rejects outright
      (PARQUET_TYPE_ILLEGAL). With the legacy conf the nanos arrive as a
      raw long; floor-divide to microseconds — integer arithmetic,
      because int64 nanos (~1.7e18) exceed double's 2^53 exact range, so
      ``/ 1000.0`` would corrupt low digits. Truncation (not rounding)
      matches how microsecond engines (e.g. DuckDB) ingest nanos.
    - TIMESTAMP(MICROS) without timezone metadata, which Spark reads as
      TIMESTAMP_NTZ. Cast to TIMESTAMP: the session timezone is pinned
      UTC (session.py), so the wall-clock value is unchanged and every
      downstream window/date_format/watermark sees the same type either
      way.

    Both conversions happen in the scan projection, so column pruning
    and predicate pushdown on other columns are unaffected."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    return df.withColumn("ts", _normalize_ts(df.schema["ts"].dataType))


def _normalize_ts(dtype):  # -> Column
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(dtype, LongType):  # raw nanos via legacy conf
        return F.timestamp_micros(F.expr("ts div 1000"))
    return F.col("ts").cast("timestamp")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    if not names:
        names = TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def fan_out(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition a small-file scan up to cluster parallelism.

    A table that arrives as few/one parquet split serializes every
    downstream narrow stage onto as many cores as it has splits —
    fatal for compute-heavy per-row work (hashing, shingling, vector
    math). When the scan already has >= defaultParallelism splits
    (always true for 100 TB inputs) this is a no-op costing one
    getNumPartitions() call; otherwise one tiny round-robin shuffle
    buys full-cluster parallelism for everything after it.
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
