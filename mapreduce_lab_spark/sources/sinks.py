"""Sinks — the reference's output formats plus the columnar superset.

Reference sinks (SURVEY.md §2.1): space-separated text lines
``"<key> <value>\\n"`` per reduce partition (E8,
``core/worker.go:202,213-265``) and JSON-lines intermediates (E3,
``core/worker.go:415-429``). Both are reproduced here as one-liner
DataFrame writers — plus parquet, the format everything at scale
should actually use (columnar, compressed, statistics for pushdown,
partition pruning via ``partitionBy``).

Output commit semantics: Spark's FileOutputCommitter gives the
atomicity the reference's ping→commit→complete protocol attempts but
doesn't achieve (it appends without O_TRUNC — SURVEY.md E13 note);
nothing to build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_lab_spark.registry import query


def write_text_kv(df: DataFrame, path: str, key_col: str = "key", value_col: str = "value",
                  n_partitions: int | None = None) -> None:
    """Reference mr-out format: one '<key> <value>' line per row.

    One output file per partition, exactly like one ``mr-out-<r>`` per
    reduce task; pass ``n_partitions`` to mirror the reference's fixed
    nReduce=10 (``main/mrcoordinator.go:16``). Intra-file order is
    unspecified in the reference (it iterates a Go map) and here too —
    the harness sorts before comparing (``test.sh:96``).
    """
    # Repartition on the key BEFORE the projection drops it — the same
    # hash(key) % nReduce placement as the reference's ihash
    # (core/worker.go:40-44): every occurrence of a key lands in one
    # output file.
    src = df.repartition(n_partitions, key_col) if n_partitions is not None else df
    out = src.select(F.concat_ws(" ", F.col(key_col).cast("string"),
                                 F.col(value_col).cast("string")).alias("value"))
    out.write.mode("overwrite").text(path)


def read_text_kv(spark: SparkSession, path: str) -> DataFrame:
    """Read the mr-out format back: splits on the FIRST space only
    (values may contain spaces — e.g. the indexer's '<n> <docs>')."""
    raw = spark.read.text(path)
    sep = F.instr("value", " ")
    return raw.select(
        F.expr("substring(value, 1, instr(value, ' ') - 1)").alias("key"),
        F.expr("substring(value, instr(value, ' ') + 1)").alias("value"),
    ) if sep is not None else raw


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines sink (the reference's intermediate format, E3)."""
    df.write.mode("overwrite").json(path)


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> None:
    """Columnar sink with optional hive-style partitioning.

    ``partition_by`` columns become directory partitions — the scale
    lever: queries filtering on them prune whole directories before
    any IO. ``sort_by`` sorts within partitions so parquet row-group
    min/max statistics become selective for range predicates.
    """
    out = df
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    w = out.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed (hash-clustered) managed table.

    The co-located-join lever at scale: two tables bucketed on the
    same key with the same bucket count join with ZERO shuffle — the
    physical layout IS the partitioning, paid once at write time and
    amortized over every subsequent join/aggregation on that key
    (asserted in tests/test_bucketing.py). Sorting within buckets
    additionally removes the sort from sort-merge joins.
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_range_partitioned(
    df: DataFrame,
    path: str,
    range_cols: list[str],
    target_rows_per_file: int,
    total_rows: int | None = None,
) -> None:
    """Range-clustered parquet: repartitionByRange + within-sort.

    The layout for range-predicate-heavy workloads (time-series
    scans, as-of joins): file f holds one contiguous key range, so a
    range filter prunes to the few files whose parquet min/max
    overlap it — directory partitioning's granularity without its
    small-file explosion on high-cardinality keys. Range boundaries
    come from a driver-side sample (Spark's RangePartitioner), so
    files are balanced even under key skew, unlike hash or hive
    partitioning.
    """
    n = total_rows if total_rows is not None else df.count()
    n_files = max(1, -(-n // target_rows_per_file))
    (
        df.repartitionByRange(n_files, *range_cols)
        .sortWithinPartitions(*range_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_bytes_per_file: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction (OPTIMIZE-style maintenance op).

    Streaming sinks and per-task commits leave directories with
    thousands of tiny files; at 100 TB that turns every scan into a
    metadata storm (one footer read + task per file) and starves the
    vectorized reader. Rewrite to ceil(bytes/target) files sized for
    one row-group each. Sizing uses the SOURCE's on-disk bytes — a
    cheap filesystem listing, no data pass; coalesce (not
    repartition) so the rewrite is shuffle-free: tasks just
    concatenate input splits.

    Returns the number of output data files written. Writes to
    ``out_path`` + atomic swap by the caller (same pointer pattern as
    streaming.jobs.start_upsert_sink) rather than in-place — an
    in-place rewrite that fails mid-way loses the table.
    """
    import os

    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total // target_bytes_per_file))
    spark.read.parquet(path).coalesce(n_files).write.mode("overwrite").parquet(out_path)
    return sum(
        1 for f in os.listdir(out_path) if f.endswith(".parquet")
    )


def zorder_value(c1, c2, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative int keys.

    Pure bit arithmetic built as a codegen expression tree (2·bits
    shift/mask/or terms, no Python in the hot path): bit i of c1
    lands at position 2i+1, bit i of c2 at 2i. Sorting by the result
    clusters rows so BOTH columns' per-file min/max ranges stay
    narrow — the multi-column data-skipping layout (OPTIMIZE
    ZORDER-style) that single-key range clustering can't provide.
    """
    from pyspark.sql import functions as F

    a = (F.col(c1) if isinstance(c1, str) else c1).cast("long")
    b = (F.col(c2) if isinstance(c2, str) else c2).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i))
    return z


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    col1: str,
    col2: str,
    n_files: int,
    bits: int = 16,
) -> None:
    """Z-order-clustered parquet over two keys.

    repartitionByRange on the Morton value gives each file one
    contiguous Z-curve segment (balanced via sampled boundaries);
    the within-file sort tightens parquet row-group min/max on both
    source columns. A scan filtering EITHER key then prunes most
    files by footer stats — see tests/test_sources_sinks.py for the
    bounding-box measurement versus a naive layout.
    """
    from pyspark.sql import functions as F

    z = zorder_value(col1, col2, bits).alias("_z")
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


# --- ORC roundtrip (format-surface census) -----------------------------------

# ORC is Spark's second built-in columnar format (same pushdown /
# pruning machinery as parquet, different encoding lineage — Hive's).
# A storage-agnostic engine must prove the roundtrip: write a table
# slice as ORC, read it back, aggregate — oracled against the SAME
# aggregate computed from the original parquet, so any loss or type
# drift in the ORC path breaks the hash gate.

_ORC_WRITTEN: dict[str, str] = {}


def _orc_replica(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per process+sf_dir) the documents table as ORC under
    the system temp directory (``tempfile.gettempdir()``, so ``TMPDIR``
    applies) and return the path. Memoized like the IVF index artifacts:
    re-running the query in one process reuses the files; a fresh
    process rewrites them (mode=overwrite, so always self-consistent).

    The path is keyed on a hash of the ABSOLUTE sf_dir plus the pid —
    two sf_dirs that share a basename (sf0.01 under different roots)
    or two concurrent processes on the same sf can never clobber each
    other's replica — and the memo key is the absolute path itself
    (id(spark) can be recycled after GC).
    """
    import hashlib
    import os
    import tempfile

    key = os.path.abspath(sf_dir)
    if key not in _ORC_WRITTEN:
        path = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_orc_{os.getpid()}",
            hashlib.sha1(key.encode()).hexdigest()[:16],
        )
        (
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .write.mode("overwrite")
            .orc(path)
        )
        _ORC_WRITTEN[key] = path
    return _ORC_WRITTEN[key]


def orc_roundtrip_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per lang: doc count, exact char sum, and doc_id min/max — read
    from the ORC replica of the documents table."""
    docs = spark.read.orc(_orc_replica(spark, sf_dir))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@query(
    "orc_roundtrip_census",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
    FROM documents GROUP BY lang
    """,
)
def q_orc_roundtrip_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    return orc_roundtrip_census(spark, sf_dir)


# --- schema-evolution (mergeSchema) roundtrip census --------------------------

# Real lakes accrete columns: v1 files lack what v2 files carry, and
# the reader must UNION the schemas, null-filling the old files — the
# mergeSchema contract every long-lived parquet dataset depends on.
# This census writes the documents table as TWO generations (v1 drops
# `source`; v2 adds a derived `quality_band` column v1 never had),
# reads the directory back with mergeSchema=true, and aggregates per
# lang: rows per generation, how many rows carry each
# generation-specific column, and the exact char sum — all recomputed
# by DuckDB from the original table, so a reader that drops v1 rows,
# misaligns columns, or fails to null-fill breaks the hash gate.
# Same replica discipline as the ORC census (pid+abspath-keyed temp-dir
# path, overwrite mode, process-local memo).

_EVO_WRITTEN: dict[str, str] = {}


def _evolved_replica(spark: SparkSession, sf_dir: str) -> str:
    import hashlib
    import os
    import tempfile

    key = os.path.abspath(sf_dir)
    if key not in _EVO_WRITTEN:
        path = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_evo_{os.getpid()}",
            hashlib.sha1(key.encode()).hexdigest()[:16],
        )
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        v1 = docs.where(F.col("doc_id") % 2 == 0).select(
            "doc_id", "text", "lang", "n_chars"
        )
        v2 = docs.where(F.col("doc_id") % 2 == 1).select(
            "doc_id",
            "text",
            "lang",
            "source",
            "n_chars",
            (F.col("n_chars") % 7).alias("quality_band"),
        )
        v1.write.mode("overwrite").parquet(os.path.join(path, "gen=v1"))
        v2.write.mode("overwrite").parquet(os.path.join(path, "gen=v2"))
        _EVO_WRITTEN[key] = path
    return _EVO_WRITTEN[key]


def schema_evolution_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged = spark.read.option("mergeSchema", "true").parquet(
        _evolved_replica(spark, sf_dir)
    )
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("gen") == "v1").cast("long")).alias("n_v1"),
        F.sum((F.col("gen") == "v2").cast("long")).alias("n_v2"),
        F.sum(F.col("source").isNotNull().cast("long")).alias("with_source"),
        F.sum(F.col("quality_band").isNotNull().cast("long")).alias(
            "with_quality_band"
        ),
        F.coalesce(F.sum("quality_band"), F.lit(0)).alias("quality_band_sum"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "schema_evolution_census",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_v1,
           CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_v2,
           -- ADVICE r11: count the merged reader's IS NOT NULL
           -- semantics exactly instead of assuming source/n_chars
           -- are never NULL in the fixture — a NULL source row must
           -- not masquerade as a mergeSchema reader bug.
           CAST(sum(CASE WHEN doc_id % 2 = 1 AND source IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS with_source,
           CAST(sum(CASE WHEN doc_id % 2 = 1 AND n_chars IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS with_quality_band,
           CAST(coalesce(sum(CASE WHEN doc_id % 2 = 1
                    THEN n_chars % 7 END), 0) AS BIGINT) AS quality_band_sum,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def q_schema_evolution_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-generation parquet dataset read back under mergeSchema:
    per-lang row counts per generation, null-fill coverage of each
    generation-specific column, and exact sums — oracled against the
    original single-schema table."""
    return schema_evolution_census(spark, sf_dir)
