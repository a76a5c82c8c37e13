"""Session-factory settings that show up only across many queries."""

from __future__ import annotations

import subprocess
from pathlib import Path

from pyspark.sql import functions as F

from mapreduce_lab_spark.session import CODEGEN_CACHE_ENTRIES


def test_codegen_cache_outlives_more_than_100_classes(spark):
    """Spark's default codegen cache holds 100 classes, so a session
    running more distinct plans than that recompiles its own earlier
    queries. Under get_spark's cache a query re-run after 150 other
    generated projections compiles nothing."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    base = spark.range(3)

    def run(i):
        return base.select((F.col("id") * 7919 + i).alias("v")).collect()

    first = run(0)
    before = compiles.getCount()
    for i in range(1, 151):
        run(i)
    assert compiles.getCount() - before >= 150, "each projection should compile its own class"
    before = compiles.getCount()
    assert run(0) == first
    assert compiles.getCount() - before == 0


def test_get_spark_is_the_only_session_builder():
    """Every bench, script and test gets its session from get_spark, so
    they all plan under the same timezone, broadcast threshold, codegen
    cache and console settings."""
    root = Path(__file__).resolve().parent.parent
    tracked = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=root, capture_output=True, text=True, check=True
    ).stdout.split()
    needle = "SparkSession" + ".builder"
    builders = [p for p in tracked if needle in (root / p).read_text(encoding="utf-8")]
    assert builders == ["mapreduce_lab_spark/session.py"]


def test_console_progress_is_off(spark):
    """Progress-bar lines on stdout break drivers that parse a script's
    output; PySpark's shell launch turns the bar on unless get_spark
    turns it off."""
    assert spark.conf.get("spark.ui.showConsoleProgress") == "false"
