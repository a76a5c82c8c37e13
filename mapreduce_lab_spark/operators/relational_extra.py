"""Relational surface completions: the remaining §2.3 ABSENT rows.

Full outer join, non-equi (range) join, explicit GROUPING SETS,
array scalar functions, and approximate distinct counting — each
absent from the reference (which has no joins, no grouping beyond
one key, no arrays: SURVEY.md §2.3) and standard in the engine's
superset surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_lab_spark.functions.numeric import to_units
from mapreduce_lab_spark.registry import query
from mapreduce_lab_spark.sources.tables import load_table

# Price bands for the range join: a tiny literal dimension, the
# classic "join facts to configured ranges" shape.
PRICE_BANDS = [
    ("budget", 0.0, 1200.0),
    ("mid", 1200.0, 1600.0),
    ("premium", 1600.0, 2500.0),
]


@query(
    "full_outer_join_nation_activity",
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nationkey, count(*) AS n_customers
      FROM customer GROUP BY 1
    ), s AS (
      SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
      FROM supplier GROUP BY 1
    )
    SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
           coalesce(n_customers, 0) AS n_customers,
           coalesce(n_suppliers, 0) AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    """,
)
def q_full_outer_join_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates (nations with only customers
    or only suppliers survive with zero-filled counts)."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return (
        cust.join(supp, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


_O_BANDS = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in PRICE_BANDS)


@query(
    "range_join_price_bands",
    oracle=f"""
    SELECT band, count(*) AS n_parts,
           sum(CAST(round(p_retailprice * 100) AS BIGINT)) / 100.0 AS total_price
    FROM part
    JOIN (VALUES {_O_BANDS}) AS bands(band, lo, hi)
      ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band
    """,
)
def q_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join: facts against a broadcast band table.

    The band side is bounded and literal, so Spark plans a
    BroadcastNestedLoopJoin — O(n·bands) with no shuffle of the fact
    table; the alternative (shuffle theta-join) would be catastrophic
    at scale. Bands here are non-overlapping half-open intervals.
    """
    part = load_table(spark, sf_dir, "part")
    bands = spark.createDataFrame(PRICE_BANDS, "band string, lo double, hi double")
    return (
        part.join(
            F.broadcast(bands),
            (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_parts"),
            (F.sum(to_units("p_retailprice", 100)) / 100.0).alias("total_price"),
        )
    )


@query(
    "grouping_sets_order_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           grouping(o_orderstatus) AS g_status,
           grouping(o_orderpriority) AS g_priority
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_grouping_sets_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (not derivable from rollup/cube): per
    status, per priority, and grand total in one pass."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
               grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_priority
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "array_functions_embeddings",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           round(list_min(embedding::DOUBLE[]), 6) AS vmin,
           round(list_max(embedding::DOUBLE[]), 6) AS vmax,
           round(embedding[1]::DOUBLE, 6) AS first_val,
           len(list_filter(embedding, x -> x > 0)) AS n_positive,
           round(list_reduce(embedding::DOUBLE[], (a, b) -> a + b), 6) AS total
    FROM embeddings
    """,
)
def q_array_functions_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar-function sweep over array<float>: size, min/max,
    element access, filtered count, fold — all JVM-side."""
    e = load_table(spark, sf_dir, "embeddings")
    dv = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.array_min(dv), 6).alias("vmin"),
        F.round(F.array_max(dv), 6).alias("vmax"),
        F.round(F.element_at(dv, 1), 6).alias("first_val"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
        F.round(
            F.aggregate(
                F.slice(dv, 2, F.size("embedding") - 1),
                F.element_at(dv, 1),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("total"),
    )


@query(
    "stats_aggregates_lineitem",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(stddev_samp(l_quantity), 6) AS qty_stddev
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_stats_aggregates_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact statistical aggregates: interpolated percentiles, Pearson
    correlation, sample stddev.

    Spark's `percentile` (exact, sort-based — NOT percentile_approx)
    matches DuckDB's quantile_cont linear interpolation bit-for-bit on
    the same doubles; corr/stddev agree at 6 dp (rounded in-query).
    Scale note: exact percentile buffers each group's values — right
    for bounded groups like this 3-flag split; unbounded-cardinality
    groups should switch to approx_percentile (sketch, mergeable
    map-side).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
    )


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct users per event type.

    RETIRED from the registry in round 11 (VERDICT r10 task #7): HLL
    sketches are engine-specific, so the driver could only ever record
    a rows-only check here, while the portable-hash siblings
    ``hll_portable_users`` / ``kmv_distinct_users`` put the same
    capability behind full oracles. The native path stays exercised by
    tests/test_relational_extra.py (≤ 2% relative error vs exact). At
    scale this is the operator that replaces an O(distinct) exact
    shuffle with a constant-size sketch mergeable map-side.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.count("*").alias("n_events"),
    )


@query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native pivot: one row per priority, one column per status.

    The value list is pinned explicitly — without it Spark runs an
    extra distinct-collect job to discover the column domain, a
    full-table pass that must never be implicit at 100 TB.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
    )


@query(
    "unpivot_part_measures",
    oracle="""
    SELECT p_partkey, 'p_size' AS measure, p_size::DOUBLE AS value
    FROM part WHERE p_partkey < 500
    UNION ALL
    SELECT p_partkey, 'p_retailprice', p_retailprice FROM part WHERE p_partkey < 500
    """,
)
def q_unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot/melt: wide measure columns to (key, measure, value) rows."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    return part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "measure", "value")


@query(
    "window_value_frames",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(first_value(o_totalprice) OVER w, 2) AS first_price,
           round(last_value(o_totalprice)
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS last_price,
           round(nth_value(o_totalprice, 2)
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS second_price,
           round(cume_dist() OVER w, 6) AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_value_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value with explicit frames + cume_dist.

    last_value/nth_value need the UNBOUNDED FOLLOWING frame — with the
    default frame (up to CURRENT ROW) last_value is just the current
    row, the classic window-frame trap, identical in both engines.
    """
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(wf), 2).alias("last_price"),
        F.round(F.nth_value("o_totalprice", 2).over(wf), 2).alias("second_price"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@query(
    "deterministic_sample_orders",
    oracle="""
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT % 10 = 0
    """,
)
def q_deterministic_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% sample by content hash, not RNG.

    df.sample() draws differently per run/partitioning — useless for
    a training pipeline that must reproduce its corpus. Hashing the
    key is stable across runs, engines, and cluster layouts, and
    composes with incremental ingestion (new rows don't reshuffle old
    membership).
    """
    from mapreduce_lab_spark.functions.hashing import hex8_int

    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        F.pmod(hex8_int(F.col("o_orderkey").cast("string")), F.lit(10)) == 0
    ).select("o_orderkey", "o_custkey")


@query(
    "exact_percentiles_lineitem",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS qty_p25,
           quantile_cont(l_quantity, 0.5) AS qty_p50,
           quantile_cont(l_quantity, 0.75) AS qty_p75,
           quantile_cont(l_extendedprice, 0.9) AS price_p90
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_exact_percentiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (type-7 linear interpolation).

    Spark's ``percentile`` and DuckDB's ``quantile_cont`` both compute
    lo + frac·(hi − lo) on the sorted multiset — identical IEEE ops,
    verified bit-for-bit here including fractional interpolation on
    the price column. Scale posture: Spark's exact percentile holds an
    O(distinct-values) map per group (fine for bounded domains like
    l_quantity's 50 values; memory-heavy for open domains like price)
    — the 100 TB default is ``approx_percentile`` (t-digest-style
    sketch, bounded memory, engine-specific results so rows-only
    checkable, same trade as approx_distinct_users).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("qty_p25"),
        F.percentile("l_quantity", F.lit(0.5)).alias("qty_p50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("qty_p75"),
        F.percentile("l_extendedprice", F.lit(0.9)).alias("price_p90"),
    )
