"""Dataset profiling and multi-objective selection operators.

Superset surface: the first and last steps of a data pipeline —
profiling what arrived, and selecting the efficient frontier.

- ``profile_orders_columns``: one-pass column profile (null count,
  exact distinct count, min/max rendered as strings) unpivoted to a
  row per column — the data-quality report a 100 TB ingest job emits.
- ``skyline_parts``: the Pareto frontier of parts minimizing
  ``p_retailprice`` while maximizing ``p_size``. Computed by the
  sort-based sweep: aggregate per price (max size), running max of
  size over strictly-cheaper prices, then a part survives iff no
  cheaper part has size ≥ its own and no equal-priced part has size
  strictly greater. The running-max window runs over the PER-PRICE
  aggregate (price-dimension cardinality), not over part rows; the
  oracle is the O(n²) NOT EXISTS definition — independent algorithm,
  same set.
- ``incremental_daily_revenue``: re-aggregable partial aggregation —
  per-day revenue computed as merge(old-half partials, new-half
  partials) with the oracle recomputing from scratch. This is the
  associativity contract that makes incremental materialized-view
  maintenance (and Spark's own map-side combine) correct; pinning it
  cross-engine guards the fixed-point unit conventions under
  re-aggregation.

Scale shape: profile is a single map-side-combinable aggregation pass
(distinct counts expand to per-column shuffles planned by Catalyst);
skyline shuffles per-price aggregates only; incremental merge is two
grouped scans unioned then re-grouped on the same day key — Catalyst
aligns the partitioning, so the merge adds one dimension-sized
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_lab_spark.functions.numeric import (
    exact_ratio,
    oracle_exact_ratio,
    oracle_exact_sum,
    to_units,
)
from mapreduce_lab_spark.registry import query
from mapreduce_lab_spark.sources.tables import load_table

PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
)

INCR_SPLIT_DATE = "1998-01-01"


def profile_columns(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max" for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)"
        )
    )


_PROFILE_ORACLE = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS column_name,
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           min(CAST({c} AS VARCHAR)) AS min_value,
           max(CAST({c} AS VARCHAR)) AS max_value
    FROM orders
    """
    for c in PROFILE_COLS
)


@query("profile_orders_columns", oracle=_PROFILE_ORACLE)
def q_profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_columns(load_table(spark, sf_dir, "orders"), PROFILE_COLS)


SKYLINE_RANGE_PARTITIONS = 32


def skyline(parts: DataFrame, spark: SparkSession) -> DataFrame:
    """Pareto frontier: minimize p_retailprice, maximize p_size.

    A part survives iff no strictly-cheaper price level reaches its
    size (``best_cheaper < p_size``) and no same-price part beats it
    (``p_size == best_size``). The prefix-max over cheaper prices is
    computed with the distributed ranking composition of
    ``window_ntile_share`` (windows.py): range-partition the per-price
    aggregate, running max WITHIN each range partition, then combine
    with the P-row per-partition prefix maxima (metadata collect, not
    a data collect) — no single-task global window anywhere.
    """
    per_price = parts.groupBy("p_retailprice").agg(
        F.max("p_size").alias("best_size")
    )
    ranked = (
        per_price.repartitionByRange(
            SKYLINE_RANGE_PARTITIONS, F.asc("p_retailprice")
        )
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_run_excl",
            F.max("best_size").over(
                Window.partitionBy("_pid")
                .orderBy("p_retailprice")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .cache()
    )
    pmax = {
        r["_pid"]: r["mx"]
        for r in ranked.groupBy("_pid").agg(F.max("best_size").alias("mx")).collect()
    }
    prefix: list[tuple[int, int | None]] = []
    run: int | None = None
    for pid in sorted(pmax):
        prefix.append((pid, run))
        run = pmax[pid] if run is None else max(run, pmax[pid])
    off = spark.createDataFrame(prefix, "_pid int, _prefix int")
    enriched = ranked.join(F.broadcast(off), "_pid").withColumn(
        "best_cheaper", F.greatest("_run_excl", "_prefix")
    )
    return (
        parts.join(enriched, "p_retailprice")
        .where(
            (F.col("best_cheaper").isNull() | (F.col("best_cheaper") < F.col("p_size")))
            & (F.col("p_size") == F.col("best_size"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


@query(
    "skyline_parts",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
)
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return skyline(load_table(spark, sf_dir, "part"), spark)


def incremental_daily_revenue(orders: DataFrame) -> DataFrame:
    """Merge per-day partials from an 'old' and a 'new' half."""

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
        ).agg(
            F.sum(to_units("o_totalprice", 100)).alias("rev_units"),
            F.count("*").alias("n_orders"),
        )

    old = partials(orders.where(F.col("o_orderdate") < F.lit(INCR_SPLIT_DATE)))
    new = partials(orders.where(F.col("o_orderdate") >= F.lit(INCR_SPLIT_DATE)))
    return (
        old.unionAll(new)
        .groupBy("day")
        .agg(
            (F.sum("rev_units").cast("double") / F.lit(100)).alias("revenue"),
            F.sum("n_orders").alias("n_orders"),
        )
    )


@query(
    "incremental_daily_revenue",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
           {oracle_exact_sum("o_totalprice", 100)} AS revenue,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1
    """,
)
def q_incremental_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return incremental_daily_revenue(load_table(spark, sf_dir, "orders"))


def key_skew_report(lineitem: DataFrame) -> DataFrame:
    """Key-distribution diagnostics for a prospective join/agg key.

    The pre-flight check for the salting/AQE decisions the skew
    operators make (functions/skew.py): rows per key → one-row report
    of cardinality, max key share (exact fixed-point), and the
    p99/median per-key count ratio. Two map-side-combinable
    aggregations — the second runs over the key-count frame
    (key-dimension sized).
    """
    counts = lineitem.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    return counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_key_rows"),
        exact_ratio(F.max("cnt"), F.sum("cnt")).alias("top_key_share"),
        F.percentile("cnt", F.lit(0.5)).alias("p50_key_rows"),
        F.percentile("cnt", F.lit(0.99)).alias("p99_key_rows"),
    )


@query(
    "key_skew_report",
    oracle=f"""
    WITH counts AS (
        SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey
    )
    SELECT count(*) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           max(cnt) AS max_key_rows,
           {oracle_exact_ratio("max(cnt)", "sum(cnt)")} AS top_key_share,
           quantile_cont(cnt, 0.5) AS p50_key_rows,
           quantile_cont(cnt, 0.99) AS p99_key_rows
    FROM counts
    """,
)
def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return key_skew_report(load_table(spark, sf_dir, "lineitem"))


def ship_latency_percentiles(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Order-to-ship latency percentiles per priority (fact-fact join
    on the natural key, exact type-7 percentiles on integer days)."""
    j = lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").alias("lat_days"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.percentile("lat_days", F.lit(0.5)).alias("lat_p50"),
        F.percentile("lat_days", F.lit(0.9)).alias("lat_p90"),
        F.percentile("lat_days", F.lit(0.99)).alias("lat_p99"),
        F.max("lat_days").alias("lat_max"),
    )


@query(
    "ship_latency_percentiles",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_lines,
           quantile_cont(date_diff('day', o_orderdate, l_shipdate), 0.5) AS lat_p50,
           quantile_cont(date_diff('day', o_orderdate, l_shipdate), 0.9) AS lat_p90,
           quantile_cont(date_diff('day', o_orderdate, l_shipdate), 0.99) AS lat_p99,
           max(date_diff('day', o_orderdate, l_shipdate)) AS lat_max
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ship_latency_percentiles(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )


# --- incremental JOIN-view maintenance ------------------------------------

IVM_ORDERS_SPLIT = "1999-01-01"  # ΔO = orders placed on/after
IVM_LINES_SPLIT = "2000-01-01"  # ΔL = lineitems shipped on/after


def ivm_join_revenue(
    orders: DataFrame,
    lineitem: DataFrame,
    o_split: str = IVM_ORDERS_SPLIT,
    l_split: str = IVM_LINES_SPLIT,
) -> DataFrame:
    """Incremental maintenance of a JOIN view — the two-table delta
    algebra, companion to ``incremental_daily_revenue``'s aggregate
    maintenance:

        agg((O_b + ΔO) ⋈ (L_b + ΔL))
          = agg(O_b⋈L_b) + agg(ΔO⋈L_b) + agg(O_b⋈ΔL) + agg(ΔO⋈ΔL)

    The first term is yesterday's materialized view (here recomputed
    from the base split so the whole query is self-contained and
    oracle-checkable); the three delta terms are what a refresh
    actually executes — each joins AT LEAST one delta side, so at
    100 TB the refresh cost is O(|Δ| · fanout), never a rescan of
    base⋈base. The deltas are independent per table (new orders by
    order date, newly shipped lines by ship date), which is exactly
    what makes the cross terms necessary: a base order can gain new
    lines, and a new order arrives with lines already in base ranges.

    All four terms are exact integer partials (the same mergeable
    fixed-point contract as the aggregate IVM), so the sum is
    bit-identical to the from-scratch oracle.
    """
    o = orders.select("o_orderkey", "o_orderpriority", "o_orderdate")
    li = lineitem.select(
        "l_orderkey", "l_shipdate",
        to_units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)
        .alias("rev_units"),
    )
    o_base = o.where(F.col("o_orderdate") < F.lit(o_split))
    o_delta = o.where(F.col("o_orderdate") >= F.lit(o_split))
    l_base = li.where(F.col("l_shipdate") < F.lit(l_split))
    l_delta = li.where(F.col("l_shipdate") >= F.lit(l_split))

    def term(os_: DataFrame, ls: DataFrame) -> DataFrame:
        return (
            os_.join(ls, os_.o_orderkey == ls.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("rev_units").alias("units"), F.count("*").alias("n"))
        )

    partials = (
        term(o_base, l_base)
        .unionAll(term(o_delta, l_base))
        .unionAll(term(o_base, l_delta))
        .unionAll(term(o_delta, l_delta))
    )
    return partials.groupBy("o_orderpriority").agg(
        (F.sum("units").cast("double") / F.lit(10000)).alias("revenue"),
        F.sum("n").alias("n_lines"),
    )


@query(
    "ivm_join_revenue",
    oracle=f"""
    SELECT o_orderpriority,
           {oracle_exact_sum("l_extendedprice * (1 - l_discount)", 10000)}
               AS revenue,
           count(*) AS n_lines
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_ivm_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-view delta maintenance: four disjoint base/delta terms
    summed, oracled by the monolithic from-scratch join."""
    return ivm_join_revenue(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


# --- k-anonymity census (privacy / data-governance lane) --------------------

# Quasi-identifier for the customer table: coarse location x segment x
# balance band — the classic "could this row be re-identified" triple.
# Buckets are exact integer floors so both engines band identically.
K_RISK_THRESHOLD = 5


def k_anonymity_census(customer: DataFrame) -> DataFrame:
    """Equivalence-class size census over a quasi-identifier triple —
    the k-anonymity report (Sweeney 2002, public) a data-governance
    pass runs BEFORE releasing a 100 TB table: how many rows sit in
    classes smaller than k = 5 (re-identifiable), and the class-size
    histogram.

    One groupBy on the QI triple (map-side combinable), then a
    class-size histogram over the |classes|-row frame — event volume
    never reaches the second aggregate. Output: one row per class-size
    band with class/row counts and each band's share of all rows.
    """
    qi = [
        F.col("c_nationkey"),
        F.col("c_mktsegment"),
        F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
    ]
    cls = customer.groupBy(*qi).agg(F.count(F.lit(1)).alias("k"))
    band = (
        F.when(F.col("k") == 1, F.lit("1 (unique)"))
        .when(F.col("k") < K_RISK_THRESHOLD, F.lit("2-4 (risky)"))
        .when(F.col("k") < 10, F.lit("5-9"))
        .otherwise(F.lit("10+"))
    )
    total = cls.agg(F.sum("k").alias("n_rows_total"))
    return (
        cls.select(band.alias("k_band"), "k")
        .groupBy("k_band")
        .agg(F.count(F.lit(1)).alias("n_classes"), F.sum("k").alias("n_rows"))
        .crossJoin(F.broadcast(total))
        .select(
            "k_band",
            "n_classes",
            "n_rows",
            exact_ratio(F.col("n_rows"), F.col("n_rows_total")).alias("row_share"),
        )
    )


@query(
    "k_anonymity_census",
    oracle=f"""
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             count(*) AS k
      FROM customer
      GROUP BY 1, 2, 3
    ), banded AS (
      SELECT CASE WHEN k = 1 THEN '1 (unique)'
                  WHEN k < {K_RISK_THRESHOLD} THEN '2-4 (risky)'
                  WHEN k < 10 THEN '5-9'
                  ELSE '10+' END AS k_band,
             k
      FROM cls
    )
    SELECT k_band, count(*) AS n_classes,
           CAST(sum(k) AS BIGINT) AS n_rows,
           {oracle_exact_ratio("sum(k)", "(SELECT sum(k) FROM cls)")}
               AS row_share
    FROM banded GROUP BY k_band
    """,
)
def q_k_anonymity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    return k_anonymity_census(load_table(spark, sf_dir, "customer"))


# --- histogram selectivity estimation (optimizer-statistics lane) -----------

# Equi-width histogram over l_extendedprice; the three range predicates
# whose optimizer-style row estimates the report scores against truth.
HIST_WIDTH = 1000
SELECTIVITY_PREDICATES = [
    ("narrow_band", 20_000, 25_000),
    ("mid_band", 40_000, 70_000),
    ("upper_tail", 90_000, 999_999_999),
]


def selectivity_histogram_report(lineitem: DataFrame) -> DataFrame:
    """Per range predicate: the row-count ESTIMATE a bucket-granular
    equi-width histogram yields vs the TRUE count, with the relative
    error — the statistics loop every cost-based optimizer (and every
    partition-pruning layout decision) lives on, run as a first-class
    query so the estimate quality is itself measurable at scale.

    Bucket-granular convention (deterministic, integer-exact): any
    bucket OVERLAPPING the predicate counts fully — the upper bound a
    min/max-zone-map skipper uses, so est >= actual always and the
    error is exactly the boundary-bucket mass. One histogram pass
    (map-side combinable, ~100 groups) + one conditional-sum pass for
    all true counts; estimates are conditional sums over the ~100-row
    histogram frame fused to the 1-row truth frame.
    """
    b = F.floor(F.col("l_extendedprice") / HIST_WIDTH).cast("long")
    hist = lineitem.groupBy(b.alias("b")).agg(F.count(F.lit(1)).alias("n"))

    def overlaps(lo: int, hi: int):
        # bucket [b*W, (b+1)*W) overlaps [lo, hi] iff b*W <= hi and
        # (b+1)*W > lo
        return (F.col("b") * HIST_WIDTH <= hi) & ((F.col("b") + 1) * HIST_WIDTH > lo)

    est = hist.agg(
        *[
            F.sum(F.when(overlaps(lo, hi), F.col("n")).otherwise(0)).alias(f"est_{name}")
            for name, lo, hi in SELECTIVITY_PREDICATES
        ]
    )
    act = lineitem.agg(
        *[
            F.sum(
                (
                    (F.col("l_extendedprice") >= lo)
                    & (F.col("l_extendedprice") <= hi)
                ).cast("long")
            ).alias(f"act_{name}")
            for name, lo, hi in SELECTIVITY_PREDICATES
        ]
    )
    # ONE row; cache so the three unpivot legs below share a single
    # materialization of the histogram + truth scans instead of
    # re-executing both per leg (6 live lineitem scans -> 2, caught
    # by test_plan_hygiene's dup-scan cap).
    wide = est.crossJoin(F.broadcast(act)).cache()
    legs = [
        wide.select(
            F.lit(name).alias("predicate"),
            F.col(f"est_{name}").alias("est_rows"),
            F.col(f"act_{name}").alias("actual_rows"),
            exact_ratio(
                F.abs(F.col(f"est_{name}") - F.col(f"act_{name}")),
                F.greatest(F.col(f"act_{name}"), F.lit(1)),
            ).alias("rel_err"),
        )
        for name, _, _ in SELECTIVITY_PREDICATES
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _sel_oracle_leg(name: str, lo: int, hi: int) -> str:
    return f"""
    SELECT '{name}' AS predicate,
           (SELECT CAST(sum(n) AS BIGINT) FROM hist
            WHERE b * {HIST_WIDTH} <= {hi}
              AND (b + 1) * {HIST_WIDTH} > {lo}) AS est_rows,
           (SELECT count(*) FROM lineitem
            WHERE l_extendedprice >= {lo} AND l_extendedprice <= {hi})
               AS actual_rows,
           {oracle_exact_ratio(
               f'''abs((SELECT sum(n) FROM hist
                        WHERE b * {HIST_WIDTH} <= {hi}
                          AND (b + 1) * {HIST_WIDTH} > {lo})
                   - (SELECT count(*) FROM lineitem
                      WHERE l_extendedprice >= {lo}
                        AND l_extendedprice <= {hi}))''',
               f'''greatest((SELECT count(*) FROM lineitem
                             WHERE l_extendedprice >= {lo}
                               AND l_extendedprice <= {hi}), 1)''',
           )} AS rel_err"""


@query(
    "selectivity_histogram_report",
    oracle="WITH hist AS (\n"
    f"  SELECT CAST(floor(l_extendedprice / {HIST_WIDTH}) AS BIGINT) AS b,\n"
    "         count(*) AS n\n"
    "  FROM lineitem GROUP BY 1\n"
    ")\n"
    + "\nUNION ALL".join(
        _sel_oracle_leg(name, lo, hi) for name, lo, hi in SELECTIVITY_PREDICATES
    ),
)
def q_selectivity_histogram_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return selectivity_histogram_report(load_table(spark, sf_dir, "lineitem"))


# --- l-diversity census (privacy / data-governance lane) --------------------

# Quasi-identifier PAIR (location x balance band) with the market
# segment as the SENSITIVE attribute: k-anonymity alone is satisfied
# by a class of 50 rows that all share one segment — an attacker who
# locates a person's class learns their segment with certainty.
# l-diversity (Machanavajjhala et al. 2007, public) counts DISTINCT
# sensitive values per class; classes with l = 1 are homogeneous
# disclosures no matter how large k is.


def l_diversity_census(customer: DataFrame) -> DataFrame:
    """Per distinct-sensitive-count l: how many quasi-identifier
    classes have exactly l distinct market segments, how many rows sit
    in them, and each band's share of all rows — the companion report
    to ``k_anonymity_census`` a governance pass runs before release.

    One groupBy on the QI pair computing (count, count_distinct) —
    the distinct expands to Catalyst's two-phase distinct-aggregate
    plan, still map-side combinable on the first phase — then a
    histogram over the |classes|-row frame. l is bounded by the
    sensitive-attribute cardinality (5 segments), so the output is a
    <= 5-row frame at any data size.
    """
    cls = customer.groupBy(
        F.col("c_nationkey"),
        F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).alias("k"),
        F.count_distinct(F.col("c_mktsegment")).alias("l"),
    )
    # Grand total via an unpartitioned window over the <= |sensitive-
    # cardinality|-row census frame — NOT a second aggregation lineage
    # (which would scan the customer table twice) and NOT a broadcast
    # cross join (a BNLJ the plan doesn't need).
    total = F.sum("n_rows").over(Window.partitionBy())
    return (
        cls.groupBy("l")
        .agg(F.count(F.lit(1)).alias("n_classes"), F.sum("k").alias("n_rows"))
        .select(
            "l",
            "n_classes",
            "n_rows",
            exact_ratio(F.col("n_rows"), total).alias("row_share"),
        )
    )


@query(
    "l_diversity_census",
    oracle=f"""
    WITH cls AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             count(*) AS k,
             count(DISTINCT c_mktsegment) AS l
      FROM customer
      GROUP BY 1, 2
    )
    SELECT l, count(*) AS n_classes,
           CAST(sum(k) AS BIGINT) AS n_rows,
           {oracle_exact_ratio("sum(k)", "(SELECT sum(k) FROM cls)")}
               AS row_share
    FROM cls GROUP BY l
    """,
)
def q_l_diversity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    return l_diversity_census(load_table(spark, sf_dir, "customer"))


# --- distributed exact order statistics (selection without sorting) ---------

# Exact quantiles of l_extendedprice by iterative histogram
# refinement. Spark's own exact ``percentile`` aggregate buffers every
# value of a group in one task — fine at test scale, an OOM at 100 TB.
# The classic distributed-selection alternative (Blum et al.'s
# selection problem in the aggregation setting): each pass computes a
# COUNT histogram at a finer bucket width restricted to the candidate
# range, the driver walks the (bounded, <= ~1200-row) histogram to
# find which child bucket holds the k-th element, and recursion stops
# when the bucket width reaches one cent — prices carry 2 decimal
# places, so a width-1 bucket IS the value. Three passes of map-side
# combinable aggregation, never a global sort, never more than a few
# KB on the driver: the same number of scans at 100 TB as at sf0.001.

QUANTILE_PCTS = (25, 50, 75, 95)
# Bucket widths in cents per refinement level. Level 1 spans the whole
# price domain (~11M cents / 1e6 -> ~12 buckets); each later level
# splits the surviving bucket 100x; width 1 terminates exactly.
QUANTILE_LEVELS = (1_000_000, 10_000, 100, 1)


def distributed_exact_quantiles(lineitem: DataFrame) -> DataFrame:
    """(percentile, k, value, n_le) for each target percentile — value
    is the EXACT k-th smallest l_extendedprice with k = ceil(pct*n/100)
    computed in pure integer arithmetic, and n_le the distributed
    verification count of rows <= value (>= k always; > k only under
    ties).

    The refinement passes run at query-construction time (the same
    bounded-collect discipline as kmeans/BPE/IVF training: each
    collected frame is histogram-width-bounded, independent of row
    count). The RETURNED frame is a real distributed job: one fused
    conditional-sum aggregation pass verifying every quantile's rank
    position against the full table.
    """
    pu = to_units("l_extendedprice", 100)
    # One materialization of the 8-byte projection (round-13, guide
    # §5): the refinement levels and the verification pass are 5
    # sequential full scans by construction; localCheckpoint makes
    # passes 2..5 read the stored long column instead of re-decoding
    # the parquet scan + round() each time (sf0.1 warm 2.2 -> 1.0 s).
    # Storage is n * 8 bytes spread across executors (MEMORY_AND_DISK)
    # — the narrow-projection analogue of the guide §8 fingerprint
    # table, and strictly per-invocation (no cross-run reuse).
    src = lineitem.select(pu.alias("pu")).localCheckpoint()

    # Level 1: full-domain histogram; also yields n.
    w0 = QUANTILE_LEVELS[0]
    h = {
        r["b"]: r["n"]
        for r in src.groupBy((F.col("pu") / w0).cast("long").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_total = sum(h.values())
    if n_total == 0:
        # Empty lake: no order statistics exist; return a 0-row frame
        # with the contract schema.
        return src.select(
            F.lit(0).alias("pct"),
            F.lit(0).cast("long").alias("k"),
            F.lit(0.0).alias("value"),
            F.lit(0).cast("long").alias("n_le"),
        ).limit(0)
    # state per pct: (bucket at current level, remaining offset within it)
    state: dict[int, tuple[int, int]] = {}
    for pct in QUANTILE_PCTS:
        k = (n_total * pct + 99) // 100  # ceil without floats
        cum = 0
        for b in sorted(h):
            if cum + h[b] >= k:
                state[pct] = (b, k - cum)
                break
            cum += h[b]

    for li, width in enumerate(QUANTILE_LEVELS[1:], start=1):
        parent_w = QUANTILE_LEVELS[li - 1]
        ranges = sorted({state[p][0] for p in state})
        cond = None
        for b in ranges:
            c = (F.col("pu") >= b * parent_w) & (F.col("pu") < (b + 1) * parent_w)
            cond = c if cond is None else (cond | c)
        hist = {
            r["b"]: r["n"]
            for r in src.where(cond)
            .groupBy((F.col("pu") / width).cast("long").alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for pct, (pb, off) in state.items():
            cum = 0
            lo, hi = pb * parent_w // width, (pb + 1) * parent_w // width
            for b in sorted(x for x in hist if lo <= x < hi):
                if cum + hist[b] >= off:
                    state[pct] = (b, off - cum)
                    break
                cum += hist[b]

    # Verification pass (the returned distributed frame): one fused agg.
    aggs = []
    for pct in QUANTILE_PCTS:
        v = state[pct][0]  # width-1 bucket == the value in cents
        aggs.append(F.sum((F.col("pu") <= v).cast("long")).alias(f"le_{pct}"))
    # cache: the four unpivot legs below share ONE materialization of
    # the verification scan instead of re-executing it per leg (same
    # discipline as selectivity_histogram_report's fused frame).
    one = src.agg(*aggs).cache()
    legs = []
    for pct in QUANTILE_PCTS:
        v = state[pct][0]
        k = (n_total * pct + 99) // 100
        legs.append(
            one.select(
                F.lit(pct).alias("pct"),
                F.lit(k).cast("long").alias("k"),
                (F.lit(v).cast("double") / 100).alias("value"),
                F.col(f"le_{pct}").alias("n_le"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _quantile_oracle_leg(pct: int) -> str:
    k = f"(SELECT (nt * {pct} + 99) // 100 FROM n)"
    v = f"(SELECT v FROM ranked WHERE rn = {k})"
    return f"""
    SELECT {pct} AS pct,
           CAST({k} AS BIGINT) AS k,
           {v} AS value,
           (SELECT count(*) FROM lineitem WHERE l_extendedprice <= {v})
               AS n_le"""


# Independent algorithm on the oracle side: a full sort + row_number
# (fine at oracle scale, the exact thing the Spark side exists to
# avoid at 100 TB).
_QUANTILE_ORACLE = (
    "WITH ranked AS (SELECT l_extendedprice AS v,\n"
    "  row_number() OVER (ORDER BY l_extendedprice) AS rn FROM lineitem),\n"
    "n AS (SELECT count(*) AS nt FROM lineitem)\n"
    + " UNION ALL ".join(_quantile_oracle_leg(p) for p in QUANTILE_PCTS)
)


@query("distributed_exact_quantiles", oracle=_QUANTILE_ORACLE)
def q_distributed_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return distributed_exact_quantiles(load_table(spark, sf_dir, "lineitem"))


# --- grouped distributed selection (exact per-group median) ------------------

# The grouped form of distributed_exact_quantiles: exact median of
# o_totalprice PER order priority, again by bounded histogram
# refinement — the pattern generalizes by keying every histogram pass
# with the group column, so one extra groupBy key buys G concurrent
# selections for the same number of scans. Driver state stays
# |groups| x |buckets|-bounded (here 5 x ~12/100/100/100); the
# contract scales to any |groups| whose product with the bucket width
# stays collectable — for millions of groups the same passes keep
# working, with the driver walk replaced by a window cumsum over the
# (group, bucket) frame; this query pins the bounded-|groups| form.

MEDIAN_PCT = 50
# o_totalprice spans ~900..600k dollars -> cents up to ~6e7; level-1
# width 1e6 cents gives ~60 buckets per group.
GROUPED_LEVELS = (1_000_000, 10_000, 100, 1)


def grouped_exact_median(orders: DataFrame) -> DataFrame:
    """(priority, k, value, n_le): the exact k-th smallest
    o_totalprice within each priority, k = ceil(n_g/2), with the
    distributed rank-verification count per group."""
    pu = to_units("o_totalprice", 100)
    # same one-materialization discipline as distributed_exact_quantiles
    src = orders.select(
        F.col("o_orderpriority").alias("g"), pu.alias("pu")
    ).localCheckpoint()

    w0 = GROUPED_LEVELS[0]
    hist: dict[tuple[str, int], int] = {
        (r["g"], r["b"]): r["n"]
        for r in src.groupBy("g", (F.col("pu") / w0).cast("long").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    groups = sorted({g for g, _ in hist})
    if not groups:
        return src.select(
            F.col("g").alias("priority"),
            F.lit(0).cast("long").alias("k"),
            F.lit(0.0).alias("value"),
            F.lit(0).cast("long").alias("n_le"),
        ).limit(0)
    n_g = {g: sum(n for (gg, _), n in hist.items() if gg == g) for g in groups}
    k_g = {g: (n_g[g] * MEDIAN_PCT + 99) // 100 for g in groups}
    # state per group: (bucket at current level, remaining offset)
    state: dict[str, tuple[int, int]] = {}
    for g in groups:
        cum = 0
        for b in sorted(b for gg, b in hist if gg == g):
            n = hist[(g, b)]
            if cum + n >= k_g[g]:
                state[g] = (b, k_g[g] - cum)
                break
            cum += n

    for li, width in enumerate(GROUPED_LEVELS[1:], start=1):
        parent_w = GROUPED_LEVELS[li - 1]
        cond = None
        for g in groups:
            b = state[g][0]
            c = (
                (F.col("g") == g)
                & (F.col("pu") >= b * parent_w)
                & (F.col("pu") < (b + 1) * parent_w)
            )
            cond = c if cond is None else (cond | c)
        hist = {
            (r["g"], r["b"]): r["n"]
            for r in src.where(cond)
            .groupBy("g", (F.col("pu") / width).cast("long").alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for g in groups:
            pb, off = state[g]
            cum = 0
            lo, hi = pb * parent_w // width, (pb + 1) * parent_w // width
            for b in sorted(b for gg, b in hist if gg == g and lo <= b < hi):
                n = hist[(g, b)]
                if cum + n >= off:
                    state[g] = (b, off - cum)
                    break
                cum += n

    def case_of(values: dict[str, int]) -> F.Column:
        col = None
        for g in groups:
            cond, v = F.col("g") == g, F.lit(values[g])
            col = F.when(cond, v) if col is None else col.when(cond, v)
        return col

    v_case = case_of({g: state[g][0] for g in groups})
    k_case = case_of(k_g)
    return (
        src.groupBy("g")
        .agg(F.sum((F.col("pu") <= v_case).cast("long")).alias("n_le"))
        .select(
            F.col("g").alias("priority"),
            k_case.cast("long").alias("k"),
            (v_case.cast("double") / 100).alias("value"),
            "n_le",
        )
    )


_GROUPED_MEDIAN_ORACLE = f"""
WITH ranked AS (
  SELECT o_orderpriority AS g, o_totalprice AS v,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
), med AS (
  SELECT g, n, v FROM ranked WHERE rn = (n * {MEDIAN_PCT} + 99) // 100
)
SELECT m.g AS priority,
       CAST((m.n * {MEDIAN_PCT} + 99) // 100 AS BIGINT) AS k,
       m.v AS value,
       (SELECT count(*) FROM orders o
        WHERE o.o_orderpriority = m.g AND o.o_totalprice <= m.v) AS n_le
FROM med m
"""


@query("grouped_exact_median", oracle=_GROUPED_MEDIAN_ORACLE)
def q_grouped_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    return grouped_exact_median(load_table(spark, sf_dir, "orders"))


# --- join-cardinality estimation (optimizer-statistics lane) -----------------

# The join twin of selectivity_histogram_report: score the classic
# System-R equi-join estimate |A JOIN B| ~= |A|*|B| / max(ndv_A(k),
# ndv_B(k)) (Selinger et al. 1979, public) against the TRUE join
# cardinality for each star-schema FK edge. This is the number every
# cost-based join reordering stands on; running it as a first-class
# query makes the estimate's error measurable on the actual data —
# the pre-flight a 100 TB join pipeline consults before picking
# broadcast vs shuffle strategies.

JOIN_CARD_EDGES = [
    # (name, child table, child key, parent table, parent key)
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
]


def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per FK edge: side row counts, per-side key NDVs, the System-R
    estimate (exact integer arithmetic), the true join cardinality,
    and the floor-scaled relative error.

    Scale shape: per edge, two single-pass (count, count_distinct)
    aggregates — 1-row frames — plus ONE keyed join counted by a
    1-row aggregate; everything combines map-side. The estimate
    arithmetic runs on the fused 1-row stats frame, never on rows.
    """
    legs = []
    for name, child, ck, parent, pk in JOIN_CARD_EDGES:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent)
        cs = c.agg(
            F.count(F.lit(1)).alias("n_child"),
            F.count_distinct(F.col(ck)).alias("ndv_child"),
        )
        ps = p.agg(
            F.count(F.lit(1)).alias("n_parent"),
            F.count_distinct(F.col(pk)).alias("ndv_parent"),
        )
        act = (
            c.select(F.col(ck).alias("k"))
            .join(p.select(F.col(pk).alias("k")), "k")
            .agg(F.count(F.lit(1)).alias("actual_rows"))
        )
        # Product in DOUBLE (long*long would wrap silently near 2^63
        # where DuckDB errors) and an explicit floor before the integer
        # cast: Spark's cast("long") truncates toward zero but DuckDB's
        # CAST(AS BIGINT) rounds to nearest, so parity would only hold
        # while every FK edge happens to divide exactly.
        est = F.floor(
            F.col("n_child").cast("double")
            * F.col("n_parent").cast("double")
            / F.greatest(F.col("ndv_child"), F.col("ndv_parent"))
        ).cast("long")
        legs.append(
            cs.crossJoin(F.broadcast(ps))
            .crossJoin(F.broadcast(act))
            .select(
                F.lit(name).alias("edge"),
                "n_child",
                "n_parent",
                "ndv_child",
                "ndv_parent",
                est.alias("est_rows"),
                "actual_rows",
                exact_ratio(
                    F.abs(est - F.col("actual_rows")),
                    F.greatest(F.col("actual_rows"), F.lit(1)),
                ).alias("rel_err"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _join_card_leg(name: str, child: str, ck: str, parent: str, pk: str) -> str:
    est = (
        f"CAST(floor(CAST((SELECT count(*) FROM {child}) AS DOUBLE)"
        f" * CAST((SELECT count(*) FROM {parent}) AS DOUBLE)"
        f" / greatest((SELECT count(DISTINCT {ck}) FROM {child}),"
        f"            (SELECT count(DISTINCT {pk}) FROM {parent}))) AS BIGINT)"
    )
    act = (
        f"(SELECT count(*) FROM {child} c JOIN {parent} p ON c.{ck} = p.{pk})"
    )
    return f"""
    SELECT '{name}' AS edge,
           (SELECT count(*) FROM {child}) AS n_child,
           (SELECT count(*) FROM {parent}) AS n_parent,
           (SELECT count(DISTINCT {ck}) FROM {child}) AS ndv_child,
           (SELECT count(DISTINCT {pk}) FROM {parent}) AS ndv_parent,
           {est} AS est_rows,
           {act} AS actual_rows,
           {oracle_exact_ratio(f"abs({est} - {act})", f"greatest({act}, 1)")}
               AS rel_err"""


@query(
    "join_cardinality_estimate",
    oracle=" UNION ALL ".join(_join_card_leg(*e) for e in JOIN_CARD_EDGES),
)
def q_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return join_cardinality_estimate(spark, sf_dir)


# --- t-closeness census (third leg of the governance trilogy) ----------------

# k-anonymity bounds class SIZE, l-diversity bounds distinct sensitive
# VALUES — t-closeness (Li, Li & Venkatasubramanian 2007, public)
# bounds the INFORMATION: how far each class's sensitive-value
# distribution sits from the global one. A class can be large (k ok)
# and varied (l ok) yet still leak — 90% HOUSEHOLD in a class vs 20%
# globally tells an attacker plenty. Distance here is total variation
# (the categorical EMD of the paper reduces to TVD under uniform
# ground distance), computed in the engine's exact fixed-point TVD
# discipline (same as operators/drift.py): per class,
#   t = sum_v |share_class(v) - share_global(v)| / 2
# with both shares floor-scaled exact integers, so the census is
# hash-stable.

T_CLOSENESS_SCALE = 1_000_000


def t_closeness_census(customer: DataFrame) -> DataFrame:
    """Per t band: number of QI classes whose sensitive (segment)
    distribution sits that far (TVD, 6-dp fixed point) from the
    global distribution, with row counts and shares.

    One (QI, segment) aggregate; everything downstream operates on
    the |classes| x |segments| frame (bounded by the categorical
    domains). The global distribution is a |segments|-row broadcast.
    """
    qi_seg = customer.groupBy(
        F.col("c_nationkey"),
        F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
        F.col("c_mktsegment"),
    ).agg(F.count(F.lit(1)).alias("n"))
    wc = Window.partitionBy("c_nationkey", "bal_band")
    wg = Window.partitionBy("c_mktsegment")
    wall = Window.partitionBy()
    # floor-scaled shares: class share of each segment, global share
    cls_share = F.floor(
        F.col("n").cast("double") * T_CLOSENESS_SCALE / F.sum("n").over(wc)
    )
    glob_share = F.floor(
        F.sum("n").over(wg).cast("double") * T_CLOSENESS_SCALE / F.sum("n").over(wall)
    )
    scored = qi_seg.select(
        "c_nationkey",
        "bal_band",
        "c_mktsegment",
        "n",
        cls_share.alias("cs"),
        glob_share.alias("gs"),
    )
    # Absent (class, segment) cells contribute |0 - gs| = gs; folding
    # them in algebraically (the drift.py absent-mass trick): the sum
    # over PRESENT cells of (|cs - gs| - gs) plus the constant
    # sum(gs over all segments) equals the full TVD numerator.
    per_class = scored.groupBy("c_nationkey", "bal_band").agg(
        F.sum("n").alias("k"),
        F.sum(F.abs(F.col("cs") - F.col("gs")) - F.col("gs")).alias("partial"),
    )
    # constant: sum of global shares over the segment domain
    gs_dom = (
        scored.groupBy("c_mktsegment")
        .agg(F.min("gs").alias("gs"))
        .agg(F.sum("gs").alias("gs_sum"))
    )
    t_units = (F.col("partial") + F.col("gs_sum")) / 2
    banded = (
        per_class.crossJoin(F.broadcast(gs_dom))
        .select(
            "k",
            (t_units / F.lit(float(T_CLOSENESS_SCALE))).alias("t"),
        )
        .select(
            F.when(F.col("t") < 0.1, F.lit("t<0.1"))
            .when(F.col("t") < 0.2, F.lit("0.1-0.2"))
            .when(F.col("t") < 0.4, F.lit("0.2-0.4"))
            .otherwise(F.lit("0.4+ (leaky)"))
            .alias("t_band"),
            "k",
        )
    )
    total = F.sum("n_rows").over(Window.partitionBy())
    return (
        banded.groupBy("t_band")
        .agg(F.count(F.lit(1)).alias("n_classes"), F.sum("k").alias("n_rows"))
        .select(
            "t_band",
            "n_classes",
            "n_rows",
            exact_ratio(F.col("n_rows"), total).alias("row_share"),
        )
    )


_T_CLOSENESS_ORACLE = f"""
WITH qi_seg AS (
  SELECT c_nationkey,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         c_mktsegment, count(*) AS n
  FROM customer GROUP BY 1, 2, 3
), scored AS (
  SELECT c_nationkey, bal_band, n,
         CAST(floor(CAST(n AS DOUBLE) * {T_CLOSENESS_SCALE}
               / sum(n) OVER (PARTITION BY c_nationkey, bal_band))
              AS BIGINT) AS cs,
         CAST(floor(CAST(sum(n) OVER (PARTITION BY c_mktsegment) AS DOUBLE)
               * {T_CLOSENESS_SCALE} / sum(n) OVER ()) AS BIGINT) AS gs,
         c_mktsegment
  FROM qi_seg
), per_class AS (
  SELECT c_nationkey, bal_band,
         CAST(sum(n) AS BIGINT) AS k,
         CAST(sum(abs(cs - gs) - gs) AS BIGINT) AS partial
  FROM scored GROUP BY 1, 2
), gs_dom AS (
  SELECT CAST(sum(gs) AS BIGINT) AS gs_sum
  FROM (SELECT c_mktsegment, min(gs) AS gs FROM scored GROUP BY 1)
), banded AS (
  SELECT CASE WHEN t < 0.1 THEN 't<0.1'
              WHEN t < 0.2 THEN '0.1-0.2'
              WHEN t < 0.4 THEN '0.2-0.4'
              ELSE '0.4+ (leaky)' END AS t_band,
         k
  FROM (SELECT k,
               (CAST(partial + gs_sum AS DOUBLE) / 2)
                   / {float(T_CLOSENESS_SCALE)} AS t
        FROM per_class, gs_dom)
)
SELECT t_band, count(*) AS n_classes,
       CAST(sum(k) AS BIGINT) AS n_rows,
       {oracle_exact_ratio("sum(k)", "sum(sum(k)) OVER ()")} AS row_share
FROM banded GROUP BY t_band
"""


@query("t_closeness_census", oracle=_T_CLOSENESS_ORACLE)
def q_t_closeness_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t_closeness_census(load_table(spark, sf_dir, "customer"))
