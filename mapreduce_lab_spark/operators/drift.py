"""Corpus drift detection: per-source distribution distance.

A 100 TB training corpus is assembled from many sources (crawls,
dumps, domains); the standing QA question is "which source's language
stopped looking like the rest of the corpus?" — a crawler regression,
an encoding bug, or genuine topical drift all surface as a shifted
unigram distribution. The published pipelines monitor this with KL /
perplexity panels; this operator uses TOTAL VARIATION DISTANCE
instead, which carries the same ranking signal and — unlike KL — is a
pure rational function of exact integer counts, so the whole score is
cross-engine bit-stable with no transcendental anywhere (the same
discipline as the PMI lift in ngrams.py and the bit-width
cross-entropy in lm.py).

    TVD(s) = 1/2 * sum_w | o_w / n_s  -  c_w / n_t |

with o_w the count of word w in source s, n_s the source's tokens,
c_w the corpus count, n_t the corpus total. Words ABSENT from the
source still contribute c_w / n_t each; that tail is folded in
algebraically — sum_{w not in s} c_w = n_t - sum_{w in s} c_w — so
the join only ever touches (source, word) pairs that actually occur:

    numerator(s) = sum_{w in s} | o_w * n_t - n_s * c_w |
                   + n_s * (n_t - sum_{w in s} c_w)
    TVD(s)       = numerator(s) / (2 * n_s * n_t)

``top_term`` is the word maximizing the signed over-representation
o_w * n_t - n_s * c_w (ties broken alphabetically) — the drift
EXPLANATION next to the drift score; only present words can be
over-represented, so the argmax needs no absent-word handling.

Scale shape: one token pass builds the (source, word) count frame —
map-side combinable, vocabulary x |sources| rows — and every other
input (corpus counts, source totals, the 1-row grand total) is a
rollup OF that frame, so the corpus is scanned once and the heavy
join runs on count rows, never raw text. int64 envelope: o_w * n_t
needs max-word-count x corpus-tokens < 2^63 (~1e9 x 1e9); past that
the DECIMAL(38) wide path per functions/numeric.py. Words stay
strings here because top_term must surface one; a production run
hashes them and dictionary-joins the winner back.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_lab_spark.functions.numeric import exact_ratio, oracle_exact_ratio, to_units
from mapreduce_lab_spark.operators.ngrams import _ORACLE_TOKENS
from mapreduce_lab_spark.registry import query
from mapreduce_lab_spark.sources.tables import fan_out, load_table


def _toks() -> Column:
    return F.filter(
        F.split(F.lower(F.col("text")), r"[^\p{L}]+"), lambda t: t != F.lit("")
    )


def source_unigram_tvd(docs: DataFrame) -> DataFrame:
    o = (
        docs.select("source", F.explode(_toks()).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("o"))
        .cache()
    )
    cw = o.groupBy("w").agg(F.sum("o").alias("cw"))
    ns = o.groupBy("source").agg(F.sum("o").alias("ns"))
    nt = o.agg(F.sum("o").alias("nt"))
    j = (
        o.join(cw, "w")
        .join(ns, "source")
        .join(F.broadcast(nt))
        .withColumn("d", F.col("o") * F.col("nt") - F.col("ns") * F.col("cw"))
    )
    agg = j.groupBy("source").agg(
        F.max("ns").alias("n_s"),
        F.max("nt").alias("n_t"),
        F.sum(F.abs(F.col("d"))).alias("sum_abs"),
        F.sum("cw").alias("sum_cw"),
    )
    rn = Window.partitionBy("source").orderBy(F.col("d").desc(), F.col("w").asc())
    top = (
        j.select("source", "w", F.row_number().over(rn).alias("rn"))
        .where(F.col("rn") == 1)
        .select("source", F.col("w").alias("top_term"))
    )
    return (
        agg.join(top, "source")
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            exact_ratio(
                F.col("sum_abs") + F.col("n_s") * (F.col("n_t") - F.col("sum_cw")),
                F.lit(2) * F.col("n_s") * F.col("n_t"),
            ).alias("tvd_ppm"),
            "top_term",
        )
    )


@query(
    "source_unigram_tvd",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest(ts) AS w
        FROM (SELECT source, {_ORACLE_TOKENS} AS ts FROM documents)
    ),
    o AS (SELECT source, w, count(*) AS o FROM toks GROUP BY 1, 2),
    cw AS (SELECT w, CAST(sum(o) AS BIGINT) AS cw FROM o GROUP BY 1),
    ns AS (SELECT source, CAST(sum(o) AS BIGINT) AS ns FROM o GROUP BY 1),
    nt AS (SELECT CAST(sum(o) AS BIGINT) AS nt FROM o),
    j AS (
        SELECT o.source, o.w, o.o, cw.cw, ns.ns, nt.nt,
               o.o * nt.nt - ns.ns * cw.cw AS d
        FROM o JOIN cw USING (w) JOIN ns USING (source) CROSS JOIN nt
    ),
    agg AS (
        SELECT source,
               max(ns) AS n_s, max(nt) AS n_t,
               CAST(sum(abs(d)) AS BIGINT) AS sum_abs,
               CAST(sum(cw) AS BIGINT) AS sum_cw
        FROM j GROUP BY source
    ),
    top AS (
        SELECT source, w AS top_term,
               row_number() OVER (PARTITION BY source
                                  ORDER BY d DESC, w ASC) AS rn
        FROM j
    )
    SELECT agg.source, n_s AS n_tokens,
           {oracle_exact_ratio(
               'sum_abs + n_s * (n_t - sum_cw)', '2 * n_s * n_t'
           )} AS tvd_ppm,
           top_term
    FROM agg JOIN top ON agg.source = top.source AND top.rn = 1
    """,
)
def q_source_unigram_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_unigram_tvd(
        fan_out(load_table(spark, sf_dir, "documents"), spark)
    )


# --- embedding-space drift: per-label centroid shift -----------------------

# Same 1e-4 quantization as linalg.py's covariance kernel.
CENTROID_UNIT_SCALE = 10_000
# Per-dimension squared-distance terms are floored at 1e-12 so the
# per-label reduce sums INTEGERS (a double sum would be
# accumulation-order-dependent and diverge from the oracle).
DIST2_SCALE = 1_000_000_000_000


def label_centroid_drift(embs: DataFrame) -> DataFrame:
    """Per-label squared L2 distance between the label's centroid and
    the global centroid, plus the dimension that moved most.

    The embedding-space twin of ``source_unigram_tvd``: text drift
    shows up in token distributions, representation drift shows up as
    label (or shard/source) centroids walking away from the corpus
    mean — the monitor run before trusting an IVF index or a
    clustering built on yesterday's geometry.

    Exactness: coordinates quantize to 1e-4 integer units (the
    linalg.py convention); centroid difference per dimension is the
    all-integer kernel  S_Lj * n - S_j * n_L  over unit sums, divided
    once in IEEE doubles and floored to a 1e-12-scaled integer term,
    so the 64-term per-label sum is exact integer arithmetic in both
    engines. Overflow envelope: S_Lj * n needs
    n_label * 1e4 * n_total < 2^63 (~2.5e10 x 3.7e4 split evenly);
    past that the DECIMAL(38) wide path per functions/numeric.py.

    Scale shape: one narrow pass expands (label, dim, unit) triples —
    64 rows per vector, generated inside codegen — and everything
    after runs on |labels| x 64 count rows: map-side-combinable sums,
    a 64-row global rollup joined back, a |labels|-row output. The
    vector payload never shuffles.
    """
    long = embs.select(
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: to_units(x.cast("double"), CENTROID_UNIT_SCALE),
            )
        ).alias("j", "xu"),
    )
    # Cached: |labels| x 64 count rows — both output branches (the
    # distance aggregate and the argmax-dimension window) derive from
    # it, and the cache keeps the vector-payload scan single-pass.
    per_label = (
        long.groupBy("label", "j")
        .agg(F.sum("xu").alias("s_lj"), F.count("*").alias("n_l"))
        .cache()
    )
    glob = per_label.groupBy("j").agg(
        F.sum("s_lj").alias("s_j"), F.sum("n_l").alias("n")
    )
    d = per_label.join(glob, "j").withColumn(
        "d", F.col("s_lj") * F.col("n") - F.col("s_j") * F.col("n_l")
    )
    dd = (
        F.col("d").cast("double")
        / (F.col("n_l") * F.col("n"))
        / F.lit(float(CENTROID_UNIT_SCALE))
    )
    t = d.withColumn("term", F.floor(dd * dd * F.lit(float(DIST2_SCALE))))
    agg = t.groupBy("label").agg(
        F.max("n_l").alias("n_vecs"), F.sum("term").alias("t")
    )
    rn = Window.partitionBy("label").orderBy(
        F.abs(F.col("d")).desc(), F.col("j").asc()
    )
    top = (
        t.select("label", "j", F.row_number().over(rn).alias("rn"))
        .where(F.col("rn") == 1)
        .select("label", F.col("j").alias("top_dim"))
    )
    return agg.join(top, "label").select(
        "label",
        "n_vecs",
        (F.col("t").cast("double") / F.lit(float(DIST2_SCALE))).alias("dist2"),
        "top_dim",
    )


@query(
    "label_centroid_drift",
    oracle=f"""
    WITH long AS (
        SELECT label, i - 1 AS j,
               CAST(round(CAST(embedding[i] AS DOUBLE) * {CENTROID_UNIT_SCALE})
                    AS BIGINT) AS xu
        FROM embeddings,
             unnest(generate_series(1, len(embedding))) t(i)
    ),
    per_label AS (
        SELECT label, j, CAST(sum(xu) AS BIGINT) AS s_lj, count(*) AS n_l
        FROM long GROUP BY 1, 2
    ),
    gtot AS (
        SELECT j, CAST(sum(s_lj) AS BIGINT) AS s_j,
               CAST(sum(n_l) AS BIGINT) AS n
        FROM per_label GROUP BY 1
    ),
    d AS (
        SELECT label, j, n_l, n,
               s_lj * n - s_j * n_l AS d
        FROM per_label JOIN gtot USING (j)
    ),
    t AS (
        SELECT label, j, n_l, d,
               CAST(floor((CAST(d AS DOUBLE) / (n_l * n)
                           / {float(CENTROID_UNIT_SCALE)})
                          * (CAST(d AS DOUBLE) / (n_l * n)
                             / {float(CENTROID_UNIT_SCALE)})
                          * {float(DIST2_SCALE)}) AS BIGINT) AS term
        FROM d
    ),
    agg AS (
        SELECT label, CAST(max(n_l) AS BIGINT) AS n_vecs,
               CAST(sum(term) AS BIGINT) AS t
        FROM t GROUP BY label
    ),
    top AS (
        SELECT label, j AS top_dim,
               row_number() OVER (PARTITION BY label
                                  ORDER BY abs(d) DESC, j ASC) AS rn
        FROM t
    )
    SELECT agg.label, n_vecs,
           CAST(t AS DOUBLE) / {float(DIST2_SCALE)} AS dist2,
           top_dim
    FROM agg JOIN top ON agg.label = top.label AND top.rn = 1
    """,
)
def q_label_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_centroid_drift(
        fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    )


# --- temporal drift: day-over-trailing-week event-mix shift ----------------

DRIFT_WINDOW_DAYS = 7


def daily_event_mix_drift(events: DataFrame) -> DataFrame:
    """Per-day TVD between the day's event-type mix and its trailing
    7-day reference window — the time-axis member of the drift family
    (source -> ``source_unigram_tvd``, representation ->
    ``label_centroid_drift``, time -> this).

    The reference is the TRAILING WINDOW, not the global mix: a
    monitor alerts on "today looks unlike last week", which tracks
    seasonality instead of flagging it forever. Same exact-integer
    TVD algebra as the source query; the absent-category mass (an
    event type present last week but silent today, or vice versa) is
    folded algebraically —  n * (N_ref - sum_present t)  — so no
    day x type zero-grid is ever manufactured. The first day has an
    empty reference window and is excluded (N_ref = 0 would divide by
    zero and means nothing to compare against). ``top_type`` is the
    day's most over-represented type vs its reference week.

    Scale shape: one map-side-combinable (day, type) count, then
    every window and join runs on |days| x |types| count rows —
    dimension-sized (a decade is ~3.7k days; type cardinality is
    small by construction). The trailing sums are RANGE frames over
    the integer day index, so gap days cost nothing; the
    unpartitioned day-total window is bounded by the calendar, the
    same argument as the gapfill spine in timeseries.py.
    """
    dt = (
        events.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day", "event_type")
        .agg(F.count("*").alias("c"))
        .cache()
    )
    return mix_drift_from_counts(dt)


def mix_drift_from_counts(dt: DataFrame) -> DataFrame:
    """Drift tail over a (day, event_type, c) count frame — shared by
    the batch query above and the streaming replay twin, where the
    stream maintains the daily counts (the stateful part) and this
    batch tail runs the monitor over the materialized sink (the
    production split for a metric that needs trailing-window frames a
    stream can't express)."""
    day_tot = dt.groupBy("day").agg(F.sum("c").alias("n"))
    di = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    w_type = (
        Window.partitionBy("event_type")
        .orderBy(di)
        .rangeBetween(-DRIFT_WINDOW_DAYS, -1)
    )
    w_day = Window.orderBy(di).rangeBetween(-DRIFT_WINDOW_DAYS, -1)
    tw = dt.withColumn("t", F.coalesce(F.sum("c").over(w_type), F.lit(0)))
    nw = day_tot.withColumn(
        "n_ref", F.coalesce(F.sum("n").over(w_day), F.lit(0))
    )
    j = (
        tw.join(nw, "day")
        .where(F.col("n_ref") > 0)
        .withColumn(
            "d", F.col("c") * F.col("n_ref") - F.col("n") * F.col("t")
        )
    )
    agg = j.groupBy("day").agg(
        F.max("n").alias("n_events"),
        F.max("n_ref").alias("n_ref"),
        F.sum(F.abs(F.col("d"))).alias("sum_abs"),
        F.sum("t").alias("sum_t"),
    )
    rn = Window.partitionBy("day").orderBy(
        F.col("d").desc(), F.col("event_type").asc()
    )
    top = (
        j.select("day", "event_type", F.row_number().over(rn).alias("rn"))
        .where(F.col("rn") == 1)
        .select("day", F.col("event_type").alias("top_type"))
    )
    return agg.join(top, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        exact_ratio(
            F.col("sum_abs")
            + F.col("n_events") * (F.col("n_ref") - F.col("sum_t")),
            F.lit(2) * F.col("n_events") * F.col("n_ref"),
        ).alias("tvd_ppm"),
        "top_type",
    )


_O_DAY_I = "datediff('day', DATE '1970-01-01', day)"

MIX_DRIFT_SQL = f"""
    WITH dt AS (
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    dtot AS (SELECT day, CAST(sum(c) AS BIGINT) AS n FROM dt GROUP BY 1),
    tw AS (
        SELECT day, event_type, c,
               CAST(COALESCE(sum(c) OVER (
                   PARTITION BY event_type ORDER BY {_O_DAY_I}
                   RANGE BETWEEN {DRIFT_WINDOW_DAYS} PRECEDING
                             AND 1 PRECEDING), 0) AS BIGINT) AS t
        FROM dt
    ),
    nw AS (
        SELECT day, n,
               CAST(COALESCE(sum(n) OVER (
                   ORDER BY {_O_DAY_I}
                   RANGE BETWEEN {DRIFT_WINDOW_DAYS} PRECEDING
                             AND 1 PRECEDING), 0) AS BIGINT) AS n_ref
        FROM dtot
    ),
    j AS (
        SELECT tw.day, tw.event_type, tw.c, tw.t, nw.n, nw.n_ref,
               tw.c * nw.n_ref - nw.n * tw.t AS d
        FROM tw JOIN nw USING (day)
        WHERE nw.n_ref > 0
    ),
    agg AS (
        SELECT day, max(n) AS n_events, max(n_ref) AS n_ref,
               CAST(sum(abs(d)) AS BIGINT) AS sum_abs,
               CAST(sum(t) AS BIGINT) AS sum_t
        FROM j GROUP BY day
    ),
    top AS (
        SELECT day, event_type AS top_type,
               row_number() OVER (PARTITION BY day
                                  ORDER BY d DESC, event_type ASC) AS rn
        FROM j
    )
    SELECT strftime(agg.day, '%Y-%m-%d') AS day, n_events,
           {oracle_exact_ratio(
               'sum_abs + n_events * (n_ref - sum_t)',
               '2 * n_events * n_ref'
           )} AS tvd_ppm,
           top_type
    FROM agg JOIN top ON agg.day = top.day AND top.rn = 1
    """


@query("daily_event_mix_drift", oracle=MIX_DRIFT_SQL)
def q_daily_event_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return daily_event_mix_drift(load_table(spark, sf_dir, "events"))


# --- numeric-distribution drift: binned Kolmogorov-Smirnov -----------------

KS_WINDOW_DAYS = 7


def daily_value_ks_drift(events: DataFrame) -> DataFrame:
    """Per-day binned Kolmogorov-Smirnov statistic between the day's
    ``value`` distribution and its trailing-week reference — the
    numeric axis of the drift family (categorical mix and token/
    embedding distributions above; the SHAPE of a numeric column
    here). A payment-amount column whose distribution walks (new fee
    tier, currency bug, fraud burst) moves the KS gap even when the
    mean barely shifts.

    KS = max over x of |F_day(x) - F_ref(x)|, computed exactly over
    dollar bins: both CDFs are integer prefix sums over the shared
    (day, bucket) count frame, the gap is the cross-multiplied
    integer |cum_day * n_ref - cum_ref * n_day|, and only the single
    final division leaves integers. ``gap_bucket`` is the dollar
    where the gap peaks (tie -> lowest bucket) — where to look first.

    The trailing reference reuses rolling_7d's expansion trick: each
    (day, bucket) count contributes itself to the NEXT 7 days'
    reference by an explode over a 7-date sequence — 7x the count
    frame, never 7x the events — because a max-over-prefix cannot
    fold absent buckets algebraically the way the TVD queries do
    (the gap must be evaluated at every bucket either side observed).
    Days with an empty reference window (the first day) or no events
    of their own drop out via the n_day/n_ref > 0 gate.

    Scale shape: one map-side-combinable (day, bucket) count, then
    everything runs on |days| x |buckets| rows — bucket cardinality
    is bounded by the value range (~300 dollar bins here), so the
    per-day prefix windows are dimension-sized. int64 envelope:
    cum * n_ref needs day-events x week-events < 2^63; past ~1e9/day
    the DECIMAL(38) wide path per functions/numeric.py.
    """
    b = (
        events.select(
            F.to_date("ts").alias("day"),
            F.floor("value").cast("long").alias("bucket"),
        )
        .groupBy("day", "bucket")
        .agg(F.count("*").alias("n"))
    )
    return ks_drift_from_counts(b)


def ks_drift_from_counts(b: DataFrame) -> DataFrame:
    """The windowed KS compare over a materialized (day, bucket, n)
    count frame — shared by the batch query above and the streaming
    replay (streaming/replay.py), which maintains the count state in
    Structured Streaming and hands the drained sink here (the same
    split as ``mix_drift_from_counts``: prefix-sum window frames are
    not streaming-expressible)."""
    b = b.cache()
    cur = b.select(
        "day", "bucket", F.col("n").alias("dc"), F.lit(0).cast("long").alias("rc")
    )
    ref = b.select(
        F.explode(
            F.sequence(
                F.date_add("day", 1), F.date_add("day", KS_WINDOW_DAYS)
            )
        ).alias("day"),
        "bucket",
        F.lit(0).cast("long").alias("dc"),
        F.col("n").alias("rc"),
    )
    g = (
        cur.unionByName(ref)
        .groupBy("day", "bucket")
        .agg(F.sum("dc").alias("dc"), F.sum("rc").alias("rc"))
    )
    w_tot = Window.partitionBy("day")
    w_pfx = (
        Window.partitionBy("day")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = (
        g.withColumn("n_day", F.sum("dc").over(w_tot))
        .withColumn("n_ref", F.sum("rc").over(w_tot))
        .where((F.col("n_day") > 0) & (F.col("n_ref") > 0))
        .withColumn("cum_dc", F.sum("dc").over(w_pfx))
        .withColumn("cum_rc", F.sum("rc").over(w_pfx))
        .withColumn(
            "gap",
            F.abs(
                F.col("cum_dc") * F.col("n_ref")
                - F.col("cum_rc") * F.col("n_day")
            ),
        )
    )
    agg = t.groupBy("day").agg(
        F.max("n_day").alias("n_day"),
        F.max("n_ref").alias("n_ref"),
        F.max("gap").alias("ksn"),
    )
    rn = Window.partitionBy("day").orderBy(
        F.col("gap").desc(), F.col("bucket").asc()
    )
    top = (
        t.select("day", "bucket", F.row_number().over(rn).alias("rn"))
        .where(F.col("rn") == 1)
        .select("day", F.col("bucket").alias("gap_bucket"))
    )
    return agg.join(top, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_day",
        "n_ref",
        exact_ratio(F.col("ksn"), F.col("n_day") * F.col("n_ref")).alias(
            "ks_ppm"
        ),
        "gap_bucket",
    )


KS_DRIFT_SQL = f"""
    WITH b AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(floor(value) AS BIGINT) AS bucket, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    u AS (
        SELECT day, bucket, n AS dc, CAST(0 AS BIGINT) AS rc FROM b
        UNION ALL
        SELECT day + CAST(i AS INTEGER), bucket, CAST(0 AS BIGINT), n
        FROM b, (SELECT unnest(range(1, {KS_WINDOW_DAYS + 1})) AS i)
    ),
    g AS (
        SELECT day, bucket, CAST(sum(dc) AS BIGINT) AS dc,
               CAST(sum(rc) AS BIGINT) AS rc
        FROM u GROUP BY 1, 2
    ),
    t AS (
        SELECT day, bucket, dc, rc,
               CAST(sum(dc) OVER (PARTITION BY day) AS BIGINT) AS n_day,
               CAST(sum(rc) OVER (PARTITION BY day) AS BIGINT) AS n_ref,
               CAST(sum(dc) OVER (PARTITION BY day ORDER BY bucket
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_dc,
               CAST(sum(rc) OVER (PARTITION BY day ORDER BY bucket
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_rc
        FROM g
    ),
    t2 AS (
        SELECT *, abs(cum_dc * n_ref - cum_rc * n_day) AS gap
        FROM t WHERE n_day > 0 AND n_ref > 0
    ),
    agg AS (
        SELECT day, max(n_day) AS n_day, max(n_ref) AS n_ref,
               CAST(max(gap) AS BIGINT) AS ksn
        FROM t2 GROUP BY day
    ),
    top AS (
        SELECT day, bucket AS gap_bucket,
               row_number() OVER (PARTITION BY day
                                  ORDER BY gap DESC, bucket ASC) AS rn
        FROM t2
    )
    SELECT strftime(agg.day, '%Y-%m-%d') AS day, n_day, n_ref,
           {oracle_exact_ratio('ksn', 'n_day * n_ref')} AS ks_ppm,
           gap_bucket
    FROM agg JOIN top ON agg.day = top.day AND top.rn = 1
    """


@query("daily_value_ks_drift", oracle=KS_DRIFT_SQL)
def q_daily_value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return daily_value_ks_drift(load_table(spark, sf_dir, "events"))
