"""Distributed linear algebra over the embedding column: the exact
covariance matrix.

The d×d covariance of a 100 TB embedding table is the front door to
PCA whitening, Mahalanobis outlier scoring, and IVF/OPQ training —
and it is exactly the kind of operator that tempts a collect():
the CORRECT distributed shape is "one pass of map-side-combinable
partial sums, d(d+1)/2 groups", which is what this computes.

Shape: per row, a NARROW nested-transform expands the upper-triangle
coordinate products (d(d+1)/2 structs per row, generated inside
codegen — no self-join of the exploded long form, no shuffle of
vector payloads); the only shuffle carries (i, j, partial integer
sums) into 2080 groups (d=64). Per-coordinate sums (for the mean
correction) are a second 64-group aggregate broadcast back.

Exactness: coordinates quantize to 1e-4 units (BIGINT); covariance is
the all-integer kernel  n·Σxy − Σx·Σy  divided once in IEEE doubles —
identical in both engines. Overflow envelope at unit scale 1e4 and
|x|≤1: n ≲ 2.5e10 rows per partial product; past that the sums cast
to DECIMAL(38,0) (same trade as functions/numeric.py documents).

Reference parity note: the reference has no vector operators at all;
this extends the similarity/clustering family (similarity.py,
clustering.py) with the training-side statistics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_lab_spark.functions.numeric import to_units
from mapreduce_lab_spark.registry import query
from mapreduce_lab_spark.sources.tables import fan_out, load_table

COV_UNIT_SCALE = 10_000


def embedding_covariance(embs: DataFrame) -> DataFrame:
    """Upper-triangular exact covariance entries (i <= j) of the
    embedding coordinates.

    The O(d^2)-per-row moment work runs as an Arrow-batched numpy
    Gramian (`mapInPandas`): a pure-codegen expression tree for the
    d(d+1)/2 products evaluates ~2080 interpreted element_at calls per
    row and benched 9 s at sf0.1 where this shape takes <1 s — the
    one hot loop in the repo where Python-with-BLAS beats built-ins.
    The per-coordinate first moments stay JVM-side (posexplode into d
    groups). Both shuffles carry only (i, j, int64 partial): at 100 TB
    the moment shuffle is d(d+1)/2 rows per map task, never vectors.
    """
    units = F.transform(
        F.col("embedding"), lambda x: to_units(x.cast("double"), COV_UNIT_SCALE)
    )

    # Self-contained closure (imports inside, no module references) so
    # cloudpickle ships it by value — workers never import this repo.
    def gram_partials(batches):
        # One X.T @ X per batch (numpy int64, exact) collapses a batch
        # of B rows to d(d+1)/2 partial-product rows — the map-side
        # combine for the second moment. int64 products/sums are
        # order-free, so any batching yields identical partials.
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["units"].to_numpy()).astype(np.int64)
            iu, ju = np.triu_indices(X.shape[1])
            G = X.T @ X
            yield pd.DataFrame({"i": iu, "j": ju, "xy": G[iu, ju]})

    moments = (
        embs.select(units.alias("units"))
        .mapInPandas(gram_partials, "i int, j int, xy long")
        .groupBy("i", "j")
        .agg(F.sum("xy").alias("q"))
    )
    sums = (
        embs.select(F.posexplode(units).alias("i", "xu"))
        .groupBy("i")
        .agg(F.sum("xu").alias("s"), F.count("*").alias("n"))
    )
    si = sums.select(F.col("i"), F.col("s").alias("s_i"), "n")
    sj = sums.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
    return (
        moments.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .select(
            "i",
            "j",
            (
                (F.col("n") * F.col("q") - F.col("s_i") * F.col("s_j")).cast("double")
                / (F.col("n") * F.col("n"))
                / F.lit(float(COV_UNIT_SCALE * COV_UNIT_SCALE))
            ).alias("cov"),
        )
    )


@query(
    "embedding_covariance",
    oracle=f"""
    WITH long AS (
        SELECT vec_id, i - 1 AS i,
               CAST(round(CAST(embedding[i] AS DOUBLE) * {COV_UNIT_SCALE}) AS BIGINT)
                   AS xu
        FROM embeddings,
             unnest(generate_series(1, len(embedding))) t(i)
    ),
    moments AS (
        SELECT a.i AS i, b.i AS j, CAST(sum(a.xu * b.xu) AS BIGINT) AS q
        FROM long a JOIN long b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY a.i, b.i
    ),
    sums AS (
        SELECT i, CAST(sum(xu) AS BIGINT) AS s, count(*) AS n
        FROM long GROUP BY i
    )
    SELECT m.i, m.j,
           CAST(si.n * m.q - si.s * sj.s AS DOUBLE)
               / (si.n * si.n) / {float(COV_UNIT_SCALE * COV_UNIT_SCALE)} AS cov
    FROM moments m
    JOIN sums si ON m.i = si.i
    JOIN sums sj ON m.j = sj.i
    """,
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_covariance(fan_out(load_table(spark, sf_dir, "embeddings"), spark))


# --- exact correlation matrix ---------------------------------------------


def embedding_correlation(embs: DataFrame) -> DataFrame:
    """Upper-triangular Pearson correlation entries of the embedding
    coordinates, from the same exact integer moments as the
    covariance kernel.

    corr(i,j) = (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²) · √(n·Σy²−(Σy)²)):
    numerator and both radicands are exact BIGINTs (order-free), and
    the only float ops are two exact IEEE sqrts and one divide with
    identical expression shape in both engines. The radicand product
    would overflow int64 (~6e26 at 500×64), which is why the sqrts
    are taken per-factor BEFORE multiplying. Zero-variance
    coordinates yield NULL (both engines).

    Scale shape: identical to embedding_covariance — one Arrow-batched
    Gramian pass, d(d+1)/2 integer groups, diagonal joined back
    broadcast. Nothing new moves.
    """
    units = F.transform(
        F.col("embedding"), lambda x: to_units(x.cast("double"), COV_UNIT_SCALE)
    )

    def gram_partials(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["units"].to_numpy()).astype(np.int64)
            iu, ju = np.triu_indices(X.shape[1])
            G = X.T @ X
            yield pd.DataFrame({"i": iu, "j": ju, "xy": G[iu, ju]})

    moments = (
        embs.select(units.alias("units"))
        .mapInPandas(gram_partials, "i int, j int, xy long")
        .groupBy("i", "j")
        .agg(F.sum("xy").alias("q"))
    )
    sums = (
        embs.select(F.posexplode(units).alias("i", "xu"))
        .groupBy("i")
        .agg(F.sum("xu").alias("s"), F.count("*").alias("n"))
    )
    diag = moments.where(F.col("i") == F.col("j")).select(
        F.col("i").alias("d"), F.col("q").alias("qd")
    )
    si = sums.select("i", F.col("s").alias("s_i"), "n")
    sj = sums.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
    di = diag.select(F.col("d").alias("i"), F.col("qd").alias("q_i"))
    dj = diag.select(F.col("d").alias("j"), F.col("qd").alias("q_j"))
    num = (F.col("n") * F.col("q") - F.col("s_i") * F.col("s_j")).cast("double")
    var_i = (F.col("n") * F.col("q_i") - F.col("s_i") * F.col("s_i")).cast("double")
    var_j = (F.col("n") * F.col("q_j") - F.col("s_j") * F.col("s_j")).cast("double")
    den = F.sqrt(var_i) * F.sqrt(var_j)
    return (
        moments.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select(
            "i",
            "j",
            F.when(den > 0, num / den).alias("corr"),
        )
    )


@query(
    "embedding_correlation",
    oracle=f"""
    WITH long AS (
        SELECT vec_id, i - 1 AS i,
               CAST(round(CAST(embedding[i] AS DOUBLE) * {COV_UNIT_SCALE}) AS BIGINT)
                   AS xu
        FROM embeddings,
             unnest(generate_series(1, len(embedding))) t(i)
    ),
    moments AS (
        SELECT a.i AS i, b.i AS j, CAST(sum(a.xu * b.xu) AS BIGINT) AS q
        FROM long a JOIN long b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY a.i, b.i
    ),
    sums AS (
        SELECT i, CAST(sum(xu) AS BIGINT) AS s, count(*) AS n
        FROM long GROUP BY i
    ),
    diag AS (SELECT i AS d, q AS qd FROM moments WHERE i = j)
    SELECT m.i, m.j,
           CASE WHEN (si.n * di.qd - si.s * si.s) > 0
                 AND (si.n * dj.qd - sj.s * sj.s) > 0
                THEN CAST(si.n * m.q - si.s * sj.s AS DOUBLE)
                     / (sqrt(CAST(si.n * di.qd - si.s * si.s AS DOUBLE))
                        * sqrt(CAST(si.n * dj.qd - sj.s * sj.s AS DOUBLE)))
           END AS corr
    FROM moments m
    JOIN sums si ON m.i = si.i
    JOIN sums sj ON m.j = sj.i
    JOIN diag di ON m.i = di.d
    JOIN diag dj ON m.j = dj.d
    """,
)
def q_embedding_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_correlation(fan_out(load_table(spark, sf_dir, "embeddings"), spark))


# --- signed random projection (dimensionality reduction) ------------------

PROJ_OUT_DIMS = 8
_HEX_LOW = "('0','1','2','3','4','5','6','7')"


def _sign(k: int, j: Column) -> Column:
    digit = F.substring(F.md5(F.concat(F.lit(f"rp:{k}:"), j.cast("string"))), 1, 1)
    return F.when(digit.isin(*"01234567"), 1).otherwise(-1)


def signed_projection(embs: DataFrame, out_dims: int = PROJ_OUT_DIMS) -> DataFrame:
    """Achlioptas-style ±1 random projection of the embedding column to
    ``out_dims`` dimensions.

    The projection matrix is never materialized: sign(k, j) is a pure
    function of the coordinates — the first md5 hex digit of
    ``rp:<k>:<j>`` — so both engines (and every executor) derive the
    identical matrix with zero driver state, zero broadcast, and
    reproducibility across runs and cluster sizes. By the
    Johnson-Lindenstrauss/Achlioptas result, ±1 entries preserve
    pairwise distances in expectation just like Gaussians.

    Exactness: coordinates quantize to integer units (the same 1e-4
    scale as the covariance kernel); each output is a ±unit integer
    sum — order-free, bit-identical cross-engine — converted to double
    once at the end.

    Scale shape: per-row ``aggregate`` over ``sequence(1, d)`` inside
    codegen — a NARROW operator with no shuffle, no UDF, no explode;
    out_dims × d work per row. This is the shape that feeds a 100 TB
    embedding table into a low-dim index (LSH/IVF in similarity.py)
    without ever moving the full vectors.
    """
    cols = [F.col("vec_id"), F.col("label")]
    for k in range(out_dims):
        units = F.aggregate(
            F.sequence(F.lit(1), F.size("embedding")),
            F.lit(0).cast("long"),
            lambda acc, j: acc
            + to_units(F.element_at("embedding", j).cast("double"), COV_UNIT_SCALE)
            * _sign(k, j),
        )
        cols.append((units.cast("double") / F.lit(COV_UNIT_SCALE)).alias(f"p{k}"))
    return embs.select(*cols)


def _oracle_signed_projection(out_dims: int = PROJ_OUT_DIMS) -> str:
    terms = []
    for k in range(out_dims):
        sign = (
            f"(CASE WHEN substr(md5('rp:{k}:' || CAST(j AS VARCHAR)), 1, 1)"
            f" IN {_HEX_LOW} THEN 1 ELSE -1 END)"
        )
        terms.append(
            f"CAST(CAST(list_sum(list_transform(generate_series(1, len(embedding)),"
            f" j -> CAST(round(CAST(embedding[j] AS DOUBLE) * {COV_UNIT_SCALE}) AS BIGINT)"
            f" * {sign})) AS BIGINT) AS DOUBLE) / {COV_UNIT_SCALE} AS p{k}"
        )
    cols = ",\n           ".join(terms)
    return f"SELECT vec_id, label,\n           {cols}\nFROM embeddings"


@query("embedding_signed_projection", oracle=_oracle_signed_projection())
def q_embedding_signed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return signed_projection(fan_out(load_table(spark, sf_dir, "embeddings"), spark))


# --- exact least-squares trend (the DECIMAL(38,0) wide path) --------------

TREND_EPOCH = "1995-01-01"


def revenue_trend_by_segment(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Per-market-segment OLS slope of order value (cents) against
    order date (days since 1995-01-01): the classic revenue-trend
    regression, computed from exact integer moments.

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) — the per-group sums
    are BIGINT (order-free), but the MOMENT PRODUCTS overflow int64
    at scale (n·Σxy ≈ 1.4e20 already at sf0.1), so this operator
    demonstrates the wide path functions/numeric.py documents: cast
    the sums to DECIMAL(38,0) for the products (Spark decimal
    arithmetic is exact; the oracle casts to HUGEINT explicitly —
    DuckDB promotes only sum() results, NOT products, a divergence
    the sf0.1 sweep caught as a real overflow), convert to DOUBLE
    once for the final division. Both engines round the same exact
    integer to the same double, so parity holds at any group size.

    Scale shape: one broadcast of the customer (custkey, segment)
    slice, one map-side-combinable grouped aggregation — 5 output
    rows from any input size, no second shuffle.
    """
    x = F.datediff(F.col("o_orderdate").cast("date"), F.lit(TREND_EPOCH).cast("date"))
    y = to_units("o_totalprice", 100)
    joined = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    )
    agg = joined.select(
        "c_mktsegment", x.alias("x"), y.alias("y")
    ).groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    num = dec("n") * dec("sxy") - dec("sx") * dec("sy")
    den = dec("n") * dec("sxx") - dec("sx") * dec("sx")
    slope = F.when(den != 0, num.cast("double") / den.cast("double"))
    intercept = F.when(
        den != 0,
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n"),
    )
    return agg.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("n").alias("n_orders"),
        slope.alias("slope_cents_per_day"),
        intercept.alias("intercept_cents"),
    )


@query(
    "revenue_trend_by_segment",
    oracle=f"""
    WITH j AS (
        SELECT c.c_mktsegment AS segment,
               date_diff('day', DATE '{TREND_EPOCH}', CAST(o.o_orderdate AS DATE)) AS x,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    agg AS (
        SELECT segment, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
        FROM j GROUP BY segment
    ),
    wide AS (
        -- HUGEINT BEFORE the multiplies: DuckDB promotes only sum()
        -- results, not products — bare n * sxy is BIGINT * BIGINT and
        -- overflows at sf0.1 (~1.4e20). The Spark twin makes the same
        -- move with DECIMAL(38,0); both engines then convert the same
        -- exact integer to the same double.
        SELECT segment, n,
               CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT)
                   - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS num,
               CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
                   - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS den,
               sx, sy
        FROM agg
    )
    SELECT segment, n AS n_orders,
           CASE WHEN den <> 0
                THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
           END AS slope_cents_per_day,
           CASE WHEN den <> 0
                THEN (CAST(sy AS DOUBLE)
                      - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                        * CAST(sx AS DOUBLE))
                     / n END AS intercept_cents
    FROM wide
    """,
)
def q_revenue_trend_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return revenue_trend_by_segment(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )
