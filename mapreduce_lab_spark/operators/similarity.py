"""Similarity search over the embeddings table.

ABSENT from the reference (no join of two datasets exists anywhere in
it — SURVEY.md §2.3); this is the training-pipeline extension: top-k
nearest neighbors by cosine over ``array<float>`` embeddings.

Two operators:

- brute-force: broadcast the (small) query set against the full
  corpus — O(|Q|·n·d) with NO shuffle of the corpus side; the exact
  baseline every ANN variant is measured against;
- LSH-bucketed ANN: sign-bit bucketing (axis-aligned hyperplanes),
  neighbors searched only within the query's bucket — the scale path:
  the corpus is hash-partitioned by bucket once and each probe
  touches one partition. Production would use random hyperplanes or
  IVF centroids; axis-aligned planes keep the construction fully
  expressible in both engines so the oracle checks it end-to-end.

All cosine arithmetic is double-precision index-ordered folds (see
``operators/dedup.py``) so both engines produce bit-identical values;
ranking ties break on vec_id, deterministically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_lab_spark.functions.guards import ExactBaselineScaleError
from mapreduce_lab_spark.functions.numeric import exact_ratio, oracle_exact_ratio, to_units
from mapreduce_lab_spark.registry import query
from mapreduce_lab_spark.sources.tables import fan_out, load_table

N_QUERIES = 5  # vec_id < 5 are the probe vectors
TOP_K = 5
LSH_BITS = 4  # 16 buckets
# Comparison bound for the exact brute-force baseline: |Q| x n dot
# products. One broadcast pass over the corpus is linear, but a large
# query set multiplies it back toward quadratic.
KNN_BRUTEFORCE_MAX_COMPARISONS = 1_000_000_000

# Native list_dot_product: bit-identical to the list_reduce
# comprehension fold on this DuckDB build (sequential scalar
# accumulation — pinned in tests/test_cross_engine_primitives.py,
# same rationale as operators/dedup.py's _O_DOT) and much faster
# than per-pair lambda-list materialization.
_O_FOLD = "list_dot_product({a}, {b})"


def _with_norm(e: DataFrame) -> DataFrame:
    v = F.transform("embedding", lambda x: x.cast("double"))
    df = e.select("vec_id", v.alias("v"))
    return df.withColumn(
        "norm", F.aggregate(F.zip_with("v", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    )


def _cosine(va: str, vb: str, na: str, nb: str) -> Column:
    dot = F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    return dot / F.sqrt(F.col(na) * F.col(nb))


# Margin for the BLAS top-k prescreen below, same bound as
# operators/dedup.py GEMM_MARGIN: |BLAS dot - left fold| is ~1e-12
# relative at d = 64, far under 1e-6.
_TOPK_GEMM_MARGIN = 1e-6


def _gemm_topk_candidates(
    corpus: DataFrame, q_rows: list, k: int, margin: float = _TOPK_GEMM_MARGIN
) -> DataFrame:
    """(query_id, neighbor_id) candidates whose BLAS cosine is within
    ``2*margin`` of the per-batch k-th best — a provable SUPERSET of
    each query's exact top-k (round-14, guide §4.2: the |Q|·n
    interpreted 64-term folds were the whole cost of the exact
    baseline; the same flops run as one Gram matrix per Arrow batch).

    Losslessness: for any batch B and any candidate c in the exact
    global top-k of its query, at most k-1 candidates anywhere beat
    c's fold cosine, so c's fold cosine >= the k-th best fold cosine
    within B >= (k-th best BLAS cosine within B) - margin; and c's own
    BLAS cosine >= fold - margin >= that cut - 2*margin. Ties at the
    boundary survive for the same reason, so the exact fold + rank
    over the survivors emits bit-identical rows. Non-finite BLAS
    scores (zero-norm vectors -> NaN, which Spark's DESC sort ranks
    FIRST) are always kept so the fold decides them.

    ``q_rows`` is the collected bounded query set (<= N_QUERIES rows
    by contract — the same bounded-metadata class as the collected
    codebook broadcasts; the corpus side never leaves the executors).
    """

    def prescreen(batches):
        import numpy as np
        import pandas as pd

        qid = np.array([r["vec_id"] for r in q_rows], dtype="int64")
        Q = np.asarray([r["v"] for r in q_rows], dtype=np.float64)
        qn = np.array([r["norm"] for r in q_rows], dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            Qn = Q / np.sqrt(qn)[:, None]
        for pdf in batches:
            if not len(pdf) or not len(qid):
                continue
            ids = pdf["vec_id"].to_numpy()
            X = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                inv = 1.0 / np.sqrt(pdf["norm"].to_numpy(dtype=np.float64))
                S = Qn @ (X * inv[:, None]).T  # |Q| x batch
            out_q, out_n = [], []
            for i in range(len(qid)):
                s = S[i]
                valid = ids != qid[i]
                finite = np.isfinite(s)
                sv = s[valid & finite]
                if len(sv) > k:
                    cut = np.partition(sv, -k)[-k] - 2 * margin
                    keep = valid & (~finite | (s >= cut))
                else:
                    keep = valid
                kept = ids[keep]
                out_q.append(np.full(len(kept), qid[i], dtype="int64"))
                out_n.append(kept)
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                }
            )

    return corpus.select("vec_id", "v", "norm").mapInPandas(
        prescreen, schema="query_id long, neighbor_id long"
    )


def knn_bruteforce(
    e: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    max_comparisons: int | None = KNN_BRUTEFORCE_MAX_COMPARISONS,
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe vector.

    THIS IS THE EXACT RECALL BASELINE, NOT THE SCALE PATH: every query
    is compared against every corpus vector (|Q|·n·d). The bucketed
    paths (ann_lsh_cosine, ann_lsh_multiprobe, ann_ivf_trained) are
    the 100 TB operators. The guard refuses |Q|·n beyond
    max_comparisons; pass ``max_comparisons=None`` to opt in (e.g. for
    recall measurement over a sample).

    Round-14 (guide §4.2, VERDICT r13 #5): the |Q|·n dot products run
    as a BLAS Gram prescreen per Arrow batch (``_gemm_topk_candidates``
    — a provable superset of the exact top-k, see its docstring); the
    oracle-exact left-fold cosine then scores only the ~|Q|·k
    survivors per batch and the (cos desc, id asc) window ranks them —
    emitted rows bit-identical to folding every pair.
    """
    if max_comparisons is not None:
        n = e.count()
        if n * n_queries > max_comparisons:
            raise ExactBaselineScaleError(
                f"knn_bruteforce: {n_queries} queries x {n} corpus rows "
                f"= {n * n_queries:.1e} comparisons exceeds "
                f"max_comparisons={max_comparisons}. Use ann_lsh_cosine / "
                f"ann_ivf_trained, or pass max_comparisons=None."
            )
    base = _with_norm(e)
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qnorm")
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("norm").alias("cnorm")
    )
    # Bounded query-set collect (<= n_queries rows by contract) shipped
    # to the prescreen workers via closure — the corpus side stays
    # distributed end-to-end.
    q_rows = [r.asDict() for r in q.collect()]
    cand = _gemm_topk_candidates(
        base, [{"vec_id": r["query_id"], "v": r["qv"], "norm": r["qnorm"]} for r in q_rows], k
    )
    # The candidate table is |Q|·k-per-batch bounded: broadcast it so
    # the corpus side is probed scan-side and never shuffles.
    scored = c.join(
        F.broadcast(cand.join(q, "query_id")), "neighbor_id"
    ).withColumn("cos_raw", _cosine("qv", "cv", "qnorm", "cnorm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_raw", 6).alias("cosine"))
    )


@query(
    "knn_cosine_bruteforce",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), n AS (
      SELECT vec_id, v, {_O_FOLD.format(a='v', b='v')} AS norm FROM e
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_O_FOLD.format(a='q.v', b='c.v')} / sqrt(q.norm * c.norm) AS cos_raw
      FROM n q JOIN n c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ), ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank, round(cos_raw, 6) AS cosine
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def q_knn_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_bruteforce(fan_out(load_table(spark, sf_dir, "embeddings"), spark))


def _bucket(v: Column) -> Column:
    """Sign-bit LSH bucket: bit j set iff embedding[j] >= 0."""
    b = F.lit(0)
    for j in range(LSH_BITS):
        b = b + F.when(F.element_at(v, j + 1) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return b


_O_BUCKET = " + ".join(
    f"(CASE WHEN v[{j + 1}] >= 0 THEN {1 << j} ELSE 0 END)" for j in range(LSH_BITS)
)


def ann_lsh(e: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's bucket.

    The bucket equi-join replaces the all-pairs comparison: at scale
    the corpus is shuffled once on ``bucket`` (or pre-bucketed at
    write time) and each query probes ~n/2^bits vectors. Recall is
    traded for that pruning — the oracle reproduces the same buckets,
    so the approximation itself is what's verified.
    """
    base = _with_norm(e).withColumn("bucket", _bucket(F.col("v")))
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "bucket",
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "bucket",
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_raw", _cosine("qv", "cv", "qnorm", "cnorm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_raw", 6).alias("cosine"))
    )


@query(
    "ann_lsh_cosine",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), n AS (
      SELECT vec_id, v, {_O_FOLD.format(a='v', b='v')} AS norm,
             ({_O_BUCKET}) AS bucket
      FROM e
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_O_FOLD.format(a='q.v', b='c.v')} / sqrt(q.norm * c.norm) AS cos_raw
      FROM n q JOIN n c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ), ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank, round(cos_raw, 6) AS cosine
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def q_ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_lsh(fan_out(load_table(spark, sf_dir, "embeddings"), spark))


# --- IVF-style partitioned ANN ---------------------------------------------

N_CENTROIDS = 8


def _sq_dist(va: str, vb: str) -> Column:
    d = F.zip_with(va, vb, lambda x, y: (x - y) * (x - y))
    return F.aggregate(d, F.lit(0.0), lambda a, x: a + x)


def ivf_assign(e: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each vector to its nearest centroid (squared L2, ties to
    the smaller centroid id) — the IVF partitioning step.

    Centroids broadcast (bounded, K vectors); the corpus never
    shuffles for assignment. In production the centroids come from
    k-means over a sample; here they are pinned seed vectors
    (vec_id < K) so the DuckDB oracle can recompute the exact same
    partition layout — what's verified is the IVF mechanics, not the
    centroid training.
    """
    c = centroids.select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    scored = e.crossJoin(F.broadcast(c)).withColumn("d", _sq_dist("v", "cv"))
    w = Window.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "norm", "centroid_id")
    )


@query(
    "ivf_knn_cosine",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), n AS (
      SELECT vec_id, v, {_O_FOLD.format(a='v', b='v')} AS norm FROM e
    ), seeds AS (
      SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {N_CENTROIDS}
    ), dists AS (
      SELECT n.vec_id, n.v, n.norm, s.centroid_id,
             list_reduce([(n.v[i] - s.cv[i]) * (n.v[i] - s.cv[i])
                          for i in range(1, len(n.v) + 1)], (x, y) -> x + y) AS d,
             row_number() OVER (PARTITION BY n.vec_id
                                ORDER BY list_reduce([(n.v[i] - s.cv[i]) * (n.v[i] - s.cv[i])
                                                      for i in range(1, len(n.v) + 1)],
                                                     (x, y) -> x + y) ASC,
                                         s.centroid_id ASC) AS rn
      FROM n, seeds s
    ), assigned AS (
      SELECT vec_id, v, norm, centroid_id FROM dists WHERE rn = 1
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_O_FOLD.format(a='q.v', b='c.v')} / sqrt(q.norm * c.norm) AS cos_raw
      FROM assigned q JOIN assigned c
        ON q.centroid_id = c.centroid_id AND q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ), ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank, round(cos_raw, 6) AS cosine
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def q_ivf_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: nprobe=1 top-k within the query's centroid partition.

    The scale path for similarity search: the corpus is partitioned
    once by nearest centroid (written bucketed-by-centroid in a real
    lake), and each query scans ~n/K vectors instead of n. Recall is
    bounded by centroid quality; the exact baseline for measuring it
    is `knn_cosine_bruteforce`.
    """
    base = _with_norm(fan_out(load_table(spark, sf_dir, "embeddings"), spark))
    centroids = base.filter(F.col("vec_id") < N_CENTROIDS)
    assigned = ivf_assign(base, centroids).cache()
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "centroid_id",
    )
    c = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "centroid_id",
    )
    scored = (
        F.broadcast(q)
        .join(c, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_raw", _cosine("qv", "cv", "qnorm", "cnorm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("cos_raw", 6).alias("cosine"))
    )


# --- multi-probe LSH --------------------------------------------------------


def ann_lsh_multiprobe(
    e: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K
) -> DataFrame:
    """Multi-probe LSH: each query searches its own bucket plus the
    LSH_BITS buckets at Hamming distance 1 (one sign bit flipped).

    The standard recall fix for bucketed LSH without growing the
    index: a near neighbor that straddles one hyperplane lands one
    bit-flip away, so probing those buckets recovers it. Candidates
    scanned grow ~(bits+1)/2^bits of the corpus — still pruned, and
    because the probe set is a superset of the single-probe bucket,
    recall can only improve (asserted in tests/test_similarity.py).

    Plan shape: queries explode to (bits+1) probe rows BEFORE the
    equi-join on bucket — the corpus side is still joined on a single
    key (its own bucket), so the index layout (hash-partition or
    pre-bucketed files) is untouched; only the tiny query side fans
    out. The final top-k dedupes via row_number, so a candidate found
    through two probes counts once.
    """
    base = _with_norm(e).withColumn("bucket", _bucket(F.col("v")))
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(LSH_BITS)],
    )
    q = (
        base.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
            F.explode(probes).alias("bucket"),
        )
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "bucket",
    )
    # Dedupe candidates BEFORE ranking: a neighbor reachable through
    # two probe buckets must occupy one top-k slot, not two. The
    # duplicate rows are identical once the probe bucket is dropped,
    # so dropDuplicates is deterministic here.
    cand = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .drop("bucket")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn("cos_raw", _cosine("qv", "cv", "qnorm", "cnorm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_raw", 6).alias("cosine"))
    )


_O_PROBES = ", ".join(["bucket"] + [f"xor(bucket, {1 << j})" for j in range(LSH_BITS)])


@query(
    "ann_lsh_multiprobe",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), n AS (
      SELECT vec_id, v, {_O_FOLD.format(a='v', b='v')} AS norm,
             ({_O_BUCKET}) AS bucket
      FROM e
    ), q AS (
      SELECT vec_id AS query_id, v AS qv, norm AS qnorm,
             unnest([{_O_PROBES}]) AS bucket
      FROM n WHERE vec_id < {N_QUERIES}
    ), cand AS (
      SELECT DISTINCT q.query_id, q.qv, q.qnorm,
             c.vec_id AS neighbor_id, c.v AS cv, c.norm AS cnorm
      FROM q JOIN n c ON q.bucket = c.bucket AND q.query_id <> c.vec_id
    ), scored AS (
      SELECT query_id, neighbor_id,
             {_O_FOLD.format(a='qv', b='cv')} / sqrt(qnorm * cnorm) AS cos_raw
      FROM cand
    ), ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank, round(cos_raw, 6) AS cosine
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_lsh_multiprobe(fan_out(load_table(spark, sf_dir, "embeddings"), spark))


# --- int8-quantized distance ----------------------------------------------


def quantize_int8(e: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization of the UNIT-NORMALIZED
    vector: q = round(x̂ * 127 / maxabs(x̂)), with the scale kept
    alongside the codes for dequantization.

    The standard memory/bandwidth lever for fleet-scale vector stores
    (4x smaller than float32, SIMD-friendly integer dot products).
    Normalizing first makes the dequantized dot approximate COSINE;
    scaling by the normalized vector's own max-abs uses the full int8
    range per vector. sqrt is IEEE-correctly-rounded (unlike ln/exp),
    so normalization is engine-exact — the same reason knn_bruteforce
    may use it. A zero vector quantizes to zeros (guarded divides).
    """
    v = F.transform("embedding", lambda x: x.cast("double"))
    df = e.select("vec_id", v.alias("v")).withColumn(
        "l2",
        F.sqrt(
            F.aggregate(
                F.zip_with("v", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
            )
        ),
    )
    vn = F.when(
        F.col("l2") > 0, F.transform("v", lambda x: x / F.col("l2"))
    ).otherwise(F.col("v"))
    df = df.select("vec_id", vn.alias("vn"))
    maxabs = F.array_max(F.transform("vn", F.abs))
    q8 = F.when(
        maxabs > 0,
        F.transform("vn", lambda x: to_units(x * 127 / maxabs, 1).cast("int")),
    ).otherwise(F.transform("vn", lambda x: F.lit(0)))
    # scale dequantizes a code back to the normalized component:
    # x̂ ≈ q * (maxabs / 127)
    return df.select("vec_id", q8.alias("q8"), (maxabs / 127).alias("scale"))


def ann_int8(e: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K) -> DataFrame:
    """Top-k by int8-quantized approximate cosine.

    The integer dot product is exact arithmetic; the dequantized score
    ``dot_q * scale_a * scale_b`` (two double multiplies of exact
    inputs, identical expression tree in the oracle) approximates the
    cosine of the unit-normalized vectors, making scores comparable
    across neighbors with different quantization scales.

    This demonstrates the quantized DISTANCE kernel on the broadcast
    brute-force shape; at 100 TB the same kernel drops into any
    bucketed candidate generator (ann_lsh_cosine / ann_ivf_trained) —
    quantization cuts the bytes each candidate comparison touches,
    bucketing cuts the number of comparisons; they compose. Recall vs
    the exact float baseline is pinned in tests/test_similarity.py.
    """
    base = quantize_int8(e)
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("q8").alias("qa"),
        F.col("scale").alias("sa"),
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q8").alias("qb"),
        F.col("scale").alias("sb"),
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot_q", dot)
        .withColumn("score", F.col("dot_q") * F.col("sa") * F.col("sb"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank", "dot_q", F.round("score", 6).alias("score")
        )
    )


@query(
    "ann_int8_quantized",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), nrm AS (
      SELECT vec_id, v, sqrt({_O_FOLD.format(a='v', b='v')}) AS l2 FROM e
    ), unit AS (
      SELECT vec_id,
             CASE WHEN l2 > 0 THEN list_transform(v, x -> x / l2) ELSE v END AS vn
      FROM nrm
    ), m AS (
      SELECT vec_id, vn, list_max(list_transform(vn, x -> abs(x))) AS maxabs
      FROM unit
    ), qz AS (
      SELECT vec_id,
             CASE WHEN maxabs > 0
                  THEN list_transform(vn, x -> CAST(round(x * 127 / maxabs) AS INT))
                  ELSE list_transform(vn, x -> 0) END AS q8,
             maxabs / 127 AS scale
      FROM m
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST({_O_FOLD.format(a='q.q8', b='c.q8')} AS BIGINT) AS dot_q,
             CAST({_O_FOLD.format(a='q.q8', b='c.q8')} AS BIGINT)
                 * q.scale * c.scale AS score
      FROM qz q JOIN qz c ON q.vec_id != c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ), ranked AS (
      SELECT query_id, neighbor_id, dot_q, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank::INT AS rank, dot_q, round(score, 6) AS score
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def q_ann_int8_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_int8(fan_out(load_table(spark, sf_dir, "embeddings"), spark))


# --- hard-negative mining --------------------------------------------------


def hard_negatives(e: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K) -> DataFrame:
    """Top-k most-similar OTHER-LABEL vectors per query — the hard
    negatives a contrastive training pipeline mines: negatives the
    model is most likely to confuse with the anchor.

    Same bucketed construction as ann_lsh_cosine (the output is
    algorithm-defined; the oracle reproduces the buckets), with the
    label-inequality predicate pushed into the candidate join — so at
    100 TB the pruning applies BEFORE scoring and the corpus shuffles
    once on bucket, exactly like the plain ANN path. Near-boundary
    negatives missed by bucketing are the standard LSH recall trade;
    the multiprobe variant widens the net when that matters.
    """
    base = (
        _with_norm_labeled(e)
        .withColumn("bucket", _bucket(F.col("v")))
    )
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "bucket",
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("clabel"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "bucket",
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("qlabel") != F.col("clabel"))
        .withColumn("cos_raw", _cosine("qv", "cv", "qnorm", "cnorm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("clabel").alias("neg_label"),
            "rank",
            F.round("cos_raw", 6).alias("cosine"),
        )
    )


def _with_norm_labeled(e: DataFrame) -> DataFrame:
    v = F.transform("embedding", lambda x: x.cast("double"))
    df = e.select("vec_id", "label", v.alias("v"))
    return df.withColumn(
        "norm",
        F.aggregate(F.zip_with("v", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x),
    )


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), n AS (
      SELECT vec_id, label, v,
             {_O_FOLD.format(a='v', b='v')} AS norm,
             {_O_BUCKET.replace('v[', 'v[')} AS bucket
      FROM e
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             c.label AS neg_label,
             {_O_FOLD.format(a='q.v', b='c.v')} / sqrt(q.norm * c.norm) AS cos_raw
      FROM n q JOIN n c ON q.bucket = c.bucket AND q.label <> c.label
      WHERE q.vec_id < {N_QUERIES}
    ), ranked AS (
      SELECT query_id, neighbor_id, neg_label, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, neg_label, rank, round(cos_raw, 6) AS cosine
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hard_negatives(fan_out(load_table(spark, sf_dir, "embeddings"), spark))


# --- ANN recall self-evaluation ---------------------------------------------


def ann_recall(e: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K) -> DataFrame:
    """Recall@k of the LSH-bucketed ANN against the exact baseline,
    computed in one job — the eval every production vector index runs
    on a sampled query set before the approximate path is trusted.

    One normed+bucketed base frame is cached and feeds all four
    consumers (query/corpus side of both rankings), so the embeddings
    scan runs once; both rankings broadcast the k-bounded query side
    and the corpus never reshuffles. At 100 TB this is exactly the
    recall job you run on a 1k-query sample: cost is the brute-force
    pass (linear in corpus), which is the point of measuring on a
    sample rather than the full query log.
    """
    base = (
        _with_norm(e).withColumn("bucket", _bucket(F.col("v"))).cache()
    )
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        F.col("bucket").alias("qbucket"),
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "bucket",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))

    def topk(joined: DataFrame) -> DataFrame:
        return (
            joined.filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("cos_raw", _cosine("qv", "cv", "qnorm", "cnorm"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id")
        )

    exact = topk(F.broadcast(q).crossJoin(c))
    approx = topk(F.broadcast(q).join(c, F.col("qbucket") == F.col("bucket")))
    hits = exact.join(approx, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count("*").alias("n_hits")
    )
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(hits, "query_id", "left")
        .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0)))
    )
    return per_q.select(
        "query_id",
        "n_exact",
        "n_hits",
        exact_ratio(F.col("n_hits"), F.col("n_exact")).alias("recall"),
    )


@query(
    "ann_recall_at_5",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), n AS (
      SELECT vec_id, v, {_O_FOLD.format(a='v', b='v')} AS norm,
             ({_O_BUCKET}) AS bucket
      FROM e
    ), ex AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_O_FOLD.format(a='q.v', b='c.v')} / sqrt(q.norm * c.norm)
                          DESC, c.vec_id) AS rank
        FROM n q JOIN n c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES})
      WHERE rank <= {TOP_K}
    ), ap AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_O_FOLD.format(a='q.v', b='c.v')} / sqrt(q.norm * c.norm)
                          DESC, c.vec_id) AS rank
        FROM n q JOIN n c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES})
      WHERE rank <= {TOP_K}
    ), hits AS (
      SELECT ex.query_id, count(*) AS n_hits
      FROM ex JOIN ap ON ex.query_id = ap.query_id
                     AND ex.neighbor_id = ap.neighbor_id
      GROUP BY ex.query_id
    ), per_q AS (
      SELECT query_id, count(*) AS n_exact FROM ex GROUP BY query_id
    )
    SELECT p.query_id, p.n_exact,
           coalesce(h.n_hits, 0) AS n_hits,
           {oracle_exact_ratio("coalesce(h.n_hits, 0)", "p.n_exact")} AS recall
    FROM per_q p LEFT JOIN hits h ON p.query_id = h.query_id
    """,
)
def q_ann_recall_at_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_recall(fan_out(load_table(spark, sf_dir, "embeddings"), spark))
