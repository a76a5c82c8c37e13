"""Distributed k-means (Lloyd's) over the embeddings table, and the
trained-centroid IVF ANN built on top of it.

ABSENT from the reference (it has no iterative dataflow at all — one
map→barrier→reduce pass, ``core/coordinator.go:317-324``). This is
the engine's iterative-algorithm pattern, shared with
``dedup.connected_components``: a driver-controlled loop of
declarative rounds where each round is pure DataFrame ops —
Catalyst plans every round, nothing is computed driver-side except
the loop condition.

Scale shape per round:

- assignment: corpus ⋈ broadcast(centroids) — K centroid vectors
  broadcast to every executor, the corpus NEVER shuffles;
- update: posexplode to (centroid, dim) pairs → partial+final avg
  (map-side combine carries K·d partial sums, not n·d rows) →
  re-assemble arrays with an array_sort(collect_list(struct)) whose
  group size is exactly d — bounded, so the holistic collect is safe;
- ``localCheckpoint()`` truncates lineage so the plan stays O(1)
  across rounds instead of doubling.

The kmeans query is registered rows-only (no oracle_sql): an
iterative fixpoint is the documented non-SQL-expressible case, and
its semantics are pinned instead by tests/test_clustering.py
(monotone inertia, fixpoint assignment, recall vs the exact
brute-force baseline that IS oracle-checked).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_lab_spark.functions.vectors import cosine, fold_dot, norm_sq, sq_dist, top_k
from mapreduce_lab_spark.operators.similarity import N_QUERIES, TOP_K
from mapreduce_lab_spark.registry import query
from mapreduce_lab_spark.sources.tables import fan_out, load_table

K_CLUSTERS = 8
N_ITERS = 4


def assign_nearest(pts: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest centroid per point (squared L2, ties to smaller id).

    pts: (vec_id, v); centroids: (centroid_id, cv).
    Returns (vec_id, v, centroid_id, d).
    """
    # Collected-codebook argmin (round-13, guide §2.4): the K
    # centroids collapse to ONE row (collect_list of structs)
    # broadcast against the corpus; per-row argmin is a transform
    # (each distance computed exactly once) followed by a running-min
    # fold over the K (d, centroid_id) structs — the same (asc d,
    # asc id) tie-break as the previous min(struct) groupBy, but with
    # NO exchange at all: assignment is pure scan-side work. The
    # round-12 shape (crossJoin to K rows + min(struct) groupBy) paid
    # a full-corpus Sort + SortAggregate + Exchange(vec_id) per round
    # because struct-min cannot hash-aggregate. A fold, not
    # array_sort: the measured sf0.1 sweep (docs/SCALE.md r13) has
    # the O(K) fold beating the O(K log K) sort-of-structs per row.
    # Same pattern as semantic_ivf.ivf_postings' broadcast artifact.
    cb = centroids.agg(F.collect_list(F.struct("centroid_id", "cv")).alias("cb"))
    scored = F.transform(
        F.col("cb"),
        lambda c: F.struct(
            sq_dist(F.col("v"), c.getField("cv")).alias("d"),
            c.getField("centroid_id").alias("centroid_id"),
        ),
    )
    best = F.aggregate(
        scored,
        F.lit(None).cast("struct<d:double,centroid_id:bigint>"),
        lambda acc, s: F.when(
            acc.isNull()
            | (s.getField("d") < acc.getField("d"))
            | (
                (s.getField("d") == acc.getField("d"))
                & (s.getField("centroid_id") < acc.getField("centroid_id"))
            ),
            s,
        ).otherwise(acc),
    )
    return (
        pts.crossJoin(F.broadcast(cb))
        # Empty-codebook guard: matches the old crossJoin against a
        # 0-row centroid frame, which emitted no rows. Checked on the
        # broadcast array, so no argmin work runs for the empty case.
        .where(F.size("cb") > 0)
        .withColumn("b", best)
        .select(
            "vec_id",
            "v",
            F.col("b.centroid_id").alias("centroid_id"),
            F.col("b.d").alias("d"),
        )
    )


def _recompute_centroids(assigned: DataFrame) -> DataFrame:
    """Mean vector per cluster, dimension-wise, reassembled in order."""
    return (
        assigned.select("centroid_id", F.posexplode("v").alias("pos", "x"))
        .groupBy("centroid_id", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("centroid_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cv")
        )
    )


def kmeans(
    pts: DataFrame, k: int = K_CLUSTERS, n_iters: int = N_ITERS
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's algorithm; returns (centroids, final assignment).

    Init is deterministic (seed centroids = points with vec_id < k)
    so every run — and the recall test against the exact baseline —
    sees the same fixpoint. Production init would be k-means|| over a
    sample; the rounds are identical.
    """
    cent = pts.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    assigned = None
    for _ in range(n_iters):
        assigned = assign_nearest(pts, cent)
        cent = _recompute_centroids(assigned).localCheckpoint()
    return cent, assign_nearest(pts, cent)


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    return e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


@query("kmeans_clusters")
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster census after N_ITERS Lloyd rounds: size and inertia
    per cluster. Rows-only driver check (iterative fixpoint — the
    documented non-SQL-expressible case); semantics pinned by
    tests/test_clustering.py."""
    _, assigned = kmeans(_points(spark, sf_dir))
    return (
        assigned.groupBy("centroid_id")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.sum("d"), 2).alias("inertia"),
        )
        .select("centroid_id", "n_members", "inertia")
    )


@query("ann_ivf_trained")
def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over TRAINED centroids (nprobe=1): the production
    composition — kmeans partitions the corpus, each query scans only
    its own cell (~n/K vectors instead of n).

    Rows-only driver check (inherits kmeans' non-SQL-expressibility);
    tests/test_clustering.py asserts a recall floor against the
    oracle-checked exact baseline (knn_cosine_bruteforce) AND cell
    balance — the property that actually bounds per-query scan cost
    at scale. (On near-isotropic synthetic embeddings training can't
    beat random partitioning's recall; on real clustered embeddings
    it does, and the mechanics verified here are identical.)
    """
    pts = _points(spark, sf_dir)
    _, assigned = kmeans(pts)
    base = assigned.select("vec_id", "v", "centroid_id").withColumn(
        "norm", norm_sq("v")
    ).localCheckpoint()  # train once; both join sides below reuse it
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "centroid_id",
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "centroid_id",
    )
    scored = (
        F.broadcast(q)
        .join(c, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_raw", cosine("qv", "cv", "qnorm", "cnorm"))
    )
    return top_k(scored, TOP_K)


# --- exact-integer lattice Lloyd (fully oracled iterative k-means) ----------
#
# The float kmeans above is the documented rows-only class: Spark's
# avg() sums doubles in partition-nondeterministic order, so no SQL
# twin can be hash-exact. This variant closes that gap (VERDICT r11
# #5) by running Lloyd ENTIRELY in exact integer arithmetic: each
# embedding coordinate is quantized once to the 2^-20 lattice
# (q = floor(x * 2^20) + 2^21; the shift keeps every value
# non-negative so truncating and flooring division agree across
# engines), distances are exact int64 sums of squared diffs (64 dims
# x diff^2 <= 2^42 --> well under 2^63), and the centroid update is
# element-wise integer floor-division div(sum q, count) — i.e. the
# mean snapped back onto the lattice. Every operation is
# order-independent, so the full N_ITERS-round fixpoint carries a
# rows+schema+hash DuckDB gate with the loop UNROLLED as one
# MATERIALIZED CTE chain per round (the attribution/Markov trick).
# Quantization error vs float Lloyd is 2^-20 per coordinate per
# round — semantically irrelevant, and the price of an exact gate on
# an iterative algorithm.
#
# Scale shape per round is identical to the float lane: broadcast-K
# assignment (corpus never shuffles), posexplode + partial-agg
# update carrying K*d partial sums.

LATTICE_SCALE = 1 << 20
LATTICE_SHIFT = 1 << 21


def _lattice_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    return e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * LATTICE_SCALE).cast("long")
            + F.lit(LATTICE_SHIFT).cast("long"),
        ).alias("q"),
    )


def _lattice_dist(qc: str | Column, mc: str | Column) -> Column:
    return sq_dist(qc, mc, zero=F.lit(0).cast("long"))


def _lattice_assign(pts: DataFrame, cent: DataFrame) -> DataFrame:
    # Collected-codebook argmin (see assign_nearest): exact-integer
    # (asc d, asc cid) running-min fold over the K scored structs,
    # zero exchanges — the round-12 min(struct) groupBy shape paid a
    # full-corpus Sort + SortAggregate + Exchange per round.
    cb = cent.agg(F.collect_list(F.struct("cid", "m")).alias("cb"))
    scored = F.transform(
        F.col("cb"),
        lambda c: F.struct(
            _lattice_dist(F.col("q"), c.getField("m")).alias("d"),
            c.getField("cid").alias("cid"),
        ),
    )
    best = F.aggregate(
        scored,
        F.lit(None).cast("struct<d:bigint,cid:bigint>"),
        lambda acc, s: F.when(
            acc.isNull()
            | (s.getField("d") < acc.getField("d"))
            | (
                (s.getField("d") == acc.getField("d"))
                & (s.getField("cid") < acc.getField("cid"))
            ),
            s,
        ).otherwise(acc),
    )
    return (
        pts.crossJoin(F.broadcast(cb))
        # empty-codebook guard (matches the old 0-row crossJoin)
        .where(F.size("cb") > 0)
        .withColumn("b", best)
        .select(
            "vec_id", "q", F.col("b.cid").alias("cid"), F.col("b.d").alias("d")
        )
    )


def _lattice_update(assigned: DataFrame) -> DataFrame:
    # posexplode + (cid, pos) partial sums: the dim-fold row blowup is
    # collapsed map-side by the hash aggregation (K*dim rows reach the
    # exchange, not n*dim). A round-13 experiment replaced this with
    # 2*dim per-index aggregate columns keyed by cid alone (one K-row
    # exchange instead of two) — measured SLOWER at sf0.1/dim=64
    # (+2.3 s per query: 128 wide aggregation buffers defeat codegen),
    # so the exploded shape stays; docs/SCALE.md r13.
    return (
        assigned.select("cid", F.posexplode("q").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("c"))
        .select(
            "cid", "pos", F.call_function("div", F.col("s"), F.col("c")).alias("mv")
        )
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                lambda s: s["mv"],
            ).alias("m")
        )
    )


def _lattice_round_sql(r: int) -> str:
    prev = f"c{r - 1}"
    return f"""
    s{r} AS MATERIALIZED (
      SELECT e.vec_id, e.q, c.cid,
             CAST(list_sum(list_transform(generate_series(1, len(e.q)),
                  i -> (e.q[i] - c.m[i]) * (e.q[i] - c.m[i]))) AS BIGINT) AS d
      FROM e, {prev} c
    ), a{r} AS MATERIALIZED (
      SELECT vec_id, q, cid, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM s{r}
      ) WHERE rn = 1
    ), u{r} AS MATERIALIZED (
      SELECT cid, i, CAST(sum(q[i]) AS BIGINT) // count(*) AS mv
      FROM a{r}, LATERAL (SELECT unnest(generate_series(1, len(q))) AS i) g
      GROUP BY cid, i
    ), c{r} AS MATERIALIZED (
      SELECT cid, list(mv ORDER BY i) AS m FROM u{r} GROUP BY cid
    )"""


def _lattice_oracle() -> str:
    rounds = ",".join(_lattice_round_sql(r) for r in range(1, N_ITERS + 1))
    last = N_ITERS + 1
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                 x -> CAST(floor(x * {LATTICE_SCALE}) AS BIGINT)
                      + {LATTICE_SHIFT}) AS q
      FROM embeddings
    ), c0 AS MATERIALIZED (
      SELECT vec_id AS cid, q AS m FROM e WHERE vec_id < {K_CLUSTERS}
    ),{rounds},
    s{last} AS (
      SELECT e.vec_id, e.cid, e.d FROM (
        SELECT e.vec_id, c.cid,
               CAST(list_sum(list_transform(generate_series(1, len(e.q)),
                    i -> (e.q[i] - c.m[i]) * (e.q[i] - c.m[i]))) AS BIGINT) AS d,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY CAST(list_sum(list_transform(
                                      generate_series(1, len(e.q)),
                                      i -> (e.q[i] - c.m[i])
                                           * (e.q[i] - c.m[i]))) AS BIGINT),
                                  c.cid) AS rn
        FROM e, c{N_ITERS} c
      ) e WHERE rn = 1
    )
    SELECT cid AS centroid_id, count(*) AS n_members,
           CAST(sum(d) AS BIGINT) AS inertia_q
    FROM s{last} GROUP BY cid
    """


@query(
    "kmeans_lattice_census",
    oracle=_lattice_oracle(),
    meta={
        "lane": "oracle-contract",
        "routing": (
            "Exact-integer twin of kmeans_clusters: identical Lloyd "
            "rounds on the 2^-20 quantization lattice, hash-gated "
            "end-to-end; the float lane stays rows-only (avg() sum "
            "order) and serves callers needing unquantized centroids."
        ),
    },
)
def q_kmeans_lattice_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster census after N_ITERS exact-integer Lloyd rounds on the
    2^-20 lattice: size and exact integer inertia per cluster. The
    fully-oracled iterative-k-means contract — the DuckDB twin
    unrolls all rounds as MATERIALIZED CTEs and every value is an
    order-free integer, so the whole fixpoint sits behind the
    rows+schema+hash gate (unlike the float lane, whose avg() makes
    that impossible by construction)."""
    pts = _lattice_points(spark, sf_dir)
    cent = pts.filter(F.col("vec_id") < K_CLUSTERS).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("m")
    )
    for _ in range(N_ITERS):
        cent = _lattice_update(_lattice_assign(pts, cent)).localCheckpoint()
    final = _lattice_assign(pts, cent)
    return final.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("d").alias("inertia_q"),
    ).select(
        F.col("cid").alias("centroid_id"), "n_members", "inertia_q"
    )


# --- product quantization + ADC --------------------------------------------

PQ_M = 4          # subspaces
PQ_K = 16         # centroids per subspace codebook
PQ_ITERS = 3
PQ_CANDIDATES = 64  # ADC shortlist size fed to the exact re-rank


def _subvectors(pts: DataFrame, dim: int) -> DataFrame:
    """(vec_id, v) → (vec_id, sub, sv): the m disjoint slices."""
    width = dim // PQ_M
    slices = F.array(
        *[F.slice("v", s * width + 1, width) for s in range(PQ_M)]
    )
    return pts.select("vec_id", F.posexplode(slices).alias("sub", "sv"))


def pq_assign(subvecs: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest codebook entry per (vector, subspace) — shared by every
    training round AND the final encode, so a tie-break or distance
    change can never diverge between them. Returns
    (vec_id, sub, cid, sv)."""
    # Collected-codebook argmin (see assign_nearest / _pq_lattice_
    # assign): the whole (sub, cid, cv) codebook collapses to one
    # broadcast row; each row filters its own subspace's entries and
    # running-min folds over them — zero exchanges, same (asc d, asc
    # cid) tie-break as the round-12 min(struct) groupBy, which paid a
    # Sort + SortAggregate + Exchange(vec_id, sub) of the subvector
    # frame per call.
    cb = cent.agg(F.collect_list(F.struct("sub", "cid", "cv")).alias("cb"))
    scored = F.transform(
        F.filter(F.col("cb"), lambda c: c.getField("sub") == F.col("sub")),
        lambda c: F.struct(
            sq_dist(F.col("sv"), c.getField("cv")).alias("d"),
            c.getField("cid").alias("cid"),
        ),
    )
    best = F.aggregate(
        scored,
        F.lit(None).cast("struct<d:double,cid:bigint>"),
        lambda acc, s: F.when(
            acc.isNull()
            | (s.getField("d") < acc.getField("d"))
            | (
                (s.getField("d") == acc.getField("d"))
                & (s.getField("cid") < acc.getField("cid"))
            ),
            s,
        ).otherwise(acc),
    )
    return (
        subvecs.crossJoin(F.broadcast(cb))
        # empty-subspace guard (matches the old inner join's drop)
        .where(
            F.exists(F.col("cb"), lambda c: c.getField("sub") == F.col("sub"))
        )
        .withColumn("b", best)
        .select("vec_id", "sub", F.col("b.cid").alias("cid"), "sv")
    )


def pq_train(subvecs: DataFrame, n_iters: int = PQ_ITERS) -> DataFrame:
    """Per-subspace k-means codebooks, all m trained in ONE joint
    Lloyd loop keyed by (sub, cid) — each iteration is a single
    broadcast join + argmin + one grouped average over every subspace
    at once (m separate driver loops would m-fold the pass count).
    Returns (sub, cid, cv)."""
    cent = subvecs.filter(F.col("vec_id") < PQ_K).select(
        "sub", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )
    for _ in range(n_iters):
        assigned = pq_assign(subvecs, cent)
        cent = (
            assigned.select("sub", "cid", F.posexplode("sv").alias("pos", "x"))
            .groupBy("sub", "cid", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("sub", "cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cv")
            )
            .localCheckpoint()
        )
    return cent


@query("ann_pq_adc")
def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-free product quantization search: train m=4 codebooks of 16
    centroids, encode the corpus to m 4-bit codes (2 bytes/vector —
    a 128x compression of the 64-dim float corpus), score queries
    against CODES via asymmetric distance computation, then exact
    re-rank a candidate shortlist.

    Scale shape — the reason PQ is the 100 TB vector-search workhorse:

    - Training touches subvectors (narrow explode), one broadcast
      join + one grouped average per Lloyd round.
    - Encoding is the same broadcast-argmin — the corpus never
      shuffles; the codes table (vec_id, sub, cid) is the persisted
      artifact, integer-only.
    - Query time never touches corpus floats until the re-rank: the
      ADC table (queries x m x k = 320 partial dots) is built
      driver-free and BROADCAST; approx scores are a sum of m lookups
      per (query, vector) — an equi-join on (sub, cid) against the
      codes table followed by a map-side-combinable sum.
    - Only the PQ_CANDIDATES shortlist per query is re-ranked with
      exact cosine against raw vectors (a k-bounded semi join).

    Rows-only driver check (iterative training, like kmeans); recall
    vs the exact baseline and the compression invariants are pinned
    in tests/test_clustering.py.
    """
    pts = _points(spark, sf_dir).localCheckpoint()
    # max(size) not an arbitrary first() row: order-independent under
    # non-uniform dimensionality, same rationale as _pq_lattice_frames.
    dmax = pts.agg(F.max(F.size("v")).alias("d")).first()["d"]
    dim = int(dmax) if dmax is not None else PQ_M
    subvecs = _subvectors(pts, dim).localCheckpoint()
    cent = pq_train(subvecs)

    # Encode: argmin codebook entry per (vector, subspace) — the same
    # pq_assign used during training.
    codes = pq_assign(subvecs, cent).select("vec_id", "sub", "cid").localCheckpoint()

    norms = pts.withColumn("norm", norm_sq("v"))
    queries = norms.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    # ADC lookup table: partial dot of each query subvector with each
    # codebook entry; |Q| x m x k rows, broadcast.
    qsub = _subvectors(
        queries.select(F.col("query_id").alias("vec_id"), F.col("qv").alias("v")), dim
    ).select(F.col("vec_id").alias("query_id"), "sub", F.col("sv").alias("qsv"))
    adc = qsub.join(F.broadcast(cent), "sub").select(
        "query_id",
        "sub",
        "cid",
        fold_dot("qsv", "cv").alias("pdot"),
    )
    approx = (
        codes.join(F.broadcast(adc), ["sub", "cid"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pdot").alias("adc_dot"))
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("adc_dot"), F.asc("vec_id"))
    shortlist = (
        approx.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= PQ_CANDIDATES)
        .select("query_id", "vec_id")
    )
    # Exact re-rank of the shortlist only.
    cand = shortlist.join(
        norms.select(
            F.col("vec_id"), F.col("v").alias("cv"), F.col("norm").alias("cnorm")
        ),
        "vec_id",
    ).join(F.broadcast(queries), "query_id")
    rr = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        cand.withColumn("cos_raw", cosine("qv", "cv", "qnorm", "cnorm"))
        .withColumn("rank", F.row_number().over(rr))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round("cos_raw", 6).alias("cosine"),
        )
    )


# --- pinned-init IVF ANN: the fully-oracled twin of ann_ivf_trained ----------

# Same differential strategy as semantic_ivf's pinned near-dup
# contract (VERDICT r9/r10 lineage): the TRAINED lane stays rows-only
# because Lloyd is iterative, but with the codebook PINNED at the
# deterministic init (centroids = the k smallest vec_ids — the exact
# seed the trainer starts from) the ENTIRE search path is
# SQL-expressible: broadcast argmin assignment (ties to the smaller
# centroid id), per-query in-cell candidate join (nprobe=1), the
# left-fold IEEE cosine, and the (cos desc, id asc) top-k window.
# A bug anywhere in that path — which is every line ann_ivf_trained
# executes except the centroid-update rounds — now fails a
# rows+schema+hash gate instead of only the recall-floor pytest.

_ANN_PINNED_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cent AS (
  SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {K_CLUSTERS}
), a AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_reduce(
               [(e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])
                for i in range(1, len(e.v) + 1)], (x, y) -> x + y),
               c.centroid_id) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
), n AS (
  SELECT vec_id, v, centroid_id,
         list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)],
                     (x, y) -> x + y) AS norm
  FROM a
), q AS (
  SELECT vec_id AS query_id, v AS qv, norm AS qnorm, centroid_id
  FROM n WHERE vec_id < {N_QUERIES}
), s AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_reduce([q.qv[i] * c.v[i] for i in range(1, len(q.qv) + 1)],
                     (x, y) -> x + y) / sqrt(q.qnorm * c.norm) AS cos_raw
  FROM q JOIN n c USING (centroid_id)
  WHERE q.query_id <> c.vec_id
)
SELECT query_id, neighbor_id, rank, round(cos_raw, 6) AS cosine
FROM (
  SELECT query_id, neighbor_id, cos_raw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_raw DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= {TOP_K}
"""


@query(
    "ann_ivf_pinned",
    oracle=_ANN_PINNED_ORACLE,
    meta={
        "lane": "oracle-contract",
        "routing": (
            "Differential twin of ann_ivf_trained with the codebook "
            "pinned at the deterministic init; production traffic "
            "uses the trained lane."
        ),
    },
)
def q_ann_ivf_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (nprobe=1, top-TOP_K cosine per probe query) against
    the 0-iteration pinned-init codebook — the fully-oracled twin of
    ``ann_ivf_trained`` (see section comment)."""
    pts = _points(spark, sf_dir)
    cent = pts.filter(F.col("vec_id") < K_CLUSTERS).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    assigned = assign_nearest(pts, cent)
    base = assigned.select("vec_id", "v", "centroid_id").withColumn(
        "norm", norm_sq("v")
    ).localCheckpoint()  # assign once; both join sides below reuse it
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "centroid_id",
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "centroid_id",
    )
    scored = (
        F.broadcast(q)
        .join(c, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_raw", cosine("qv", "cv", "qnorm", "cnorm"))
    )
    return top_k(scored, TOP_K)


# --- lattice PQ census (fully oracled per-subspace Lloyd) -------------------
#
# The PQ twin of kmeans_lattice_census: all PQ_M per-subspace
# codebooks trained jointly for PQ_ITERS rounds in EXACT integer
# arithmetic on the same 2^-20 lattice, so the product-quantization
# trainer — the float version of which is the rows-only ann_pq_adc
# class — carries a full rows+schema+hash DuckDB gate. Rounds are
# keyed by (sub, cid); assignment is the broadcast argmin
# (hash-join on sub + partial min(struct)); the update is the
# element-wise integer floor-mean. The DuckDB twin unrolls the
# rounds exactly like the lattice-Lloyd/BPE/Markov oracles.


def _pq_lattice_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _lattice_points(spark, sf_dir)
    # Order-independent width, matching the oracle's
    # greatest(1, max(len(q)) // PQ_M): an arbitrary first() row is
    # partition-order dependent and diverges from the oracle if
    # embedding dimensionality is ever non-uniform (ADVICE r12).
    dmax = pts.agg(F.max(F.size("q")).alias("d")).first()["d"]
    dim = int(dmax) if dmax is not None else PQ_M
    width = max(1, dim // PQ_M)
    slices = F.array(*[F.slice("q", s * width + 1, width) for s in range(PQ_M)])
    return pts.select("vec_id", F.posexplode(slices).alias("sub", "sq"))


def _pq_lattice_assign(subv: DataFrame, cent: DataFrame) -> DataFrame:
    # Collected-codebook argmin, per-subspace: the whole (sub, cid, m)
    # codebook collapses to one broadcast row; each row filters its
    # own subspace's entries out of the array and running-min folds
    # over them — zero exchanges, where the round-12 broadcast join +
    # min(struct) groupBy still paid a Sort + SortAggregate +
    # Exchange(vec_id, sub) of the full subvector frame per round.
    cb = cent.agg(F.collect_list(F.struct("sub", "cid", "m")).alias("cb"))
    scored = F.transform(
        F.filter(F.col("cb"), lambda c: c.getField("sub") == F.col("sub")),
        lambda c: F.struct(
            _lattice_dist(F.col("sq"), c.getField("m")).alias("d"),
            c.getField("cid").alias("cid"),
        ),
    )
    best = F.aggregate(
        scored,
        F.lit(None).cast("struct<d:bigint,cid:bigint>"),
        lambda acc, s: F.when(
            acc.isNull()
            | (s.getField("d") < acc.getField("d"))
            | (
                (s.getField("d") == acc.getField("d"))
                & (s.getField("cid") < acc.getField("cid"))
            ),
            s,
        ).otherwise(acc),
    )
    return (
        subv.crossJoin(F.broadcast(cb))
        # empty-subspace guard (matches the old inner join's drop):
        # checked on the broadcast array before any distance work
        .where(
            F.exists(F.col("cb"), lambda c: c.getField("sub") == F.col("sub"))
        )
        .withColumn("b", best)
        .select(
            "vec_id", "sub", "sq",
            F.col("b.cid").alias("cid"),
            F.col("b.d").alias("d"),
        )
    )


def _pq_lattice_update(assigned: DataFrame) -> DataFrame:
    # posexplode + (sub, cid, pos) partial sums — see _lattice_update
    # for why the exploded shape beats per-index aggregate columns.
    return (
        assigned.select("sub", "cid", F.posexplode("sq").alias("pos", "x"))
        .groupBy("sub", "cid", "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("c"))
        .select(
            "sub", "cid", "pos",
            F.call_function("div", F.col("s"), F.col("c")).alias("mv"),
        )
        .groupBy("sub", "cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                lambda s: s["mv"],
            ).alias("m")
        )
    )


def _pq_lattice_round_sql(r: int) -> str:
    return f"""
    ps{r} AS MATERIALIZED (
      SELECT v.vec_id, v.sub, v.sq, c.cid,
             CAST(list_sum(list_transform(generate_series(1, len(v.sq)),
                  i -> (v.sq[i] - c.m[i]) * (v.sq[i] - c.m[i]))) AS BIGINT)
                 AS d
      FROM subv v JOIN pc{r - 1} c ON c.sub = v.sub
    ), pa{r} AS MATERIALIZED (
      SELECT vec_id, sub, sq, cid, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                     ORDER BY d, cid) AS rn
        FROM ps{r}
      ) WHERE rn = 1
    ), pu{r} AS MATERIALIZED (
      SELECT sub, cid, i, CAST(sum(sq[i]) AS BIGINT) // count(*) AS mv
      FROM pa{r}, LATERAL (SELECT unnest(generate_series(1, len(sq))) AS i) g
      GROUP BY sub, cid, i
    ), pc{r} AS MATERIALIZED (
      SELECT sub, cid, list(mv ORDER BY i) AS m FROM pu{r} GROUP BY sub, cid
    )"""


def _pq_lattice_oracle() -> str:
    rounds = ",".join(_pq_lattice_round_sql(r) for r in range(1, PQ_ITERS + 1))
    last = PQ_ITERS + 1
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                 x -> CAST(floor(x * {LATTICE_SCALE}) AS BIGINT)
                      + {LATTICE_SHIFT}) AS q
      FROM embeddings
    ), params AS (
      SELECT greatest(1, max(len(q)) // {PQ_M}) AS w FROM e
    ), subv AS MATERIALIZED (
      SELECT vec_id, CAST(s.sub AS INT) AS sub,
             list_slice(q, s.sub * w + 1, s.sub * w + w) AS sq
      FROM e, params,
           (SELECT unnest(generate_series(0, {PQ_M - 1})) AS sub) s
    ), pc0 AS MATERIALIZED (
      SELECT sub, vec_id AS cid, sq AS m FROM subv WHERE vec_id < {PQ_K}
    ),{rounds},
    pfin AS (
      SELECT vec_id, sub, cid, d FROM (
        SELECT v.vec_id, v.sub, c.cid,
               CAST(list_sum(list_transform(generate_series(1, len(v.sq)),
                    i -> (v.sq[i] - c.m[i]) * (v.sq[i] - c.m[i])))
                   AS BIGINT) AS d,
               row_number() OVER (PARTITION BY v.vec_id, v.sub
                                  ORDER BY CAST(list_sum(list_transform(
                                      generate_series(1, len(v.sq)),
                                      i -> (v.sq[i] - c.m[i])
                                           * (v.sq[i] - c.m[i])))
                                      AS BIGINT), c.cid) AS rn
        FROM subv v JOIN pc{PQ_ITERS} c ON c.sub = v.sub
      ) WHERE rn = 1
    )
    SELECT sub, cid, count(*) AS n_members,
           CAST(sum(d) AS BIGINT) AS inertia_q
    FROM pfin GROUP BY sub, cid
    """


@query(
    "pq_lattice_census",
    oracle=_pq_lattice_oracle(),
    meta={
        "lane": "oracle-contract",
        "routing": (
            "Exact-integer twin of the ann_pq_adc trainer: identical "
            "per-subspace Lloyd rounds on the 2^-20 lattice, "
            "hash-gated end-to-end; the float PQ lane stays rows-only "
            "(avg() sum order) and serves ADC search."
        ),
    },
)
def q_pq_lattice_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(subspace, centroid) census after PQ_ITERS exact-integer
    Lloyd rounds on the 2^-20 lattice: cluster size and exact integer
    inertia — the fully-oracled product-quantization trainer
    contract (the float trainer behind ann_pq_adc is the rows-only
    avg() class). Driver scalar: one first() reading the
    dimensionality, the same bounded-metadata class as the IVF
    builders."""
    subv = _pq_lattice_frames(spark, sf_dir)
    cent = subv.filter(F.col("vec_id") < PQ_K).select(
        "sub", F.col("vec_id").alias("cid"), F.col("sq").alias("m")
    )
    for _ in range(PQ_ITERS):
        cent = _pq_lattice_update(_pq_lattice_assign(subv, cent)).localCheckpoint()
    final = _pq_lattice_assign(subv, cent)
    return final.groupBy("sub", "cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("d").alias("inertia_q"),
    )
