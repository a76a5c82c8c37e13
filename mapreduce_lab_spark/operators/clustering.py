"""Lloyd's k-means over the embeddings table: ONE round shared by
every trainer in the engine — the float and exact-integer censuses
(``kmeans``), the per-subspace product-quantization codebooks
(``pq_train``) and the half-space IVF codebooks
(``semantic_ivf.train_codebooks``) — plus the trained-centroid IVF ANN
built on top of it.

ABSENT from the reference (it has no iterative dataflow at all — one
map→barrier→reduce pass, ``core/coordinator.go:317-324``). This is
the engine's iterative-algorithm pattern, shared with
``dedup.connected_components``: a driver-controlled loop of
declarative rounds where each round is pure DataFrame ops —
Catalyst plans every round, nothing is computed driver-side except
the loop condition.

Column contract (``keys`` is ``()``, or ``("sub",)`` for per-subspace
codebooks trained jointly):

- points ``(vec_id, *keys, v)``;
- codebooks ``(*keys, cid, cv)``;
- an assignment ``(vec_id, *keys, v, cid, d)``.

Scale shape per ``lloyd`` round:

- ``nearest_centroid``: the codebook collapses to ONE broadcast row
  and each point running-min folds over its own key group's entries —
  the corpus NEVER shuffles;
- ``centroid_means``: posexplode to (cid, dim) pairs → partial+final
  mean (map-side combine carries K·d partial sums, not n·d rows) →
  re-assemble arrays with an array_sort(collect_list(struct)) whose
  group size is exactly d — bounded, so the holistic collect is safe;
- a lazy ``localCheckpoint`` truncates lineage so the plan stays O(1)
  across rounds instead of doubling.

The element type of ``v`` picks the arithmetic. Double vectors get
double distances and ``avg`` (the rows-only float lanes: avg() sums
in partition order, so no SQL twin can be hash-exact); integral
vectors get exact int64 distances and the floor mean
``div(sum, count)`` (the hash-gated lattice lanes below).

The kmeans query is registered rows-only (no oracle_sql): an
iterative fixpoint is the documented non-SQL-expressible case, and
its semantics are pinned instead by tests/test_clustering.py
(monotone inertia, fixpoint assignment, recall vs the exact
brute-force baseline that IS oracle-checked).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from mapreduce_lab_spark.functions.vectors import cosine, fold_dot, norm_sq, sq_dist, top_k
from mapreduce_lab_spark.operators.similarity import N_QUERIES, TOP_K
from mapreduce_lab_spark.registry import query
from mapreduce_lab_spark.sources.tables import fan_out, load_table

K_CLUSTERS = 8
N_ITERS = 4


def _integral(df: DataFrame) -> bool:
    return isinstance(df.schema["v"].dataType.elementType, IntegralType)


def _seeds(pts: DataFrame, k: int, keys: tuple[str, ...] = ()) -> DataFrame:
    """Deterministic init: per key group, the points with vec_id < k,
    so every run — and the recall tests against the exact baseline —
    sees the same fixpoint. Production init would be k-means|| over a
    sample; the rounds are identical."""
    return pts.filter(F.col("vec_id") < k).select(
        *keys, F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )


def nearest_centroid(
    pts: DataFrame, cent: DataFrame, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Nearest centroid of each point among its own key group's
    entries (squared L2, ties to the smaller cid). Returns
    (vec_id, *keys, v, cid, d); a point whose group has no centroid
    gives no row."""
    # Collected-codebook argmin (round-13, guide §2.4): the codebook
    # collapses to ONE row (collect_list of structs) broadcast against
    # the corpus; per-row argmin is a transform (each distance
    # computed exactly once) followed by a running-min fold over the
    # (d, cid) structs — NO exchange at all: assignment is pure
    # scan-side work. The round-12 shape (crossJoin to K rows +
    # min(struct) groupBy) paid a full-corpus Sort + SortAggregate +
    # Exchange per round because struct-min cannot hash-aggregate. A
    # fold, not array_sort: the measured sf0.1 sweep (docs/SCALE.md
    # r13) has the O(K) fold beating the O(K log K) sort-of-structs.
    # A long zero keeps integer lattices exact (64 dims x diff^2 <=
    # 2^42, well under 2^63).
    integral = _integral(pts)
    cb = cent.agg(F.collect_list(F.struct(*keys, "cid", "cv")).alias("cb"))
    own = (
        F.filter("cb", lambda c: reduce(operator.and_, [c[k] == F.col(k) for k in keys]))
        if keys
        else F.col("cb")
    )
    scored = F.transform(
        own,
        lambda c: F.struct(
            sq_dist("v", c["cv"], F.lit(0).cast("long") if integral else None).alias("d"),
            c["cid"].alias("cid"),
        ),
    )
    best = F.aggregate(
        scored,
        F.lit(None).cast(f"struct<d:{'bigint' if integral else 'double'},cid:bigint>"),
        lambda acc, s: F.when(
            acc.isNull()
            | (s["d"] < acc["d"])
            | ((s["d"] == acc["d"]) & (s["cid"] < acc["cid"])),
            s,
        ).otherwise(acc),
    )
    return (
        pts.crossJoin(F.broadcast(cb))
        # Empty-group guard, checked on the broadcast array before any
        # distance work (matches the old inner join's drop).
        .where(F.size(own) > 0)
        .withColumn("b", best)
        .select("vec_id", *keys, "v", F.col("b.cid").alias("cid"), F.col("b.d").alias("d"))
    )


def centroid_means(assigned: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """Mean vector per (*keys, cid), dimension-wise, reassembled in
    order: (*keys, cid, cv). Integral vectors take the floor mean
    div(sum, count) — the mean snapped back onto the lattice."""
    # posexplode + partial sums: the dim-fold row blowup is collapsed
    # map-side by the hash aggregation (K*dim rows reach the
    # exchange, not n*dim). A round-13 experiment replaced this with
    # 2*dim per-index aggregate columns keyed by cid alone (one K-row
    # exchange instead of two) — measured SLOWER at sf0.1/dim=64
    # (+2.3 s per query: 128 wide aggregation buffers defeat codegen),
    # so the exploded shape stays; docs/SCALE.md r13.
    if _integral(assigned):
        mean = F.call_function("div", F.sum("x"), F.count(F.lit(1)))
    else:
        mean = F.avg("x")
    return (
        assigned.select(*keys, "cid", F.posexplode("v").alias("pos", "x"))
        .groupBy(*keys, "cid", "pos")
        .agg(mean.alias("m"))
        .groupBy(*keys, "cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cv")
        )
    )


def lloyd(
    pts: DataFrame, cent: DataFrame, n_iters: int, keys: tuple[str, ...] = ()
) -> DataFrame:
    """``n_iters`` Lloyd rounds from codebook ``cent``; returns the
    final codebook (*keys, cid, cv)."""
    # LAZY checkpoints (round 14): an eager localCheckpoint is its own
    # blocking Spark job per round. eager=False keeps the same
    # materialize-once/lineage-cut semantics but folds each
    # materialization into the FIRST job that consumes it (the next
    # round's collected-codebook broadcast build). Every round still
    # reads the previous round's materialized blocks, never its
    # lineage.
    for _ in range(n_iters):
        cent = centroid_means(nearest_centroid(pts, cent, keys), keys).localCheckpoint(
            eager=False
        )
    return cent


def kmeans(
    pts: DataFrame, k: int = K_CLUSTERS, n_iters: int = N_ITERS
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's algorithm from ``_seeds``; returns (centroids, final
    assignment). ``n_iters=0`` is the pinned init."""
    cent = lloyd(pts, _seeds(pts, k), n_iters)
    return cent, nearest_centroid(pts, cent)


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    return e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def _in_cell_topk(assigned: DataFrame) -> DataFrame:
    """Each probe query's TOP_K cosine neighbours inside its own cell
    (IVF with nprobe=1): (query_id, neighbor_id, rank, cosine)."""
    base = assigned.select("vec_id", "v", "cid").withColumn(
        "norm", norm_sq("v")
    ).localCheckpoint()  # assign once; both join sides below reuse it
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "cid",
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "cid",
    )
    scored = (
        F.broadcast(q)
        .join(c, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_raw", cosine("qv", "cv", "qnorm", "cnorm"))
    )
    return top_k(scored, TOP_K)


@query("kmeans_clusters")
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster census after N_ITERS Lloyd rounds: size and inertia
    per cluster. Rows-only driver check (iterative fixpoint — the
    documented non-SQL-expressible case); semantics pinned by
    tests/test_clustering.py."""
    _, assigned = kmeans(_points(spark, sf_dir))
    return assigned.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.round(F.sum("d"), 2).alias("inertia"),
    ).select(F.col("cid").alias("centroid_id"), "n_members", "inertia")


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
    return _in_cell_topk(kmeans(_points(spark, sf_dir))[1])


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
# The rounds are the float lane's own ``lloyd``: the integral
# element type alone switches the distance accumulator to int64 and the
# update to the floor mean.

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
        ).alias("v"),
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
    _, final = kmeans(_lattice_points(spark, sf_dir))
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
    """(vec_id, v) → (vec_id, sub, v): the m disjoint slices."""
    width = dim // PQ_M
    slices = F.array(
        *[F.slice("v", s * width + 1, width) for s in range(PQ_M)]
    )
    return pts.select("vec_id", F.posexplode(slices).alias("sub", "v"))


def pq_train(subvecs: DataFrame, n_iters: int = PQ_ITERS) -> DataFrame:
    """Per-subspace k-means codebooks, all m trained in ONE joint
    Lloyd loop keyed by ``sub`` — each iteration is a single
    broadcast argmin + one grouped average over every subspace at
    once (m separate driver loops would m-fold the pass count).
    Returns (sub, cid, cv)."""
    return lloyd(subvecs, _seeds(subvecs, PQ_K, ("sub",)), n_iters, ("sub",))


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
    # nearest_centroid every training round runs.
    codes = (
        nearest_centroid(subvecs, cent, ("sub",))
        .select("vec_id", "sub", "cid")
        .localCheckpoint()
    )

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
    ).select(F.col("vec_id").alias("query_id"), "sub", F.col("v").alias("qsv"))
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
    return _in_cell_topk(kmeans(_points(spark, sf_dir), n_iters=0)[1])


# --- lattice PQ census (fully oracled per-subspace Lloyd) -------------------
#
# The PQ twin of kmeans_lattice_census: all PQ_M per-subspace
# codebooks trained jointly for PQ_ITERS rounds in EXACT integer
# arithmetic on the same 2^-20 lattice, so the product-quantization
# trainer — the float version of which is the rows-only ann_pq_adc
# class — carries a full rows+schema+hash DuckDB gate. Rounds are
# ``pq_train`` itself on integral subvectors: ``lloyd`` keyed by
# ``sub``, whose broadcast argmin running-min folds over each row's own
# subspace entries and whose update is the element-wise integer
# floor-mean. The DuckDB twin unrolls the rounds exactly like the
# lattice-Lloyd/BPE/Markov oracles.


def _pq_lattice_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _lattice_points(spark, sf_dir)
    # Order-independent width, matching the oracle's
    # greatest(1, max(len(q)) // PQ_M): an arbitrary first() row is
    # partition-order dependent and diverges from the oracle if
    # embedding dimensionality is ever non-uniform (ADVICE r12).
    dmax = pts.agg(F.max(F.size("v")).alias("d")).first()["d"]
    dim = int(dmax) if dmax is not None else PQ_M
    width = max(1, dim // PQ_M)
    slices = F.array(*[F.slice("v", s * width + 1, width) for s in range(PQ_M)])
    return pts.select("vec_id", F.posexplode(slices).alias("sub", "v"))


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
    final = nearest_centroid(subv, pq_train(subv), ("sub",))
    return final.groupBy("sub", "cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("d").alias("inertia_q"),
    )
