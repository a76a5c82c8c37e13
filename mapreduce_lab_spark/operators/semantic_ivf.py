"""IVF-routed embedding near-dup: the loose-threshold 100 TB scale
path the constant-bucket sign-LSH lane cannot provide.

Why this module exists (measured, not speculative): the registered
``lsh_band_census`` pre-flight proved that the 16-bucket-per-band
random-hyperplane scheme enumerates candidate pairs quadratically in
corpus size regardless of duplicate density — 0.53M → 53.3M → 7.23B
candidates at sf0.1 → sf1 → sf10 (scripts/probe_band_candidates.py,
docs/SCALE.md round-8 census). Until round 9 the mitigation was a
documentation rule ("route loose thresholds to IVF"); this module
makes the route a registered, driver-checkable contract.

Index construction — an inverted multi-index (Babenko & Lempitsky,
"The Inverted Multi-Index", CVPR 2012, re-expressed relationally):

1. **Identical-vector collapse.** Exact duplicate vectors (the bulk
   of any replica-heavy corpus) collapse to a min-vec_id
   representative carrying its ascending member list — same algebra
   as the dedup lane's identical-shingle-set collapse
   (operators/dedup.py ``_collapse_reps``); a family of k clones
   costs ONE index entry instead of C(k, 2) candidate pairs. The
   member collect_list is bounded by the duplication factor of one
   vector, the same bound the dedup lane's members arrays carry.
2. **Train two half-space codebooks** of K1 = ceil(sqrt(n / C))
   centroids each (C = IMI_TARGET_CELL) with a joint sampled Lloyd
   loop — the per-subspace (sub, cid)-keyed trainer shape shared
   with ``operators/clustering.py`` ``pq_train``/``pq_assign``.
   Training touches a deterministic ~IMI_TRAIN_PER_CENT·K1-row
   sample, so the train cost is O(n) no matter the corpus.
3. **Assign every rep to product cells** (cid1, cid2) via ONE 1-row
   broadcast of the collected codebook (2·K1 centroid structs — the
   persisted model artifact every real IVF system ships to workers);
   per-row ranking is a narrow array_sort over higher-order
   expressions, so the corpus NEVER shuffles for assignment. Probe
   set per rep: the IVF_NPROBE product cells with smallest combined
   half-distance among the IMI_PROBE_RANK² rank pairs — the
   multi-sequence probe order, truncated to a fixed budget.
4. **Pair-find inside cells, verified per cell as a blocked Gram
   matrix** (grouped ``applyInPandas``: Arrow ships postings once,
   BLAS scores X @ X.T in bounded slabs), feed the verified pairs to
   the shared alternating-star ``connected_components``, then expand
   member lists.

Scale contract, and how it differs from the census-gated LSH lane:
product cells number K1² ≈ n / C, so expected occupancy stays
~IVF_NPROBE·C CONSTANT as the corpus grows — candidate pairs grow
LINEARLY (≈ n·nprobe²·C/2; the ``ivf_cell_census`` query measures
exactly this, and the sf0.1 → sf1 → sf10 sweep in docs/SCALE.md shows
4x rows → 4.35x candidates, then 453M at sf10 where the same sweep
census-gated the LSH pair join at 7.23B). The residual superlinear
term is assignment FLOPs (n · 2·K1 half-dots = O(n^1.5 / sqrt(C))),
which is shuffle-free, embarrassingly parallel scan-side work; the
next rung at extreme n is a coarse quantizer tree in front of the
same cells — the join/shuffle side, which is what actually gated the
LSH lane, is already linear.

Driver checks (round 10): the TRAINED lane stays rows-only
(iterative Lloyd is the documented non-SQL-expressible class, like
``kmeans_clusters``) with semantics pinned by
tests/test_semantic_ivf.py — subset-of-exact precision, recall
floors against the oracle-checked ``near_dup_embedding_cosine``
baseline (loose AND tight operating points), exact-duplicate
co-cluster guarantees, the candidate-linearity census ratio. The
PINNED-INIT contract ``near_dup_embedding_ivf_pinned`` additionally
puts the entire assign/probe/verify/CC/expansion chain behind a full
rows+schema+hash DuckDB twin, and ``ivf_init_codebook`` (round 11)
puts the codebook CONSTRUCTION (collapse → sizing → sample stride →
half slicing → distinct-first init) behind its own hash gate — so the
only un-oracled code is the Lloyd avg-update loop (registered as the
rows-only ``ivf_train_codebook`` artifact query, exploded to scalar
rows per the r10 driver-canonicalizer postmortem).

Driver-side actions in index construction — all scalar/metadata, the
same class as ``connected_components``' convergence signature: ONE
fused aggregate reading count (sizes K1) and max(size) (the
dimensionality, order-independently per ADVICE r12) in a single job
(round 14 — the two separate scalar jobs were pure fixed overhead).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_lab_spark.functions.numeric import to_units
from mapreduce_lab_spark.operators.clustering import pq_assign
from mapreduce_lab_spark.operators.dedup import (
    _O_DOT,
    _O_NORM,
    COSINE_THRESHOLD,
    _dvec,
    _fold_sum,
    connected_components,
    cosine,
)
from mapreduce_lab_spark.registry import query
from mapreduce_lab_spark.sources.tables import fan_out, load_table

# Target postings per product cell. Occupancy ~IVF_NPROBE·C stays
# constant as n grows because the cell count K1² ≈ n/C scales with
# the corpus — the property the constant-bucket LSH lane lacks, so
# candidate pairs ≈ n·nprobe²·C/2 grow LINEARLY. The (C, nprobe)
# point is a measured recall/cost trade at the repo's deliberately
# LOOSE cosine threshold (0.4 = 66°, the regime that killed the LSH
# lane): at sf0.1 (2,000 vectors, 920 exact pairs) the sweep gave
#   C=32 np=4: 0.60 recall   C=32 np=9: 0.92 @ 1456·n candidates
#   C=64 np=6: 0.92 @ 1134·n candidates   C=64 np=9: 0.99 @ 2520·n
# C=64/np=6 is the knee. A tight-threshold (>= 0.9) deployment drops
# to C=32/nprobe=3 — MEASURED (round 10, constructed 200-twin eval at
# sf0.1, docs/SCALE.md): recall 1.000 at 304k candidates vs the loose
# config's 2.89M (9.5x less verify); C=32/np=2 gives 0.945 at 135k.
# Pinned in tests/test_semantic_ivf.py
# test_ivf_tight_threshold_operating_point.
IMI_TARGET_CELL = 64
# Per-half candidate ranks considered for probing, and the probe
# budget: the nprobe product cells with smallest combined d1+d2 among
# the IMI_PROBE_RANK² rank pairs (multi-sequence order, truncated).
IMI_PROBE_RANK = 3
IVF_NPROBE = 6
IMI_TRAIN_ITERS = 2
# Deterministic training sample: ~this many vectors per centroid —
# the standard IVF practice of training on a slice (FAISS trains on
# 30-256 points/centroid); keeps every Lloyd round O(K1²) not O(n·K1).
IMI_TRAIN_PER_CENT = 32


def _sqd(va: Column, vb: Column) -> Column:
    """Squared L2 between two array<double> columns (Column-typed twin
    of clustering._sq_dist, which takes column names)."""
    return F.aggregate(
        F.zip_with(va, vb, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )


def collapse_identical_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id=min member, v, norm, members) — one row per DISTINCT
    embedding vector; members is the ascending vec_id family list."""
    e = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    pts = e.select("vec_id", _dvec("embedding").alias("v"))
    return (
        pts.groupBy("v")
        .agg(
            F.min("vec_id").alias("vec_id"),
            F.sort_array(F.collect_list("vec_id")).alias("members"),
        )
        .withColumn("norm", _fold_sum(F.zip_with("v", "v", lambda x, y: x * y)))
        .select("vec_id", "v", "norm", "members")
    )


def _half_subvectors(pts: DataFrame, dim: int) -> DataFrame:
    """(vec_id, v) → (vec_id, sub, sv): the two half-space slices."""
    w1 = dim // 2
    slices = F.array(F.slice("v", 1, w1), F.slice("v", w1 + 1, dim - w1))
    return pts.select("vec_id", F.posexplode(slices).alias("sub", "sv"))


def _train_sample(reps: DataFrame, n: int, k1: int) -> DataFrame:
    """Deterministic ~IMI_TRAIN_PER_CENT·K1-row training slice."""
    step = max(1, n // (IMI_TRAIN_PER_CENT * k1))
    return reps.where(F.col("vec_id") % step == 0).select("vec_id", "v")


def init_codebooks(sv: DataFrame, k1: int) -> DataFrame:
    """Deterministic Lloyd init: per half, the K1 DISTINCT subvectors
    with smallest owner vec_id (distinct-first so a replica-duplicated
    corpus cannot seed the same centroid twice). Returns (sub, cid,
    cv) with cid = the owning vec_id.

    Factored out of ``train_codebooks`` because the init alone is
    SQL-expressible — the oracled ``near_dup_embedding_ivf_pinned``
    contract below runs the production assign/probe/verify/CC chain
    against this 0-iteration codebook so a DuckDB twin can replay it.
    """
    w = Window.partitionBy("sub").orderBy("vec_id")
    return (
        sv.groupBy("sub", "sv")
        .agg(F.min("vec_id").alias("vec_id"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k1)
        .select("sub", F.col("vec_id").alias("cid"), F.col("sv").alias("cv"))
    )


def train_codebooks(reps: DataFrame, n: int, k1: int, dim: int) -> DataFrame:
    """Joint sampled Lloyd training of both half-space codebooks.

    Returns (sub, cid, cv). Init is ``init_codebooks`` (deterministic
    distinct-first selection). Each round is one broadcast argmin
    (``pq_assign``) + one grouped dimension-wise average over the
    sample — identical round shape to ``clustering.pq_train``,
    parameterized by k1 and the sample.
    """
    # LAZY checkpoints (round 14): each eager localCheckpoint was its
    # own blocking Spark job, so training a ~32·K1-row sample cost 4+
    # scheduled jobs of almost pure fixed overhead. eager=False keeps
    # the same materialize-once/lineage-cut semantics but folds each
    # materialization into the FIRST job that consumes it (the next
    # round's collected-codebook broadcast build), halving the lane's
    # job count. Cross-round subtree re-execution stays impossible:
    # every round still reads the previous round's materialized
    # blocks, never its lineage.
    sv = _half_subvectors(_train_sample(reps, n, k1), dim).localCheckpoint(eager=False)
    cent = init_codebooks(sv, k1).localCheckpoint(eager=False)
    for _ in range(IMI_TRAIN_ITERS):
        assigned = pq_assign(sv, cent)
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
            .localCheckpoint(eager=False)
        )
    return cent


def build_ivf_index(
    spark: SparkSession, sf_dir: str, target_cell: int = IMI_TARGET_CELL
) -> tuple[DataFrame, DataFrame, int]:
    """(reps, codebooks, dim): the collapsed corpus and its trained
    product-cell codebooks. reps is localCheckpoint'd once per
    invocation — every consumer (training sample, assignment, pair
    verify, member expansion) reads the materialized 4-column frame,
    not the scan. Trained from the parquet inputs on EVERY call — the
    session-scoped memo that let later invocations skip training was
    removed in round 13 (warm bench numbers must measure compute, not
    reuse). ``target_cell`` sizes K1 = ceil(sqrt(n/C)): the registered
    loose-threshold queries use the default C=64; the tight-threshold
    operating point (pinned in tests/test_semantic_ivf.py) uses
    C=32."""
    # Lazy checkpoint + FUSED sizing aggregate (round 14): the count()
    # and max(size) scalars ride one job, and that job is also what
    # materializes the checkpoint — 3 scheduled jobs became 1. Same
    # order-independent dim read as ADVICE r12.
    reps = collapse_identical_vectors(spark, sf_dir).localCheckpoint(eager=False)
    row = reps.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.size("v")).alias("d")
    ).first()
    n = int(row["n"])
    dim = int(row["d"]) if row["d"] is not None else 2
    k1 = max(2, math.ceil(math.sqrt(max(n, 1) / target_cell)))
    cent = train_codebooks(reps, n, k1, dim)
    return reps, cent, dim


def ivf_postings(
    reps: DataFrame, cent: DataFrame, dim: int, nprobe: int | None = None
) -> DataFrame:
    """(vec_id, v, norm, c1, c2): each rep in its IVF_NPROBE probe
    cells — the product cells with the smallest COMBINED half-space
    distance d1 + d2 among the top-IMI_PROBE_RANK candidates per half
    (the multi-sequence probe order of the inverted multi-index,
    Babenko & Lempitsky 2012 §3, truncated to a fixed probe budget).

    The codebook collapses to ONE row (collect_list of 2·K1 centroid
    structs) broadcast against the corpus — a BNLJ whose broadcast
    side is the model artifact, bounded by K1 = ceil(sqrt(n/C))
    (~9 MB of structs even at n = 10^10). Per-row work is two
    array_sort-of-distances over the codebook array plus a sort of
    the IMI_PROBE_RANK² combined cells; NO shuffle of the n·K1
    expansion ever exists (the window-over-crossJoin form
    ``clustering.assign_nearest`` uses for K=8 would shuffle n·K1
    64-double rows here).
    """
    if nprobe is None:
        nprobe = IVF_NPROBE
    cb = cent.agg(F.collect_list(F.struct("sub", "cid", "cv")).alias("cb"))
    w1 = dim // 2

    def tops(half: Column, s: int) -> Column:
        ds = F.transform(
            F.filter(F.col("cb"), lambda c: c.getField("sub") == F.lit(s)),
            lambda c: F.struct(
                _sqd(half, c.getField("cv")).alias("d"),
                c.getField("cid").alias("cid"),
            ),
        )
        # array_sort on (d, cid) structs = argmin with ties to the
        # smaller centroid id — the same tie rule as pq_assign.
        return F.slice(F.array_sort(ds), 1, IMI_PROBE_RANK)

    t1 = tops(F.slice("v", 1, w1), 0)
    t2 = tops(F.slice("v", w1 + 1, dim - w1), 1)
    combos = F.flatten(
        F.transform(
            t1,
            lambda a: F.transform(
                t2,
                lambda b: F.struct(
                    (a.getField("d") + b.getField("d")).alias("d"),
                    a.getField("cid").alias("c1"),
                    b.getField("cid").alias("c2"),
                ),
            ),
        )
    )
    cells = F.slice(F.array_sort(combos), 1, nprobe)
    return (
        reps.crossJoin(F.broadcast(cb))
        .select("vec_id", "v", "norm", F.explode(cells).alias("cell"))
        .select("vec_id", "v", "norm", F.col("cell.c1").alias("c1"), F.col("cell.c2").alias("c2"))
    )


# rows per GEMM block inside a cell: bounds the scored slab at
# GEMM_BLOCK x max_cell float64s (a 5k-row hot cell scores in 43 MB
# slabs instead of one 220 MB matrix).
GEMM_BLOCK = 1024


def ivf_verified_pairs(
    reps: DataFrame,
    cent: DataFrame,
    dim: int,
    threshold: float = COSINE_THRESHOLD,
    nprobe: int | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Rep-level (vec_a < vec_b) pairs with exact cosine >=
    COSINE_THRESHOLD, verified per cell as a blocked Gram matrix.

    The verify is grouped ``applyInPandas`` over (c1, c2): Arrow ships
    each cell's POSTINGS (n·d floats) once and BLAS scores all
    in-cell pairs as X @ X.T in GEMM blocks — the production shape
    for dense vector verify. The first cut expressed the same dots as
    per-pair higher-order expressions inside the cell self-join;
    correct, but HOF folds are interpreted (outside whole-stage
    codegen), and at sf10's measured 453M candidates that verify was
    the whole wall clock (>10 min local); the GEMM form moves the
    same flops into vectorized BLAS and ships ~1000x less data than a
    pair join would (postings, not candidate pairs). A pair caught by
    k probe cells is emitted k times and collapsed by the distinct —
    redundant BLAS flops are far cheaper than deduping pre-verify.

    Numeric note: this query is rows-only at the driver (trained
    index), so the verify needs no cross-engine IEEE parity — BLAS
    accumulation order may differ from the oracle-exact left fold the
    ORACLED exact baseline uses; a pair whose true cosine sits within
    float ulps of the threshold could differ, which the recall tests
    tolerate by construction (floors, not equality).
    """
    p = ivf_postings(reps, cent, dim, nprobe=nprobe)
    thr = threshold

    def verify(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": []}).astype("int64")
        X = np.asarray(pdf["v"].tolist(), dtype=np.float64)
        inv = 1.0 / np.sqrt(pdf["norm"].to_numpy(dtype=np.float64))
        Xn = X * inv[:, None]
        out_a, out_b = [], []
        for s in range(0, len(ids), GEMM_BLOCK):
            blk = Xn[s : s + GEMM_BLOCK]
            S = blk @ Xn.T  # block x all
            bi, cj = np.nonzero(S >= thr)
            gi = bi + s
            keep = cj > gi  # strict upper triangle in global indices
            a, b = ids[gi[keep]], ids[cj[keep]]
            out_a.append(np.minimum(a, b))
            out_b.append(np.maximum(a, b))
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a) if out_a else np.array([], dtype="int64"),
                "vec_b": np.concatenate(out_b) if out_b else np.array([], dtype="int64"),
            }
        )

    out = p.groupBy("c1", "c2").applyInPandas(verify, schema="vec_a long, vec_b long")
    # dedup=False lets a consumer that dedups anyway (the CC input
    # runs its own distinct over the symmetrized edges) skip one full
    # shuffle of the pair table — round 14; emitted SET unchanged.
    return out.distinct() if dedup else out


@query(
    "near_dup_embedding_ivf_clusters",
    meta={
        "lane": "loose-threshold",
        "routing": (
            "Trained inverted multi-index: the scale lane for loose "
            "cosine thresholds (<= ~0.9). Cell count grows with the "
            "corpus so candidates stay linear (ivf_cell_census); "
            "rows-only at the driver (iterative Lloyd) but the full "
            "downstream chain is hash-gated by "
            "near_dup_embedding_ivf_pinned. Tight-threshold traffic "
            "can use near_dup_embedding_lsh instead."
        ),
    },
)
def q_near_dup_embedding_ivf_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup clusters (cosine >= 0.4, min-vec_id labels) via
    the trained inverted multi-index — the registered loose-threshold
    scale route the round-8 census demanded (see module docstring).

    Output contract matches ``near_dup_embedding_clusters``: every
    vector that has at least one cosine >= 0.4 partner (including
    exact-duplicate family members) appears once with its component's
    min vec_id; isolated vectors drop out. Member expansion restores
    collapsed families: a family whose rep joined a component
    inherits that component's label; a >= 2 family whose rep found no
    cross-family partner is its own cluster labeled by the rep (= min
    member, so labels are min-over-members in every case).
    """
    reps, cent, dim = build_ivf_index(spark, sf_dir)
    # dedup=False: connected_components runs distinct() on the
    # symmetrized edge set itself, so the pre-CC distinct was a
    # redundant extra shuffle of the pair table (round 14).
    pairs = ivf_verified_pairs(reps, cent, dim, dedup=False).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    labels = connected_components(pairs).withColumnRenamed("doc_id", "rep")
    fam = reps.select(F.col("vec_id").alias("rep"), "members")
    return (
        fam.join(labels, "rep", "left")
        .where(F.col("cluster_id").isNotNull() | (F.size("members") >= 2))
        .select(
            F.explode("members").alias("vec_id"),
            F.coalesce("cluster_id", F.col("rep")).alias("cluster_id"),
        )
    )


@query("ivf_cell_census")
def q_ivf_cell_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight occupancy census of the trained product-cell index —
    the IVF twin of ``lsh_band_census``/``minhash_band_census``, and
    the query whose cross-scale sweep PROVES the linear-candidates
    claim (docs/SCALE.md round-9 census: cand_pairs grows ~n where
    the sign-LSH census grew ~n²).

    One row: distinct reps indexed, trained cells (K1² product
    space), occupied cells, total postings, the candidate-pair
    workload the cell self-join will enumerate (sum C(occ, 2)), and
    the hottest cell (straggler bound). Runs WITHOUT the pair join —
    one assignment pass + a cell-cardinality-bounded aggregate.
    """
    reps, cent, dim = build_ivf_index(spark, sf_dir)
    occ = ivf_postings(reps, cent, dim).groupBy("c1", "c2").agg(
        F.count(F.lit(1)).alias("n")
    )
    k_per_sub = cent.groupBy("sub").agg(F.count(F.lit(1)).alias("k"))
    # product of the two per-half codebook sizes; exp-sum-log over the
    # 2-row frame, rounded before the cast so 169.0000...3 stays 169.
    trained_cells = k_per_sub.agg(
        F.coalesce(
            to_units(F.exp(F.sum(F.log("k"))), 1), F.lit(0)
        ).alias("trained_cells")
    )
    return occ.agg(
        F.count(F.lit(1)).alias("occupied_cells"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("postings"),
        F.coalesce((F.sum(F.col("n") * (F.col("n") - 1)) / 2).cast("long"), F.lit(0)).alias("cand_pairs"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_cell"),
    ).crossJoin(F.broadcast(trained_cells)).select(
        "trained_cells", "occupied_cells", "postings", "cand_pairs", "max_cell"
    )


# --- pinned-codebook oracled contract ----------------------------------------

# The trained lane above is rows-only at the driver (iterative Lloyd,
# the documented non-SQL-expressible class). But given a FIXED
# codebook, the entire assign -> multi-sequence probe -> in-cell
# candidate join -> exact-cosine verify -> connected-components ->
# member-expansion chain — where an index bug would actually hide —
# is deterministic and SQL-expressible. This contract pins the
# codebook at the 0-iteration Lloyd INIT (per half, the K1 distinct
# subvectors with smallest owner vec_id over the deterministic
# training sample — `init_codebooks`, the exact init production
# training starts from) and replays the whole chain in DuckDB: the
# same collapse, the same K1 = ceil(sqrt(n/C)) sizing, the same
# sample stride, the same (d, cid) argmin tie rule, the same
# truncated multi-sequence probe order, the same left-fold IEEE
# cosine, the same min-label components. Everything the rows-only
# flagship runs except the avg-update loop now sits behind the
# rows+schema+hash gate (VERDICT r9 task #1).
#
# The DECIDING verify here is the in-join left-fold cosine (the dedup
# lane's `cosine`) rather than the GEMM kernel: the fold's IEEE
# addition sequence is what the oracle can replay bit-for-bit. The
# GEMM kernel runs first only as a margin PREFILTER (threshold - 1e-6,
# round 13): BLAS and the fold agree to ~1e-12 relative, so the margin
# admits every pair the fold could accept and the fold then decides
# membership exactly — bit-identical output, ~1000x fewer interpreted
# fold evaluations. The GEMM kernel's own semantics stay pinned by
# tests/test_semantic_ivf.py's subset-of-exact + recall floors.

_CC_ROUNDS = 12  # label distance doubles per round: covers diameter 4096


def _cc_label_chain(rounds: int = _CC_ROUNDS) -> str:
    """SQL CTE chain: min-label connected components over an `edges`
    (src, dst) CTE (symmetric), as `rounds` unrolled hook+jump
    label-doubling steps plus an exact recursive finish on the
    contracted residual. Emits CTEs l0..l{rounds}, ce, creach, clab;
    the caller's `labels` CTE joins l{rounds} with clab."""
    steps = ["""
    l0 AS MATERIALIZED (
      SELECT src AS v, least(src, min(dst)) AS l FROM edges GROUP BY src
    ),"""]
    for k in range(1, rounds + 1):
        steps.append(f"""
    l{k} AS MATERIALIZED (
      SELECT v, min(l) AS l FROM (
        SELECT v, l FROM l{k - 1}
        UNION ALL
        SELECT a.v, b.l FROM l{k - 1} a JOIN l{k - 1} b ON b.v = a.l
        UNION ALL
        SELECT e.src AS v, b.l FROM edges e JOIN l{k - 1} b ON b.v = e.dst
      ) GROUP BY v
    ),""")
    steps.append(f"""
    ce AS MATERIALIZED (
      SELECT DISTINCT a.l AS s, b.l AS d
      FROM edges e
      JOIN l{rounds} a ON a.v = e.src
      JOIN l{rounds} b ON b.v = e.dst
      WHERE a.l <> b.l
    ), creach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT s, d FROM ce
        UNION
        SELECT r.src, e2.d FROM r JOIN ce e2 ON r.dst = e2.s
      )
      SELECT * FROM r
    ), clab AS (
      SELECT src AS cv, least(src, min(dst)) AS cl
      FROM creach GROUP BY src
    ),""")
    return "".join(steps)


_CC_LABEL_CHAIN = _cc_label_chain()

_IVF_PINNED_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), reps AS (
      SELECT min(vec_id) AS vec_id, v, {_O_NORM.format(e='v')} AS norm
      FROM e GROUP BY v
    ), params AS (
      SELECT n, k1, greatest(1, n // ({IMI_TRAIN_PER_CENT} * k1)) AS step,
             dim, dim // 2 AS w1
      FROM (
        SELECT count(*) AS n,
               greatest(2, CAST(ceil(sqrt(count(*) / {float(IMI_TARGET_CELL)}))
                                AS BIGINT)) AS k1,
               (SELECT max(len(v)) FROM e) AS dim
        FROM reps
      )
    ), subv AS (
      SELECT vec_id, 0 AS sub, list_slice(v, 1, w1) AS sv
      FROM reps, params WHERE vec_id % step = 0
      UNION ALL
      SELECT vec_id, 1 AS sub, list_slice(v, w1 + 1, dim) AS sv
      FROM reps, params WHERE vec_id % step = 0
    ), cent AS (
      SELECT sub, vec_id AS cid, sv AS cv
      FROM (
        SELECT sub, sv, min(vec_id) AS vec_id,
               row_number() OVER (PARTITION BY sub ORDER BY min(vec_id)) AS rn
        FROM subv GROUP BY sub, sv
      ), params
      WHERE rn <= k1
    ), rhalf AS (
      SELECT vec_id, 0 AS sub, list_slice(v, 1, w1) AS hv FROM reps, params
      UNION ALL
      SELECT vec_id, 1 AS sub, list_slice(v, w1 + 1, dim) AS hv
      FROM reps, params
    ), halfd AS (
      SELECT r.vec_id, r.sub, c.cid,
             list_reduce([(r.hv[i] - c.cv[i]) * (r.hv[i] - c.cv[i])
                          for i in range(1, len(r.hv) + 1)],
                         (x, y) -> x + y) AS d
      FROM rhalf r JOIN cent c ON c.sub = r.sub
    ), topk AS (
      SELECT vec_id, sub, cid, d,
             row_number() OVER (PARTITION BY vec_id, sub
                                ORDER BY d, cid) AS rn
      FROM halfd
    ), probed AS (
      SELECT vec_id, c1, c2 FROM (
        SELECT a.vec_id, a.cid AS c1, b.cid AS c2,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY a.d + b.d, a.cid, b.cid) AS rn
        FROM (SELECT * FROM topk WHERE sub = 0 AND rn <= {IMI_PROBE_RANK}) a
        JOIN (SELECT * FROM topk WHERE sub = 1 AND rn <= {IMI_PROBE_RANK}) b
          USING (vec_id)
      ) WHERE rn <= {IVF_NPROBE}
    ), cand AS MATERIALIZED (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM probed x JOIN probed y
        ON x.c1 = y.c1 AND x.c2 = y.c2 AND x.vec_id < y.vec_id
    ), pairs AS MATERIALIZED (
      SELECT vec_a, vec_b
      FROM cand
      JOIN reps a ON a.vec_id = cand.vec_a
      JOIN reps b ON b.vec_id = cand.vec_b
      WHERE {_O_DOT} / sqrt(a.norm * b.norm) >= {COSINE_THRESHOLD}
    ), edges AS MATERIALIZED (
      -- MATERIALIZED (like cand/pairs above) is load-bearing: the
      -- label-doubling rounds below each reference edges, and an
      -- inlined edges would re-run the interpreted-dot pairs chain
      -- once per round
      SELECT vec_a AS src, vec_b AS dst FROM pairs
      UNION SELECT vec_b, vec_a FROM pairs
    ),
    -- Connected components WITHOUT a transitive-closure recursion
    -- (round 12): the closure CTE iterated once per path step, and
    -- sf0.1's duplicate chains gave it thousands of recursion rounds
    -- at fixed per-round overhead — 274 s of the oracle's 307 s for
    -- an 11k-row closure. Instead: 12 unrolled hook+jump label-
    -- doubling rounds (each node keeps the min of: its label, its
    -- label's label [pointer jump], its neighbors' labels [hook]) —
    -- label distance doubles per round, so 12 rounds cover any
    -- diameter <= 4096 — then an exact recursive FINISH over the
    -- CONTRACTED residual graph (empty when the doubling already
    -- converged, tiny otherwise), so the result is exact CC for ANY
    -- input, not just ones the unroll happens to cover.
    {_CC_LABEL_CHAIN}
    labels AS (
      SELECT l.v AS rep,
             coalesce(cl.cl, l.l) AS cluster_id
      FROM l{_CC_ROUNDS} l LEFT JOIN clab cl ON cl.cv = l.l
    ), fam AS (
      SELECT v, min(vec_id) AS rep, count(*) AS fn FROM e GROUP BY v
    )
    SELECT e2.vec_id, coalesce(l.cluster_id, f.rep) AS cluster_id
    FROM e e2
    JOIN fam f ON e2.v = f.v
    LEFT JOIN labels l ON l.rep = f.rep
    WHERE l.cluster_id IS NOT NULL OR f.fn >= 2
"""


def ivf_pinned_pair_table(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(reps, verified pairs) for the pinned-init inverted multi-index,
    both localCheckpoint blocks (multi-pass consumers: the CC loop and
    member expansion read the checkpoints, not the scan). Computed
    from the parquet inputs on EVERY call — the session-scoped memo
    was removed in round 13 (warm bench numbers must measure compute,
    not reuse)."""
    # Lazy checkpoint + fused count/dim sizing job (round 14, same as
    # build_ivf_index); order-independent dim read per ADVICE r12.
    reps = collapse_identical_vectors(spark, sf_dir).localCheckpoint(eager=False)
    row = reps.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.size("v")).alias("d")
    ).first()
    n = int(row["n"])
    dim = int(row["d"]) if row["d"] is not None else 2
    k1 = max(2, math.ceil(math.sqrt(max(n, 1) / IMI_TARGET_CELL)))
    cent = init_codebooks(_half_subvectors(_train_sample(reps, n, k1), dim), k1)
    # GEMM margin prefilter, then the exact fold (round-13): the
    # oracled contract needs the left-fold IEEE cosine per pair, which
    # is interpreted and was the wall clock — the pinned init's K1²
    # cells are unbalanced enough that sf0.1 enumerated 1.41M distinct
    # candidates for 838 true pairs. The BLAS Gram-matrix kernel
    # (ivf_verified_pairs) scores all in-cell pairs vectorized at
    # threshold - 1e-6; summation-order differences between BLAS and
    # the left fold are bounded by ~dim²·ulp ≈ 1e-12 relative, so no
    # pair whose FOLD cosine passes the threshold can fall below the
    # margin — the prefilter has no false negatives by construction.
    # The exact fold + threshold then runs on only the ~survivor set
    # (and discards any margin-only extras), so the emitted pair set
    # is BIT-IDENTICAL to folding every candidate (sf0.1: 1.41M fold
    # evaluations + a 1.41M-row distinct -> 838-ish folds; warm 6.0 ->
    # ~3 s, DuckDB hash gate re-verified at sf0.01 + sf0.1).
    cand = ivf_verified_pairs(
        reps, cent, dim, threshold=COSINE_THRESHOLD - 1e-6
    ).select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    va = reps.select(
        F.col("vec_id").alias("src"), F.col("v").alias("va"),
        F.col("norm").alias("norm_a"),
    )
    vb = reps.select(
        F.col("vec_id").alias("dst"), F.col("v").alias("vb"),
        F.col("norm").alias("norm_b"),
    )
    # Lazy: the single-consumer path (connected_components, which
    # materializes its own checkpoint of the symmetrized edges) no
    # longer pays a separate blocking job here, while any multi-pass
    # consumer still reads materialized blocks after the first action.
    pairs = (
        cand.join(va, "src")
        .join(vb, "dst")
        .withColumn("cos_raw", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos_raw") >= COSINE_THRESHOLD)
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )
    return reps, pairs


@query(
    "near_dup_embedding_ivf_pinned",
    oracle=_IVF_PINNED_ORACLE,
    meta={
        "lane": "oracle-contract",
        "routing": (
            "Differential-testing twin of near_dup_embedding_ivf_"
            "clusters with the codebook pinned at the Lloyd init; "
            "production traffic should use the trained lane."
        ),
    },
)
def q_near_dup_embedding_ivf_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup clusters via the inverted multi-index with the
    codebook PINNED at the deterministic Lloyd init — the fully
    oracled twin of ``near_dup_embedding_ivf_clusters``.

    Same output contract as the trained flagship (every vector with a
    cosine >= 0.4 partner appears once, labeled by its component's min
    vec_id; isolated vectors drop out), and the same production code
    path for everything except training: ``collapse_identical_vectors``
    -> ``init_codebooks`` over the ``_train_sample`` stride ->
    ``ivf_postings`` (broadcast-codebook assignment + truncated
    multi-sequence probe order) -> distinct in-cell candidates, each
    verified once with the left-fold IEEE ``cosine`` -> shared
    alternating-star
    ``connected_components`` -> member expansion. The DuckDB twin
    replays every step (see _IVF_PINNED_ORACLE commentary), so the
    whole chain carries the rows+schema+hash gate; only the iterative
    avg-update loop remains rows-only (in the trained flagship).

    Driver-side scalars: one count() (sizes K1) + one first() (reads
    dim) — same bounded-metadata class as ``build_ivf_index``.
    """
    reps, pairs = ivf_pinned_pair_table(spark, sf_dir)
    labels = connected_components(pairs).withColumnRenamed("doc_id", "rep")
    fam = reps.select(F.col("vec_id").alias("rep"), "members")
    return (
        fam.join(labels, "rep", "left")
        .where(F.col("cluster_id").isNotNull() | (F.size("members") >= 2))
        .select(
            F.explode("members").alias("vec_id"),
            F.coalesce("cluster_id", F.col("rep")).alias("cluster_id"),
        )
    )


@query("ivf_train_codebook")
def q_ivf_train_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained product-cell codebook itself, as a registered
    (rows-only) artifact query, exploded to scalar rows
    (sub, cid, dim_idx, value) — the model file a real IVF deployment
    ships to workers. Rows-only at the driver because Lloyd is the
    documented iterative class; everything DOWNSTREAM of a codebook is
    hash-gated by ``near_dup_embedding_ivf_pinned``, the INIT the
    Lloyd loop starts from is hash-gated by ``ivf_init_codebook``,
    and the trained lane's recall is floor-pinned in
    tests/test_semantic_ivf.py. The census row bound is 2*K1*dim =
    2*ceil(sqrt(n/C))*dim — sublinear in the corpus.

    Exploded rather than array<double>-valued (r10 postmortem): the
    driver canonicalizes results with a pandas sort over every output
    column, and pandas cannot factorize list cells — an array-typed
    column crashes the harness before even the rows-only count. Every
    registered query therefore emits scalar columns only (enforced for
    rows-only queries by tests/test_oracle_parity.py; oracled queries
    hit the same constraint through compare()'s canonical sort)."""
    _, cent, _ = build_ivf_index(spark, sf_dir)
    return cent.select("sub", "cid", F.posexplode("cv").alias("dim_idx", "value"))


_IVF_INIT_CODEBOOK_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), reps AS (
      SELECT min(vec_id) AS vec_id, v FROM e GROUP BY v
    ), params AS (
      SELECT n, k1, greatest(1, n // ({IMI_TRAIN_PER_CENT} * k1)) AS step,
             dim, dim // 2 AS w1
      FROM (
        SELECT count(*) AS n,
               greatest(2, CAST(ceil(sqrt(count(*) / {float(IMI_TARGET_CELL)}))
                                AS BIGINT)) AS k1,
               (SELECT max(len(v)) FROM e) AS dim
        FROM reps
      )
    ), subv AS (
      SELECT vec_id, 0 AS sub, list_slice(v, 1, w1) AS sv
      FROM reps, params WHERE vec_id % step = 0
      UNION ALL
      SELECT vec_id, 1 AS sub, list_slice(v, w1 + 1, dim) AS sv
      FROM reps, params WHERE vec_id % step = 0
    ), cent AS (
      SELECT sub, vec_id AS cid, sv AS cv
      FROM (
        SELECT sub, sv, min(vec_id) AS vec_id,
               row_number() OVER (PARTITION BY sub ORDER BY min(vec_id)) AS rn
        FROM subv GROUP BY sub, sv
      ), params
      WHERE rn <= k1
    )
    SELECT sub, cid, CAST(i - 1 AS INT) AS dim_idx, cv[i] AS value
    FROM cent, LATERAL (SELECT unnest(generate_series(1, len(cv))) AS i) gs
"""


@query("ivf_init_codebook", oracle=_IVF_INIT_CODEBOOK_ORACLE)
def q_ivf_init_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic Lloyd-INIT codebook, exploded to scalar rows
    (sub, cid, dim_idx, value) and put behind a full rows+schema+hash
    DuckDB gate — graduating the pinned artifact itself to an oracle
    (VERDICT r10 task #1's second half).

    ``near_dup_embedding_ivf_pinned`` hash-gates everything DOWNSTREAM
    of this codebook (assign → probe → verify → CC → expansion); this
    query hash-gates the codebook CONSTRUCTION: identical-vector
    collapse, K1 = ceil(sqrt(n/C)) sizing, the deterministic training
    stride, half-space slicing, and the distinct-first min-vec_id
    selection. Together the two leave only the Lloyd avg-update loop
    rows-only (``ivf_train_codebook``). Values are raw float→double
    casts of parquet data — no arithmetic — so the hash gate is exact
    by construction.

    Driver-side scalars: one count() (sizes K1) + one first() (reads
    dim) — the same bounded-metadata class as ``build_ivf_index``.
    """
    # Lazy checkpoint + fused count/dim sizing job (round 14): reps
    # feeds the sizing aggregate, the training-sample filter and the
    # subvector slicing — without a checkpoint the collapse aggregate
    # re-executed for each; order-independent dim read per ADVICE r12.
    reps = collapse_identical_vectors(spark, sf_dir).localCheckpoint(eager=False)
    row = reps.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.size("v")).alias("d")
    ).first()
    n = int(row["n"])
    dim = int(row["d"]) if row["d"] is not None else 2
    k1 = max(2, math.ceil(math.sqrt(max(n, 1) / IMI_TARGET_CELL)))
    cent = init_codebooks(_half_subvectors(_train_sample(reps, n, k1), dim), k1)
    return cent.select("sub", "cid", F.posexplode("cv").alias("dim_idx", "value"))


# --- incremental index maintenance (append-only postings contract) -----------

# A production IVF deployment does NOT rebuild the index when new
# vectors arrive: the shipped codebook is FROZEN, new vectors are
# assigned to its cells, and only cells receiving new postings need
# pair re-verification. This contract registers that property the
# same way sequence_packing_incremental does for packing: split the
# corpus at a deterministic vec_id prefix (kk = (max rep id div 10)*7),
# pin the codebook at the BASE prefix's Lloyd init, assign BOTH the
# base and the full corpus with that frozen codebook, and emit
# postings(full) EXCEPT ALL postings(base) — exactly the rows an
# incremental maintainer appends. Because the codebook is frozen and
# delta vec_ids are strictly larger, base reps' assignments are
# provably unchanged (pinned in tests/test_semantic_ivf.py: every
# emitted vec_id > kk), so at 100 TB appends cost O(delta) assignment
# FLOPs plus re-verification of touched cells only — never a rebuild.


def _oracle_probed_chain(rep_src: str, p: str) -> str:
    """The assign/probe CTE chain of _IVF_PINNED_ORACLE, parameterized
    by source rep relation and CTE prefix so the incremental contract
    can replay it for base and full against one frozen codebook."""
    return f"""{p}rhalf AS (
      SELECT vec_id, 0 AS sub, list_slice(v, 1, w1) AS hv
      FROM {rep_src}, params
      UNION ALL
      SELECT vec_id, 1 AS sub, list_slice(v, w1 + 1, dim) AS hv
      FROM {rep_src}, params
    ), {p}halfd AS (
      SELECT r.vec_id, r.sub, c.cid,
             list_reduce([(r.hv[i] - c.cv[i]) * (r.hv[i] - c.cv[i])
                          for i in range(1, len(r.hv) + 1)],
                         (x, y) -> x + y) AS d
      FROM {p}rhalf r JOIN cent c ON c.sub = r.sub
    ), {p}topk AS (
      SELECT vec_id, sub, cid, d,
             row_number() OVER (PARTITION BY vec_id, sub
                                ORDER BY d, cid) AS rn
      FROM {p}halfd
    ), {p}probed AS (
      SELECT vec_id, c1, c2 FROM (
        SELECT a.vec_id, a.cid AS c1, b.cid AS c2,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY a.d + b.d, a.cid, b.cid) AS rn
        FROM (SELECT * FROM {p}topk
              WHERE sub = 0 AND rn <= {IMI_PROBE_RANK}) a
        JOIN (SELECT * FROM {p}topk
              WHERE sub = 1 AND rn <= {IMI_PROBE_RANK}) b
          USING (vec_id)
      ) WHERE rn <= {IVF_NPROBE}
    )"""


_IVF_INCR_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), reps AS (
      SELECT min(vec_id) AS vec_id, v FROM e GROUP BY v
    ), k AS (
      SELECT (max(vec_id) // 10) * 7 AS kk FROM reps
    ), rbase AS (
      SELECT vec_id, v FROM reps, k WHERE vec_id <= kk
    ), params AS (
      SELECT n, k1, greatest(1, n // ({IMI_TRAIN_PER_CENT} * k1)) AS step,
             dim, dim // 2 AS w1
      FROM (
        SELECT count(*) AS n,
               greatest(2, CAST(ceil(sqrt(count(*) / {float(IMI_TARGET_CELL)}))
                                AS BIGINT)) AS k1,
               (SELECT max(len(v)) FROM e) AS dim
        FROM rbase
      )
    ), subv AS (
      SELECT vec_id, 0 AS sub, list_slice(v, 1, w1) AS sv
      FROM rbase, params WHERE vec_id % step = 0
      UNION ALL
      SELECT vec_id, 1 AS sub, list_slice(v, w1 + 1, dim) AS sv
      FROM rbase, params WHERE vec_id % step = 0
    ), cent AS (
      SELECT sub, vec_id AS cid, sv AS cv
      FROM (
        SELECT sub, sv, min(vec_id) AS vec_id,
               row_number() OVER (PARTITION BY sub ORDER BY min(vec_id)) AS rn
        FROM subv GROUP BY sub, sv
      ), params
      WHERE rn <= k1
    ), {_oracle_probed_chain("reps", "f")}, {_oracle_probed_chain("rbase", "b")}
    SELECT vec_id, c1, c2 FROM fprobed
    EXCEPT ALL
    SELECT vec_id, c1, c2 FROM bprobed
"""


@query(
    "ivf_incremental_postings",
    oracle=_IVF_INCR_ORACLE,
    meta={
        "lane": "index-maintenance",
        "routing": (
            "Append-only IVF maintenance contract: postings added by "
            "a corpus append under a frozen (base-trained) codebook. "
            "Use to size incremental re-verification; full-corpus "
            "traffic uses near_dup_embedding_ivf_clusters."
        ),
    },
)
def q_ivf_incremental_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, c1, c2) postings an append adds under a frozen
    codebook — postings(full) EXCEPT ALL postings(base prefix), with
    the codebook pinned at the base prefix's deterministic Lloyd init
    (the oracle replays every step; see section comment).

    Driver-side scalars: one count() + one first() (codebook sizing),
    the same bounded-metadata class as the other IVF queries.
    """
    reps_full = collapse_identical_vectors(spark, sf_dir).localCheckpoint(eager=False)
    kf = reps_full.agg(F.max("vec_id").alias("mx")).select(
        (
            F.call_function("div", F.col("mx"), F.lit(10).cast("long")) * 7
        ).alias("kk")
    )
    base = (
        reps_full.crossJoin(F.broadcast(kf))
        .where(F.col("vec_id") <= F.col("kk"))
        .select("vec_id", "v", "norm")
        .localCheckpoint(eager=False)
    )
    # Fused count/dim sizing job (round 14); order-independent dim
    # read per ADVICE r12 — see the codebook sites above.
    row = base.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.size("v")).alias("d")
    ).first()
    n = int(row["n"])
    dim = int(row["d"]) if row["d"] is not None else 2
    k1 = max(2, math.ceil(math.sqrt(max(n, 1) / IMI_TARGET_CELL)))
    cent = init_codebooks(_half_subvectors(_train_sample(base, n, k1), dim), k1)
    # Frozen-codebook assignment is a pure per-row function of the
    # vector, so postings(base) == postings(full) WHERE vec_id <= kk
    # and the delta is ONE assignment pass + a filter — no second pass,
    # no exceptAll shuffle (103 -> ~45 s at sf10). The theorem is not
    # assumed silently: the ORACLE computes the literal
    # postings(full) EXCEPT ALL postings(base) from two assignment
    # replays, so the driver hash gate proves the filter form equals
    # the subtraction form; tests/test_semantic_ivf.py additionally
    # pins the equality in-engine at test scale.
    post_full = ivf_postings(reps_full, cent, dim).select("vec_id", "c1", "c2")
    return post_full.crossJoin(F.broadcast(kf)).where(
        F.col("vec_id") > F.col("kk")
    ).select("vec_id", "c1", "c2")
