"""Vector math over embedding arrays, defined once.

Every norm, dot product and squared distance in the engine is a left
fold in index order, ``acc + x_i * y_i`` from ``0.0`` over the
double-cast elements: the same IEEE addition sequence as the DuckDB
oracle's ``list_dot_product`` / ``list_reduce``, hence bit-identical
across engines (pinned in tests/test_cross_engine_primitives.py).

- ``fold_dot`` / ``norm_sq`` / ``sq_dist`` / ``cosine`` build that
  fold as Spark Columns.
- ``np_fold_dot`` / ``np_sq_dist`` are the numpy twins for Arrow-batch
  kernels. ``np.cumsum`` accumulates sequentially, so its last element
  is the fold bit for bit; ``np.sum`` sums pairwise and is not.
- ``exact_topk`` is the top-k kernel: one ``mapInPandas`` pass that
  prescreens with BLAS and emits the oracle-exact cosine of the
  survivors, so Spark only ranks and rounds.
- ``exact_pairs`` is the threshold kernel: one grouped
  ``applyInPandas`` pass that prescreens each group's pairs with BLAS
  and emits the oracle-exact cosine of the pairs that clear the
  threshold, so Spark only rounds.

Only this module multiplies matrices (tests/test_plan_hygiene.py).
"""

from __future__ import annotations

import sys

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# The kernel closure calls this module's numpy twins on executors,
# which must not need mapreduce_lab_spark on their path: ship the
# module inside the pickled closure (same as streaming/jobs.py).
try:
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
except (ImportError, AttributeError):  # pragma: no cover - old pyspark
    pass

# Margin of every BLAS prescreen: |BLAS cosine - fold cosine| is
# ~1e-12 relative at d = 64, far under 1e-6, so a prescreen at the
# cut minus this margin drops no pair the fold would keep.
_GEMM_MARGIN = 1e-6
# Rows per BLAS block in ``exact_pairs``: bounds the scored slab at
# _GEMM_BLOCK x group-size float64s (a 5k-row hot cell scores in
# 43 MB slabs instead of one 220 MB matrix).
_GEMM_BLOCK = 1024


def _fold(terms: Column, zero: Column) -> Column:
    return F.aggregate(terms, zero, lambda acc, x: acc + x)


def fold_dot(va: str | Column, vb: str | Column) -> Column:
    """sum(x_i * y_i) as an index-ordered left fold from 0.0."""
    return _fold(F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0))


def norm_sq(v: str | Column) -> Column:
    """Squared L2 norm: ``fold_dot(v, v)``."""
    return fold_dot(v, v)


def sq_dist(va: str | Column, vb: str | Column, zero: Column | None = None) -> Column:
    """sum((x_i - y_i)^2) as a left fold; ``zero`` sets the accumulator
    (default double 0.0; a long zero keeps integer lattices exact)."""
    terms = F.zip_with(va, vb, lambda x, y: (x - y) * (x - y))
    return _fold(terms, F.lit(0.0) if zero is None else zero)


def cosine(va: str | Column, vb: str | Column, na: str, nb: str) -> Column:
    """``fold_dot / sqrt(na * nb)``, NULL when the norm product is 0.

    DuckDB's ``0 / sqrt(0)`` is NULL; Spark's ``/`` raises
    ``DIVIDE_BY_ZERO`` under ANSI, so a single all-zero embedding would
    fail the query. ``try_divide`` gives the oracle's NULL.
    """
    return F.try_divide(fold_dot(va, vb), F.sqrt(F.col(na) * F.col(nb)))


def top_k(scored: DataFrame, k: int, *carry: str | Column) -> DataFrame:
    """Each query's k best rows of ``scored`` (query_id, neighbor_id,
    cos_raw, ...) by (cos_raw desc with NULLs last, neighbor_id asc),
    as (query_id, neighbor_id, *carry, rank, cosine rounded to 6)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", *carry, "rank", F.round("cos_raw", 6).alias("cosine"))
    )


def _np_fold(terms: np.ndarray) -> np.ndarray:
    if not terms.shape[-1]:
        return np.zeros(terms.shape[:-1])
    # "+ 0.0": the fold starts from +0.0, so a sum of -0.0 terms is +0.0.
    return np.cumsum(terms, axis=-1)[..., -1] + 0.0


def np_fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Numpy twin of ``fold_dot`` over the last axis (float64 inputs)."""
    return _np_fold(a * b)


def np_sq_dist(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Numpy twin of ``sq_dist`` over the last axis (float64 inputs)."""
    d = a - b
    return _np_fold(d * d)


def _nearest(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Row index into ``C`` of each row of ``X``'s nearest centroid by
    ``np_sq_dist``; ties go to the lower index (argmin's first hit)."""
    return np.argmin(np.stack([np_sq_dist(X, c) for c in C], axis=1), axis=1)


def pinned_rows(vecs: DataFrame, below: int) -> tuple[int, list]:
    """One driver job: the row count of ``vecs`` and its
    (vec_id, embedding) rows with ``vec_id < below``, the bounded
    query/centroid set the kernel ships in its closure."""
    row = vecs.agg(
        F.count(F.lit(1)).alias("n"),
        F.collect_list(
            F.when(F.col("vec_id") < below, F.struct("vec_id", "embedding"))
        ).alias("pinned"),
    ).first()
    return row["n"], row["pinned"]


def exact_topk(
    vecs: DataFrame,
    pinned: list,
    n_queries: int,
    k: int,
    n_cells: int = 0,
) -> DataFrame:
    """Exact top-k cosine neighbors of the pinned queries
    (``vec_id < n_queries``) over ``vecs`` (vec_id, embedding), as
    (query_id, neighbor_id, rank, cosine).

    One ``mapInPandas`` pass; per Arrow batch and query:

    1. BLAS prescreen: keep the candidates whose BLAS cosine is within
       ``2 * _GEMM_MARGIN`` of the batch's k-th best, plus every
       non-finite score (zero norms). Lossless: a row in the batch's
       exact top-k has a fold cosine >= the k-th best fold >= the k-th
       best BLAS - the margin, so its own BLAS cosine clears the cut.
    2. The oracle-exact cosine of the survivors,
       ``np_fold_dot / sqrt(norm_q * norm_c)`` with folded norms, NULL
       where the norm product is 0.
    3. Emit the batch's exact top-k by (cos desc, NULLs last, id asc).

    The global top-k is contained in the union of the batch top-k's, so
    Spark's ``top_k`` window over them emits the rows of folding every
    pair. With ``n_cells`` > 0 (IVF, nprobe=1), the pinned rows with
    ``vec_id < n_cells`` are the centroids: every vector goes to its
    nearest centroid by ``np_sq_dist`` (ties to the smaller id) and
    only same-cell pairs are scored.

    ``pinned`` comes from ``pinned_rows``: the bounded query and
    centroid set, collected once and shipped in the closure; the
    corpus never leaves the executors.
    """
    pinned = sorted(pinned, key=lambda r: r["vec_id"])
    q_ids = [r["vec_id"] for r in pinned if r["vec_id"] < n_queries]
    q_vecs = [list(r["embedding"]) for r in pinned if r["vec_id"] < n_queries]
    c_vecs = [list(r["embedding"]) for r in pinned if r["vec_id"] < n_cells]

    def topk(batches):
        import pandas as pd

        qid = np.asarray(q_ids, dtype=np.int64)
        Q = np.asarray(q_vecs, dtype=np.float64)
        active = len(qid) > 0 and (not n_cells or len(c_vecs) > 0)
        if active:
            qn = np_fold_dot(Q, Q)
            with np.errstate(divide="ignore", invalid="ignore"):
                Qn = Q / np.sqrt(qn)[:, None]
            if n_cells:
                C = np.asarray(c_vecs, dtype=np.float64)
                qcell = _nearest(Q, C)
        for pdf in batches:
            if not len(pdf) or not active:
                continue
            ids = pdf["vec_id"].to_numpy()
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cn = np_fold_dot(X, X)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = Qn @ (X / np.sqrt(cn)[:, None]).T  # |Q| x batch
            cell = _nearest(X, C) if n_cells else None
            out_q, out_n, out_cos, out_null = [], [], [], []
            for i in range(len(qid)):
                keep = ids != qid[i]
                if cell is not None:
                    keep &= cell == qcell[i]
                s = S[i]
                finite = np.isfinite(s)
                sv = s[keep & finite]
                if len(sv) > k:
                    cut = np.partition(sv, -k)[-k] - 2 * _GEMM_MARGIN
                    keep &= ~finite | (s >= cut)
                idx = np.flatnonzero(keep)
                den = np.sqrt(qn[i] * cn[idx])
                null = den == 0
                cos = np_fold_dot(Q[i], X[idx]) / np.where(null, 1.0, den)
                top = np.lexsort((ids[idx], -np.where(null, 0.0, cos), null))[:k]
                out_q.append(np.full(len(top), qid[i]))
                out_n.append(ids[idx[top]])
                out_cos.append(cos[top])
                out_null.append(null[top])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    # A masked column: Arrow sends the mask as NULL.
                    "cos_raw": pd.arrays.FloatingArray(
                        np.concatenate(out_cos), np.concatenate(out_null)
                    ),
                }
            )

    scored = vecs.select("vec_id", "embedding").mapInPandas(
        topk, schema="query_id long, neighbor_id long, cos_raw double"
    )
    return top_k(scored, k)


def exact_pairs(vecs: DataFrame, group_cols: list[str], threshold: float) -> DataFrame:
    """Every pair of ``vecs`` (vec_id, v, *group_cols) that shares a
    group and whose oracle-exact cosine is >= ``threshold``, as
    (vec_a < vec_b, cos_raw). ``v`` is the double-cast embedding; no
    ``group_cols`` makes the whole frame one group.

    One grouped ``applyInPandas`` pass; per group:

    1. BLAS prescreen of the upper triangle in ``_GEMM_BLOCK``-row
       slabs at ``threshold - _GEMM_MARGIN``. A zero-norm vector
       scores NaN, which never passes, as the oracle's NULL cosine
       never does.
    2. ``np_fold_dot / sqrt(norm_a * norm_b)`` on the survivors, with
       the norms folded in the kernel: bit for bit the Spark
       ``cosine``, folded in chunks no larger than the slab.
    3. Keep the pairs with ``cos_raw >= threshold``.

    A pair that shares k groups is emitted k times, with the same
    ``cos_raw``; callers that need a set take ``distinct``.
    """

    def pairs(pdf):
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        out_a, out_b, out_cos = [ids[:0]], [ids[:0]], [np.zeros(0)]
        if len(ids) >= 2:
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            norm = np_fold_dot(X, X)
            with np.errstate(divide="ignore", invalid="ignore"):
                Xn = X / np.sqrt(norm)[:, None]
            for s in range(0, len(ids), _GEMM_BLOCK):
                S = Xn[s : s + _GEMM_BLOCK] @ Xn[s:].T  # block x (rows >= s)
                bi, cj = np.nonzero(S >= threshold - _GEMM_MARGIN)
                upper = cj > bi
                i, j = bi[upper] + s, cj[upper] + s
                step = max(1, S.size // max(1, X.shape[1]))
                for c in range(0, len(i), step):
                    ic, jc = i[c : c + step], j[c : c + step]
                    cos = np_fold_dot(X[ic], X[jc]) / np.sqrt(norm[ic] * norm[jc])
                    ok = cos >= threshold
                    a, b = ids[ic[ok]], ids[jc[ok]]
                    out_a.append(np.minimum(a, b))
                    out_b.append(np.maximum(a, b))
                    out_cos.append(cos[ok])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cos_raw": np.concatenate(out_cos),
            }
        )

    return (
        vecs.select("vec_id", "v", *group_cols)
        .groupBy(*group_cols)
        .applyInPandas(pairs, schema="vec_a long, vec_b long, cos_raw double")
    )
