"""functions/vectors.py: the fold helpers, their numpy twins, the
exact top-k kernel behind knn_cosine_bruteforce and ivf_knn_cosine,
and the exact threshold-pair kernel behind the embedding near-dup
lanes."""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mapreduce_lab_spark import registry
from mapreduce_lab_spark.functions import vectors
from mapreduce_lab_spark.functions.vectors import (
    cosine,
    exact_pairs,
    fold_dot,
    norm_sq,
    np_fold_dot,
    np_sq_dist,
    sq_dist,
)
from mapreduce_lab_spark.operators.dedup import COSINE_THRESHOLD, _dvec
from mapreduce_lab_spark.sources.tables import TABLES, load_table
from mapreduce_lab_spark.testing import compare, duckdb_connect


def _mixed_vectors(rng: np.random.Generator, n: int, d: int) -> np.ndarray:
    """float32 vectors whose components span 12 orders of magnitude
    with both signs, so summation order shows in the last bits."""
    mant = rng.standard_normal((n, d))
    return (mant * 10.0 ** rng.integers(-6, 6, (n, d))).astype(np.float32)


@pytest.mark.parametrize("codegen", ["true", "false"])
def test_fold_helpers_match_numpy_twins_bit_for_bit(spark, codegen):
    rng = np.random.default_rng(11)
    a, b = _mixed_vectors(rng, 300, 64), _mixed_vectors(rng, 300, 64)
    df = spark.createDataFrame(
        [(i, a[i].tolist(), b[i].tolist()) for i in range(len(a))],
        "i long, a array<float>, b array<float>",
    ).select(
        "i",
        F.transform("a", lambda x: x.cast("double")).alias("a"),
        F.transform("b", lambda x: x.cast("double")).alias("b"),
    )
    prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", codegen)
    try:
        rows = df.select(
            "i",
            fold_dot("a", "b").alias("dot"),
            norm_sq("a").alias("norm"),
            sq_dist("a", "b").alias("d"),
        ).orderBy("i").collect()
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", prev)
    a64, b64 = a.astype(np.float64), b.astype(np.float64)
    got = np.array([[r["dot"], r["norm"], r["d"]] for r in rows])
    exp = np.stack([np_fold_dot(a64, b64), np_fold_dot(a64, a64), np_sq_dist(a64, b64)], axis=1)
    assert got.tobytes() == exp.tobytes()
    # The twin matters: a pairwise np.sum differs from the fold here.
    assert not np.array_equal(np.sum(a64 * b64, axis=1), exp[:, 0])


def test_knn_and_ivf_match_oracle_with_tiny_arrow_batches(spark, duck, sf_dir):
    """7-row Arrow batches: every task merges many batch top-k's."""
    queries = registry.queries()
    oracles = registry.oracles()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        for name in ("knn_cosine_bruteforce", "ivf_knn_cosine"):
            res = compare(name, queries[name](spark, sf_dir), duck, oracles[name])
            assert res.ok, f"{name}: {res.detail}"
    finally:
        spark.conf.set(key, prev)


@pytest.fixture(scope="module")
def zero_norm_dir(sf_dir, tmp_path_factory):
    """sf_dir with query vector 2 and corpus vector 100 set to all-zero."""
    out = tmp_path_factory.mktemp("zero_norm")
    for t in TABLES:
        if t != "embeddings":
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), out / f"{t}.parquet")
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pandas()
    d = len(emb["embedding"].iloc[0])
    for vid in (2, 100):
        (row,) = np.flatnonzero(emb["vec_id"].to_numpy() == vid)
        emb.at[row, "embedding"] = np.zeros(d, dtype=np.float32)
    emb.to_parquet(out / "embeddings.parquet", index=False)
    return str(out)


@pytest.mark.parametrize(
    "name",
    ["knn_cosine_bruteforce", "ivf_knn_cosine", "ann_lsh_cosine", "ann_lsh_multiprobe"],
)
def test_zero_norm_vectors_score_null_like_duckdb(spark, zero_norm_dir, name):
    """0/sqrt(0) is NULL in DuckDB and ranks last in both engines;
    under ANSI a plain Spark divide raised DIVIDE_BY_ZERO here."""
    df = registry.queries()[name](spark, zero_norm_dir)
    con = duckdb_connect(zero_norm_dir)
    try:
        res = compare(name, df, con, registry.oracles()[name])
    finally:
        con.close()
    assert res.ok, f"{name}: {res.detail}"
    nulls = df.filter(F.col("query_id") == 2).filter(F.col("cosine").isNull()).count()
    assert nulls > 0, "the zeroed query vector must score NULL"


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", _dvec("embedding").alias("v"))
        .localCheckpoint()
    )


@pytest.fixture(scope="module")
def fold_pairs(emb):
    """{(vec_a, vec_b): cos_raw} of every pair the Spark ``cosine``
    fold scores >= COSINE_THRESHOLD, with no prescreen."""
    e = emb.withColumn("norm", norm_sq("v"))
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("norm").alias("norm_a")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("norm").alias("norm_b")
    )
    rows = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cosine("va", "vb", "norm_a", "norm_b").alias("cos_raw"))
        .where(F.col("cos_raw") >= COSINE_THRESHOLD)
        .collect()
    )
    assert rows, "fixture has no near-dup pairs; the kernel tests are vacuous"
    return {(r.vec_a, r.vec_b): r.cos_raw for r in rows}


def test_exact_pairs_equal_the_spark_fold_across_many_blocks(
    spark, emb, fold_pairs, monkeypatch
):
    """One group of every vector, scored in 7-row BLAS blocks: the same
    pair set as the unfiltered all-pairs fold, and bit-equal cos_raw."""
    # The closure is pickled by value with the module's globals, so a
    # block size of 0 (range() step 0) failing on the workers shows the
    # patched value reaches them.
    monkeypatch.setattr(vectors, "_GEMM_BLOCK", 0)
    with pytest.raises(Exception, match="must not be zero"):
        exact_pairs(emb, [], COSINE_THRESHOLD).collect()
    monkeypatch.setattr(vectors, "_GEMM_BLOCK", 7)
    assert emb.count() > 20 * 7
    rows = exact_pairs(emb, [], COSINE_THRESHOLD).collect()
    got = {(r.vec_a, r.vec_b): r.cos_raw for r in rows}
    assert len(got) == len(rows), "a pair was emitted twice from one group"
    assert got == fold_pairs


def test_exact_pairs_emit_a_pair_once_per_shared_group(emb, fold_pairs):
    """Every vector is in group 0 and in group 1 + vec_id % 2, so a pair
    of equal parity shares two groups and is emitted twice."""
    grouped = emb.select(
        "vec_id", "v", F.explode(F.array(F.lit(0), 1 + F.col("vec_id") % 2)).alias("g")
    )
    rows = exact_pairs(grouped, ["g"], COSINE_THRESHOLD).collect()
    assert Counter((r.vec_a, r.vec_b) for r in rows) == {
        (a, b): 1 + (a % 2 == b % 2) for a, b in fold_pairs
    }
    assert all(r.cos_raw == fold_pairs[(r.vec_a, r.vec_b)] for r in rows)


@pytest.mark.parametrize(
    "name",
    ["near_dup_embedding_cosine", "near_dup_embedding_lsh", "near_dup_embedding_ivf_pinned"],
)
def test_zero_norm_vectors_never_pair_like_duckdb(spark, zero_norm_dir, name):
    """A zero-norm vector's cosine is NULL in DuckDB and never clears the
    threshold; in the kernel it scores NaN in BLAS and never survives."""
    df = registry.queries()[name](spark, zero_norm_dir)
    con = duckdb_connect(zero_norm_dir)
    try:
        res = compare(name, df, con, registry.oracles()[name])
    finally:
        con.close()
    assert res.ok, f"{name}: {res.detail}"
    if "vec_a" in df.columns:
        zero = F.col("vec_a").isin(2, 100) | F.col("vec_b").isin(2, 100)
        assert df.filter(zero).count() == 0
