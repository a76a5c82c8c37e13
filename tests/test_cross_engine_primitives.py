"""Direct adversarial parity fuzz for the cross-engine primitive twins
every oracle stands on (round 12): ``hex8_int`` / ``perm_hash`` /
``to_units`` / ``exact_ratio`` vs their DuckDB twin strings.

Until now the twins were only exercised TRANSITIVELY, through oracled
queries over the ASCII fixture tables — so a divergence on inputs the
fixtures never produce (non-ASCII, control characters incl. the
chr(31) the BPE oracle uses as a delimiter, hex prefixes that start
with many zeros, negative/huge unit values) would surface as a
confusing downstream hash mismatch, or not at all until real data
hits it. This file compares the primitives THEMSELVES, value by
value, over adversarial and random inputs.
"""

from __future__ import annotations

import math
import random

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.fuzzbudget import examples
from pyspark.sql import functions as F

from mapreduce_lab_spark.functions.hashing import (
    MINHASH_PERMS,
    hex8_int,
    oracle_hex8_int,
    oracle_perm_hash,
    perm_hash,
)
from mapreduce_lab_spark.functions.numeric import (
    exact_ratio,
    oracle_exact_ratio,
    oracle_units,
    to_units,
)

# Deliberately nasty corpus: empty, whitespace, ASCII controls
# (incl. the BPE delimiter \x1f), md5-prefix edge seeds, non-ASCII
# BMP and astral code points, combining marks, long strings.
ADVERSARIAL = [
    "",
    " ",
    "\t\n\r",
    "\x1f",
    "a\x1fb",
    "\x01\x02\x03",
    "hello",
    "HELLO",
    "0", "00000000",
    "é", "café", "naïve",
    "日本語のテキスト",
    "🦀🚀", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢",
    "é",  # combining acute
    "x" * 10_000,
    "word:" + "9" * 100,
    "  ",  # line/para separators
]


def _spark_hex8(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [
        r.h for r in df.select(hex8_int(F.col("s")).alias("h")).collect()
    ]


def _duck_hex8(values):
    con = duckdb.connect()
    try:
        con.register("t", pd.DataFrame({"s": values}))
        return [
            r[0]
            for r in con.execute(
                f"SELECT {oracle_hex8_int('s')} FROM t"
            ).fetchall()
        ]
    finally:
        con.close()


def test_hex8_int_parity_adversarial(spark):
    assert _spark_hex8(spark, ADVERSARIAL) == _duck_hex8(ADVERSARIAL)


@settings(max_examples=examples(25), deadline=None)
@given(st.lists(st.text(min_size=0, max_size=60), min_size=1, max_size=24))
def test_hex8_int_parity_fuzz(spark, values):
    # Spark strings cannot hold unpaired surrogates; Hypothesis text()
    # is already surrogate-free, so pass through unchanged.
    assert _spark_hex8(spark, values) == _duck_hex8(values)


def test_perm_hash_parity_all_perms(spark):
    """Every MinHash permutation (a, b) must agree on the full
    adversarial corpus — these feed banded LSH bucket ids, where a
    single divergent value silently changes candidate sets."""
    df = spark.createDataFrame([(v,) for v in ADVERSARIAL], "s string")
    x = hex8_int(F.col("s"))
    cols = [
        perm_hash(x, a, b).alias(f"p{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    got = [tuple(r) for r in df.select(*cols).collect()]
    con = duckdb.connect()
    try:
        con.register("t", pd.DataFrame({"s": ADVERSARIAL}))
        hx = oracle_hex8_int("s")
        sel = ", ".join(
            oracle_perm_hash(hx, a, b) for a, b in MINHASH_PERMS
        )
        exp = con.execute(f"SELECT {sel} FROM t").fetchall()
    finally:
        con.close()
    assert got == [tuple(r) for r in exp]


@settings(max_examples=examples(20), deadline=None)
@given(
    st.lists(
        st.tuples(
            # representable-at-2dp money values, incl. negatives
            st.integers(-10_000_000, 10_000_000).map(lambda c: c / 100),
            st.integers(1, 1_000_000),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_units_and_ratio_parity_fuzz(spark, rows):
    df = spark.createDataFrame(rows, "v double, d long")
    got = [
        (r.u, r.r)
        for r in df.select(
            to_units(F.col("v"), 100).alias("u"),
            exact_ratio(
                to_units(F.col("v"), 100), F.col("d")
            ).alias("r"),
        ).collect()
    ]
    con = duckdb.connect()
    try:
        con.register(
            "t", pd.DataFrame({"v": [v for v, _ in rows], "d": [d for _, d in rows]})
        )
        exp = con.execute(
            f"SELECT {oracle_units('v', 100)},"
            f" {oracle_exact_ratio(oracle_units('v', 100), 'd')} FROM t"
        ).fetchall()
    finally:
        con.close()
    assert got == [tuple(r) for r in exp]


# --- to_units exactness: rint + tie fix vs F.round ------------------------
#
# to_units is rint plus an away-from-zero fix on exact .5 ties, and must
# give the longs of F.round(x * scale).cast("long") (one BigDecimal per
# row). The fuzz above draws 2-dp values, which never tie; these pin the
# inputs where half-even and half-up, or binary and decimal rounding,
# part ways, under both whole-stage codegen and the interpreted path.

UNIT_SCALES = (1, 100, 10_000, 1_000_000)


def _tie_values(scale: int) -> list[float]:
    """Doubles whose product with ``scale`` is exactly k + 0.5, plus
    their nextafter neighbours."""
    out = []
    for k in (*range(-60, 60), 12_345, -987_654, 10**9 + 7, -(2**40) - 1):
        v = (k + 0.5) / scale
        for c in (v, math.nextafter(v, -math.inf), math.nextafter(v, math.inf)):
            if c * scale == k + 0.5:
                out += [c, math.nextafter(c, -math.inf), math.nextafter(c, math.inf)]
    return out


def _unit_inputs(scale: int) -> list[float | None]:
    rng = random.Random(scale)
    top = math.log10(2.0**62 / scale)  # |v * scale| stays inside int64
    rand = [
        rng.choice((-1, 1)) * rng.random() * 10 ** rng.uniform(-8, top)
        for _ in range(300)
    ]
    special = [
        0.49999999999999994, -0.49999999999999994, -0.0, 0.0,
        2.0**52 - 0.5, -(2.0**52 - 0.5), 2.0**52, 2.0**53 + 2,
    ]
    return [None, *_tie_values(scale), *rand, *(special if scale == 1 else [])]


def _units_frame(spark, tmp_path, values):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # A parquet scan, not a local relation: the optimizer folds
    # projections over local rows itself, so codegen would never run.
    path = str(tmp_path / f"units_{len(list(tmp_path.iterdir()))}.parquet")
    pq.write_table(
        pa.table({"i": range(len(values)), "v": pa.array(values, pa.float64())}),
        path,
    )
    return spark.read.parquet(path)


def _with_codegen(spark, on: bool, fn):
    key = "spark.sql.codegen.wholeStage"
    old = spark.conf.get(key)
    spark.conf.set(key, str(on).lower())
    try:
        return fn()
    finally:
        spark.conf.set(key, old)


def _bigdecimal_units(col, scale: int):
    return F.round(F.col(col) * F.lit(scale)).cast("long")


@pytest.mark.parametrize("codegen", [True, False], ids=["codegen", "interpreted"])
def test_to_units_matches_round_and_duckdb_on_ties(spark, tmp_path, codegen):
    con = duckdb.connect()
    try:
        for scale in UNIT_SCALES:
            values = _unit_inputs(scale)
            df = _units_frame(spark, tmp_path, values).select(
                "i",
                to_units("v", scale).alias("u"),
                _bigdecimal_units("v", scale).alias("ref"),
            )

            def run():
                plan = df._jdf.queryExecution().executedPlan().toString()
                assert ("*(" in plan) == codegen, plan
                return sorted(tuple(r) for r in df.collect())

            got = _with_codegen(spark, codegen, run)
            con.register(
                "t",
                pd.DataFrame(
                    {"i": range(len(values)), "v": pd.array(values, dtype="Float64")}
                ),
            )
            duck = [
                r[0]
                for r in con.execute(
                    f"SELECT {oracle_units('v', scale)} FROM t ORDER BY i"
                ).fetchall()
            ]
            assert [u for _, u, _ in got] == [ref for _, _, ref in got], scale
            assert [u for _, u, _ in got] == duck, scale
            assert got[0][1] is None  # NULL stays NULL
    finally:
        con.close()


@pytest.mark.parametrize("codegen", [True, False], ids=["codegen", "interpreted"])
@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf, 1e300])
def test_to_units_still_raises_cast_overflow(spark, tmp_path, codegen, bad):
    df = _units_frame(spark, tmp_path, [1.0, bad])
    for units in (to_units("v", 100), _bigdecimal_units("v", 100)):
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            _with_codegen(spark, codegen, df.select(units).collect)


# --- dot-product twins (round 13) ------------------------------------------
#
# The embedding oracles replaced their LATERAL-wrapped list_reduce
# comprehension fold with DuckDB's native list_dot_product (29 s ->
# 0.2 s on the quadratic recall baseline at sf0.1). That swap is only
# sound if the native kernel accumulates in the SAME sequential
# left-to-right order as both the old fold and the Spark side's
# F.aggregate — an engine upgrade that vectorizes with a different
# association order would silently break hash parity at full double
# precision. These pins fail first.


def _py_fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


@settings(max_examples=examples(60), deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(-1e3, 1e3, allow_nan=False, width=64),
            st.floats(-1e3, 1e3, allow_nan=False, width=64),
        ),
        min_size=1,
        max_size=96,
    )
)
def test_duckdb_list_dot_product_is_sequential_fold(vec):
    """list_dot_product == the list_reduce fold == a Python left fold,
    EXACTLY (no rounding), on random doubles — catastrophic
    cancellation included, which is where association order shows."""
    a = [x for x, _ in vec]
    b = [y for _, y in vec]
    con = duckdb.connect()
    try:
        con.register("t", pd.DataFrame({"a": [a], "b": [b]}))
        native, fold = con.execute(
            "SELECT list_dot_product(a, b),"
            " list_reduce([a[i] * b[i] for i in range(1, len(a) + 1)],"
            "             (x, y) -> x + y) FROM t"
        ).fetchone()
    finally:
        con.close()
    assert native == fold == _py_fold_dot(a, b)


def test_spark_fold_matches_duckdb_native_dot_on_fixtures(spark, sf_dir):
    """The Spark F.aggregate left fold (the engine side of every
    cosine) vs DuckDB list_dot_product on the REAL embeddings table:
    self-dot (norm) of every vector, exact equality."""
    from mapreduce_lab_spark.operators.dedup import _dvec, _fold_sum
    from mapreduce_lab_spark.sources.tables import load_table
    from mapreduce_lab_spark.testing import duckdb_connect

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("v")
    )
    got = {
        r["vec_id"]: r["norm"]
        for r in e.select(
            "vec_id",
            _fold_sum(F.zip_with("v", "v", lambda x, y: x * y)).alias("norm"),
        ).collect()
    }
    con = duckdb_connect(sf_dir)
    try:
        exp = dict(
            con.execute(
                "SELECT vec_id, list_dot_product(embedding::DOUBLE[],"
                " embedding::DOUBLE[]) FROM embeddings"
            ).fetchall()
        )
    finally:
        con.close()
    assert got == exp
