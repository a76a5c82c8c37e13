"""Regression tests for harness strictness and driver-coverage shape.

Round-1 driver gate caught two defects the local harness missed:

1. Shared Spark+DuckDB SQL of the form ``sum(bigint) / 100.0`` types
   DECIMAL(27,6) in Spark but DOUBLE in DuckDB. Both stringify to the
   same 6-dp text, so the old compare() passed while the driver's
   schema/hash check failed. compare() now checks column-type
   compatibility BEFORE canonicalizing; the old form must fail here.

2. The driver emitted correctness rows only for a prefix of
   queries()'s ordering, and the flat module-by-module ordering left
   whole families unsampled. The registry lists names round-robin
   across operator modules; pin that order so any prefix of one name
   per module covers every family.
"""

from __future__ import annotations

from mapreduce_lab_spark import registry
from mapreduce_lab_spark.functions.numeric import oracle_exact_sum
from mapreduce_lab_spark.sources.tables import load_table
from mapreduce_lab_spark.testing import compare


def _shared_sql_result(spark, sf_dir, sql):
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(sql)


def test_old_decimal_form_fails_dtype_gate(spark, duck, sf_dir):
    """sum(CAST .. AS BIGINT) / 100.0 → Spark DECIMAL vs DuckDB DOUBLE
    must now be rejected by the local harness (driver parity)."""
    old_form = """
    SELECT c_mktsegment,
           (sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0) AS total_acctbal
    FROM customer GROUP BY c_mktsegment
    """
    res = compare(
        "old_decimal_form", _shared_sql_result(spark, sf_dir, old_form), duck, old_form
    )
    assert not res.ok
    assert "dtype" in res.detail and "decimal" in res.detail


def test_new_exact_sum_form_is_shared_sql_safe(spark, duck, sf_dir):
    """oracle_exact_sum's output must type DOUBLE in BOTH engines and
    match value-for-value when the identical string runs in both."""
    sql = f"""
    SELECT c_mktsegment,
           {oracle_exact_sum('c_acctbal', 100)} AS total_acctbal
    FROM customer GROUP BY c_mktsegment
    """
    df = _shared_sql_result(spark, sf_dir, sql)
    assert dict(df.dtypes)["total_acctbal"] == "double"
    res = compare("new_exact_sum_form", df, duck, sql)
    assert res.ok, res.detail


def test_registry_prefix_samples_every_family():
    """queries() lists names round-robin over the module lanes in
    _OPERATOR_MODULES order, so its first len(_BY_MODULE) names hold one
    query of every family; oracles() and describe() keep that order."""
    names = list(registry.queries())
    by_module = registry._BY_MODULE
    lanes = [by_module[m] for m in registry._OPERATOR_MODULES if m in by_module]
    assert len(lanes) == len(by_module)
    depth = max(len(lane) for lane in lanes)
    assert names == [lane[i] for i in range(depth) for lane in lanes if i < len(lane)]

    head = {registry._QUERIES[n].__module__ for n in names[: len(by_module)]}
    assert head == set(by_module)

    assert list(registry.oracles()) == [n for n in names if n in registry._ORACLES]
    assert list(registry.describe()) == names


def test_every_query_has_unique_name_and_callable():
    q = registry.queries()
    assert len(q) >= 91
    for name, fn in q.items():
        assert callable(fn), name


def test_describe_surfaces_lane_routing():
    """VERDICT r10 task #3: a driver-side consumer must be able to read
    the embedding near-dup lane split (tight-threshold sign-LSH vs
    loose-threshold IVF) from registry metadata without opening
    operator source."""
    from mapreduce_lab_spark import registry

    d = registry.describe()
    assert set(d) == set(registry.queries()), "describe covers every query"
    for name, info in d.items():
        assert info["description"], f"{name}: empty description"
        assert info["oracle"] in ("full", "rows-only")
    assert d["near_dup_embedding_lsh"]["lane"] == "tight-threshold"
    assert "ivf_clusters" in d["near_dup_embedding_lsh"]["routing"]
    assert d["near_dup_embedding_ivf_clusters"]["lane"] == "loose-threshold"
    assert d["near_dup_embedding_ivf_pinned"]["lane"] == "oracle-contract"
    assert d["ivf_init_codebook"]["oracle"] == "full"
    assert d["ivf_train_codebook"]["oracle"] == "rows-only"
