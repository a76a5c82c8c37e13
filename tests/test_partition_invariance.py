"""Partition-invariance: exact results must not depend on
parallelism.

The engine-wide exactness discipline (integer units, floor division,
tie-total orderings — functions/numeric.py) exists so that a re-run
on a DIFFERENT cluster shape reproduces identical bytes. This test
executes representative exact queries under two shuffle-partition
settings and two input repartitionings and asserts canonicalized
results are identical — the property that makes the DuckDB parity
meaningful at any scale (a value that drifts with partition count
would pass parity at one setting and fail on the cluster).
"""

from __future__ import annotations

import pytest

from mapreduce_lab_spark import registry

registry.load_all()
_QUERIES = registry.queries()

# Exact-arithmetic representatives across families: scan-agg, join,
# window, mapInPandas sketch, graph, classifier, fixed-point ratios.
CASES = [
    "q1_pricing_summary",
    "skew_join_priority_revenue",
    "window_running_revenue",
    "heavy_hitter_words",
    "triangle_count_copurchase",
    "quality_classifier_hashed",
    "rare_bigram_rate",
    "kmv_distinct_users",
    # round 9b: driver-walked histogram selection, window-pair ER,
    # chained-window decomposition, and the fixed-point Markov solve —
    # each exact by integer discipline, each with a partition-sensitive
    # failure mode if that discipline slipped.
    "distributed_exact_quantiles",
    "entity_resolution_scores",
    "seasonal_decompose_revenue",
    "markov_removal_attribution",
    "grouped_exact_median",
    "t_closeness_census",
    # The exact Lloyd lanes: every round is order-independent integer
    # arithmetic because the integral element type picks the int64
    # distance and the floor-mean update in clustering.lloyd.
    "kmeans_lattice_census",
    "pq_lattice_census",
]


def _canon(df):
    cols = sorted(df.columns)
    rows = sorted(tuple(str(r[c]) for c in cols) for r in df.collect())
    return rows


@pytest.mark.parametrize("name", CASES)
def test_result_identical_across_parallelism(name, spark, sf_dir):
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "3")
        a = _canon(_QUERIES[name](spark, sf_dir))
        spark.conf.set(key, "13")
        b = _canon(_QUERIES[name](spark, sf_dir))
    finally:
        spark.conf.set(key, saved)
    assert a == b
