"""Repo-wide physical-plan hygiene sweep.

Per-query plan tests pin the properties of individual operators; this
sweep pins two global invariants across EVERY registered batch query:

1. **No CartesianProduct, ever.** A cartesian of two distributed
   sides cannot survive any scale-up; nothing in this engine needs
   one.
2. **BroadcastNestedLoopJoin only where audited.** BNLJ is how
   Catalyst compiles a join against a broadcast frame with a
   non-equi (or absent) condition. That is FINE — and idiomatic —
   when the broadcast side is bounded by construction (a 1-row
   total/threshold frame, exact percentile fences, a k-bounded
   top-k, a small pattern table). It is a scale bug when the
   broadcast side grows with the data. Every name below is audited
   to be the former; a new query that introduces a BNLJ fails this
   test until it is audited and listed.

Streaming replays are excluded (their query functions execute the
stream to drain it, and their batch twins are swept instead).
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from mapreduce_lab_spark import registry
from mapreduce_lab_spark.testing import live_scan_counts

# name -> what the broadcast side is, and why it is bounded.
BNLJ_AUDITED = {
    # 1-row aggregate frames (scalar totals / corpus stats):
    "heavy_hitter_words": "1-row corpus-total frame gates the threshold",
    "bigram_pmi_top": "1-row token-total frame scales the lift ratio",
    "tfidf_top_terms": "1-row corpus doc-count frame",
    "bm25_search": "1-row avg-doclen/corpus-stats frame",
    "rrf_hybrid_search": "two k-bounded rank frames fused",
    "q11_important_parts": "1-row global revenue threshold (scalar subquery)",
    "q22_sales_opportunity": "1-row average-balance frame (scalar subquery)",
    "above_avg_balance_customers": "1-row average-balance frame",
    "dq_expectations_orders": "1-row expectation-stats frame",
    "fk_integrity_audit": "1-row orphan-count frame joined to the 1-row "
    "child summary, per FK edge",
    "join_cardinality_estimate": "three 1-row stats/truth frames fused per "
    "FK edge",
    "pipeline_packed_corpus": "1-row input/kept counts frame fused to the "
    "1-row survivor packing aggregate",
    "sequence_packing_incremental": "1-row max-doc_id split frame fences "
    "the base prefix",
    "sequence_packing_strategy_compare": "1-row truncation-census frame "
    "fused to the 1-row greedy bin aggregate; plus the two 1-row "
    "strategy aggregates unioned",
    "basket_association_rules": "1-row basket-count frame scales "
    "support/lift over the aggregated pair frame",
    "cuped_adjusted_revenue": "1-row time-split frame fences pre/post; "
    "1-row (theta, xbar) moment frame broadcast to the per-user "
    "adjustment",
    "ivf_incremental_postings": "1-row max-rep-id split frame fences the "
    "base prefix (same fence as sequence_packing_incremental); plus the "
    "1-row collected-codebook frame every IVF assignment broadcasts",
    "conformal_keep_threshold": "1-row (n_cal, k) frame fences the rank "
    "refinement; 1-row threshold frame gates the coverage aggregate",
    "vocab_growth_census": "10-row checkpoint-threshold frame (built from "
    "the 1-row max-doc_id frame) crossed against the bounded "
    "vocabulary and per-doc count frames",
    "delete_propagation_census": "three 1-row (doomed, total) count pairs "
    "fused, one per cascade table",
    "rolling_7d_distinct_users": "1-row max-active-day frame fences the "
    "trailing-window tail",
    "triangle_count_copurchase": "1-row wedge-count frame joined to 1-row triangle count",
    "weighted_sample_orders": "1-row total-weight frame",
    "k_anonymity_census": "1-row total-rows frame scales the band shares",
    "t_closeness_census": "1-row global-share-sum frame folds the "
    "absent-cell mass into every class's TVD",
    "seasonal_decompose_revenue": "1-row mean-abs-residual frame gates the "
    "anomaly flag over the calendar-sized daily series",
    "chi_square_lang_source": "margin grid = |langs|-row frame crossed "
    "with the broadcast |sources|-row frame (both bounded by the "
    "categorical domains), plus the 1-row grand-total frame",
    "selectivity_histogram_report": "1-row truth frame fused to the 1-row "
    "histogram-estimate frame (both conditional-sum aggregates)",
    "dsir_select_topk": "1-row corpus/target token-total frame scales the "
    "per-bucket lift",
    "lm_bigram_bits": "1-row vocabulary-size frame (add-one denominator)",
    "lm_filter_retention": "inherits lm_bigram_bits' 1-row vocabulary frame",
    "source_unigram_tvd": "1-row corpus token-total frame",
    "lm_trigram_backoff_bits": "1-row train-slice token-total frame "
    "(unigram backoff denominator)",
    "kmv_corpus_overlap": "|corpora|-row distinct-source frame self-crossed "
    "into the pair list (corpus COUNT, not corpus size)",
    # exact percentile / fence frames (per-group, group-count bounded):
    "range_join_price_bands": "static band table (constant rows)",
    "event_pattern_match": "4-row funnel-pattern table",
    # vector-search baselines / bounded query sides:
    # (knn_cosine_bruteforce left this list in round 14: the GEMM
    # prescreen replaced its non-equi broadcast join with equi-joins
    # on the bounded candidate table, so no BNLJ remains. ivf_knn_cosine
    # left it when centroid assignment moved into the exact_topk Arrow
    # pass, which deleted its centroid crossJoin.)
    "ann_recall_at_5": "k-bounded query side crossed against the corpus for "
    "the exact half of the recall measurement (sampled-query eval job)",
    "trajectory_nn_recall_at_1": "k-bounded (25-row TakeOrdered) sampled "
    "query side crossed against trajectory reps — the exact half of the "
    "candidate-recall eval, same shape as ann_recall_at_5",
    "embedding_lsh_recall_eval": "three 1-row count frames fused; the exact "
    "half inherits the max_rows-guarded recall baseline (sampled eval job)",
    "minhash_lsh_recall_eval": "three 1-row count frames fused over "
    "checkpointed pair artifacts (sampled eval job)",
    "er_window_recall_eval": "two 1-row count frames fused; the exact half "
    "is the per-block quadratic baseline on hash-sampled blocks (sampled "
    "eval job)",
    "ann_int8_quantized": "bounded query side vs quantized corpus",
    "ivf_cell_census": "1-row collected-codebook frame (2·K1 centroid "
    "structs, K1 ~ sqrt(n/64) — the broadcast IMI model artifact) plus a "
    "1-row trained-cells scalar",
    "kmeans_clusters": "broadcast centroid table (K rows per iteration)",
    "kmeans_lattice_census": "broadcast centroid table (K rows per "
    "iteration), integer-lattice twin of kmeans_clusters",
    "pq_lattice_census": "1-row collected-codebook frame (PQ_M·PQ_K "
    "centroid structs) broadcast per training round — the round-13 "
    "zero-exchange argmin",
}


@pytest.fixture(scope="module")
def _built(spark, sf_dir):
    """name -> (executed-plan text, live scan counts).

    clearCache() before EACH build: cached frames left by earlier test
    modules — or by earlier queries in THIS loop — plan-substitute into
    any matching subtree, so without the per-build clear both the plan
    text and the scan counts depend on registry ordering (the round-4
    red test: a new committed CORRECTNESS artifact reordered the loop
    and flipped the counts). Plan construction executes nothing, so
    the per-build clear is free; each query is measured exactly as a
    fresh session would see it.
    """
    out = {}
    for name, fn in registry.queries().items():
        # Queries whose FUNCTION executes a stream to drain it: the
        # returned frame is a memory-sink rollup whose plan says
        # nothing about the real dataflow, and building it costs a
        # full drain.
        if name.startswith("streaming_") or name == "python_datasource_stream_replay":
            continue
        spark.catalog.clearCache()
        df = fn(spark, sf_dir)
        out[name] = (
            df._jdf.queryExecution().executedPlan().toString(),
            live_scan_counts(df),
        )
    spark.catalog.clearCache()
    return out


@pytest.fixture(scope="module")
def plans(_built):
    return {n: p for n, (p, _) in _built.items()}


@pytest.fixture(scope="module")
def scan_counts(_built):
    return {n: c for n, (_, c) in _built.items()}


def test_no_cartesian_product_anywhere(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert offenders == [], offenders


def test_nested_loop_joins_all_audited(plans):
    offenders = [
        n for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in BNLJ_AUDITED
    ]
    assert offenders == [], (
        f"unaudited BroadcastNestedLoopJoin in {offenders}; verify the "
        "broadcast side is bounded and add to BNLJ_AUDITED with a reason"
    )


def test_audit_list_not_stale(plans):
    stale = [n for n in BNLJ_AUDITED
             if n in plans and "BroadcastNestedLoopJoin" not in plans[n]]
    assert stale == [], f"BNLJ_AUDITED entries no longer needed: {stale}"


def test_audit_lists_name_only_registered_queries():
    """The `n in plans` guards above mean a DELETED or RENAMED query
    lingers in the hand-maintained audit lists forever (VERDICT r5 #5).
    Every audited name must still be a registered query."""
    registry.load_all()
    registered = set(registry._QUERIES)
    ghosts = [
        n
        for n in (
            *BNLJ_AUDITED,
            *DUP_SCAN_AUDITED,
            *ROW_PYTHON_AUDITED,
            *HEAVY_FILTER_AUDITED,
            *ROUND_CAST_AUDITED,
        )
        if n not in registered
    ]
    assert ghosts == [], f"audited names no longer registered: {ghosts}"


# name -> why a row-at-a-time Python eval is THE POINT of the query.
ROW_PYTHON_AUDITED = {
    "udtf_wordcount": "reference Map-UDTF parity contract — row-at-a-time "
    "1->N generation IS the semantics being mirrored; the DataFrame twin "
    "(wordcount) is the scale path",
}


def test_no_row_at_a_time_python_udfs(plans):
    # 3. **Python only through Arrow.** Row-at-a-time Python UDFs/UDTFs
    #    (BatchEvalPython*) serialize row-by-row through pickle — the
    #    10-100x slow path. Every Python crossing in this engine is
    #    Arrow-batched (ArrowEvalPython / MapInPandas / mapInArrow /
    #    FlatMapGroupsInPandas / applyInPandasWithState) or the
    #    deliberately-RDD map_reduce contract, which never appears in
    #    a SQL plan. The one audited exception is the reference-parity
    #    UDTF, whose row-at-a-time shape is the contract under test.
    offenders = [
        n for n, p in plans.items()
        if "BatchEvalPython" in p and n not in ROW_PYTHON_AUDITED
    ]
    assert offenders == [], offenders


# 4. **Duplicate scans bounded and audited.** Round 4's sweep counted
# ``file:.../<t>.parquet`` occurrences in the executed-plan TEXT —
# which (a) counts a cached subtree once per InMemoryRelation
# appearance even though it materializes once, and (b) changes with
# whatever caches earlier-built queries left behind, so the gate
# flipped whenever registry ordering moved (the round-4 red test).
# Round 5 counts what actually EXECUTES instead
# (testing.live_scan_counts: tree walk, distinct cached relations
# counted once, ReusedExchange/ReusedSubquery skipped) against a
# per-build-clean cache, so the number is the per-execution scan
# count a 100 TB cost model sees and is a pure function of the
# query's own lineage. Under live semantics the whole cached-dedup
# family drops to <= 2; what remains >= 4 is inherent multi-pass work
# (self-joins, per-FK-edge audits, independent rankings, IVM delta
# terms). Every query scanning one table >= 4 times must be listed
# here with its reason, and nothing may exceed 6.
DUP_SCAN_AUDITED = {
    "fk_integrity_audit": (6, "one independent key-column audit pass per FK "
                              "edge; lineitem carries three edges"),
    "scalar_subquery_above_avg_price": (5, "correlated scalar-subquery "
                                           "decorrelation duplicates the keyed "
                                           "aggregate (TPC-H Q17 shape)"),
    "skew_join_priority_revenue": (5, "hot/cold split join reads the fact "
                                      "side once per branch BY DESIGN"),
    "rrf_hybrid_search": (5, "two independent retrieval rankings (BM25 + "
                             "TF-IDF) fused; each reads the corpus"),
    "cdc_apply_orders": (5, "snapshot-diff + MERGE quadrants each read "
                            "base/delta; 16-byte fingerprints only"),
    "embedding_correlation": (5, "mean/std stats frame + centered Gramian "
                                 "pass over the vector column"),
    "bm25_search": (4, "term stats + doc-length stats + scored postings"),
    "join_cardinality_estimate": (4, "per-FK-edge (count, NDV) stats pass + "
                                     "true-join count pass; orders and "
                                     "lineitem each sit on two edges"),
    "bigram_pmi_top": (4, "bigram counts + two unigram marginals"),
    "mad_outlier_events": (4, "exact median, then MAD, then outlier gate — "
                              "three order-statistic passes by definition"),
    "delete_propagation_census": (4, "per-table census = full count + "
                                     "cascade-filtered count per cascade "
                                     "level; key-column scans only"),
    "vocab_growth_census": (4, "three independent reductions of the corpus "
                               "(word first-occurrence, per-doc token "
                               "counts, max doc id) plus the checkpoint "
                               "fence; each is one narrow pass"),
    "scd2_incremental_refresh": (4, "delta-affected rebuild joins base "
                                    "snapshot + delta on both branches"),
    "bag_set_ops_probe": (4, "EXCEPT ALL / INTERSECT ALL operands are "
                             "branches of the same table by definition"),
    "ivm_join_revenue": (4, "three IVM delta terms each join a delta side"),
}


def test_duplicate_scans_bounded_and_audited(scan_counts):
    offenders = {}
    for name, tables in scan_counts.items():
        mx = max(tables.values(), default=0)
        cap = DUP_SCAN_AUDITED.get(name, (3, ""))[0]
        if mx > cap:
            offenders[name] = dict(tables)
    assert offenders == {}, (
        f"plans re-executing an input scan beyond their audited bound: "
        f"{offenders}; run scripts/audit_scans.py, fix the duplicated "
        "lineage (cache/persist the shared frame, or rewrite single-scan "
        "as in the round-4 rewrites) or audit it here with a reason"
    )


def test_dup_scan_audit_list_not_stale(scan_counts):
    stale = []
    for name, (cap, _why) in DUP_SCAN_AUDITED.items():
        if name not in scan_counts:
            continue
        if max(scan_counts[name].values(), default=0) < 4:
            stale.append(name)
    assert stale == [], f"DUP_SCAN_AUDITED entries below 4 live scans now: {stale}"


# 5. **No heavyweight array-construction predicates below an
# exchange.** Catalyst pushes deterministic filters through
# exchanges, and InferFiltersFromGenerate synthesizes a
# ``size(arr) > 0`` predicate from every non-outer explode of a
# computed array — inlining the ENTIRE array construction
# (tokenize → transform → concat_ws chains) into a Filter that then
# sinks below the fan_out round-robin exchange onto the scan. The
# construction then runs at the scan's own parallelism (ONE split on
# the local fixtures; the round-13 postmortem measured
# decontaminate_benchmark_overlap at 41.4 s -> 2.1 s warm from this
# alone) and runs AGAIN post-exchange. The fix pattern is
# explode_outer + a post-Generate isNotNull filter (or an equivalent
# cheap predicate on the raw column, e.g. rlike '\\p{L}' instead of
# size(tokenize(..)) > 0). This sweep walks every plan's tree text
# and flags Filter nodes BELOW an Exchange whose condition carries a
# lambdafunction and is large enough to be a construction, not a
# test. docs/SCALE.md round 13 has the full postmortem.
HEAVY_FILTER_MIN_LEN = 600

# name -> why the below-exchange heavy predicate is accepted.
# Emptied in round 13: pipeline_quality_dedup_stats folded its
# quality threshold into the survivor aggregate (min(when(keep,
# struct)) per content hash), so no Filter exists for
# PushDownPredicate to sink below the fan_out exchange anymore.
HEAVY_FILTER_AUDITED: dict[str, str] = {}


def _heavy_filters_below_exchange(plan: str) -> list[str]:
    import re

    info = []
    for ln in plan.splitlines():
        m = re.match(r"^([ :+\-*()0-9]*)(.*)$", ln)
        info.append((len(m.group(1)), m.group(2)))
    hits = []
    for i, (d, body) in enumerate(info):
        if not body.startswith("Exchange"):
            continue
        for j in range(i + 1, len(info)):
            dj, bj = info[j]
            if dj <= d:
                break
            if (
                bj.startswith("Filter")
                and "lambdafunction" in bj
                and len(bj) > HEAVY_FILTER_MIN_LEN
            ):
                hits.append(bj[:100])
    return hits


def test_no_heavy_construction_filters_below_exchanges(plans):
    offenders = {
        n: hits
        for n, p in plans.items()
        if n not in HEAVY_FILTER_AUDITED
        for hits in [_heavy_filters_below_exchange(p)]
        if hits
    }
    assert offenders == {}, (
        f"array-construction predicates pushed below an exchange in "
        f"{sorted(offenders)}; use explode_outer + post-Generate "
        "isNotNull (or a cheap raw-column predicate) per docs/SCALE.md "
        "round 13, or audit here with a reason"
    )


def test_heavy_filter_audit_list_not_stale(plans):
    stale = [
        n
        for n in HEAVY_FILTER_AUDITED
        if n in plans and not _heavy_filters_below_exchange(plans[n])
    ]
    assert stale == [], f"HEAVY_FILTER_AUDITED entries no longer needed: {stale}"


# Invariant #6 (round 13): no operator node may carry 3+ copies of the
# lambda-bearing tokenize expression. Codegen subexpression elimination
# skips lambda-bearing expressions, so each plan-level copy is a real
# per-row re-evaluation of split+filter — the round-13 staging sweep
# found single Projects carrying 66 (gopher), 36 (repetition) and 35
# (lang-id) copies, worth 7-13x on the full-corpus text scans. Two
# copies can be legitimate (e.g. a condition/value pair); three or more
# means a consumer should stage the token array in its own select.
#
# The marker is the plan rendering of the tokenize() HELPER itself —
# ``filter(split(`` — rather than hard-coded input spellings
# ("split(text", "split(lower(text"): ADVICE r13 noted a tokenize over
# any derived/aliased input (split(trim(text..)), a renamed column)
# evaded the literal markers, while a lambda-FREE plain split (which
# codegen CSE does dedup) was counted. filter(split( is exactly the
# lambda-bearing composition CSE skips, for every input expression.
import re as _re

_TOKENIZE_RE = _re.compile(r"filter\(split\(")
TOKENIZE_REPEAT_MAX = 2


def _repeated_tokenize_nodes(plan: str) -> list[str]:
    hits = []
    for ln in plan.splitlines():
        n = len(_TOKENIZE_RE.findall(ln))
        if n > TOKENIZE_REPEAT_MAX:
            hits.append(f"{n}x filter(split(: {ln.strip()[:90]}")
    return hits


def test_no_repeated_tokenize_in_one_node(plans):
    offenders = {
        n: hits
        for n, p in plans.items()
        for hits in [_repeated_tokenize_nodes(p)]
        if hits
    }
    assert offenders == {}, (
        f"lambda-bearing tokenize repeated inside one operator node in "
        f"{sorted(offenders)}; stage the token array as a column in its "
        "own select (OPTIMIZATION_r13.md, staging sweep) — codegen CSE "
        "will NOT dedup it"
    )


def test_scan_counts_immune_to_leftover_caches(spark, sf_dir):
    """META-TEST for the round-4 failure mode: building query B after
    query A left cached frames behind must report the same live scan
    counts as building B against a clean cache. Uses the two queries
    whose counts actually flipped in round 4."""
    a = "near_dup_minhash_lsh"
    b = "near_dup_ngram_jaccard"
    q = registry.queries()
    spark.catalog.clearCache()
    clean = live_scan_counts(q[b](spark, sf_dir))
    spark.catalog.clearCache()
    q[a](spark, sf_dir)  # leaves its .cache()-marked frames registered
    dirty = live_scan_counts(q[b](spark, sf_dir))
    spark.catalog.clearCache()
    assert clean == dirty, (clean, dirty)


# 7. **Integer units through to_units only.** Spark evaluates
# ``round(x, 0)`` on a DOUBLE with one ``BigDecimal`` per row, so a
# ``cast(round(..., 0) as bigint)`` in a plan is the slow spelling of
# functions/numeric.py's ``to_units`` (rint plus an exact-tie fix, the
# same longs). Every query must build its units with ``to_units``;
# what remains is Spark SQL text that DuckDB executes too, whose
# ``round()`` stays so that one string serves both engines.
_SHARED_SQL = "shared Spark/DuckDB SQL text (operators/{}.py): one round() serves both engines"
ROUND_CAST_AUDITED = {
    "not_exists_no_big_order": _SHARED_SQL.format("subqueries"),
    "scalar_subquery_above_avg_price": _SHARED_SQL.format("subqueries"),
    "q17_small_quantity_revenue": _SHARED_SQL.format("subqueries"),
    "q2_cheapest_supplier_per_part": _SHARED_SQL.format("subqueries"),
    "argmax_orders_probe": _SHARED_SQL.format("sql_surface"),
}


def _round_casts(plan: str) -> list[str]:
    """Every ``cast(round(<e>, 0) as bigint|int)`` in the plan text."""
    hits = []
    for m in _re.finditer(r"cast\(round\(", plan):
        depth, i = 1, m.end()
        while depth and i < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        cast_to = _re.match(r" as (bigint|int)\)", plan[i:])
        if cast_to and plan[m.end() : i - 1].endswith(", 0"):
            hits.append(plan[m.start() : i + cast_to.end()])
    return hits


def test_no_bigdecimal_round_to_integer_units(plans):
    offenders = {
        n: hits[0]
        for n, p in plans.items()
        if n not in ROUND_CAST_AUDITED
        for hits in [_round_casts(p)]
        if hits
    }
    assert offenders == {}, (
        f"per-row round(..., 0) cast to an integer in {sorted(offenders)}; "
        "use functions.numeric.to_units (same longs, no BigDecimal per row) "
        f"or audit here with a reason: {offenders}"
    )


def test_round_cast_audit_list_not_stale(plans):
    stale = [n for n in ROUND_CAST_AUDITED if n in plans and not _round_casts(plans[n])]
    assert stale == [], f"ROUND_CAST_AUDITED entries no longer needed: {stale}"


def test_round_cast_detector():
    assert _round_casts(
        "Project [cast(round((price#1 * 100.0), 0) as bigint) AS u#2]"
    ) == ["cast(round((price#1 * 100.0), 0) as bigint)"]
    assert _round_casts("cast(round(x#1, 0) as int)") == ["cast(round(x#1, 0) as int)"]
    # rounding to decimals, or a round that is not cast, is not units
    assert _round_casts("cast(round(x#1, 2) as bigint), round((y#2 * 100.0), 0)") == []


# One vector-math module: functions/vectors.py is the only file under
# the package that multiplies matrices. Any other ``@`` is listed here
# as (path, source) -> why it is not a vector kernel.
PKG = Path(__file__).resolve().parent.parent / "mapreduce_lab_spark"
MATMUL_AUDITED = {
    ("operators/linalg.py", "X.T @ X"): "embedding_covariance and its "
    "twin: the exact int64 Gram of one Arrow batch of fixed-point units, "
    "a second moment, not a vector score",
}


def _matmuls() -> list[tuple[str, int, str]]:
    """(path, line, source) of every ``@`` / ``@=`` in the package
    outside functions/vectors.py."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "functions/vectors.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.BinOp, ast.AugAssign)) and isinstance(node.op, ast.MatMult):
                hits.append((rel, node.lineno, ast.unparse(node)))
    return hits


def test_only_the_vectors_module_multiplies_matrices():
    offenders = [h for h in _matmuls() if (h[0], h[2]) not in MATMUL_AUDITED]
    assert offenders == [], (
        f"matrix products outside functions/vectors.py: {offenders}; score "
        "vectors with exact_topk / exact_pairs, or audit here with a reason"
    )


def test_matmul_audit_list_not_stale():
    seen = {(rel, src) for rel, _, src in _matmuls()}
    stale = [k for k in MATMUL_AUDITED if k not in seen]
    assert stale == [], f"MATMUL_AUDITED entries no longer needed: {stale}"


# One argmin fold: the running-min ``F.aggregate`` (a merge lambda that
# tests its accumulator with ``acc.isNull()``) lives only in
# clustering.nearest_centroid; every k-means trainer calls it.
class _ArgminFolds(ast.NodeVisitor):
    def __init__(self, rel: str) -> None:
        self.rel, self.fns, self.hits = rel, [], []

    def visit_FunctionDef(self, node: ast.FunctionDef) -> None:
        self.fns.append(node.name)
        self.generic_visit(node)
        self.fns.pop()

    def visit_Call(self, node: ast.Call) -> None:
        merge = node.args[2] if len(node.args) > 2 else next(
            (k.value for k in node.keywords if k.arg == "merge"), None
        )
        if (
            isinstance(node.func, ast.Attribute)
            and node.func.attr == "aggregate"
            and isinstance(merge, ast.Lambda)
            and merge.args.args
            and any(
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "isNull"
                and isinstance(n.func.value, ast.Name)
                and n.func.value.id == merge.args.args[0].arg
                for n in ast.walk(merge.body)
            )
        ):
            self.hits.append((self.rel, ".".join(self.fns), node.lineno))
        self.generic_visit(node)


def test_one_argmin_fold():
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        v = _ArgminFolds(path.relative_to(PKG).as_posix())
        v.visit(ast.parse(path.read_text()))
        hits += v.hits
    assert [(rel, fn) for rel, fn, _ in hits] == [
        ("operators/clustering.py", "nearest_centroid")
    ], f"running-min argmin folds outside clustering.nearest_centroid: {hits}"
