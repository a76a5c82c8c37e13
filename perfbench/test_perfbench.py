"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import re
import shutil
import tempfile
from collections.abc import Iterator
from pathlib import Path

import pyarrow.parquet as pq
import pytest

import run
from inputs import TABLES, prepare
from layers import COUNTERS, sql_metric_value
from stats import highest_percentile, percentile

SCALE = {"base": "sf0.001"}
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def testdata() -> Path:
    return run.testdata_root()


@pytest.fixture
def scratch() -> Iterator[Path]:
    """A scratch directory inside the benchmark's work directory, so the
    self-tests, like the benchmark, write only inside the checkout."""
    run.WORK.mkdir(exist_ok=True)
    path = Path(tempfile.mkdtemp(dir=run.WORK, prefix="selftest-"))
    yield path
    shutil.rmtree(path)


def test_generator_is_deterministic_per_seed(scratch, testdata):
    a, tables_a = prepare(run.ROOT, scratch / "a", testdata, SCALE, seed=7)
    b, tables_b = prepare(run.ROOT, scratch / "b", testdata, SCALE, seed=7)
    c, _ = prepare(run.ROOT, scratch / "c", testdata, SCALE, seed=8)
    assert tables_a == tables_b
    for t in TABLES:
        assert pq.read_table(a / f"{t}.parquet").equals(pq.read_table(b / f"{t}.parquet"))
    lineitem = {d: pq.read_table(d / "lineitem.parquet") for d in (a, c)}
    assert not lineitem[a].equals(lineitem[c])
    # Another seed only reorders rows.
    order = [(k, "ascending") for k in lineitem[a].column_names]
    assert lineitem[a].sort_by(order).equals(lineitem[c].sort_by(order))


def test_answer_check_rejects_a_perturbed_result(scratch, testdata):
    from verify_driver import value_hash

    input_dir, _ = prepare(run.ROOT, scratch, testdata, SCALE, seed=1)
    answer = run.oracle_answers(input_dir, ["q1_pricing_summary"])["q1_pricing_summary"]
    expected = value_hash(answer)
    assert value_hash(answer.sample(frac=1, random_state=0)) == expected  # order-free
    perturbed = answer.copy()
    column = perturbed.select_dtypes("number").columns[0]
    perturbed.loc[perturbed.index[0], column] += 1
    assert value_hash(perturbed) != expected
    assert value_hash(answer.iloc[1:]) != expected


def test_metric_names_are_well_formed():
    bench = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    end_to_end = [m["name"] for m in bench["end_to_end"]]
    per_layer = [m["name"] for m in bench["per_layer"]]
    assert all(METRIC_NAME.fullmatch(n) for n in end_to_end + per_layer)
    # run.py derives every declared metric from a worker result.
    layers = dict.fromkeys(COUNTERS, 1.0)
    passes = [{"label": f"warm{i}", "wall_s": 1.0, "traced": i % 2 == 0, "layers": layers}
              for i in (1, 2)]
    result = {
        "setup": {"setup_s": 1.0, "session.get_spark_s": 1.0, "registry.load_s": 1.0},
        "cold": {"label": "cold", "wall_s": 1.0, "layers": layers},
        "warm": passes, "peak_rss_mb": 1.0,
        "executions": [{"pass": "warm1", "query": "q", "latency_s": 1.0}],
    }
    assert list(run.end_to_end(end_to_end, [1.0], result)) == end_to_end
    assert list(run.per_layer(per_layer, result)) == per_layer


def test_percentile_needs_ten_samples_beyond_it():
    values = [float(i) for i in range(1, 100)]
    with pytest.raises(ValueError):
        percentile(values, 90)  # 9 samples beyond
    assert percentile(values + [100.0], 90) == pytest.approx(90.1)
    with pytest.raises(ValueError):
        percentile(values[:19], 50)
    assert percentile(values[:20], 50) == 10.5
    assert highest_percentile(0) is None
    assert highest_percentile(9) is None
    assert highest_percentile(10) is None
    assert highest_percentile(20) == 50
    assert highest_percentile(100) == 90
    assert all(math.floor(n * (100 - highest_percentile(n)) / 100) >= 10 for n in range(11, 300))


def test_sql_metric_strings_parse():
    assert sql_metric_value("10,000") == 10_000
    assert sql_metric_value("258 ms") == 258
    assert sql_metric_value("total (min, med, max (stageId: taskId))\n"
                            "7.7 s (1.8 s, 2.0 s, 2.0 s (stage 18.0: task 25))") == 7700
    assert math.isclose(sql_metric_value("215.9 KiB"), 215.9 * 1024)


def test_workloads_name_registered_queries_with_oracles():
    from mapreduce_lab_spark import registry

    oracles = registry.oracles()
    spec = json.loads((run.HERE / "workloads.json").read_text())
    bench = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert sorted(spec["workloads"]) == sorted(w["name"] for w in bench["workloads"])
    for workload in spec["workloads"].values():
        assert workload["queries"] and all(q in oracles for q in workload["queries"])


def test_traced_pass_counts_only_its_own_jobs(scratch, testdata):
    """A traced warm pass follows untraced passes in the same session;
    its per-query windows must hold the same jobs as the cold pass's."""
    from verify_driver import value_hash

    input_dir, _ = prepare(run.ROOT, scratch, testdata, SCALE, seed=1)
    names = ["q6_forecast_revenue", "q1_pricing_summary"]
    result = run.run_worker({
        "root": str(run.ROOT), "input_dir": str(input_dir), "queries": names,
        "expected": {n: value_hash(f) for n, f in run.oracle_answers(input_dir, names).items()},
        "seconds": 0, "trace": True, "setup_only": False,
    }, "selftest-trace")
    assert all(e["ok"] for e in result["executions"])
    jobs: dict[str, dict[str, float]] = {}
    for record in result["records"]:
        jobs.setdefault(record["query"], {})[record["pass"]] = record["exec.jobs"]
    for name in names:
        assert jobs[name].keys() == {"cold", "warm2", "warm4"}
        assert jobs[name]["cold"] >= 1
        assert set(jobs[name].values()) == {jobs[name]["cold"]}, (name, jobs[name])
