#!/usr/bin/env python3
"""Run one benchmark workload under one seed and print its metrics.

    python3 perfbench/run.py --workload relational_x4 --seed 1 --seconds 8 --trace 0

Run from the repository root. The engine is a black box here: inputs
are generated from the test data under the seed, each query's DuckDB
oracle is hashed, then fresh engine processes (``worker.py``) set up,
run a cold pass and warm passes, and check every answer. The last line
of standard output is one JSON object; with ``--trace 0`` its metrics
are the end-to-end ones, with ``--trace 1`` the per-layer ones read
from the engine's status stores. A traced run also writes its spans and
per-query layer records under ``.perfbench-work/traces/``.

Workloads, their frozen query lists and the reasoning behind them are
in ``workloads.json`` next to this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path
from typing import NoReturn

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "scripts")]

from stats import geomean, highest_percentile, percentile  # noqa: E402
from worker import session_pids  # noqa: E402

WORK = ROOT / ".perfbench-work"
# Each set-up is a fresh process (JVM launch, registry import, first
# job); setup_s is the median over this many of them: one set-up-only
# process and the measured one. More would take the warm passes' time.
SETUPS = 2
WORKER_TIMEOUT_S = 150


def fail(message: str) -> NoReturn:
    print(f"perfbench: {message}", file=sys.stderr)
    sys.exit(2)


def testdata_root() -> Path:
    """Test-data root, as named by the engine's ``__spark_entry__``."""
    import __spark_entry__

    return Path(__spark_entry__.SMOKE_SF_DIR).parent


def oracle_answers(input_dir: Path, names: list[str]) -> dict:
    """Each query's DuckDB oracle answer on ``input_dir``, as a frame."""
    import duckdb
    from verify_driver import TABLES

    from mapreduce_lab_spark import registry

    oracles = registry.oracles()
    missing = [n for n in names if n not in oracles]
    if missing:
        fail(f"queries without an oracle: {missing}")
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir / t}.parquet'")
        return {n: con.execute(oracles[n]).fetchdf() for n in names}
    finally:
        con.close()


def worker_env() -> dict[str, str]:
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        # No JVM perf-data file in the system temp directory.
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false"
            f" --driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        ),
    })
    return env


def run_worker(spec: dict, tag: str) -> dict:
    """Run ``worker.py`` in a session of its own; wait until every
    process it started (JVM, Python workers) has ended."""
    spec_path = WORK / f"{tag}.spec.json"
    spec["result_path"] = str(WORK / f"{tag}.result.json")
    Path(spec["result_path"]).unlink(missing_ok=True)
    log_path = WORK / f"{tag}.log"
    spec["t_launch"] = time.time()
    spec_path.write_text(json.dumps(spec))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), str(spec_path)],
            stdout=log, stderr=subprocess.STDOUT, env=worker_env(), cwd=ROOT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_session(proc.pid)
    if code != 0:
        tail = log_path.read_text()[-3000:]
        fail(f"{tag} worker {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    return json.loads(Path(spec["result_path"]).read_text())


def stop_session(sid: int) -> None:
    """Kill what is left of the worker's session, wait until none of it
    runs, then remove the scratch files its JVM leaves behind."""
    deadline = time.time() + 30
    while (pids := session_pids(sid)) and time.time() < deadline:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.02)
    for scratch in (WORK / "tmp", WORK / "spark-local"):
        shutil.rmtree(scratch, ignore_errors=True)


def end_to_end(names: list[str], setups: list[float], result: dict) -> dict[str, float]:
    warm = [p for p in result["warm"] if not p["traced"]]
    warm_names = {p["label"] for p in warm}
    latencies = [e["latency_s"] for e in result["executions"] if e["pass"] in warm_names]
    per_query: dict[str, list[float]] = {}
    for e in result["executions"]:
        if e["pass"] in warm_names:
            per_query.setdefault(e["query"], []).append(e["latency_s"])
    metrics = {
        "setup_s": statistics.median(setups),
        "cold_pass_s": result["cold"]["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "warm_query_s.p50": statistics.median(latencies),
        "warm_geomean_s": geomean([statistics.median(v) for v in per_query.values()]),
    }
    return {n: metrics[n] for n in names}


def per_layer(names: list[str], result: dict) -> dict[str, float]:
    """Each declared per-layer metric: ``cold.<counter>`` from the cold
    pass, set-up timings and peak memory as measured, the trace
    overhead, and every other counter as its median over the traced
    warm passes."""
    traced = [p for p in result["warm"] if p["traced"]]
    plain = [p for p in result["warm"] if not p["traced"]]
    out = {}
    for name in names:
        if name == "trace.overhead_s":
            out[name] = (statistics.median(p["wall_s"] for p in traced)
                         - statistics.median(p["wall_s"] for p in plain))
        elif name in result["setup"]:
            out[name] = result["setup"][name]
        elif name == "peak_rss_mb":
            out[name] = result[name]
        elif name.startswith("cold."):
            out[name] = result["cold"]["layers"][name.removeprefix("cold.")]
        else:
            out[name] = statistics.median(p["layers"][name] for p in traced)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for needed in ("mapreduce_lab_spark/registry.py", "scripts/make_sf1.py",
                   "scripts/verify_driver.py", "__spark_entry__.py"):
        if not (ROOT / needed).is_file():
            fail(f"{needed} not found: run from the root of a repository checkout")
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in declared["per_layer" if args.trace else "end_to_end"]}
    spec_file = json.loads((HERE / "workloads.json").read_text())
    workload = spec_file["workloads"].get(args.workload)
    if workload is None:
        fail(f"unknown workload {args.workload!r}; known: {sorted(spec_file['workloads'])}")
    WORK.mkdir(exist_ok=True)

    from verify_driver import value_hash

    from inputs import prepare

    clock = [time.perf_counter()]
    input_dir, tables = prepare(ROOT, WORK, testdata_root(), workload["scale"], args.seed)
    print("inputs:", json.dumps({"dir": str(input_dir.relative_to(ROOT)), "tables": tables}))
    clock.append(time.perf_counter())
    names = workload["queries"]
    spec = {
        "root": str(ROOT), "input_dir": str(input_dir), "queries": names,
        "expected": {n: value_hash(f) for n, f in oracle_answers(input_dir, names).items()},
        "seconds": args.seconds,
        "trace": bool(args.trace), "setup_only": False,
    }
    clock.append(time.perf_counter())
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    setups = []
    for i in range(0 if args.trace else SETUPS - 1):
        setups.append(run_worker({**spec, "setup_only": True}, f"{tag}-setup{i}")["setup"]["setup_s"])
        clock.append(time.perf_counter())
    result = run_worker(spec, f"{tag}-run")
    clock.append(time.perf_counter())
    steps = ["inputs", "oracles", *(f"setup{i}" for i in range(len(setups))), "run"]
    print("wall_s:", json.dumps({k: round(b - a, 2) for k, a, b in zip(steps, clock, clock[1:])}))
    setups.append(result["setup"]["setup_s"])

    executions = result["executions"]
    failed = [e for e in executions if not e["ok"]]
    for e in failed:
        print(f"FAILED {e['pass']} {e['query']}: {e['error']}", file=sys.stderr)
    warm = [e["latency_s"] for e in executions if e["pass"].startswith("warm")]
    tail = highest_percentile(len(warm))
    print(f"executions: {len(executions)}, {len(warm)} of them warm; failed: {len(failed)}"
          f" (failed_frac {len(failed) / len(executions):.4f}); highest warm percentile with"
          f" {len(warm)} samples: {f'p{tail} = {percentile(warm, tail):.4f} s' if tail else 'none'}")

    if args.trace:
        metrics = per_layer(list(units), result)
        trace_path = WORK / "traces" / f"{args.workload}-seed{args.seed}.json"
        trace_path.parent.mkdir(exist_ok=True)
        trace_path.write_text(json.dumps({
            "workload": args.workload, "seed": args.seed, "tables": tables,
            "setup": result["setup"], "passes": [result["cold"], *result["warm"]],
            "records": result["records"], "spans": result["spans"],
        }, indent=1))
        print("trace:", trace_path.relative_to(ROOT))
    else:
        metrics = end_to_end(list(units), setups, result)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(executions),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
