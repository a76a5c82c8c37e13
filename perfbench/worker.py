"""One measured engine process: set-up, a cold pass, then warm passes.

Run by ``run.py`` as ``python worker.py <spec.json>``; writes its result
to the spec's ``result_path``. With ``"setup_only": true`` it stops after
set-up, which is how ``run.py`` repeats set-up in fresh processes.

A pass runs each query of the workload once, as a user would: the
registry call, then execution to the full result with ``toPandas()``,
then ``spark.catalog.clearCache()``. Every result is hashed and compared
with its DuckDB oracle's hash after the timed region.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from pathlib import Path

from layers import COUNTERS, LayerProbe, add_totals

# Warm passes repeat until the run's time is up, and at least this
# many times; a traced run alternates at least this many pairs of an
# untraced and a traced pass. Pass times still fall over the first
# passes, so a run whose pass count depends on the clock gives a
# median that depends on it too: the benchmark's --seconds is set below
# what the minimum number of passes takes on every workload.
MIN_WARM_PASSES = 4
MIN_TRACED_PAIRS = 2


def session_pids(sid: int) -> list[int]:
    """Processes of session ``sid`` that still run; zombies waiting to be
    reaped do not count. The session, not the process group, holds every
    process a worker starts: the PySpark daemon moves itself and its
    Python workers to a process group of their own."""
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                fields = Path(f"/proc/{entry}/stat").read_text().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                pids.append(int(entry))
    return pids


def peak_rss_mb() -> float:
    """Sum of VmHWM over this worker's session: the worker, the driver
    JVM, the PySpark daemon and its Python workers."""
    total_kb = 0
    for pid in session_pids(os.getsid(0)):
        try:
            status = Path(f"/proc/{pid}/status").read_text()
        except OSError:
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024


class Runner:
    def __init__(self, spark, queries, spec, value_hash):
        self.spark = spark
        self.queries = queries
        self.spec = spec
        self.value_hash = value_hash
        self.executions: list[dict] = []
        self.spans: list[dict] = []
        self.records: list[dict] = []
        self.probe = LayerProbe(spark) if spec["trace"] else None

    def span(self, name, start, end, parent, query=None) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "query": query,
                           "start": start, "end": end, "parent": parent})
        return len(self.spans) - 1

    def execute(self, name: str, probe):
        """One query execution: the registry call, then execution to the
        full result. Returns (df, result frame, build s, execute s,
        build-time job ids, error)."""
        t0 = time.perf_counter()
        try:
            df = self.queries[name](self.spark, self.spec["input_dir"])
            t1 = time.perf_counter()
            build_jobs = probe.new_jobs(name) if probe else []
            t2 = time.perf_counter()
            pdf = df.toPandas()
            return df, pdf, t1 - t0, time.perf_counter() - t2, build_jobs, None
        except Exception:  # a failing query is counted, not fatal
            return None, None, time.perf_counter() - t0, 0.0, [], traceback.format_exc(limit=3)

    def run_pass(self, label: str, traced: bool) -> dict:
        probe = self.probe if traced else None
        pass_span = self.span(label, time.time(), None, None)
        timed = 0.0
        totals = dict.fromkeys(COUNTERS, 0.0)
        if probe:
            probe.skip()  # untraced passes and set-up ran jobs too
        for name in self.spec["queries"]:
            if probe:
                self.spark.sparkContext.setJobGroup(name, name)
                codegen_before = probe.codegen()
            w0, t0 = time.time(), time.perf_counter()
            df, pdf, build_s, exec_s, build_jobs, error = self.execute(name, probe)
            counters = None
            if probe and error is None:
                counters = probe.query_counters(name, df, len(pdf), build_s, build_jobs, codegen_before)
            self.spark.catalog.clearCache()
            timed += time.perf_counter() - t0
            if error is None and self.value_hash(pdf) != self.spec["expected"][name]:
                error = "result hash differs from the oracle's"
            self.executions.append({"pass": label, "query": name, "latency_s": build_s + exec_s,
                                    "ok": error is None, "error": error})
            if counters:
                counters["storage.uncleared_rdds"] = probe.storage()[0]
                add_totals(totals, counters)
                self.records.append({"pass": label, "query": name, **counters})
                q_span = self.span("query", w0, w0 + build_s + exec_s, pass_span, name)
                self.span("registry_call", w0, w0 + build_s, q_span, name)
                self.span("execute", w0 + build_s, w0 + build_s + exec_s, q_span, name)
        self.spans[pass_span]["end"] = time.time()
        return {"label": label, "wall_s": timed, "traced": traced, "layers": totals if probe else None}

    def run(self) -> dict:
        seconds, trace = self.spec["seconds"], self.spec["trace"]
        cold = self.run_pass("cold", traced=trace)
        # One unmeasured pass first: the driver JVM is still compiling
        # hot paths, and this pass runs 15-70% slower than the last ones,
        # depending on the workload.
        self.run_pass("settle", traced=False)
        passes: list[dict] = []
        start = time.perf_counter()
        while True:
            # A traced run alternates untraced and traced warm passes so
            # that the tracing overhead is measured inside one process.
            traced = trace and len(passes) % 2 == 1
            passes.append(self.run_pass(f"warm{len(passes) + 1}", traced))
            if (time.perf_counter() - start >= seconds
                    and len(passes) >= (2 * MIN_TRACED_PAIRS if trace else MIN_WARM_PASSES)):
                break
        return {"cold": cold, "warm": passes}


def setup(spec):
    """Set-up as a user pays it; returns (spark, queries, timings)."""
    sys.path.insert(0, spec["root"])
    from mapreduce_lab_spark.session import get_spark

    t_spark = time.time()
    spark = get_spark(app_name="perfbench")
    t_registry = time.time()
    from mapreduce_lab_spark import registry

    queries = registry.queries()
    t_job = time.time()
    spark.range(1).collect()
    t_ready = time.time()
    return spark, queries, {
        "setup_s": t_ready - spec["t_launch"],
        "session.get_spark_s": t_registry - t_spark,
        "registry.load_s": t_job - t_registry,
    }


def main() -> None:
    spec = json.loads(Path(sys.argv[1]).read_text())
    spark, queries, timings = setup(spec)
    result = {"setup": timings}
    if not spec["setup_only"]:
        sys.path.insert(0, str(Path(spec["root"]) / "scripts"))
        from verify_driver import value_hash

        runner = Runner(spark, queries, spec, value_hash)
        result.update(runner.run())
        result["executions"] = runner.executions
        result["peak_rss_mb"] = peak_rss_mb()
        if spec["trace"]:
            result["spans"] = runner.spans
            result["records"] = runner.records
    Path(spec["result_path"]).write_text(json.dumps(result))
    # No spark.stop(): run.py kills this session (the JVM and the
    # Python workers) and removes their scratch directories, which takes
    # less of the run's time budget than an orderly shutdown.
    os._exit(0)


if __name__ == "__main__":
    main()
