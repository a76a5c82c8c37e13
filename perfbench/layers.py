"""Outside-in layer counters for one query execution.

Everything here is read from the running engine's own status stores
after a query returns; no engine code is changed or wrapped:

- job IDs from ``statusTracker().getJobIdsForGroup`` (the caller sets
  the job group to the query name), plus any job that ran in the same
  window under another group, which is how streaming micro-batches
  appear (their group is the stream's run id);
- per-stage metrics from the core status store (``lastStageAttempt``,
  ``taskSummary``);
- Python-worker and scan metrics from every SQL execution that started
  in the window, so that executions run at build time count too;
- Catalyst phase times from the executed DataFrame's
  ``queryExecution().tracker()``;
- codegen compile count and time as before/after deltas;
- cached RDDs from ``getRDDStorageInfo()``.
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError

# Counters summed per query; the per-layer metric names of BENCHMARK.json.
COUNTERS = [
    "operators.build_s", "operators.build_jobs",
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "codegen.compiles", "codegen.compile_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms", "exec.cpu_ms",
    "exec.gc_ms", "exec.max_task_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
    "sources.scan_ms", "sources.bytes_read", "sources.rows_read",
    "python.start_ms", "python.init_ms", "python.run_ms",
    "python.bytes_sent", "python.bytes_returned",
    "storage.leftover_rdds", "storage.leftover_bytes", "storage.uncleared_rdds",
    "streaming.batches", "streaming.batch_ms",
    "result.rows",
]

# Storage counters are a state, not work done: a pass reports the
# largest state it saw.
STATE_COUNTERS = {"storage.leftover_rdds", "storage.leftover_bytes", "storage.uncleared_rdds"}

PYTHON_METRICS = {
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
SCAN_METRICS = {
    "scan time": "sources.scan_ms",
    "size of files read": "sources.bytes_read",
    "number of output rows": "sources.rows_read",
}
_UNIT = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
_BATCH = re.compile(r"runId = (\S+)\s+batch = (\d+)")


def sql_metric_value(text: str) -> float:
    """Parse a SQL UI metric string into bytes, ms or a plain count.

    Formats: ``"10,000"``, ``"258 ms"``, and for per-task metrics
    ``"total (min, med, max (stageId: taskId))\\n7.7 s (1.8 s, ...)"``.
    """
    total = text.rsplit("\n", 1)[-1].split(" (", 1)[0].split()
    value = float(total[0].replace(",", ""))
    return value * _UNIT[total[1]] if len(total) > 1 else value


def add_totals(totals: dict, counters: dict) -> None:
    for key, value in counters.items():
        totals[key] = max(totals[key], value) if key in STATE_COUNTERS else totals[key] + value


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


class LayerProbe:
    """Reads layer counters around one query at a time (one client)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._core = sc._jsc.sc()
        self._status = self._core.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._codegen = getattr(
            jvm.org.apache.spark.sql.catalyst.expressions.codegen, "CodeGenerator$"
        ).__getattr__("MODULE$")
        self._quantile_max = sc._gateway.new_array(jvm.double, 1)
        self._quantile_max[0] = 1.0
        self._last_job = -1
        self._next_execution = 0

    def _drain(self) -> None:
        self._core.listenerBus().waitUntilEmpty()

    def skip(self) -> None:
        """Mark every job and SQL execution so far as seen, so that the
        next query's window holds only its own work."""
        self._drain()
        self._last_job = self._core.dagScheduler().nextJobId() - 1
        while _opt(self._sql.execution(self._next_execution)) is not None:
            self._next_execution += 1

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, compile ms so far) in this JVM."""
        return self._compiles.getCount(), self._codegen.compileTime() / 1e6

    def storage(self) -> tuple[int, int]:
        infos = self._core.getRDDStorageInfo()
        return len(infos), sum(r.memSize() + r.diskSize() for r in infos)

    def new_jobs(self, group: str) -> list[int]:
        """Jobs that ran since the last call or ``skip()``: the group's,
        plus any other job whose id falls inside the same window."""
        self._drain()
        ids = {int(j) for j in self._sc.statusTracker().getJobIdsForGroup(group)
               if int(j) > self._last_job}
        if ids:
            ids |= set(range(self._last_job + 1, max(ids)))
            self._last_job = max(ids)
        return sorted(ids)

    def job_counters(self, job_ids: list[int], out: dict) -> None:
        batches: dict[tuple[str, int], list[int]] = {}
        for jid in job_ids:
            try:
                job = self._status.job(jid)
            except Py4JJavaError:  # evicted or never recorded
                continue
            out["exec.jobs"] += 1
            match = _BATCH.search(_opt(job.description()) or "")
            if match:
                start, end = _opt(job.submissionTime()), _opt(job.completionTime())
                span = batches.setdefault((match[1], int(match[2])), [])
                if start is not None and end is not None:
                    span += [start.getTime(), end.getTime()]
            for sid in _seq(job.stageIds()):
                self._stage_counters(sid, out)
        out["streaming.batches"] += len(batches)
        out["streaming.batch_ms"] += sum(max(t) - min(t) for t in batches.values() if t)

    def _stage_counters(self, sid: int, out: dict) -> None:
        try:
            stage = self._status.lastStageAttempt(sid)
        except Py4JJavaError:
            return
        if stage.status().toString() != "COMPLETE":
            return  # skipped: its shuffle output was reused
        out["exec.stages"] += 1
        out["exec.tasks"] += stage.numCompleteTasks()
        out["exec.run_ms"] += stage.executorRunTime()
        out["exec.cpu_ms"] += stage.executorCpuTime() / 1e6
        out["exec.gc_ms"] += stage.jvmGcTime()
        out["shuffle.write_bytes"] += stage.shuffleWriteBytes()
        out["shuffle.read_bytes"] += stage.shuffleReadBytes()
        out["shuffle.spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
        summary = _opt(self._status.taskSummary(sid, stage.attemptId(), self._quantile_max))
        if summary is not None:
            slowest = summary.executorRunTime().apply(0)
            out["exec.max_task_ms"] = max(out["exec.max_task_ms"], slowest)

    def sql_counters(self, out: dict) -> None:
        """Python-node and scan metrics of every SQL execution since the
        last call or ``skip()``."""
        while _opt(self._sql.execution(self._next_execution)) is not None:
            values = self._sql.executionMetrics(self._next_execution)
            for node in _seq(self._sql.planGraph(self._next_execution).allNodes()):
                scan = node.name().startswith(("Scan ", "BatchScan "))
                for metric in _seq(node.metrics()):
                    key = PYTHON_METRICS.get(metric.name())
                    if key is None and scan:
                        key = SCAN_METRICS.get(metric.name())
                    text = _opt(values.get(metric.accumulatorId())) if key else None
                    if text:
                        out[key] += sql_metric_value(text)
            self._next_execution += 1

    def query_counters(self, name, df, rows, build_s, build_jobs, codegen_before) -> dict:
        """Every counter of one finished query execution, read before
        its cache is cleared."""
        out = dict.fromkeys(COUNTERS, 0.0)
        self.job_counters(build_jobs + self.new_jobs(name), out)
        self.sql_counters(out)
        self.phases(df, out)
        compiles, compile_ms = self.codegen()
        out["codegen.compiles"] = compiles - codegen_before[0]
        out["codegen.compile_ms"] = compile_ms - codegen_before[1]
        out["operators.build_s"] = build_s
        out["operators.build_jobs"] = len(build_jobs)
        out["result.rows"] = rows
        out["storage.leftover_rdds"], out["storage.leftover_bytes"] = self.storage()
        return out

    @staticmethod
    def phases(df, out: dict) -> None:
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            key = f"plan.{kv._1()}_ms"
            if key in out:
                out[key] += kv._2().durationMs()
