"""Task-retry fault tolerance — executable evidence for the
SURVEY.md §2.1 'platform-covered' rows (E12 TTL re-execution / E14
worker loop): a task that crashes on its first attempt is re-executed
transparently and the job's OUTPUT IS IDENTICAL to the no-failure run,
the exactly-once contract the reference implements by hand
(core/coordinator.go task re-issue; test.sh crash test).

Runs in a subprocess because retry requires ``local[4,3]`` (local
masters default to maxFailures=1, and the session-scoped test fixture
can't change masters mid-JVM).
"""

from __future__ import annotations

import os
import subprocess
import sys

_SCRIPT = r"""
import sys

from pyspark.sql import functions as F

from mapreduce_lab_spark.session import get_spark

# local[4,3]: up to 3 attempts per task
spark = get_spark("retry-proof", master="local[4,3]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")


def flaky(batches):
    # Crash the FIRST attempt of every task; succeed on retries. The
    # classes/functions are defined inside the closure-pickled scope.
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx.attemptNumber() == 0:
        raise RuntimeError(f"injected failure, task {ctx.partitionId()}")
    for b in batches:
        yield b


df = spark.range(1000).repartition(4)
got = (
    df.mapInPandas(flaky, schema="id long")
    .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
    .collect()[0]
)
assert got["n"] == 1000 and got["s"] == 499500, got
print("RETRY_OK", got["n"], got["s"])


def flaky_partial(batches):
    # Emit PART of the data, then crash (first attempt only): the
    # failed attempt's partially-written file must be discarded by the
    # output committer, not merged with the retry's output.
    from pyspark import TaskContext

    ctx = TaskContext.get()
    first = ctx.attemptNumber() == 0
    for b in batches:
        yield b
        if first:
            raise RuntimeError(f"injected mid-write failure, task {ctx.partitionId()}")


out_dir = sys.argv[1]
(
    spark.range(1000)
    .repartition(4)
    .mapInPandas(flaky_partial, schema="id long")
    .write.mode("overwrite")
    .parquet(out_dir)
)
back = spark.read.parquet(out_dir).agg(
    F.count("*").alias("n"),
    F.count_distinct("id").alias("d"),
    F.sum("id").alias("s"),
).collect()[0]
assert (back["n"], back["d"], back["s"]) == (1000, 1000, 499500), back
print("COMMIT_OK", back["n"], back["d"], back["s"])
spark.stop()
"""


def test_task_retry_is_transparent_and_exactly_once(tmp_path):
    script = tmp_path / "retry_proof.py"
    script.write_text(_SCRIPT)
    env = dict(os.environ)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    out = subprocess.run(
        [sys.executable, str(script), str(tmp_path / "commit_out")],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "RETRY_OK 1000 499500" in out.stdout, out.stdout
    assert "COMMIT_OK 1000 1000 499500" in out.stdout, out.stdout
