"""mapreduce_lab_spark/daemon.py: Python workers re-read a zip archive
only when it changed."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pytest

from mapreduce_lab_spark import daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EAGER_REREAD = sys.version_info < (3, 13)


def _write_zip(path, module: str, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", body)


@pytest.fixture
def wrapped(monkeypatch, tmp_path):
    """The patched zipimporter in this process, restored afterwards,
    plus a fresh archive on sys.path."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    daemon.install()
    module = f"graft_zip_{uuid.uuid4().hex}"
    archive = tmp_path / "mods.zip"
    _write_zip(archive, module, "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    yield module, archive
    sys.modules.pop(module, None)


def test_rewritten_zip_exposes_new_module(wrapped):
    module, archive = wrapped
    other = f"{module}_b"
    assert importlib.import_module(module).VALUE == 1
    importlib.invalidate_caches()
    # Rewritten in place (same inode), larger: a new module appears.
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{module}.py", "VALUE = 1\n")
        z.writestr(f"{other}.py", "VALUE = 2  # rewritten\n")
    importlib.invalidate_caches()
    try:
        assert importlib.import_module(other).VALUE == 2
    finally:
        sys.modules.pop(other, None)


@pytest.mark.skipif(not EAGER_REREAD, reason="CPython >= 3.13 re-reads lazily")
def test_unchanged_archive_is_not_reread(wrapped, monkeypatch):
    module, archive = wrapped
    importlib.import_module(module)
    importlib.invalidate_caches()  # first call records the signature
    reads = []
    original = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or original(path)
    )
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in reads


def test_python_task_runs_wrapped_method(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        method = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"wrapped": [hasattr(method, "__wrapped__")]})

    assert spark.conf.get("spark.python.daemon.module") == "mapreduce_lab_spark.daemon"
    rows = spark.range(1, numPartitions=1).mapInPandas(report, "wrapped boolean").collect()
    assert rows[0]["wrapped"] == EAGER_REREAD


def test_add_py_file_zip_is_importable_in_udf(spark, tmp_path):
    module = f"graft_pyfile_{uuid.uuid4().hex}"
    archive = tmp_path / f"{module}.zip"
    _write_zip(archive, module, "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def use(batches):
        import importlib

        import pandas as pd

        value = importlib.import_module(module).VALUE
        for _ in batches:
            yield pd.DataFrame({"v": [value]})

    rows = spark.range(1, numPartitions=1).mapInPandas(use, "v long").collect()
    assert rows[0]["v"] == 42


def test_session_from_temp_cwd_runs_map_in_pandas(tmp_path):
    """A driver started outside the repository still finds the daemon."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from mapreduce_lab_spark.session import get_spark

        def report(batches):
            import zipimport
            import pandas as pd
            method = zipimport.zipimporter.invalidate_caches
            for b in batches:
                yield pd.DataFrame({{"n": [len(b)], "w": [hasattr(method, "__wrapped__")]}})

        spark = get_spark("daemon-cwd", master="local[1]", shuffle_partitions=1)
        rows = spark.range(5, numPartitions=1).mapInPandas(report, "n long, w boolean").collect()
        print("RESULT", rows[0]["n"], rows[0]["w"])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert f"RESULT 5 {EAGER_REREAD}" in proc.stdout, proc.stdout[-2000:]
