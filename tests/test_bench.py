"""bench.py's round number for its per-round detail file."""

from __future__ import annotations

import subprocess

from bench import bench_round


def _git(cwd, *args):
    subprocess.run(
        ["git", "-c", "user.name=t", "-c", "user.email=t@t", "-c", "commit.gpgsign=false", *args],
        cwd=cwd, check=True, capture_output=True,
    )


def test_bench_round_counts_only_committed_results(tmp_path):
    """The first leg of a multi-leg driver run writes BENCH_r02.json
    before the second leg starts; both legs must still report round 2."""
    _git(tmp_path, "init", "-q")
    for name in ("BENCH_r01.json", "BENCH_r01_c8.json"):
        (tmp_path / name).write_text("{}")
    _git(tmp_path, "add", ".")
    _git(tmp_path, "commit", "-q", "-m", "round 1")
    (tmp_path / "BENCH_r02.json").write_text("{}")
    assert bench_round(str(tmp_path)) == 2


def test_bench_round_outside_git_counts_files(tmp_path):
    (tmp_path / "BENCH_r02.json").write_text("{}")
    (tmp_path / "BENCH_r07_c8.json").write_text("{}")
    assert bench_round(str(tmp_path)) == 3
