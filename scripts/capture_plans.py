#!/usr/bin/env python
"""Capture per-query formatted physical plans to plans/<tag>/ files.

Usage:
    python scripts/capture_plans.py <suffix> [query ...]

Writes plans/r13/<query>_<suffix>.txt (suffix: "before" / "after")
for each named query — the optimization-round evidence files the
judge diffs against the code. Defaults to every bench headline query.
The plans are AQE initial plans at $SPARK_GRAFT_SF_DIR (default
sf0.1) under the same session config bench.py uses, so Exchange
counts / join strategies / PushedFilters match what the bench times.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from mapreduce_lab_spark import registry  # noqa: E402
from mapreduce_lab_spark.plans.inspect import formatted_plan  # noqa: E402
from mapreduce_lab_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    if not names:
        from bench import HEADLINE

        names = [n for n in HEADLINE if n in qs]
    out_dir = os.path.join(ROOT, "plans", os.environ.get("PLANS_TAG", "r14"))
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df).rstrip() + "\n")
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
