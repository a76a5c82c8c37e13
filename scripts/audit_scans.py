"""Repo-wide duplicate-scan audit.

Round 4 found dup_span_fraction_13gram silently scanning + re-running
its tokenize/explode subtree TWICE because two consumers pruned the
shared DataFrame differently (no ReusedExchange). This script makes
that pattern visible for every registered query: it builds each plan
against a clean cache and reports queries whose plan contains more
than one LIVE FileScan of the same parquet input (cache-served
subtrees counted once — testing.live_scan_counts), with the
per-table scan count. Recalibrate tests/test_plan_hygiene.py's
DUP_SCAN_AUDITED from the --all output.

A duplicate scan is not automatically a defect — broadcast dimensions
scanned twice are cheap, and self-joins genuinely read twice — but
every row here is either (a) justified in the operator's docstring or
(b) a latent 2x-at-100TB cost. Run at sf0.001: plan SHAPE is
scale-independent.

Usage: python scripts/audit_scans.py [--all]
  default: print only queries with a duplicated scan
  --all:   print every query's scan counts
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("AUDIT_SF", "/root/testdata/sf0.001")

# Iterative operators execute jobs during plan CONSTRUCTION (collect
# on convergence state); building their "plan" here runs the whole
# loop, so this convenience script skips them for speed. They are NOT
# exempt from the gate: tests/test_plan_hygiene.py builds every
# non-streaming query (these included) and audits the same
# live_scan_counts, so each has a per-round sweep row there.
SKIP = {
    "kmeans_embeddings",
    "ann_ivf_trained",
    "kcore_parts",
    "pagerank_copurchase",
    "near_dup_clusters",
    "near_dup_embedding_clusters",
    "cluster_representatives",
    "bpe_train_merges",
    "bpe_token_counts",
    "ann_pq_adc",
    "hard_negative_mining",
}


def main() -> None:
    from mapreduce_lab_spark import registry
    from mapreduce_lab_spark.session import get_spark
    from mapreduce_lab_spark.testing import live_scan_counts

    spark = get_spark("audit-scans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    show_all = "--all" in sys.argv
    qs = registry.queries()
    flagged: list[tuple[str, dict[str, int]]] = []
    errors: list[tuple[str, str]] = []
    for name, fn in qs.items():
        if name in SKIP:
            continue
        spark.catalog.clearCache()
        try:
            df = fn(spark, SF)
            tables = Counter(live_scan_counts(df))
        except Exception as ex:  # streaming-only constructs, env gates
            errors.append((name, str(ex).splitlines()[0][:100]))
            continue
        dups = {t: c for t, c in tables.items() if c > 1}
        if dups:
            flagged.append((name, dups))
        if show_all:
            print(f"{name}: {dict(tables)}")

    print(f"\n{len(qs) - len(SKIP) - len(errors)} plans audited, "
          f"{len(errors)} skipped (construction error), "
          f"{len(flagged)} with duplicate scans:")
    for name, dups in sorted(flagged, key=lambda x: -max(x[1].values())):
        print(f"  {name}: {dups}")
    for name, why in errors:
        print(f"  [error] {name}: {why}")


if __name__ == "__main__":
    main()
