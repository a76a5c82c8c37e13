"""Cross-scale census of the IVF (inverted multi-index) near-dup
route — the linear-candidates counterpart of
``probe_band_candidates.py``'s quadratic constant-bucket census.

For each SF_DIR, runs the registered ``ivf_cell_census`` pipeline
(identical-vector collapse -> sampled codebook training -> product-
cell assignment) and prints one JSON line with the distinct-rep
count, trained/occupied cells, postings, the candidate-pair workload
the cell self-join will enumerate (sum C(occ, 2)), and the hottest
cell. Run against sf0.1 / sf1 / sf10 to verify cand_pairs grows ~n
where the sign-LSH census grew ~n² (docs/SCALE.md round-9 table).

Usage: python scripts/probe_ivf_candidates.py SF_DIR [SF_DIR ...]
(sf10 needs a bigger driver heap than get_spark's 8g default:
SPARK_GRAFT_DRIVER_MEM=48g python scripts/probe_ivf_candidates.py ...)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from mapreduce_lab_spark.session import get_spark


def main() -> None:
    spark = get_spark("probe-ivf-candidates")
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from mapreduce_lab_spark.operators.semantic_ivf import (
        build_ivf_index,
        ivf_postings,
    )

    for sf_dir in sys.argv[1:]:
        t0 = time.perf_counter()
        reps, cent, dim = build_ivf_index(spark, sf_dir)
        n_reps = reps.count()
        occ = ivf_postings(reps, cent, dim).groupBy("c1", "c2").agg(
            F.count(F.lit(1)).alias("n")
        )
        ks = [r["k"] for r in cent.groupBy("sub").agg(
            F.count(F.lit(1)).alias("k")).collect()]
        trained = 1
        for k in ks:
            trained *= k
        row = occ.agg(
            F.count(F.lit(1)).alias("occupied_cells"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("postings"),
            F.coalesce((F.sum(F.col("n") * (F.col("n") - 1)) / 2).cast("long"),
                       F.lit(0)).alias("cand_pairs"),
            F.coalesce(F.max("n"), F.lit(0)).alias("max_cell"),
        ).collect()[0]
        row = {**row.asDict(), "trained_cells": trained if ks else 0}
        print(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    "n_reps": n_reps,
                    "trained_cells": row["trained_cells"],
                    "occupied_cells": row["occupied_cells"],
                    "postings": row["postings"],
                    "cand_pairs": row["cand_pairs"],
                    "max_cell": row["max_cell"],
                    "census_sec": round(time.perf_counter() - t0, 1),
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
