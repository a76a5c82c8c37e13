"""Candidate-pair census for the banded LSH families across scales.

For each (band, bucket-value) the band self-join must enumerate
C(n_bucket, 2) candidate pairs before the in-task verify can reject
them. This probe computes that census WITHOUT running the join —
one narrow signature scan + a groupBy count per family — so the
quadratic growth of a constant-bucket scheme can be measured at
scales where actually running the join would be prohibitive.

Usage: python scripts/probe_band_candidates.py SF_DIR [SF_DIR ...]
(sf10 needs a bigger driver heap than get_spark's 8g default:
SPARK_GRAFT_DRIVER_MEM=48g python scripts/probe_band_candidates.py ...)
Prints one JSON line per (sf_dir, family) with rows, buckets,
candidate pairs, and max bucket occupancy.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from mapreduce_lab_spark.operators.dedup import (
    _dvec,
    _rp_band_vals,
)
from mapreduce_lab_spark.session import get_spark
from mapreduce_lab_spark.sources.tables import fan_out, load_table


def census(df, keys: list[str]) -> dict:
    agg = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("buckets"),
            F.sum(F.expr("n * (n - 1) / 2")).alias("cand_pairs"),
            F.max("n").alias("max_bucket"),
            F.sum("n").alias("rows"),
        )
        .collect()[0]
    )
    return {
        "buckets": agg["buckets"],
        "cand_pairs": int(agg["cand_pairs"]),
        "max_bucket": agg["max_bucket"],
        "band_rows": agg["rows"],
    }


def main() -> None:
    spark = get_spark("probe-band-candidates")
    for sf_dir in sys.argv[1:]:
        e = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
            "vec_id", _dvec("embedding").alias("v")
        )
        n_rows = e.count()
        bands = e.select(
            "vec_id", F.posexplode(F.array(*_rp_band_vals())).alias("band", "val")
        )
        out = {"sf_dir": sf_dir, "family": "embedding_rp_lsh", "rows": n_rows}
        out.update(census(bands, ["band", "val"]))
        print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
