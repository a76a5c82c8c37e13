"""Seeded benchmark inputs derived from the repository's test data.

Every table is a seeded row permutation of a test-data table: same
rows, same columns, same parquet row-group size, different row order
per seed. A workload with ``copies > 1`` permutes that many key-offset
copies of sf0.1, built once with ``scripts/make_sf1.py`` (run as a
subprocess, because its module globals read ``sys.argv``; its output
does not depend on the seed). Inputs are cached per (scale, seed) under
the work directory, one seed per scale at a time.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import zlib
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from verify_driver import TABLES

DONE = "tables.json"


def permute_table(src: Path, dst: Path, seed: int) -> dict:
    """Write ``src`` to ``dst`` with its rows in a seeded random order."""
    pf = pq.ParquetFile(src)
    group_rows = max(pf.metadata.row_group(0).num_rows, 1) if pf.metadata.num_row_groups else 1
    table = pf.read()
    rng = np.random.default_rng([seed, zlib.crc32(src.name.encode())])
    order = rng.permutation(table.num_rows)
    pq.write_table(table.take(order), dst, row_group_size=group_rows)
    return {"rows": table.num_rows, "bytes": dst.stat().st_size}


def replica(root: Path, work: Path, base: str, copies: int) -> Path:
    """``copies`` key-offset copies of sf0.1, built on first use."""
    if base != "sf0.1":
        raise ValueError("scripts/make_sf1.py replicates sf0.1 only")
    out = work / "replicas" / f"{base}x{copies}"
    if not (out / DONE).exists():
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run(
            [sys.executable, str(root / "scripts" / "make_sf1.py"), str(out), str(copies)],
            check=True, stdout=subprocess.DEVNULL,
        )
        (out / DONE).write_text("{}")
    return out


def prepare(root: Path, work: Path, testdata: Path, scale: dict, seed: int) -> tuple[Path, dict]:
    """Return (input directory, per-table rows and bytes) for ``scale``
    under ``seed``, generating it on first use."""
    base, copies = scale["base"], scale.get("copies", 1)
    out = work / "inputs" / f"{base}x{copies}-seed{seed}"
    if (out / DONE).exists():
        return out, json.loads((out / DONE).read_text())
    for stale in out.parent.glob(f"{base}x{copies}-seed*"):  # keep one seed per scale
        shutil.rmtree(stale)
    partial = out.with_name(out.name + ".partial")
    shutil.rmtree(partial, ignore_errors=True)
    partial.mkdir(parents=True)
    src = testdata / base if copies == 1 else replica(root, work, base, copies)
    tables = {t: permute_table(src / f"{t}.parquet", partial / f"{t}.parquet", seed) for t in TABLES}
    (partial / DONE).write_text(json.dumps(tables, indent=1))
    shutil.rmtree(out, ignore_errors=True)
    partial.rename(out)
    return out, tables
