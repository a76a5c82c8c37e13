"""Simulate the round driver (see .claude/skills/verify/SKILL.md): entry() smoke at sf0.001, then every
queries() entry vs its oracle_sql() twin at sf0.01."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import hashlib
import math
import threading
import time

import duckdb
import pandas as pd

SMOKE_SF = "/root/testdata/sf0.001"
SF = os.environ.get("SIM_SF", "/root/testdata/sf0.01")
ORACLE_TIMEOUT_S = int(os.environ.get("SIM_ORACLE_TIMEOUT_S", "120"))
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return f"{v:.6f}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = sorted(
        "\x01".join(canon_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    return hashlib.md5("\x02".join(rows).encode()).hexdigest()


def main():
    from mapreduce_lab_spark.session import get_spark

    spark = get_spark("verify-driver-sim", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    smoke = E.entry(spark)
    n = smoke.count()
    assert n > 0, "entry() returned 0 rows"
    print(f"entry() smoke: {n} rows, schema={[f.name for f in smoke.schema]}")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    only = {n for n in os.environ.get("SIM_ONLY", "").split(",") if n}
    if only:
        missing = only - set(qs)
        assert not missing, f"SIM_ONLY names not registered: {sorted(missing)}"
        qs = {n: f for n, f in qs.items() if n in only}
    fails, rows_only = [], []
    slow = []  # (seconds, name, phase) for anything over SLOW_S
    SLOW_S = float(os.environ.get("SIM_SLOW_S", "20"))
    t_start = time.time()
    for i, (name, fn) in enumerate(qs.items()):
        t_q = time.time()
        try:
            sp = fn(spark, SF).toPandas()
        except Exception as ex:
            fails.append((name, f"spark error: {ex}"))
            print(f"[{i+1}/{len(qs)}] {name}: SPARK ERROR {ex}")
            continue
        if name not in oracles:
            rows_only.append((name, len(sp)))
            print(f"[{i+1}/{len(qs)}] {name}: rows-only ({len(sp)} rows)")
            continue
        # Watchdog: some oracles are deliberately naive formulations
        # (recursive-CTE closures, O(n²) definitions) that are fine at
        # driver scale (sf0.01) but explode at larger SIM_SF. Interrupt
        # rather than hang; a timeout at >driver scale is recorded as
        # skipped, not failed (the driver never runs oracles there).
        t_sp = time.time() - t_q
        if t_sp > SLOW_S:
            slow.append((t_sp, name, "spark"))
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        timer.start()
        t_or = time.time()
        try:
            du = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            interrupted = "INTERRUPT" in str(ex).upper()
            if interrupted and SF != "/root/testdata/sf0.01":
                print(f"[{i+1}/{len(qs)}] {name}: oracle timeout at this SF (skipped)")
            else:
                fails.append((name, f"oracle error: {ex}"))
                print(f"[{i+1}/{len(qs)}] {name}: ORACLE ERROR {ex}")
            continue
        finally:
            timer.cancel()
        t_du = time.time() - t_or
        if t_du > SLOW_S:
            slow.append((t_du, name, "oracle"))
        if sorted(sp.columns) != sorted(du.columns):
            fails.append((name, f"schema {sorted(sp.columns)} vs {sorted(du.columns)}"))
            print(f"[{i+1}/{len(qs)}] {name}: SCHEMA MISMATCH")
            continue
        if len(sp) != len(du):
            fails.append((name, f"rows {len(sp)} vs {len(du)}"))
            print(f"[{i+1}/{len(qs)}] {name}: ROWCOUNT {len(sp)} vs {len(du)}")
            continue
        hs, hd = value_hash(sp), value_hash(du)
        ok = hs == hd
        if not ok:
            fails.append((name, "hash mismatch"))
        print(f"[{i+1}/{len(qs)}] {name}: {'ok' if ok else 'HASH MISMATCH'} ({len(sp)} rows)")
    print(f"\n{len(qs)} queries in {time.time()-t_start:.0f}s; "
          f"{len(rows_only)} rows-only; {len(fails)} failures")
    for name, why in fails:
        print(f"FAIL {name}: {why}")
    if slow:
        # Cost outliers, worst first — the round-12 profiling that
        # found the pinned-IVF closure and the re-inlined dedup CTEs,
        # kept as a standing report so regressions surface per run.
        print(f"slowest (> {SLOW_S:.0f}s):")
        for dt, name, phase in sorted(slow, reverse=True)[:10]:
            print(f"  {dt:7.1f}s {phase:6s} {name}")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
