"""Streaming/batch parity: the streaming twins must produce the same
results as the batch event-time operators on a full replay.

Harness: events are rewritten as plain-int64-ts parquet into a tmp
stream directory; availableNow drains them into a memory sink. The
watermark tests add a later sentinel file and force two microbatches
(maxFilesPerTrigger=1) so the watermark actually advances between
batches and closes sessions — a single-batch replay would never fire
event-time state eviction.
"""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F

from mapreduce_lab_spark.operators.events import session_windows, tumbling_counts
from mapreduce_lab_spark.streaming import jobs

SENTINEL_USER = -1


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    """events as plain-int64 nanos parquet: real.parquet, then (later
    mtime) a single far-future sentinel event that advances the
    watermark past every real session."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import duckdb

    d = tmp_path_factory.mktemp("events_stream")
    con = duckdb.connect()
    tbl = con.execute(
        f"""
        SELECT event_id, epoch_ns(ts) AS ts, user_id, event_type, value, props
        FROM read_parquet('{os.path.join(sf_dir, "events.parquet")}')
        """
    ).fetch_arrow_table()
    pq.write_table(tbl, str(d / "real.parquet"))
    max_ns = max(tbl["ts"].to_pylist())
    sentinel = pa.table(
        {
            "event_id": pa.array([10**9], pa.int64()),
            "ts": pa.array([max_ns + 2 * 3600 * 10**9], pa.int64()),
            "user_id": pa.array([SENTINEL_USER], pa.int64()),
            "event_type": pa.array(["sentinel"], pa.string()),
            "value": pa.array([0.0], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    time.sleep(1.1)  # file-source batches order by mtime: sentinel last
    pq.write_table(sentinel, str(d / "zz_sentinel.parquet"))
    con.close()
    return str(d)


def _batch_events(spark, stream_dir, with_sentinel: bool):
    df = (
        spark.read.schema(jobs.EVENTS_SCHEMA_NANOS)
        .parquet(stream_dir)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    return df if with_sentinel else df.filter(F.col("user_id") != SENTINEL_USER)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_tumbling_matches_batch(spark, stream_dir):
    stream = jobs.events_stream(spark, stream_dir, glob="real.parquet")
    got = jobs.run_available_now(
        jobs.streaming_tumbling_hourly(stream), "complete", "t_tumbling"
    )
    want = tumbling_counts(_batch_events(spark, stream_dir, with_sentinel=False))
    assert _rows(got) == _rows(want)


def test_streaming_sessions_close_on_watermark(spark, stream_dir):
    stream = jobs.events_stream(
        spark, stream_dir, glob="*.parquet", max_files_per_trigger=1
    )
    got = jobs.run_available_now(jobs.streaming_sessions(stream), "append", "t_sessions")
    got = got.filter(F.col("user_id") != SENTINEL_USER)
    want = session_windows(
        _batch_events(spark, stream_dir, with_sentinel=False), gap=jobs.SESSION_GAP
    )
    assert _rows(got) == _rows(want)


def test_streaming_dedup_within_watermark(spark, stream_dir):
    stream = jobs.events_stream(spark, stream_dir, glob="real.parquet")
    got = jobs.run_available_now(jobs.streaming_dedup(stream), "append", "t_dedup")
    batch = _batch_events(spark, stream_dir, with_sentinel=False)
    want_keys = batch.select("user_id", "event_type").distinct()
    assert got.count() == want_keys.count()
    assert _rows(got.select("user_id", "event_type")) == _rows(want_keys)


def _event_file(path, rows):
    """rows: [(event_id, iso_ts_hhmm_on_2026_01_01)] → tiny parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timezone

    ids, tss = zip(*rows)
    to_ns = lambda hhmm: int(
        datetime.strptime(f"2026-01-01 {hhmm}", "%Y-%m-%d %H:%M")
        .replace(tzinfo=timezone.utc)
        .timestamp()
        * 10**9
    )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(list(ids), pa.int64()),
                "ts": pa.array([to_ns(t) for t in tss], pa.int64()),
                "user_id": pa.array([1] * len(ids), pa.int64()),
                "event_type": pa.array(["t"] * len(ids), pa.string()),
                "value": pa.array([1.0] * len(ids), pa.float64()),
                "props": pa.array(["{}"] * len(ids), pa.string()),
            }
        ),
        str(path),
    )


def test_late_data_policy(spark, tmp_path):
    """Watermark semantics, batch by batch (30-min watermark, 1h windows).

    Watermark propagation lags one batch: the late-row filter for
    batch N uses the watermark derived from data through batch N-2
    (the watermark updates at batch commit, and the filter reads the
    previous commit's value). Hence the wm-setting event (12:05 in
    b1) protects state only from batch 3 onward:

    b1: 10:10, 10:20, 12:05    filter wm -inf;  post-b1 wm 11:35
    b2: 12:10                  filter wm -inf;  [10,11) emits n=2
    b3: 10:30 -> DROPPED (10:30 < filter wm 11:35);
        12:40 -> late but >= wm: MERGES into open [12,13)
        14:10                  post-b3 wm 13:40: [12,13) emits n=3
    b4: 16:00 sentinel         [14,15) emits n=1
    """
    d = tmp_path / "late_stream"
    d.mkdir()
    _event_file(d / "b1.parquet", [(1, "10:10"), (2, "10:20"), (3, "12:05")])
    time.sleep(1.1)
    _event_file(d / "b2.parquet", [(4, "12:10")])
    time.sleep(1.1)
    _event_file(d / "b3.parquet", [(5, "10:30"), (6, "12:40"), (7, "14:10")])
    time.sleep(1.1)
    _event_file(d / "b4.parquet", [(8, "16:00")])

    stream = jobs.events_stream(spark, str(d), glob="*.parquet", max_files_per_trigger=1)
    got = jobs.run_available_now(
        jobs.streaming_tumbling_watermarked(stream), "append", "t_late"
    )
    rows = {r.window_start: r.n_events for r in got.collect()}
    assert rows == {
        "2026-01-01 10:00:00": 2,  # late 10:30 was dropped, not counted
        "2026-01-01 12:00:00": 3,  # 12:05 + 12:10 + late-but-in-wm 12:40
        "2026-01-01 14:00:00": 1,
    }


def test_stream_stream_interval_join_matches_batch(spark, stream_dir):
    def sides(df):
        return (
            df.filter(F.col("event_type") == "view"),
            df.filter(F.col("event_type") == "purchase"),
        )

    stream = jobs.events_stream(spark, stream_dir, glob="real.parquet")
    got = jobs.run_available_now(
        jobs.streaming_view_purchase_join(*sides(stream)), "append", "t_ssjoin"
    )
    batch = _batch_events(spark, stream_dir, with_sentinel=False)
    bv, bp = sides(batch)
    want = (
        bp.alias("p")
        .join(
            bv.alias("v"),
            (F.col("p.user_id") == F.col("v.user_id"))
            & (F.col("v.ts") <= F.col("p.ts"))
            & (F.col("v.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            F.col("p.event_id").alias("purchase_id"),
            F.col("v.event_id").alias("view_id"),
            F.col("p.user_id").alias("p_user"),
        )
    )
    assert _rows(got) == _rows(want)


def test_exactly_once_across_restart(spark, tmp_path):
    """Checkpointed file-sink restart: each input row lands exactly once.

    The reference attempts this with its ping->commit->complete
    protocol and rollback-by-delete (core/worker.go:213-265,459-468)
    and doesn't fully achieve it (no O_TRUNC, no atomic rename —
    SURVEY.md E13); Spark's checkpoint + file-sink commit log is the
    contractual replacement. Two stream incarnations share one
    checkpoint: the restart must process only the new file and must
    not duplicate the old one.
    """
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    _event_file(src / "b1.parquet", [(1, "10:00"), (2, "10:05")])

    def drain():
        q = (
            jobs.events_stream(spark, str(src), glob="*.parquet")
            .select("event_id", "ts")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert sorted(r.event_id for r in spark.read.parquet(out).collect()) == [1, 2]

    _event_file(src / "b2.parquet", [(3, "10:10")])
    drain()  # restart from the same checkpoint
    ids = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert ids == [1, 2, 3]  # no loss, no duplicates


def test_rocksdb_state_store_parity(spark, stream_dir):
    """Same watermarked dedup, RocksDB state store instead of the
    default in-memory HDFS-backed provider. RocksDB is the production
    backend once keyed state outgrows executor heap (spills to local
    disk, incremental checkpoints); the operator must not notice the
    swap. Provider is fixed at query start from the session conf, so
    setting it before .start() is enough."""
    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        stream = jobs.events_stream(spark, stream_dir, glob="real.parquet")
        got = jobs.run_available_now(jobs.streaming_dedup(stream), "append", "t_rocks")
        batch = _batch_events(spark, stream_dir, with_sentinel=False)
        want_keys = batch.select("user_id", "event_type").distinct()
        assert _rows(got.select("user_id", "event_type")) == _rows(want_keys)
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_foreach_batch_upsert_sink(spark, stream_dir, tmp_path):
    """Multi-batch upserted state table == batch aggregation.

    Two microbatches (maxFilesPerTrigger=1) of update-mode running
    totals flow through the upsert sink; the final `current` version
    must hold exactly one row per user with totals over the whole
    stream — batch 2's rows replacing batch 1's, not appending.
    """
    stream = jobs.events_stream(
        spark, stream_dir, glob="*.parquet", max_files_per_trigger=1
    )
    target = str(tmp_path / "totals_table")
    q = jobs.start_upsert_sink(
        jobs.streaming_running_totals(stream),
        target,
        ["user_id"],
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = (
        spark.read.parquet(os.path.join(target, "current"))
        .filter(F.col("user_id") != SENTINEL_USER)
    )
    batch = _batch_events(spark, stream_dir, with_sentinel=False)
    want = batch.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )
    assert _rows(got) == _rows(want)
    # one row per key — the sink merged, not appended
    assert got.count() == got.select("user_id").distinct().count()


def test_foreach_batch_bucketed_merge_sink(spark, stream_dir, tmp_path):
    """MERGE into a bucketed state table: correctness + co-location.

    Two microbatches of update-mode running totals merge into a
    catalog table bucketed on user_id. The final view must equal the
    batch aggregation (one row per user), the backing table must be
    bucketed, and the merge's anti-join must read the base side
    WITHOUT an Exchange — only the incoming batch shuffles, into
    exactly n_buckets partitions. availableNow (trigger-once) drain
    doubles as the throughput probe.
    """
    from mapreduce_lab_spark.plans import inspect

    spark.sql(f"CREATE DATABASE IF NOT EXISTS mergedb LOCATION '{tmp_path / 'db'}'")
    table = "mergedb.user_totals"
    try:
        stream = jobs.events_stream(
            spark, stream_dir, glob="*.parquet", max_files_per_trigger=1
        )
        n_input = spark.read.schema(jobs.EVENTS_SCHEMA_NANOS).parquet(stream_dir).count()
        t0 = time.perf_counter()
        q = jobs.start_bucketed_merge_sink(
            jobs.streaming_running_totals(stream),
            table,
            ["user_id"],
            str(tmp_path / "ckpt"),
            n_buckets=8,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        assert n_input / wall > 0  # trigger-once throughput is finite/sane

        got = spark.table(table).filter(F.col("user_id") != SENTINEL_USER)
        batch = _batch_events(spark, stream_dir, with_sentinel=False)
        want = batch.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        )
        assert _rows(got) == _rows(want)
        assert got.count() == got.select("user_id").distinct().count()

        # Backing table is bucketed on the merge key.
        vname = [
            t.name for t in spark.catalog.listTables("mergedb")
            if t.name.startswith("user_totals_v")
        ]
        assert len(vname) == 1  # superseded versions were dropped
        ddl = spark.sql(f"SHOW CREATE TABLE mergedb.{vname[0]}").collect()[0][0]
        assert "CLUSTERED BY (user_id)" in ddl and "8 BUCKETS" in ddl, ddl

        # Co-location: base side of the next merge's anti-join has no
        # Exchange; only the probe side shuffles (forced SMJ — at this
        # scale it would broadcast, at real scale it wouldn't).
        probe = spark.createDataFrame([(1,), (2,)], "user_id long").hint("merge")
        anti = spark.table(table).join(probe, ["user_id"], "left_anti")
        plan = inspect.formatted_plan(anti)
        assert "SortMergeJoin" in plan, plan
        assert inspect.exchange_count(anti) == 1, plan
    finally:
        spark.sql("DROP DATABASE IF EXISTS mergedb CASCADE")


def test_streaming_running_totals_match_batch(spark, stream_dir):
    stream = jobs.events_stream(spark, stream_dir, glob="real.parquet")
    got = jobs.run_available_now(
        jobs.streaming_running_totals(stream), "update", "t_totals"
    )
    batch = _batch_events(spark, stream_dir, with_sentinel=False)
    want = batch.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )
    assert _rows(got) == _rows(want)


def test_running_totals_round_half_cents_away_from_zero():
    """An exact half-cent (0.125 -> 12.5 units) rounds away from zero,
    like to_units and DuckDB's round (13), not half to even like
    Python's round (12)."""
    import duckdb
    import pandas as pd

    from mapreduce_lab_spark.functions.numeric import oracle_units

    values = [0.125, -0.125, 1.125, 0.375, 2.5, -2.5, 0.0049999999999999994, 19.99]
    want = [
        r[0]
        for r in duckdb.execute(
            f"SELECT {oracle_units('v', 100)} FROM unnest(?::DOUBLE[]) AS t(v)",
            [values],
        ).fetchall()
    ]
    assert [jobs._cents(v) for v in values] == want
    assert want[:3] == [13, -13, 113]

    class _State:
        exists = False

        def update(self, value):
            self.value = value

    state = _State()
    (out,) = jobs._running_totals((7,), iter([pd.DataFrame({"value": values})]), state)
    assert state.value == (len(values), sum(want))
    assert out.to_dict("records") == [
        {"user_id": 7, "n_events": len(values), "total_cents": sum(want)}
    ]


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_tws_plan_builds(spark, stream_dir):
    """transformWithStateInPandas PLAN construction (processor wiring,
    state schema, output mode) needs no protobuf — pin it analyzable
    even where the runtime worker can't start."""
    stream = jobs.events_stream(spark, stream_dir, glob="real.parquet")
    sdf = jobs.streaming_running_totals_tws(stream)
    assert sdf.isStreaming
    assert [f.name for f in sdf.schema.fields] == ["user_id", "n_events", "total_cents"]


@pytest.mark.skipif(not _has_protobuf(), reason="TWS driver worker requires protobuf")
def test_tws_running_totals_matches_batch(spark, stream_dir):
    """Where protobuf exists, the TWS replay must equal the batch
    aggregation — the same contract as the applyInPandasWithState
    parity test."""
    from mapreduce_lab_spark.streaming.replay import run_running_totals_tws

    got = run_running_totals_tws(spark, stream_dir)
    batch = _batch_events(spark, stream_dir, with_sentinel=True)
    want = batch.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )
    assert _rows(got) == _rows(want)
