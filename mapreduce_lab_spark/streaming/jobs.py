"""Structured Streaming jobs over the events stream.

ABSENT from the reference — it is strictly batch with a hard
map→reduce barrier (``core/coordinator.go:317-324``) and no time
semantics. This module is the streaming surface of the engine:
the SAME logical plans as the batch event-time operators in
``operators/events.py`` (the helpers are shared — batch/streaming
parity is by construction), driven from a file-stream source with
watermarks, plus the streaming-only operators (dedup-within-watermark,
custom stateful aggregation via applyInPandasWithState).

Scale notes: every stateful operator here keys its state by a
bounded-cardinality key (user_id, dedup key) and bounds retention
with a watermark — the two requirements for state stores that survive
at production rates. File source + availableNow gives exactly-once
replay in tests; swap the source for Kafka in production, the plan is
unchanged.
"""

from __future__ import annotations

import math
import sys
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import StatefulProcessor

from mapreduce_lab_spark.operators.events import (
    session_windows,
    sliding_counts,
    tumbling_counts,
)

# Ship this module's functions INSIDE pickled closures (same as
# operators/mapreduce_contract.py): _running_totals executes on
# executors, which must not need mapreduce_lab_spark on their
# PYTHONPATH — a driver running from a neutral cwd would otherwise
# fail with ModuleNotFoundError (pytest masks this; the correctness
# driver does not).
try:
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
except (ImportError, AttributeError):  # pragma: no cover - old pyspark
    pass

EVENTS_SCHEMA_NANOS = (
    "event_id long, ts long, user_id long, event_type string, value double, props string"
)
EVENTS_SCHEMA_MICROS = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string,"
    " value double, props string"
)

WATERMARK = "30 minutes"
SESSION_GAP = "10 minutes"


def events_stream(
    spark: SparkSession,
    path: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming source over events parquet file(s) in ``path``.

    Mirrors ``sources.tables._load_events``: the streaming reader needs
    an explicit schema, so probe the batch footer once to learn which
    physical ts type this data vintage carries (raw nanos long vs
    micros TIMESTAMP_NTZ) and normalize to session-zoned TIMESTAMP the
    same way the batch loader does.
    """
    from pyspark.sql.types import LongType

    from ..sources.tables import _normalize_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    probe = spark.read.option("pathGlobFilter", glob).parquet(path)
    ts_type = probe.schema["ts"].dataType
    schema = EVENTS_SCHEMA_NANOS if isinstance(ts_type, LongType) else EVENTS_SCHEMA_MICROS
    reader = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(path)
    return df.withColumn("ts", _normalize_ts(ts_type))


def documents_stream(
    spark: SparkSession, path: str, glob: str = "documents.parquet"
) -> DataFrame:
    """Streaming source over the documents parquet in ``path`` — the
    ingest shape of a streaming curation/decode pipeline. Schema is
    probed once from the batch footer (streaming readers need it
    explicit), so the helper tracks whatever columns the data vintage
    carries."""
    probe = spark.read.option("pathGlobFilter", glob).parquet(path)
    return (
        spark.readStream.schema(probe.schema)
        .option("pathGlobFilter", glob)
        .parquet(path)
    )


# --- shared-plan streaming twins ------------------------------------------


def streaming_tumbling_hourly(stream: DataFrame) -> DataFrame:
    """Hourly tumbling counts — identical plan to the batch query."""
    return tumbling_counts(stream)


def streaming_daily_type_counts(stream: DataFrame) -> DataFrame:
    """Daily (day, event_type) counts — the stateful half of the
    drift monitor (operators/drift.py): the stream maintains the
    per-day mix state; the trailing-week TVD compare runs batch-side
    over the materialized sink, since window-function frames are not
    streaming-expressible. UTC session timezone makes the 1-day
    tumbling window coincide with ``to_date(ts)`` in the batch twin."""
    return (
        stream.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count("*").alias("c"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "c"
        )
    )


def streaming_daily_value_buckets(stream: DataFrame) -> DataFrame:
    """Daily (day, dollar-bucket) counts — the stateful half of the
    numeric-drift monitor (operators/drift.py daily_value_ks_drift):
    the stream maintains per-day binned counts; the prefix-sum KS
    compare runs batch-side over the materialized sink (window
    frames are not streaming-expressible). Same 1-day tumbling ==
    to_date(ts) equivalence as streaming_daily_type_counts."""
    return (
        stream.groupBy(
            F.window("ts", "1 day"),
            F.floor("value").cast("long").alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "bucket", "n")
    )


def streaming_sliding_15min(stream: DataFrame) -> DataFrame:
    return sliding_counts(stream)


def streaming_tumbling_watermarked(stream: DataFrame, width: str = "1 hour") -> DataFrame:
    """Append-mode hourly counts with the late-data policy.

    A window emits exactly once, when the watermark passes its end;
    events later than their window but inside the watermark still
    merge before emission; events older than the watermark are
    dropped. The policy is pinned by tests/test_streaming.py
    (test_late_data_policy) with a hand-built multi-batch replay.
    """
    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", width).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


def streaming_sessions(stream: DataFrame) -> DataFrame:
    """Watermarked per-user session windows (native session_window).

    In append mode a session emits once the watermark passes
    session_end + gap — late events inside the watermark still merge.
    """
    return session_windows(stream.withWatermark("ts", WATERMARK), gap=SESSION_GAP)


def streaming_dedup(stream: DataFrame) -> DataFrame:
    """First event per (user_id, event_type) with watermark-bounded state.

    The streaming twin of the batch ``dedup_first_event_per_user_type``
    operator: state for a key is dropped once the watermark passes it,
    so the store stays bounded regardless of stream length.
    """
    return (
        stream.withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "event_id", "ts")
    )


def streaming_view_purchase_join(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream inner join: purchases to views within the prior hour.

    Both sides are watermarked and the join condition bounds event-time
    distance, so each side's state store retains only rows that can
    still match (view state ~1h + watermark; purchase state ~watermark)
    — the requirement for unbounded streams. Inner matches emit as soon
    as both rows have arrived; the watermark only bounds state and
    late-data admission.
    """
    v = (
        views.withWatermark("ts", WATERMARK)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
    )
    p = (
        purchases.withWatermark("ts", WATERMARK)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    return p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "view_id", "p_user")


# --- custom stateful operator ---------------------------------------------

_RUNNING_SCHEMA = "user_id long, n_events long, total_cents long"
_STATE_SCHEMA = "n long, cents long"


def _cents(v: float) -> int:
    """Python twin of ``to_units(v, 100)``: round half away from zero.
    Python's ``round`` alone rounds half to even (12.5 -> 12, where
    the batch engine and DuckDB give 13); it is ``rint``, so the same
    exact-tie fix as in functions/numeric.py applies."""
    x = v * 100
    r = round(x)
    return int(x + math.copysign(0.5, x)) if abs(x - r) == 0.5 else r


def _running_totals(
    key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState  # noqa: F821
) -> Iterator["pd.DataFrame"]:
    """Per-user running (count, exact-cent total) across microbatches."""
    import pandas as pd

    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # Per-row cent conversion before summing: order-independent
        # exact integers, matching the batch engine's to_units() math
        # (see functions/numeric.py) regardless of batch boundaries.
        cents += sum(_cents(v) for v in pdf["value"])
    state.update((n, cents))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_cents": [cents]})


def streaming_running_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful aggregation via applyInPandasWithState.

    The reference's holistic Reduce UDAF (``core/worker.go:279``)
    generalized to unbounded streams: per-key state carried across
    microbatches, Arrow-batched, emitting the updated running total
    each batch. (For this float-summing demo the per-batch cent
    rounding is the determinism boundary; exactness to the batch
    oracle is asserted for the single-batch replay in tests.)
    """
    return stream.groupBy("user_id").applyInPandasWithState(
        _running_totals,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- transformWithState (Spark 4 arbitrary-state API) ----------------------


class _RunningTotalsProcessor(StatefulProcessor):
    """transformWithStateInPandas twin of _running_totals.

    The typed-state successor to applyInPandasWithState: named state
    variables (ValueState here; ListState/MapState and event/processing
    timers exist on the handle), schema'd per variable, backed by the
    RocksDB state store. Same exact-cent arithmetic as the GroupState
    version so both APIs pin to the same batch oracle.

    Environment gate: constructing the PLAN needs only pyspark, but
    EXECUTING it spawns a TWS driver worker that imports protobuf —
    absent in this container, so execution is test-gated (see
    streaming/replay.py::run_running_totals_tws).
    """

    def init(self, handle) -> None:  # noqa: ANN001
        self._state = handle.getValueState("totals", "n long, cents long")

    def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
        import pandas as pd

        n, cents = self._state.get() if self._state.exists() else (0, 0)
        for pdf in rows:
            n += len(pdf)
            cents += sum(_cents(v) for v in pdf["value"])
        self._state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [int(key[0])], "n_events": [n], "total_cents": [cents]}
        )

    def close(self) -> None:
        pass


def streaming_running_totals_tws(stream: DataFrame) -> DataFrame:
    """Per-user running totals via transformWithStateInPandas.

    Requires the RocksDB state store provider (set
    ``spark.sql.streaming.stateStore.providerClass`` before start);
    the caller manages that conf (see streaming/replay.py).
    """
    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningTotalsProcessor(),
        outputStructType=_RUNNING_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# --- foreachBatch upsert sink ----------------------------------------------


def start_upsert_sink(
    sdf: DataFrame,
    target_dir: str,
    keys: list[str],
    checkpoint_dir: str,
):
    """Keyed upsert (merge) sink on plain parquet via foreachBatch.

    Structured Streaming has no built-in mutable sink for formats
    without ACID support; foreachBatch is the idiomatic escape hatch
    (batch DataFrame + batch_id per microbatch). Each batch writes the
    merged table to a fresh version directory ``v<batch_id>`` and
    atomically repoints a ``current`` symlink — readers see either the
    old or the new version, never a partial write.

    Exactly-once reasoning: foreachBatch is at-least-once (a batch can
    re-run after a crash), so the body must be idempotent per
    batch_id. It is, two ways: a re-run before the pointer swap
    rewrites the same version dir from the same inputs; a re-run
    after the swap merges rows already present, and merge-by-key is
    idempotent (old rows for the batch's keys are anti-joined away,
    replaced with identical values). This mirrors what the reference's
    commit protocol attempts per-file (``core/worker.go:213-265``)
    and its append-without-truncate bug fails to achieve (SURVEY.md
    E13).

    Scale notes: the anti-join is keyed (shuffle-on-key, or broadcast
    when the batch's key set is small — it usually is relative to the
    base); rewriting the full base per batch is the cost of
    ACID-on-plain-parquet, acceptable for bounded state tables (e.g.
    per-user aggregates). For fact-scale upserts, production swaps
    this body for a lakehouse-format MERGE with file-level pruning —
    the streaming plan above it is unchanged.
    """
    import os

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new = batch_df.dropDuplicates(keys)
        cur_link = os.path.join(target_dir, "current")
        vdir = os.path.join(target_dir, f"v{batch_id}")
        if os.path.lexists(cur_link):
            if os.path.realpath(cur_link) == os.path.realpath(vdir):
                return  # batch re-run after its own commit: already applied
            cur = spark.read.parquet(cur_link)
            merged = cur.join(new.select(*keys), keys, "left_anti").unionByName(new)
        else:
            merged = new
        os.makedirs(target_dir, exist_ok=True)
        merged.write.mode("overwrite").parquet(vdir)
        tmp = cur_link + ".tmp"
        if os.path.lexists(tmp):
            os.remove(tmp)
        os.symlink(vdir, tmp)
        os.replace(tmp, cur_link)  # atomic pointer swap

    return (
        sdf.writeStream.foreachBatch(_upsert)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_bucketed_merge_sink(
    sdf: DataFrame,
    table: str,
    keys: list[str],
    checkpoint_dir: str,
    n_buckets: int = 8,
):
    """Keyed MERGE into a BUCKETED catalog table via foreachBatch.

    The bucketed twin of start_upsert_sink: the state table is stored
    hash-clustered on the merge keys (``bucketBy``), so each batch's
    anti-join reads the base co-located — the base side needs NO
    Exchange, only the (small) incoming batch shuffles, into exactly
    ``n_buckets`` partitions (pinned by tests/test_streaming.py).
    Rewriting the merged table re-pays one clustered write, which is
    the cost of ACID-on-plain-parquet; the bucketing is then already
    in place for the NEXT batch's merge and for any downstream join
    or aggregation on the same keys.

    Versioning/atomicity: each batch writes ``<table>_v<batch_id>``
    and atomically repoints the ``<table>`` VIEW (catalog view
    replacement is atomic to readers); superseded version tables are
    dropped after the swap. Idempotency per batch_id (foreachBatch is
    at-least-once): a re-run before the swap rewrites the same version
    table from the same input; a re-run after the swap is detected by
    the view already pointing at this batch's version and becomes a
    no-op.
    """
    import re

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vtab = f"{table}_v{batch_id}"
        if spark.catalog.tableExists(table):
            ddl = spark.sql(f"SHOW CREATE TABLE {table}").collect()[0][0]
            m = re.search(r"_v(\d+)\b", ddl)
            if m and int(m.group(1)) == batch_id:
                return  # re-run after this batch's own commit
        new = batch_df.dropDuplicates(keys)
        if spark.catalog.tableExists(table):
            base = spark.table(table)
            merged = base.join(new.select(*keys), keys, "left_anti").unionByName(new)
        else:
            merged = new
        (
            merged.write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, *keys)
            .sortBy(*keys)
            .saveAsTable(vtab)
        )
        spark.sql(f"CREATE OR REPLACE VIEW {table} AS SELECT * FROM {vtab}")
        # Retention: superseded versions are unreachable once the view
        # moved on (single-writer; production keeps a read-grace window).
        db, _, base_name = table.rpartition(".")
        db = db or spark.catalog.currentDatabase()
        keep = vtab.rpartition(".")[2]
        for t in spark.catalog.listTables(db):
            if t.name.startswith(base_name + "_v") and t.name != keep:
                spark.sql(f"DROP TABLE IF EXISTS {db}.{t.name}")

    return (
        sdf.writeStream.foreachBatch(_merge)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# --- test/driver harness ---------------------------------------------------


def run_available_now(sdf: DataFrame, output_mode: str, name: str) -> DataFrame:
    """Drain all available input into a memory sink; return the result.

    availableNow + memory sink is the deterministic replay harness:
    processes every pending file (respecting maxFilesPerTrigger
    batching) then stops.
    """
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)
