"""Streaming replay queries — driver-checkable streaming correctness.

The streaming twins in ``streaming/jobs.py`` share their logical plans
with the batch operators, but until now only local tests exercised
them. Each query here runs the REAL streaming path end-to-end —
file-stream source over the sf_dir's events parquet → streaming
operators (window aggregation, watermarked dedup, arbitrary stateful
processing) → availableNow drain into a memory sink — and returns the
drained result, oracled by the batch SQL. A hash match therefore
proves source, streaming execution, state management, and sink
deliver exactly the batch answer on a full replay.

Determinism notes per query:
- aggregations run in complete/update mode over a single microbatch
  (one input file), so every group emits exactly once with its final
  value;
- the watermarked dedup keeps an arbitrary row per key within a
  batch, so its replay projects the KEY COLUMNS only (the
  deterministic part of its contract).

The reference has no streaming at all (hard map→reduce barrier,
``core/coordinator.go:317-324``); this is superset surface.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_lab_spark.operators.chunking import _CHUNK_ORACLE_BODY
from mapreduce_lab_spark.operators.classify import _WLV_ORACLE
from mapreduce_lab_spark.operators.quality import _BENFORD_ORACLE
from mapreduce_lab_spark.operators.dedup import _INCR_MINHASH_ORACLE
from mapreduce_lab_spark.operators.drift import (
    KS_DRIFT_SQL,
    MIX_DRIFT_SQL,
    ks_drift_from_counts,
    mix_drift_from_counts,
)
from mapreduce_lab_spark.operators.events import (
    _MULTI_GRAIN_SQL,
    SESSION_ORACLE,
    SLIDING_ORACLE,
    TUMBLING_ORACLE,
)
from mapreduce_lab_spark.registry import query
from mapreduce_lab_spark.streaming import jobs

_SINK_IDS = itertools.count()


def _drain(sdf: DataFrame, output_mode: str) -> DataFrame:
    """availableNow → memory sink; unique sink name per invocation so
    repeated runs in one session never collide."""
    name = f"replay_sink_{next(_SINK_IDS)}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


def _stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.events_stream(spark, sf_dir, glob="events.parquet")


@query("streaming_tumbling_replay", oracle=TUMBLING_ORACLE)
def q_streaming_tumbling_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling counts through Structured Streaming (complete
    mode), same oracle as the batch twin tumbling_window_hourly."""
    return _drain(jobs.streaming_tumbling_hourly(_stream(spark, sf_dir)), "complete")


@query("streaming_sliding_replay", oracle=SLIDING_ORACLE)
def q_streaming_sliding_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h/15min sliding windows through Structured Streaming."""
    return _drain(jobs.streaming_sliding_15min(_stream(spark, sf_dir)), "complete")


@query("streaming_session_replay", oracle=SESSION_ORACLE)
def q_streaming_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked per-user session windows through Structured
    Streaming. Complete mode: a single input batch emits every session
    with its final merged extent, without needing a sentinel event to
    push the watermark past the last session (which append mode
    would — see tests/test_streaming.py for that harness; session
    aggregations reject update mode outright)."""
    return _drain(jobs.streaming_sessions(_stream(spark, sf_dir)), "complete")


@query(
    "streaming_dedup_replay",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark through Structured Streaming,
    projected to its deterministic contract: exactly the distinct key
    set (which row survives per key is batch-order-dependent)."""
    return _drain(jobs.streaming_dedup(_stream(spark, sf_dir)), "append").select(
        "user_id", "event_type"
    )


@query(
    "streaming_running_totals_replay",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def q_streaming_running_totals_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState (arbitrary stateful processing) through
    Structured Streaming: per-user exact-cent running totals, update
    mode over one batch → one final row per user."""
    return _drain(jobs.streaming_running_totals(_stream(spark, sf_dir)), "update")


_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def run_running_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas (the Spark 4 typed-state API) through
    Structured Streaming on the RocksDB state store — same per-user
    exact-cent totals and batch oracle as the applyInPandasWithState
    replay: two arbitrary-state APIs, one answer.

    NOT a registered query: the TWS Python driver worker requires
    protobuf, which this container does not ship — the same gated-seam
    policy as the PIL decode stub (multimodal/binary_ops.py). The
    parity test (tests/test_streaming.py::test_tws_running_totals_matches_batch)
    skips unless ``google.protobuf`` imports; everything up to the
    worker handshake — plan construction, state schema, processor
    wiring — is exercised unconditionally by building the plan."""
    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, _ROCKSDB)
    try:
        return _drain(
            jobs.streaming_running_totals_tws(_stream(spark, sf_dir)), "update"
        )
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


@query(
    "streaming_chunking_replay",
    oracle=_CHUNK_ORACLE_BODY,
)
def q_streaming_chunking_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking on the REAL streaming path: file-stream source
    over documents parquet → the same narrow chunk_documents plan the
    batch query uses → availableNow drain.

    The point: a stateless narrow operator is streaming-ready with
    ZERO changes — the logical plan is literally shared with
    `chunk_documents_overlap`, and the hash match against the same
    oracle proves the streaming source + sink deliver the identical
    rows. At scale this is the continuous-ingest shape of a chunking
    stage: each arriving file becomes chunks in its own microbatch,
    no state, no watermark, unbounded throughput.
    """
    from mapreduce_lab_spark.operators.chunking import chunk_documents
    from mapreduce_lab_spark.sources.tables import load_table

    schema = load_table(spark, sf_dir, "documents").schema
    sdocs = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    return _drain(chunk_documents(sdocs), "append")


@query(
    "streaming_variant_replay",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL
    GROUP BY event_type
    """,
)
def q_streaming_variant_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT path extraction + aggregation on the streaming path
    (complete mode): parse_json/variant_get run per-microbatch and the
    grouped state finalizes to exactly the batch answer — semi-
    structured ingest is streaming-ready with the same typed plan.
    """
    from pyspark.sql import functions as F

    ev = _stream(spark, sf_dir)
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    agg = (
        ev.select("event_type", k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )
    return _drain(agg, "complete")


@query(
    "streaming_join_replay",
    oracle="""
    SELECT p.event_id AS purchase_id,
           v.event_id AS view_id,
           p.user_id AS p_user
    FROM events p
    JOIN events v
      ON p.user_id = v.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    """,
)
def q_streaming_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join through Structured Streaming:
    purchases matched to same-user views within the prior hour
    (``jobs.streaming_view_purchase_join``), drained in append mode.

    Inner interval-join matches emit as soon as both rows arrive; the
    watermarks exist to BOUND STATE (each side retains only rows still
    inside the other side's match window), which is what makes the
    operator viable on unbounded streams — the state store holds ~1h
    of views per user, not the stream's history. The oracle is the
    batch theta join over the same predicate: a hash match proves the
    streaming state machine emitted exactly the batch match set.
    """
    from pyspark.sql import functions as F

    ev = _stream(spark, sf_dir)
    views = ev.where(F.col("event_type") == "view")
    purchases = ev.where(F.col("event_type") == "purchase")
    return _drain(
        jobs.streaming_view_purchase_join(views, purchases), "append"
    )


@query("streaming_multigrain_replay", oracle=_MULTI_GRAIN_SQL)
def q_streaming_multigrain_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-granularity rollup through Structured Streaming —
    the proof of its design claim: GROUPING SETS are rejected in
    streaming aggregations, but the explode-as-rollup shape is a
    plain streaming groupBy, so the SAME operator serves both paths
    (complete mode, one microbatch, same oracle as the batch twin)."""
    from mapreduce_lab_spark.operators.events import multi_grain_event_rollup

    return _drain(multi_grain_event_rollup(_stream(spark, sf_dir)), "complete")


@query("streaming_incremental_dedup_replay", oracle=_INCR_MINHASH_ORACLE)
def q_streaming_incremental_dedup_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Continuous-ingest near-dup: the incoming document stream probes
    a STATIC persisted LSH band index via a stream-static join — the
    streaming twin of ``near_dup_incremental_minhash``, same oracle.

    This is the shape a 100 TB pipeline actually runs between
    backfills: the corpus band index is a materialized batch artifact
    (here: built once from the doc_id % 10 != 0 slice and cached — in
    production, read back from the index table); each microbatch of
    arriving documents computes its own signatures (narrow), meets the
    index in a stream-static equi-join on (band, key), and
    Jaccard-verifies IN the join task. No stream-side aggregation, no
    watermark, no state store — per-batch cost is O(batch + bucket
    collisions), and the drained total equals the batch answer
    row-for-row (proved by the shared oracle).

    Two deliberate deviations from the batch plan, both
    output-neutral: the stream side probes per DOCUMENT rather than
    per identical-set representative (a microbatch is small; identical
    sets produce identical signatures, so collisions — and verified
    pairs — are unchanged), and candidate dedup across the <= 4
    colliding bands happens post-drain (a streaming ``distinct`` would
    need state; the duplicates carry identical verified rows, so the
    final distinct is exact).
    """
    from pyspark.sql import functions as F

    from mapreduce_lab_spark.functions.hashing import hex8_int
    from mapreduce_lab_spark.operators.dedup import (
        INCR_MOD,
        _band_keys,
        _collapse_reps,
        _doc_shingles,
        _set_grp,
        minhash_signature,
    )
    from mapreduce_lab_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    # Static side: the persisted corpus index — rep-level band rows
    # plus each rep's shingle set and member list for verify/expand.
    corpus = _doc_shingles(
        docs.where(F.col("doc_id") % INCR_MOD != 0)
    ).withColumn("grp", _set_grp())
    reps = _collapse_reps(corpus, ["grp"], ["sh"], members=True).cache()
    corpus_bands = reps.select(
        "grp", *minhash_signature(F.transform("sh", hex8_int))
    ).select(
        F.col("grp").alias("ga"),
        F.posexplode(F.array(*_band_keys())).alias("band", "key"),
    )
    corpus_sets = reps.select(
        F.col("grp").alias("ga"),
        F.col("sh").alias("sh_a"),
        F.col("members").alias("ma"),
    )

    # Stream side: arriving documents -> own signatures -> band rows.
    sdocs = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    new_sig = _doc_shingles(
        sdocs.where(F.col("doc_id") % INCR_MOD == 0)
    ).select("doc_id", "sh", *minhash_signature(F.transform("sh", hex8_int)))
    new_bands = new_sig.select(
        F.col("doc_id").alias("new_doc"),
        F.col("sh").alias("sh_b"),
        F.posexplode(F.array(*_band_keys())).alias("band", "key"),
    )

    # Stream-static probe + in-join exact-Jaccard verify (same integer
    # predicate and floor-scaled value as _pair_jaccard) + member
    # expansion — all append-mode-legal (joins + scalar expressions).
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    size_ok = 2 * F.least(F.size("sh_a"), F.size("sh_b")) >= F.greatest(
        F.size("sh_a"), F.size("sh_b")
    )
    verified = (
        new_bands.join(corpus_bands, ["band", "key"])
        .join(corpus_sets, "ga")
        .filter(size_ok)
        .withColumn("inter", inter)
        .withColumn("uni", union)
        .filter(2 * F.col("inter") >= F.col("uni"))
        .select(
            F.explode("ma").alias("corpus_doc"),
            "new_doc",
            (F.floor(F.col("inter") * 1_000_000 / F.col("uni")) / 1e6).alias(
                "jaccard"
            ),
        )
    )
    return _drain(verified, "append").distinct()


@query("streaming_event_mix_drift_replay", oracle=MIX_DRIFT_SQL)
def q_streaming_event_mix_drift_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The drift monitor run the way production runs it: Structured
    Streaming maintains the daily (day, event_type) count state
    (complete mode — every day emits its final count), and the
    trailing-week TVD compare (operators/drift.py) runs batch-side
    over the materialized sink, because window-function frames are
    not streaming-expressible. Oracled by the SAME SQL as the batch
    twin daily_event_mix_drift — a hash match proves the streamed
    count state reproduces the batch counts exactly."""
    counts = _drain(
        jobs.streaming_daily_type_counts(_stream(spark, sf_dir)), "complete"
    )
    dt = counts.select(
        F.to_date("window_start").alias("day"), "event_type", "c"
    )
    return mix_drift_from_counts(dt)


@query("streaming_value_ks_drift_replay", oracle=KS_DRIFT_SQL)
def q_streaming_value_ks_drift_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The numeric-drift monitor's production shape: Structured
    Streaming maintains the daily (day, dollar-bucket) count state
    (complete mode — final counts per day), and the integer
    prefix-sum KS compare (operators/drift.py) runs batch-side over
    the materialized sink. Oracled by the SAME SQL as the batch twin
    daily_value_ks_drift — a hash match proves the streamed binned
    state reproduces the batch counts exactly."""
    counts = _drain(
        jobs.streaming_daily_value_buckets(_stream(spark, sf_dir)), "complete"
    )
    b = counts.select(F.to_date("window_start").alias("day"), "bucket", "n")
    return ks_drift_from_counts(b)


@query("streaming_weak_label_replay", oracle=_WLV_ORACLE)
def q_streaming_weak_label_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weak-supervision census run the way a live labeling pass
    runs it: a document file-stream feeds the per-row labeling
    functions (narrow scalar expressions — append-legal), Structured
    Streaming maintains the (LF vector, vote, label) census state
    (complete mode — every pattern emits its final count), and the
    corpus-share column is rendered batch-side over the <= 3^3-row
    materialized sink (window frames are not streaming-expressible).
    Oracled by the SAME SQL as the batch twin weak_label_vote_census —
    a hash match proves the streamed census state reproduces the batch
    counts exactly."""
    import os

    from pyspark.sql import Window

    from mapreduce_lab_spark.functions.numeric import exact_ratio
    from mapreduce_lab_spark.operators.classify import weak_label_votes
    from mapreduce_lab_spark.sources.tables import _read_parquet

    schema = _read_parquet(spark, os.path.join(sf_dir, "documents.parquet")).schema
    sdocs = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    census = (
        weak_label_votes(sdocs)
        .groupBy("lf_speed", "lf_len", "lf_topic", "vote", "label")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    sunk = _drain(census, "complete")
    total = F.sum("n_docs").over(Window.partitionBy())
    return sunk.select(
        "lf_speed",
        "lf_len",
        "lf_topic",
        "vote",
        "label",
        "n_docs",
        exact_ratio(F.col("n_docs"), total).alias("doc_share"),
    )


@query("streaming_benford_replay", oracle=_BENFORD_ORACLE)
def q_streaming_benford_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Benford forensic screen as a continuous monitor: an orders
    file-stream feeds the exact-cents first-digit extraction,
    Structured Streaming maintains the 9-row digit census (complete
    mode), and shares + expected-gap columns are rendered batch-side
    over the materialized sink. Oracled by the SAME SQL as the batch
    twin benford_digit_census — the streamed census state is proven
    bit-equal to the batch census."""
    import os

    from pyspark.sql import Window

    from mapreduce_lab_spark.functions.numeric import exact_ratio, to_units
    from mapreduce_lab_spark.operators.quality import BENFORD_EXPECTED
    from mapreduce_lab_spark.sources.tables import _read_parquet

    schema = _read_parquet(spark, os.path.join(sf_dir, "orders.parquet")).schema
    sorders = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
    )
    pu = to_units(F.col("o_totalprice"), 100)
    census = (
        sorders.where(pu > 0)
        .groupBy(F.substring(pu.cast("string"), 1, 1).alias("digit"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    sunk = _drain(census, "complete")
    total = F.sum("n_orders").over(Window.partitionBy())
    expected = None
    for d, p in BENFORD_EXPECTED.items():
        cond, v = F.col("digit") == d, F.lit(p)
        expected = F.when(cond, v) if expected is None else expected.when(cond, v)
    share = exact_ratio(F.col("n_orders"), total)
    return sunk.select(
        "digit",
        "n_orders",
        share.alias("share"),
        expected.alias("expected_share"),
        F.abs(share - expected).alias("abs_gap"),
    )


def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jobs.documents_stream(spark, sf_dir)


def _wav_oracle() -> str:
    from mapreduce_lab_spark.multimodal.binary_ops import _WAV_DECODE_SQL

    return _WAV_DECODE_SQL


@query("streaming_wav_decode_replay", oracle=_wav_oracle())
def q_streaming_wav_decode_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming multimodal ingest-decode: the documents stream is
    blobified into REAL RIFF/WAVE payloads and decoded by the
    dependency-free PCM codec INSIDE a Structured Streaming job
    (stateless mapInPandas stages, append mode), drained availableNow
    into a memory sink — proving the whole codec path (encode →
    chunk-walk decode → exact sample stats) delivers the batch answer
    under streaming execution. Same oracle as the batch
    ``multimodal_wav_decode_stats``; the decode work is per-row and
    stateless, so the streaming plan carries no state store at all —
    the shape a production audio-ingest decoder has."""
    from mapreduce_lab_spark.multimodal.binary_ops import (
        blobify_wav_audio,
        wav_decode_stats,
    )

    docs = _documents_stream(spark, sf_dir)
    return _drain(wav_decode_stats(blobify_wav_audio(docs)), "append")


def _gif_oracle() -> str:
    from mapreduce_lab_spark.multimodal.binary_ops import _GIF_DECODE_SQL

    return _GIF_DECODE_SQL


@query("streaming_gif_decode_replay", oracle=_gif_oracle())
def q_streaming_gif_decode_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming GIF ingest-decode: the documents stream is LZW-
    compressed into REAL GIF87a payloads and decoded back INSIDE a
    Structured Streaming job (stateless mapInPandas stages, append
    mode, no state store), drained availableNow into a memory sink —
    the image twin of ``streaming_wav_decode_replay``, against the
    same oracle as the batch ``multimodal_gif_decode_stats`` including
    the position-weighted LZW checksum."""
    from mapreduce_lab_spark.multimodal.binary_ops import (
        blobify_gif_images,
        gif_decode_stats,
    )

    docs = _documents_stream(spark, sf_dir)
    return _drain(gif_decode_stats(blobify_gif_images(docs)), "append")
