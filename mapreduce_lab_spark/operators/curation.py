"""Corpus-curation operators: the selection/mixing half of a
training-data pipeline.

The dedup/textstats modules score and deduplicate documents; this
module covers what comes next at 100 TB — choosing WHICH documents
make the training mix:

- deterministic stratified sampling (per-language rates, content-hash
  gated so membership is reproducible across runs/engines/layouts);
- group-wise top-k selection (salted two-phase ranking, no
  one-task-per-group window at scale);
- token-count histogram (corpus shape diagnostics, map-side
  combinable integer aggregates);
- normalized exact dedup (canonical-form dedup — the URL/whitespace/
  case-canonicalization pass that precedes near-dup);
- per-label embedding centroids (posexplode + fixed-point mean: the
  building block for cluster-balanced sampling and IVF training).

The reference has no selection operators at all (its workload is
fixed whole-corpus MapReduce, ``test.sh:70-107``); this is superset
surface. All ratio math uses the exact fixed-point conventions of
``functions/numeric.py``; sampling gates use the cross-engine md5
hash of ``functions/hashing.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_lab_spark.functions.hashing import hex8_int, oracle_hex8_int
from mapreduce_lab_spark.functions.numeric import exact_ratio, oracle_exact_ratio, to_units
from mapreduce_lab_spark.functions.text import tokenize
from mapreduce_lab_spark.registry import query
from mapreduce_lab_spark.sources.tables import fan_out, load_table

# Per-language keep rates in permille. Downsamples over-represented
# languages (en dominates the synthetic corpus as it would a web
# crawl); unknown languages keep everything.
SAMPLE_RATES_PERMILLE: dict[str, int] = {
    "en": 150,
    "de": 400,
    "es": 400,
    "fr": 400,
    "zh": 600,
}
DEFAULT_RATE_PERMILLE = 1000

TOPK_PER_LANG = 5
TOPK_SALT_BUCKETS = 8

TOKEN_BUCKET_WIDTH = 10

_ORACLE_TOKENS = "[t for t in regexp_split_to_array(text, '[^\\p{L}]+') if t <> '']"


# --- deterministic stratified sampling --------------------------------------


def _rate_case():
    rate = F.lit(DEFAULT_RATE_PERMILLE)
    for lang, permille in sorted(SAMPLE_RATES_PERMILLE.items()):
        rate = F.when(F.col("lang") == lang, F.lit(permille)).otherwise(rate)
    return rate


_O_RATE_CASE = (
    "CASE lang "
    + " ".join(
        f"WHEN '{lang}' THEN {permille}"
        for lang, permille in sorted(SAMPLE_RATES_PERMILLE.items())
    )
    + f" ELSE {DEFAULT_RATE_PERMILLE} END"
)


@query(
    "stratified_sample_documents",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {oracle_hex8_int("'strat|' || doc_id::VARCHAR")} % 1000
          < {_O_RATE_CASE}
    """,
)
def q_stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample: per-language keep rates, content-hash gated.

    Like deterministic_sample_orders but with per-stratum rates — the
    language-rebalancing pass of a training mix. The gate hashes a
    salted doc_id (not the text) so membership is stable under text
    re-cleaning, and the operator is a pure narrow filter: no shuffle,
    fully pushdown-friendly, embarrassingly parallel at any scale.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    gate = F.pmod(
        hex8_int(F.concat(F.lit("strat|"), F.col("doc_id").cast("string"))),
        F.lit(1000),
    )
    return docs.filter(gate < _rate_case()).select("doc_id", "lang", "source", "n_chars")


# --- group-wise top-k --------------------------------------------------------


@query(
    "group_topk_documents",
    oracle=f"""
    SELECT lang, doc_id, n_chars, rk
    FROM (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    )
    WHERE rk <= {TOPK_PER_LANG}
    """,
)
def q_group_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents per language by size, SALTED two-phase ranking.

    A plain ``row_number() OVER (PARTITION BY lang)`` puts each
    language in ONE task — with a handful of languages over 100 TB
    that is a single-machine sort of the whole corpus. Instead:

    1. salt each row into ``TOPK_SALT_BUCKETS`` sub-partitions by
       doc_id hash and take the top-k of each (lang, salt) — parallel,
       bounded memory;
    2. re-rank only the ≤ k·buckets survivors per language — a few
       dozen rows regardless of corpus size.

    The global top-k of a group is always contained in the union of
    its per-salt top-k's, so the result is identical to the naive
    window (which is what the oracle runs). Ordering ties break by
    doc_id so ranks are deterministic cross-engine.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    salted = docs.withColumn(
        "salt", F.pmod(hex8_int(F.col("doc_id").cast("string")), F.lit(TOPK_SALT_BUCKETS))
    )
    w_local = Window.partitionBy("lang", "salt").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    survivors = (
        salted.withColumn("rn", F.row_number().over(w_local))
        .filter(F.col("rn") <= TOPK_PER_LANG)
        .drop("rn", "salt")
    )
    w_global = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        survivors.withColumn("rk", F.row_number().over(w_global).cast("long"))
        .filter(F.col("rk") <= TOPK_PER_LANG)
        .select("lang", "doc_id", "n_chars", "rk")
    )


# --- token-count histogram ---------------------------------------------------


@query(
    "token_count_histogram",
    oracle=f"""
    WITH t AS (
      SELECT len({_ORACLE_TOKENS}) AS n_tok FROM documents
    )
    SELECT n_tok - n_tok % {TOKEN_BUCKET_WIDTH} AS bucket_lo,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           {oracle_exact_ratio(f"CAST(sum(n_tok) AS BIGINT)", "count(*)")} AS avg_tokens
    FROM t
    GROUP BY 1
    """,
)
def q_token_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of per-document token counts in width-10 buckets.

    Corpus-shape diagnostic (the first plot anyone makes of a new
    crawl). Bucketing uses ``n - n % w`` (NOT floor(n/w)*w: integer
    ``/`` stays integer in Spark but becomes DOUBLE in DuckDB — a
    cross-engine type trap). One groupBy over integer keys with
    map-side partial agg; output is O(distinct buckets), tiny at any
    corpus size.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    # Stage the token count: tokenize is lambda-bearing (CSE-blind),
    # and n_tok is referenced three times below (r13 staging sweep).
    n_tok = F.col("_n")
    w = F.lit(TOKEN_BUCKET_WIDTH)
    return (
        docs.select(F.size(tokenize(F.col("text"))).alias("_n"))
        .select((n_tok - F.pmod(n_tok, w)).cast("long").alias("bucket_lo"), n_tok.alias("n"))
        .groupBy("bucket_lo")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
            exact_ratio(F.sum("n"), F.count("*")).alias("avg_tokens"),
        )
    )


# --- normalized exact dedup --------------------------------------------------


@query(
    "dedup_normalized",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g')))
               AS canon_md5
      FROM documents
    )
    SELECT canon_md5,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies,
           string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS members
    FROM n
    GROUP BY canon_md5
    """,
)
def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on CANONICALIZED text: lowercase, strip everything
    but letters/digits to single spaces, trim — the cheap
    normalization pass that catches case/punctuation/whitespace
    variants before any near-dup machinery runs.

    Same single-shuffle hash-groupBy shape as dedup_exact; the
    ``members`` posting list is emitted as a sorted CSV string
    (sort_array ↔ ORDER BY inside string_agg) so the value compare is
    engine-portable. At 100 TB the members list of a mega-cluster is
    the one unbounded output column — real pipelines cap it or write
    (canon_md5, doc_id) edges instead; n_copies carries the count
    either way.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    canon = F.trim(
        F.regexp_replace(F.lower(F.col("text")), r"[^\p{L}\p{N}]+", " ")
    )
    return (
        docs.select("doc_id", F.md5(canon).alias("canon_md5"))
        .groupBy("canon_md5")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("members"),
        )
    )


# --- per-label embedding centroids -------------------------------------------

EMB_UNIT_SCALE = 1_000_000


@query(
    "embedding_centroids_by_label",
    oracle=f"""
    WITH x AS (
      SELECT label,
             unnest(range(len(embedding))) AS dim,
             unnest(embedding) AS val
      FROM embeddings
    )
    SELECT label, dim,
           count(*) AS n_vectors,
           floor(CAST(sum(CAST(round(CAST(val AS DOUBLE) * {EMB_UNIT_SCALE}) AS BIGINT))
                      AS DOUBLE) / count(*)) / {float(EMB_UNIT_SCALE)} AS centroid
    FROM x
    GROUP BY label, dim
    """,
)
def q_embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding, one row per (label, dimension).

    The long-format building block for cluster-balanced sampling,
    label drift monitoring, and IVF coarse-quantizer training (the
    wide-format twin inside ``operators/clustering.py`` keeps vectors
    packed; this one posexplodes so the aggregate is plain integer
    columns). Shuffle carries (label, dim, unit-sum) scalars — never
    the vectors — and is map-side combinable; output is
    O(labels × dims) regardless of corpus size. Element values are
    fixed-pointed per row (round(val·1e6) as BIGINT) so the mean is
    order-free and bit-identical cross-engine (functions/numeric.py).
    """
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        to_units(F.col("val").cast("double"), EMB_UNIT_SCALE).alias("vu"),
    )
    return exploded.groupBy("label", "dim").agg(
        F.count("*").alias("n_vectors"),
        (F.floor(F.sum("vu").cast("double") / F.count("*")) / F.lit(float(EMB_UNIT_SCALE))).alias(
            "centroid"
        ),
    )


# --- token-budget sequence packing -------------------------------------------

PACK_BUDGET_TOKENS = 512
PACK_SHARDS = 16


@query(
    "pack_concat_chunks",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             {oracle_hex8_int("'shard|' || doc_id::VARCHAR")} % {PACK_SHARDS} AS shard,
             len({_ORACLE_TOKENS}) AS n_tok
      FROM documents
    ), c AS (
      SELECT doc_id, lang, shard, n_tok,
             sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id) - n_tok
               AS start_tok
      FROM d
    )
    SELECT lang, shard, doc_id, n_tok,
           CAST(floor(start_tok / {PACK_BUDGET_TOKENS}) AS BIGINT) AS chunk_id,
           CAST(start_tok % {PACK_BUDGET_TOKENS} AS BIGINT) AS chunk_offset
    FROM c
    """,
)
def q_pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each document its
    starting (chunk, offset) in a fixed token-budget training stream.

    The standard LLM pretraining layout — concatenate documents in a
    deterministic order, slice the token stream into fixed-size
    sequences — expressed as a windowed running sum: a doc's start
    offset is the exclusive prefix-sum of token counts, its chunk is
    floor(start / budget). Packing runs independently per
    (lang, shard) — shard is a doc_id hash, so stream membership and
    order are reproducible across runs/engines/layouts, and partition
    size is corpus/shards: at 100 TB you raise PACK_SHARDS, never the
    per-task memory. (True first-fit bin packing needs a stateful
    scan — ``applyInPandasWithState`` territory — but concat-chunk is
    what production pretraining pipelines actually ship.)
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    d = docs.select(
        "doc_id",
        "lang",
        F.pmod(
            hex8_int(F.concat(F.lit("shard|"), F.col("doc_id").cast("string"))),
            F.lit(PACK_SHARDS),
        ).alias("shard"),
        F.size(tokenize(F.col("text"))).alias("n_tok"),
    )
    w = Window.partitionBy("lang", "shard").orderBy("doc_id")
    c = d.withColumn("start_tok", F.sum("n_tok").over(w) - F.col("n_tok"))
    return c.select(
        "lang",
        "shard",
        "doc_id",
        "n_tok",
        F.floor(F.col("start_tok") / PACK_BUDGET_TOKENS).alias("chunk_id"),
        F.pmod(F.col("start_tok"), F.lit(PACK_BUDGET_TOKENS)).alias("chunk_offset"),
    )


# --- per-domain quota cap ----------------------------------------------------

DOMAIN_QUOTA = 120


@query(
    "domain_quota_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT source, doc_id,
             row_number() OVER (
                 PARTITION BY source
                 ORDER BY {oracle_hex8_int("CAST(doc_id AS STRING)")},
                          doc_id) AS rk
      FROM documents
    )
    SELECT source,
           count(*) AS n_total,
           CAST(sum(CASE WHEN rk <= {DOMAIN_QUOTA} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           min(CASE WHEN rk <= {DOMAIN_QUOTA} THEN doc_id END) AS sample_doc
    FROM ranked
    GROUP BY source
    """,
)
def q_domain_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap each source (domain) at DOMAIN_QUOTA documents, selected by
    HASH PRIORITY — the web-crawl rebalancing pass that stops a
    megasite from dominating the training mix while keeping the kept
    subset an unbiased sample of the domain (hash order ≈ random
    order, unlike top-k-by-quality which skews the distribution).

    Same salted two-phase ranking as group_topk_documents — keep the
    k hash-smallest per (source, salt) then re-rank the ≤ k·buckets
    survivors — so no domain ever sorts in a single task. Membership
    is a pure function of doc_id: re-runs and incremental loads keep
    their selections stable until the quota itself fills.

    Output is the per-domain audit (total vs kept vs the lowest
    doc_id among kept rows as a spot-check handle) rather than the
    kept rows themselves, keeping
    the driver row count bounded; the kept-row frame is the obvious
    projection of the same ranking.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    prio = hex8_int(F.col("doc_id").cast("string"))
    salted = docs.withColumn("prio", prio).withColumn(
        "salt", F.pmod(F.col("prio"), F.lit(TOPK_SALT_BUCKETS))
    )
    w_local = Window.partitionBy("source", "salt").orderBy(
        F.asc("prio"), F.asc("doc_id")
    )
    survivors = (
        salted.withColumn("rn", F.row_number().over(w_local))
        .filter(F.col("rn") <= DOMAIN_QUOTA)
        .drop("rn", "salt")
    )
    w_global = Window.partitionBy("source").orderBy(F.asc("prio"), F.asc("doc_id"))
    kept = (
        survivors.withColumn("rk", F.row_number().over(w_global))
        .filter(F.col("rk") <= DOMAIN_QUOTA)
        .groupBy("source")
        .agg(F.count("*").alias("n_kept_g"), F.min("doc_id").alias("sample_doc"))
    )
    totals = docs.groupBy("source").agg(F.count("*").alias("n_total"))
    return totals.join(kept, "source", "left").select(
        "source",
        "n_total",
        F.coalesce("n_kept_g", F.lit(0)).alias("n_kept"),
        "sample_doc",
    )
