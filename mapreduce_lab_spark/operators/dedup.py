"""Deduplication operators — exact and near-duplicate.

The reference's only dedup is the per-document distinct inside the
indexer Map (``plugin/indexer/indexer.go:23-27``). A training-data
pipeline needs corpus-level dedup, so this module implements the
standard family:

- exact dedup: hash-groupBy on content md5 (one shuffle, map-side
  partial agg; at 100 TB this is the cheapest possible corpus pass);
- n-gram Jaccard near-dup: word-trigram shingle sets, pairs with
  J >= 0.5 via a PREFIX-FILTERED inverted shingle index join (each
  doc indexes only its ⌊n/2⌋+1 globally-rarest shingles — threshold-
  preserving, kills hot-shingle quadratic buckets) — never a cross
  join;
- MinHash + LSH: 16 universal-hash minima in 4 bands of 4; only
  band-collision candidates are verified with exact Jaccard. At scale
  the band join touches O(collisions), not O(n^2) — the classic
  Broder construction;
- SimHash: 32-bit frequency-weighted fingerprint, candidates via the
  4-byte pigeonhole banding (hamming <= 3 implies at least one equal
  byte), verified with exact bit_count(xor);
- embedding cosine near-dup: exact pairwise cosine >= 0.4 with
  norms precomputed per row before the join (the bucketed/ANN scale
  path lives in ``operators/similarity.py``).

Jaccard/cosine arithmetic is engine-portable: integer set sizes with
floor-scaled ratios, and double fold-sums in fixed index order (see
``functions/hashing.py`` / ``functions/numeric.py`` for why).

All thresholds sit in the wide gap of the corpus' similarity
distribution (planted near-dups are at J >= 0.9, background <= 0.07),
so membership never hinges on a float ULP.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_lab_spark.functions.hashing import (
    MINHASH_PERMS,
    hex8_int,
    oracle_hex8_int,
    oracle_perm_hash,
    perm_hash,
)
from mapreduce_lab_spark.functions.guards import guard_quadratic
from mapreduce_lab_spark.functions.numeric import exact_ratio, oracle_exact_ratio
from mapreduce_lab_spark.functions.text import tokenize
from mapreduce_lab_spark.functions.vectors import exact_pairs, fold_dot
from mapreduce_lab_spark.registry import query
from mapreduce_lab_spark.sources.tables import fan_out, load_table

N_BANDS = 4
BAND_ROWS = 4  # N_BANDS * BAND_ROWS == len(MINHASH_PERMS)

SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 3

COSINE_THRESHOLD = 0.4
# Row bound for the exact all-pairs cosine baseline (~5e9 comparisons).
EXACT_COSINE_MAX_ROWS = 100_000

_ORACLE_TOKENS = "[t for t in regexp_split_to_array(text, '[^\\p{L}]+') if t <> '']"
_ORACLE_SHINGLES = f"""
    CASE WHEN len(tk) >= 3
         THEN list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                             for i in range(1, len(tk) - 1)])
         ELSE [array_to_string(tk, ' ')] END
""".strip()


def shingles(toks: Column) -> Column:
    """Distinct word-trigram shingles (whole doc if < 3 tokens) over a
    PRE-STAGED token-array column.

    Takes the token array, not the text: tokenize is lambda-bearing,
    so codegen subexpression elimination skips it, and inlining it
    here re-ran split+filter once per reference per row (two ``size``
    calls, the in-lambda ``element_at``s, the short-doc fallback) —
    the r13 staging sweep measured 4-8x on the callers. Callers stage
    the array in a preceding select (``_doc_shingles`` does it)."""
    tri = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= 3, tri).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def _doc_shingles(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", tokenize(F.col("text")).alias("_tk")).select(
        "doc_id", shingles(F.col("_tk")).alias("sh")
    )


def _set_grp() -> Column:
    """Group key for identical-SHINGLE-SET collapse: md5 of the sorted
    shingle array. Every function downstream of a collapse (minhash
    signatures, band keys, Jaccard) is a pure function of the set, so
    any member of a group is an equivalent representative."""
    return F.md5(F.concat_ws("\x01", F.sort_array("sh")))


def _collapse_reps(
    keyed: DataFrame,
    group_cols: list[str],
    rep_cols: list[str],
    members: bool = False,
) -> DataFrame:
    """min-doc_id representative row per identical-set group, as a
    map-side-partial hash aggregate.

    Round 4 selected representatives with
    ``row_number().over(Window.partitionBy(grp))`` — a full shuffle
    plus a per-partition SORT of every row, just to keep rank 1. That
    was the bulk of the round-4 +17% warm cost of multiplicity
    immunity on mostly-duplicate-free corpora (BENCH r4), where the
    window sorted thousands of size-1 groups. The aggregate form
    computes the same representative (min doc_id; payload columns via
    min_by for determinism — any member is equivalent because the
    group key fixes them) with PARTIAL aggregation: duplicate
    families collapse in the map-side combine and nothing is ever
    sorted. Output is row-identical to the window form.

    With ``members=True`` the rep row also carries the ascending
    doc_id list of its whole family — the same partial aggregate
    produces it, and the consumer can then expand family pairs
    in-task (array explode) instead of re-joining a per-doc members
    table, which is what the minhash query's round-5 expansion does.
    """
    aggs = [
        F.min("doc_id").alias("doc_id"),
        *[F.min_by(c, "doc_id").alias(c) for c in rep_cols],
    ]
    if members:
        aggs.append(F.sort_array(F.collect_list("doc_id")).alias("members"))
    return keyed.groupBy(*group_cols).agg(*aggs)


def _expand_cross(
    pairs: DataFrame, metric: str, a_out: str = "doc_a", b_out: str = "doc_b",
    ordered: bool = True,
) -> DataFrame:
    """Stream the ``ma`` x ``mb`` member product of verified rep pairs
    as TWO chained explodes (one side, then the other), never as one
    flattened pair array: generate/explode is pipelined iterator-style
    inside the stage, so per-row memory stays O(|family|) — a single
    flatten(transform(ma, a -> transform(mb, ...))) would materialize
    the whole |ma|*|mb| struct array in one row first, which on a
    degenerate corpus (one family of ~45k identical docs, the sf1
    sweep's worst case) is ~1e9 structs before the explode even
    starts."""
    one = pairs.select(F.explode("ma").alias("_a"), "mb", metric)
    two = one.select("_a", F.explode("mb").alias("_b"), metric)
    if ordered:
        return two.select(
            F.least("_a", "_b").alias(a_out),
            F.greatest("_a", "_b").alias(b_out),
            metric,
        )
    return two.select(F.col("_a").alias(a_out), F.col("_b").alias(b_out), metric)


def _expand_within(rep: DataFrame, metric: Column, metric_name: str) -> DataFrame:
    """All intra-family (a < b) pairs from the sorted member arrays,
    streamed the same two-step way as _expand_cross (posexplode the
    array, then explode each element's ascending tail slice). The
    sort makes a < b positional, so no least/greatest."""
    tails = rep.where(F.size("members") > 1).select(
        "members", F.posexplode("members").alias("_i", "_a")
    )
    return tails.select(
        F.col("_a").alias("doc_a"),
        F.explode(
            F.expr("slice(members, _i + 2, size(members) - _i - 1)")
        ).alias("doc_b"),
    ).select("doc_a", "doc_b", metric.alias(metric_name))


def naive_candidate_pairs(doc_sh: DataFrame) -> DataFrame:
    """All (doc_a < doc_b) pairs sharing ANY shingle — the unfiltered
    inverted-index join. Quadratic in the hottest shingle's document
    frequency; kept only as the baseline for the cardinality test."""
    ex = doc_sh.select("doc_id", F.explode("sh").alias("s"))
    return (
        ex.alias("a")
        .join(ex.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def prefix_filtered_pairs(doc_sh: DataFrame, threshold_num: int = 1, threshold_den: int = 2) -> DataFrame:
    """Candidate (doc_a < doc_b) pairs via PREFIX-FILTERED inverted
    shingle index, threshold-preserving for Jaccard >= num/den.

    Prefix-filtering lemma (Chaudhuri/Bayardo/Xiao, SSJoin/PPJoin):
    under any global total order on shingles, |A∩B| >= α implies the
    (|A|-α+1)-prefix of A intersects the (|B|-α+1)-prefix of B. For
    J(A,B) >= t the overlap is at least ⌈t·max(|A|,|B|)⌉ >= ⌈t·|A|⌉
    for each side, so indexing only each doc's first
    |A| - ⌈t·|A|⌉ + 1 shingles (at t=1/2: ⌊|A|/2⌋+1) loses no
    qualifying pair. The canonical order is ascending GLOBAL document
    frequency (ties by shingle text), so the indexed prefix holds each
    doc's RAREST shingles — a stop-word trigram shared by every doc
    lands in nobody's prefix and the quadratic hot-bucket disappears.
    The subsequent exact-Jaccard verify runs on full shingle sets, so
    results are identical to the naive index for any corpus.

    Cost: one extra groupBy(shingle) for the document-frequency table
    and a per-doc window sort (bounded by per-doc shingle count) — both
    linear passes; candidate-join input is halved and hot buckets are
    gone, which at 100 TB is the difference between a skew-stalled
    stage and an even one.
    """
    num, den = threshold_num, threshold_den
    ex = doc_sh.select(
        "doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("s")
    )
    doc_freq = ex.groupBy("s").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    prefix = (
        ex.join(doc_freq, "s")
        .withColumn("rn", F.row_number().over(w))
        # prefix length |A| - ceil(t*|A|) + 1, t = num/den
        .filter(
            F.col("rn")
            <= F.col("n_sh") - F.ceil(F.col("n_sh") * num / den) + 1
        )
        .select("doc_id", "s", "rn", "n_sh")
    )
    na, nb = F.col("a.n_sh"), F.col("b.n_sh")
    # Two further LOSSLESS prunes on each prefix match (PPJoin):
    #
    # - size filter: J >= t forces min/max >= t, i.e.
    #   den*min(|A|,|B|) >= num*max — pure-integer, O(1).
    # - positional filter: both docs order shingles by the SAME global
    #   (df, s) key, so the first common shingle c sits no later than
    #   any other common one in BOTH docs; the overlap is then at most
    #   1 + min(|A|-pos_A(c), |B|-pos_B(c)). J >= t needs overlap
    #   i >= t/(1+t)*(|A|+|B|) (from 2i >= ... generalized:
    #   (num+den)*i >= num*(|A|+|B|)), so a pair whose EVERY matching
    #   prefix row fails (num+den)*(1 + min suffix) >= num*(|A|+|B|)
    #   cannot qualify — and a qualifying pair always survives via its
    #   first-common-shingle row, which both prefixes provably contain.
    #
    # For same-size docs the positional filter keeps only matches in
    # the first ~n/3 positions (3*(1+suffix) >= 2n): at sf0.1 it cuts
    # candidates 409k -> 125k (-69%) before the array_intersect
    # verify. The filters ride the join's output projection — no
    # extra shuffle.
    size_ok = den * F.least(na, nb) >= num * F.greatest(na, nb)
    pos_ok = (
        (num + den)
        * (1 + F.least(na - F.col("a.rn"), nb - F.col("b.rn")))
        >= num * (na + nb)
    )
    return (
        prefix.alias("a")
        .join(prefix.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(size_ok & pos_ok)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _pair_jaccard(
    pairs: DataFrame, doc_sh: DataFrame, keep: list[str] | None = None
) -> DataFrame:
    """Attach exact Jaccard to (doc_a, doc_b) pairs; filter >= 0.5.

    The filter is pure-integer (2*|A∩B| >= |A∪B|); the reported value
    is a floor-scaled ratio — both identical across engines. Extra
    ``pairs`` columns named in ``keep`` ride through to the output.
    """
    a = doc_sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = doc_sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # Lossless size prefilter: J >= 1/2 needs |A∩B| >= (|A|+|B|)/3 and
    # |A∩B| <= min, so 2*min(|A|,|B|) >= max is necessary — an O(1)
    # integer check that spares the O(|A|+|B|) array_intersect for
    # size-mismatched candidate pairs.
    size_ok = 2 * F.least(F.size("sh_a"), F.size("sh_b")) >= F.greatest(
        F.size("sh_a"), F.size("sh_b")
    )
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .filter(size_ok)
        .withColumn("inter", inter)
        .withColumn("uni", union)
        .filter(2 * F.col("inter") >= F.col("uni"))
        .select(
            "doc_a",
            "doc_b",
            (F.floor(F.col("inter") * 1_000_000 / F.col("uni")) / 1e6).alias("jaccard"),
            *(keep or []),
        )
    )


# --- exact dedup -----------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_md5,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical survivor (min doc_id) per content hash."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    return (
        docs.groupBy(F.md5("text").alias("content_md5"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# --- n-gram Jaccard --------------------------------------------------------


# Inverted-index pair formulation shared by the jaccard / connected-
# components / cluster-representatives oracles. Exactly the all-pairs
# J >= 0.5 semantics of the previous brute-force cross join: shingle
# lists are DISTINCT, so count(*) per doc pair IS |intersection|, and
# inter = 0 pairs can never reach J >= 0.5, so the postings join loses
# nothing. The cross join ran O(n²) list_intersects and blew the
# 120 s sim watchdog at sf0.1 (VERDICT r5 #7); the postings join runs
# it in seconds. Still independent of the Spark plan under test: no
# prefix filter, no rarest-shingle selection, no identical-set
# collapse — the properties the differential check exists to verify.
_O_JPAIRS = f"""t AS (
      SELECT doc_id, {_ORACLE_SHINGLES} AS sh
      FROM (SELECT doc_id, {_ORACLE_TOKENS} AS tk FROM documents)
    ), e AS (
      SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM t
    ), jp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n AS na, b.n AS nb, count(*) AS inter
      FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )"""


@query(
    "near_dup_ngram_jaccard",
    oracle=f"""
    WITH {_O_JPAIRS}
    SELECT doc_a, doc_b,
           floor(inter * 1000000 / (na + nb - inter)) / 1000000.0 AS jaccard
    FROM jp
    WHERE 2 * inter >= na + nb - inter
    """,
)
def q_near_dup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-shingle Jaccard >= 0.5 pairs via prefix-filtered
    inverted shingle index.

    Spark plan: explode shingles → keep each doc's rarest ⌊n/2⌋+1
    shingles by global document frequency (prefix filtering — loses no
    J>=0.5 pair, see prefix_filtered_pairs) → self-join on shingle →
    exact-Jaccard verify over the FULL shingle sets. The oracle
    brute-forces the cross join instead — an independent formulation,
    same answer.

    Identical shingle sets collapse to one representative first (the
    same multiplicity-immunity as the other banded families): a family
    of k identical docs otherwise puts all k in every shared-prefix
    bucket — quadratic candidates before any verify. Collapsing
    CHANGES the global document frequencies the prefix order uses, but
    the output is invariant: prefix filtering is lossless for J >= 0.5
    under ANY global order, and the verify keeps exactly the J >= 0.5
    pairs, so both worlds emit the same set — the all-pairs J >= 0.5
    definition the oracle states directly.
    """
    # The rep-level shingle table feeds both sides of the self-join
    # and the verify step: cache it so tokenization+shingling runs
    # once, not 4x (at scale this is a materialized signature table).
    # The collapse aggregate also emits each family's sorted doc_id
    # list, so the expansions below are in-task streamed explodes —
    # two rep-keyed joins replace the round-4 four-join + members
    # self-join fan-back.
    doc_sh = _doc_shingles(fan_out(load_table(spark, sf_dir, "documents"), spark))
    keyed = doc_sh.withColumn("grp", _set_grp())
    rep = _collapse_reps(keyed, ["grp"], ["sh"], members=True).cache()
    rep_sh = rep.select("doc_id", "sh")
    rep_pairs = _pair_jaccard(prefix_filtered_pairs(rep_sh), rep_sh)
    cross = _expand_cross(
        rep_pairs.join(
            rep.select(F.col("doc_id").alias("doc_a"), F.col("members").alias("ma")),
            "doc_a",
        ).join(
            rep.select(F.col("doc_id").alias("doc_b"), F.col("members").alias("mb")),
            "doc_b",
        ),
        "jaccard",
    )
    within = _expand_within(rep, F.lit(1.0), "jaccard")
    return cross.unionByName(within)


# --- MinHash + LSH ---------------------------------------------------------


def minhash_signature(hx: Column) -> list[Column]:
    """16 minhash values over a column of hex8-int shingle hashes."""
    def one(a: int, b: int) -> Column:
        # Single-parameter lambda only: pyspark binds extra lambda
        # parameters to the element index.
        return F.array_min(F.transform(hx, lambda x: perm_hash(x, a, b)))

    return [one(a, b).alias(f"s{i}") for i, (a, b) in enumerate(MINHASH_PERMS)]


def _band_keys() -> list[Column]:
    """Band join keys: the band's BAND_ROWS minhash values packed into
    two longs (s0·2³¹+s1, s2·2³¹+s3).

    Every consumer uses the key purely for equality (band self-joins,
    the census groupBy, the streaming probe), and each minhash value
    is < 2³¹ (perm_hash mod 2³¹−1), so the packing is a bijection of
    the value tuple — bucket membership, candidate sets and census
    counts are provably identical to the round-≤13 "v0:v1:v2:v3"
    string key. The swap shuffles 16 fixed-width bytes per band row
    instead of a ~40-char string and compares longs instead of strings
    in the exchange and the join (guide §2.3 narrower types): at sf0.1
    the band frames carry 4 rows/doc through a shuffle on every
    minhash lane, and at 100 TB key bytes are most of those exchanges.
    """
    def pack(lo: Column, hi: Column) -> Column:
        # values < 2^31, so lo*2^31 + hi < 2^62 — no ANSI overflow
        return lo * F.lit(1 << 31).cast("long") + hi

    return [
        F.struct(
            pack(
                F.col(f"s{band * BAND_ROWS}"), F.col(f"s{band * BAND_ROWS + 1}")
            ).alias("k1"),
            pack(
                F.col(f"s{band * BAND_ROWS + 2}"), F.col(f"s{band * BAND_ROWS + 3}")
            ).alias("k2"),
        )
        for band in range(N_BANDS)
    ]


def _oracle_minhash() -> tuple[str, str]:
    """(sig CTE select-list, band UNION ALL) fragments for the oracle."""
    sigs = ", ".join(
        f"list_min(list_transform(hx, x -> {oracle_perm_hash('x', a, b)})) AS s{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    bands = "\n      UNION ALL ".join(
        "SELECT doc_id, {band} AS band, {key} AS key FROM sig".format(
            band=band,
            key=" || ':' || ".join(
                f"s{band * BAND_ROWS + r}::VARCHAR" for r in range(BAND_ROWS)
            ),
        )
        for band in range(N_BANDS)
    )
    return sigs, bands


_O_SIGS, _O_BANDS = _oracle_minhash()

# Shared minhash-oracle fragments: signature/band CTE chain and the
# Jaccard-verified band-collision pair select. Reused verbatim by
# near_dup_minhash_lsh, minhash_jaccard_estimate, and
# near_dup_minhash_clusters so all three check the SAME construction.
_O_MH_CTE = f"""t AS (
      SELECT doc_id, {_ORACLE_SHINGLES} AS sh
      FROM (SELECT doc_id, {_ORACLE_TOKENS} AS tk FROM documents)
    ), h AS (
      SELECT doc_id, list_transform(sh, s -> {oracle_hex8_int('s')}) AS hx FROM t
    ), sig AS (
      SELECT doc_id, {_O_SIGS} FROM h
    ), bands AS (
      {_O_BANDS}
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
    )"""
_O_MH_VERIFIED = """
    SELECT doc_a, doc_b,
           floor(len(list_intersect(ta.sh, tb.sh)) * 1000000
                 / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh))))
             / 1000000.0 AS jaccard
    FROM cand
    JOIN t ta ON ta.doc_id = cand.doc_a
    JOIN t tb ON tb.doc_id = cand.doc_b
    WHERE 2 * len(list_intersect(ta.sh, tb.sh))
          >= len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh))
    """


@query(
    "near_dup_minhash_lsh",
    oracle=f"""
    WITH {_O_MH_CTE}
    {_O_MH_VERIFIED}
    """,
)
def q_near_dup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands × 4) candidates, Jaccard-verified.

    Candidate generation is O(band collisions): docs agreeing on all 4
    minhashes of any band meet in a bucket join. The verify step then
    applies the same exact-Jaccard filter as the brute-force operator.
    The output is defined by the algorithm (a pair missed by every
    band is absent even if J >= 0.5) — the oracle reproduces the exact
    same bands, so parity checks the construction end-to-end.

    Signatures, band keys, AND the Jaccard verify are all pure
    functions of the shingle SET, so documents with identical sets
    (exact duplicates, sentence reorderings) collapse to one
    representative BEFORE banding and expand back afterwards — the
    same multiplicity-immunity as the simhash fp-level banding: a
    family of k identical docs contributes one row to every band
    bucket instead of squaring k inside the bucket join, and the
    within-family pairs (always candidates — identical band keys —
    and exactly Jaccard 1) are emitted algebraically. Output is
    row-identical to the uncollapsed algorithm.
    """
    # Shingling + per-shingle md5 + 16 permutations is the expensive
    # subtree and feeds both self-join sides plus the Jaccard verify:
    # cache the REP-level frame so it computes once (the production
    # analog is a persisted signature table keyed by doc_id). The
    # collapse aggregate also emits each family's sorted doc_id list,
    # so both expansions below are in-task array explodes over the
    # cached rep frame — no per-doc members table, no self-join.
    doc_sh = _doc_shingles(fan_out(load_table(spark, sf_dir, "documents"), spark))
    keyed = doc_sh.withColumn("grp", _set_grp())
    rep_sh = _collapse_reps(keyed, ["grp"], ["sh"], members=True).cache()
    sig = rep_sh.select(
        "grp", "doc_id", *minhash_signature(F.transform("sh", hex8_int))
    )
    bands = sig.select(
        "grp", "doc_id", F.posexplode(F.array(*_band_keys())).alias("band", "key")
    ).cache()
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.grp").alias("ga"),
            F.col("y.grp").alias("gb"),
        )
        .distinct()
    )
    rep_pairs = _pair_jaccard(cand, rep_sh.select("doc_id", "sh"), keep=["ga", "gb"])

    # Cross-family expansion: every (a in family(ga), b in family(gb))
    # pair inherits the verified rep-level Jaccard (all members of a
    # group share the exact shingle SET). Joins hit the cached
    # group-level frame; the pair product streams inside the task.
    fam = rep_sh.select("grp", "members")
    cross = _expand_cross(
        rep_pairs.join(
            fam.select(F.col("grp").alias("ga"), F.col("members").alias("ma")), "ga"
        ).join(
            fam.select(F.col("grp").alias("gb"), F.col("members").alias("mb")), "gb"
        ),
        "jaccard",
    )
    # Within-family pairs: exact duplicates, Jaccard 1 by definition.
    within = _expand_within(rep_sh, F.lit(1.0), "jaccard")
    return cross.unionByName(within)


# --- MinHash-LSH candidates + edit-distance verify ---------------------------

# Accept pairs whose levenshtein distance is <= 20% of the longer
# normalized text (permille so the predicate stays pure-integer).
EDIT_DIST_MAX_PERMILLE = 200


@query(
    "near_dup_band_edit_distance",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_ORACLE_SHINGLES} AS sh
      FROM (SELECT doc_id, {_ORACLE_TOKENS} AS tk FROM documents)
    ), h AS (
      SELECT doc_id, list_transform(sh, s -> {oracle_hex8_int('s')}) AS hx FROM t
    ), sig AS (
      SELECT doc_id, {_O_SIGS} FROM h
    ), bands AS (
      {_O_BANDS}
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
    ), n AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    )
    SELECT doc_a, doc_b,
           CAST(levenshtein(na.norm, nb.norm) AS BIGINT) AS edit_distance
    FROM cand
    JOIN n na ON na.doc_id = cand.doc_a
    JOIN n nb ON nb.doc_id = cand.doc_b
    WHERE 1000 * levenshtein(na.norm, nb.norm)
          <= {EDIT_DIST_MAX_PERMILLE} * greatest(len(na.norm), len(nb.norm))
    """,
)
def q_near_dup_band_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: MinHash-LSH band candidates verified by
    RELATIVE EDIT DISTANCE (levenshtein <= 20% of the longer
    normalized text) instead of Jaccard.

    Edit distance is the verifier of choice when token-order changes
    matter (shingle Jaccard is order-insensitive across trigram
    boundaries; levenshtein is not) — but it is O(len_a·len_b) per
    pair, utterly unusable as a join predicate. The construction that
    makes it scale is the same banded LSH as near_dup_minhash_lsh:
    candidate generation touches O(band collisions) pairs, and the
    quadratic-cost verify runs only on that bounded set. The
    acceptance predicate is pure-integer (1000·lev <= 200·max_len) so
    membership can't hinge on a float ULP; the oracle reproduces the
    exact bands and DuckDB's levenshtein agrees with Spark's on
    codepoints.

    Exact RAW-text duplicates collapse to one representative before
    banding and expand back afterwards (same multiplicity-immunity as
    the simhash/minhash forms; the collapse key here must be the raw
    text, since tokenize is case-sensitive while the verify
    normalization is not — identical raw text makes band keys AND
    edit distances invariant, and within-family pairs are always
    candidates at distance exactly 0).
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    keyed = docs.select(
        "doc_id", "text", tokenize(F.col("text")).alias("_tk")
    ).select(
        "doc_id",
        F.md5("text").alias("grp"),
        norm.alias("norm"),
        shingles(F.col("_tk")).alias("sh"),
    )
    base = _collapse_reps(keyed, ["grp"], ["norm", "sh"], members=True).cache()
    sig = base.select(
        "grp", "doc_id", *minhash_signature(F.transform("sh", hex8_int))
    )
    bands = sig.select(
        "grp", "doc_id", F.posexplode(F.array(*_band_keys())).alias("band", "key")
    )
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.grp").alias("ga"),
            F.col("y.grp").alias("gb"),
        )
        .distinct()
    )
    a = base.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("norm_a"))
    b = base.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("norm_b"))
    # Thresholded (banded) levenshtein with the pair's own acceptance
    # bound: -1 above it, exact distance otherwise — same equivalence
    # argument as _snm_verify.
    lev_banded = F.expr(
        f"levenshtein(norm_a, norm_b, CAST(({EDIT_DIST_MAX_PERMILLE} * "
        f"greatest(length(norm_a), length(norm_b))) div 1000 AS INT))"
    ).cast("long")
    rep_pairs = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("edit_distance", lev_banded)
        .filter(F.col("edit_distance") >= 0)
        .select("ga", "gb", "edit_distance")
    )
    fam = base.select("grp", "members")
    cross = _expand_cross(
        rep_pairs.join(
            fam.select(F.col("grp").alias("ga"), F.col("members").alias("ma")), "ga"
        ).join(
            fam.select(F.col("grp").alias("gb"), F.col("members").alias("mb")), "gb"
        ),
        "edit_distance",
    )
    within = _expand_within(base, F.lit(0).cast("long"), "edit_distance")
    return cross.unionByName(within)


# --- SimHash ---------------------------------------------------------------


def simhash(docs: DataFrame) -> DataFrame:
    """32-bit frequency-weighted SimHash per document.

    ZERO-shuffle: the per-doc bit votes are an ``aggregate`` over the
    token array inside one projection (token -> md5 hash once, then a
    32-lane zip_with accumulator), so the signature never leaves the
    scan's partitioning. The round-4 form exploded tokens and
    groupBy(doc_id)'d 32 bit-sum aggregates back together — correct,
    map-side combinable, but it shuffled every (doc, token) row for a
    quantity that is a pure per-row function of the document; the
    array form is ~4x faster warm at sf0.1 (1.4 s -> 0.35 s) and the
    identical integer math (bit j set when the signed
    occurrence-weighted vote sum is > 0; same oracle). Token-less
    documents are dropped, matching the explode/groupBy form and the
    oracle's unnest + GROUP BY (an empty array would otherwise fold to
    the all-zero vote vector and emit a spurious simhash=0 row).
    """
    # Lane width interpolated from SIMHASH_BITS (ADVICE r5): the oracle
    # and the band projections derive from the same constant, so a
    # width change cannot desynchronize Spark from the oracle.
    bit_votes = f"""
    aggregate(
      _hashes,
      array_repeat(0L, {SIMHASH_BITS}),
      (acc, h) -> zip_with(acc, sequence(0, {SIMHASH_BITS - 1}),
                           (v, j) -> v + ((h >> cast(j as int)) & 1L) * 2 - 1)
    )"""
    to_sig = f"""
    aggregate(zip_with(_bits, sequence(0, {SIMHASH_BITS - 1}),
              (s, j) -> if(s > 0, shiftleft(1L, cast(j as int)), 0L)),
              0L, (a, x) -> a + x)"""
    return (
        # rlike on raw text, not size(tokenize(..)) > 0: the latter
        # inlines the whole tokenize into a scan-pushed predicate
        # (evaluated again downstream); "has at least one letter" is
        # the same condition and is a cheap find-first regex that
        # SHOULD sit on the scan.
        docs.where(F.col("text").rlike(r"\p{L}"))
        .select("doc_id", tokenize(F.col("text")).alias("_toks"))
        .select("doc_id", F.transform(F.col("_toks"), hex8_int).alias("_hashes"))
        .select("doc_id", F.expr(bit_votes).alias("_bits"))
        .select("doc_id", F.expr(to_sig).alias("simhash"))
    )


_O_H = oracle_hex8_int("w")
_O_BITSUMS = ", ".join(
    f"sum(((({_O_H}) >> {j}) & 1) * 2 - 1) AS b{j}" for j in range(SIMHASH_BITS)
)
_O_SIM = " + ".join(
    f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
)


@query(
    "near_dup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_ORACLE_TOKENS}) AS w FROM documents
    ), bits AS (
      SELECT doc_id, {_O_BITSUMS} FROM tok GROUP BY doc_id
    ), sim AS (
      SELECT doc_id, ({_O_SIM})::BIGINT AS simhash FROM bits
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sim a, sim b
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
)
def q_near_dup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairs with hamming distance <= 3.

    Spark candidates via TWO-LEVEL pigeonhole banding: hamming <= 3
    can corrupt at most 3 of the 4 bytes, so near-dup pairs share at
    least one exact byte; and GIVEN that clean byte, all <= 3 flipped
    bits live in the remaining 24 bits, so at least one of that
    remainder's four 6-bit pieces is also exactly equal. Every
    qualifying pair therefore shares a full (band_id, byte_val,
    piece_val) key for some band_id = 4*byte_idx + piece_idx — 16
    bands per fingerprint over an effective 14-bit key instead of
    round 4's single-level 4 bands over an 8-bit key. At sf1 this cut
    bucket-pair rows 132M -> 48.6M (less than the uniform-key 16x
    estimate because fp mass is skewed across band keys); with the
    pre-distinct verify and the merge-hinted self-join below, the
    round-5 scale flag (norm 1.28) measures 0.23 — see
    docs/SCALE.md round 6. Verify with exact bit_count(xor). The
    oracle brute-forces all pairs; identical final predicate →
    identical result.

    The band join runs over DISTINCT fingerprints, expanding to doc
    pairs only after the hamming verify. Template-dominated corpora
    collapse thousands of documents onto one fingerprint (simhash is
    a frequency-weighted vote, so ANY shared dominant token mass
    aligns every bit); banding at doc level then squares that
    multiplicity inside the candidate join BEFORE verification —
    measured on a degenerate 50k-doc replica where 45k docs shared
    one fingerprint, the doc-level join built ~10⁹ candidate rows and
    OOM'd an 8 GB heap. Fingerprint-level banding keeps candidate
    work O(distinct-fp collisions); only VERIFIED near-dup families
    expand, and that expansion is the output itself (for such corpora
    the pair-list contract is inherently quadratic — near_dup_clusters
    is the scale-safe output shape).
    """
    sim = simhash(fan_out(load_table(spark, sf_dir, "documents"), spark)).cache()
    fps = sim.select("simhash").distinct()
    n_bytes = SIMHASH_BITS // 8
    band_structs = []
    for k in range(n_bytes):
        byte_val = F.shiftright("simhash", 8 * k).bitwiseAND(F.lit(0xFF))
        # Concatenate the OTHER bytes (ascending) into a 24-bit rest,
        # then cut it into four 6-bit pieces.
        rest = None
        for idx, m in enumerate(b for b in range(n_bytes) if b != k):
            term = F.shiftleft(
                F.shiftright("simhash", 8 * m).bitwiseAND(F.lit(0xFF)), 8 * idx
            )
            rest = term if rest is None else rest + term
        for j in range(4):
            piece_val = F.shiftright(rest, 6 * j).bitwiseAND(F.lit(0x3F))
            band_structs.append(
                F.struct(
                    F.lit(4 * k + j).alias("band_id"),
                    byte_val.alias("byte_val"),
                    piece_val.alias("piece_val"),
                )
            )
    bytes_ = fps.select(
        "simhash", F.explode(F.array(*band_structs)).alias("_band")
    ).select("simhash", "_band.*")
    fp_pairs = (
        # Sort-merge, not broadcast-hash: Catalyst sees a small build
        # side and picks BHJ, but band buckets hold THOUSANDS of rows
        # per key and BHJ's per-probe match-chain iteration runs ~1.5M
        # matches/s on such keys — measured 33 s for the 48.6M match
        # rows at sf1. SMJ streams each key group linearly at ~15M/s
        # (3.2 s same data), and is also the only strategy that still
        # works when the distinct-fp band table outgrows a broadcast
        # at 100 TB. The hint costs one 16-rows/fp shuffle, trivial at
        # every scale.
        bytes_.alias("a")
        .hint("merge")
        .join(bytes_.alias("b"), ["band_id", "byte_val", "piece_val"])
        .filter(F.col("a.simhash") <= F.col("b.simhash"))
        # Hamming-verify BEFORE the distinct: the test is a row-local
        # bitop, so bucket-pair rows that fail it die inside the join
        # task instead of riding the distinct's shuffle. Measured at
        # sf1: 48.6M bucket-pair rows are ~90% hamming>3 noise from
        # skewed (byte,piece) buckets — the early filter shrinks the
        # distinct's shuffle input 49M -> 5.1M rows.
        .filter(
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            <= SIMHASH_MAX_HAMMING
        )
        .select(
            F.col("a.simhash").alias("fa"), F.col("b.simhash").alias("fb")
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))))
    )
    a = sim.select(F.col("simhash").alias("fa"), F.col("doc_id").alias("da"))
    b = sim.select(F.col("simhash").alias("fb"), F.col("doc_id").alias("db"))
    return (
        fp_pairs.join(a, "fa")
        .join(b, "fb")
        # fa < fb: every unordered doc pair appears exactly once, any
        # orientation; fa == fb: keep the da < db half.
        .where((F.col("fa") < F.col("fb")) | (F.col("da") < F.col("db")))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )


# --- embedding cosine ------------------------------------------------------


def _dvec(col: str) -> Column:
    # Cast each element to double BEFORE any arithmetic: float*float
    # rounds to single precision and would diverge from the oracle's
    # double math.
    return F.transform(col, lambda x: x.cast("double"))


# Native list_dot_product, not the round-5 LATERAL-wrapped
# list_reduce([..*..]) comprehension fold: on this DuckDB build the
# two are BIT-IDENTICAL (sequential scalar accumulation — verified
# exact-equal over every sf0.1 embedding pair and pinned in
# tests/test_cross_engine_primitives.py), and the LATERAL-per-pair
# plan plus the lambda-evaluated list materialization were the whole
# cost of the quadratic recall-baseline oracle: 29 s -> 0.2 s at
# sf0.1 after the rewrite (the r13 slow report's one >20 s entry).
# The Spark side keeps its F.aggregate left fold (functions/vectors.py);
# equality at full double precision is what the pin guards. _O_DOT
# assumes the pair sides are aliased a/b with vector column v, the
# convention of every consumer below.
_O_DOT = "list_dot_product(a.v, b.v)"
_O_NORM = "list_dot_product({e}, {e})"


@query(
    "near_dup_embedding_cosine",
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), n AS MATERIALIZED (
      SELECT vec_id, v, {_O_NORM.format(e='v')} AS norm FROM e
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_O_DOT} / sqrt(a.norm * b.norm), 6) AS cosine
    FROM n a, n b
    WHERE a.vec_id < b.vec_id
      AND {_O_DOT} / sqrt(a.norm * b.norm) >= {COSINE_THRESHOLD}
    """,
)
def q_near_dup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise cosine >= 0.4 over the embeddings table.

    THIS IS THE O(n²) RECALL BASELINE, NOT THE SCALE PATH. Every pair
    of vectors is compared; at 100 TB the bucketed constructions in
    operators/similarity.py (ann_lsh_cosine / ann_ivf_trained) are the
    real operators, and this one exists to measure their recall on
    samples. A guard_quadratic row bound (EXACT_COSINE_MAX_ROWS,
    opt-out with max_rows=None) refuses inputs where the pair count
    would be catastrophic. The kernel folds each norm once per row
    (O(n·d)), so the pair stage only pays the dot product.
    """
    e = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", _dvec("embedding").alias("v")
    )
    e = guard_quadratic(
        e,
        EXACT_COSINE_MAX_ROWS,
        "near_dup_embedding_cosine",
        "operators/similarity.py ann_lsh_cosine / ann_ivf_trained",
    )
    # One kernel pass (functions/vectors.exact_pairs): BLAS prescreens
    # the n²/2 pairs and the oracle-exact fold scores the survivors,
    # so no interpreted fold and no join runs in Spark.
    return exact_pairs(e, [], COSINE_THRESHOLD).select(
        "vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine")
    )


# --- embedding near-dup, banded random-hyperplane LSH ----------------------

# 16 sign bits from fixed-seed Gaussian hyperplanes, banded 4x4: two
# vectors collide when some band's 4 sign bits all agree. P[bit
# agrees] = 1 - theta/pi, so a cos >= 0.4 pair (theta <= 66 deg)
# collides with p >= 1 - (1 - 0.63^4)**4 ~ 0.50 per independent
# band set — the recall/cost trade every banded LSH makes, and the
# oracle reproduces the exact bands so the construction itself is
# what parity checks (same contract as near_dup_minhash_lsh).
RP_BANDS = 4
RP_BAND_BITS = 4
_rp_rng = random.Random(7)
# Weights rounded to 6 decimals: each literal parses to the identical
# nearest-double in Spark and DuckDB, so both engines run the same
# IEEE dot product bit-for-bit and the sign test cannot diverge.
RP_PLANES: list[list[float]] = [
    [round(_rp_rng.gauss(0.0, 1.0), 6) for _ in range(64)]
    for _ in range(RP_BANDS * RP_BAND_BITS)
]


def _rp_band_vals() -> list[Column]:
    """One integer per band: RP_BAND_BITS hyperplane sign bits packed
    LSB-first. Each dot is a left fold in index order over the
    double-cast embedding — the oracle's flat sum evaluates the same
    IEEE sequence."""
    vals = []
    for band in range(RP_BANDS):
        v = F.lit(0)
        for r in range(RP_BAND_BITS):
            w = RP_PLANES[band * RP_BAND_BITS + r]
            dot = fold_dot("v", F.array(*[F.lit(x) for x in w]))
            v = v + F.when(dot >= 0, F.lit(1 << r)).otherwise(F.lit(0))
        vals.append(v)
    return vals


def _oracle_rp_bands() -> str:
    """UNION ALL of per-band (vec_id, band, val) selects mirroring
    _rp_band_vals: flat left-to-right sums, same literals."""
    selects = []
    for band in range(RP_BANDS):
        bits = []
        for r in range(RP_BAND_BITS):
            w = RP_PLANES[band * RP_BAND_BITS + r]
            dot = " + ".join(f"v[{k + 1}] * ({x!r})" for k, x in enumerate(w))
            bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << r} ELSE 0 END)")
        selects.append(
            f"SELECT vec_id, {band} AS band, ({' + '.join(bits)}) AS val FROM e"
        )
    return "\n      UNION ALL ".join(selects)


# Shared CTE prefix for the random-hyperplane LSH oracles: banded
# sign-bit signatures -> candidate pairs (no cosine verify yet).
_RP_CAND_CTE = f"""e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), n AS MATERIALIZED (
      SELECT vec_id, v, {_O_NORM.format(e='v')} AS norm FROM e
    ), bands AS (
      {_oracle_rp_bands()}
    ), cand AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.val = y.val AND x.vec_id < y.vec_id
    )"""


@query(
    "near_dup_embedding_lsh",
    meta={
        "lane": "tight-threshold",
        "routing": (
            "Constant-bucket sign-LSH: use for cosine thresholds >= "
            "~0.9, where per-bit agreement >= 0.86 makes the band "
            "buckets selective. At loose thresholds (e.g. this repo's "
            "0.4) its candidates grow quadratically with corpus size "
            "(lsh_band_census pre-flight) — route loose traffic to "
            "near_dup_embedding_ivf_clusters instead."
        ),
    },
    oracle=f"""
    WITH {_RP_CAND_CTE}
    SELECT vec_a, vec_b,
           round({_O_DOT} / sqrt(a.norm * b.norm), 6) AS cosine
    FROM cand
    JOIN n a ON a.vec_id = cand.vec_a
    JOIN n b ON b.vec_id = cand.vec_b
    WHERE {_O_DOT} / sqrt(a.norm * b.norm) >= {COSINE_THRESHOLD}
    """,
)
def q_near_dup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIGHT-THRESHOLD embedding near-dup pair lane: banded
    random-hyperplane LSH, whose recall the exact O(n²)
    ``near_dup_embedding_cosine`` baseline measures. Constant-bucket
    sign-LSH prunes well only when the threshold is high (>= ~0.9,
    theta <= 26°, per-bit agreement >= 0.86); at the repo's loose 0.4
    threshold its candidates grow quadratically (census-gated above
    ~sf1 — ``lsh_band_census``), so loose-threshold traffic routes to
    ``near_dup_embedding_ivf_clusters`` (operators/semantic_ivf.py).

    100 TB shape: signatures are a narrow per-row projection (16 dots
    against broadcast-literal hyperplanes — no shuffle, no UDF), the
    corpus meets itself only inside (band, val) buckets (~n/2^4 rows
    per band under the hashing assumption), and the exact-cosine
    verify runs on the collision set alone. Compare
    ``near_dup_minhash_lsh`` (same band-verify-expand skeleton over
    token shingles); the planes are seed-pinned module constants the
    oracle re-embeds as literals, which is what makes the
    construction differentially testable end-to-end.

    LOOSE-THRESHOLD ROUTING (round 9): this constant-16-bucket scheme
    enumerates candidates quadratically in corpus size (census-gated
    above ~sf1 — ``lsh_band_census``, docs/SCALE.md); past that
    scale, route to the registered
    ``near_dup_embedding_ivf_clusters`` (operators/semantic_ivf.py),
    whose trained product cells keep candidates linear.
    """
    e = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", _dvec("embedding").alias("v")
    )
    # Each (band, val) bucket holds ~n/16 rows on this constant-bucket
    # scheme, so collisions are ~n²/64: exact_pairs scores a bucket in
    # one grouped pass (its vectors cross the Python boundary once and
    # collision pairs never shuffle), and the distinct drops the pairs
    # that collide in more than one band.
    bands = e.select(
        "vec_id", "v", F.posexplode(F.array(*_rp_band_vals())).alias("band", "val")
    )
    return (
        exact_pairs(bands, ["band", "val"], COSINE_THRESHOLD)
        .distinct()
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine"))
    )


def embedding_lsh_pair_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified embedding near-dup pair table (vec_a, vec_b,
    cosine), materialized per invocation so multi-pass consumers (the
    CC loop, the recall eval's three count legs) read the checkpoint
    instead of re-running the band join. Computed from the parquet
    inputs on EVERY call — the round-9 session-scoped memo that let
    later invocations skip the pipeline was removed in round 13 (it
    made warm bench numbers measure reuse, not compute). Lazy (round
    14): the clusters consumer immediately re-materializes its own CC
    edge checkpoint, so an eager job here was pure overhead; the
    recall eval's three count legs still read the one materialization
    after their first action."""
    return q_near_dup_embedding_lsh(spark, sf_dir).localCheckpoint(eager=False)


@query(
    "near_dup_embedding_clusters",
    oracle=f"""
    WITH {_RP_CAND_CTE}, pairs AS MATERIALIZED (
      SELECT vec_a, vec_b
      FROM cand
      JOIN n a ON a.vec_id = cand.vec_a
      JOIN n b ON b.vec_id = cand.vec_b
      WHERE {_O_DOT} / sqrt(a.norm * b.norm) >= {COSINE_THRESHOLD}
    ), edges AS MATERIALIZED (
      -- MATERIALIZED is load-bearing: the recursive closure below
      -- scans edges once per iteration, and an inlined edges would
      -- re-run the interpreted-dot pairs chain each time (the same
      -- find as the pinned-IVF twin, round 12)
      SELECT vec_a AS src, vec_b AS dst FROM pairs
      UNION SELECT vec_b, vec_a FROM pairs
    ), reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e2.dst FROM r JOIN edges e2 ON r.dst = e2.src
      )
      SELECT * FROM r
    )
    SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
    FROM reach
    GROUP BY src
    """,
)
def q_near_dup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIGHT-THRESHOLD embedding near-dup cluster lane: connected
    components over the banded random-hyperplane LSH pairs (cosine
    >= 0.4), labeled by min vec_id — the scale-safe OUTPUT contract
    for embedding dedup in the high-threshold regime. For LOOSE
    thresholds at scale use ``near_dup_embedding_ivf_clusters``
    (operators/semantic_ivf.py), whose trained product cells keep
    candidates linear where this lane's census reads ~n²/32.

    Pair lists are inherently quadratic on duplicate-heavy corpora
    (the round-4 sf1 lesson, docs/SCALE.md); a pipeline that keeps
    one vector per CLUSTER needs component labels, not pairs. Same
    alternating-star components loop as the shingle-based
    ``near_dup_clusters``; the oracle recomputes the identical LSH
    pair set and closes it with a recursive CTE — a different
    algorithm reaching the same fixpoint. The pair input comes from
    the session-scoped ``embedding_lsh_pair_table`` artifact (round-9
    change): clusters pays the CC residual, not a second pair
    materialization.
    """
    pairs = embedding_lsh_pair_table(spark, sf_dir).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    return connected_components(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


@query(
    "embedding_lsh_recall_eval",
    oracle=f"""
    WITH {_RP_CAND_CTE}, lshp AS MATERIALIZED (
      SELECT vec_a, vec_b
      FROM cand
      JOIN n a ON a.vec_id = cand.vec_a
      JOIN n b ON b.vec_id = cand.vec_b
      WHERE {_O_DOT} / sqrt(a.norm * b.norm) >= {COSINE_THRESHOLD}
    ), exactp AS MATERIALIZED (
      -- MATERIALIZED: four subselects below read these; inlined, the
      -- O(n^2) baseline would run once per subselect
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM n a, n b
      WHERE a.vec_id < b.vec_id
        AND {_O_DOT} / sqrt(a.norm * b.norm) >= {COSINE_THRESHOLD}
    )
    SELECT (SELECT count(*) FROM exactp) AS n_exact,
           (SELECT count(*) FROM lshp) AS n_lsh,
           (SELECT count(*) FROM exactp JOIN lshp USING (vec_a, vec_b))
               AS n_hit,
           {oracle_exact_ratio(
               "(SELECT count(*) FROM exactp JOIN lshp USING (vec_a, vec_b))",
               "greatest((SELECT count(*) FROM exactp), 1)",
           )} AS recall
    """,
)
def q_embedding_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered recall self-eval for the banded random-hyperplane
    near-dup pair path — the driver-checkable twin of
    tests/test_dedup.py's recall-floor pytest, completing the eval
    family (``ann_recall_at_5`` for the ANN lane,
    ``trajectory_nn_recall_at_1`` for the trajectory lane): exact
    baseline pair count, LSH pair count, their intersection, and the
    recall ratio, in one row.

    The exact half inherits ``near_dup_embedding_cosine``'s
    guard_quadratic row bound — at 100 TB this eval job runs on a
    bounded SAMPLE of the corpus (that is what a recall eval is), and
    the guard is what enforces the sampling contract.
    """
    # Both pair frames materialize ONCE (the lsh side via the shared
    # session artifact, the exact side via its own checkpoint): the
    # three count legs + the intersection would otherwise re-execute
    # the corpus scan 8x (caught by test_plan_hygiene's dup-scan cap).
    exact = (
        q_near_dup_embedding_cosine(spark, sf_dir)
        .select("vec_a", "vec_b")
        .localCheckpoint()
    )
    lsh = embedding_lsh_pair_table(spark, sf_dir).select("vec_a", "vec_b")
    hit = exact.join(lsh, ["vec_a", "vec_b"])
    e = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    l = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    h = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        e.crossJoin(F.broadcast(l))
        .crossJoin(F.broadcast(h))
        .select(
            "n_exact",
            "n_lsh",
            "n_hit",
            exact_ratio(
                F.col("n_hit"), F.greatest(F.col("n_exact"), F.lit(1))
            ).alias("recall"),
        )
    )


@query(
    "lsh_band_census",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), bands AS (
      {_oracle_rp_bands()}
    ), occ AS (
      SELECT band, val, count(*) AS n FROM bands GROUP BY band, val
    )
    SELECT band, count(*) AS buckets,
           CAST(sum(n * (n - 1)) / 2 AS BIGINT) AS cand_pairs,
           max(n) AS max_bucket
    FROM occ GROUP BY band
    """,
)
def q_lsh_band_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band occupancy census of the random-hyperplane LSH table:
    bucket count, implied candidate-pair workload sum(C(n_b, 2)), and
    the largest bucket — per band, WITHOUT running the pair join.

    This is the sizing pass a 100 TB dedup launches FIRST: the census
    costs one narrow signature scan + a (band, val)-cardinality-bounded
    aggregate, and its ``cand_pairs`` column is exactly the number of
    comparisons the band self-join in ``near_dup_embedding_lsh`` will
    enumerate. Round-8 measurement (scripts/probe_band_candidates.py,
    docs/SCALE.md): 0.53M -> 53.3M -> 7.23B candidates at sf0.1 ->
    sf1 -> sf10 — pure n^2 growth on this constant-16-bucket-per-band
    scheme, which is how you discover BEFORE launching that a corpus
    needs more signature bits (bits must grow ~log n to keep bucket
    occupancy flat) or a data-dependent (IVF-style) partitioning,
    rather than by watching the join stall. ``max_bucket`` additionally
    exposes occupancy skew (the straggler task bound).
    """
    e = fan_out(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", _dvec("embedding").alias("v")
    )
    bands = e.select(F.posexplode(F.array(*_rp_band_vals())).alias("band", "val"))
    occ = bands.groupBy("band", "val").agg(F.count(F.lit(1)).alias("n"))
    return occ.groupBy("band").agg(
        F.count(F.lit(1)).alias("buckets"),
        (F.sum(F.col("n") * (F.col("n") - 1)) / 2).cast("long").alias("cand_pairs"),
        F.max("n").alias("max_bucket"),
    )


@query(
    "minhash_band_census",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_ORACLE_SHINGLES} AS sh
      FROM (SELECT doc_id, {_ORACLE_TOKENS} AS tk FROM documents)
    ), h AS (
      SELECT doc_id, list_sort(sh)::VARCHAR AS grp,
             list_transform(sh, s -> {oracle_hex8_int('s')}) AS hx
      FROM t
    ), sig AS (
      SELECT doc_id, grp, {_O_SIGS} FROM h
    ), bands AS (
      {_O_BANDS.replace("SELECT doc_id,", "SELECT doc_id, grp,")}
    ), occ AS (
      SELECT band, key, count(*) AS n, count(DISTINCT grp) AS r
      FROM bands GROUP BY band, key
    )
    SELECT band, count(*) AS buckets,
           CAST(sum(n * (n - 1)) / 2 AS BIGINT) AS cand_pairs,
           CAST(sum(r * (r - 1)) / 2 AS BIGINT) AS rep_cand_pairs,
           max(n) AS max_bucket
    FROM occ GROUP BY band
    """,
)
def q_minhash_band_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight occupancy census for the MinHash band join — the
    token-lane twin of ``lsh_band_census``.

    Per band: bucket count, the candidate-pair workload of the
    textbook doc-level band join (``cand_pairs`` = sum C(n_b, 2)),
    the workload AFTER identical-shingle-set collapse
    (``rep_cand_pairs`` = sum C(reps_b, 2) — what
    ``near_dup_minhash_lsh``'s rep-level join actually enumerates),
    and the hottest bucket (straggler bound). The gap between the two
    pair columns is the measured value of the collapse: an exact-dup
    family of k docs inflates cand_pairs by C(k, 2) but adds one to
    rep_cand_pairs. Unlike the constant-bucket embedding scheme, the
    minhash key space is unbounded (4 chained 64-bit minhashes), so
    occupancy tracks TRUE duplicate density, not corpus size — the
    census proves which regime a corpus is in before the join runs.
    The oracle groups families by the sorted shingle list itself
    rather than the md5 the Spark side uses; only the partition
    matters, so the counts match.
    """
    doc_sh = _doc_shingles(fan_out(load_table(spark, sf_dir, "documents"), spark))
    keyed = doc_sh.withColumn("grp", _set_grp())
    sig = keyed.select(
        "doc_id", "grp", *minhash_signature(F.transform("sh", hex8_int))
    )
    bands = sig.select(
        "doc_id", "grp", F.posexplode(F.array(*_band_keys())).alias("band", "key")
    )
    occ = bands.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("grp").alias("r")
    )
    return occ.groupBy("band").agg(
        F.count(F.lit(1)).alias("buckets"),
        (F.sum(F.col("n") * (F.col("n") - 1)) / 2).cast("long").alias("cand_pairs"),
        (F.sum(F.col("r") * (F.col("r") - 1)) / 2).cast("long").alias("rep_cand_pairs"),
        F.max("n").alias("max_bucket"),
    )


@query(
    "minhash_lsh_recall_eval",
    oracle=f"""
    WITH {_O_MH_CTE}, e AS (
      SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM t
    ), jp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n AS na, b.n AS nb, count(*) AS inter
      FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ), exactp AS (
      SELECT doc_a, doc_b FROM jp WHERE 2 * inter >= na + nb - inter
    ), lshp AS (
      SELECT doc_a, doc_b FROM ({_O_MH_VERIFIED})
    )
    SELECT (SELECT count(*) FROM exactp) AS n_exact,
           (SELECT count(*) FROM lshp) AS n_lsh,
           (SELECT count(*) FROM exactp JOIN lshp USING (doc_a, doc_b))
               AS n_hit,
           {oracle_exact_ratio(
               "(SELECT count(*) FROM exactp JOIN lshp USING (doc_a, doc_b))",
               "greatest((SELECT count(*) FROM exactp), 1)",
           )} AS recall
    """,
)
def q_minhash_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered recall self-eval for the MinHash+LSH near-dup path
    vs the exact J >= 0.5 baseline (``near_dup_ngram_jaccard``) — the
    token-lane member of the eval family (``ann_recall_at_5``,
    ``embedding_lsh_recall_eval``, ``trajectory_nn_recall_at_1``):
    exact pair count, banded pair count, intersection, recall, one
    row. Both inputs are existing oracled queries, so this eval
    checks the EVAL ARITHMETIC cross-engine while the recall number
    itself is the 4x4-banding operating point (P[collide] =
    1 - (1 - J^4)^4 — ~0.5 at J = 0.5, ~1 at J >= 0.8; exact twins
    always collide). At 100 TB this runs on a bounded sample — both
    parents already collapse identical-shingle families, so the
    sample is of distinct CONTENT, not rows.
    """
    exact = (
        q_near_dup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    lsh = (
        q_near_dup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    hit = exact.join(lsh, ["doc_a", "doc_b"])
    e = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    l = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    h = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        e.crossJoin(F.broadcast(l))
        .crossJoin(F.broadcast(h))
        .select(
            "n_exact",
            "n_lsh",
            "n_hit",
            exact_ratio(
                F.col("n_hit"), F.greatest(F.col("n_exact"), F.lit(1))
            ).alias("recall"),
        )
    )


# --- near-dup clusters (connected components) ------------------------------


def connected_components(edges: DataFrame, max_iters: int = 15) -> DataFrame:
    """Connected components via the alternating large-star / small-star
    algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    "Connected Components in MapReduce and Beyond", ACM SoCC 2014):
    each round is two groupBy-min passes plus one join over the
    CURRENT edge set, and the edge set contracts to per-component
    stars rooted at the component minimum in O(log^2 n) rounds (~3-6
    observed) — versus O(graph diameter) rounds for plain min-label
    propagation. Diameter is NOT scale-free for near-dup graphs: the
    sf1/sf10 replicas (and any real corpus with chained revisions)
    contain duplicate CHAINS a->b->c->... whose length grows with the
    corpus, which round-8 profiling caught costing 582 s at sf1.

    The other half of that 582 s: the input edge list is materialized
    ONCE here with localCheckpoint(), so the (expensive) upstream
    pair-finding pipeline runs exactly once and every round afterwards
    joins checkpointed 2-column rows only. Per-round frames are also
    localCheckpoint()ed so lineage stays O(1) across iterations.

    Convergence: the edge set is a monotone contraction toward the
    star fixpoint; we stop when its (count, sum-of-xxhash64) signature
    repeats — one cheap scalar action per round, collision probability
    ~2^-64 per comparison. max_iters is a backstop only (log^2 of any
    achievable component size fits well under 15); if it trips, the
    min-aggregate in the label step below still emits each node's best
    known root, identical to stopping label propagation early.

    Input: edges (src, dst). Output: (doc_id, cluster_id) where
    cluster_id is the component's min doc_id; every distinct endpoint
    of the input appears exactly once.
    """
    u, v = F.col("u"), F.col("v")
    # one materialization of the upstream pair pipeline; nodes keeps
    # self-loop-only endpoints (they label as their own singleton
    # cluster) while the star iteration works on proper edges only.
    raw = (
        edges.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    e = raw.where(u != v)
    # lazy, not checkpointed: nodes derives from the already-
    # checkpointed raw with one cheap distinct, so an eager checkpoint
    # only added a blocking job before the first star round (round-13,
    # measured 2.8 -> 2.4 s per CC call at sf0.1)
    nodes = (
        raw.select(u.alias("doc_id"))
        .union(raw.select(v.alias("doc_id")))
        .distinct()
    )

    def signature(E: DataFrame) -> tuple:
        # count + xor-of-hashes: order-independent, overflow-free under
        # ANSI mode (a SUM of 64-bit hashes overflows), and xor
        # cancellation needs duplicate rows, which .distinct() rules out.
        r = E.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    def large_star(E: DataFrame) -> DataFrame:
        # group the FULL neighborhood of each node; attach every
        # strictly-larger neighbor to min(N(u) + {u}).
        nbrs = E.union(E.select(v.alias("u"), u.alias("v")))
        m = nbrs.groupBy("u").agg(F.min(F.least(u, v)).alias("m"))
        return (
            nbrs.join(m, "u")
            .where(v > u)  # (v, m): v > u >= m, so never a self-loop
            .select(v.alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(E: DataFrame) -> DataFrame:
        # orient edges toward the smaller endpoint, group by the larger;
        # attach the center and all its smaller neighbors to the min.
        o = E.select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
        j = o.join(o.groupBy("u").agg(F.min(v).alias("m")), "u")
        return (
            j.select(v.alias("u"), F.col("m").alias("v"))
            .union(j.select(u, F.col("m").alias("v")))
            .where(u != v)  # drops the (m, m) row from the first leg
            .distinct()
        )

    # One star-round per materialization. (Batching two rounds per
    # checkpoint was tried in round 8 and measured SLOWER at sf0.1 —
    # 8.1 s vs 4.6 s: the deeper 4-shuffle plan per job costs more in
    # stage/task overhead than the saved checkpoint + scalar collect.)
    sig = signature(e)
    for _ in range(max_iters):
        e = small_star(large_star(e)).localCheckpoint()
        cur = signature(e)
        if cur == sig:
            break
        sig = cur
    # converged state is a star per component: (child, root). The
    # min-agg + left join make the labeling robust to a (theoretical)
    # max_iters backstop trip and re-attach root nodes to themselves.
    roots = e.groupBy("u").agg(F.min(v).alias("comp"))
    return (
        nodes.join(roots.withColumnRenamed("u", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("comp", F.col("doc_id")).alias("cluster_id"),
        )
    )


_CLUSTERS_ORACLE = f"""
    WITH {_O_JPAIRS}, pairs AS (
      SELECT doc_a AS src, doc_b AS dst FROM jp
      WHERE 2 * inter >= na + nb - inter
    ), edges AS (
      SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
    ), reach AS (
      -- transitive closure; UNION (not UNION ALL) reaches fixpoint
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
      )
      SELECT * FROM r
    )
    SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
    FROM reach
    GROUP BY src
    """


@query("near_dup_clusters", oracle=_CLUSTERS_ORACLE)
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: connected components over Jaccard>=0.5
    pairs, labeled by min doc_id.

    This is the step after pair mining that an actual dedup pipeline
    needs (keep one doc per CLUSTER, not per pair — pairs alone
    over-delete transitively-linked groups). The oracle computes the
    same components via a recursive-CTE transitive closure: an
    entirely different algorithm, same fixpoint.
    """
    doc_sh = _doc_shingles(fan_out(load_table(spark, sf_dir, "documents"), spark)).cache()
    pairs = _pair_jaccard(prefix_filtered_pairs(doc_sh), doc_sh).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return connected_components(pairs)


# --- cluster representative selection --------------------------------------


def cluster_representatives(clusters: DataFrame, quality: DataFrame) -> DataFrame:
    """Keep the best document per near-dup cluster.

    The step a dedup pipeline actually ships: after pair mining and
    component labeling, each cluster keeps exactly one representative
    — highest quality score, ties to the smallest doc_id. One join of
    two doc-keyed frames and one window over ``cluster_id`` (high
    cardinality — no global sort); the window's rank limit is pushed
    into the shuffle by Spark 4's WindowGroupLimit.
    """
    j = clusters.join(quality.select("doc_id", "quality_score"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            "n_members",
            F.col("quality_score").alias("rep_quality"),
        )
    )


def _oracle_cluster_reps() -> str:
    from mapreduce_lab_spark.operators.textstats import _QUALITY_ORACLE

    return f"""
    WITH clus AS ({_CLUSTERS_ORACLE}),
    q AS ({_QUALITY_ORACLE}),
    j AS (
        SELECT c.cluster_id, c.doc_id, q.quality_score
        FROM clus c JOIN q USING (doc_id)
    ),
    r AS (
        SELECT cluster_id, doc_id, quality_score,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY quality_score DESC, doc_id ASC) AS rn,
               count(*) OVER (PARTITION BY cluster_id) AS n_members
        FROM j
    )
    SELECT cluster_id, doc_id AS rep_doc_id, n_members,
           quality_score AS rep_quality
    FROM r WHERE rn = 1
    """


@query("cluster_representatives", oracle=_oracle_cluster_reps())
def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_lab_spark.operators.textstats import quality_scores

    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    doc_sh = _doc_shingles(docs).cache()
    pairs = _pair_jaccard(prefix_filtered_pairs(doc_sh), doc_sh).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return cluster_representatives(connected_components(pairs), quality_scores(docs))


# --- minhash estimate + clusters (completing the minhash lane) --------------

_O_MH_AGREE = " + ".join(
    f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)"
    for i in range(len(MINHASH_PERMS))
)


@query(
    "minhash_jaccard_estimate",
    oracle=f"""
    WITH {_O_MH_CTE}, ver AS ({_O_MH_VERIFIED})
    SELECT v.doc_a, v.doc_b,
           round(({_O_MH_AGREE}) / {len(MINHASH_PERMS)}.0, 6) AS est_jaccard,
           v.jaccard
    FROM ver v
    JOIN sig a ON a.doc_id = v.doc_a
    JOIN sig b ON b.doc_id = v.doc_b
    """,
)
def q_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based similarity estimation: for every verified minhash
    near-dup pair, the SIGNATURE-agreement estimate of Jaccard next to
    the exact value — the measurement a 100 TB pipeline uses to decide
    whether it can skip the exact verify entirely (estimate-only
    thresholding reads 16 ints per doc instead of the shingle sets).

    The estimate is the fraction of the 16 minhash components that
    agree (an unbiased estimator of J). Signatures are a zero-shuffle
    projection; the pair list is the already-verified near-dup output,
    so the two signature joins probe with a small pair set. Estimates
    are multiples of 1/16, exactly representable in a double — the
    round(6) cannot straddle a ULP, so the oracle comparison is exact.
    """
    pairs = q_near_dup_minhash_lsh(spark, sf_dir)
    docs = fan_out(load_table(spark, sf_dir, "documents"), spark)
    sig = _doc_shingles(docs).select(
        "doc_id",
        F.array(*minhash_signature(F.transform("sh", hex8_int))).alias("sig"),
    )
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        pairs.join(
            sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")),
            "doc_a",
        )
        .join(
            sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(agree / float(len(MINHASH_PERMS)), 6).alias("est_jaccard"),
            "jaccard",
        )
    )


@query(
    "near_dup_minhash_clusters",
    oracle=f"""
    WITH {_O_MH_CTE}, ver AS ({_O_MH_VERIFIED}), pairs AS (
      SELECT doc_a AS src, doc_b AS dst FROM ver
    ), edges AS (
      SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
    ), reach AS (
      WITH RECURSIVE r(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
      )
      SELECT * FROM r
    )
    SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
    FROM reach
    GROUP BY src
    """,
)
def q_near_dup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the minhash-LSH verified pairs —
    the scale-safe OUTPUT contract for the minhash lane, matching
    near_dup_clusters (shingle-jaccard lane) and
    near_dup_embedding_clusters (embedding lane). A dedup pipeline
    keeps one doc per component; pair lists are quadratic on
    duplicate-heavy corpora, component labels are linear. The oracle
    recomputes the identical banded construction and closes it with a
    recursive CTE — a different algorithm, same fixpoint.
    """
    pairs = q_near_dup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return connected_components(pairs)


# --- incremental MinHash dedup (new batch vs existing corpus) --------------

INCR_MOD = 10  # doc_id % INCR_MOD == 0 plays the "incoming batch"

# Shared by the batch query below and its streaming replay twin
# (streaming/replay.py): both must deliver exactly this answer.
_INCR_MINHASH_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_ORACLE_SHINGLES} AS sh
      FROM (SELECT doc_id, {_ORACLE_TOKENS} AS tk FROM documents)
    ), h AS (
      SELECT doc_id, list_transform(sh, s -> {oracle_hex8_int('s')}) AS hx FROM t
    ), sig AS (
      SELECT doc_id, {_O_SIGS} FROM h
    ), bands AS (
      {_O_BANDS}
    ), cand AS (
      SELECT DISTINCT x.doc_id AS corpus_doc, y.doc_id AS new_doc
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.key = y.key
      WHERE x.doc_id % {INCR_MOD} != 0 AND y.doc_id % {INCR_MOD} = 0
    )
    SELECT corpus_doc, new_doc,
           floor(len(list_intersect(ta.sh, tb.sh)) * 1000000
                 / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh))))
             / 1000000.0 AS jaccard
    FROM cand
    JOIN t ta ON ta.doc_id = cand.corpus_doc
    JOIN t tb ON tb.doc_id = cand.new_doc
    WHERE 2 * len(list_intersect(ta.sh, tb.sh))
          >= len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh))
    """


@query("near_dup_incremental_minhash", oracle=_INCR_MINHASH_ORACLE)
def q_near_dup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: an INCOMING batch (doc_id % 10 == 0 stands in
    for today's crawl) is checked against the EXISTING corpus's
    persisted LSH index without any corpus-vs-corpus work.

    This is the production shape of minhash dedup at 100 TB: the
    corpus band table is a materialized artifact (built once, appended
    to per batch); each new batch computes signatures only for itself,
    probes the band index with an equi-join — cost O(batch + bucket
    collisions), never O(corpus²) — and Jaccard-verifies the
    collisions. The self-join variant (``near_dup_minhash_lsh``) is
    the backfill job; this is the daily one.

    The oracle rebuilds the identical bands and splits by the same
    modulus — construction-exact parity, as for the self-join.

    Identical shingle sets collapse to one representative PER SIDE
    (corpus / batch) before the probe — the incremental form of the
    multiplicity-immunity shared by the other banded families: a
    batch of k identical docs probes the index once, a corpus family
    of m identical docs is one index row, and the verified rep pair
    expands to all m×k cross-side pairs afterwards (same-group
    cross-side pairs surface the same way: identical sets always
    collide, at exactly Jaccard 1). In production the collapsed form
    IS the persisted index layout — one band row per distinct
    signature plus a membership side-table.
    """
    doc_sh = _doc_shingles(fan_out(load_table(spark, sf_dir, "documents"), spark))
    keyed = doc_sh.withColumn(
        "side_new", F.col("doc_id") % INCR_MOD == 0
    ).withColumn("grp", _set_grp())
    reps = _collapse_reps(keyed, ["grp", "side_new"], ["sh"], members=True).cache()
    sig = reps.select(
        "grp", "side_new", "doc_id", *minhash_signature(F.transform("sh", hex8_int))
    )
    bands = sig.select(
        "grp",
        "side_new",
        "doc_id",
        F.posexplode(F.array(*_band_keys())).alias("band", "key"),
    )
    # In production `corpus_bands` is read back from the persisted
    # index; here both derive from one table split by the modulus.
    corpus_bands = bands.where(~F.col("side_new"))
    new_bands = bands.where(F.col("side_new"))
    cand = (
        corpus_bands.alias("x")
        .join(new_bands.alias("y"), ["band", "key"])
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.grp").alias("ga"),
            F.col("y.grp").alias("gb"),
        )
        .distinct()
    )
    rep_pairs = _pair_jaccard(
        cand, reps.select("doc_id", "sh"), keep=["ga", "gb"]
    )
    fam = reps.select("grp", "side_new", "members")
    corpus_fam = fam.where(~F.col("side_new")).select(
        F.col("grp").alias("ga"), F.col("members").alias("ma")
    )
    new_fam = fam.where(F.col("side_new")).select(
        F.col("grp").alias("gb"), F.col("members").alias("mb")
    )
    return _expand_cross(
        rep_pairs.join(corpus_fam, "ga").join(new_fam, "gb"),
        "jaccard",
        a_out="corpus_doc",
        b_out="new_doc",
        ordered=False,
    )


# --- sorted-neighborhood blocking ------------------------------------------

SNM_WINDOW = 3  # compare each record to its w-1 sorted successors
SNM_PREFIX = 4  # block = first SNM_PREFIX chars of the normalized text


def _snm_lead_pairs(blocked: DataFrame, w: int, key: str = "norm") -> DataFrame:
    """Candidate pairs from lead-1..w-1 windows over (blk, key, norm,
    doc_id) rows, sorted by (key, doc_id) within each blk partition.
    ``key`` defaults to the normalized text itself; multi-pass SNM
    passes a different sort key (the reversed text, via ``_snm_pass``)."""
    win = Window.partitionBy("blk").orderBy(key, "doc_id")
    with_leads = blocked.select(
        "norm",
        "doc_id",
        *[F.lead("norm", i).over(win).alias(f"n{i}") for i in range(1, w)],
        *[F.lead("doc_id", i).over(win).alias(f"d{i}") for i in range(1, w)],
    )
    # One explode over the w-1 lead slots, NOT a union of w-1 selects:
    # union branches are separate subtrees to Catalyst, so each would
    # re-run the scan + sort + window (measured by scripts/
    # audit_scans.py — the union form scanned documents 2(w-1) times
    # per pass).
    lead = F.explode(
        F.array(*[
            F.struct(F.col(f"d{i}").alias("d"), F.col(f"n{i}").alias("n"))
            for i in range(1, w)
        ])
    )
    return (
        with_leads.select("norm", "doc_id", lead.alias("lead"))
        .where(F.col("lead.d").isNotNull())
        .select(
            F.least("doc_id", "lead.d").alias("doc_a"),
            F.greatest("doc_id", "lead.d").alias("doc_b"),
            F.col("norm").alias("norm_a"),
            F.col("lead.n").alias("norm_b"),
        )
    )


def _snm_verify(pairs: DataFrame, base: DataFrame) -> DataFrame:
    """Edit-distance verify (same relative threshold as the LSH-edit
    family), dedup across passes.

    Levenshtein is O(len_a·len_b) per pair — by far the dominant cost
    of any SNM run — so three semantics-preserving cuts apply:
    candidates dedupe BEFORE the verify (multi-pass unions and lead
    windows re-surface the same pair several times; one lev per
    distinct pair); the length lower bound gates it (lev >=
    |len_a - len_b|, so a pair whose length gap already exceeds the
    relative threshold skips the call entirely); and the call itself
    is Spark's THRESHOLDED levenshtein (banded O(len·k) DP returning
    -1 above k) with k = the pair's own acceptance bound — for
    integers lev <= 0.2·max_len iff lev <= floor(0.2·max_len), so
    accept-iff-not-(-1) is exactly the unbounded predicate. Measured
    8.9 s -> 2.2 s warm on the two-pass query at sf0.1.

    Round 14 (guide §2.3 / §8 — shuffle keys, not payloads): the
    cross-pass dedup now runs on BARE ID PAIRS (16 bytes/row) and the
    two normalized texts are re-attached afterwards by doc_id joins
    against ``base`` (one norm per DOC crosses those exchanges, not
    two norms per CANDIDATE). The round-13 shape shuffled both full
    texts through the distinct for every one of the ~4·(w−1)·n
    candidate rows — ~30x the text bytes this form moves. The pair
    set, the per-pair norms (determined by the ids), every gate and
    the emitted rows are identical; the old trailing distinct (which
    collapsed the least/greatest norm-swap of symmetric candidates)
    is subsumed because the id-level distinct now runs first and the
    join attaches each side's norm exactly once."""
    ids = pairs.select("doc_a", "doc_b").distinct()
    a = base.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("norm_a"))
    b = base.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("norm_b"))
    withn = ids.join(a, "doc_a").join(b, "doc_b")
    max_len = F.greatest(F.length("norm_a"), F.length("norm_b"))
    len_gap = F.abs(F.length("norm_a") - F.length("norm_b"))
    lev_banded = F.expr(
        f"levenshtein(norm_a, norm_b, CAST(({EDIT_DIST_MAX_PERMILLE} * "
        f"greatest(length(norm_a), length(norm_b))) div 1000 AS INT))"
    ).cast("long")
    return (
        withn.where(1000 * len_gap <= EDIT_DIST_MAX_PERMILLE * max_len)
        .withColumn("edit_distance", lev_banded)
        .where(F.col("edit_distance") >= 0)
        .select("doc_a", "doc_b", "edit_distance")
    )


def _snm_normalize(docs: DataFrame) -> DataFrame:
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.select("doc_id", norm.alias("norm")).where(F.length("norm") > 0)


def _snm_pass(base: DataFrame, w: int, prefix: int, key_expr) -> DataFrame:
    """One full SNM candidate pass (main blocks + boundary recovery)
    under an arbitrary sort key expression over the normalized text.

    ``key_expr`` is a Column computed from ``norm`` (the identity for
    the classic forward pass, ``reverse(norm)`` for the multi-pass
    variant — suffix-sorting catches near-dups whose edits fall in the
    prefix the forward pass blocks on). Blocking, windowing, and the
    boundary pass all operate on the sort key; ``norm`` rides along
    only as the verify payload.
    """
    keyed = base.select("norm", "doc_id", key_expr.alias("skey"))
    blocked = keyed.select(
        F.substring("skey", 1, prefix).alias("blk"), "norm", "doc_id", "skey"
    )
    main = _snm_lead_pairs(blocked, w, key="skey")

    asc = Window.partitionBy("blk").orderBy("skey", "doc_id")
    # Distance from the block's END is block-size minus the ascending
    # rank — one unordered count window over the same partition
    # instead of a second full DESCENDING sort (round-4 shape): the
    # exchange is shared and the sort runs once per pass, not twice.
    boundary = (
        blocked.withColumn("rn_a", F.row_number().over(asc))
        .withColumn("n_blk", F.count("*").over(Window.partitionBy("blk")))
        .where(
            (F.col("rn_a") <= w - 1)
            | (F.col("n_blk") - F.col("rn_a") + 1 <= w - 1)
        )
        .select(F.substring("skey", 1, 1).alias("blk"), "norm", "doc_id", "skey")
    )
    edge = _snm_lead_pairs(boundary, w, key="skey")
    return main.unionByName(edge)


def near_dup_sorted_neighborhood(
    docs: DataFrame, w: int = SNM_WINDOW, prefix: int = SNM_PREFIX
) -> DataFrame:
    """Sorted-neighborhood near-dup candidates: the classic entity-
    resolution blocking strategy ORTHOGONAL to the hash families above
    (LSH catches any-position overlap; SNM catches records whose
    normalized forms SORT adjacently — shared prefixes, common in
    boilerplate-led documents — with zero hashing).

    Records sort by normalized text within ``prefix``-character blocks;
    each record compares against its w−1 successors via ``lead``
    windows, then the edit-distance verify keeps true near-dups.
    Candidate count stays ≤ 2·(w−1)·n — LINEAR by construction, the
    property that makes SNM a standard fallback when hash buckets skew.

    Scale: round 2 blocked on the FIRST character, so on natural-
    language corpora one window partition ('t', 'a') held 10-20% of
    all docs — a single-task multi-TB sort at 100×. Blocks are now the
    first ``prefix`` (default 4) normalized chars, giving ~|alphabet|^4
    window partitions with sharply smaller maxima (pinned by the
    planted-skew test in tests/test_dedup.py). Pairs straddling a
    block edge are recovered by a second BOUNDARY pass: the first and
    last w−1 rows of every block (row_number from both ends) re-run
    the same lead window partitioned by the 1-char prefix. That pass
    touches only ~2·(w−1) rows per block — O(#blocks), sublinear in
    corpus size, so the coarse partition key is safe there — and the
    union of the two passes is a SUPERSET of the old 1-char-block
    candidates: any pair within lead-distance w−1 of a 4-char-block
    edge has both endpoints in the boundary set at distance ≤ the
    original. Recall strictly improves; the linear candidate bound is
    kept.
    """
    base = _snm_normalize(docs).cache()  # feeds the pass + both verify joins
    return _snm_verify(_snm_pass(base, w, prefix, F.col("norm")), base)


def near_dup_snm_multipass(
    docs: DataFrame, w: int = SNM_WINDOW, prefix: int = SNM_PREFIX
) -> DataFrame:
    """Multi-pass sorted-neighborhood: union of the forward pass and a
    REVERSED-text pass, verified once — the production-standard SNM
    form (Hernandez & Stolfo 1995 run multiple passes under different
    sort keys because any single key has a blind spot).

    The forward pass sorts by the normalized text, so near-dups whose
    edit lands in the first characters ("1998 annual report" vs "1999
    annual report") sort far apart and are missed; the reversed-text
    pass sorts those adjacently (shared SUFFIX) and vice versa. Each
    pass keeps the same linear candidate bound, so the union is
    ≤ 4·(w−1)·n candidates — still linear — with strictly more recall
    than either pass alone.
    """
    # Both passes (and each pass's main + boundary windows) plus the
    # verify's two norm joins consume the normalized projection: cache
    # it so the documents scan + normalize runs once, not six times.
    base = _snm_normalize(docs).cache()
    fwd = _snm_pass(base, w, prefix, F.col("norm"))
    rev = _snm_pass(base, w, prefix, F.reverse(F.col("norm")))
    return _snm_verify(fwd.unionByName(rev), base)


_SNM_LEAD_COLS = ", ".join(
    f"lead(norm, {i}) OVER w AS n{i}, lead(doc_id, {i}) OVER w AS d{i}"
    for i in range(1, SNM_WINDOW)
)
_SNM_PAIR_UNION = " UNION ALL ".join(
    f"""SELECT least(doc_id, d{i}) AS doc_a, greatest(doc_id, d{i}) AS doc_b,
           norm AS norm_a, n{i} AS norm_b
    FROM {{src}} WHERE d{i} IS NOT NULL"""
    for i in range(1, SNM_WINDOW)
)

_SNM_SQL = f"""
WITH base AS (
    SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
    FROM documents
),
blocked AS (
    SELECT substr(norm, 1, {SNM_PREFIX}) AS blk, norm, doc_id
    FROM base WHERE len(norm) > 0
),
main_leads AS (
    SELECT norm, doc_id, {_SNM_LEAD_COLS}
    FROM blocked
    WINDOW w AS (PARTITION BY blk ORDER BY norm, doc_id)
),
boundary AS (
    SELECT substr(norm, 1, 1) AS blk, norm, doc_id FROM (
        SELECT blk, norm, doc_id,
               row_number() OVER (PARTITION BY blk ORDER BY norm, doc_id) AS rn_a,
               row_number() OVER (PARTITION BY blk ORDER BY norm DESC, doc_id DESC) AS rn_d
        FROM blocked
    ) WHERE rn_a <= {SNM_WINDOW - 1} OR rn_d <= {SNM_WINDOW - 1}
),
edge_leads AS (
    SELECT norm, doc_id, {_SNM_LEAD_COLS}
    FROM boundary
    WINDOW w AS (PARTITION BY blk ORDER BY norm, doc_id)
),
pairs AS (
    {_SNM_PAIR_UNION.format(src="main_leads")}
    UNION ALL
    {_SNM_PAIR_UNION.format(src="edge_leads")}
)
SELECT DISTINCT doc_a, doc_b,
       CAST(levenshtein(norm_a, norm_b) AS BIGINT) AS edit_distance
FROM pairs
WHERE 1000 * levenshtein(norm_a, norm_b)
      <= {EDIT_DIST_MAX_PERMILLE} * greatest(len(norm_a), len(norm_b))
"""


@query("near_dup_sorted_neighborhood", oracle=_SNM_SQL)
def q_near_dup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs from sorted-neighborhood blocking (w=3), verified
    by relative edit distance."""
    return near_dup_sorted_neighborhood(load_table(spark, sf_dir, "documents"))


def _snm_pass_sql(tag: str, key_sql: str) -> str:
    """CTE chain for one SNM candidate pass (main + boundary) under an
    arbitrary DuckDB sort-key expression over ``norm`` — the SQL twin
    of ``_snm_pass``. Returns the CTE text; the pair sources are
    ``{tag}_main`` and ``{tag}_edge``."""
    return f"""{tag}_blocked AS (
    SELECT substr(skey, 1, {SNM_PREFIX}) AS blk, norm, doc_id, skey
    FROM (SELECT norm, doc_id, {key_sql} AS skey FROM snm_base)
),
{tag}_main AS (
    SELECT norm, doc_id, {_SNM_LEAD_COLS}
    FROM {tag}_blocked
    WINDOW w AS (PARTITION BY blk ORDER BY skey, doc_id)
),
{tag}_boundary AS (
    SELECT substr(skey, 1, 1) AS blk, norm, doc_id, skey FROM (
        SELECT blk, norm, doc_id, skey,
               row_number() OVER (PARTITION BY blk ORDER BY skey, doc_id) AS rn_a,
               row_number() OVER (PARTITION BY blk ORDER BY skey DESC, doc_id DESC) AS rn_d
        FROM {tag}_blocked
    ) WHERE rn_a <= {SNM_WINDOW - 1} OR rn_d <= {SNM_WINDOW - 1}
),
{tag}_edge AS (
    SELECT norm, doc_id, {_SNM_LEAD_COLS}
    FROM {tag}_boundary
    WINDOW w AS (PARTITION BY blk ORDER BY skey, doc_id)
)"""


_SNM_MULTI_SQL = f"""
WITH snm_base AS (
    SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
    FROM documents
    WHERE len(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) > 0
),
{_snm_pass_sql("fwd", "norm")},
{_snm_pass_sql("rev", "reverse(norm)")},
pairs AS (
    {_SNM_PAIR_UNION.format(src="fwd_main")}
    UNION ALL
    {_SNM_PAIR_UNION.format(src="fwd_edge")}
    UNION ALL
    {_SNM_PAIR_UNION.format(src="rev_main")}
    UNION ALL
    {_SNM_PAIR_UNION.format(src="rev_edge")}
)
SELECT DISTINCT doc_a, doc_b,
       CAST(levenshtein(norm_a, norm_b) AS BIGINT) AS edit_distance
FROM pairs
WHERE 1000 * levenshtein(norm_a, norm_b)
      <= {EDIT_DIST_MAX_PERMILLE} * greatest(len(norm_a), len(norm_b))
"""


@query("near_dup_snm_multipass", oracle=_SNM_MULTI_SQL)
def q_near_dup_snm_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs from two-pass SNM (forward + reversed sort key),
    verified by relative edit distance."""
    return near_dup_snm_multipass(load_table(spark, sf_dir, "documents"))
