"""Dedup-specific unit tests, beyond the oracle-parity sweep.

Pins the prefix-filtering properties of the shingle-index join:
(1) SAFETY — filtering loses no Jaccard>=0.5 pair (identical verified
output to the naive index), and (2) EFFECTIVENESS — a corpus with a
planted hot shingle (a phrase every doc shares) produces quadratically
many naive candidates but only O(true-pairs) filtered candidates.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_lab_spark.functions.guards import (
    ExactBaselineScaleError,
    guard_quadratic,
)
from mapreduce_lab_spark.operators.dedup import (
    _doc_shingles,
    _pair_jaccard,
    naive_candidate_pairs,
    prefix_filtered_pairs,
)
from mapreduce_lab_spark.operators.similarity import knn_bruteforce

N_DOCS = 30
HOT_PHRASE = "the quick brown fox jumps over the lazy dog again and again"


def _hot_shingle_corpus(spark):
    """Every doc shares HOT_PHRASE (hot shingles, df = N_DOCS); each
    doc adds a unique tail (rare shingles, df = 1) long enough to keep
    cross-doc Jaccard well under 0.5. Docs 0 and 1 are exact
    near-duplicates (identical text, J = 1)."""
    rows = []
    for i in range(N_DOCS):
        tag = 0 if i == 1 else i  # doc 1 duplicates doc 0
        # Letter-only tokens: the tokenizer splits on non-letters, so
        # digit tags would collapse every doc's tail to the same tokens.
        t = chr(ord("a") + tag % 26) + chr(ord("a") + tag // 26)
        tail = " ".join(
            f"tok{t}w{chr(ord('a') + j)} filler{t}x{chr(ord('a') + j)}"
            for j in range(9)
        )
        rows.append((i, f"{HOT_PHRASE} {tail}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_prefix_filter_kills_hot_shingle_blowup(spark):
    doc_sh = _doc_shingles(_hot_shingle_corpus(spark)).cache()
    n_naive = naive_candidate_pairs(doc_sh).count()
    n_filtered = prefix_filtered_pairs(doc_sh).count()
    # Naive: the hot phrase links every pair -> full quadratic C(30,2).
    assert n_naive == N_DOCS * (N_DOCS - 1) // 2
    # Filtered: hot shingles fall out of every doc's rarest-half
    # prefix; only docs sharing RARE shingles remain candidates.
    assert n_filtered < n_naive / 10, (n_filtered, n_naive)


def test_prefix_filter_is_lossless_for_threshold(spark):
    doc_sh = _doc_shingles(_hot_shingle_corpus(spark)).cache()
    verified_naive = sorted(
        tuple(r) for r in _pair_jaccard(naive_candidate_pairs(doc_sh), doc_sh).collect()
    )
    verified_filtered = sorted(
        tuple(r) for r in _pair_jaccard(prefix_filtered_pairs(doc_sh), doc_sh).collect()
    )
    assert verified_filtered == verified_naive
    # The planted duplicate pair must survive the filter.
    assert (0, 1, 1.0) in verified_filtered


def test_prefix_filter_handles_tiny_docs(spark):
    """Docs with < 3 tokens collapse to a single whole-doc shingle;
    prefix length floor(1/2)+1 = 1 must still index it (identical
    short docs are found)."""
    rows = [(1, "hi there"), (2, "hi there"), (3, "bye now")]
    doc_sh = _doc_shingles(spark.createDataFrame(rows, "doc_id long, text string"))
    pairs = sorted(
        (r.doc_a, r.doc_b) for r in _pair_jaccard(prefix_filtered_pairs(doc_sh), doc_sh).collect()
    )
    assert pairs == [(1, 2)]


# --- O(n²) baseline guards ---------------------------------------------------


def test_guard_quadratic_raises_over_bound(spark):
    df = spark.range(100)
    with pytest.raises(ExactBaselineScaleError, match="all-pairs over 100 rows"):
        guard_quadratic(df, 10, "op_under_test", "the_scale_path")


def test_guard_quadratic_passes_under_bound_and_opt_out(spark):
    df = spark.range(100)
    assert guard_quadratic(df, 1000, "op", "path") is df
    assert guard_quadratic(df, None, "op", "path") is df  # explicit opt-in


# --- sorted-neighborhood blocking (SNM) -------------------------------------

from mapreduce_lab_spark.operators.dedup import (  # noqa: E402
    SNM_PREFIX,
    SNM_WINDOW,
    _snm_lead_pairs,
    _snm_normalize,
    _snm_pass,
    _snm_verify,
    near_dup_snm_multipass,
    near_dup_sorted_neighborhood,
)


def _skewed_snm_corpus(spark):
    """200 docs where 30% share the 1-char prefix 't' (the natural-
    language pathology that made round 2's first-char blocking a
    single-task sort) but spread across ten distinct 4-char prefixes;
    the rest spread over other letters. No near-dups planted — this
    corpus exists to measure partition maxima, not recall."""
    rows = []
    doc_id = 0
    for p in range(10):  # 10 hot 4-char prefixes under 't': taaa..tjjj
        c = chr(ord("a") + p)
        for j in range(6):
            rows.append((doc_id, f"t{c}{c}{c} unique body {c} number {chr(ord('a') + j)} tail"))
            doc_id += 1
    for p in range(20):  # cold tail: 7 docs per letter b..u
        c = chr(ord("b") + p)
        for j in range(7):
            rows.append((doc_id, f"{c}xy{chr(ord('a') + j)} other text body {c}{j} end"))
            doc_id += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_snm_prefix_blocking_bounds_partition_skew(spark):
    """Planted-skew: under 1-char blocking the 't' window partition
    holds 30% of the corpus (the round-2 scale killer); under the
    4-char blocks actually used, every partition maximum collapses to
    the per-prefix group size."""
    base = _snm_normalize(_skewed_snm_corpus(spark)).cache()
    n = base.count()
    max_1char = (
        base.groupBy(F.substring("norm", 1, 1).alias("blk")).count()
        .agg(F.max("count")).collect()[0][0]
    )
    max_4char = (
        base.groupBy(F.substring("norm", 1, SNM_PREFIX).alias("blk")).count()
        .agg(F.max("count")).collect()[0][0]
    )
    assert max_1char >= 0.3 * n, (max_1char, n)   # the pathology is planted
    assert max_4char <= 7, max_4char              # ...and 4-char blocking kills it
    # The linear candidate bound claimed in the docstring: <= 2*(w-1)*n
    # candidates across main + boundary passes.
    n_cand = _snm_pass(base, SNM_WINDOW, SNM_PREFIX, F.col("norm")).count()
    assert n_cand <= 2 * (SNM_WINDOW - 1) * n, (n_cand, n)


def test_snm_boundary_pass_recovers_block_edge_pairs(spark):
    """A planted near-dup pair straddling a 4-char block edge (texts
    differ exactly at character 4 -> different blocks) must be
    recovered by the boundary pass."""
    shared = "shared tail text here okay"
    rows = [
        (1, f"abcd {shared}"),
        (2, f"abce {shared}"),  # lev distance 1, different 4-char block
        (3, "apple pie recipe collection volume one"),
        (4, "azure skies over the mountain pass"),
        (5, "banana bread baking instructions here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b) for r in near_dup_sorted_neighborhood(docs).collect()}
    assert (1, 2) in got, got
    # Main pass alone (4-char blocks, no boundary) cannot see the pair:
    base = _snm_normalize(docs)
    blocked = base.select(
        F.substring("norm", 1, SNM_PREFIX).alias("blk"), "norm", "doc_id"
    )
    main_only = {
        (r.doc_a, r.doc_b)
        for r in _snm_verify(_snm_lead_pairs(blocked, SNM_WINDOW), base).collect()
    }
    assert (1, 2) not in main_only, main_only


def test_snm_candidates_superset_of_1char_blocking(spark):
    """The 4-char main pass + boundary pass together recover every
    verified pair the old round-2 1-char blocking found (the recall
    claim in the docstring), on a corpus mixing hot prefixes, block-
    edge pairs, and planted duplicates."""
    rows = [(i, t) for i, t in enumerate(
        [
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumps over the lazy dogs",  # near-dup of 0
            "the quiet brown fox sleeps under the busy dog",
            "that quick brown fox jumps over the lazy dog",
            "abcd shared tail text here okay",
            "abce shared tail text here okay",  # block-edge near-dup of 4
            "apple pie recipe collection volume",
            "apples pie recipe collection volume",  # near-dup of 6
            "zebra crossing warning sign ahead",
        ]
    )]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = _snm_normalize(docs)
    old_blocked = base.select(
        F.substring("norm", 1, 1).alias("blk"), "norm", "doc_id"
    )
    old_pairs = {
        (r.doc_a, r.doc_b)
        for r in _snm_verify(_snm_lead_pairs(old_blocked, SNM_WINDOW), base).collect()
    }
    new_pairs = {
        (r.doc_a, r.doc_b) for r in near_dup_sorted_neighborhood(docs).collect()
    }
    assert old_pairs, "corpus must plant at least one 1-char-blocking pair"
    assert old_pairs <= new_pairs, (old_pairs - new_pairs)


def test_snm_multipass_reversed_key_catches_prefix_edits(spark):
    """A near-dup pair whose edit is IN the sort prefix ('alpha ...'
    vs 'gamma ...') is invisible to the forward pass (different 1-char
    boundary partitions, so even the boundary pass cannot pair them)
    but sorts adjacently under the reversed-text key."""
    shared = "shared suffix text body here"
    rows = [
        (1, f"alpha {shared}"),
        (2, f"gamma {shared}"),
        (3, "unrelated filler document number one"),
        (4, "more unrelated filler text goes here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fwd = {(r.doc_a, r.doc_b) for r in near_dup_sorted_neighborhood(docs).collect()}
    multi = {(r.doc_a, r.doc_b) for r in near_dup_snm_multipass(docs).collect()}
    assert (1, 2) not in fwd, fwd
    assert (1, 2) in multi, multi
    assert fwd <= multi  # the union can only add recall


def test_knn_bruteforce_guard(spark):
    e = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(seed=7), F.rand(seed=11)).alias("embedding"),
    )
    with pytest.raises(ExactBaselineScaleError, match="knn_bruteforce"):
        knn_bruteforce(e, n_queries=5, max_comparisons=100)
    # Under the bound it runs and returns top-k rows per query.
    out = knn_bruteforce(e, n_queries=2, k=3, max_comparisons=10_000)
    assert out.count() == 6


# --- simhash fingerprint-level banding ---------------------------------------


def test_simhash_fp_banding_matches_bruteforce_with_identical_fp_family(spark):
    """The band join runs over DISTINCT fingerprints and expands to
    doc pairs afterwards; the orientation logic (fa < fb keeps any
    orientation once, fa == fb keeps the da < db half) must reproduce
    the brute-force pair set exactly — including a planted family of
    documents sharing ONE fingerprint (identical text), the case that
    made doc-level banding quadratic."""
    from mapreduce_lab_spark.operators.dedup import (
        SIMHASH_MAX_HAMMING,
        q_near_dup_simhash,
        simhash,
    )

    rows = [(i, "shared template body repeated across the family") for i in range(6)]
    rows += [
        (10, "a completely different document about mountains and rivers"),
        (11, "a completely different document about mountains and streams"),
        (12, "unrelated text concerning maritime navigation routes"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in q_near_dup_simhash(spark, d).collect()
        }
    fp = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    want = {
        (a, b, bin(fp[a] ^ fp[b]).count("1"))
        for a in fp
        for b in fp
        if a < b and bin(fp[a] ^ fp[b]).count("1") <= SIMHASH_MAX_HAMMING
    }
    assert got == want
    # The planted family collapses to one fingerprint (15 pairs at
    # hamming 0) — the degenerate case under test.
    assert {(a, b, 0) for a in range(6) for b in range(6) if a < b} <= got


def test_minhash_collapse_matches_uncollapsed_with_dup_family(spark):
    """The identical-shingle-set collapse must reproduce the
    uncollapsed LSH algorithm exactly: within-family pairs at J=1,
    cross-family pairs at the representative's Jaccard, singletons
    untouched."""
    import tempfile

    from mapreduce_lab_spark.operators.dedup import (
        _band_keys,
        minhash_signature,
        q_near_dup_minhash_lsh,
    )
    from mapreduce_lab_spark.functions.hashing import hex8_int

    fam = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(i, fam) for i in range(5)]  # identical-set family
    rows += [
        (10, fam + " extra"),  # near-dup of the family (J >= 0.5)
        (11, "completely different text about orbital mechanics and fuel"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # Uncollapsed reference: doc-level bands + jaccard verify.
    doc_sh = _doc_shingles(docs).cache()
    sig = doc_sh.select("doc_id", *minhash_signature(F.transform("sh", hex8_int)))
    bands = sig.select(
        "doc_id", F.posexplode(F.array(*_band_keys())).alias("band", "key")
    )
    cand = (
        bands.alias("x").join(bands.alias("y"), ["band", "key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    want = {tuple(r) for r in _pair_jaccard(cand, doc_sh).collect()}

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        got = {tuple(r) for r in q_near_dup_minhash_lsh(spark, d).collect()}
    assert got == want
    # The family's 10 within-pairs are present at exactly J = 1.
    assert {(a, b, 1.0) for a in range(5) for b in range(5) if a < b} <= got


def test_band_edit_collapse_matches_uncollapsed_with_dup_family(spark):
    """Raw-text collapse for the edit-distance variant: within-family
    pairs at distance 0, cross-family pairs at the representatives'
    distance, identical to the uncollapsed algorithm."""
    import tempfile

    from mapreduce_lab_spark.operators.dedup import (
        EDIT_DIST_MAX_PERMILLE,
        _band_keys,
        minhash_signature,
        q_near_dup_band_edit_distance,
        shingles,
    )
    from mapreduce_lab_spark.functions.hashing import hex8_int

    fam = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(i, fam) for i in range(4)]
    rows += [(10, fam + " today"), (11, "entirely unrelated astronomy notes")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # Uncollapsed reference.
    from mapreduce_lab_spark.functions.text import tokenize

    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    base = docs.select(
        "doc_id", norm.alias("norm"), tokenize(F.col("text")).alias("tk")
    ).select("doc_id", "norm", shingles(F.col("tk")).alias("sh"))
    sig = base.select("doc_id", *minhash_signature(F.transform("sh", hex8_int)))
    bands = sig.select(
        "doc_id", F.posexplode(F.array(*_band_keys())).alias("band", "key")
    )
    cand = (
        bands.alias("x").join(bands.alias("y"), ["band", "key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    a = base.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("norm_a"))
    b = base.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("norm_b"))
    want = {
        tuple(r)
        for r in (
            cand.join(a, "doc_a").join(b, "doc_b")
            .withColumn("edit_distance", F.levenshtein("norm_a", "norm_b").cast("long"))
            .filter(
                1000 * F.col("edit_distance")
                <= EDIT_DIST_MAX_PERMILLE
                * F.greatest(F.length("norm_a"), F.length("norm_b"))
            )
            .select("doc_a", "doc_b", "edit_distance")
        ).collect()
    }

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        got = {tuple(r) for r in q_near_dup_band_edit_distance(spark, d).collect()}
    assert got == want
    assert {(x, y, 0) for x in range(4) for y in range(4) if x < y} <= got


def test_jaccard_collapse_matches_uncollapsed_with_dup_family(spark):
    """Identical-set collapse for the prefix-filtered Jaccard query:
    output must equal the uncollapsed formulation (and the all-pairs
    J >= 0.5 definition) on a corpus with a planted identical family,
    despite the collapse changing the global document frequencies the
    prefix order uses."""
    import tempfile

    from mapreduce_lab_spark.operators.dedup import q_near_dup_ngram_jaccard

    fam = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(i, fam) for i in range(5)]
    rows += [(10, fam + " extra"), (11, "unrelated botany field notes text")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    doc_sh = _doc_shingles(docs).cache()
    want = {
        tuple(r)
        for r in _pair_jaccard(naive_candidate_pairs(doc_sh), doc_sh).collect()
    }
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        got = {tuple(r) for r in q_near_dup_ngram_jaccard(spark, d).collect()}
    assert got == want
    assert {(a, b, 1.0) for a in range(5) for b in range(5) if a < b} <= got


def test_incremental_collapse_matches_uncollapsed_with_dup_family(spark):
    """Per-side collapse for the incremental probe: a batch family of
    identical docs probes once and expands to all cross-side pairs at
    J = 1; output equals the uncollapsed corpus-bands x batch-bands
    formulation."""
    import tempfile

    from mapreduce_lab_spark.operators.dedup import (
        INCR_MOD,
        _band_keys,
        minhash_signature,
        q_near_dup_incremental_minhash,
    )
    from mapreduce_lab_spark.functions.hashing import hex8_int

    fam = "the quick brown fox jumps over the lazy dog near the river bank"
    # ids multiple of 10 = incoming batch; others = corpus. The family
    # spans BOTH sides.
    rows = [(1, fam), (2, fam), (10, fam), (20, fam)]
    rows += [(11, fam + " extra"), (30, "unrelated maritime charts digest"),
             (3, "another unrelated corpus document body")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    doc_sh = _doc_shingles(docs).cache()
    sig = doc_sh.select("doc_id", *minhash_signature(F.transform("sh", hex8_int)))
    bands = sig.select(
        "doc_id", F.posexplode(F.array(*_band_keys())).alias("band", "key")
    )
    cand = (
        bands.where(F.col("doc_id") % INCR_MOD != 0).alias("x")
        .join(bands.where(F.col("doc_id") % INCR_MOD == 0).alias("y"), ["band", "key"])
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in _pair_jaccard(cand, doc_sh).collect()
    }
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        got = {
            (r.corpus_doc, r.new_doc, r.jaccard)
            for r in q_near_dup_incremental_minhash(spark, d).collect()
        }
    assert got == want
    # Corpus family members x batch family members, all at J = 1.
    assert {(c, n, 1.0) for c in (1, 2) for n in (10, 20)} <= got


def test_embedding_lsh_subset_of_exact_with_usable_recall(spark, sf_dir):
    """The banded random-hyperplane path must emit a SUBSET of the
    exact O(n²) baseline's pairs (the final cosine verify guarantees
    precision 1.0 — any extra pair would be a construction bug) at a
    recall compatible with the 4x4 banding analysis (~0.5 at the 0.4
    threshold; floor set loosely at 0.3 to stay corpus-robust)."""
    from mapreduce_lab_spark.operators.dedup import (
        q_near_dup_embedding_cosine,
        q_near_dup_embedding_lsh,
    )

    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in q_near_dup_embedding_cosine(spark, sf_dir).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b): r.cosine
        for r in q_near_dup_embedding_lsh(spark, sf_dir).collect()
    }
    assert set(lsh) <= set(exact), sorted(set(lsh) - set(exact))[:5]
    for pair, cos in lsh.items():
        assert cos == exact[pair], (pair, cos, exact[pair])
    if exact:
        assert len(lsh) / len(exact) >= 0.3, (len(lsh), len(exact))


def test_embedding_clusters_consistent_with_lsh_pairs(spark, sf_dir):
    """Component labels must agree with the pair set they were built
    from: both endpoints of every LSH pair share a cluster_id, every
    labeled vec appears in some pair (no singleton rows), and each
    cluster's id is the min vec_id of its members."""
    from mapreduce_lab_spark.operators.dedup import (
        q_near_dup_embedding_clusters,
        q_near_dup_embedding_lsh,
    )

    pairs = [
        (r.vec_a, r.vec_b)
        for r in q_near_dup_embedding_lsh(spark, sf_dir).collect()
    ]
    label = {
        r.vec_id: r.cluster_id
        for r in q_near_dup_embedding_clusters(spark, sf_dir).collect()
    }
    endpoints = {v for p in pairs for v in p}
    assert set(label) == endpoints
    for a, b in pairs:
        assert label[a] == label[b], (a, b, label[a], label[b])
    by_cluster = {}
    for v, c in label.items():
        by_cluster.setdefault(c, []).append(v)
    for c, members in by_cluster.items():
        assert c == min(members), (c, min(members))


def test_rp_planes_pinned_checksum():
    """RP_PLANES is derived from random.Random(7).gauss at import time;
    Spark/oracle parity only needs both to share the in-process list,
    but the BENCHMARKED recall and all band buckets silently change if
    CPython's gauss implementation ever changes (ADVICE r5). Pin the
    exact rounded weights with a checksum so any drift is loud."""
    import hashlib

    from mapreduce_lab_spark.operators.dedup import (
        RP_BAND_BITS,
        RP_BANDS,
        RP_PLANES,
    )

    assert len(RP_PLANES) == RP_BANDS * RP_BAND_BITS
    assert all(len(p) == 64 for p in RP_PLANES)
    digest = hashlib.sha256(repr(RP_PLANES).encode()).hexdigest()
    assert digest == (
        "fee94dd2ae57a488530767cbf8768cfb19ffc18a1a922b45e46e19e2ea360c63"
    ), "RP_PLANES drifted: freeze the literal table or re-pin recall numbers"


def test_two_level_pigeonhole_banding_lossless_for_hamming_le_3():
    """Pure-Python mirror of q_near_dup_simhash's band construction:
    any two 32-bit values at hamming distance <= SIMHASH_MAX_HAMMING
    must share at least one exact (band_id, byte_val, piece_val) key —
    the recall guarantee the 16-band two-level scheme rests on.
    Exhaustive over structured flip patterns: every combination of up
    to 3 bit positions applied to a spread of base fingerprints."""
    import itertools
    import random

    from mapreduce_lab_spark.operators.dedup import (
        SIMHASH_BITS,
        SIMHASH_MAX_HAMMING,
    )

    n_bytes = SIMHASH_BITS // 8

    def bands(fp: int) -> set[tuple[int, int, int]]:
        out = set()
        for k in range(n_bytes):
            byte_val = (fp >> (8 * k)) & 0xFF
            rest = 0
            for idx, m in enumerate(b for b in range(n_bytes) if b != k):
                rest |= ((fp >> (8 * m)) & 0xFF) << (8 * idx)
            for j in range(4):
                out.add((4 * k + j, byte_val, (rest >> (6 * j)) & 0x3F))
        return out

    rng = random.Random(42)
    bases = [0, 2**32 - 1, 0x55555555, 0xDEADBEEF] + [
        rng.getrandbits(32) for _ in range(8)
    ]
    positions = list(range(SIMHASH_BITS))
    for base in bases:
        for r in range(1, SIMHASH_MAX_HAMMING + 1):
            for flips in itertools.combinations(positions, r):
                other = base
                for p in flips:
                    other ^= 1 << p
                assert bands(base) & bands(other), (hex(base), flips)


# --- connected components (large-star / small-star) --------------------------


def _cc(spark, pairs):
    from mapreduce_lab_spark.operators.dedup import connected_components

    df = spark.createDataFrame(pairs, "src long, dst long")
    return {
        r["doc_id"]: r["cluster_id"] for r in connected_components(df).collect()
    }


def test_cc_long_chain(spark):
    """A 60-node path — the diameter-bound worst case that plain
    min-label propagation needs 60 rounds for; the alternating-star
    algorithm must close it inside its default max_iters."""
    got = _cc(spark, [(i, i + 1) for i in range(60)])
    assert got == {i: 0 for i in range(61)}


def test_cc_components_and_self_loops(spark):
    got = _cc(
        spark,
        [
            (5, 3), (3, 9),          # component {3, 5, 9} -> 3
            (20, 21),                # component {20, 21} -> 20
            (42, 42),                # self-loop only: singleton
        ],
    )
    assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 42: 42}


def test_cc_duplicate_and_reversed_edges(spark):
    got = _cc(spark, [(1, 2), (2, 1), (1, 2), (2, 3), (3, 2)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_cc_empty(spark):
    assert _cc(spark, []) == {}


def test_cc_matches_pure_python_union_find(spark):
    """Random graphs vs a reference union-find."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(30 + 10 * trial)
        ]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {}
        touched = {a for e in edges for a in e}
        for x in touched:
            r = find(x)
            want[x] = min(y for y in touched if find(y) == r)
        got = _cc(spark, edges)
        assert got == want, f"trial {trial}"
