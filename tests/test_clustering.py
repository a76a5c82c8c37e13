"""k-means semantics, pinned without a SQL oracle (iterative fixpoint
= the documented non-SQL-expressible case): monotone inertia, the
Lloyd fixpoint property, and end-to-end recall of the trained IVF
against the exact (oracle-checked) brute-force baseline.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_lab_spark.operators import clustering
from mapreduce_lab_spark.operators.similarity import knn_bruteforce
from mapreduce_lab_spark.sources.tables import load_table


def test_round_ties_to_the_smaller_cid(spark):
    # Centroids at equal distance from the point: the smaller cid wins,
    # whichever order the codebook lists them in, in both lanes.
    for t, x in (("double", float), ("bigint", int)):
        pts = spark.createDataFrame([(0, [x(0), x(0)])], f"vec_id bigint, v array<{t}>")
        cent = spark.createDataFrame(
            [(7, [x(1), x(0)]), (3, [x(0), x(1)]), (5, [x(-1), x(0)])],
            f"cid bigint, cv array<{t}>",
        )
        (r,) = clustering.nearest_centroid(pts, cent).collect()
        assert (r.cid, r.d) == (3, 1), (t, r)


def test_round_integer_distance_is_exact(spark):
    # 2**54 + 1 has no double: a double accumulator would round it to
    # 2**54. The integral lane folds from a long zero.
    pts = spark.createDataFrame([(0, [0, 0])], "vec_id bigint, v array<bigint>")
    cent = spark.createDataFrame([(0, [2**27, 1])], "cid bigint, cv array<bigint>")
    (r,) = clustering.nearest_centroid(pts, cent).collect()
    assert r.d == 2**54 + 1


def test_round_drops_points_without_centroids(spark):
    # A keyed point whose sub has no centroid, and any point against an
    # empty codebook, give no row.
    pts = spark.createDataFrame(
        [(0, 0, [0.0]), (0, 1, [0.0])], "vec_id bigint, sub int, v array<double>"
    )
    cent = spark.createDataFrame([(0, 4, [1.0])], "sub int, cid bigint, cv array<double>")
    got = clustering.nearest_centroid(pts, cent, ("sub",)).collect()
    assert [(r.sub, r.cid) for r in got] == [(0, 4)]
    empty = spark.createDataFrame([], "cid bigint, cv array<double>")
    assert clustering.nearest_centroid(pts.drop("sub"), empty).collect() == []


def test_round_mean_follows_the_element_type(spark):
    # The lattice keeps its floor mean; the float lane averages.
    for t, x, want in (("bigint", int, [1]), ("double", float, [1.5])):
        assigned = spark.createDataFrame(
            [(0, [x(1)], 0), (1, [x(2)], 0)], f"vec_id bigint, v array<{t}>, cid bigint"
        )
        (r,) = clustering.centroid_means(assigned).collect()
        assert (r.cid, r.cv) == (0, want), (t, r)


def _inertia(assigned) -> float:
    return assigned.agg(F.sum("d")).collect()[0][0]


def test_lloyd_inertia_monotone_decreasing(spark, sf_dir):
    # Each Lloyd round must not increase total inertia — the
    # textbook convergence invariant, and the assertion that would
    # catch a mis-assembled centroid array (wrong dimension order
    # scrambles means and sends inertia up).
    pts = clustering._points(spark, sf_dir)
    cent = clustering._seeds(pts, clustering.K_CLUSTERS)
    prev = None
    for _ in range(3):
        assigned = clustering.nearest_centroid(pts, cent)
        cur = _inertia(assigned)
        if prev is not None:
            assert cur <= prev * (1 + 1e-9), (cur, prev)
        prev = cur
        cent = clustering.centroid_means(assigned).localCheckpoint()


def test_kmeans_fixpoint_assignment(spark, sf_dir):
    # kmeans() must return the assignment AGAINST ITS OWN final
    # centroids: recomputing nearest-centroid from scratch yields the
    # identical partition of the corpus.
    pts = clustering._points(spark, sf_dir)
    cent, assigned = clustering.kmeans(pts)
    again = clustering.nearest_centroid(pts, cent)
    a = {r.vec_id: r.cid for r in assigned.collect()}
    b = {r.vec_id: r.cid for r in again.collect()}
    assert a == b


def test_kmeans_census_shape(spark, sf_dir):
    rows = clustering.q_kmeans_clusters(spark, sf_dir).collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert len(rows) <= clustering.K_CLUSTERS
    assert sum(r.n_members for r in rows) == n_vecs
    assert all(r.inertia >= 0 for r in rows)


def test_trained_ivf_recall_and_balance(spark, sf_dir):
    # nprobe=1 IVF trades recall for scanning ~n/K candidates. Two
    # properties make that trade sound, both asserted against the
    # exact (oracle-checked) brute-force baseline: recall stays above
    # a floor, and cells stay balanced so per-query scan cost is
    # actually bounded by ~n/K (an unbalanced partition has great
    # recall into its giant cell and no pruning — the failure mode a
    # recall number alone would hide). On near-isotropic synthetic
    # embeddings k-means can't beat random partitioning's recall;
    # balance + floor is the honest invariant.
    exact = knn_bruteforce(
        clustering.fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    )
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    got = {
        (r.query_id, r.neighbor_id)
        for r in clustering.q_ann_ivf_trained(spark, sf_dir).collect()
    }
    assert len(got & truth) / len(truth) >= 0.3

    cells = clustering.q_kmeans_clusters(spark, sf_dir).collect()
    n = sum(r.n_members for r in cells)
    assert max(r.n_members for r in cells) <= 3 * n / clustering.K_CLUSTERS


def test_pq_adc_recall_and_code_shape(spark, sf_dir):
    # PQ's contract: (a) codes are a complete, tiny encoding — exactly
    # m codes per vector, every code < k; (b) the ADC shortlist +
    # exact re-rank recovers a healthy fraction of the true top-k.
    # With a 64-candidate shortlist over the 500-vector corpus the
    # floor is conservative for isotropic data; the re-rank makes
    # every returned cosine EXACT, so ranks it does return are
    # correctly ordered by construction.
    exact = knn_bruteforce(
        clustering.fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    )
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    got_rows = clustering.q_ann_pq_adc(spark, sf_dir).collect()
    got = {(r.query_id, r.neighbor_id) for r in got_rows}
    assert len(got & truth) / len(truth) >= 0.3

    pts = clustering._points(spark, sf_dir)
    first = pts.first()
    dim = len(first["v"])
    n_vecs = pts.count()
    subvecs = clustering._subvectors(pts, dim)
    cent = clustering.pq_train(subvecs)
    by_sub = {r.sub: r.cid for r in cent.groupBy("sub").agg(
        F.max("cid").alias("cid")
    ).collect()}
    assert set(by_sub) == set(range(clustering.PQ_M))
    assert all(c < clustering.PQ_K for c in by_sub.values())
    # The CODES themselves: every vector carries exactly m codes
    # (one per subspace, none dropped by the argmin), all < k.
    codes = clustering.nearest_centroid(subvecs, cent, ("sub",)).select(
        "vec_id", "sub", "cid"
    )
    per_vec = codes.groupBy("vec_id").agg(
        F.count("*").alias("n"),
        F.count_distinct("sub").alias("n_subs"),
        F.max("cid").alias("max_cid"),
    ).collect()
    assert len(per_vec) == n_vecs
    assert all(r.n == clustering.PQ_M and r.n_subs == clustering.PQ_M
               for r in per_vec)
    assert all(r.max_cid < clustering.PQ_K for r in per_vec)


def test_lattice_lloyd_tracks_float_lloyd(spark, sf_dir):
    """The exact-integer lattice Lloyd (fully oracled) must be the
    same algorithm as the float lane up to 2^-20 quantization: final
    cluster sizes agree, and the integer inertia rescaled by
    LATTICE_SCALE^2 sits within 1% of the float inertia."""
    from mapreduce_lab_spark.operators.clustering import (
        LATTICE_SCALE,
        q_kmeans_clusters,
        q_kmeans_lattice_census,
    )

    fl = {
        r.centroid_id: (r.n_members, float(r.inertia))
        for r in q_kmeans_clusters(spark, sf_dir).collect()
    }
    lt = {
        r.centroid_id: (r.n_members, r.inertia_q / LATTICE_SCALE**2)
        for r in q_kmeans_lattice_census(spark, sf_dir).collect()
    }
    assert set(fl) == set(lt)
    total_fl = sum(v[1] for v in fl.values())
    total_lt = sum(v[1] for v in lt.values())
    assert abs(total_fl - total_lt) <= 0.01 * total_fl, (total_fl, total_lt)
    # membership may flip only for boundary points; sizes stay close
    moved = sum(abs(fl[c][0] - lt[c][0]) for c in fl)
    assert moved <= max(4, sum(v[0] for v in fl.values()) // 20), (fl, lt)


def test_lattice_inertia_monotone_decreasing(spark, sf_dir):
    """Lloyd's descent property must survive the lattice snap: total
    integer inertia is non-increasing across rounds (the floor-mean
    is within 1 lattice step of the true minimizer per coordinate;
    with the synthetic corpus the descent holds round over round)."""
    from mapreduce_lab_spark.operators.clustering import (
        K_CLUSTERS,
        N_ITERS,
        _lattice_points,
        _seeds,
        centroid_means,
        nearest_centroid,
    )
    from pyspark.sql import functions as F

    pts = _lattice_points(spark, sf_dir).localCheckpoint()
    cent = _seeds(pts, K_CLUSTERS)
    inertias = []
    for _ in range(N_ITERS):
        assigned = nearest_centroid(pts, cent)
        inertias.append(assigned.agg(F.sum("d")).collect()[0][0])
        cent = centroid_means(assigned).localCheckpoint()
    assert all(b <= a for a, b in zip(inertias, inertias[1:])), inertias


def test_pq_lattice_tracks_float_pq_and_descends(spark, sf_dir):
    """The lattice PQ census must be the float PQ trainer up to
    quantization: same (sub, cid) key space, every subvector assigned
    exactly once per subspace, and total integer inertia non-increasing
    across rounds."""
    from pyspark.sql import functions as F

    from mapreduce_lab_spark.operators.clustering import (
        PQ_ITERS,
        PQ_K,
        PQ_M,
        _pq_lattice_frames,
        _seeds,
        centroid_means,
        nearest_centroid,
        q_pq_lattice_census,
    )

    rows = q_pq_lattice_census(spark, sf_dir).collect()
    assert {r.sub for r in rows} == set(range(PQ_M))
    assert all(0 <= r.cid < PQ_K for r in rows)
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    per_sub = {}
    for r in rows:
        per_sub[r.sub] = per_sub.get(r.sub, 0) + r.n_members
    assert all(v == n_vecs for v in per_sub.values()), per_sub

    subv = _pq_lattice_frames(spark, sf_dir).localCheckpoint()
    cent = _seeds(subv, PQ_K, ("sub",))
    inertias = []
    for _ in range(PQ_ITERS):
        assigned = nearest_centroid(subv, cent, ("sub",))
        inertias.append(assigned.agg(F.sum("d")).collect()[0][0])
        cent = centroid_means(assigned, ("sub",)).localCheckpoint()
    assert all(b <= a for a, b in zip(inertias, inertias[1:])), inertias
