"""Unit tests for operators/graph.py and operators/clustering.py with
hand-checkable answers — the oracle entries check engine-vs-engine;
these check the algorithms against closed forms."""

from __future__ import annotations

import numpy as np
import pytest

from datafusion_randgen_spark.operators import clustering, graph


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, w long")


def test_pagerank_symmetric_cycle_is_uniform(spark):
    """A symmetric cycle's stationary distribution is uniform, and the
    uniform vector is a fixed point of every damped iteration — so
    ranks must stay exactly 1/n at any iteration count."""
    e = _edges(spark, [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)])
    got = {r["node"]: r["rank"] for r in graph.pagerank(e, iterations=4).collect()}
    assert got == {"a": pytest.approx(1 / 3, abs=1e-6),
                   "b": pytest.approx(1 / 3, abs=1e-6),
                   "c": pytest.approx(1 / 3, abs=1e-6)}


def test_pagerank_low_indegree_node_ranks_lowest(spark):
    """In a->{b,c}, b->c, c->a the stationary split is 0.4/0.2/0.4
    (undamped): b only ever receives half of a's mass, so b must rank
    strictly below both a and c, which stay near-tied; total mass ~1
    (no dangling nodes in this graph)."""
    e = _edges(
        spark,
        [("a", "b", 1), ("a", "c", 1), ("b", "c", 1), ("c", "a", 1)],
    )
    got = {r["node"]: r["rank"] for r in graph.pagerank(e, iterations=5).collect()}
    assert got["b"] < got["a"] and got["b"] < got["c"]
    assert got["a"] == pytest.approx(got["c"], abs=0.02)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-4)


def test_pagerank_weighted_edges_split_contribution(spark):
    """One iteration from uniform: a splits its mass 3:1 between b and
    c, so b = (1-d)/3 + d*(1/3)*(3/4) and c = (1-d)/3 + d*(1/3)*(1/4)
    (+ the b->a, c->a edges keep the graph dangling-free)."""
    e = _edges(spark, [("a", "b", 3), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)])
    got = {r["node"]: r["rank"] for r in
           graph.pagerank(e, damping=0.85, iterations=1, round_to=None).collect()}
    base = 0.15 / 3
    assert got["b"] == pytest.approx(base + 0.85 * (1 / 3) * 0.75, abs=1e-9)
    assert got["c"] == pytest.approx(base + 0.85 * (1 / 3) * 0.25, abs=1e-9)


def _vec_df(spark, pts):
    return spark.createDataFrame(
        [(i, [float(x) for x in p]) for i, p in enumerate(pts)],
        "vec_id long, embedding array<float>",
    )


def test_kmeans_separable_clusters_recovered(spark):
    """Two tight groups far apart: k=2 must assign each group to one
    cluster, centroids land on the group means, inertia is monotone."""
    rng = np.random.default_rng(7)
    g1 = rng.normal([0, 0], 0.05, size=(20, 2))
    g2 = rng.normal([10, 10], 0.05, size=(20, 2))
    df = _vec_df(spark, np.vstack([g1, g2]))
    centroids, inertias, assignments = clustering.kmeans(
        df, k=2, iterations=4
    )
    a = {r["vec_id"]: r["cluster"] for r in assignments.collect()}
    first_group = {a[i] for i in range(20)}
    second_group = {a[i] for i in range(20, 40)}
    assert len(first_group) == 1 and len(second_group) == 1
    assert first_group != second_group
    means = sorted([g1.mean(axis=0).tolist(), g2.mean(axis=0).tolist()])
    got = sorted(centroids.tolist())
    assert np.allclose(got, means, atol=0.05)
    assert all(b <= x * (1 + 1e-9) for x, b in zip(inertias, inertias[1:]))


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """k larger than the number of distinct points: surplus clusters go
    empty and must keep their init centroid instead of NaN-ing out."""
    df = _vec_df(spark, [[0.0, 0.0]] * 5 + [[5.0, 5.0]] * 5)
    centroids, inertias, assignments = clustering.kmeans(df, k=3, iterations=3)
    assert not np.isnan(centroids).any()
    n = assignments.count()
    assert n == 10
    assert inertias[-1] <= inertias[0] * (1 + 1e-9)


# -------------------------------------------------------------------------
# bfs_distances
# -------------------------------------------------------------------------

def _long_edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_bfs_chain_distances_are_hop_counts(spark):
    e = _long_edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    got = {r.node: r.dist for r in graph.bfs_distances(e, 0).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}


def test_bfs_takes_shortest_of_two_routes(spark):
    # 0->1->2->3 and shortcut 0->3: dist(3) must be 1, not 3
    e = _long_edges(spark, [(0, 1), (1, 2), (2, 3), (0, 3)])
    got = {r.node: r.dist for r in graph.bfs_distances(e, 0).collect()}
    assert got[3] == 1


def test_bfs_ignores_unreachable_and_respects_direction(spark):
    # 5->0 edge must not make 5 reachable FROM 0; 7-8 disconnected
    e = _long_edges(spark, [(0, 1), (5, 0), (7, 8)])
    got = {r.node: r.dist for r in graph.bfs_distances(e, 0).collect()}
    assert got == {0: 0, 1: 1}


def test_bfs_cycle_terminates_before_max_hops(spark):
    # 3-cycle: frontier empties at hop 3; self-loop on 1 must not recur
    e = _long_edges(spark, [(0, 1), (1, 2), (2, 0), (1, 1)])
    got = {r.node: r.dist for r in graph.bfs_distances(e, 0, max_hops=50).collect()}
    assert got == {0: 0, 1: 1, 2: 2}


def test_bfs_max_hops_truncates(spark):
    e = _long_edges(spark, [(i, i + 1) for i in range(10)])
    got = {r.node: r.dist for r in graph.bfs_distances(e, 0, max_hops=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bfs_distances_exact_across_visited_fold_boundaries(spark):
    """r20 fold window: a chain strictly longer than two
    ``_VISITED_FOLD_EVERY`` windows crosses ≥2 lazy visited-set folds
    (localCheckpoint mode); every hop's distance — including the hops
    immediately after each fold, where the anti-join reads the folded
    checkpoint instead of the leaf union — must stay exact, and nodes
    already folded must not be rediscovered at a larger distance."""
    n = 2 * graph._VISITED_FOLD_EVERY + 3
    e = _long_edges(spark, [(i, i + 1) for i in range(n)])
    got = {
        r.node: r.dist
        for r in graph.bfs_distances(e, 0, max_hops=n + 1).collect()
    }
    assert got == {i: i for i in range(n + 1)}


def test_bfs_fold_skipped_on_final_hop_still_exact(spark):
    """ADVICE r20: the visited fold is skipped when the loop ends with
    max_hops exhausted exactly on a fold boundary (no further probe
    reads it).  Distances on a chain cut at precisely the fold-window
    hop must be exact and complete up to max_hops."""
    n = graph._VISITED_FOLD_EVERY
    e = _long_edges(spark, [(i, i + 1) for i in range(2 * n)])
    got = {
        r.node: r.dist
        for r in graph.bfs_distances(e, 0, max_hops=n).collect()
    }
    assert got == {i: i for i in range(n + 1)}


def test_argmin_d2_chunked_matches_full():
    """The centroid-chunked assign kernel must agree with the
    full-matrix path (same argmin everywhere, distances equal to
    rounding) and keep the lowest index on exact ties across chunk
    boundaries."""
    import numpy as np

    from datafusion_randgen_spark.operators import clustering

    rng = np.random.default_rng(3)
    M = rng.normal(size=(500, 16))
    C = rng.normal(size=(5000, 16))
    a_full, d_full = clustering.argmin_d2(M, C, chunk=10_000)
    a_ch, d_ch = clustering.argmin_d2(M, C, chunk=64)
    assert (a_full == a_ch).all()
    assert np.allclose(d_full, d_ch, rtol=1e-10, atol=1e-9)
    # duplicated centroid, chunk=1: strict < keeps the first copy
    C2 = np.vstack([C[7], C[7]])
    a2, _ = clustering.argmin_d2(M, C2, chunk=1)
    assert (a2 == 0).all()
    # int64 inputs stay int64 and exact on both paths
    Mi = rng.integers(-300, 300, size=(200, 16))
    Ci = rng.integers(-300, 300, size=(300, 16))
    want = ((Mi[:, None, :] - Ci[None]) ** 2).sum(axis=2)
    for chunk in (10_000, 64):
        a_i, d_i = clustering.argmin_d2(Mi, Ci, chunk=chunk)
        assert d_i.dtype == np.int64
        assert (a_i == want.argmin(axis=1)).all()
        assert (d_i == want.min(axis=1)).all()


def test_lloyd_jobs_per_iteration_and_pq_m1_is_kmeans(spark):
    """k-means, float PQ and exact PQ train through one Lloyd's loop,
    so each extra iteration costs the same two Spark jobs (one
    partial-stats map stage, one reduce + collect), whatever the
    number of subspaces.  And PQ with one subspace IS k-means: same
    centroids, same codes (integer-valued inputs keep every centroid
    sum exact, so partial arrival order cannot move a bit)."""
    import uuid

    from datafusion_randgen_spark.operators import similarity

    pts = [
        [(i * 7 + j * 3) % 11 + 10 * (i % 3) for j in range(8)] for i in range(60)
    ]
    df = _vec_df(spark, pts)
    sc = spark.sparkContext

    def jobs(train) -> int:
        group = f"lloyd-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count Lloyd's jobs")
        try:
            train()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    trainers = {
        "kmeans": lambda it: clustering.kmeans(df, k=3, iterations=it),
        "pq_train": lambda it: similarity.pq_train(df, m=4, k=3, iterations=it),
        "pq_exact_quantized": lambda it: similarity.pq_exact_quantized(
            df, m=4, k=3, iterations=it
        ),
    }
    per_iter = {
        name: jobs(lambda: train(3)) - jobs(lambda: train(2))
        for name, train in trainers.items()
    }
    assert per_iter == {name: 2 for name in trainers}, per_iter

    centroids, _, km_asg = clustering.kmeans(df, k=3, iterations=3)
    C, _, pq_asg = similarity.pq_train(df, m=1, k=3, iterations=3)
    assert C.shape == (1, 3, 8)
    assert np.array_equal(C[0], centroids)
    km = {r.vec_id: r.cluster for r in km_asg.collect()}
    pq = {r.vec_id: r.codes[0] for r in pq_asg.collect()}
    assert pq == km
    assert len(set(km.values())) == 3
