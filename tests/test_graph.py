"""connected_components semantics: labels equal a union-find reference on
hand-built and generated graphs (canonical min-id labels, singletons,
self-loops, deep chains), partitioning independence, and the convergence
guard."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from boxoffice_spark.operators.graph import connected_components


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "a long, b long")
    return {r.node: r.cluster_id for r in connected_components(df, "a", "b", **kw).collect()}


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


_rnd = random.Random(7)
_RANDOM_300 = [(_rnd.randrange(300), _rnd.randrange(300)) for _ in range(250)]
_CHAIN_200 = [(i, i + 1) for i in range(199)]


def test_two_components_min_label(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11), (3, 1)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_converges(spark):
    # path graph 0-1-2-...-9: long diameter, short log n
    got = _cc(spark, [(i, i + 1) for i in range(9)])
    assert got == {i: 0 for i in range(10)}


def test_self_loop_is_singleton(spark):
    got = _cc(spark, [(5, 5), (1, 2)])
    assert got == {5: 5, 1: 1, 2: 1}


def test_max_iters_guard_raises(spark):
    # a path of 200 nodes needs more than two star rounds; the error names
    # the caller and its budget
    with pytest.raises(RuntimeError, match="^connected_components did not converge in 2 rounds$"):
        _cc(spark, _CHAIN_200, max_iters=2)


@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2), (2, 3), (10, 11), (3, 1)],
        [(i, i + 1) for i in range(9)],
        [(5, 5), (1, 2)],
        [(7, 3), (3, 7), (2, 2)],
        [(100, 1), (50, 100), (2, 50), (9, 9), (20, 30)],
        [],
        [(i, i) for i in range(5)],
        [(1, 2), (2, 1), (1, 2), (4, 3), (3, 4), (3, 4)],
        _RANDOM_300,
    ],
)
def test_star_matches_union_find_and_min_label(spark, edges):
    """The star kernel's labels equal union-find with the component
    minimum as the canonical label."""
    assert _cc(spark, edges) == _union_find(edges)


def test_star_deep_chain_logarithmic_rounds(spark):
    """A 200-node path has diameter 199, far past the default 30-round
    budget: it passes only because the star kernel's rounds grow with
    log n, not with the diameter."""
    got = _cc(spark, _CHAIN_200)
    assert got == {i: 0 for i in range(200)}


def test_partitioning_independent(spark):
    df = spark.createDataFrame(_RANDOM_300, "a long, b long")
    a = sorted(map(tuple, connected_components(df.repartition(1), "a", "b").collect()))
    b = sorted(map(tuple, connected_components(df.repartition(7), "a", "b").collect()))
    assert a == b


def test_pagerank_invariants_and_determinism(spark):
    """On a graph with no dangling nodes, rank mass is conserved
    (sum == 1 up to float noise), a symmetric cycle ranks uniformly, a
    hub out-ranks leaves, and the result is partitioning-independent."""
    from boxoffice_spark.operators.graph import pagerank

    # directed 4-cycle: perfectly symmetric -> uniform ranks, sum 1
    cyc = spark.createDataFrame([(i, (i + 1) % 4) for i in range(4)], "src long, dst long")
    r = {row.node: row.rank for row in pagerank(cyc, n_iters=5).collect()}
    assert abs(sum(r.values()) - 1.0) < 1e-9
    assert max(r.values()) - min(r.values()) < 1e-12

    # star with backlinks: hub 0 <-> leaves 1..5; hub collects 5 inflows
    edges = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    star = spark.createDataFrame(edges, "src long, dst long")
    s = {row.node: row.rank for row in pagerank(star, n_iters=5).collect()}
    assert s[0] > max(v for k, v in s.items() if k != 0)
    assert abs(sum(s.values()) - 1.0) < 1e-9

    a = sorted(map(tuple, pagerank(star.repartition(1), n_iters=3).collect()))
    b = sorted(map(tuple, pagerank(star.repartition(7), n_iters=3).collect()))
    assert a == b, "pagerank not partitioning-independent"


def test_pagerank_empty_edges(spark):
    """An empty edge list returns an empty ranking (regression: used to
    raise ZeroDivisionError on 1/n)."""
    from boxoffice_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty).collect() == []


def _bfs_reference(edges, n_seeds, rounds):
    """{(node, seed): hops} by a Python BFS from each of the ``n_seeds``
    smallest node ids, at most ``rounds`` hops deep."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for seed in sorted(adj)[:n_seeds]:
        dist, frontier = {seed: 0}, [seed]
        for hop in range(1, rounds + 1):
            reached = []
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = hop
                        reached.append(v)
            frontier = reached
        out.update({(node, seed): d for node, d in dist.items()})
    return out


@pytest.mark.parametrize(
    "edges, n_seeds, rounds",
    [
        ([(i, i + 1) for i in range(5)], 2, 10),  # a path, every hop reached
        ([(1, 2), (2, 3), (10, 11), (11, 12)], 4, 5),  # two components
        ([(i, i + 1) for i in range(6)], 1, 2),  # the round cap cuts the path short
        ([(1, 2), (2, 3), (1, 3)], 10, 3),  # more seeds than nodes
        ([], 3, 3),  # no edges
    ],
    ids=["path", "two_components", "round_cap", "seeds_past_nodes", "empty"],
)
def test_multi_source_bfs_matches_python_bfs(spark, edges, n_seeds, rounds):
    from boxoffice_spark.queries.graph import _multi_source_bfs, _symmetrized

    sym = _symmetrized(spark.createDataFrame(edges, "u long, v long"))
    got = [(r.node, r.src, r.dist) for r in _multi_source_bfs(sym, n_seeds, rounds).collect()]
    assert len(got) == len({(n, s) for n, s, _ in got})  # one row per (node, seed)
    assert {(n, s): d for n, s, d in got} == _bfs_reference(edges, n_seeds, rounds)


class TestIncrementalComponents:
    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "a long, b long")

    def test_new_edge_merges_two_standing_components(self, spark):
        from boxoffice_spark.operators.graph import incremental_components

        old = self._edges(spark, [(1, 2), (5, 6)])
        standing = connected_components(old, "a", "b")
        merged = incremental_components(standing, self._edges(spark, [(2, 5)]), "a", "b")
        got = {r["node"]: r["cluster_id"] for r in merged.collect()}
        assert got == {1: 1, 2: 1, 5: 1, 6: 1}

    def test_matches_full_recompute(self, spark):
        from boxoffice_spark.operators.graph import incremental_components

        old = self._edges(spark, [(1, 2), (2, 3), (10, 11), (20, 21)])
        new = self._edges(spark, [(3, 10), (30, 31), (0, 21)])  # merge, fresh, new-min
        standing = connected_components(old, "a", "b")
        inc = {
            r["node"]: r["cluster_id"]
            for r in incremental_components(standing, new, "a", "b").collect()
        }
        full = {
            r["node"]: r["cluster_id"]
            for r in connected_components(old.union(new), "a", "b").collect()
        }
        assert inc == full
        assert inc[21] == 0  # the new batch node 0 becomes the component min

    def test_no_merge_batch_appends_new_nodes_only(self, spark):
        from boxoffice_spark.operators.graph import incremental_components

        old = self._edges(spark, [(1, 2)])
        standing = connected_components(old, "a", "b")
        # an intra-component edge (1,2) and a disjoint fresh pair (8,9)
        merged = incremental_components(
            standing, self._edges(spark, [(1, 2), (8, 9)]), "a", "b"
        )
        got = {r["node"]: r["cluster_id"] for r in merged.collect()}
        assert got == {1: 1, 2: 1, 8: 8, 9: 8}


class TestTriangleDoulion:
    """DOULION sampled triangle estimator (operators/graph.py) — the
    rows-only 100 TB tier next to the exact oracle-checked census."""

    def _kn_edges(self, spark, n):
        # complete graph K_n: C(n,3) triangles, known in closed form
        return (
            spark.range(n)
            .selectExpr("id AS u")
            .join(spark.range(n).selectExpr("id AS v"), F.expr("u < v"))
        )

    def test_p1_is_exact(self, spark):
        from boxoffice_spark.operators.graph import triangle_count_doulion

        row = triangle_count_doulion(self._kn_edges(spark, 12), p=1.0).first()
        assert row["n_edges_sampled"] == 66
        assert row["n_triangles_sampled"] == 220
        assert row["est_triangles"] == pytest.approx(220.0)

    def test_relative_error_bound(self, spark):
        from boxoffice_spark.operators.graph import triangle_count_doulion

        # K_40: 9880 triangles; p=0.5 keeps ~1235 of them — enough mass
        # for the 1/p^3 estimate to concentrate. The hash coin makes the
        # sample (and therefore this assertion) deterministic.
        row = triangle_count_doulion(self._kn_edges(spark, 40), p=0.5).first()
        exact = 9880.0
        rel_err = abs(row["est_triangles"] - exact) / exact
        assert rel_err < 0.25, (row["est_triangles"], rel_err)

    def test_deterministic(self, spark):
        from boxoffice_spark.operators.graph import triangle_count_doulion

        e = self._kn_edges(spark, 20)
        r1 = triangle_count_doulion(e, p=0.3).first()
        r2 = triangle_count_doulion(e, p=0.3).first()
        assert r1 == r2

    def test_bad_p_raises(self, spark):
        from boxoffice_spark.operators.graph import triangle_count_doulion

        with pytest.raises(ValueError):
            triangle_count_doulion(self._kn_edges(spark, 5), p=0.0)


class TestTriangleStatsPackedKey:
    """r11: the orientation key is a packed BIGINT (least(d, 2^22) * 2^40
    + id) instead of a struct — correctness needs ids in [0, 2^40) and a
    loud failure outside it, not a silent wrap."""

    def test_census_exact_on_k5(self, spark):
        from boxoffice_spark.operators.graph import triangle_stats

        e = (
            spark.range(5)
            .selectExpr("id AS u")
            .join(spark.range(5).selectExpr("id AS v"), F.expr("u < v"))
        )
        row = triangle_stats(e, _scope="test.packed_k5").first()
        assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
            5, 10, 30, 10,
        )

    def test_id_past_2p40_raises(self, spark):
        from boxoffice_spark.operators.graph import triangle_stats

        big = 1 << 40
        e = spark.createDataFrame(
            [(1, 2), (2, big), (1, big)], "u long, v long"
        )
        with pytest.raises(Exception, match="packed orientation key"):
            triangle_stats(e, _scope="test.packed_guard").first()

    def test_triangle_free_graph_counts_zero(self, spark):
        # r11 intersect tail: sum() over zero closing edges is NULL where
        # the former wedge count(*) was 0 — the coalesce must keep a
        # triangle-free graph at exactly 0 (and clustering at 0, not NULL)
        from boxoffice_spark.operators.graph import triangle_stats

        path = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3)], "u long, v long"
        )
        row = triangle_stats(path, _scope="test.trifree").first()
        assert row.n_triangles == 0
        assert row.n_wedges == 2
        assert row.global_clustering == 0.0

    @pytest.mark.parametrize(
        "edges, want",
        [
            # no edges: 0 nodes and 0 edges; wedges and clustering are NULL
            ([], (0, 0, None, 0, None)),
            # duplicate rows count once per row in edges, degrees and wedges
            (
                [(0, 1), (0, 1), (1, 2), (0, 2), (0, 2), (0, 2), (2, 3)],
                (4, 7, 23, 2, 0.26087),
            ),
        ],
        ids=["empty", "duplicate_rows"],
    )
    def test_census_edge_inputs_pinned(self, spark, edges, want):
        from boxoffice_spark.operators.graph import triangle_stats

        e = spark.createDataFrame(edges, "u long, v long")
        assert tuple(triangle_stats(e, _scope="test.pinned").first()) == want


# ---- co-purchase edge builder (r11: basket-array explode) --------------------


class TestCopurchaseEdgeBuild:
    """The r11 edge rewrite (queries/graph._copurchase_pairs) must emit the
    exact pair multiset of the former pl-self-join form — the equivalence
    every part-graph oracle rests on."""

    def _join_form_pairs(self, spark, sf_dir):
        from boxoffice_spark.tables import table

        pl = (
            table(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
            .distinct()
        )
        a = pl.select("o", F.col("p").alias("u"))
        b = pl.select("o", F.col("p").alias("v"))
        return a.join(b, "o").filter(F.col("u") < F.col("v")).select("u", "v")

    def test_pair_multiset_matches_join_form(self, spark, sf_dir):
        from boxoffice_spark.queries.graph import _copurchase_pairs

        old = self._join_form_pairs(spark, sf_dir)
        new = _copurchase_pairs(spark, sf_dir)
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0

    def test_edge_set_matches_and_is_canonical(self, spark, sf_dir):
        from boxoffice_spark.queries.graph import _copurchase_edges

        e = _copurchase_edges(spark, sf_dir)
        rows = e.collect()
        assert len(rows) == len({(r.u, r.v) for r in rows})  # distinct
        assert all(r.u < r.v for r in rows)  # canonical orientation
        old = self._join_form_pairs(spark, sf_dir).distinct()
        assert old.exceptAll(e).count() == 0
        assert e.exceptAll(old).count() == 0

    def test_weighted_pair_counts_match_join_form(self, spark, sf_dir):
        # the kcore form: per-pair co-occurrence counts (orders per pair)
        from boxoffice_spark.queries.graph import _copurchase_pairs

        old = (
            self._join_form_pairs(spark, sf_dir)
            .groupBy("u", "v")
            .agg(F.count("*").alias("w"))
        )
        new = _copurchase_pairs(spark, sf_dir).groupBy("u", "v").agg(
            F.count("*").alias("w")
        )
        assert old.exceptAll(new).count() == 0
        assert new.exceptAll(old).count() == 0
