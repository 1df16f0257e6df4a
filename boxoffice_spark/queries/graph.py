"""Graph-analytics queries (operators/graph.py): importance ranking over
fixture-derived graphs. The connected-components queries (t_dedup_clusters
and its incremental twin t_incremental_dedup_clusters) live with the dedup
pipeline in queries/text_pipeline.py; this module holds the ranking side."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from boxoffice_spark.functions.numeric import (
    fround,
    fround_sql,
    funits_sql,
    ratio6,
    ratio6_sql,
    ratio6w,
    ratio6w_sql,
    units_div_sql,
)
from boxoffice_spark.operators.graph import iterate
from boxoffice_spark.registry import register
from boxoffice_spark.tables import table

# Unrolled 3-iteration PageRank as chained CTEs — the exact arithmetic of
# operators/graph.pagerank (decimal contribution sums, double teleport
# terms with explicit DOUBLE casts so DuckDB's decimal literals don't
# diverge from IEEE semantics).
_D = "CAST(0.85 AS DOUBLE)"
_BASE = f"(CAST(1.0 AS DOUBLE) - {_D}) / (SELECT n FROM nn)"


def _iter_cte(prev: str, cur: str) -> str:
    return f"""
    i{cur} AS (
        SELECT e.dst AS node,
               {_BASE} + {_D}
                   * (CAST(sum({funits_sql('r.rank / deg.deg', 18)})
                           AS DOUBLE) / 1e18) AS rank
        FROM e
        JOIN deg ON deg.src = e.src
        JOIN r{prev} r ON r.node = e.src
        GROUP BY e.dst
    ),
    r{cur} AS (
        SELECT nodes.node, coalesce(i{cur}.rank, {_BASE}) AS rank
        FROM nodes LEFT JOIN i{cur} ON i{cur}.node = nodes.node
    )"""


_PAGERANK_ORACLE = f"""
    WITH e AS (
        SELECT DISTINCT l_suppkey AS src, 1000000 + l_partkey AS dst FROM lineitem
        UNION
        SELECT DISTINCT 1000000 + l_partkey AS src, l_suppkey AS dst FROM lineitem
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes),
    {_iter_cte('0', '1')},
    {_iter_cte('1', '2')},
    {_iter_cte('2', '3')}
    SELECT node, {fround_sql('rank', 12)} AS rank,
           CAST(ROW_NUMBER() OVER (
               ORDER BY {fround_sql('rank', 12)} DESC, node) AS INT) AS rnk
    FROM r3
    ORDER BY rnk
    LIMIT 20
"""


@register(
    "g_pagerank_authority",
    oracle=_PAGERANK_ORACLE,
    bench=True,
    tags=("graph", "pagerank", "iterative"),
)
def g_pagerank_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase authority: PageRank over the supplier<->part bipartite
    graph from lineitem (both directions, so mass circulates), top-20
    nodes — the domain/source importance-weighting shape used to
    prioritize crawl sources. Iterative driver loop (operators/graph.
    pagerank): one edge join + one exactly summed aggregate per round
    (funits integer units summed as DECIMAL(38,0)), lineage truncated per
    round; the unrolled chained-CTE oracle checks every rank
    cell-for-cell, which only works because contribution sums are
    order-independent on both engines."""
    from boxoffice_spark.operators.graph import pagerank

    li = table(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.col("l_suppkey").alias("src"), (F.lit(1000000) + F.col("l_partkey")).alias("dst")
    )
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ranks = pagerank(fwd.unionByName(rev), n_iters=3)
    # limit-first top-k (TakeOrderedAndProject, same pattern as
    # t_vocab_topk): per-partition top-20 merged on the driver, instead of
    # pulling the FULL node set through one partition for a global
    # row_number window. The rank column is then assigned over just the 20
    # survivors — a 20-row window is free at any corpus scale.
    # fround pins the 12dp display grid (round is build surface; the rank
    # chain itself sums integer units exactly).
    top = (
        ranks.withColumn("rank", fround(F.col("rank"), 12))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
    )
    w = W.orderBy(F.desc("rank"), F.asc("node"))
    return top.withColumn("rnk", F.row_number().over(w)).orderBy("rnk")


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-local co-purchase part pairs (u < v), one row per (order,
    pair) — the shared edge generator for every part-graph query below.

    Why not a self-join: the join form — ``pl = distinct(o, p)`` then
    ``pl a JOIN pl b ON a.o = b.o AND a.p < b.p`` — paid a
    distinct-(o,p) exchange plus the join-on-o exchange before the pair
    rows even existed (4 Exchange + 1 Join up to the edge distinct). Here the per-order DISTINCT part basket is ONE
    ``collect_set`` aggregate (map-side partial sets, so the shuffle
    carries each partition's deduped basket fragments once) and the
    ordered pairs explode MAP-SIDE from the sorted array — 2 Exchange,
    0 Join for the full distinct edge build. ``u < v`` holds by
    construction: collect_set members are distinct and sort_array is
    strictly increasing, so no filter is needed and no pair is emitted
    twice per order.

    Scale contract: the array is bounded by basket size (parts per
    order — order-local, never global), the same bound the join form
    relied on for its pair fan-out. Measured on the lineitem inflater
    (cloned baskets, pair volume xN): 16x sf0.1 edge build 13.19 s
    (join form) -> 4.62 s (this form), min-of-3 interleaved at
    steal_delta 0; byte-identical pair multiset and edge set at sf0.1
    (exceptAll both directions, plain and weighted).
    """
    baskets = (
        table(spark, sf_dir, "lineitem")
        # NULL orderkeys would form one merged basket here, whereas the
        # join form this replaced (and the DuckDB oracles, which keep it)
        # emit nothing for NULL keys — filter them so the builder matches
        # join semantics on ANY input, not just NOT-NULL TPC-H
        .filter(F.col("l_orderkey").isNotNull())
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("_ps"))
    )
    return baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(_ps, (x, i) -> "
                "transform(slice(_ps, i + 2, size(_ps) - i - 1), "
                "y -> struct(x as u, y as v))))"
            )
        ).alias("_pr")
    ).select("_pr.u", "_pr.v")


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct canonical (u < v) co-purchase edges of the part graph."""
    return _copurchase_pairs(spark, sf_dir).distinct()


def _symmetrized(e: DataFrame) -> DataFrame:
    """The undirected edge list of ``(u, v)`` edges as ``(src, dst)``, each
    edge in both directions. localCheckpointed: every round of the
    iterative queries below re-reads it, and the checkpoint keeps the edge
    build out of each round's lineage."""
    return (
        e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(e.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint()
    )


def _multi_source_bfs(sym: DataFrame, n_seeds: int, rounds: int) -> DataFrame:
    """Hop distances ``(node, src, dist)`` from each of the ``n_seeds``
    smallest node ids to every node within ``rounds`` hops of it over the
    symmetrized edge list ``sym``. Per round (operators/graph.iterate):
    one frontier-edge join plus one (node, source) min-aggregate; state is
    bounded by |seeds| x |reached nodes|."""
    srcs = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(n_seeds)
    )

    def relax(dist: DataFrame) -> DataFrame:
        return (
            sym.join(dist, sym.src == dist.node)
            .select(
                F.col("dst").alias("node"),
                dist.src.alias("src"),
                (F.col("dist") + 1).alias("dist"),
            )
            .unionByName(dist.select("node", "src", "dist"))
            .groupBy("node", "src")
            .agg(F.min("dist").alias("dist"))
        )

    dist = srcs.select("node", F.col("node").alias("src"), F.lit(0).alias("dist"))
    return iterate(dist, relax, rounds)


_TRIANGLE_ORACLE = f"""
    WITH pl AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT DISTINCT a.p AS u, b.p AS v
          FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
    deg AS (SELECT n, count(*) AS d
            FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
            GROUP BY 1),
    tri AS (SELECT count(*) AS t
            FROM e e1
            JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
            JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
    wed AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS w FROM deg)
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           (SELECT w FROM wed) AS n_wedges,
           (SELECT t FROM tri) AS n_triangles,
           {ratio6w_sql('3 * (SELECT t FROM tri)', '(SELECT w FROM wed)')}
               AS global_clustering
"""


@register(
    "g_triangle_census",
    oracle=_TRIANGLE_ORACLE,
    bench=True,
    tags=("graph", "triangles"),
)
def g_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts sharing an
    order are adjacent): nodes, edges, wedges, exact triangle count, and
    global clustering coefficient — the connectivity datacard a crawl /
    link-graph pipeline reads before trusting community structure.
    Edge generation is order-local (per-order part pairs, bounded by
    order size, never a global cross join); counting uses degree-ordered
    orientation (operators/graph.triangle_stats) so hub parts cannot
    create a last-reducer wedge explosion. The oracle counts the same
    triangles with the textbook id-ordered 3-way self-join — equivalent
    because orientation changes where wedges are generated, not which
    triangles exist."""
    from boxoffice_spark.operators.graph import triangle_stats

    return triangle_stats(_copurchase_edges(spark, sf_dir))


@register(
    "g_triangle_census_approx",
    oracle=None,
    bench=True,
    tags=("graph", "triangles", "approx"),
)
def g_triangle_census_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION-sampled triangle estimate over the same part co-purchase
    graph as g_triangle_census — the 100 TB tier: keep each edge with
    probability p via a deterministic hash coin, run the exact
    degree-ordered census on the ~p·|E| surviving edges (wedge volume,
    the quadratic term, drops ~p²), scale the count by 1/p³. Rows-only
    by construction (hash coin is engine-specific); the relative-error
    contract vs the exact tier is asserted in tests/test_graph.py,
    and the exact tier keeps the DuckDB oracle."""
    from boxoffice_spark.operators.graph import triangle_count_doulion

    return triangle_count_doulion(_copurchase_edges(spark, sf_dir), p=0.25)


_LINKPRED_ORACLE = f"""
    WITH pl AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT DISTINCT a.p AS u, b.p AS v
          FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
    adj AS (SELECT u AS c, v AS x FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT c, count(*) AS d FROM adj GROUP BY 1),
    ctr AS (SELECT c, d FROM deg WHERE d <= 64),
    ax AS (SELECT a.c, a.x, {units_div_sql('1', 'ctr.d', 15)} AS inv_u
           FROM adj a JOIN ctr ON ctr.c = a.c),
    wp AS (SELECT a1.x AS pa, a2.x AS pb, a1.inv_u
           FROM ax a1 JOIN ax a2 ON a1.c = a2.c AND a1.x < a2.x),
    sc AS (SELECT pa, pb, count(*) AS common_neighbors,
                  {fround_sql(
                      'CAST(CAST(sum(inv_u) AS BIGINT) AS DOUBLE) / 1e15',
                      12)} AS ra_score
           FROM wp GROUP BY 1, 2),
    ne AS (SELECT * FROM sc WHERE NOT EXISTS (
               SELECT 1 FROM e WHERE e.u = sc.pa AND e.v = sc.pb))
    SELECT pa AS node_a, pb AS node_b, common_neighbors, ra_score
    FROM ne
    ORDER BY common_neighbors DESC, ra_score DESC, pa, pb
    LIMIT 30
"""


@register(
    "g_link_prediction",
    oracle=_LINKPRED_ORACLE,
    bench=True,
    tags=("graph", "link-prediction"),
)
def g_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the part co-purchase graph: the top-30
    non-adjacent part pairs by common-neighbor count with the
    Resource-Allocation index (Zhou/Lü/Zhang 2009) as tiebreak — the
    "these two products are never bought together but share the most
    co-purchase context" recommender/completion view, and on a crawl
    graph the missing-link suggester. operators/graph.
    link_prediction_scores: wedge generation is bounded by the
    max-center-degree cap (= 64, mirrored in the oracle — hub-mediated
    neighbors are popularity noise by the RA argument, so the checked
    path IS the scale path), scores sum as exact 1e-15 integer units
    with an fround-pinned 12dp display grid, and
    top-30 plans as TakeOrderedAndProject over a total-order sort key."""
    from boxoffice_spark.operators.graph import link_prediction_scores

    return link_prediction_scores(
        _copurchase_edges(spark, sf_dir), "u", "v", max_center_degree=64, k=30
    )


@register(
    "g_degree_distribution",
    oracle=f"""
    WITH pl AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT DISTINCT a.p AS u, b.p AS v
          FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
    deg AS (SELECT n, count(*) AS d
            FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
            GROUP BY 1),
    hist AS (SELECT d AS degree, count(*) AS n_nodes FROM deg GROUP BY 1),
    tot AS (SELECT count(*) AS n, CAST(sum(d) AS BIGINT) AS dsum FROM deg)
    SELECT degree, n_nodes,
        {ratio6_sql('n_nodes', 'tot.n')} AS frac_nodes,
        {ratio6w_sql('degree * n_nodes', 'tot.dsum')} AS frac_degree_mass
    FROM hist, tot
    ORDER BY degree
    """,
    tags=("graph", "degree"),
)
def g_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the part co-purchase graph with node and
    degree-mass shares — the connectivity datacard row the census's
    single global_clustering number can't show: how heavy the hub tail
    is, which is what decides the orientation/cap strategies the census
    and link-prediction operators rely on. One edge-build (order-local
    pairs), one degree aggregate, one |distinct degrees| histogram;
    totals broadcast back as a one-row aggregate. ``deg`` feeds BOTH the
    histogram and the totals row, so it is scope-persisted (exchange
    reuse needs byte-identical canonical subplans and AQE routinely
    breaks it, so without the persist each consumer re-ran the edge
    build); O(nodes) rows, bounded."""
    from boxoffice_spark.functions.caching import scoped_persist

    edges = _copurchase_edges(spark, sf_dir)
    deg = scoped_persist(
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d")),
        "degree_distribution.deg",
    )
    hist = deg.groupBy(F.col("d").alias("degree")).agg(
        F.count("*").alias("n_nodes")
    )
    tot = deg.agg(
        F.count("*").alias("n"), F.sum("d").cast("long").alias("dsum")
    )
    # both shares are exact integer ratios (ratio6 / ratio6w — degree *
    # n_nodes is corpus-squared, so the mass share takes the 128-bit path).
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "degree",
            "n_nodes",
            ratio6("n_nodes", "n").alias("frac_nodes"),
            ratio6w("degree * n_nodes", "dsum").alias("frac_degree_mass"),
        )
        .orderBy("degree")
    )


def _lpa_round(prev: str, cur: str) -> str:
    """One synchronous LPA round as chained CTEs: every node adopts the
    most frequent label among its neighbors, ties to the smallest label
    (the deterministic tie rule that makes sync LPA reproducible)."""
    return f"""
    c{cur} AS (
        SELECT s.dst AS node, l.label, count(*) AS c
        FROM sym s JOIN l{prev} l ON l.node = s.src
        GROUP BY 1, 2
    ),
    l{cur} AS (
        SELECT node, label FROM (
            SELECT node, label,
                ROW_NUMBER() OVER (
                    PARTITION BY node ORDER BY c DESC, label
                ) AS rn
            FROM c{cur}
        ) WHERE rn = 1
    )"""


_LPA_ORACLE = f"""
    WITH pl AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT DISTINCT a.p AS u, b.p AS v
          FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
    sym AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
    {_lpa_round('0', '1')},
    {_lpa_round('1', '2')},
    {_lpa_round('2', '3')},
    sizes AS (SELECT label, count(*) AS community_size FROM l3 GROUP BY 1)
    SELECT l3.node, l3.label, sizes.community_size
    FROM l3 JOIN sizes ON sizes.label = l3.label
    ORDER BY l3.node
"""


@register(
    "g_label_propagation",
    oracle=_LPA_ORACLE,
    tags=("graph", "community", "iterative"),
)
def g_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007) over the part co-purchase graph, 3 fixed rounds: each node
    adopts the most frequent label among its neighbors, ties broken to
    the smallest label — the tie rule that turns LPA's notorious
    nondeterminism into a reproducible assignment, which is what lets
    the unrolled chained-CTE oracle check every (node, label) cell. The
    clustering-adjacent view the census and link-prediction operators
    don't give: WHICH parts cluster together, plus community sizes.

    Scale: each round is one edge join + one (node, label) partial-agg
    shuffle + a per-node window over the node's distinct neighbor labels
    (bounded by degree, never global). operators/graph.iterate
    checkpoints each round, so the sizes self-join below and the next
    round both read the round's result once instead of re-deriving the
    whole chain. Fixed round count — synchronized halting, no convergence
    check to race."""
    e = _copurchase_edges(spark, sf_dir)
    sym = _symmetrized(e)
    w = W.partitionBy("node").orderBy(F.desc("c"), "label")

    def adopt(labels: DataFrame) -> DataFrame:
        return (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )

    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = iterate(nodes.select("node", F.col("node").alias("label")), adopt, 3)
    sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
    return (
        labels.join(sizes, "label")
        .select("node", "label", "community_size")
        .orderBy("node")
    )


def _bfs_round(prev: str, cur: str) -> str:
    """One BFS relaxation round: a node's distance from each source is
    the min of its previous distance and (neighbor distance + 1)."""
    return f"""
    d{cur} AS MATERIALIZED (
        SELECT node, src, min(dist) AS dist FROM (
            SELECT s.dst AS node, l.src, l.dist + 1 AS dist
            FROM sym s JOIN d{prev} l ON l.node = s.src
            UNION ALL
            SELECT node, src, dist FROM d{prev}
        ) GROUP BY 1, 2
    )"""


_BFS_ORACLE = f"""
    WITH pl AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT DISTINCT a.p AS u, b.p AS v
          FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
    sym AS MATERIALIZED (
        SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
    nodes AS (SELECT DISTINCT src AS node FROM sym),
    srcs AS (SELECT node AS src FROM nodes ORDER BY node LIMIT 3),
    d0 AS (SELECT src AS node, src, 0 AS dist FROM srcs),
    {_bfs_round('0', '1')},
    {_bfs_round('1', '2')},
    {_bfs_round('2', '3')}
    SELECT src AS source, node, CAST(dist AS INT) AS dist
    FROM d3
    ORDER BY source, node
"""


@register(
    "g_bfs_distances",
    oracle=_BFS_ORACLE,
    tags=("graph", "bfs", "iterative"),
)
def g_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the part co-purchase graph: exact hop
    distance from each of 3 deterministic seed nodes (smallest part
    keys) to every node within 3 hops — the k-hop reachability /
    blast-radius primitive (how far does a recall, a poisoned-document
    cluster, or a promo effect propagate). The distance-semantics
    complement to the census (counts), LPA (membership), and PageRank
    (importance).

    :func:`_multi_source_bfs` relaxes one hop per operators/graph.iterate
    round; the frontier table is bounded by |sources| x |reached nodes|.
    The unrolled chained-CTE oracle checks every (source, node, dist)
    cell — min-relaxation is order-independent, so no decimal machinery
    is needed. At 100 TB: per-round cost is one shuffle of
    the frontier joined against the edge list; cap sources and rounds
    (both are query parameters) to bound state."""
    e = _copurchase_edges(spark, sf_dir)
    dist = _multi_source_bfs(_symmetrized(e), n_seeds=3, rounds=3)
    return dist.select(
        F.col("src").alias("source"), "node", F.col("dist").cast("int").alias("dist")
    ).orderBy("source", "node")


def _kcore_round(prev: str, cur: str, k: int) -> str:
    return f"""
    d{cur} AS (
        SELECT src, count(*) AS c FROM sym
        JOIN a{prev} x ON x.node = sym.src
        JOIN a{prev} y ON y.node = sym.dst
        GROUP BY 1
    ),
    a{cur} AS MATERIALIZED (SELECT src AS node FROM d{cur} WHERE c >= {k})"""


_KCORE_K = 2
_KCORE_ROUNDS = 6
_KCORE_ORACLE = f"""
    WITH pl AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT a.p AS u, b.p AS v
          FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p
          GROUP BY 1, 2 HAVING count(*) >= 2),
    -- MATERIALIZED: referenced once per peeling round + the final readout;
    -- DuckDB would otherwise inline (= re-run) the pair self-join per
    -- reference — observed as a tens-of-GB spill at sf0.1
    sym AS MATERIALIZED (
        SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
    a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
    {','.join(_kcore_round(str(i), str(i + 1), _KCORE_K) for i in range(_KCORE_ROUNDS))}
    SELECT src AS node, count(*) AS core_deg FROM sym
    JOIN a{_KCORE_ROUNDS} x ON x.node = sym.src
    JOIN a{_KCORE_ROUNDS} y ON y.node = sym.dst
    GROUP BY 1 ORDER BY 1
"""


@register(
    "g_kcore_decomposition",
    oracle=_KCORE_ORACLE,
    tags=("graph", "kcore", "iterative"),
)
def g_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core extraction by iterative peeling over the REPEAT-co-purchase
    graph (parts bought together in >= 2 orders — the weighted-edge
    threshold that separates signal from the one-basket coincidence):
    repeatedly delete nodes with fewer than k=2 surviving neighbors, so
    the remainder is the maximal subgraph of minimum degree 2 — the
    cohesive backbone that survives after pendant parts and chains fall
    away (the recommendation-graph densification step; degree alone
    overstates cohesion because a hub's neighbors may all be peeled).
    Output: surviving nodes with their within-core degree.

    Peeling is a fixed {_KCORE_ROUNDS}-round unrolled loop (converged =
    exact k-core; on this corpus peeling stabilizes by round 4, and both
    engines run the identical round count so the check is cell-exact
    either way). Per round: one semi-join of the edge list against the
    surviving set on EACH endpoint + one degree aggregate —
    edge-linear, the same shuffle budget as one LPA round;
    operators/graph.iterate checkpoints each round. The final readout is
    the same degree aggregate over the surviving set. At 100 TB the alive
    set only shrinks, so round cost is monotonically decreasing; k and the round budget are the knobs."""
    e = (
        _copurchase_pairs(spark, sf_dir)
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
    )
    sym = _symmetrized(e)

    def core_deg(alive: DataFrame) -> DataFrame:
        # (node, core_deg): each surviving node's surviving neighbours
        return (
            sym.join(alive.withColumnRenamed("node", "src"), "src", "semi")
            .join(alive.withColumnRenamed("node", "dst"), "dst", "semi")
            .groupBy(F.col("src").alias("node"))
            .agg(F.count("*").alias("core_deg"))
        )

    alive = iterate(
        sym.select(F.col("src").alias("node")).distinct(),
        lambda a: core_deg(a).filter(F.col("core_deg") >= _KCORE_K).select("node"),
        _KCORE_ROUNDS,
    )
    return core_deg(alive).orderBy("node")


@register(
    "g_degree_assortativity",
    oracle=f"""
    WITH pl AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT DISTINCT a.p AS u, b.p AS v
          FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
    deg AS (SELECT n, count(*) AS d
            FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
            GROUP BY 1),
    sym AS (
        SELECT du.d AS dx, dv.d AS dy
        FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
        UNION ALL
        SELECT dv.d, du.d
        FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
    ),
    s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
            CAST(sum(dx) AS DOUBLE) AS sx,
            CAST(sum(dx * dx) AS DOUBLE) AS sxx,
            CAST(sum(dx * dy) AS DOUBLE) AS sxy
        FROM sym
    ),
    tot AS (
        SELECT (SELECT count(*) FROM deg) AS n_nodes,
            (SELECT count(*) FROM e) AS n_edges
    )
    SELECT n_nodes, n_edges,
        {fround_sql('CAST(2 * n_edges AS DOUBLE) / n_nodes', 4)}
            AS mean_degree,
        CASE WHEN n * sxx - sx * sx > 0
            THEN {fround_sql('(n * sxy - sx * sx)'
                             ' / (n * sxx - sx * sx)', 6)} END
            AS assortativity
    FROM s CROSS JOIN tot
    """,
    tags=("graph", "degree", "stats"),
)
def g_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the part co-purchase graph: the
    Pearson correlation of endpoint degrees over the symmetrized edge
    list — positive means hubs attach to hubs (social-network shape),
    negative means hub-and-spoke (typical for catalogs), and the sign
    decides whether the census/link-prediction degree caps bite on a
    thin tail or on the graph's core. Under symmetrization the x and y
    marginals coincide, so r = (n*Sxy - Sx^2) / (n*Sxx - Sx^2) with
    every moment an exact INTEGER sum (degrees are ints — no decimal
    path needed, no rounding before the final scalar); a degree-regular
    graph (zero variance) yields NULL on both engines, not a 0/0.

    At 100 TB: edge build and degree aggregate are the same
    order-local shapes as g_degree_distribution; the moment aggregate
    is one pass over 2|E| integer pairs, output is one row. The edge
    set and degree table are scope-persisted — edges feed the degree
    build, two endpoint joins, and the edge count, and deg feeds both
    join sides plus the node count; without the persist each consumer
    re-runs the lineitem scan + self-join (measured: 48 shuffles ->
    12)."""
    from boxoffice_spark.functions.caching import scoped_persist

    edges = scoped_persist(
        _copurchase_edges(spark, sf_dir), "degree_assortativity.edges"
    )
    deg = scoped_persist(
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d")),
        "degree_assortativity.deg",
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    joined = edges.join(du, "u").join(dv, "v")
    sym = joined.select(
        F.col("du").alias("dx"), F.col("dv").alias("dy")
    ).unionAll(joined.select(F.col("dv").alias("dx"), F.col("du").alias("dy")))
    s = sym.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("dx").cast("double").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast("double").alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).cast("double").alias("sxy"),
    )
    tot = deg.agg(F.count("*").alias("n_nodes")).crossJoin(
        edges.agg(F.count("*").alias("n_edges"))
    )
    n, sx = F.col("n"), F.col("sx")
    var_n = n * F.col("sxx") - sx * sx
    # both cells are IEEE chains over exact
    # integer moments, pinned to their grids via fround.
    return s.crossJoin(F.broadcast(tot)).select(
        "n_nodes",
        "n_edges",
        fround(
            (2 * F.col("n_edges")).cast("double") / F.col("n_nodes"), 4
        ).alias("mean_degree"),
        F.when(
            var_n > 0, fround((n * F.col("sxy") - sx * sx) / var_n, 6)
        ).alias("assortativity"),
    )


_HARMONIC_ORACLE = f"""
    WITH pl AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (SELECT DISTINCT a.p AS u, b.p AS v
          FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p),
    sym AS MATERIALIZED (
        SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
    nodes AS (SELECT DISTINCT src AS node FROM sym),
    nn AS (SELECT count(*) AS n_nodes FROM nodes),
    srcs AS (SELECT node AS src FROM nodes ORDER BY node LIMIT 16),
    d0 AS (SELECT src AS node, src, 0 AS dist FROM srcs),
    {_bfs_round('0', '1')},
    {_bfs_round('1', '2')},
    {_bfs_round('2', '3')},
    {_bfs_round('3', '4')},
    per_node AS (
        SELECT node, count(*) AS n_seeds_reached,
            CAST(sum({units_div_sql('1', 'dist', 8)}) AS BIGINT) AS h_u
        FROM d4 WHERE dist > 0 GROUP BY 1
    )
    SELECT node, n_seeds_reached,
        CAST(h_u AS DOUBLE) / 1e8 AS h_raw,
        CAST({units_div_sql('h_u * n_nodes', '1600000000', 4)}
             AS DOUBLE) / 1e4 AS h_scaled
    FROM per_node, nn
    ORDER BY node
"""


@register(
    "g_harmonic_centrality",
    oracle=_HARMONIC_ORACLE,
    tags=("graph", "centrality", "iterative"),
)
def g_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled harmonic centrality over the part co-purchase graph
    — the centrality behind Common Crawl's domain ranking (harmonic
    centrality is preferred over closeness on disconnected graphs
    because unreachable pairs contribute 0, not infinity): for each node
    v, sum 1/d(s, v) over a deterministic 16-seed pivot set within 4
    hops, scaled by n_nodes x 0.0625 (= /16 seeds; the Eppstein-Wang
    estimator — exact
    harmonic centrality needs all-pairs distances, O(V*E), which no one
    runs at corpus scale). The importance-semantics complement to
    PageRank: harmonic rewards being CLOSE to everything, PageRank
    rewards being LINKED from important places.

    Same bounded multi-source BFS as g_bfs_distances
    (:func:`_multi_source_bfs`), then one 1/d aggregate: the inverse
    distances are exact 1e-8 integer units (units_div's BIGINT HALF_UP)
    summed per node, so the <=16-term sum is an exact BIGINT, and the
    n/16 scaling is one more exact integer HALF_UP — a round(double) here split engines on the exact .66665 ties that
    1/3-sums x round seed counts produce. Cell-exact against the
    unrolled chained-CTE oracle. Seeds and hop cap are the scale dials
    — more pivots tighten the estimate, the BFS cost stays
    |seeds|-linear."""
    e = _copurchase_edges(spark, sf_dir)
    sym = _symmetrized(e)
    nn = sym.select(F.col("src").alias("node")).distinct().agg(
        F.count("*").alias("n_nodes")
    )
    dist = _multi_source_bfs(sym, n_seeds=16, rounds=4)
    # 1/d quantizes to EXACT 1e-8 integer units (units_div — a
    # round(double, 8) + decimal cast pair rounds differently across
    # engine builds), the <=16-term sum is an exact BIGINT, and the n/16
    # scaling is one more exact integer HALF_UP
    # (units_div(h_u * n, 16e8, 4)); both display cells are single IEEE
    # divisions of exact integers.
    from boxoffice_spark.functions.numeric import units_div

    per_node = (
        dist.filter(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.count("*").alias("n_seeds_reached"),
            F.sum(units_div("1", "dist", 8)).alias("h_u"),
        )
    )
    return (
        per_node.crossJoin(F.broadcast(nn))
        .select(
            "node",
            "n_seeds_reached",
            (F.col("h_u").cast("double") / 1e8).alias("h_raw"),
            (
                units_div("h_u * n_nodes", "1600000000", 4).cast("double")
                / 1e4
            ).alias("h_scaled"),
        )
        .orderBy("node")
    )
