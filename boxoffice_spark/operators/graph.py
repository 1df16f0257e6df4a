"""Iterative graph operators: connected components, PageRank, incremental
components, triangle census and link prediction.

Connected components is the missing last step of every near-dup pipeline:
pair generators (t_simhash_hamming_pairs, t_minhash_lsh_pairs,
t_chunk_dup_pairs) emit EDGES, but a dedup decision needs CLUSTERS — "keep
one doc per connected component". Transitive closure is inherently
iterative, the one shape in this engine Catalyst cannot express in a single
plan; the idiomatic Spark answer is a driver-side loop of DataFrame steps
(the same structure GraphX/GraphFrames use internally), NOT a
collect()-and-compute fallback: the driver only ever sees one convergence
bit per round.

The one kernel is large-star/small-star edge contraction (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14): O(log^2 n)
rounds whatever the component diameter, total work O(|E|) per round.
Every driver loop here and in queries/graph.py runs through
:func:`iterate`, which checkpoints each round so plan size stays O(1) per
iteration instead of O(iterations).
"""

from __future__ import annotations

import sys
from typing import Callable

from pyspark.sql import DataFrame, Window, functions as F

from boxoffice_spark.functions.numeric import ratio6w


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    done: Callable[[DataFrame], bool] | None = None,
) -> DataFrame:
    """The driver of every iterative graph loop: ``state = step(state)`` up
    to ``rounds`` times, each round's result localCheckpointed. Without
    ``done`` the rounds are fixed and the last state is returned; with it,
    the first state that passes ``done`` is returned, and a budget that
    runs out raises a RuntimeError naming the caller and ``rounds``.

    eager=False truncates the lineage but does not defer the work: under
    AQE, building the checkpoint's RDD runs every shuffle stage of the
    round, so the round executes here, at construction, and its last stage
    runs, and keeps its rows, in the first job that reads them (the next
    round, ``done`` or the caller's action). An eager checkpoint would run
    that last stage as an extra job of its own every round.
    """
    for _ in range(rounds):
        state = step(state).localCheckpoint(eager=False)
        if done is not None and done(state):
            return state
    if done is None:
        return state
    raise RuntimeError(f"{sys._getframe(1).f_code.co_name} did not converge in {rounds} rounds")


def connected_components(
    pairs: DataFrame, src: str, dst: str, max_iters: int = 30
) -> DataFrame:
    """(node, cluster_id) for every node in ``pairs``, where cluster_id is
    the smallest node id reachable through the undirected pair graph — a
    deterministic canonical representative per component. Nodes seen only
    in self-loops come back self-labelled.

    Large-star/small-star rewrites the EDGE LIST itself each round:
    large-star hangs every node's larger neighbours onto the minimum of
    its neighbourhood, small-star does the same for smaller neighbours.
    The fixpoint is a star forest: every non-minimum node has exactly one
    edge, to its component's minimum. Each star step takes its minimum
    with a window (one shuffle on u), and the large-star window also tests
    for the fixpoint, so a round is one action. Raises if ``max_iters``
    rounds are not enough.
    """
    # canonical (big, small) pairs, self-loops kept for the self-labelling;
    # checkpointed so the upstream pair generation runs once
    base = pairs.select(
        F.greatest(src, dst).alias("u"), F.least(src, dst).alias("v")
    ).localCheckpoint(eager=False)
    e = base.filter(F.col("u") != F.col("v"))
    by_u = Window.partitionBy("u")
    # c = least(u, v) over each node's neighbours. min(c) is the large-star
    # minimum; min(c) == max(c) at every node iff every node is a centre
    # (all neighbours larger) or a leaf with one smaller neighbour, which
    # is exactly the star forest, so convergence is exact
    c = F.least("u", "v")

    def star_round(s: DataFrame) -> DataFrame:
        # the first round stars the base edges; every later round first
        # contracts the previous round's star
        if s is not e:
            # large-star: hang every strictly larger neighbour v on m (v > u >= m)
            large = s.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
            # small-star (all v < u): hang u and its neighbours on the minimum
            # neighbour, dropping the self-loop that hangs the minimum on itself
            s = (
                large.withColumn("m", F.min("v").over(by_u))
                .select(F.explode(F.array("u", "v")).alias("u"), F.col("m").alias("v"))
                .filter(F.col("u") != F.col("v"))
            )
        return (
            s.union(s.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .select("u", "v", F.min(c).over(by_u).alias("m"), F.max(c).over(by_u).alias("mx"))
            .distinct()  # the only dedup; shares the window's shuffle on u
        )

    star = iterate(e, star_round, max_iters, lambda s: s.filter(F.col("m") != F.col("mx")).isEmpty())
    # a self-loop node's own id loses to any star label (which is a
    # component minimum) and labels it when it has no edge
    return (
        star.select(F.col("u").alias("node"), F.col("m").alias("cluster_id"))
        .union(base.filter(F.col("u") == F.col("v")).select("u", "v"))
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — importance
    weighting for curation (rank sources/domains by co-occurrence
    authority; the harmonic-centrality idea behind Common Crawl's domain
    ranking, as a Spark loop).

    Rounds run through :func:`iterate`, like connected_components. The
    distinct edges are built once, each carrying its source's out-degree;
    per round, contributions rank/out_degree flow along them (one join with
    the ranks) and one aggregate per destination sums them, partial-agg
    friendly. FIXED iterations (no
    convergence check) so the result is a deterministic function of the
    graph: each contribution is quantized to 1e-18 integer units
    (functions/numeric.funits) and the units are summed exactly as
    DECIMAL(38,0), making every rank bit-reproducible across
    partitionings — the same rule that lets an unrolled chained-CTE DuckDB
    oracle match cell-for-cell. Nodes without in-edges hold the teleport floor
    (1-d)/N; dangling nodes (no out-edges) leak mass — acceptable for
    ranking use; add a dangling-redistribution term if mass conservation
    matters.
    """
    from boxoffice_spark.functions.numeric import funits

    # distinct edges with the source's out-degree, counted by a window over
    # the distinct rows so they are scanned once
    e = (
        edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))
        .distinct()
        .withColumn("_deg", F.count("*").over(Window.partitionBy("_src")))
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select("_dst"))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        # empty edge list → empty ranking (not ZeroDivisionError on 1/n)
        return nodes.select("node", F.lit(0.0).alias("rank"))
    base = (1.0 - damping) / n
    # one zero row per node: a node with no in-edge sums to 0 and gets
    # base + d*0.0 == base, with no join back to the node list
    zeros = nodes.select("node", F.lit(0).cast("decimal(38,0)").alias("_cu"))

    def pagerank_round(ranks: DataFrame) -> DataFrame:
        # each contribution quantizes to 1e-18 integer units via funits
        # (pinned floor-implemented rounding; a decimal(27,18) cast of the
        # rank/deg double would be build surface) and sums exactly in
        # DECIMAL(38,0); one IEEE division recovers the double. rank/deg
        # can approach 1.0, where abs(x)*1e18 exceeds funits' 2^53
        # exactness bound: the quantization there is deterministic
        # (identical IEEE ops on both engines, checked by the oracle), not
        # exact HALF_UP; only the sum of the quantized units is exact.
        contrib = e.join(ranks.withColumnRenamed("node", "_src"), "_src").select(
            F.col("_dst").alias("node"),
            funits(F.col("rank") / F.col("_deg"), 18).cast("decimal(38,0)").alias("_cu"),
        )
        rank = F.lit(base) + F.lit(damping) * (F.sum("_cu").cast("double") / 1e18)
        return contrib.union(zeros).groupBy("node").agg(rank.alias("rank"))

    # nearly all of PageRank executes inside iterate, at construction: each
    # round adds 4 jobs to the build and none to the caller's collect, and
    # g_pagerank_authority on the benchmark's seed-2 inputs runs 14 jobs in
    # its build against 1 in the collect
    return iterate(nodes.select("node", F.lit(1.0 / n).alias("rank")), pagerank_round, n_iters)


def incremental_components(
    standing: DataFrame, new_edges: DataFrame, src: str, dst: str
) -> DataFrame:
    """Incrementally maintain a connected-components labeling: merge a
    batch of new edges into ``standing`` (node, cluster_id) WITHOUT
    re-running components over the full pair graph — the daily-ingest
    reality of dedup clustering at 100 TB, where the standing graph is
    the whole corpus and the batch touches a sliver of it.

    Quotient-graph algebra: a components labeling is a contraction that
    preserves connectivity, so merging new edges only requires components
    of the SUPER-GRAPH whose nodes are (old cluster labels + unseen new
    nodes) and whose edges are the new edges mapped through the standing
    labels. That graph has one node per AFFECTED label — orders of
    magnitude smaller than the corpus — and connected components over it
    yield exactly the labels a full recompute over (old edges + new
    edges) would (min label of a merged component = min node id across
    its members, since every standing label is already its component's
    min). Unaffected standing labels pass through untouched.

    Scale shape: two label-lookup joins keyed on the (small) new-edge
    endpoint set, the iterative part runs on the super-graph only, and
    the final remap is ONE join of ``standing`` against the relabel
    table — affected-clusters-sized, so the planner broadcasts it in the
    steady state and falls back to a shuffle join on a bootstrap merge
    (empty standing), where it is batch-sized. The standing labeling is
    only ever probed and remapped — never re-traversed. Exactness vs the
    full recompute is oracle-checked (t_incremental_dedup_clusters) and
    unit-tested.
    """
    e = new_edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
    la = standing.select(F.col("node").alias("_a"), F.col("cluster_id").alias("_la"))
    lb = standing.select(F.col("node").alias("_b"), F.col("cluster_id").alias("_lb"))
    # the components kernel checkpoints its input once and dedups it, and
    # an empty super-graph (nothing merges) comes back as no relabel rows
    super_edges = (
        e.join(la, "_a", "left")
        .join(lb, "_b", "left")
        .select(
            F.coalesce("_la", F.col("_a")).alias("sa"),
            F.coalesce("_lb", F.col("_b")).alias("sb"),
        )
        .filter(F.col("sa") != F.col("sb"))
    )
    # nodes first seen in this batch: initial label = own id (remapped
    # below exactly like a standing label)
    fresh = (
        e.select(F.col("_a").alias("node"))
        .union(e.select(F.col("_b").alias("node")))
        .distinct()
        .join(standing.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("cluster_id"))
    )
    # a batch can chain many standing clusters (A-B, B-C, ... through
    # shared near-dups); the star kernel's round count does not grow with
    # that depth
    relabel = connected_components(super_edges, "sa", "sb").select(
        F.col("node").alias("_old_label"), F.col("cluster_id").alias("_new_label")
    )
    # remap rows whose label merged; labels not in the super-graph pass
    # through. No broadcast hint: relabel is affected-clusters-sized —
    # usually tiny, but unbounded on a bootstrap merge (empty standing) —
    # so the planner/AQE picks broadcast only when it actually fits.
    return standing.unionByName(fresh).join(
        relabel,
        F.col("cluster_id") == relabel._old_label,
        "left",
    ).select(
        "node",
        F.coalesce("_new_label", F.col("cluster_id")).alias("cluster_id"),
    )


def triangle_stats(
    edges: DataFrame, src: str = "u", dst: str = "v", _scope: str = "triangle_stats"
) -> DataFrame:
    """Exact triangle census of an undirected graph — one row:
    (n_nodes, n_edges, n_wedges, n_triangles, global_clustering), where
    global_clustering = 3 * triangles / wedges (transitivity).

    ``edges`` must be the canonical undirected edge set: one row per
    edge with src < dst, no self-loops (the caller dedups; see
    g_triangle_census for the co-occurrence edge builder).

    Physical strategy is the degree-ordered orientation of Suri &
    Vassilvitskii, "Counting triangles and the curse of the last
    reducer" (WWW 2011): orient every edge from the endpoint with the
    smaller (degree, id) to the larger, then count each triangle at its
    unique source edge. A naive wedge enumeration explodes at hub nodes
    (a degree-d node owns d²/2 wedges — the "last reducer" that kills
    the job at 100× scale); orientation bounds every node's out-degree
    by O(sqrt(m)), independent of hub size.

    All joins are equi-joins on node keys (AQE-splittable); degree is one
    partial-aggregated groupBy; no driver-side iteration — a single
    Catalyst plan. The oracle's simple 3-way self-join form (id-ordered,
    no orientation) is equivalent because each triangle has exactly one
    id-ordered edge listing; orientation only changes where triangles
    are counted, never which triangles exist.

    Orientation key: the (degree, id) order is packed into ONE BIGINT —
    ``least(d, 2^22) * 2^40 + id`` — instead of a ``struct(d, id)``: a
    primitive long compare codegens to a single instruction where the
    struct path goes through the interpreted row-comparator. Correctness
    needs only a strict total order consistent across both orientation
    uses — capping the degree component at 2^22 keeps the pack inside 63
    bits and only reorders nodes ABOVE the cap among themselves (ties fall
    to id, still injective), which changes where triangles are COUNTED,
    never which triangles exist. Ids must fit 40 bits; that is asserted
    per node with a loud ``raise_error`` (the a_cramers_v guard pattern)
    rather than silently wrapping — on an id space past 2^40, widen the
    pack split or revert to the struct key.

    Counting tail: instead of MATERIALIZING every wedge as a join row
    (o1 ⋈ o2 on the low end, ~sum C(outdeg,2) rows — 41 M at sf0.1 — then
    a semi-join against the closing edges), the out-adjacency is grouped
    into one array per node and each oriented edge (s, t) counts
    ``size(array_intersect(N+(s), N+(t)))`` — the classic edge-iterator
    formulation. Equivalent: in the orientation DAG every triangle has a
    unique source x and sink z (x->y, x->z, y->z), and w ∈ N+(s) ∩ N+(t)
    iff (s, t, w) is exactly that triangle listed at its source edge
    (s=x, t=y, w=z) — counted once, nowhere else. Volume drops from
    O(sum outdeg²) JOIN ROWS to O(|E|) rows
    carrying O(outdeg)-sized arrays (the intersect itself still touches
    sum outdeg² elements, but as tight per-row set probes, not join
    machinery — interleaved A/B at sf0.1, same session, identical
    1,884,488 triangles: wedge-join 3.65 s vs intersect 1.83 s min; the
    struct-keyed orientation read 4.34 s). At 100 TB the same shift is
    what keeps the census alive: a hub's C(outdeg,2) wedge rows become one
    outdeg-long array row, and the two adjacency joins stay equi-joins
    on node ids (AQE-splittable).
    """
    from boxoffice_spark.functions.caching import scoped_persist

    # ``e`` feeds deg and the orientation join; without the persist
    # the caller's edge-builder (join + distinct at g_triangle_census) is
    # re-evaluated once per consumer (exchange reuse needs byte-identical
    # canonical subplans, and AQE routinely breaks it). Bounded: one live
    # handle per scope (scoped_persist).
    e = scoped_persist(
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v")),
        f"{_scope}.e",
    )
    # ``deg`` feeds the census counts and both orientation keys: persisted,
    # the degree aggregate runs once instead of once per consumer
    deg = scoped_persist(
        e.select(F.col("_u").alias("_n"))
        .unionAll(e.select(F.col("_v").alias("_n")))
        .groupBy("_n")
        .agg(F.count("*").alias("_d")),
        f"{_scope}.deg",
    )
    # one aggregate over deg: every edge row adds exactly 2 to the endpoint
    # union, so sum(_d) div 2 is the edge-row count for any row set
    # (duplicates, self-loops and NULL endpoints included); coalesce keeps
    # an empty edge list at 0 edges. Wedges (paths of length 2, open or
    # closed) = sum_n C(deg, 2).
    counts = deg.agg(
        F.count("*").alias("n_nodes"),
        F.expr("coalesce(sum(_d), 0) div 2").alias("n_edges"),
        F.sum(F.expr("_d * (_d - 1) / 2")).cast("long").alias("n_wedges"),
    )
    # orient by (degree, id), packed into one guarded BIGINT (docstring)
    _key = F.when(
        (F.col("_n") >= 0) & (F.col("_n") < F.lit(1 << 40)),
        F.least(F.col("_d"), F.lit(1 << 22)) * F.lit(1 << 40) + F.col("_n"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "triangle_stats: node id outside [0, 2^40) — the packed "
                "orientation key would wrap; widen the pack split or use "
                "a struct(d, id) key for this id space"
            )
        )
    )
    du = deg.select(F.col("_n").alias("_u"), _key.alias("_ku"))
    dv = deg.select(F.col("_n").alias("_v"), _key.alias("_kv"))
    # ``oriented`` feeds TWO consumers (the adjacency-array build and the
    # per-edge intersect probe); persisting it cuts the census to one
    # evaluation of the degree joins (exchange reuse needs byte-identical
    # canonical subplans, and AQE routinely breaks it).
    oriented = scoped_persist(
        e.join(du, "_u")
        .join(dv, "_v")
        .select(
            F.when(F.col("_ku") < F.col("_kv"), F.col("_u")).otherwise(F.col("_v")).alias("_s"),
            F.when(F.col("_ku") < F.col("_kv"), F.col("_v")).otherwise(F.col("_u")).alias("_t"),
        ),
        f"{_scope}.oriented",
    )
    # out-adjacency as one array per node: bounded by the orientation's
    # O(sqrt(m)) out-degree — the same bound the former wedge join relied
    # on, but paid as ONE array row instead of C(outdeg,2) wedge rows.
    # No sort: array_intersect's size is order-independent.
    adj = oriented.groupBy("_s").agg(F.collect_list("_t").alias("_nb"))
    a_u = adj.select(F.col("_s").alias("_ju"), F.col("_nb").alias("_nbu"))
    a_v = adj.select(F.col("_s").alias("_jv"), F.col("_nb").alias("_nbv"))
    # inner joins: an edge whose endpoint has no out-neighbors closes no
    # triangle and contributes 0 either way
    n_tri = (
        oriented.join(a_u, oriented["_s"] == a_u["_ju"])
        .join(a_v, oriented["_t"] == a_v["_jv"])
        .select(F.size(F.array_intersect("_nbu", "_nbv")).alias("_ct"))
        # coalesce: sum over zero edges is NULL where the former wedge
        # count(*) was 0 — a triangle-free/empty graph must stay 0
        .agg(F.coalesce(F.sum("_ct"), F.lit(0)).cast("long").alias("n_triangles"))
    )
    return (
        counts.crossJoin(n_tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            # exact integer ratio via ratio6w's 128-bit HALF_UP
            # (3*triangles can exceed ratio6's BIGINT headroom at corpus
            # scale; round(double, 6) is build surface).
            ratio6w("3 * n_triangles", "n_wedges").alias(
                "global_clustering"
            ),
        )
    )


def triangle_count_doulion(
    edges: DataFrame,
    p: float = 0.25,
    seed: int = 42,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Approximate triangle count by deterministic edge sparsification —
    Tsourakakis et al., "DOULION: Counting Triangles in Massive Graphs
    with a Coin" (KDD 2009): keep each edge independently with
    probability ``p``, run the EXACT census on the sparsified graph
    (same degree-ordered orientation — triangle_stats), and scale the
    sampled count by 1/p³ (a triangle survives iff all three edges do).
    Unbiased; variance shrinks as p³·T grows, so at 100 TB even p=0.1
    leaves millions of sampled triangles and a sub-percent relative
    error, while the wedge join runs on ~p·|E| edges (wedge volume drops
    ~p², the quadratic term that dominates the exact census).

    The "coin" here is a hash, not a RNG: an edge is kept iff
    xxhash64(u, v, seed) lands in the keep range. Same input -> same
    sample -> same estimate, so the estimator is reproducible across
    runs, resumable, and testable (tests/test_graph.py asserts
    relative error vs the exact census). Rows-only by construction (SQL
    has no xxhash64); the EXACT tier (triangle_stats) carries the
    DuckDB oracle.

    One row: (p, n_edges_sampled, n_triangles_sampled, est_triangles).
    """
    if not 0.0 < p <= 1.0:
        raise ValueError(f"triangle_count_doulion: p must be in (0, 1], got {p}")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # deterministic coin: uniform in [0, 2^63) via abs(xxhash64), with an
    # explicit h >= 0 lower bound — abs(Long.MIN_VALUE) stays negative in
    # two's complement, and without the bound that one pathological hash
    # (probability 2^-64 per edge) would always pass the <= threshold test
    h = F.abs(F.xxhash64(F.col("u"), F.col("v"), F.lit(seed)))
    keep = (h >= F.lit(0)) & (
        h
        <= F.lit(min(int(p * float(2**63)), 2**63 - 1) - 1 if p < 1.0 else 2**63 - 1)
    )
    sampled = e.filter(keep)
    stats = triangle_stats(sampled, "u", "v", _scope="triangle_stats.doulion")
    return stats.select(
        F.lit(float(p)).alias("p"),
        F.col("n_edges").alias("n_edges_sampled"),
        F.col("n_triangles").alias("n_triangles_sampled"),
        F.round(F.col("n_triangles") / F.lit(float(p) ** 3), 2).alias(
            "est_triangles"
        ),
    )


def link_prediction_scores(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_center_degree: int = 64,
    k: int = 30,
) -> DataFrame:
    """Neighborhood-overlap link prediction over an undirected graph:
    for every NON-adjacent pair with at least one common neighbor, the
    common-neighbor count and the Resource-Allocation index
    (Zhou/Lü/Zhang 2009: sum over common neighbors w of 1/deg(w) — the
    down-weighted variant that beats raw CN on real graphs), top-``k``
    pairs. ``edges`` must be canonical (src < dst, distinct).

    RA instead of Adamic-Adar (1/ln deg) deliberately: 1/deg is a single
    IEEE division — bit-identical across engines — while ln is libm-
    dependent, so RA keeps the query cell-exact against the DuckDB
    oracle with no rounding hedge.

    Scale shape: wedge generation from a center node w emits deg(w)²
    pairs — the same last-reducer blowup triangle_stats orients away.
    Orientation doesn't apply here (a wedge must be counted at its
    center, wherever that center ranks), so the bound is
    ``max_center_degree``: hub centers are excluded from wedge
    generation, which is also the right SEMANTIC call — a neighbor
    shared via a hub carries RA weight 1/deg ≈ 0 and CN counts via hubs
    are pure popularity noise (the reason AA/RA exist). The cap is
    mirrored exactly in the oracle, so the checked path and the scale
    path are the same plan. Total wedge rows ≤ cap × |edges at centers|.

    Top-k is orderBy().limit() — TakeOrderedAndProject, per-partition
    heaps, no global sort; the (cn, ra, u, v) sort key is a total order,
    so the k-set is deterministic.

    Wedge generation: the capped centers' adjacency rows are grouped
    into one SORTED ARRAY per center (bounded by ``max_center_degree``,
    so collect_list is safe at any corpus scale) and the ordered pairs
    are exploded map-side from the array, instead of the former
    a1-join-a2 self-join on the center key. Same pair set
    (sorted distinct neighbors, _pa < _pb by construction), one exchange
    of the capped adjacency instead of a two-sided self-join shuffle +
    broadcast — measured at sf0.1 the post-edge-build path dropped
    4.03 s -> 2.53 s with identical output.
    """
    from boxoffice_spark.functions.caching import scoped_persist
    from boxoffice_spark.functions.numeric import fround, units_div

    e = scoped_persist(
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v")),
        "link_prediction.e",
    )
    adj = e.select(F.col("_u").alias("_c"), F.col("_v").alias("_x")).unionAll(
        e.select(F.col("_v").alias("_c"), F.col("_u").alias("_x"))
    )
    deg = adj.groupBy("_c").agg(F.count("*").alias("_d"))
    centers = deg.filter(F.col("_d") <= max_center_degree)
    # 1/d quantizes to EXACT 1e-15 integer units (units_div's BIGINT
    # HALF_UP) so the RA sum is an exact integer — no decimal cast of an
    # off-grid double anywhere; the display cell pins its 12dp grid via
    # fround. The per-pair term COUNT is the number of shared sub-cap
    # centers (max_center_degree does NOT bound it), so the sum runs
    # through DECIMAL(38,0) — exact far past the
    # ~9.2e3-term BIGINT wrap point of 1e15-unit terms, mirroring the
    # oracle's HUGEINT accumulation.
    arr = (
        adj.join(centers, "_c")
        .groupBy("_c")
        .agg(
            F.sort_array(F.collect_list("_x")).alias("_xs"),
            F.first("_d").alias("_d"),
        )
    )
    # ordered neighbor pairs, exploded from the (<= cap)-sized array:
    # _pa < _pb holds because _xs is sorted and its members are distinct
    # (one adjacency row per canonical edge endpoint)
    pairs = arr.select(
        units_div("1", "_d", 15).alias("_inv_u"),
        F.explode(
            F.expr(
                "flatten(transform(_xs, (x, i) -> "
                "transform(slice(_xs, i + 2, size(_xs) - i - 1), "
                "y -> struct(x as _pa, y as _pb))))"
            )
        ).alias("_pr"),
    )
    scores = (
        pairs.select("_pr._pa", "_pr._pb", "_inv_u")
        .groupBy("_pa", "_pb")
        .agg(
            F.count("*").alias("common_neighbors"),
            fround(
                F.sum(F.col("_inv_u").cast("decimal(38,0)")).cast("double")
                / 1e15,
                12,
            ).alias("ra_score"),
        )
    )
    non_adjacent = scores.join(
        e,
        (scores._pa == e._u) & (scores._pb == e._v),
        "left_anti",
    )
    return (
        non_adjacent.select(
            F.col("_pa").alias("node_a"),
            F.col("_pb").alias("node_b"),
            "common_neighbors",
            "ra_score",
        )
        .orderBy(
            F.desc("common_neighbors"), F.desc("ra_score"), "node_a", "node_b"
        )
        .limit(k)
    )
