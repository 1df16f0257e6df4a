"""Fuzzy (containment-scored) title join — reference J4.

The reference matches event-title fragments to movie titles by
(1) canonicalizing both sides (strip specials, collapse/drop whitespace and
colons — movie_events_scraper.py:57-62,86,91), (2) keeping candidates whose
normalized form CONTAINS the normalized input, (3) scoring by
``len(candidate) - len(input)`` and picking the minimum
(movie_events_scraper.py:92-100). Its Python ``sort`` is stable on insertion
order, so our window adds an explicit candidate-name tie-break to stay
deterministic (SURVEY §7 hard part (b)).

Scale shape: the input side is small (events-of-the-day vs. the full title
dimension), so we broadcast the *inputs* and stream candidates past them —
an O(|candidates| x |inputs|) filtered nested loop that Spark executes as a
BroadcastNestedLoopJoin with the predicate pushed in. For a 100 TB candidate
side, swap tier-1 for the MinHashLSH variant in operators/dedup.py
(approxSimilarityJoin) and keep this exact pass as the small-side fallback.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from boxoffice_spark.functions.cleaning import normalize_title


def fuzzy_containment_join(
    inputs: DataFrame,
    input_id: str,
    input_col: str,
    candidates: DataFrame,
    cand_col: str,
    out_match: str = "matched_name",
    out_score: str = "score",
    normalize: bool = True,
) -> DataFrame:
    """Best containment match per input row.

    Returns one row per input that matched: (input_id, input_col, out_match,
    out_score) where score = normalized-length difference, minimized.

    ``normalize=False`` runs the reference's LAST-RESORT raw pass
    (movie_events_scraper.py:117-125): containment on the un-normalized
    strings, shortest candidate wins (equivalent to min length-difference
    since the input is fixed per group; the reference's stable sort-by-len
    gains an explicit candidate-name tie-break here). Its role in a tiered
    match: inputs whose NORMALIZED form is empty (all-punctuation titles)
    are skipped by the normalized tiers' non-empty filter but can still
    match raw.
    """
    q = F.col("_q_norm")
    key = normalize_title if normalize else (lambda c: c)
    cand_norm = key(F.col(cand_col))
    inp = inputs.select(
        F.col(input_id),
        F.col(input_col),
        key(F.col(input_col)).alias("_q_norm"),
    ).filter(F.length("_q_norm") > 0)

    cand = candidates.select(F.col(cand_col)).distinct().withColumn("_c_norm", cand_norm)

    joined = cand.join(F.broadcast(inp), F.col("_c_norm").contains(q))
    # long, not length()'s int32: both engines emit BIGINT (width parity)
    scored = joined.withColumn(
        out_score, (F.length("_c_norm") - F.length(q)).cast("long")
    )
    w = W.partitionBy(input_id).orderBy(F.asc(out_score), F.asc(cand_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(input_id, input_col, F.col(cand_col).alias(out_match), out_score)
    )


def tiered_fuzzy_match(
    inputs: DataFrame,
    input_id: str,
    input_col: str,
    tiers: list[tuple],
    out_match: str = "matched_name",
    out_score: str = "score",
) -> DataFrame:
    """Staged-fallback fuzzy match (reference movie_events_scraper.py:67-125:
    probe recent titles first, fall back to the full table, then to a raw
    un-normalized substring pass). ``tiers`` is an ordered list of
    (tier_name, candidates, cand_col) or (tier_name, candidates, cand_col,
    normalize); inputs that match tier k never reach tier k+1.

    This is driver-side control flow over DataFrame passes, by design
    (SURVEY §4): Catalyst can't invent the precedence, but each pass is a
    fully optimized broadcast plan, and the anti-join that advances the
    frontier is exactly the reference's 'consume matched rows' semantics.
    The candidate-pruning payoff is the point at scale — the cheap early
    tier absorbs most matches so the expensive full-corpus tier sees only
    the residue.
    """
    results: list[DataFrame] = []
    remaining = inputs
    for tier in tiers:
        tier_name, candidates, cand_col = tier[:3]
        normalize = tier[3] if len(tier) > 3 else True
        matched = fuzzy_containment_join(
            remaining,
            input_id,
            input_col,
            candidates,
            cand_col,
            out_match,
            out_score,
            normalize=normalize,
        ).withColumn("tier", F.lit(tier_name))
        results.append(matched)
        remaining = remaining.join(matched.select(input_id), input_id, "left_anti")
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def entity_resolution(
    records: DataFrame,
    id_col: str,
    name_col: str,
    max_dist: int = 2,
    max_block_names: int | None = 10_000,
) -> DataFrame:
    """Record linkage: group records whose ``name_col`` values are
    near-identical strings into entities, labeling every record with a
    deterministic canonical entity name (the lexicographic-min member of
    its match cluster). The classic dirty-dimension consolidation step —
    vendor/product/venue names arriving with spelling drift — done as
    blocking -> bounded pairwise edit distance -> transitive closure:

    1. dedupe to DISTINCT names (pairwise work scales with |names|, never
       |records|);
    2. blocking key = last whitespace token (swap in phonetic/prefix keys
       per domain) — only same-block names are compared;
    3. candidate pairs via self-join within block, ``levenshtein() <=
       max_dist`` (JVM expression, codegen);
    4. clusters = connected components over the pair graph
       (operators/graph.py large-star/small-star — handles chains like
       cold->old->red that pairwise thresholds alone would split, in
       O(log² n) rounds whatever the chain's depth);
    5. records join back on the name: entity = cluster label, singleton
       names canonicalize to themselves.

    Scale shape: the name self-join shuffles on the block key; a block
    larger than ``max_block_names`` is excluded from pairing (its names
    stay singleton entities) rather than allowed to go quadratic — the
    same posting-cap discipline as the LSH bucket caps in
    operators/dedup.py, trading recall on pathological blocks ("inc",
    "llc" suffixes) for a bounded worst case. Pass ``None`` to disable
    the cap — REQUIRED when the output is compared against a capless
    oracle (the dedup.py rule: caps stay out of oracle-checked paths,
    j_entity_resolution passes None). Components run on the pair graph
    only (|pairs| rows, not |records|).
    """
    from boxoffice_spark.operators.graph import connected_components

    names = records.select(F.col(name_col).alias("name")).distinct()
    block = F.element_at(F.split(F.col("name"), " "), -1)
    blocked = names.select("name", block.alias("_block"))
    if max_block_names is not None:
        sizes = blocked.groupBy("_block").agg(F.count("*").alias("_block_n"))
        blocked = blocked.join(F.broadcast(sizes), "_block").filter(
            F.col("_block_n") <= max_block_names
        )
    a = blocked.select(F.col("_block"), F.col("name").alias("name_a"))
    b = blocked.select(F.col("_block"), F.col("name").alias("name_b"))
    pairs = (
        a.join(b, "_block")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.levenshtein("name_a", "name_b") <= max_dist)
        .select("name_a", "name_b")
    )
    labels = connected_components(pairs, "name_a", "name_b").select(
        F.col("node").alias("_ent_name"), F.col("cluster_id").alias("_ent_label")
    )
    return records.join(
        labels, records[name_col] == labels["_ent_name"], "left"
    ).select(
        id_col,
        name_col,
        F.coalesce(F.col("_ent_label"), F.col(name_col)).alias("entity_name"),
    )
