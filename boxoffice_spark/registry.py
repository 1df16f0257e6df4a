"""Query registry.

Every operator from SURVEY.md §2 lands here as a named query: a PySpark
callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a
DuckDB-compatible oracle SQL string over the same parquet tables. The driver
compares the two at sf=0.01 (row count + schema + order-insensitive value
hash), so:

- every computed column is aliased IDENTICALLY in both forms;
- double aggregates that sum many rows go through ``decimal`` and back
  (see functions/numeric.py) so the result is bit-deterministic and
  independent of partial-aggregation order.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL; None -> rows-only check
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}

# Module order doubles as the registration-priority order. The round driver
# records correctness rows for only the FIRST 50 load_all() entries, so the
# north-star surface (text pipeline, similarity, skew, temporal, quality,
# sources, multimodal, SQL surface) registers before the reference-shaped
# relational/etl tail that it already verified green in round 1.
_QUERY_MODULES = [
    "boxoffice_spark.queries.flagship",
    "boxoffice_spark.queries.text_pipeline",
    "boxoffice_spark.queries.similarity",
    "boxoffice_spark.queries.multimodal",
    "boxoffice_spark.queries.sql_surface",
    "boxoffice_spark.queries.sources",
    "boxoffice_spark.queries.skew",
    "boxoffice_spark.queries.graph",
    "boxoffice_spark.queries.quality",
    "boxoffice_spark.queries.temporal",
    "boxoffice_spark.queries.aggregates",
    "boxoffice_spark.queries.joins",
    "boxoffice_spark.queries.windows",
    "boxoffice_spark.queries.etl",
    "boxoffice_spark.queries.incremental",
    "boxoffice_spark.queries.relational",
    "boxoffice_spark.queries.streaming_checks",
    # The round-9 single-construct canary module (4 queries) was removed in
    # r10 as planned: its decision table resolved — decimal-grid casts of
    # computed doubles CONFIRMED driver-divergent (c9_int8_decimal_cells
    # red vs converted real query green), un-cast HUGEINT window sums
    # CONFIRMED divergent (c9_span_sentinels green with the BIGINT cast vs
    # t_span_corruption red without), tokenize/coin/windows/string_agg each
    # exonerated (all three span aspect canaries green). See COVERAGE.md.
]

# Queries pulled to the very front of load_all() order regardless of module,
# so they land inside the driver's 50-entry correctness window. Round-5
# rotation (VERDICT r04 items 1 and 4): first the 4 oracle-backed queries the
# union of r01–r04 windows never recorded green (all verified hash-matching
# locally), then every query whose plan or oracle changed this round, then a
# rotation of the rows-only tier (ANN family, streaming twins, Arrow kernels)
# so the driver artifact shows them executing under its harness — their local
# property/equality tests remain the stronger correctness evidence. Round-4
# pins earned their green rows in CORRECTNESS_r04 and rotate out.
_PINNED = [
    # Round-10 window (VERDICT r09 tasks 1, 4, 5): exactly 50 names.
    # --- Task 1: the six persistent reds, fixed by casting every
    # HUGEINT-emitting oracle cell to BIGINT (the construct the r09
    # canaries isolated: the red set was EXACTLY the set of oracles
    # emitting a HUGEINT column, and c9_span_sentinels — the identical
    # span pipeline WITH the cast — was driver-green while the un-cast
    # t_span_corruption stayed red). Spark sides unchanged (already
    # LongType); values unchanged; local compare green at sf0.01.
    "dq_ks_drift",
    "a_mann_whitney_u",
    "a_permutation_test",
    "a_kendall_tau",
    "a_cramers_v",
    "t_span_corruption",
    # --- Task 4: the round-10 legacy-conversion batch (parity_audit
    # --plan P1, oldest-green-first), converted off round(double-chain)
    # / decimal-cast-of-double to the driver-proven recipe (ratio6 /
    # units_div / raw doubles / fround) and type-gated by hugeint_scan.
    # Oracle edits void old greens, so every one re-pins here.
    # First the 7 quality_score callers (ADVICE r09 medium: their Spark
    # side moved to the exact ratio6 quality grid in r09, so their
    # round(_QUALITY_EXPR_SQL, 6) raw-double oracles must follow):
    "t_curation_funnel",
    "t_source_quality_report",
    "t_dedup_keep_best",
    "t_dedup_apply",
    "t_curriculum_phases",
    "t_weighted_sample",
    "t_token_budget_select",
    # then the 2 casts the broadened DECCAST detector (ADVICE r09)
    # newly flagged — double-product chains cast to decimal grids:
    "dq_order_lineitem_reconcile",
    "k_salted_join",
    # then the P1 queue in plan order (a_mode_per_group deferred to r11:
    # converting bm25_topk/rrf_fuse — shared operators — pulled
    # t_bm25_search into the batch, and the window caps at 50):
    "a_ab_test_zstat",
    "a_abc_classification",
    "a_chi2_independence",
    "a_dunn_posthoc",
    "a_gini_concentration",
    "a_kmv_overlap",
    "a_kpi_decomposition",
    "a_kruskal_wallis",
    "a_market_basket_lift",
    "a_regression_by_group",
    "a_spearman_rank_corr",
    "dq_completeness_by_day",
    "dq_distribution_drift",
    "dq_duplicate_payments",
    "dq_freshness_sla",
    "dq_numeric_drift",
    "dq_pii_prevalence",
    "dq_schema_drift",
    "g_degree_assortativity",
    "g_degree_distribution",
    "g_harmonic_centrality",
    "g_link_prediction",
    "g_pagerank_authority",
    "g_triangle_census",
    "j_band_join_bucketed",
    "p_skyline_pareto",
    "t_blocklist_gate",
    "t_bm25_search",
    "t_capture_recapture_dups",
    "t_chi2_keywords",
    "t_code_detection",
    "t_corpus_datacard",
    "t_heaps_law_fit",
    "t_heavy_hitters",
    "t_hybrid_rrf_search",
]

# A test (tests/test_registry.py) asserts every name in _PINNED exists in
# the registry, so the list cannot drift. The per-batch history lives in
# COVERAGE.md (single table).


def register(
    name: str,
    oracle: str | None = None,
    bench: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(name, fn, oracle, fn.__doc__ or "", bench, tuple(tags))
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (populating QUERIES) and return the
    registry, ordered for the driver's fixed-size correctness window:
    pinned names first, then oracle-backed queries in module-priority order
    (each can earn a GREEN hash-match row), then the rows-only queries
    (approximate/streaming/pandas ops whose driver row can never be more
    than a row-count anyway)."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)

    def rank(item: tuple[int, tuple[str, QuerySpec]]) -> tuple[int, int, int]:
        idx, (name, spec) = item
        pin = _PINNED.index(name) if name in _PINNED else len(_PINNED)
        return (pin, 0 if spec.oracle is not None else 1, idx)

    ordered = sorted(enumerate(QUERIES.items()), key=rank)
    return {name: spec for _, (name, spec) in ordered}
