"""Scale validation: inflate a fixture N-fold and measure growth exponents.

Materializes an N-fold inflation of ``$SPARK_GRAFT_SF_DIR`` (default
sf0.1; the default N = 10 turns sf0.1 into sf1: ~6M lineitem, 50k
documents, 20k embeddings) with DuckDB, then measures the heavy-tier
queries on the source AND the inflation and reports the observed growth
exponent

    alpha = log(t_Nx / t_1x) / log(N)

(alpha ~ 1.0 = linear in corpus size; alpha ~ 2.0 would be the quadratic
pair blowup the posting caps exist to prevent). Optionally runs the DuckDB
oracle sweep for the oracle-backed subset on the inflation (--oracle).

Timings come from ``measure.time_query(fresh=True)``: the fastest of 2
runs, each billing the TOTAL per-query wall (fn() construction +
execution), because the growth exponent must include work that iterative
operators do at plan-construction time (component rounds, driver-side
fits). Scoped-persist caches are released before every run, so run 2 of a
persist-bearing query computes instead of reading run 1's materialized
frame. Run 1 still warms JIT/codegen, which is what min-of-2 is for.

Inflation preserves each operator's workload character:
- documents: vowel-rotated text per copy -> distinct shingles, postings grow
  linearly, pair output stays bounded (inflating with IDENTICAL text would
  measure the data's quadratic near-dup structure, not the engine).
  n_chars is length-preserving.
- embeddings: the vector is cyclically rotated per copy -> copies are
  ~orthogonal, so the near-dup/ANN structure doesn't quadratically densify.
- lineitem/orders: shifted order keys (new fact rows, same dims/groups).
- part/events: shifted keys with rotated names / new users (see below).
- the four dimension tables are copied verbatim.

The inflation is stamped with its source, copies and key shift; a run whose
stamp differs (or is missing) regenerates it instead of measuring it.

Usage:
    python tools/sf1_probe.py [--copies N] [--only a,b,c | --all]
                              [--oracle] [--oracle-only] [--regen]
Growth curve of the headline shapes, one point per N:
    python tools/sf1_probe.py --copies 4 --only flagship_daily_topk_delta,\\
        t_exact_dedup,t_ngram_jaccard_pairs,v_knn_label_consistency
Env: SPARK_GRAFT_SF1_DIR (inflation, default /tmp/spark_graft_sf1),
     SPARK_GRAFT_SF_DIR (source, default: the sf0.1 fixtures),
     SPARK_GRAFT_SHIFT_MULT (key-shift multiplier, default 1)
Prints one JSON line:
    {"sf1_probe": {op: {"1x_s": .., "<N>x_s": .., "alpha": ..}, ...},
     "oracle": {op: "OK"/"MISMATCH: ..."} | null, ...}
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import measure  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
# Key-shift multiplier for chained decades (sf1 -> sf10): sf1 ids already
# occupy [0, 10) shift slots, so a second inflation must stride 10x wider
# or copy keys would collide with first-decade copies.
SHIFT = int(os.environ.get("SPARK_GRAFT_SHIFT_MULT", "1"))
VOWELS = "aeiou"
STAMP = "_inflation.json"

# the heavy tier; the oracle sweep runs for whichever of these carry an
# oracle in the registry (the LSH/CDC pair generators and the LSH ANN tier
# are rows-only by construction)
HEAVY = [
    "t_winnow_dup_pairs",
    "t_chunk_dup_pairs",
    "t_minhash_lsh_pairs",
    "t_bm25_search",
    "t_curation_funnel",
    "v_ann_lsh_topk",
    "v_embedding_near_dup_lsh",
    "flagship_daily_topk_delta",
    # token-heavy two-pass scoring and the cluster-then-choose
    # canonicalization chain
    "t_dsir_weights",
    "t_dedup_keep_best",
    "t_compression_gate",
    # both rankers + fusion in one query; the quotient-merge clustering (2x
    # pair generation + 2 component runs by construction); candidate-sized
    # greedy re-rank; LM-distilled classifier (LM teacher + sample fit at
    # build, codegen scoring at exec)
    "t_hybrid_rrf_search",
    "t_incremental_dedup_clusters",
    "v_mmr_diversify",
    "t_quality_classifier",
    # the in-block levenshtein pair join is a quadratic-risk shape (part
    # inflation grows block COUNT, not block size — see part_select;
    # densifying blocks are the cap's job); changeset replay over the
    # inflated orders snapshot; and the triangle census both exact
    # (persisted oriented edges) and DOULION-sampled — the pair where the
    # approx tier must show its alpha edge.
    "j_entity_resolution",
    "e_cdc_apply",
    "g_triangle_census",
    "g_triangle_census_approx",
    # deterministic MinHash banding: capless band buckets are the
    # quadratic-risk shape (dup-group-bounded on real corpora)
    "t_minhash_banded_pairs",
    # wedge generation under the center-degree cap (a bounded-quadratic
    # shape), the KMV distinct self-join audit twin (the sketch side is G×k
    # rows), and the recall scorecard whose capless unblocked truth tier is
    # its heavy leg
    "g_link_prediction",
    "a_kmv_overlap",
    "t_dedup_recall_report",
    # the offset-keyed token pair join (2x linear in tokens but token-heavy;
    # the vocab join is the skew spot), 3 rounds of edge-join iteration each
    # for LPA / BFS, and the order-local basket pair expansion
    "t_cooccurrence_pmi",
    "g_label_propagation",
    "g_bfs_distances",
    "a_market_basket_lift",
    # the sweep-line prefix sum (two sessionize windows over the event
    # log), the per-segment rank windows behind Gini, the 3-step funnel
    # window chain, and the chi-squared keyness tokenize fan-out
    "w_max_concurrency",
    "a_gini_concentration",
    "w_funnel_latency",
    "t_chi2_keywords",
    # iterative peeling (per-round semi-joins over the edge list), the
    # corpus-vs-batch shingle join, the tokenize + vocab rank behind the
    # Zipf fit, and the brand-partitioned skyline sort
    "g_kcore_decomposition",
    "t_ngram_novelty",
    "t_zipf_fit",
    "p_skyline_pareto",
    # the Theil-Sen pair self-join (quadratic in calendar days, must stay
    # flat in corpus size), the two tokenize-bound corpus fits, the JSD
    # head-grid join, and the events-wide islands windows
    "a_theil_sen_trend",
    "a_mann_whitney_u",
    "t_js_divergence_matrix",
    "t_heaps_law_fit",
    "w_gaps_islands",
    # the 200-replicate resampling spines (must stay flat — they multiply
    # only the calendar-bounded daily grain), the tokenize-bound OOV audit,
    # and the edge-moment assortativity pass
    "a_permutation_test",
    "a_bootstrap_ci_poisson",
    "t_oov_rate",
    "g_degree_assortativity",
    # the calendar-bounded kendall pair join, the two-window
    # capture-recapture marks pass, the tokenize-bound band selection, and
    # the embedding explode scan behind the centroid matrix
    "a_kendall_tau",
    "t_capture_recapture_dups",
    "t_token_budget_select",
    "v_centroid_similarity_matrix",
    # the pooled-rank omnibus test (global window over the calendar-bounded
    # daily grain — must stay flat in corpus size)
    "a_kruskal_wallis",
    # 16-seed 4-hop multi-source BFS + inverse-distance fold
    "g_harmonic_centrality",
    # the unigram-LM pipeline behind the DoReMi weights and the tokenize +
    # per-doc window chain behind span corruption
    "t_domain_loss_weights",
    "t_span_corruption",
    # the (customer, amount)-keyed audit pair join, the lineitem-to-order
    # reconciliation shuffle, and the event-stream LEAD behind the bounded
    # matrix powers
    "dq_duplicate_payments",
    "dq_order_lineitem_reconcile",
    "w_markov_3step",
    # the tokenize + per-doc runs + phrase-word join behind RAKE, and the
    # embedding explode + codec pass behind int8
    "t_keyphrase_rake",
    "v_int8_quantization_report",
]

# queries whose DuckDB oracle is impractical at sf1 even though the
# engine side scales fine: t_dedup_keep_best's recursive-CTE oracle
# expands the simhash vote table (~180M rows at 50k docs) inside the
# recursion — DuckDB grinds for 30+ min. t_incremental_dedup_clusters'
# oracle derives from the same per-word simhash vote expansion
# (_CLUSTERS_ORACLE -> simhash_hamming_pairs_sql), so it hits the same
# wall. Correctness evidence is the sf0.01/sf0.1 oracle greens; sf1
# keeps the timing-only rows.
ORACLE_SKIP_AT_SF1 = {
    "t_dedup_keep_best",
    "t_incremental_dedup_clusters",
    # the census oracle is the textbook id-ordered 3-way self-join — its
    # wedge volume is exactly the quadratic blowup the engine's
    # degree-ordered orientation avoids, so at sf1 the ORACLE (not the
    # engine) is the bottleneck; sf0.01/sf0.1 oracle greens carry
    # correctness, sf1 keeps the timing rows
    "g_triangle_census",
}


class RotationAliasError(ValueError):
    """More copies than the narrowest embedding has dimensions: copy i
    rotates each vector by i places, so copy ``len(embedding)`` would
    repeat copy 0 and add exact-duplicate vectors under new ids."""


def generate(src: str, dst: str, copies: int, shift: int = 1, regen: bool = False) -> None:
    """Build the ``copies``-fold inflation of ``src`` in ``dst`` with DuckDB
    (single parquet file per table — both Spark and the DuckDB oracle read
    them unchanged). An existing inflation is reused only when its stamp
    names the same source, copies and shift. Raises RotationAliasError,
    before anything is written, when ``copies`` exceeds the source's
    smallest embedding width."""
    import duckdb

    (width,) = duckdb.sql(f"SELECT min(len(embedding)) FROM read_parquet('{src}/embeddings.parquet')").fetchone()
    if width is not None and copies > width:
        raise RotationAliasError(
            f"{copies} copies of {src}: its narrowest embedding has {width} dimensions, "
            f"so rotations past {width - 1} would repeat earlier copies"
        )
    stamp = {"source": os.path.abspath(src), "copies": copies, "shift": shift}
    stamp_path = os.path.join(dst, STAMP)
    if not regen and os.path.exists(stamp_path):
        with open(stamp_path) as fh:
            if json.load(fh) == stamp:
                return
    os.makedirs(dst, exist_ok=True)
    if os.path.exists(stamp_path):  # an interrupted rebuild must not look complete
        os.remove(stamp_path)
    con = duckdb.connect()

    def copy_union(table: str, select_for_copy) -> None:
        parts = [select_for_copy(i) for i in range(copies)]
        union = " UNION ALL ".join(parts)
        con.execute(f"COPY ({union}) TO '{dst}/{table}.parquet' (FORMAT PARQUET)")

    def doc_select(i: int) -> str:
        if i == 0:
            return f"SELECT * FROM read_parquet('{src}/documents.parquet')"
        rot = VOWELS[i % 5 :] + VOWELS[: i % 5]
        # Chained decades (shift > 1): 5 vowel rotations over 10 copies
        # already alias (copy j == copy j+5), and a second decade would
        # compound that into ~shift*2-sized exact/near-dup groups — pair
        # OUTPUT then grows quadratically as an inflater artifact, not an
        # operator property. A per-copy marker INTERLEAVED every 5 words
        # (an end-suffix is not enough: same-rotation copies would still
        # share every internal shingle, and the near-dup tiers measure
        # shingles, not exact text) drives cross-copy shingle overlap to
        # ~zero, so every decade-2 copy is a NON-duplicate of every other
        # while carrying the source decade's true dup structure intact —
        # duplicate volume grows linearly, the realistic shape.
        base = f"translate(text, '{VOWELS}', '{rot}')"
        if shift > 1:
            base = (
                f"regexp_replace({base},"
                f" '(\\S+ \\S+ \\S+ \\S+ \\S+) ', '\\1 qx{i}m ', 'g')"
            )
        return (
            f"SELECT doc_id + {i * 10_000_000 * shift} AS doc_id,"
            f" {base} AS text,"
            f" lang, source, n_chars"
            f" FROM read_parquet('{src}/documents.parquet')"
        )

    def emb_select(i: int) -> str:
        if i == 0:
            return f"SELECT * FROM read_parquet('{src}/embeddings.parquet')"
        # cyclic rotation by i: distinct, ~orthogonal copies
        return (
            f"SELECT vec_id + {i * 10_000_000 * shift} AS vec_id,"
            f" CAST(list_slice(embedding, {i + 1}, len(embedding))"
            f"  || list_slice(embedding, 1, {i}) AS FLOAT[]) AS embedding,"
            f" label"
            f" FROM read_parquet('{src}/embeddings.parquet')"
        )

    def li_select(i: int) -> str:
        if i == 0:
            return f"SELECT * FROM read_parquet('{src}/lineitem.parquet')"
        return (
            f"SELECT l_orderkey + {i * 100_000_000 * shift} AS l_orderkey,"
            f" l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,"
            f" l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
            f" FROM read_parquet('{src}/lineitem.parquet')"
        )

    def orders_select(i: int) -> str:
        # same key shift as lineitem so the orderkey FK joins stay valid
        # across copies (new fact rows, same customers/priorities)
        if i == 0:
            return f"SELECT * FROM read_parquet('{src}/orders.parquet')"
        return (
            f"SELECT o_orderkey + {i * 100_000_000 * shift} AS o_orderkey,"
            f" o_custkey, o_orderstatus, o_totalprice, o_orderdate,"
            f" o_orderpriority"
            f" FROM read_parquet('{src}/orders.parquet')"
        )

    def part_select(i: int) -> str:
        # vowel-rotated names: each copy's names form NEW edit-distance
        # blocks (the entity-resolution blocking key — the trailing token —
        # rotates with the name), so block COUNT grows linearly while block
        # SIZE stays flat. That is the realistic growth shape (more records
        # mostly add new names); a block that densifies instead is what the
        # operator's max_block_names cap bounds.
        if i == 0:
            return f"SELECT * FROM read_parquet('{src}/part.parquet')"
        rot = VOWELS[i % 5 :] + VOWELS[: i % 5]
        # same decade-2 de-aliasing as doc_select: a marker token keeps
        # copy names distinct (and rotates the trailing-token blocking
        # key), so ER blocks keep growing in COUNT, not in size
        suffix = f" || ' qx{i}pt'" if shift > 1 else ""
        return (
            f"SELECT p_partkey + {i * 10_000_000 * shift} AS p_partkey,"
            f" translate(p_name, '{VOWELS}', '{rot}'){suffix} AS p_name,"
            f" p_brand, p_type, p_size, p_retailprice"
            f" FROM read_parquet('{src}/part.parquet')"
        )

    def events_select(i: int) -> str:
        # new users with the SAME temporal pattern per copy: event count,
        # per-hour arrival density, and funnel/transition structure all
        # grow N-fold (the row-linear shape the sweep-line and window probes
        # must digest) while per-user history length stays flat — more
        # traffic means more users, not N-times-longer sessions. A verbatim
        # copy would make the event-table probes measure alpha trivially 0.
        if i == 0:
            return f"SELECT * FROM read_parquet('{src}/events.parquet')"
        return (
            f"SELECT event_id + {i * 100_000_000 * shift} AS event_id, ts,"
            f" user_id + {i * 10_000_000 * shift} AS user_id,"
            f" event_type, value, props"
            f" FROM read_parquet('{src}/events.parquet')"
        )

    copy_union("documents", doc_select)
    copy_union("embeddings", emb_select)
    copy_union("lineitem", li_select)
    copy_union("orders", orders_select)
    copy_union("part", part_select)
    copy_union("events", events_select)
    for t in ["region", "nation", "customer", "supplier"]:
        shutil.copyfile(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    con.close()
    with open(stamp_path, "w") as fh:
        json.dump(stamp, fh)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10, help="inflation factor N (>= 2)")
    subset = ap.add_mutually_exclusive_group()
    # any registry name is probeable, e.g. to re-probe one converted query
    subset.add_argument("--only", default=None, help="comma-separated query names")
    # registry-wide exponent sweep — every batch query, not just the heavy tier
    subset.add_argument("--all", action="store_true")
    ap.add_argument("--oracle", action="store_true")
    ap.add_argument("--oracle-only", action="store_true")
    ap.add_argument("--regen", action="store_true")
    args = ap.parse_args()
    if args.copies < 2:
        raise SystemExit("--copies must be at least 2")
    do_oracle = args.oracle or args.oracle_only

    from boxoffice_spark.registry import load_all
    from boxoffice_spark.testing import engine_fingerprint

    specs = load_all()
    heavy = HEAVY
    if args.only:
        only = set(args.only.split(","))
        unknown = only - set(specs)
        if unknown:
            raise SystemExit(f"--only names not in registry: {sorted(unknown)}")
        # HEAVY order for its members, then the extras
        heavy = [n for n in HEAVY if n in only] + sorted(only - set(HEAVY))
    elif args.all:
        # Streaming twins are excluded: their fn() stands up a file-stream
        # source and drains it, so the wall measures micro-batch scheduling
        # (drain cadence), not a scan/shuffle growth shape; their scale
        # posture is the per-job O(state) notes in streaming/jobs.py plus
        # the stream==batch equality of their batch twins, which ARE probed.
        heavy = [n for n in specs if not n.startswith(("s_stream", "s_stock"))]

    generate(SRC, DST, args.copies, SHIFT, regen=args.regen)
    spark = measure.start_session("sf1_probe")

    def run(name: str, sf_dir: str) -> float:
        fn = specs[name].fn
        return round(measure.time_query(spark, name, lambda: fn(spark, sf_dir), fresh=True).total, 3)

    big = f"{args.copies}x_s"
    results: dict[str, dict[str, float]] = {}
    errors: dict[str, str] = {}
    if not args.oracle_only:
        for name in heavy:
            try:
                t_small = run(name, SRC)
                t_big = run(name, DST)
            except Exception as exc:  # keep sweeping — a 250-query --all run
                errors[name] = f"{type(exc).__name__}: {exc}"  # must survive one bad probe
                print(f"# ERROR {name}: {errors[name][:160]}", file=sys.stderr)
                continue
            alpha = math.log(max(t_big, 1e-3) / max(t_small, 1e-3)) / math.log(args.copies)
            results[name] = {"1x_s": t_small, big: t_big, "alpha": round(alpha, 2)}
            print(f"# timed {name}: {results[name]}", file=sys.stderr)

    oracle_out = None
    if do_oracle:
        from boxoffice_spark.testing import compare, duckdb_connect

        oracle_out = {}
        for name in heavy:
            spec = specs[name]
            if spec.oracle is None or name in ORACLE_SKIP_AT_SF1:
                continue
            # fresh connection per query: a DuckDB internal error poisons
            # the connection it happened on
            con = duckdb_connect(DST)
            try:
                r = compare(name, spec.fn(spark, DST), con, spec.oracle)
                oracle_out[name] = "OK" if r.ok else str(r)
            except Exception as exc:  # engine error, not a value mismatch
                oracle_out[name] = f"ORACLE-ERROR: {type(exc).__name__}: {exc}"
            finally:
                con.close()
            print(f"# oracle {name}: {oracle_out[name][:120]}", file=sys.stderr)

    out = {
        "engines": engine_fingerprint(),
        "sf1_probe": results,
        "oracle": oracle_out,
        "src_dir": SRC,
        "copies": args.copies,
        "sf1_dir": DST,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
