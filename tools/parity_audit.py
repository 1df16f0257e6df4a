"""Engine-build-parity audit over every registered oracle (VERDICT r07
task 2).

The round-7 driver reds were not arithmetic bugs: all eight queries were
bit-exact against the sandbox's duckdb build and hash-red under the
driver's.  The defect class is ORACLE CONSTRUCTS WHOSE SEMANTICS VARY
ACROSS ENGINE BUILDS, which the local gate (boxoffice_spark/testing.py)
cannot detect by construction — its duckdb happens to agree with itself.
This tool is the static defense: it scans all oracle SQL strings for the
three fragile classes the verdict names and classifies every ``round(``
call site by the type of its argument.

Classes
-------
FRAGILE round      ``round(<double chain>, k)``: not one IEEE op — engines
                   implement it as scaled-multiply / BigDecimal / string
                   formatting and disagree by one ulp across builds.
SAFE round         the argument is DECIMAL-typed at its top level (a
                   ``cast(... as decimal(p,s))`` or a ``sum`` of one), so
                   the round is exact fixed-point arithmetic — rule-based
                   on every build (COVERAGE.md parity rule 4's recipe).
GRID round         the argument is a decimal(p,s) expression cast back to
                   double with s <= k: the value already sits on the
                   k-grid, so any nearest-rounding implementation returns
                   it unchanged.
DECCAST            ``cast(<computed double chain> as decimal(p,s))``:
                   double->decimal-grid rounding is itself build surface —
                   CORRECTNESS_r08 refuted the round-8 dec6 recipe 0-for-6
                   (every decimal-cast cell stayed red while every ratio6
                   cell greened). Heuristic: the cast argument contains a
                   division or sqrt (value-preserving casts of fixed-scale
                   money/products don't). Remedy: raw double or ratio6 /
                   units_div exact integer arithmetic — NEVER dec6.
HEX cast           ``'0x' || <hex>`` string-to-integer casts: parse
                   semantics vary across DuckDB versions (the original
                   t_span_corruption red theory). Digit arithmetic
                   (_md5_u60_sql / _md5_mod100_sql) is driver-PROVEN
                   (e_surrogate_keys green, r08).
INDEXED lambda     ``(x, i) ->`` list_transform lambdas: versioned DuckDB
                   sugar; r07 greens carried them but
                   v_int8_quantization_report went red in r08 while
                   carrying one, so the class is re-promoted to high risk
                   until a same-build green separates it from the decimal
                   casts it rode with. Use ``unnest`` +
                   ``generate_subscripts`` zipping.

Fragile hits must either be converted (ratio6/units_div/raw doubles —
dec6 is REFUTED, see functions/numeric.py) or appear in LEGACY_GREEN
below: queries whose fragile construct already holds a driver-green row
on an UNCHANGED oracle — the driver's own engine build demonstrably
agrees on those exact cells, and editing the oracle would void that
evidence while the 50-slot correctness window cannot re-pin the whole
registry in one round. The gate (tests/test_parity_audit.py) fails on any
fragile hit OUTSIDE this ledger, so the class cannot grow. (The r09
canary queries — tag "canary" — are exempt: they pin red constructs on
purpose so the driver localizes the divergence.)

Run: ``python tools/parity_audit.py [--json]``
"""

from __future__ import annotations

import json
import re
import sys

# Queries with driver-green rows whose oracles retain a fragile
# construct on purpose: their green row is evidence the driver build agrees
# on the exact cells these fixtures produce, and an oracle edit voids it.
# Shrink this list by converting entries whenever re-pin budget exists
# (r09 removed the 7 oldest-green ratio/cosine conversions; r10 drained
# 42 more — the full P1 tier plus the quality_score callers — leaving the
# P2/P3/P4 tail below). NEVER add a new query here (new queries must use
# ratio6/units_div/funits/raw doubles/digit arithmetic from the start —
# dec6 is refuted). t_dedup_apply / t_dedup_keep_best remain by design:
# their only residual flag is the '0x' hex cast inside the SHARED
# simhash_hamming_pairs_sql template (editing it would void the greens of
# its other consumers); both are pinned in the r10 window, so their fresh
# greens re-certify that construct on the edited oracles.
LEGACY_GREEN: set[str] = {
    'a_bootstrap_ci_poisson',
    'a_cohens_d',
    'a_exact_median',
    'a_mode_per_group',
    'a_moments_profile',
    'a_price_index',
    'a_sample_estimate_ci',
    'a_theil_sen_trend',
    'a_welch_ttest',
    'dq_benford_totalprice',
    'dq_dp_noisy_release',
    'dq_price_outliers',
    'dq_seasonal_anomaly',
    'dq_volume_anomaly_mad',
    'k_skew_report',
    'm_training_pairs',
    't_bigram_backoff_logprob',
    't_cluster_safe_split',
    't_cooccurrence_pmi',
    't_cross_source_dup_matrix',
    't_decontamination',
    't_decontamination_bloom',
    't_dedup_apply',
    't_dedup_clusters',
    't_dedup_keep_best',
    't_domain_loss_weights',
    't_dsir_weights',
    't_incremental_dedup_clusters',
    't_js_divergence_matrix',
    't_keyphrase_rake',
    't_lang_diversity',
    't_lang_token_mix',
    't_license_detection',
    't_minhash_banded_pairs',
    't_mixture_rebalance',
    't_ngram_novelty',
    't_perplexity_buckets',
    't_readability_scores',
    't_sequence_packing',
    't_simhash',
    't_simhash_hamming_pairs',
    't_source_overlap_matrix',
    't_temperature_mixture',
    't_tokenizer_fertility',
    't_unigram_logprob',
    't_winnow_dup_pairs',
    't_winnow_fingerprints',
    't_zipf_fit',
    'v_centroid_similarity_matrix',
    'v_embedding_drift',
    'v_embedding_near_dup',
    'v_embedding_stats',
    'v_matryoshka_recall',
    'v_semantic_keepers',
    'w_acf_daily',
    'w_anomaly_zscore',
    'w_bollinger_breakout',
    'w_cohort_ltv',
    'w_cohort_retention',
    'w_cusum_changepoint',
    'w_event_funnel',
    'w_event_transitions',
    'w_ewma_daily_revenue',
    'w_funnel_latency',
    'w_markov_3step',
    'w_ntile_quartiles',
    'w_purchase_gaps_survival',
    'w_rfm_segments',
    'w_seasonality_indices',
    'w_yoy_growth',
}


def _split_args(inner: str) -> list[str]:
    """Split a function-call argument list at top-level commas."""
    args, depth, cur, quote = [], 0, [], None
    for ch in inner:
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        args.append("".join(cur).strip())
    return args


def _round_sites(sql: str):
    """Yield (argument, scale_text) for every round( call in ``sql``."""
    low = sql.lower()
    for m in re.finditer(r"\bround\s*\(", low):
        start = m.end()
        depth, i = 1, start
        while i < len(low) and depth:
            if low[i] == "(":
                depth += 1
            elif low[i] == ")":
                depth -= 1
            i += 1
        inner = sql[start : i - 1]
        args = _split_args(inner)
        if len(args) >= 1:
            yield args[0], (args[1] if len(args) > 1 else "0")


_DEC_TOP = re.compile(
    r"^(?:sum\s*\(\s*)?cast\s*\(.*as\s+decimal\s*\(\s*\d+\s*,\s*(\d+)\s*\)\s*\)\s*\)?$",
    re.IGNORECASE | re.DOTALL,
)
_GRID = re.compile(
    r"^cast\s*\(.*decimal\s*\(\s*\d+\s*,\s*(\d+)\s*\).*as\s+double\s*\)$",
    re.IGNORECASE | re.DOTALL,
)


def classify_round(arg: str, scale_text: str) -> str:
    arg = arg.strip()
    m = _DEC_TOP.match(arg)
    if m:
        return "SAFE"
    m = _GRID.match(arg)
    if m:
        try:
            s, k = int(m.group(1)), int(scale_text.strip())
            if s <= k:
                return "GRID"
        except ValueError:
            pass
        return "FRAGILE"
    return "FRAGILE"


_CAST_DEC = re.compile(r"\bcast\s*\(", re.IGNORECASE)


def _deccast_sites(sql: str):
    """Yield cast arguments of ``cast(X as decimal(p,s))``, scale >= 6,
    where X is a COMPUTED double chain — ANY ``+ - * /`` arithmetic or a
    sqrt/exp/ln/log call in the cast body (broadened per ADVICE r09: the
    verbatim r08-red construct ``cast((val-deq)*(val-deq) as
    decimal(27,12))`` has no division, just a ``-``/``*`` chain). This is
    the construct class CORRECTNESS_r08 proved build-sensitive.
    Value-preserving casts (bare columns, scale < 6 money/midrank cells)
    don't match."""
    for m in _CAST_DEC.finditer(sql):
        start = m.end()
        depth, i = 1, start
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        inner = sql[start : i - 1]
        # the ``as decimal`` of THIS cast is the one at paren-depth 0
        # (nested casts inside the argument sit at depth > 0)
        arg = None
        for am in re.finditer(
            r"\bas\s+(?:(decimal)\s*\(\s*\d+\s*,\s*(\d+)\s*\)|(double|bigint|int\w*))",
            inner,
            re.IGNORECASE,
        ):
            d = inner[: am.start()].count("(") - inner[: am.start()].count(")")
            if d == 0:
                arg = (inner[: am.start()].strip(), am.group(1), am.group(2))
                break
        if not arg or not arg[1]:
            continue
        body, _, scale = arg
        # scale >= 6 casts are the grid class that went driver-red; low-
        # scale casts of /2.0 midranks / cent money are value-preserving
        if int(scale) < 6:
            continue
        # ADVICE r09: the exact r08-red construct was
        # cast((val-deq)*(val-deq) as decimal(27,12)) — no division or
        # sqrt in the cast body, just a '-'/'*' chain of computed doubles.
        # Flag ANY arithmetic in a scale>=6 decimal cast body (the scale
        # filter above already excludes the value-preserving money class).
        if re.search(r"[-+*/]", body) or re.search(
            r"\b(sqrt|exp|ln|log)\s*\(", body, re.IGNORECASE
        ):
            yield body


# Result-column types whose value-hash canonicalization diverges between
# the driver's engine build and local duckdb (VERDICT r09: the r07-r09 red
# set was EXACTLY the set of oracles emitting a HUGEINT column — DuckDB
# promotes sum(INTEGER/BIGINT) to HUGEINT — while 0 of 43 greens did; the
# driver's own A/B proved the BIGINT cast fixes it: c9_span_sentinels
# green vs the un-cast t_span_corruption red). DECIMAL(38,0) is HUGEINT's
# cast-shaped twin; UHUGEINT included for completeness.
_WIDE_TYPE = re.compile(r"^(U?HUGEINT|DECIMAL\(38,\s*0\))$", re.IGNORECASE)

# Static early warning for the same class: a final-projection sum( whose
# result is not wrapped in a CAST. Heuristic only — the DESCRIBE-based
# hugeint_scan below is the authoritative gate.
_UNCAST_SUM = re.compile(r"(?<!\w)sum\s*\(", re.IGNORECASE)


def hugeint_scan(sf_dir: str) -> dict[str, list[str]]:
    """Run ``DESCRIBE <oracle>`` for every registered oracle against the
    fixture views and return {query: ["col:TYPE", ...]} for any result
    column whose DuckDB type is HUGEINT / UHUGEINT / DECIMAL(38,0) —
    the one construct class that separates all six r07-r09 driver reds
    from all greens. DESCRIBE binds and types the query without
    executing it, so the scan is cheap even for heavy oracles.
    Gate (tests/test_parity_audit.py): this must return {}."""
    sys.path.insert(0, ".")
    from boxoffice_spark.registry import load_all
    from boxoffice_spark.testing import duckdb_connect

    con = duckdb_connect(sf_dir)
    hits: dict[str, list[str]] = {}
    for name, spec in load_all().items():
        if not spec.oracle or "canary" in spec.tags:
            continue
        cols = con.sql(f"DESCRIBE {spec.oracle}").fetchall()
        bad = [f"{c}:{t}" for c, t, *_ in cols if _WIDE_TYPE.match(t.strip())]
        if bad:
            hits[name] = bad
    con.close()
    return hits


def audit() -> dict:
    sys.path.insert(0, ".")
    from boxoffice_spark.registry import load_all

    findings: dict[str, list[str]] = {}
    counts = {
        "SAFE": 0,
        "GRID": 0,
        "FRAGILE": 0,
        "DECCAST": 0,
        "HEX": 0,
        "LAMBDA": 0,
    }
    for name, spec in load_all().items():
        sql = spec.oracle
        if not sql or "canary" in spec.tags:
            continue  # canaries pin red constructs on purpose
        probs: list[str] = []
        for arg, scale in _round_sites(sql):
            cls = classify_round(arg, scale)
            counts[cls] += 1
            if cls == "FRAGILE":
                head = " ".join(arg.split())[:80]
                probs.append(f"FRAGILE round({head}..., {scale.strip()})")
        for arg in _deccast_sites(sql):
            counts["DECCAST"] += 1
            head = " ".join(arg.split())[:80]
            probs.append(f"DECCAST cast(({head}...) as decimal)")
        if re.search(r"'0x'\s*\|\|", sql):
            counts["HEX"] += 1
            probs.append("HEX '0x'||… string cast")
        if re.search(r"\(\s*\w+\s*,\s*\w+\s*\)\s*->", sql):
            counts["LAMBDA"] += 1
            probs.append("INDEXED (x, i) -> lambda")
        if probs:
            findings[name] = probs
    untracked = {n: p for n, p in findings.items() if n not in LEGACY_GREEN}
    return {
        "counts": counts,
        "flagged": findings,
        "legacy_green": sorted(n for n in findings if n in LEGACY_GREEN),
        "untracked": untracked,
        "ok": not untracked,
    }


def conversion_plan(out: dict) -> list[tuple[str, str, str]]:
    """Rank the legacy-green ledger for conversion: (priority, query,
    reason), highest risk first. Re-ranked after CORRECTNESS_r08
    (VERDICT r08 task 3): dec6 is REFUTED (0-for-6) — no remedy below
    prescribes it; indexed lambdas and decimal casts of double chains
    are promoted to P1-equivalent risk (v_int8_quantization_report went
    red carrying both).

    P1 integer-ratio-shaped rounds — the proven-red class with the
       proven-green remedy; convert to ratio6 (NEVER dec6). 10 of these
       (the oldest greens, r02-r03) were converted and pinned in r09 as
       the validation slice; blitz the rest only after those green.
    P1 decimal casts of computed double chains (DECCAST) and indexed
       lambdas — remedy: raw doubles / ratio6 / units_div, and
       unnest+generate_subscripts.
    P2 other double-chain rounds (z/sqrt/log) — remedy: emit the RAW
       double (correctly-rounded IEEE chains are bit-deterministic) or
       the statistic's square as a ratio6 rational; where a grid value
       is load-bearing (tie-broken rankings), fround's floor-implemented
       HALF_UP pins the implementation.
    P3 quantile/percentile interpolation rounds — interpolation-contract
       risk on top of the round; convert with fround + the type-7 note.
    P4 hex casts ONLY — digit arithmetic is driver-proven
       (e_surrogate_keys r08 green), but plain hex also holds r07/r08
       greens, so these convert last. Nothing is 'proven' without a
       same-round driver green on the exact construct.
    """
    plan = []
    for name in sorted(out["flagged"]):
        if name not in LEGACY_GREEN:
            continue
        probs = out["flagged"][name]
        rounds = [p for p in probs if p.startswith("FRAGILE round")]
        has_deccast = any(p.startswith("DECCAST") for p in probs)
        has_lambda = any(p.startswith("INDEXED") for p in probs)
        if has_deccast or has_lambda:
            plan.append(
                ("P1", name, "decimal-cast-of-double / indexed lambda "
                             "(r08-red class) -> raw double / ratio6 / "
                             "generate_subscripts")
            )
        elif not rounds:
            plan.append(("P4", name, "hex only (digit-arithmetic remedy is r08-proven)"))
        elif any("quantile" in p or "percentile" in p for p in rounds):
            plan.append(("P3", name, "quantile interpolation round -> fround"))
        elif any(("sqrt" in p or "ln(" in p or "log" in p or "exp(" in p) for p in rounds):
            plan.append(("P2", name, "irrational-chain round -> raw double / fround"))
        else:
            plan.append(("P1", name, "ratio-shaped round -> ratio6 (never dec6)"))
    order = {"P1": 0, "P2": 1, "P3": 2, "P4": 3}
    plan.sort(key=lambda t: (order[t[0]], t[1]))
    return plan


if __name__ == "__main__":
    if "--types" in sys.argv:
        import os

        sf = os.environ.get("SPARK_GRAFT_TYPES_SF", "/root/testdata/sf0.01")
        hits = hugeint_scan(sf)
        if hits:
            for n, cols in sorted(hits.items()):
                print(f"  [WIDE-TYPE] {n}: {', '.join(cols)}")
        print("wide-typed oracles:", len(hits))
        sys.exit(0 if not hits else 1)
    out = audit()
    if "--plan" in sys.argv:
        for pri, name, why in conversion_plan(out):
            print(f"{pri} {name}: {why}")
        sys.exit(0)
    if "--json" in sys.argv:
        print(json.dumps(out, indent=2, sort_keys=True))
    else:
        print("round sites:", out["counts"])
        for n, probs in sorted(out["flagged"].items()):
            tag = "legacy-green" if n in LEGACY_GREEN else "UNTRACKED"
            for p in probs:
                print(f"  [{tag}] {n}: {p}")
        print("untracked fragile queries:", len(out["untracked"]))
    sys.exit(0 if out["ok"] else 1)
