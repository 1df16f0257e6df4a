"""Gate for the engine-build-parity audit (VERDICT r07 task 2).

The round-7 driver reds were oracle constructs whose semantics vary across
engine builds (final round(double, k), '0x' hex casts, indexed lambdas) —
invisible to the local DuckDB gate by construction. tools/parity_audit.py
classifies every oracle's round()/cast surface; this test pins its result:
no fragile construct may ship outside the explicit LEGACY_GREEN ledger
(driver-green queries whose unchanged oracles are themselves the evidence
the driver build agrees), and the ledger can only shrink.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from parity_audit import LEGACY_GREEN, audit, hugeint_scan  # noqa: E402


def test_no_untracked_fragile_constructs():
    out = audit()
    assert out["ok"], (
        "oracles with engine-build-sensitive constructs outside the "
        f"legacy-green ledger: {sorted(out['untracked'])} — convert them "
        "to ratio6/units_div/fround (functions/numeric.py) before "
        "registering"
    )


def test_no_wide_typed_oracle_columns(sf_dir):
    """VERDICT r09 task 2: the r07-r09 red set was EXACTLY the set of
    oracles whose DuckDB result contained a HUGEINT (or DECIMAL(38,0))
    column — the driver's engine build canonicalizes those differently
    than local duckdb, so the value hash diverges on identical values.
    DESCRIBE types every oracle against the fixture views without
    executing it; no registered oracle may emit a wide-typed column
    (cast the cell to BIGINT in the final projection — the fix the
    driver itself proved via the r09 c9_span_sentinels canary)."""
    hits = hugeint_scan(sf_dir)
    assert not hits, (
        "oracles emitting HUGEINT/DECIMAL(38,0) result columns (the "
        f"r07-r09 driver-red construct): {hits} — CAST the cell to "
        "BIGINT in the oracle's final projection"
    )


def test_ledger_entries_are_real_and_still_fragile():
    """Every ledger name must exist in the registry AND still be flagged —
    a converted query must leave the ledger in the same change."""
    out = audit()
    flagged = set(out["flagged"])
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from boxoffice_spark.registry import load_all

    reg = load_all()
    missing = LEGACY_GREEN - set(reg)
    assert not missing, f"ledger names not in registry: {sorted(missing)}"
    stale = LEGACY_GREEN - flagged
    assert not stale, (
        f"ledger entries no longer fragile (remove them): {sorted(stale)}"
    )


def test_converted_round7_reds_are_clean():
    """The 8 round-7 driver reds and the 4 window conversions must carry
    no fragile construct at all (they are the class's named fixes)."""
    out = audit()
    fixed = {
        "dq_ks_drift",
        "a_mann_whitney_u",
        "a_permutation_test",
        "a_kendall_tau",
        "a_cramers_v",
        "t_lang_id_agreement",
        "t_oov_rate",
        "t_span_corruption",
        "e_surrogate_keys",
        "e_display_normalize",
        "w_activity_heatmap",
        "v_int8_quantization_report",
        # r09 validation-slice conversions (oldest-green P1s, fully clean)
        "v_embedding_near_dup_lsh",
        "t_repetition_stats",
        "t_text_stats",
        "t_quality_by_lang",
        "v_cosine_topk",
        "v_hard_negatives",
        "v_knn_label_consistency",
    }
    dirty = fixed & set(out["flagged"])
    assert not dirty, f"converted queries regressed to fragile: {sorted(dirty)}"


def test_deccast_detector_flags_arithmetic_chain_without_division():
    """VERDICT r10 item 5: the broadened detector (ADVICE r09) must flag
    the VERBATIM r08-red construct — a '-'/'*' chain cast to a scale>=6
    decimal grid with no division or sqrt anywhere in the cast body."""
    from tools.parity_audit import _deccast_sites

    sql = "SELECT cast((val-deq)*(val-deq) as decimal(27,12)) AS cell FROM t"
    hits = list(_deccast_sites(sql))
    assert hits == ["(val-deq)*(val-deq)"], hits
    # value-preserving classes must NOT match: bare column, scale < 6
    assert not list(_deccast_sites("SELECT cast(val as decimal(27,12)) FROM t"))
    assert not list(
        _deccast_sites("SELECT cast(a * b as decimal(27,2)) FROM t")
    )
