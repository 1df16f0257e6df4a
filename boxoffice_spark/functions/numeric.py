"""Deterministic numeric aggregation helpers.

Floating-point sums depend on accumulation order, and Spark's partial
aggregation order is nondeterministic across partitionings — so a plain
``sum(double)`` is not reproducible bit-for-bit, which breaks value-hash
comparison against any oracle. The fix: sum in fixed-point decimal (exact,
order-independent) and cast the final result back to double. Overhead is a
per-row cast; the aggregation stays JVM-side and partial (map-side combine
still applies).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# precision 27 + 10 digits of headroom Spark adds for sum() keeps us inside
# decimal(38,_) even at 100 TB row counts (1e12 rows x 1e9 magnitude).
_PREC = 27


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({_PREC},{scale})")).cast("double")


def dsum_sql(expr: str, scale: int = 2) -> str:
    """The DuckDB-equivalent SQL text of :func:`dsum` (for oracle strings)."""
    return f"cast(sum(cast(({expr}) as decimal({_PREC},{scale}))) as double)"


def davg(col: Column | str, scale: int = 6) -> Column:
    """Order-independent mean: exact decimal sum divided by count, in double."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, scale) / F.count(c)


def davg_sql(expr: str, scale: int = 6) -> str:
    return f"({dsum_sql(expr, scale)} / count({expr}))"


# ---------------------------------------------------------------------------
# Final-cell projections for cross-engine-build parity (COVERAGE.md rule 4).
#
# ``round(double, k)`` is NOT a single IEEE-754 operation: engines implement
# it as scaled-multiply, string formatting, or BigDecimal arithmetic, and the
# implementations disagree by one ulp across builds of the SAME engine — the
# round-7 driver reds were exactly this class.
#
# Driver evidence (CORRECTNESS_r08) on the replacements:
#   ratio6  — 2-for-2 green (t_oov_rate, t_lang_id_agreement). PROVEN.
#   dec6    — 0-for-6 red (dq_ks_drift, a_mann_whitney_u, a_permutation_test,
#             a_kendall_tau, a_cramers_v, v_int8_quantization_report).
#             REFUTED: double->decimal-grid rounding of a full-mantissa
#             double is itself build surface (DuckDB's decimal rescale path
#             rounds half-even for literals, half-away for casts, and the
#             driver's build disagrees with local 1.0.0 somewhere in there).
# The working recipes are therefore:
#   - RAW DOUBLES for irrational chains: sqrt / mul / div / add over exact
#     integer or decimal-sum inputs are each one correctly-rounded IEEE-754
#     hardware op, so the full-mantissa result is bit-identical on every
#     conformant build — emit it untouched and let the (float-tolerant)
#     driver hash compare doubles.
#   - ratio6 / units_div for integer-ratio cells, where an exact 6dp grid
#     midpoint IS reachable and a nearest-cast's tie rule would decide the
#     cell: do the HALF_UP rounding ourselves in exact integer arithmetic.
#   - NO decimal cast anywhere over a full-mantissa double. Decimal casts
#     are only safe on value-preserving inputs (money already at scale).


def ratio6(num: str, den: str) -> Column:
    """Final-cell rounding for INTEGER-RATIO cells (rates, p-values), where
    exact 6dp grid midpoints ARE reachable (denominator 2^7*5^m) and a
    nearest-cast's tie rule would decide the cell. HALF_UP entirely in
    BIGINT: micro = (2*num*1e6 + den) div (2*den), then ONE correctly-rounded
    IEEE division back to double — bit-identical on every engine build.
    ``num``/``den`` are COLUMN NAMES already in scope (num >= 0, den > 0;
    exact while 2e6*num fits BIGINT, i.e. num < 4.6e12 — per-group counts,
    not corpus rows)."""
    return F.expr(
        f"CAST(((2 * CAST(({num}) AS BIGINT) * 1000000"
        f" + CAST(({den}) AS BIGINT))"
        f" div (2 * CAST(({den}) AS BIGINT)))"
        f" AS DOUBLE) / 1000000.0"
    )


def ratio6_sql(num: str, den: str) -> str:
    """DuckDB twin of :func:`ratio6` (``//`` == Spark's ``div`` for
    nonnegative integers)."""
    return (
        f"(CAST(((2 * CAST(({num}) AS BIGINT) * 1000000"
        f" + CAST(({den}) AS BIGINT))"
        f" // (2 * CAST(({den}) AS BIGINT)))"
        f" AS DOUBLE) / 1000000.0)"
    )


# ---------------------------------------------------------------------------
# Wide (128-bit) exact integer division: the ratio6 recipe for numerators
# that overflow BIGINT. Spark evaluates the intermediates in DECIMAL(38,0)
# (exact integer arithmetic up to 38 digits; ``div`` on decimals is
# BigDecimal divideToIntegral, returned as BIGINT), DuckDB in HUGEINT
# (128-bit; ``//`` truncates toward zero == floor for the nonnegative
# operands required here). Verified bit-identical on both engines for
# intermediates past 2^63 (tests/test_numeric.py).
#
# Contract: num >= 0, den > 0, both exact integers; 2 * num * 10^scale must
# fit 38 digits (num < 5e30 at scale 6) and the QUOTIENT num*10^scale/den
# must fit BIGINT — Spark's div returns long and silently wraps past 2^63.


def units_div(num: str, den: str, scale: int) -> Column:
    """HALF_UP integer units: round(num/den * 10^scale) as BIGINT, computed
    entirely in exact DECIMAL(38,0) arithmetic — (2*num*10^s + den) div
    (2*den). ``num``/``den`` are SQL snippets yielding NONNEGATIVE exact
    integers (any integer/decimal width)."""
    p = 10**scale
    return F.expr(
        f"(2 * CAST(({num}) AS DECIMAL(38,0)) * {p}"
        f" + CAST(({den}) AS DECIMAL(38,0)))"
        f" div (2 * CAST(({den}) AS DECIMAL(38,0)))"
    )


def units_div_sql(num: str, den: str, scale: int) -> str:
    """DuckDB twin of :func:`units_div` (HUGEINT path), cast to BIGINT."""
    p = 10**scale
    return (
        f"CAST((2 * CAST(({num}) AS HUGEINT) * {p}"
        f" + CAST(({den}) AS HUGEINT))"
        f" // (2 * CAST(({den}) AS HUGEINT)) AS BIGINT)"
    )


def ratio6w(num: str, den: str) -> Column:
    """Wide :func:`ratio6`: exact HALF_UP 6dp of num/den with 128-bit
    intermediates, emitted as DOUBLE via one correctly-rounded IEEE
    division. Use when 2e6*num can exceed BIGINT (corpus-squared
    numerators); same nonnegativity contract as units_div."""
    return units_div(num, den, 6).cast("double") / 1000000.0


def ratio6w_sql(num: str, den: str) -> str:
    """DuckDB twin of :func:`ratio6w`."""
    return f"(CAST({units_div_sql(num, den, 6)} AS DOUBLE) / 1000000.0)"


# ---------------------------------------------------------------------------
# Floor-implemented HALF_UP rounding for DOUBLE chains that must land on a
# decimal grid (ranking/tie-break contracts where the grid IS the
# semantics, e.g. cosine top-k cuts). Unlike round(double, k) — a library
# function whose implementation (scaled-multiply vs BigDecimal vs string
# format) differs by one ulp across engine builds — this pins the
# implementation to three IEEE-754 hardware ops (abs, multiply, add) plus
# an exact floor and sign restore, evaluated identically everywhere:
#     sign(x) * floor(abs(x) * 10^k + 0.5) / 10^k
# It equals HALF_UP (away from zero) everywhere, and is the exact formula
# of the Arrow kernels' _round_half_up (operators/similarity.py), so
# Spark, DuckDB, and numpy all collapse to the same grid point.


def fround(col: Column, k: int) -> Column:
    """Floor-implemented HALF_UP round of a double to k decimals."""
    s = float(10**k)
    return F.signum(col) * F.floor(F.abs(col) * F.lit(s) + F.lit(0.5)) / s


def funits(col: Column, k: int) -> Column:
    """:func:`fround` in exact integer units: sign(x)*floor(abs(x)*10^k
    + 0.5) as BIGINT — the SUMMABLE form of a pinned k-dp grid value.
    Integer units aggregate order-free with no decimal cast of a double
    anywhere (the refuted DECCAST class), and one IEEE division by 10^k
    recovers the grid double bit-identically on every build. Exact while
    abs(x)*10^k + 0.5 stays under 2^53."""
    s = float(10**k)
    return (
        F.signum(col) * F.floor(F.abs(col) * F.lit(s) + F.lit(0.5))
    ).cast("long")


def usum(col: Column, scale: int = 2) -> Column:
    """Integer-units twin of :func:`dsum` for doubles that sit EXACTLY on
    the 10^-scale grid (money/quantity columns): per-row :func:`funits`
    (three IEEE hardware ops + a primitive long cast — no double->decimal
    cast, whose Decimal.fromDouble path string-formats every row), summed
    as BIGINT, then ONE exact DECIMAL(38,0) rescale and ONE correctly-
    rounded cast back to double. Bit-identical to ``dsum(col, scale)``
    whenever (a) each input is within 0.5 grid units of its true decimal
    value after the *10^scale (always, for values parsed from <=15
    significant digits) and (b) the per-group unit sum stays under 2^63.

    Measured (r12, steal_delta 102, min-of-7 at sf0.1): the Q1 aggregate
    0.79 s (decimal) -> 0.35 s (this form); the decimal cast was ~2.2x of
    the whole aggregate stage.

    Wrap contract: the caller must show max|col|*10^scale * rows-per-group
    < 9.2e18 for its grouping (e.g. flagship's (ship_dt, brand) cells);
    past that bound Spark 4's ANSI arithmetic fails LOUDLY
    (ARITHMETIC_OVERFLOW, regression-tested) — never a silent wrap.
    For groups that span the corpus (Q1's 4 flag/status buckets at 100 TB)
    use the two-level pattern instead: group by (keys,
    spark_partition_id()) summing longs — bounded by rows per scan split —
    then merge partials with :func:`umerge`."""
    return (
        F.sum(funits(col, scale)).cast("decimal(38,0)") / F.lit(10**scale)
    ).cast("double")


def umerge(col: Column | str, scale: int) -> Column:
    """Merge stage of the two-level units sum: exact DECIMAL(38,0) sum of
    per-partition BIGINT unit partials (no wrap until 38 digits), one
    exact rescale, one correctly-rounded cast to double — the same final
    two ops as :func:`usum`, so the result is bit-identical to the flat
    decimal sum."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast("decimal(38,0)")) / F.lit(10**scale)).cast("double")


def funits_sql(expr: str, k: int) -> str:
    """DuckDB twin of :func:`funits` (same op order)."""
    s = float(10**k)
    return f"CAST(sign({expr}) * floor(abs({expr}) * {s!r} + 0.5) AS BIGINT)"


def fround_sql(expr: str, k: int) -> str:
    """DuckDB twin of :func:`fround` (same op order)."""
    s = float(10**k)
    return f"(sign({expr}) * floor(abs({expr}) * {s!r} + 0.5) / {s!r})"
