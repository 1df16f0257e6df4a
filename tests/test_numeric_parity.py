"""Cross-engine parity of the rule-based final-cell helpers (parity rules
5-6, round 8): ratio6 (functions/numeric.py) and the digit-arithmetic
md5 SQL helpers must produce IDENTICAL cells in Spark and DuckDB — on the
adversarial inputs the round-7 driver reds were made of: exact dyadic 6dp
grid midpoints (j/2^7, j/(2^7*5)) where round(double, 6) implementations
legitimately disagree."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from boxoffice_spark.functions.numeric import (
    ratio6,
    ratio6_sql,
)

# (num, den) integer ratios whose exact value sits ON a 6dp grid midpoint
# (reduced denominator 2^7 * 5^m) plus ordinary and boundary cases.
RATIOS = [
    (1, 128),  # 0.0078125 — exactly between 0.007812 and 0.007813
    (3, 128),
    (127, 128),
    (1, 640),  # 0.0015625 — 2^7 * 5 denominator, also a midpoint
    (7, 640),
    (1, 64),  # 0.015625 — ON the grid (6 decimals), not a midpoint
    (0, 7),
    (7, 7),
    (1, 3),
    (2, 3),
    (999999, 1000000),
    (1, 201),  # permutation-test p-value shape
    (123456, 789012),
]


def test_ratio6_matches_duckdb_on_midpoints(spark):
    rows = spark.createDataFrame(RATIOS, "num long, den long").select(
        "num", "den", ratio6("num", "den").alias("r")
    )
    got = {(r["num"], r["den"]): r["r"] for r in rows.collect()}
    con = duckdb.connect()
    for num, den in RATIOS:
        (want,) = con.sql(
            f"SELECT {ratio6_sql(str(num), str(den))}"
        ).fetchone()
        assert got[(num, den)] == want, (num, den, got[(num, den)], want)


def test_ratio6_is_half_up_exact():
    """The BIGINT formula IS HALF_UP: check against Python Fraction."""
    from fractions import Fraction

    for num, den in RATIOS:
        micro = (2 * num * 1_000_000 + den) // (2 * den)
        exact = Fraction(num, den) * 1_000_000
        # HALF_UP for nonnegative: floor(x + 1/2)
        assert micro == int(exact + Fraction(1, 2)) or (
            # floor(x+1/2) == int(x+1/2) for nonnegative values
            micro == (exact + Fraction(1, 2)).__floor__()
        )


WIDE_RATIOS = [
    # (num, den) with intermediates past 2^63: 2*num*1e6 overflows BIGINT,
    # so the ratio6 formula would wrap — units_div must stay exact via
    # DECIMAL(38,0)/HUGEINT. Quotients all fit BIGINT (the contract).
    (9876543210987654321098765432, 3000000007000000000),
    (2**70, 3 * 10**14),
    (10**28 + 7, 10**16 + 1),
    (1, 128),  # small midpoint: must agree with plain ratio6
    (0, 5),
    ((10**14) ** 2, 10**16),  # chi2-shaped: diff^2 / (r*c)
]


def test_units_div_matches_duckdb_past_bigint(spark):
    from boxoffice_spark.functions.numeric import units_div, units_div_sql

    exprs = [
        units_div(str(num), str(den), 6).alias(f"u{i}")
        for i, (num, den) in enumerate(WIDE_RATIOS)
    ]
    row = spark.range(1).select(*exprs).collect()[0]
    con = duckdb.connect()
    for i, (num, den) in enumerate(WIDE_RATIOS):
        (want,) = con.sql(
            f"SELECT {units_div_sql(str(num), str(den), 6)}"
        ).fetchone()
        assert row[f"u{i}"] == want, (num, den, row[f"u{i}"], want)


def test_units_div_is_half_up_exact():
    from fractions import Fraction

    for num, den in WIDE_RATIOS:
        units = (2 * num * 10**6 + den) // (2 * den)
        exact = Fraction(num, den) * 10**6
        assert units == (exact + Fraction(1, 2)).__floor__()


def test_ratio6w_agrees_with_ratio6_in_range(spark):
    """Where both fit BIGINT, the wide path must be value-identical."""
    from boxoffice_spark.functions.numeric import ratio6w, ratio6w_sql

    rows = spark.createDataFrame(RATIOS, "num long, den long").select(
        ratio6("num", "den").alias("narrow"),
        ratio6w("num", "den").alias("wide"),
    )
    for r in rows.collect():
        assert r["narrow"] == r["wide"]
    con = duckdb.connect()
    for num, den in RATIOS:
        a, b = con.sql(
            f"SELECT {ratio6_sql(str(num), str(den))},"
            f" {ratio6w_sql(str(num), str(den))}"
        ).fetchone()
        assert a == b


def test_fround_matches_duckdb_and_numpy_kernel(spark):
    """fround (floor-implemented HALF_UP) must agree with DuckDB's twin
    AND the Arrow kernels' _round_half_up on the dyadic midpoints where
    round(double, k) implementations disagree across builds."""
    import numpy as np

    from boxoffice_spark.functions.numeric import fround, fround_sql
    from boxoffice_spark.operators.similarity import _round_half_up

    vals = [0.0078125, -0.0078125, 0.015625, 1.0 / 3, -2.0 / 3, 0.0,
            0.9999995, -0.9999995, 0.1234564999]
    rows = spark.createDataFrame([(v,) for v in vals], "x double").select(
        "x", fround(F.col("x"), 6).alias("r")
    )
    got = {r["x"]: r["r"] for r in rows.collect()}
    con = duckdb.connect()
    for v in vals:
        (want,) = con.sql(
            f"SELECT {fround_sql(f'CAST({v!r} AS DOUBLE)', 6)}"
        ).fetchone()
        assert got[v] == want, (v, got[v], want)
        assert got[v] == float(_round_half_up(np.float64(v), 6)), v


@pytest.mark.parametrize(
    "s", ["", "a", "42:7", "sk1:Customer#000000001", "pos:0", "çétüé"]
)
def test_md5_digit_arithmetic_matches_spark_conv(spark, s):
    """_md5_u60_sql / _md5_mod100_sql == Spark's conv(md5-prefix) exactly."""
    from boxoffice_spark.queries.etl import _md5_u60_sql
    from boxoffice_spark.queries.text_pipeline import _md5_mod100_sql

    row = (
        spark.createDataFrame([(s,)], "s string")
        .select(
            F.conv(F.substring(F.md5("s"), 1, 15), 16, 10)
            .cast("long")
            .alias("u60")
        )
        .collect()[0]
    )
    con = duckdb.connect()
    got_u60, got_mod = con.sql(
        "SELECT "
        + _md5_u60_sql("h")
        + ", "
        + _md5_mod100_sql("h")
        + f" FROM (SELECT md5(?) AS h)",
        params=[s],
    ).fetchone()
    assert got_u60 == row["u60"]
    assert got_mod == row["u60"] % 100


def test_round_half_up_kernel_matches_engines():
    """operators/similarity._round_half_up == Spark/DuckDB HALF_UP on the
    dyadic midpoints numpy's half-even breaks the other way."""
    import numpy as np

    from boxoffice_spark.operators.similarity import _round_half_up

    x = np.array([0.0078125, -0.0078125, 0.0234375, 0.5, -0.5, 0.1234564])
    got = _round_half_up(x, 6)
    want = np.array([0.007813, -0.007813, 0.023438, 0.5, -0.5, 0.123456])
    assert np.array_equal(got, want)
    # np.round disagrees on the midpoints — that's the defect this guards
    assert not np.array_equal(np.round(x, 6), want)


def test_usum_bit_identical_to_dsum_on_grid_doubles(spark):
    """r12: the integer-units sum (usum) must equal the decimal-cast sum
    (dsum) BIT-for-bit on 0.01-grid money doubles and their 1e-4-grid
    products — the precondition for replacing dsum in flagship/Q1 without
    touching the decimal oracle text."""
    from pyspark.sql import functions as F

    from boxoffice_spark.functions.numeric import dsum, usum

    rows = [(900.68,), (104999.91,), (0.01,), (38000.25,), (77949.91,)]
    df = spark.createDataFrame(rows * 201, "x double").withColumn(
        "d", F.lit(0.07)
    )
    got = df.agg(
        dsum("x").alias("a_dec"),
        usum(F.col("x"), 2).alias("a_unit"),
        dsum(F.col("x") * (1 - F.col("d")), scale=4).alias("b_dec"),
        usum(F.col("x") * (1 - F.col("d")), 4).alias("b_unit"),
    ).collect()[0]
    assert got["a_dec"].hex() == got["a_unit"].hex()
    assert got["b_dec"].hex() == got["b_unit"].hex()


def test_umerge_two_level_survives_bigint_wrap(spark):
    """r12: the two-level units sum (long partials per partition ->
    DECIMAL(38,0) merge) must stay exact where a FLAT long sum wraps
    2^63 — the reason a_groupby_multi_agg's corpus-spanning groups use
    it. 2048 rows x 9e15 units = 1.8e19 > 2^63."""
    from pyspark.sql import functions as F

    from boxoffice_spark.functions.numeric import funits, umerge

    df = (
        spark.range(2048)
        .repartition(8)
        .select(F.lit(900_000_000_000.0).alias("x"))  # 9e15 units at scale 4
    )
    # the flat long sum fails LOUDLY past 2^63 (Spark 4 ANSI arithmetic) —
    # never a silent wrap, but still a query failure the two-level avoids
    with pytest.raises(Exception, match="(?i)overflow"):
        df.agg(F.sum(funits(F.col("x"), 4)).alias("s")).collect()
    partials = df.groupBy(F.spark_partition_id().alias("_p")).agg(
        F.sum(funits(F.col("x"), 4)).alias("u")
    )
    merged = partials.agg(umerge("u", 4).alias("s")).collect()[0]["s"]
    assert merged == 2048 * 900_000_000_000.0
