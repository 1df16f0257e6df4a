"""The local mirror of the driver's t2 gate: every registered query with an
oracle must match DuckDB exactly (count + schema + sorted values); queries
without an oracle must run, return columns and return rows."""

from __future__ import annotations

import pytest

from boxoffice_spark.registry import load_all
from boxoffice_spark.testing import compare

SPECS = load_all()

# Queries allowed to return ZERO rows on the healthy fixture. A 0==0 oracle
# match is vacuous — it proves nothing about the value logic, and a query
# can pass that way without ever executing its statistic on a row of data;
# an empty rows-only result likewise proves only that the plan ran. Any
# query added here must carry a comment explaining why empty-on-healthy-
# data is the semantically correct readout AND a test elsewhere that
# exercises its value path on planted violations. Currently empty: every
# oracle-backed query produces rows at sf0.001, sf0.01 and sf0.1, every
# rows-only query at sf0.001 and sf0.01.
ZERO_ROW_ALLOWLIST: frozenset[str] = frozenset()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, sf_dir, oracle_con):
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    if spec.oracle is None:
        rows = df.count()
        assert len(df.columns) > 0
        if name not in ZERO_ROW_ALLOWLIST:
            assert rows > 0, f"{name}: rows-only query returned no rows"
        return
    result = compare(name, df, oracle_con, spec.oracle)
    assert result.ok, str(result)
    if name not in ZERO_ROW_ALLOWLIST:
        assert result.spark_rows > 0, (
            f"{name}: oracle match is vacuous (0 == 0 rows). Recalibrate the "
            "query against the fixture or add it to ZERO_ROW_ALLOWLIST with "
            "a justification and a planted-violation test."
        )
