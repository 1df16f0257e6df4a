"""SQL-text surface queries (SURVEY.md §3.3 / Phase 6).

Prove the S6/D4 path: SQL strings over registered views produce the same
Catalyst plans (and the same oracle-checked answers) as the DataFrame API.
``q_sql_dashboard_load`` runs IDENTICAL text on Spark and DuckDB — the
ANSI-subset discipline the NL agent's generated SQL must follow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from boxoffice_spark.agent import run_sql
from boxoffice_spark.registry import register

# Reference dashboard.py:79-86: hand-pruned projection (9 of 20 cols) +
# multi-key ORDER BY, shipped to the store as SQL text (P1/O1/S6). Same
# string runs on both engines — ANSI subset only.
_DASHBOARD_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       CAST(o_orderdate AS DATE) AS order_dt, o_orderpriority
FROM orders
WHERE o_orderstatus = 'F'
ORDER BY order_dt DESC, o_totalprice ASC, o_orderkey
LIMIT 100
"""
# o_orderkey tie-break: (date, price) can collide, and a sort+LIMIT on
# non-unique keys selects a nondeterministic row set at the boundary —
# the same rule every other top-k query here follows.


@register("q_sql_dashboard_load", oracle=_DASHBOARD_SQL, tags=("sql", "dashboard"))
def q_sql_dashboard_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard load query as raw SQL text over registered views — the
    exact string is also the oracle, so this asserts the ANSI-dialect
    round trip end-to-end."""
    return run_sql(spark, sf_dir, _DASHBOARD_SQL)


# The representative "generated by the agent" query. The reference's prompt
# pins SQLite dialect rules (ai_agent.py:91-99); retargeted to Spark SQL,
# with native-array idioms replacing JSON-string probing, they read:
# - Use Spark SQL (ANSI) syntax. Dates: to_date(col), current_date(),
#   date_add/date_sub; never SQLite's date('now', ...) modifiers.
# - Array columns are native ARRAY types: probe with array_contains(col, x)
#   or exists(col, e -> predicate) and test emptiness with size(col) > 0;
#   never LIKE '%x%' against a JSON-encoded string.
# - For space/format-insensitive name matching compare
#   replace(col, ' ', '') to the normalized needle (reference rule:
#   REPLACE(movie_nm, ' ', '')).
# - Every aggregate or computed column must carry an explicit alias.
# This query exercises three of them: space-insensitive matching via
# replace(), explicit date casting and aliased aggregates.
_AGENT_SQL_SPARK = """
SELECT c.c_mktsegment AS segment,
       count(DISTINCT c.c_custkey) AS n_customers,
       count(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE replace(c.c_name, ' ', '') LIKE 'Customer#%'
  AND CAST(o.o_orderdate AS DATE) >= DATE '1995-01-01'
GROUP BY c.c_mktsegment
ORDER BY n_orders DESC, segment
"""


@register("q_sql_agent_dialect", oracle=_AGENT_SQL_SPARK, tags=("sql", "agent"))
def q_sql_agent_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent-shaped generated SQL: dialect-rule compliant text through
    run_sql. Identical text is the DuckDB oracle."""
    return run_sql(spark, sf_dir, _AGENT_SQL_SPARK)


_UDTF_SQL_SPARK = """
SELECT d.doc_id, s.chunk_idx, s.chunk, s.n_words
FROM documents d, LATERAL chunk_words(d.text) s
"""

# Same semantics in DuckDB: \S+ word runs, sliced into 1-based 32-word
# windows (list_slice is 1-based inclusive).
_UDTF_SQL_ORACLE = r"""
WITH w AS (
    SELECT doc_id, regexp_extract_all(text, '\S+') AS words FROM documents
)
SELECT doc_id,
       CAST(c + 1 AS INT) AS chunk_idx,
       array_to_string(list_slice(words, c * 32 + 1, c * 32 + 32), ' ') AS chunk,
       CAST(least(32, len(words) - c * 32) AS INT) AS n_words
FROM (
    SELECT doc_id, words,
           unnest(range(CAST(ceil(len(words) / 32.0) AS BIGINT))) AS c
    FROM w WHERE len(words) > 0
)
"""


@register("q_udtf_chunk_words", oracle=_UDTF_SQL_ORACLE, tags=("sql", "udtf"))
def q_udtf_chunk_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 UDTF surface: documents exploded one-row-per-32-word-chunk
    by a Python UDTF through SQL LATERAL (functions/udtfs.ChunkWords) —
    the context-window chunking step that turns curated documents into
    training/embedding samples, and the row-expanding integration point
    for logic that can't stay in Catalyst. Deterministic split semantics
    give even the Python path a cell-exact DuckDB oracle."""
    from boxoffice_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    return run_sql(spark, sf_dir, _UDTF_SQL_SPARK)
