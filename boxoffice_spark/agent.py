"""NL→SQL agent surface (SURVEY.md §3.3; reference ai_agent.py:24-124, D4).

The reference grounds a Gemini prompt in a schema string built from
``sqlite_master`` + ``PRAGMA table_info`` (ai_agent.py:26-38), executes the
generated SQL against SQLite (ai_agent.py:118-124), and post-processes. The
LLM call itself is an I/O shell, not query semantics — what the *engine*
owes the agent is:

1. a schema-grounding string over the live catalog (S13), and
2. a SQL execution surface where generated text hits the same Catalyst
   plans as the DataFrame API (S6) — views registered once, ``spark.sql``
   from then on,
3. dialect guidance: the reference's prompt pins SQLite-isms
   (ai_agent.py:91-99: LIKE-probing of JSON-encoded arrays, ``'[]'``
   exclusion, space-insensitive title match via REPLACE); on this engine
   arrays are native and the rules retarget to Spark SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from boxoffice_spark.tables import describe_tables, register_views

# Reference ai_agent.py:91-99 retargeted from SQLite to Spark SQL: the same
# three dialect hazards, with native-array idioms replacing JSON-string
# probing. Fed verbatim into the agent prompt next to the schema string.
SPARK_DIALECT_RULES = """\
- Use Spark SQL (ANSI) syntax. Dates: to_date(col), current_date(),
  date_add/date_sub; never SQLite's date('now', ...) modifiers.
- Array columns are native ARRAY types: probe with array_contains(col, x)
  or exists(col, e -> predicate) and test emptiness with size(col) > 0;
  never LIKE '%x%' against a JSON-encoded string.
- For space/format-insensitive name matching compare
  replace(col, ' ', '') to the normalized needle (reference rule:
  REPLACE(movie_nm, ' ', '')).
- Every aggregate or computed column must carry an explicit alias."""


def schema_grounding(spark: SparkSession, sf_dir: str) -> str:
    """Schema string for prompt grounding — one block per table, one
    ``name type [nullable]`` line per column, from the live catalog
    (``DataFrame.schema``), mirroring ai_agent._get_db_schema's
    sqlite_master walk."""
    lines: list[str] = []
    current = None
    for row in describe_tables(spark, sf_dir).collect():
        if row.table_name != current:
            current = row.table_name
            lines.append(f"\nTable {current}:")
        null = "" if row.is_nullable else " NOT NULL"
        lines.append(f"  {row.column_name} {row.data_type}{null}")
    return "\n".join(lines).strip()


def agent_prompt(spark: SparkSession, sf_dir: str, question: str) -> str:
    """The full prompt the NL→SQL model would receive (schema + dialect
    rules + question). The model call itself stays outside the engine."""
    return (
        "Generate one Spark SQL query answering the question.\n\n"
        f"Schema:\n{schema_grounding(spark, sf_dir)}\n\n"
        f"Dialect rules:\n{SPARK_DIALECT_RULES}\n\n"
        f"Question: {question}\nSQL:"
    )


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """S6/D4 execution surface: register the fixture tables as temp views
    and run arbitrary SQL text through Catalyst. Same logical plans as the
    DataFrame API — the entire §2 inventory is reachable from here.

    ``register_views`` re-reads the tables only when this JVM session has
    not registered ``sf_dir`` yet, a table file's length or modification
    time changed, or one of its views was dropped or replaced in the
    catalog; otherwise the call launches no Spark job before ``spark.sql``.
    It is looked up as this module's attribute on every call, so a wrapper
    installed on ``agent.register_views`` sees each registration."""
    register_views(spark, sf_dir)
    return spark.sql(sql)


class UnsafePlanError(ValueError):
    """Raised when generated SQL compiles to a plan that must not reach a
    100 TB cluster unreviewed."""


def validate_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Guardrailed execution for MODEL-GENERATED SQL: compile, inspect the
    physical plan, and refuse the classic agent failure modes BEFORE any
    task runs — an unconstrained cross join (missing join predicate) or a
    broadcast nested-loop join (inequality-only condition), either of
    which turns a chatbot typo into an O(n²) cluster job. Returns the
    (lazy, unexecuted) DataFrame when the plan is clean.

    This is plan-shape validation, not row-limit sandboxing: it uses the
    same ``explain`` text the engine's own regression tests assert on
    (tests/test_plans.py), so the guard can't drift from the executor.
    """
    df = run_sql(spark, sf_dir, sql)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for op in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        if op in plan:
            raise UnsafePlanError(
                f"generated SQL plans a {op}; add an equi-join predicate "
                "or an explicit LIMIT-bounded sample before running at scale"
            )
    return df
