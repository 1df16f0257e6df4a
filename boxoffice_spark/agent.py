"""NL→SQL agent surface (SURVEY.md §3.3; reference ai_agent.py:24-124, D4).

The reference grounds a Gemini prompt in a schema string built from
``sqlite_master`` + ``PRAGMA table_info`` (ai_agent.py:26-38), executes the
generated SQL against SQLite (ai_agent.py:118-124), and post-processes. The
LLM call itself is an I/O shell, not query semantics — what the *engine*
owes the agent is:

1. schema introspection over the live catalog (S13: ``tables.describe_tables``,
   registered as a query in queries/etl.py), and
2. a SQL execution surface where generated text hits the same Catalyst
   plans as the DataFrame API (S6) — views registered once, ``spark.sql``
   from then on — with a plan gate (:func:`validate_sql`) in front of it.

The reference's SQLite dialect rules, retargeted to Spark SQL, are written
out above ``_AGENT_SQL_SPARK`` in queries/sql_surface.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from boxoffice_spark.tables import register_views


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
