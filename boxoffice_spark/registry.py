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

# Module order is registration order, which load_all() keeps within each of
# its two groups (oracle-backed first, then rows-only).
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
]


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
    registry: oracle-backed queries first, then the rows-only queries
    (approximate/streaming/pandas ops checked by row count only), each
    group in registration order."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    ordered = sorted(QUERIES.values(), key=lambda spec: spec.oracle is None)
    return {spec.name: spec for spec in ordered}
