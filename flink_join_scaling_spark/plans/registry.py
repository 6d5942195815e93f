"""Registry of named queries: the engine's declared surface.

Each entry pairs a Spark DataFrame builder ``fn(spark, sf_dir)`` with an
optional DuckDB-oracle SQL string over the same parquet tables. This is
the contract checked through ``__spark_entry__.py`` (``queries()`` /
``oracle_sql()``): row count + schema + order-insensitive value hash at
sf0.01. Queries are listed, and run, in registration order: the order
in which ``plans/__init__.py`` imports the query modules, then source
order within each module.

Oracle-comparability rules applied throughout the query modules:
- alias every computed column identically in Spark and SQL;
- round floating aggregates (sum/avg/cosine) so accumulation-order
  noise (~1e-15 relative) can't flip a hash;
- cast types the engines size differently (Spark ``size``/``ceil`` →
  int/long vs DuckDB bigint/double) to an agreed type;
- emit timestamps as epoch millis or formatted strings (events.ts is
  ns-precision parquet; Spark truncates to µs, DuckDB keeps ns);
- sorted-array outputs serialized to CSV strings (array hashing across
  engines is not guaranteed comparable);
- every ranking/limit has a deterministic total-order tiebreak.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL; None → rows-only check


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


def query_fns() -> dict[str, QueryFn]:
    return {n: s.fn for n, s in QUERIES.items()}


def oracle_sqls() -> dict[str, str]:
    return {n: s.oracle for n, s in QUERIES.items() if s.oracle is not None}
