"""Query-surface contract of the PySpark engine.

``entry(spark)`` is a smoke check (rows > 0). Each ``queries()[name]``
runs at sf=0.01 and is compared against the matching
``oracle_sql()[name]`` run by DuckDB (row count + schema +
order-insensitive value hash). ``queries()`` lists every registered
query in registration order.

The actual engine lives in ``flink_join_scaling_spark``; the declared
query surface is the registry in ``flink_join_scaling_spark.plans``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_join_scaling_spark import plans  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (reference O6, the full-outer versioned join) on
    /root/testdata/sf0.001; driver checks rows>0."""
    return plans.QUERIES["q_join_full_outer"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order."""
    return plans.query_fns()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (subset: non-SQL-expressible ops
    are omitted → driver records a rows-only check)."""
    return plans.oracle_sqls()
