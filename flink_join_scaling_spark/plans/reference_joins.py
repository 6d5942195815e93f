"""Queries exercising the reference's core operators O4-O10 on the
driver tables (SURVEY.md §2.1 query-name column).

Mapping of reference roles onto the TPC-H-ish tables:
- versioned stream → ``events`` (key=user_id, id=event_id, version=ts),
  exactly the roles assigned in FIXTURES.md;
- X/Y join sides → ``customer``/``orders`` (key=custkey) and
  ``customer``/``supplier`` grouped by nationkey for the Seq variants.

Deep versioning behavior (id collisions, late versions) is exercised by
the property tests in ``tests/test_versioned_properties.py`` with
reference-shaped generated A/B/C data; these oracle queries pin the
operator plumbing on real tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_join_scaling_spark.operators.joins import (
    join_full_outer,
    join_full_outer_seq,
    join_inner,
    join_left_outer,
    join_left_outer_seq,
)
from flink_join_scaling_spark.operators.versioned import dedup_latest, dedup_latest_by_key
from flink_join_scaling_spark.plans.registry import query
from flink_join_scaling_spark.sources.catalog import load_table


def _events_ms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts as epoch millis (comparable across Spark µs /
    DuckDB ns precision)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr("ts_ns div 1000000").alias("ts_ms"),
        "user_id",
        "event_type",
        "value",
    )


_EVENTS_MS = """
SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value FROM events
"""


@query(
    "q_dedup_latest",
    oracle=f"""
    SELECT event_id, ts_ms, user_id, event_type, value
    FROM ({_EVENTS_MS})
    QUALIFY row_number() OVER (
        PARTITION BY event_id
        ORDER BY ts_ms DESC, user_id DESC, event_type DESC, value DESC
    ) = 1
    """,
)
def q_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: last-writer-wins per entity id over the events stream."""
    return dedup_latest(_events_ms(spark, sf_dir), "event_id", "ts_ms")


@query(
    "q_dedup_latest_by_key",
    oracle=f"""
    SELECT event_id, ts_ms, user_id, event_type, value
    FROM ({_EVENTS_MS})
    QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC
    ) = 1
    """,
)
def q_dedup_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: single latest record per join key (user_id)."""
    return dedup_latest_by_key(
        _events_ms(spark, sf_dir), "user_id", "ts_ms", tiebreak=["event_id"]
    )


_C_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
_O_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


@query(
    "q_join_full_outer",
    oracle=f"""
    SELECT {", ".join("c." + c for c in _C_COLS)},
           {", ".join("o." + c for c in _O_COLS)}
    FROM customer c FULL OUTER JOIN (SELECT {", ".join(_O_COLS)} FROM orders) o
      ON c.c_custkey = o.o_custkey
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6: versioned full-outer customer⋈orders on custkey.

    customer ids are unique and orders are versioned by orderdate with
    id=o_orderkey, so dedup is the identity here — the versioning
    behavior itself is property-tested; this pins join plumbing + null
    padding against the oracle.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select(*_O_COLS, F.col("o_orderdate").alias("_ts"))
    out = join_full_outer(
        c, o, "c_custkey", "o_custkey", "c_custkey", "o_orderkey", "c_acctbal", "_ts"
    )
    return out.select(*_C_COLS, *_O_COLS)


@query(
    "q_join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           o.o_orderkey, o.o_totalprice, o.o_orderstatus
    FROM customer c LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7: left-outer with left side collapsed to one row per key."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").withColumn("_ts", F.col("o_orderdate"))
    out = join_left_outer(c, o, "c_custkey", "o_custkey", "o_orderkey", "c_acctbal", "_ts")
    return out.select(
        "c_custkey", "c_name", "c_mktsegment", "o_orderkey", "o_totalprice", "o_orderstatus"
    )


@query(
    "q_join_left_outer_seq",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           coalesce(g.n_orders, 0) AS n_orders,
           coalesce(g.orderkeys_csv, '') AS orderkeys_csv
    FROM customer c LEFT OUTER JOIN (
        SELECT o_custkey,
               count(*) AS n_orders,
               array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys_csv
        FROM orders GROUP BY o_custkey
    ) g ON c.c_custkey = g.o_custkey
    """,
)
def q_join_left_outer_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8: (X, Seq[Y]) — one row per left entity, array of right rows
    (empty when unmatched). Serialized to a sorted CSV for the oracle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").withColumn("_ts", F.col("o_orderdate"))
    out = join_left_outer_seq(c, o, "c_custkey", "o_custkey", "o_orderkey", "c_acctbal", "_ts")
    return out.select(
        "c_custkey",
        "c_name",
        F.size("ys").cast("bigint").alias("n_orders"),
        F.array_join(F.array_sort("ys.o_orderkey"), ",").alias("orderkeys_csv"),
    )


@query(
    "q_join_full_outer_seq",
    oracle="""
    SELECT coalesce(cg.c_nationkey, sg.s_nationkey) AS nationkey,
           coalesce(cg.n_custs, 0) AS n_custs,
           coalesce(cg.custkeys_csv, '') AS custkeys_csv,
           coalesce(sg.n_supps, 0) AS n_supps,
           coalesce(sg.suppkeys_csv, '') AS suppkeys_csv
    FROM (
        SELECT c_nationkey, count(*) AS n_custs,
               array_to_string(list_sort(list(c_custkey)), ',') AS custkeys_csv
        FROM customer GROUP BY c_nationkey
    ) cg FULL OUTER JOIN (
        SELECT s_nationkey, count(*) AS n_supps,
               array_to_string(list_sort(list(s_suppkey)), ',') AS suppkeys_csv
        FROM supplier GROUP BY s_nationkey
    ) sg ON cg.c_nationkey = sg.s_nationkey
    """,
)
def q_join_full_outer_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9: true cogroup shape (Seq[X], Seq[Y]) per key — customers vs
    suppliers grouped by nationkey, either side possibly empty."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    out = join_full_outer_seq(
        c,
        s,
        "c_nationkey",
        "s_nationkey",
        "c_custkey",
        "s_suppkey",
        "c_acctbal",
        "s_acctbal",
        key_col="nationkey",
    )
    return out.select(
        F.col("nationkey").cast("int").alias("nationkey"),
        F.size("xs").cast("bigint").alias("n_custs"),
        F.array_join(F.array_sort("xs.c_custkey"), ",").alias("custkeys_csv"),
        F.size("ys").cast("bigint").alias("n_supps"),
        F.array_join(F.array_sort("ys.s_suppkey"), ",").alias("suppkeys_csv"),
    )


@query(
    "q_join_inner",
    oracle="""
    SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_nationkey, n.n_name, n.n_regionkey
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10 (dead code in the reference, live here): inner versioned join;
    nation is far under the broadcast threshold, so Catalyst broadcasts
    it unhinted (tests/test_plans.py::test_dim_join_broadcasts)."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    out = join_inner(
        s, n, "s_nationkey", "n_nationkey", "s_suppkey", "n_nationkey", "s_acctbal", "n_regionkey"
    )
    return out.select("s_suppkey", "s_name", "s_acctbal", "n_nationkey", "n_name", "n_regionkey")
