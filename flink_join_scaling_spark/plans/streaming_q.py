"""Batch-equivalent forms of the streaming surface (SURVEY.md §2.3).

Spark's time-window functions (``F.window``, ``F.session_window``) have
identical semantics over a static DataFrame and a stream — these
queries pin the *semantics* against the DuckDB oracle in batch; the
actual ``readStream`` → watermark → memory-sink execution of the same
plans is exercised in ``flink_join_scaling_spark.streaming`` and
``tests/test_streaming.py`` (the reference's continuous-emission model,
O2/O11, maps to micro-batch update mode — SURVEY §3.4).

events.ts is ns-precision parquet; both engines are aligned to µs by
construction (catalog derives ts = ts_ns div 1000 µs; oracles cast
TIMESTAMP_NS → TIMESTAMP which also truncates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_join_scaling_spark.plans.registry import query
from flink_join_scaling_spark.sources.catalog import load_table

_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@query(
    "q_stream_tumbling",
    oracle=f"""
    SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '{_FMT_DUCK}') AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows (epoch-aligned, = date_trunc)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format("w.start", _FMT_SPARK).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "q_stream_sliding",
    oracle=f"""
    SELECT strftime(ws, '{_FMT_DUCK}') AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM (
        SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                 - k.off * INTERVAL '30 minutes' AS ws,
               event_type, value
        FROM events, (SELECT unnest([0, 1]) AS off) k
    )
    GROUP BY 1, 2
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 30 min: each event belongs to the
    two windows starting at floor30(ts) and floor30(ts)-30min."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format("w.start", _FMT_SPARK).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "q_stream_session",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL '6 hours'
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events)
    ), sessions AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM gaps
    )
    SELECT user_id,
           strftime(min(ts), '{_FMT_DUCK}') AS session_start,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, sess_id
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows, 6 h inactivity gap. Spark closes a session when
    the next event is >= last_ts + gap; the oracle reproduces that with
    lag + cumulative-sum session ids."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "6 hours").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", _FMT_SPARK).alias("session_start"),
            "n_events",
        )
    )


@query(
    "q_stream_dedup",
    oracle="""
    SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms, value
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id, event_type
        ORDER BY epoch_ms(ts) DESC, event_id DESC
    ) = 1
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged result of streaming versioned dedup: latest event per
    (user_id, event_type). Streaming execution of the same grain uses
    dropDuplicatesWithinWatermark / transformWithStateInPandas
    (tests/test_streaming.py); this batch form is the O15-style oracle."""
    from flink_join_scaling_spark.operators.versioned import dedup_latest

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.expr("ts_ns div 1000000").alias("ts_ms"),
        "value",
    )
    return dedup_latest(ev, ["user_id", "event_type"], "ts_ms", tiebreak=["event_id"])


@query(
    "q_stream_join",
    oracle="""
    WITH ck AS (
        SELECT user_id, event_id AS click_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS click_ms
        FROM events WHERE event_type = 'click'
    ), pu AS (
        SELECT user_id, event_id AS purchase_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS purchase_ms
        FROM events WHERE event_type = 'purchase'
    )
    SELECT ck.user_id, ck.click_id, pu.purchase_id,
           ck.click_ms, pu.purchase_ms
    FROM ck JOIN pu ON pu.user_id = ck.user_id
    WHERE pu.purchase_ms >= ck.click_ms
      AND pu.purchase_ms <= ck.click_ms + 1800000
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click -> purchase attribution
    within 30 minutes, same user): the batch-equivalent form of
    Spark's watermarked stream-stream join. The streaming execution of
    this exact shape is ``streaming.joins.stream_stream_join_within``
    (watermarks on both sides + the time-range condition bound the
    join state), exercised end-to-end with a memory sink in
    ``tests/test_skew_and_streamjoin.py``; this registered form pins
    the pairing semantics against the SQL oracle.

    Plan shape: one user_id-keyed equi-shuffle with the time window as
    a post-join residual — never a nested loop; the residual keeps
    per-key pair state temporally local, which is exactly what lets
    the streaming variant expire state by watermark at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    ms = F.expr("ts_ns div 1000000")
    ck = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), ms.alias("click_ms")
    )
    pu = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"),
        F.col("event_id").alias("purchase_id"),
        ms.alias("purchase_ms"),
    )
    return (
        ck.join(
            pu,
            (ck["user_id"] == pu["p_uid"])
            & (pu["purchase_ms"] >= ck["click_ms"])
            & (pu["purchase_ms"] <= ck["click_ms"] + 1800000),
        )
        .select("user_id", "click_id", "purchase_id", "click_ms", "purchase_ms")
    )
