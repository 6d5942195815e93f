"""Temporal join queries over the events stream (as-of + range).

The reference's joins are equi-joins on a string key
(``joins.scala:10-70``); these exercise the temporal operators in
``operators/temporal.py`` — the time-series siblings that a versioned
event engine needs. Timestamps are epoch micros (Spark-native
precision for the events table, SURVEY §1.4 note on ns parquet).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_join_scaling_spark.operators.temporal import (
    asof_join,
    range_join,
    scd2_intervals,
    sessionize,
)
from flink_join_scaling_spark.plans.registry import query
from flink_join_scaling_spark.sources.catalog import load_table


def _typed_events(spark: SparkSession, sf_dir: str, event_type: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.where(F.col("event_type") == event_type).select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )


@query(
    "q_join_asof",
    oracle="""
    WITH p AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts_us,
           c.event_id AS click_event_id,
           p.ts_us - c.ts_us AS gap_us
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of: each purchase picks the user's most recent click
    at-or-before it (left-outer; unmatched purchases keep nulls)."""
    p = _typed_events(spark, sf_dir, "purchase")
    c = _typed_events(spark, sf_dir, "click")
    out = asof_join(p, c, on="user_id", left_ts="ts_us", right_ts="ts_us")
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("r_event_id").alias("click_event_id"),
        (F.col("ts_us") - F.col("r_ts_us")).alias("gap_us"),
    )


_RANGE_US = 10 * 60 * 1_000_000  # 10 minutes in micros


@query(
    "q_join_range",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events WHERE event_type = 'error'),
         v AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events WHERE event_type = 'view')
    SELECT e.event_id, count(*) AS n_views,
           max(v.ts_us) AS last_view_us
    FROM e JOIN v
      ON e.user_id = v.user_id
     AND v.ts_us >= e.ts_us - {_RANGE_US}
     AND v.ts_us <= e.ts_us
    GROUP BY e.event_id
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: views by the same user in the 10 minutes before
    each error, aggregated per error. The bucketed equi-join in
    ``range_join`` keeps this a shuffle join (no nested-loop) at any
    scale."""
    e = _typed_events(spark, sf_dir, "error")
    v = _typed_events(spark, sf_dir, "view")
    pairs = range_join(
        e, v, "user_id", "user_id", "ts_us", "ts_us", lower=-_RANGE_US, upper=0
    )
    return pairs.groupBy(F.col("l_event_id").alias("event_id")).agg(
        F.count("*").alias("n_views"), F.max("r_ts_us").alias("last_view_us")
    )


_SESSION_GAP_NS = 30 * 60 * 1_000_000_000  # 30 minutes


@query(
    "q_sessionize",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tns, value FROM events),
    lagd AS (
        SELECT *, lag(tns) OVER (PARTITION BY user_id ORDER BY tns, event_id) AS prev
        FROM e
    ),
    flags AS (
        SELECT *, CASE WHEN prev IS NULL OR tns - prev > {_SESSION_GAP_NS}
                       THEN 1 ELSE 0 END AS is_new
        FROM lagd
    ),
    sess AS (
        SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY tns, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM flags
    )
    SELECT user_id,
           CAST(sid AS BIGINT) AS session_idx,
           CAST(min(tns) // 1000000 AS BIGINT) AS session_start_ms,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM sess
    GROUP BY user_id, sid
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization (30-minute inactivity gap) with
    per-session aggregates — the behavioural-analytics sibling of the
    streaming ``session_window`` query, on exact ns-integer
    timestamps. One shuffle by user + in-partition sort, then a
    session-keyed aggregation that reuses the same partitioning."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts_ns"), "value"
    )
    s = sessionize(ev, "user_id", "ts_ns", _SESSION_GAP_NS, tiebreak=["event_id"])
    return s.groupBy("user_id", "session_idx").agg(
        F.expr("CAST(min(ts_ns) div 1000000 AS BIGINT)").alias("session_start_ms"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@query(
    "q_value_outliers",
    oracle="""
    WITH stats AS (
        SELECT event_type, avg(value) AS mu, stddev(value) AS sd
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.mu) / s.sd, 4) AS z
    FROM events e JOIN stats s ON s.event_type = e.event_type
    WHERE abs((e.value - s.mu) / s.sd) > 2.5
    """,
)
def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (|z| > 2.5). Deliberately NOT a
    window over event_type: with a handful of hot types, a window
    funnels the whole table through a few partitions; the two-pass
    shape — map-side-partial groupBy stats, then a broadcast join back
    — keeps the big side embarrassingly parallel at any scale."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) > 2.5)
        .select("event_id", "event_type", "value", F.round(z, 4).alias("z"))
    )


@query(
    "q_funnel",
    oracle="""
    WITH v AS (SELECT user_id, min(epoch_ns(ts)) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t2
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click' AND epoch_ns(e.ts) >= v.t1
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t3
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= c.t2
          GROUP BY e.user_id)
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS users_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS users_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS users_purchase
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: users whose
    first click follows their first view, and first purchase follows
    that click. Three user-keyed aggregations chained by equi-joins —
    each stage reuses the user partitioning, and the stage frontiers
    only shrink."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts_ns")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts_ns").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts_ns") >= F.col("t1"))
        .groupBy("user_id").agg(F.min("ts_ns").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts_ns") >= F.col("t2"))
        .groupBy("user_id").agg(F.min("ts_ns").alias("t3"))
    )
    # one declarative plan, no driver-side counts and no cross join:
    # left-join the shrinking stage frontiers on user_id and count
    # non-nulls in a single aggregation
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count("*").cast("bigint").alias("users_view"),
            F.count("t2").cast("bigint").alias("users_click"),
            F.count("t3").cast("bigint").alias("users_purchase"),
        )
    )


@query(
    "q_gapfill",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS h0,
               date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS h1
        FROM events
    ),
    grid AS (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour, et.event_type
        FROM bounds, (SELECT DISTINCT event_type FROM events) et
    ),
    counts AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
               count(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT strftime(g.hour, '%Y-%m-%d %H:%M:%S') AS hour, g.event_type,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n
    FROM grid g LEFT JOIN counts c
      ON c.hour = g.hour AND c.event_type = g.event_type
    """,
)
def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense hourly (hour x event_type) grid
    over the observed range, zero-filled where no events landed — the
    resample step every monitoring/feature pipeline needs before
    window math (a sparse groupBy silently skips empty buckets).
    The grid is GENERATED (sequence + explode from a broadcast 1-row
    min/max aggregate crossed with the distinct types), output-sized,
    never a scan; observed counts left-join onto it."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
            "event_type",
        )
    )
    counts = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count("*").alias("n"))
    return (
        grid.join(counts, ["hour", "event_type"], "left")
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        )
    )


#: Relative value tolerance for the approximate-quantile attestation.
#: percentile_approx at accuracy=10000 bounds RANK error at n/10000
#: (~6 rows at sf0.01); on these smooth synthetic distributions that
#: is far inside 5% of the value.
_APPROX_Q_TOL = 0.05


@query(
    "q_approx_quantiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 2) AS exact_p50,
           round(quantile_cont(l_extendedprice, 0.9), 2) AS exact_p90,
           round(quantile_cont(l_extendedprice, 0.99), 2) AS exact_p99,
           TRUE AS p50_within_tol,
           TRUE AS p90_within_tol,
           TRUE AS p99_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantile sketch, driver-checkable like
    q_approx_distinct: emits the exact interpolated percentiles plus a
    boolean per quantile asserting the percentile_approx estimate is
    within 5% relative error; the oracle computes the same exact values
    and literal TRUE. The sketch (one pass, bounded memory, mergeable
    partials) is the 100 TB path — the exact side exists to attest it
    at test scale."""
    li = load_table(spark, sf_dir, "lineitem")
    qs = [0.5, 0.9, 0.99]
    agg = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", qs).alias("ex"),
        F.percentile_approx("l_extendedprice", qs, 10000).alias("ap"),
    )

    def ok(i: int) -> F.Column:
        return (
            F.abs(F.element_at("ap", i + 1) - F.element_at("ex", i + 1))
            <= F.lit(_APPROX_Q_TOL) * F.abs(F.element_at("ex", i + 1))
        )

    return agg.select(
        "l_returnflag",
        F.round(F.element_at("ex", 1), 2).alias("exact_p50"),
        F.round(F.element_at("ex", 2), 2).alias("exact_p90"),
        F.round(F.element_at("ex", 3), 2).alias("exact_p99"),
        ok(0).alias("p50_within_tol"),
        ok(1).alias("p90_within_tol"),
        ok(2).alias("p99_within_tol"),
    )


@query(
    "q_rollup_multires",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS ve4
        FROM events
        GROUP BY 1, 2
    ), daily AS (
        SELECT date_trunc('day', h) AS d, event_type,
               CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(ve4) AS BIGINT) AS ve4
        FROM hourly
        GROUP BY 1, 2
    )
    SELECT 'hour' AS resolution, strftime(h, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type, n, ve4
    FROM hourly
    UNION ALL
    SELECT 'day' AS resolution, strftime(d, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type, n, ve4
    FROM daily
    """,
)
def q_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (continuous-aggregate
    shape): hourly per-type counts/sums, with the DAILY tier
    re-aggregated FROM the hourly tier — never a second scan of the
    raw events. This is the TimescaleDB/Druid rollup idiom: at 100 TB
    the fine tier is the materialized summary (output-sized: buckets ×
    types), and every coarser resolution is a cheap re-aggregation of
    it, so adding resolutions costs O(summary), not O(corpus). Sums
    are exact integer e4 units, so the two-stage re-aggregation is
    associative and engine-exact by construction."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("h"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias("ve4"),
        )
    )
    daily = (
        hourly.groupBy(F.date_trunc("day", F.col("h")).alias("d"), "event_type")
        .agg(F.sum("n").alias("n"), F.sum("ve4").alias("ve4"))
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        hourly.select(
            F.lit("hour").alias("resolution"),
            F.date_format("h", fmt).alias("bucket_start"),
            "event_type",
            "n",
            "ve4",
        )
        .unionByName(
            daily.select(
                F.lit("day").alias("resolution"),
                F.date_format("d", fmt).alias("bucket_start"),
                "event_type",
                "n",
                "ve4",
            )
        )
    )


@query(
    "q_scd2_intervals",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events
      WHERE ts IS NOT NULL
    ),
    flagged AS (
      SELECT user_id, event_type, ts_ms, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
    ),
    seg AS (
      SELECT user_id, event_type, ts_ms,
             sum(chg) OVER (
               PARTITION BY user_id ORDER BY ts_ms, event_id
             ) AS seg_id
      FROM flagged
    ),
    intervals AS (
      SELECT user_id, seg_id,
             min(event_type) AS event_type,
             min(ts_ms) AS valid_from_ms,
             count(*) AS n_versions
      FROM seg GROUP BY user_id, seg_id
    )
    SELECT user_id, event_type, valid_from_ms,
           lead(valid_from_ms) OVER w2 AS valid_to_ms,
           n_versions,
           lead(valid_from_ms) OVER w2 IS NULL AS is_current
    FROM intervals
    WINDOW w2 AS (PARTITION BY user_id ORDER BY seg_id)
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history construction: each user's event stream run-length
    compressed on event_type into half-open validity intervals — the
    change-compacted warehouse history of the reference's versioned
    record model (its dedup keeps the newest state; this keeps every
    DISTINCT state with [valid_from, valid_to) bounds + is_current).

    Exact integer-ms timestamps, unique event_id tiebreak: both
    engines compute identical segment boundaries, so the hash compare
    is exact. Two user-keyed shuffles, per-key linear work.
    """
    ev = load_table(spark, sf_dir, "events")
    versions = ev.select(
        "user_id",
        "event_type",
        F.expr("ts_ns div 1000000").alias("ts_ms"),
        "event_id",
    )
    out = scd2_intervals(
        versions, "user_id", "event_type", "ts_ms", tiebreak=["event_id"]
    )
    return out.select(
        "user_id",
        "event_type",
        F.col("valid_from").alias("valid_from_ms"),
        F.col("valid_to").alias("valid_to_ms"),
        "n_versions",
        "is_current",
    )


@query(
    "q_ema",
    oracle="""
    WITH e AS (
        SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    per AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(ts_ms) AS BIGINT) AS last_ts_ms,
               list_transform(
                   list_sort(list({'t': ts_ms, 'i': event_id, 'v': value})),
                   s -> s.v
               ) AS vals
        FROM e GROUP BY user_id
    )
    SELECT user_id, n_events, last_ts_ms,
           round(list_reduce(vals, (a, b) -> 2e-1 * b + 8e-1 * a), 6) AS ema
    FROM per
    """,
)
def q_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential moving average of event value (α = 0.2) in
    time order — the exponential-smoothing primitive behind metric
    monitors and drift detectors.

    EMA is a non-associative left fold, so cross-engine exactness uses
    the q_lm_score discipline: values sorted by the total order
    (ts, event_id), then folded strictly left-to-right with the FIRST
    element as the seed — DuckDB ``list_reduce`` seeds with element 1,
    so Spark folds ``slice(vals, 2, n-1)`` seeded with
    ``element_at(vals, 1)`` (1-based — ``vals[1]`` would be 0-based);
    the per-step expression (0.2·x + 0.8·acc) is the same pinned IEEE
    chain in both engines → the round-6 double is bit-identical by
    construction. Exact n_events/last_ts_ms attest the grouping.

    Scale shape: one user-keyed shuffle; fold state is one double,
    list state bounded by events per key (the same per-key-history
    bound as SCD2 — keys parallelize)."""
    ev = (
        load_table(spark, sf_dir, "events")
        # null ts would sort engine-dependently (Spark struct ordering
        # is nulls-first, DuckDB list_sort nulls-last) — filter it like
        # the SCD2/cohort/transition siblings so the fold order is a
        # total order in both engines.
        .where(F.col("value").isNotNull() & F.col("ts_ns").isNotNull())
        .select(
            "user_id",
            F.expr("ts_ns div 1000000").alias("ts_ms"),
            "event_id",
            "value",
        )
    )
    per = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max("ts_ms").alias("last_ts_ms"),
        F.expr(
            "transform(array_sort(collect_list(struct(ts_ms, event_id, value)))"
            ", s -> s.value)"
        ).alias("vals"),
    )
    return per.select(
        "user_id",
        "n_events",
        "last_ts_ms",
        F.round(
            F.expr(
                "aggregate(slice(vals, 2, size(vals) - 1), element_at(vals, 1),"
                " (a, b) -> 2e-1d * b + 8e-1d * a)"
            ),
            6,
        ).alias("ema"),
    )


@query(
    "q_cohort_retention",
    oracle="""
    WITH e AS (
        SELECT user_id, epoch_ms(ts) // 604800000 AS week
        FROM events WHERE ts IS NOT NULL
    ),
    cohort AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, week FROM e)
    SELECT c.cohort_week, a.week - c.cohort_week AS weeks_since,
           CAST(count(*) AS BIGINT) AS n_users
    FROM active a JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen week, each
    cell counting cohort members active N weeks later — the classic
    product-analytics triangle.

    Exact integer week buckets (epoch-ms floor-div by a week constant,
    identical integer arithmetic both engines). Shape: one user-keyed
    aggregation for cohorts, a (user, week) distinct reduced before
    the join; the cohort aggregate reuses the distinct's exchange
    (it mins over the distinct rows), so the corpus is scanned ONCE;
    output is weeks² cells. At 100 TB nothing is corpus-sized after
    the first distinct."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # Week bucket via pmod-adjusted `div` = true floor division,
    # matching DuckDB `//` for pre-1970 ms too (bare `div` truncates
    # toward zero). The ns→ms step keeps plain `div`: testdata ts ≥
    # epoch, and sub-ms negative handling would need the oracle's
    # epoch_ms internals pinned — documented precondition.
    e = ev.select(
        "user_id",
        F.expr(
            "((ts_ns div 1000000) - pmod(ts_ns div 1000000, 604800000))"
            " div 604800000"
        ).alias("week"),
    )
    active = e.distinct()
    # cohort derives from the DISTINCT rows (min over distinct weeks ==
    # min over all events), so the corpus-sized subtree is one shared
    # exchange (ReusedExchange) instead of a second full scan; the
    # extra user-keyed shuffle moves only (user, week) distinct rows
    cohort = active.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        active.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("weeks_since"),
        )
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "q_transition_matrix",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id
        FROM events WHERE ts IS NOT NULL
    ),
    seq AS (
        SELECT user_id, event_type AS curr,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts_ms, event_id
               ) AS prev
        FROM e
    )
    SELECT prev, curr, CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE prev IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix: counts of consecutive (prev →
    curr) event pairs per user timeline — the first-order Markov
    profile behind journey mining and anomaly detection on behavioral
    streams.

    One user-keyed window (total order (ts_ms, event_id), so the lag
    is engine-deterministic) feeding a types²-sized aggregation with
    map-side partials. Exact integer counts."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    e = ev.select(
        "user_id",
        "event_type",
        F.expr("ts_ns div 1000000").alias("ts_ms"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    seq = e.select(
        F.col("event_type").alias("curr"),
        F.lag("event_type").over(w).alias("prev"),
    )
    return (
        seq.where(F.col("prev").isNotNull())
        .groupBy("prev", "curr")
        .agg(F.count("*").alias("n"))
    )
