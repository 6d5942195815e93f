"""Relational surface extensions: semi/anti joins, pivot/unpivot,
exact percentiles, scalar subquery. All built-in Catalyst operators
(SURVEY §2.2 — absent from the reference, part of the engine's
declared surface)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_join_scaling_spark.plans.registry import query
from flink_join_scaling_spark.sources.catalog import load_table

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers with at least one large order. One
    shuffle, no row duplication — the join stops at first match."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 150000)
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no urgent order (the unfiltered
    "never ordered" form is empty in this synthetic data — every
    customer has orders — so the predicate keeps the test non-trivial)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def _pivot_oracle() -> str:
    cells = ", ".join(
        f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}"
        for t in EVENT_TYPES
    )
    return f"""
    SELECT CAST(user_id % 10 AS BIGINT) AS cohort, {cells}
    FROM events GROUP BY 1
    """


@query("q_pivot", oracle=_pivot_oracle())
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event counts per user cohort, one column per event type.
    The explicit value list keeps it a single-pass hash aggregation (no
    distinct-values pre-query)."""
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy((F.col("user_id") % 10).alias("cohort"))
        .pivot("event_type", EVENT_TYPES)
        .count()
    )
    return out.select(
        "cohort",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES],
    )


@query(
    "q_unpivot",
    oracle="""
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS val FROM part
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) part metrics to long form — built-in ``unpivot``,
    a zero-shuffle narrow transform."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return p.unpivot("p_partkey", ["size", "retailprice"], "metric", "val")


@query(
    "q_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS p25,
           round(quantile_cont(l_quantity, 0.50), 4) AS median,
           round(quantile_cont(l_quantity, 0.90), 4) AS p90,
           round(avg(l_quantity), 4) AS mean
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``). The approx_percentile sketch is the
    scale path when exactness isn't required (see q_approx_distinct)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile(q, F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile(q, F.lit(0.50)), 4).alias("median"),
        F.round(F.percentile(q, F.lit(0.90)), 4).alias("p90"),
        F.round(F.avg(q), 4).alias("mean"),
    )


@query(
    "q_agg_grouping_sets",
    oracle="""
    SELECT coalesce(c_mktsegment, 'ALL') AS seg,
           coalesce(CAST(c_nationkey AS VARCHAR), 'ALL') AS nat,
           count(*) AS n,
           round(sum(c_acctbal), 2) AS bal
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): per-segment,
    per-nation, and grand-total aggregates in one pass — Catalyst
    expands to a single Expand + hash aggregate, one shuffle."""
    c = load_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("__gs_customer")
    return spark.sql(
        """
        SELECT coalesce(c_mktsegment, 'ALL') AS seg,
               coalesce(CAST(c_nationkey AS STRING), 'ALL') AS nat,
               count(*) AS n,
               round(sum(c_acctbal), 2) AS bal
        FROM __gs_customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


@query(
    "q_window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, epoch_ms(o_orderdate) AS od_ms,
           CAST(count(*) OVER (
               PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate)
               RANGE BETWEEN 2592000000 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_orders_30d,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate)
               RANGE BETWEEN 2592000000 PRECEDING AND CURRENT ROW
           ), 2) AS spend_30d
    FROM orders
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per customer, rolling 30-day order count and
    spend (value-based frame, not row-based — the sliding aggregate a
    feature pipeline computes per entity timeline)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("od_ms"),
    )
    day30 = 30 * 24 * 3600 * 1000
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("od_ms")
        .rangeBetween(-day30, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "od_ms",
        F.count("*").over(w).alias("n_orders_30d"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
    )


@query(
    "q_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced above 1.8x the global average (uniform price dist
    caps out just below 2x avg, so 1.8 keeps the result non-empty at
    every sf). The 1-row aggregate
    is broadcast-joined (a scalar subquery's physical plan), so the big
    side streams through with no shuffle."""
    o = load_table(spark, sf_dir, "orders")
    avg_df = o.agg(F.avg("o_totalprice").alias("__avg"))
    return (
        o.join(F.broadcast(avg_df))
        .where(F.col("o_totalprice") > 1.8 * F.col("__avg"))
        .select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
        )
    )


@query(
    "q_join_skew_salted",
    oracle="""
    SELECT c_mktsegment, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    """,
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salted join over the naturally skewed key: events
    concentrates on ~150 hot user_ids (at 100 TB a handful of bot-like
    users own most of the fact side), so the probe side is salted over
    8 shards and the dim side replicated per salt —
    ``operators/skew.py:salted_join``, the manual fallback for the
    shapes AQE's runtime skew splitting can't rewrite. The salt is
    semantics-free for inner joins, so the plain unsalted SQL join is
    the exact oracle."""
    from flink_join_scaling_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(ev, c, "user_id", "c_custkey", num_salts=8, how="inner")
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "q_window_distribution",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions per market segment: balance
    quartile (ntile), percent_rank, cume_dist. The order key is a
    total order (custkey tiebreak), so ntile's row numbering is
    engine-exact; percent_rank/cume_dist are rank/peer-based and
    tie-stable by definition. One segment-keyed shuffle + sort."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_mktsegment",
        "c_custkey",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "q_json_funcs",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    WHERE CAST(props->>'k' AS BIGINT) >= 50
    GROUP BY event_type
    """,
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column surface over events.props: schema-on-read parse
    (``from_json`` drives the filter) plus path extraction
    (``get_json_object`` feeds the aggregates) — both evaluated in the
    JVM, no Python. At scale this is the map-only stage in front of the
    type-keyed agg; the JSON never reaches a shuffle (only the
    extracted integers do)."""
    from flink_join_scaling_spark.sources.catalog import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "__p", F.from_json(F.col("props"), "k BIGINT")
    ).where(F.col("__p.k") >= 50)
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.max(k).cast("bigint").alias("max_k"),
    )


@query(
    "q_higher_order_funcs",
    oracle="""
    SELECT vec_id,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
           round(list_sum(list_transform(embedding, x -> x * x)), 6) AS sumsq,
           len(list_filter(embedding, x -> abs(x) > 2)) > 0 AS has_big
    FROM embeddings
    WHERE vec_id < 100
    """,
)
def q_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: transform / filter / exists /
    aggregate over the embedding column. Both engines fold the array
    left-to-right, so the float sum-of-squares is order-identical
    (round-6 belt-and-braces). Coverage query for the lambda surface —
    for vector math in the hot path the engine uses Arrow/NumPy instead
    (Catalyst HOFs are interpreted per element; see SURVEY §4.3)."""
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    return e.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).cast("bigint").alias("n_pos"),
        F.round(
            F.aggregate(
                F.transform("embedding", lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("sumsq"),
        F.exists("embedding", lambda x: F.abs(x) > 2).alias("has_big"),
    )


@query(
    "q_agg_skew_salted",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(min(user_id) AS BIGINT) AS min_user,
           CAST(max(user_id) AS BIGINT) AS max_user
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the 5 hot event-type groups
    (``operators/skew.py:salted_agg``): phase 1 aggregates on
    (event_type, salt) spreading each hot group over 16 partial
    groups, phase 2 merges partials — the explicit fallback when a
    post-shuffle group is still too hot for one reducer. Sum runs in
    exact integer cents, so the two-phase re-association cannot differ
    from the oracle's single-phase float-free sum."""
    from flink_join_scaling_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    out = salted_agg(
        ev,
        "event_type",
        {
            "n": "event_type:count",
            "sum_cents": "cents:sum",
            "min_user": "user_id:min",
            "max_user": "user_id:max",
        },
        num_salts=16,
    )
    return out.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
        F.col("min_user").cast("bigint").alias("min_user"),
        F.col("max_user").cast("bigint").alias("max_user"),
    )


#: THE single definition of the blocking + verify policy (first-token
#: block, levenshtein <= 4) shared by q_fuzzy_match and
#: q_entity_resolution — one place to tune the threshold, zero drift.
_FUZZY_PAIRS_CTE = """
    names AS (SELECT DISTINCT p_name FROM part),
    blocked AS (
        SELECT p_name, string_split(p_name, ' ')[1] AS blk FROM names
    ),
    fpairs AS (
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        FROM blocked a JOIN blocked b
          ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 4
    )
"""


def _fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(name_a, name_b, dist): blocked fuzzy candidate pairs over the
    distinct part-name vocabulary — the Spark twin of
    ``_FUZZY_PAIRS_CTE``."""
    p = load_table(spark, sf_dir, "part")
    names = p.select("p_name").distinct()
    blocked = names.withColumn(
        "blk", F.split(F.col("p_name"), " ").getItem(0)
    )
    a = blocked.select(F.col("p_name").alias("name_a"), "blk")
    b = blocked.select(F.col("p_name").alias("name_b"), "blk")
    return (
        a.join(b, "blk")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("bigint")
        )
        .where(F.col("dist") <= 4)
        .select("name_a", "name_b", "dist")
    )


@query(
    "q_fuzzy_match",
    oracle=f"""
    WITH {_FUZZY_PAIRS_CTE}
    SELECT name_a, name_b, dist FROM fpairs
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (entity resolution): candidate part-name
    pairs with edit distance <= 4, blocked on the first token so the
    pair product is Σ block² over the name VOCABULARY, never all-pairs
    over the table — the same blocking discipline as the LSH dedup
    family, with levenshtein as the verify stage (both in whole-stage
    codegen). Names are deduplicated before blocking: the fuzzy-join
    cost depends on distinct entities, not row count. Blocking policy
    lives in the shared ``_fuzzy_name_pairs`` / ``_FUZZY_PAIRS_CTE``."""
    return _fuzzy_name_pairs(spark, sf_dir)


@query(
    "q_entity_resolution",
    oracle=f"""
    WITH RECURSIVE {_FUZZY_PAIRS_CTE},
    edges AS (
        SELECT name_a AS src, name_b AS dst FROM fpairs
        UNION
        SELECT name_b, name_a FROM fpairs
    ),
    reach AS (
        SELECT DISTINCT src AS node, src AS r FROM edges
        UNION
        SELECT e.src, t.r FROM edges e JOIN reach t ON t.node = e.dst
    ),
    comp AS (SELECT node, min(r) AS canonical_name FROM reach GROUP BY node)
    SELECT canonical_name,
           CAST(count(*) AS BIGINT) AS n_members,
           string_agg(node, ',' ORDER BY node) AS members
    FROM comp GROUP BY canonical_name
    """,
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: the q_fuzzy_match candidate pairs
    collapsed into entity clusters (connected components over the
    fuzzy edges — match similarity is not transitive) with a canonical
    representative (min name) and the full sorted member list per
    entity — the composition every master-data pipeline runs:
    block → verify → cluster → canonicalize.

    Reuses the SAME library stages as the dedup family
    (``operators.dedup.connected_components`` is type-agnostic: min
    label propagation works on the name strings directly), so the
    cluster stage shuffles only the fuzzy PAIR set — matched names,
    never the part table. Output is component-sized; members CSV is
    sorted for a deterministic hash."""
    from flink_join_scaling_spark.operators.dedup import connected_components

    pairs = _fuzzy_name_pairs(spark, sf_dir).select("name_a", "name_b")
    comp = connected_components(pairs, id_a="name_a", id_b="name_b")
    return (
        comp.groupBy(F.col("component_id").alias("canonical_name"))
        .agg(
            F.count("*").alias("n_members"),
            F.concat_ws(",", F.array_sort(F.collect_list("node"))).alias(
                "members"
            ),
        )
    )


@query(
    "q_histogram",
    oracle="""
    WITH b AS (SELECT min(value) AS vmin, max(value) AS vmax FROM events),
    x AS (
        SELECT event_type,
               CASE WHEN vmax = vmin THEN CAST(0 AS BIGINT)
                    ELSE CAST(least(9, CAST(floor(
                        (value - vmin) / ((vmax - vmin) / 10.0)
                    ) AS BIGINT)) AS BIGINT) END AS bucket
        FROM events, b
        WHERE value IS NOT NULL
    )
    SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
    FROM x GROUP BY 1, 2
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event value per type: 10 global buckets
    over [min, max], the max row clamped into the last bucket — the
    numeric-distribution profiling pass data-quality monitors run per
    column.

    The global bounds are a broadcast 1-row aggregate (plan-guard
    exempted 1-row nested loop); bucketing is a map-side expression —
    identical IEEE double subtract/divide/floor in both engines, so
    the integer bucket ids are engine-exact — and the histogram is one
    (type, bucket)-keyed agg with map-side partials. Output is
    types × 10 rows regardless of corpus size. A degenerate constant
    column (vmax == vmin) maps everything to bucket 0 in BOTH engines
    — without the guard, ANSI Spark raises DIVIDE_BY_ZERO where DuckDB
    NaN-propagates to bucket 9."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    b = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    bucket = F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(
        F.least(
            F.lit(9),
            F.floor(
                (F.col("value") - F.col("vmin"))
                / ((F.col("vmax") - F.col("vmin")) / 10.0)
            ),
        )
    ).cast("bigint")
    return (
        ev.crossJoin(F.broadcast(b))
        .select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_dq_profile",
    oracle="""
    SELECT
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(*) FILTER (WHERE event_id IS NULL) AS BIGINT) AS null_event_id,
        CAST(count(*) FILTER (WHERE ts IS NULL) AS BIGINT) AS null_ts,
        CAST(count(*) FILTER (WHERE user_id IS NULL) AS BIGINT) AS null_user_id,
        CAST(count(*) FILTER (WHERE event_type IS NULL) AS BIGINT) AS null_event_type,
        CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT) AS null_value,
        CAST(count(DISTINCT event_id) AS BIGINT) AS d_event_id,
        CAST(count(DISTINCT user_id) AS BIGINT) AS d_user_id,
        CAST(count(DISTINCT event_type) AS BIGINT) AS d_event_type,
        CAST(min(user_id) AS BIGINT) AS min_user_id,
        CAST(max(user_id) AS BIGINT) AS max_user_id,
        round(min(value), 6) AS min_value,
        round(max(value), 6) AS max_value,
        CAST(min(epoch_ms(ts)) AS BIGINT) AS min_ts_ms,
        CAST(max(epoch_ms(ts)) AS BIGINT) AS max_ts_ms
    FROM events
    """,
)
def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the events table (the Deequ-style
    one-pass column audit): row count, per-column null counts, distinct
    cardinalities, and numeric/time ranges — the summary every
    ingestion gate computes before letting a batch into the lake.

    One aggregation over one scan; conditional counts are map-side
    FILTER expressions in whole-stage codegen, exact distincts expand
    per-column (Spark plans multi-distinct via a single Expand — still
    one shuffle). All outputs exact integers except the round-6 value
    range. At 100 TB the same query runs unchanged; swap the exact
    distincts for hll sketches (q_hll_rollup) when estimates suffice."""
    ev = load_table(spark, sf_dir, "events")
    nul = lambda c: F.count(F.when(F.col(c).isNull(), 1)).alias(f"null_{c}")  # noqa: E731
    return ev.agg(
        F.count("*").alias("n_rows"),
        nul("event_id"),
        nul("ts"),
        nul("user_id"),
        nul("event_type"),
        nul("value"),
        F.countDistinct("event_id").alias("d_event_id"),
        F.countDistinct("user_id").alias("d_user_id"),
        F.countDistinct("event_type").alias("d_event_type"),
        F.min("user_id").alias("min_user_id"),
        F.max("user_id").alias("max_user_id"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        (F.min(F.expr("ts_ns div 1000000"))).alias("min_ts_ms"),
        (F.max(F.expr("ts_ns div 1000000"))).alias("max_ts_ms"),
    )


_DQ_DOMAIN = ("click", "error", "purchase", "signup", "view")


@query(
    "q_dq_rules",
    oracle=f"""
    WITH a AS (SELECT count(*) AS n_rows,
        count(*) FILTER (WHERE event_id IS NULL) AS v1,
        count(*) FILTER (WHERE ts IS NULL) AS v2,
        count(*) - count(DISTINCT event_id) AS v3,
        count(*) FILTER (WHERE event_type IS NULL OR event_type NOT IN
            {str(tuple(_DQ_DOMAIN))}) AS v4,
        count(*) FILTER (WHERE value > 100) AS v5,
        count(*) FILTER (WHERE value < 0) AS v6
      FROM events),
    r AS (
        SELECT 'event_id_not_null' AS rule, v1 AS v, n_rows FROM a
        UNION ALL SELECT 'ts_not_null', v2, n_rows FROM a
        UNION ALL SELECT 'event_id_unique', v3, n_rows FROM a
        UNION ALL SELECT 'event_type_in_domain', v4, n_rows FROM a
        UNION ALL SELECT 'value_le_100', v5, n_rows FROM a
        UNION ALL SELECT 'value_non_negative', v6, n_rows FROM a
    )
    SELECT rule, CAST(v AS BIGINT) AS n_violations,
           CAST(n_rows AS BIGINT) AS n_checked,
           (v = 0) AS passed
    FROM r
    ORDER BY rule
    """,
)
def q_dq_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rule suite (the Deequ-style admission
    gate, as distinct from q_dq_profile's open-ended profiling): a
    fixed set of named constraints — completeness, uniqueness, domain
    membership, numeric bounds — evaluated in ONE aggregation over one
    scan, emitted one row per rule with its exact violation count and
    pass verdict. Uniqueness rides the same multi-distinct Expand as
    the profile; everything else is a map-side conditional count. The
    1-row aggregate is then unpivoted with ``stack`` (a generator, not
    a join), so the plan stays scan → agg → generate."""
    ev = load_table(spark, sf_dir, "events")
    viol = lambda cond, name: F.count(F.when(cond, 1)).alias(name)  # noqa: E731
    agg = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        viol(F.col("event_id").isNull(), "v1"),
        viol(F.col("ts").isNull(), "v2"),
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias("v3"),
        viol(
            F.col("event_type").isNull()
            | ~F.col("event_type").isin(*_DQ_DOMAIN),
            "v4",
        ),
        viol(F.col("value") > 100, "v5"),
        viol(F.col("value") < 0, "v6"),
    )
    stacked = agg.select(
        F.col("n_rows").cast("bigint").alias("n_checked"),
        F.expr(
            "stack(6, "
            "'event_id_not_null', v1, 'ts_not_null', v2, "
            "'event_id_unique', v3, 'event_type_in_domain', v4, "
            "'value_le_100', v5, 'value_non_negative', v6"
            ") AS (rule, n_violations)"
        ),
    )
    return stacked.select(
        "rule",
        F.col("n_violations").cast("bigint").alias("n_violations"),
        "n_checked",
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("rule")
