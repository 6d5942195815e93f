"""Standard relational operator surface (SURVEY.md §2.3).

The reference has no relational operators beyond its join family
(projection/filter/agg are absent as dataflow ops — SURVEY §2.2); this
module is the engine's added surface, all built-in Catalyst operators.
Each query carries its DuckDB oracle; comparability rules are in
``registry.py``.

Scale notes baked into the plans:
- filters + projections sit directly on the parquet scan so Catalyst
  pushes them into the reader (verified in tests/test_plans.py);
- aggregations are declarative groupBy/agg → map-side partial agg;
- dimension joins (nation, region) are explicitly broadcast;
- every top-k has a deterministic total order, and AQE handles the
  rest (partition coalescing, skew) from the session config.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_join_scaling_spark.plans.registry import query
from flink_join_scaling_spark.sources.catalog import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- scans


@query(
    "q_scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity > 10
    """,
)
def q_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection pushed into the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") > 10)
    ).select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity", "l_extendedprice")


# ----------------------------------------------------------- aggregation


@query(
    "q_agg_group",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.count("*").alias("count_order"),
    )


@query(
    "q_agg_distinct",
    oracle="""
    SELECT count(DISTINCT o_custkey) AS n_cust,
           count(DISTINCT o_orderpriority) AS n_prio,
           count(*) AS n_orders
    FROM orders
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct("o_orderpriority").alias("n_prio"),
        F.count("*").alias("n_orders"),
    )


@query(
    "q_agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


@query(
    "q_agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           round(sum(o_totalprice), 2) AS sum_price,
           count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.count("*").alias("n"),
    )


#: Declared relative-error tolerance for the HLL++ estimate vs the exact
#: count. approx_count_distinct runs at rsd=0.01 (1% standard deviation);
#: 5% is a ≥5-sigma acceptance band, so a hash mismatch here means the
#: estimator is broken, not unlucky.
_APPROX_DISTINCT_TOL = 0.05


@query(
    "q_approx_distinct",
    oracle="""
    SELECT count(DISTINCT l_orderkey) AS exact_orders,
           count(DISTINCT l_partkey)  AS exact_parts,
           count(DISTINCT l_suppkey)  AS exact_supps,
           TRUE AS orders_within_tol,
           TRUE AS parts_within_tol,
           TRUE AS supps_within_tol
    FROM lineitem
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts — the scale path for cardinality
    estimation (exact countDistinct is a full shuffle of the keys).

    Driver-checkable by construction: emits the *exact* counts plus a
    boolean ``*_within_tol`` per column asserting the HLL++ estimate is
    within ``_APPROX_DISTINCT_TOL`` relative error of the exact value.
    The DuckDB oracle computes the same exact counts and literal TRUE,
    so the value hash matches iff every estimate lands in tolerance.
    The exact side exists only to attest the estimator at test scale;
    the 100 TB path is approx-only (one pass, fixed-size sketch)."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_suppkey").alias("exact_supps"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("_ao"),
        F.approx_count_distinct("l_partkey", 0.01).alias("_ap"),
        F.approx_count_distinct("l_suppkey", 0.01).alias("_as"),
    )

    def _ok(approx: str, exact: str) -> F.Column:
        return (
            F.abs(F.col(approx) - F.col(exact))
            <= F.lit(_APPROX_DISTINCT_TOL) * F.col(exact)
        )

    return agg.select(
        "exact_orders",
        "exact_parts",
        "exact_supps",
        _ok("_ao", "exact_orders").alias("orders_within_tol"),
        _ok("_ap", "exact_parts").alias("parts_within_tol"),
        _ok("_as", "exact_supps").alias("supps_within_tol"),
    )


# -------------------------------------------------------------- windows


@query(
    "q_window_rank",
    oracle="""
    SELECT * FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               row_number() OVER w AS rn,
               rank()       OVER w AS rnk,
               dense_rank() OVER w AS drnk
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
    ) WHERE rn <= 10
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .where(F.col("rn") <= 10)
    )


@query(
    "q_window_analytic",
    oracle="""
    SELECT event_id, user_id,
           epoch_ms(ts) AS ts_ms,
           lag(value)  OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           round(sum(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.expr("ts_ns div 1000000").alias("ts_ms"),
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
        ).alias("running_value"),
    )


@query(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition
    heaps + a k-row merge on the driver, no full sort at scale."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


# --------------------------------------------------------------- set ops


@query(
    "q_set_union",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 8000
    """,
)
def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("custkey"))
    b = c.where(F.col("c_acctbal") > 8000).select(F.col("c_custkey").alias("custkey"))
    return a.union(b).distinct()


@query(
    "q_set_intersect",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


@query(
    "q_set_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    a = c.select(F.col("c_custkey").alias("custkey"))
    b = o.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return a.subtract(b)


# ------------------------------------------------------- scalar functions


@query(
    "q_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           lower(p_brand) AS brand_lower,
           substr(p_type, 1, 4) AS type_prefix,
           p_brand || '/' || p_type AS brand_type,
           CAST(length(p_name) AS BIGINT) AS name_len,
           (p_name LIKE '%bolt%') AS is_bolt,
           replace(p_brand, 'Brand#', 'B') AS brand_short,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           regexp_extract(p_type, '^([A-Z]+)', 1) AS type_word
    FROM part
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_type", 1, 4).alias("type_prefix"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.col("p_name").like("%bolt%").alias("is_bolt"),
        F.replace(F.col("p_brand"), F.lit("Brand#"), F.lit("B")).alias("brand_short"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.regexp_extract("p_type", "^([A-Z]+)", 1).alias("type_word"),
    )


@query(
    "q_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(month(o_orderdate) AS BIGINT) AS o_month,
           CAST(dayofmonth(o_orderdate) AS BIGINT) AS o_day,
           CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
               AS days_since_1995,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date
    FROM orders
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("o_year"),
        F.month("o_orderdate").cast("bigint").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("o_day"),
        F.quarter("o_orderdate").cast("bigint").alias("o_quarter"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_1995"),
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").alias(
            "due_date"
        ),
    )


@query(
    "q_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS disc_price,
           abs(l_discount - 0.05) AS disc_dev,
           CAST(ceil(l_quantity / 7) AS BIGINT) AS qty_ceil7,
           CAST(floor(l_quantity / 7) AS BIGINT) AS qty_floor7,
           l_orderkey % 97 AS key_mod,
           round(sqrt(l_quantity), 6) AS qty_sqrt,
           greatest(l_tax, l_discount) AS max_rate,
           least(l_tax, l_discount) AS min_rate,
           CASE WHEN l_quantity < 10 THEN 'small'
                WHEN l_quantity < 30 THEN 'mid'
                ELSE 'large' END AS qty_band
    FROM lineitem
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # round at 4 decimals: the exact product has ≤4 decimal digits, so
        # rounding is identity in both engines; rounding to 2 here splits
        # on .xx5 ties (Spark HALF_UP on decimal repr vs DuckDB on binary)
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("disc_price"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil(F.col("l_quantity") / 7).cast("bigint").alias("qty_ceil7"),
        F.floor(F.col("l_quantity") / 7).cast("bigint").alias("qty_floor7"),
        (F.col("l_orderkey") % 97).alias("key_mod"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
        F.when(F.col("l_quantity") < 10, "small")
        .when(F.col("l_quantity") < 30, "mid")
        .otherwise("large")
        .alias("qty_band"),
    )


@query(
    "q_array_funcs",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_val,
           round(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
           CAST(label AS BIGINT) AS label
    FROM embeddings
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array ops stay JVM-side: size / element_at / higher-order
    aggregate — no Python boundary for the hot path."""
    e = _t(spark, sf_dir, "embeddings")
    sumsq = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return e.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        F.round(F.sqrt(sumsq), 4).alias("l2_norm"),
        F.col("label").cast("bigint").alias("label"),
    )


@query(
    "q_array_explode",
    oracle="""
    SELECT vec_id,
           CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS val
    FROM embeddings
    WHERE vec_id < 20
    """,
)
def q_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 20)
    return e.select("vec_id", F.posexplode("embedding").alias("pos", "val")).select(
        "vec_id", F.col("pos").cast("bigint"), F.col("val").cast("double").alias("val")
    )


# ------------------------------------------------------------- TPC-H-ish


@query(
    "q_tpch_q1_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q_tpch_q3_shipping",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-07-01'
      AND l.l_shipdate > TIMESTAMP '1998-07-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 10
    """,
)
def q_tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + top-k. customer(filtered) is small relative to
    lineitem → explicit broadcast; lineitem filter pushed to scan."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp_ntz")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "q_tpch_q5_local_supplier",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY n.n_name
    """,
)
def q_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-way star join; bounded dims (nation, region) are explicitly
    broadcast; supplier — which grows with SF — is left to AQE's
    runtime size threshold, so the plan stays safe when supplier no
    longer fits in an executor at 100 TB scale."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "q_tpch_q6_forecast",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@query(
    "q_tpch_q10_returns",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           c.c_acctbal
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def q_tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analogue: top customers by returned-item revenue in a
    year. Facts shuffle on join keys (date filter pushed to the orders
    scan, returnflag to the lineitem scan); customer rides to the
    aggregate; top-k is TakeOrdered with a key tiebreak."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "q_tpch_q14_promo",
    oracle="""
    WITH sums AS (
        SELECT round(sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END), 2) AS promo,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS total
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
          AND l.l_shipdate <  TIMESTAMP '1996-10-01'
    )
    SELECT round(100.0 * promo / total, 4) AS promo_pct FROM sums
    """,
)
def q_tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analogue: promo revenue share for a month. part is
    left to AQE's broadcast threshold (grows with SF); conditional and
    total sums come out of ONE aggregation; both are rounded before
    the ratio so accumulation-order noise can't move the quotient."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    sums = (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)), 2
            ).alias("promo"),
            F.round(F.sum(rev), 2).alias("total"),
        )
    )
    return sums.select(
        F.round(100.0 * F.col("promo") / F.col("total"), 4).alias("promo_pct")
    )


@query(
    "q_tpch_q18_large_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    SELECT c.c_custkey, c.c_name, b.l_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o.o_totalprice, 2) AS totalprice,
           CAST(b.total_qty AS BIGINT) AS total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY totalprice DESC, b.l_orderkey ASC
    LIMIT 50
    """,
)
def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 analogue: customers behind the largest orders. The
    HAVING aggregate shrinks lineitem to a small frontier before any
    join — the join input is |big orders|, not |lineitem| — then
    orders/customer attach by equi-join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.col("total_qty").cast("bigint").alias("total_qty"),
        )
        .orderBy(F.col("totalprice").desc(), F.col("l_orderkey").asc())
        .limit(50)
    )


@query(
    "q_tpch_q4_late_orders",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analogue (no commit/receipt dates in this schema: "late"
    = shipped >60 days after order date). Semi-join feeding an
    aggregate: the EXISTS is a left-semi join on the order key with a
    non-equi residual condition — lineitem never duplicates orders
    rows, so the count is over orders, and the priority agg sees the
    semi-filtered frontier only."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@query(
    "q_tpch_q7_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_e4
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE n1.n_nationkey <> n2.n_nationkey
    GROUP BY 1, 2, 3
    """,
)
def q_tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analogue: cross-border trade volume by (supplier
    nation, customer nation, year). The nation dim plays TWO roles in
    one query — aliased scans disambiguate it, and both copies
    broadcast (25 rows), so the only shuffles are the fact-side
    equi-joins lineitem⋈orders and orders⋈customer.

    Revenue is summed in exact integers (cents x (100 - discount
    basis points), both columns 2-decimal by construction): with the
    join scrambling accumulation order, float sums of 4-decimal terms
    land exactly ON half-cent round boundaries, where a last-ulp
    difference between engines flips round-2 — integer aggregation
    removes the boundary instead of hoping around it."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(F.col("n1_key") != F.col("n2_key"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
            )
            .cast("bigint")
            .alias("revenue_e4")
        )
    )


@query(
    "q_tpch_q13_order_distribution",
    oracle="""
    SELECT n_orders, count(*) AS n_customers
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    """,
)
def q_tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 analogue: the distribution of orders-per-customer — a
    two-level aggregation (count per customer, then histogram of the
    counts). LEFT join keeps zero-order customers as count 0;
    count(o_orderkey) ignores the null padding. The second agg's input
    is customer-sized, the third output-sized — each stage shrinks."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@query(
    "q_tpch_q17_small_quantity",
    oracle="""
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
        SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_cut
        FROM lineitem GROUP BY l_partkey
    ) t ON t.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#13' AND l.l_quantity < t.qty_cut
    """,
)
def q_tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 analogue: revenue lost to small-quantity orders of one
    brand. The correlated per-part aggregate (0.2 x avg quantity)
    becomes a grouped aggregate joined back to lineitem on the part
    key — the classic decorrelation Catalyst would also produce for
    the subquery form; the brand filter broadcasts through part."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#13")
    cut = li.groupBy(F.col("l_partkey").alias("cut_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(cut, li["l_partkey"] == F.col("cut_partkey"))
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )
