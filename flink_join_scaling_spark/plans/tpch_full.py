"""Remaining TPC-H query shapes (Q2, Q8, Q9, Q11, Q12, Q15, Q16, Q19,
Q20, Q21, Q22) — completing the 22-shape sweep started in
``relational.py`` (Q1/3/5/6/10/14/18) and continued there in round 5
(Q4/7/13/17).

The testdata schema is a trimmed TPC-H (no ``partsupp``, no
commit/receipt dates, no comment columns — ``TESTDATA.md``), so each
query is an *analogue*: the same query SHAPE — correlated min subquery,
conditional market share, disjunctive predicate blocks, nested
semi-joins, double-correlated EXISTS/NOT EXISTS — re-targeted at the
columns that exist. ``lineitem`` stands in for ``partsupp`` as the
part↔supplier link where needed.

Comparability: every aggregate that feeds a comparison (min-equality,
HAVING threshold, max-equality, share ratio, avg cutoff) is computed in
EXACT INTEGERS (cents and cents×(100−discount-percent) units, quantities
as bigint) so join-order-scrambled float accumulation cannot flip a
boundary — the technique introduced for Q7 (``relational.py``
q_tpch_q7_nation_volume). Ratios divide the exact integers in both
engines and round the identical quotient.

Scale notes: bounded dims (nation, region) broadcast explicitly;
supplier/part — which grow with SF — are left to AQE's size threshold;
facts shuffle only on their join keys; every top-k has a total-order
tiebreak. The reference has no relational surface (SURVEY §2.2); this
module is engine-added capability on the north-star tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_join_scaling_spark.plans.registry import query
from flink_join_scaling_spark.sources.catalog import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def _rev_e4() -> Column:
    """Exact-integer revenue term: cents × (100 − discount percent).

    Both factor columns are 2-decimal by construction, so ``round(x*100)``
    recovers the intended integer identically in Spark and DuckDB; the
    bigint sum is associative — immune to accumulation order.
    """
    return F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    )


_REV_E4_SQL = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
)


# --------------------------------------------------------------- Q2


@query(
    "q_tpch_q2_min_cost_supplier",
    oracle="""
    WITH link AS (
        SELECT l.l_partkey AS partkey, s.s_suppkey, s.s_acctbal, s.s_name,
               n.n_name,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS price_c
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    ), mins AS (
        SELECT partkey, min(price_c) AS min_price_c FROM link GROUP BY partkey
    )
    SELECT DISTINCT l.s_acctbal, l.s_name, l.n_name,
           p.p_partkey, p.p_name, l.price_c
    FROM link l
    JOIN mins m ON m.partkey = l.partkey AND l.price_c = m.min_price_c
    JOIN part p ON p.p_partkey = l.partkey
    WHERE p.p_size IN (15, 25, 35)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier): for each qualifying part, the
    supplier(s) in one region offering the minimum price — a correlated
    MIN subquery decorrelated into a grouped aggregate joined back on
    EQUALITY with the aggregate. No partsupp in this schema, so lineitem
    is the part↔supplier link and unit price is the line price in exact
    integer cents (equality on a float min would be engine-dependent;
    on a bigint it is exact). nation/region broadcast into the
    supplier slice; the slice itself grows with SF, so its join to
    lineitem is left to AQE. The fact shuffles are the per-part min
    and its equality join back, both on l_partkey."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    s = _t(spark, sf_dir, "supplier")
    supp = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    li = _t(spark, sf_dir, "lineitem")
    # supp grows with SF (it is a supplier slice): no broadcast hint —
    # AQE's runtime size threshold decides, as for supplier in Q5
    link = li.join(supp, li["l_suppkey"] == supp["s_suppkey"]).select(
        F.col("l_partkey").alias("partkey"),
        "s_acctbal",
        "s_name",
        "n_name",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
    )
    mins = link.groupBy(F.col("partkey").alias("m_partkey")).agg(
        F.min("price_c").alias("min_price_c")
    )
    # size-list filter (not size+type): the conjunctive form matched a
    # SINGLE part at sf0.01, one regeneration away from an empty result
    p = _t(spark, sf_dir, "part").where(F.col("p_size").isin(15, 25, 35))
    return (
        link.join(
            mins,
            (link["partkey"] == mins["m_partkey"])
            & (link["price_c"] == mins["min_price_c"]),
        )
        .join(F.broadcast(p), link["partkey"] == p["p_partkey"])
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "price_c")
        .distinct()
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name"),
            F.col("s_name"),
            F.col("p_partkey"),
        )
        .limit(100)
    )


# --------------------------------------------------------------- Q8


@query(
    "q_tpch_q8_market_share",
    oracle=f"""
    WITH t AS (
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               {_REV_E4_SQL} AS rev_e4,
               n1.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n2.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1999-01-01'
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                               THEN rev_e4 ELSE 0 END) AS DOUBLE)
                 / CAST(sum(rev_e4) AS DOUBLE), 6) AS mkt_share
    FROM t GROUP BY o_year
    """,
)
def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): one nation's share of a
    region's market revenue per order year — conditional share out of
    ONE aggregation (never two scans). The nation dim appears in two
    roles (customer's market region, supplier's nationality): aliased
    scans, both broadcast. Numerator and denominator are exact-integer
    sums; both engines divide the same bigints, so the round-6 quotient
    is identical by construction."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_rkey")
    )
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    num = F.when(F.col("supp_nation") == "NATION_3", F.col("rev_e4")).otherwise(
        F.lit(0).cast("bigint")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n2), c["c_nationkey"] == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_rkey") == r["r_regionkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), s["s_nationkey"] == F.col("n1_key"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            _rev_e4().alias("rev_e4"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(num).cast("double") / F.sum("rev_e4").cast("double"), 6
            ).alias("mkt_share")
        )
    )


# --------------------------------------------------------------- Q9


@query(
    "q_tpch_q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                    - 50 * CAST(round(p.p_retailprice * 100) AS BIGINT)
                         * CAST(round(l.l_quantity) AS BIGINT))
                AS BIGINT) AS profit_e4
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit by supplier nation
    and order year for parts matching a name pattern. No partsupp
    supply cost in this schema — cost proxy is half the part's retail
    price per unit, which keeps Q9's rev−cost×qty arithmetic. Computed
    entirely in e4 integer units (cents×pct; quantities are integral by
    construction) so the grouped sums are exact. The LIKE filter prunes
    part before its join (pushed to the scan); nation broadcasts; the
    two fact shuffles are lineitem⋈orders and the final group-by."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    profit = _rev_e4() - (
        F.lit(50).cast("bigint")
        * F.round(F.col("p_retailprice") * 100).cast("bigint")
        * F.round(F.col("l_quantity")).cast("bigint")
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(profit).cast("bigint").alias("profit_e4"))
    )


# --------------------------------------------------------------- Q11


@query(
    "q_tpch_q11_important_stock",
    oracle=f"""
    WITH pv AS (
        SELECT l.l_partkey AS partkey,
               CAST(sum({_REV_E4_SQL}) AS BIGINT) AS value_e4
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'AFRICA'
        GROUP BY 1
    )
    SELECT pv.partkey, pv.value_e4
    FROM pv, (SELECT sum(value_e4) AS t, count(*) AS c FROM pv) tot
    WHERE pv.value_e4 * tot.c > 2 * tot.t
    """,
)
def q_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part value restricted to
    one region's suppliers, HAVING value above a multiple of the GLOBAL
    average — an aggregate filtered against a scalar subquery over the
    same aggregate. The original's fixed fraction is 0.0001/SF (spec
    scales it); this analogue uses the scale-INVARIANT form value >
    2 × average (``value*count > 2*total`` in exact integers — no
    float boundary, non-degenerate at every SF). The per-part frame
    computes once and feeds both the 1-row (total, count) broadcast
    and the threshold filter."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "AFRICA")
    pv = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(_rev_e4()).cast("bigint").alias("value_e4"))
    )
    total = pv.agg(
        F.sum("value_e4").alias("grand_total"), F.count("*").alias("n_parts")
    )
    return (
        pv.join(F.broadcast(total))
        .where(F.col("value_e4") * F.col("n_parts") > 2 * F.col("grand_total"))
        .select("partkey", "value_e4")
    )


# --------------------------------------------------------------- Q12


@query(
    "q_tpch_q12_priority_class",
    oracle="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 21 DAY
    GROUP BY 1
    """,
)
def q_tpch_q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-class priority split): per class (no
    shipmode column — l_linestatus stands in), count critical- vs
    normal-priority orders among lines shipped late (>21 days after
    order date — no commit/receipt dates, same proxy as Q4). Both
    conditional counts come out of ONE aggregation; the non-equi
    lateness residual rides on the equi-join, never a nested loop."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    one = F.lit(1).cast("bigint")
    zero = F.lit(0).cast("bigint")
    return (
        li.join(
            o,
            (li["l_orderkey"] == o["o_orderkey"])
            & (li["l_shipdate"] > F.col("o_orderdate") + F.expr("INTERVAL 21 DAYS")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, one).otherwise(zero)).alias("high_line_count"),
            F.sum(F.when(~high, one).otherwise(zero)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------- Q15


@query(
    "q_tpch_q15_top_supplier",
    oracle=f"""
    WITH sr AS (
        SELECT l_suppkey AS suppkey,
               CAST(sum({_REV_E4_SQL}) AS BIGINT) AS total_rev_e4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, sr.total_rev_e4
    FROM sr JOIN supplier s ON s.s_suppkey = sr.suppkey
    WHERE sr.total_rev_e4 = (SELECT max(total_rev_e4) FROM sr)
    """,
)
def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): per-supplier quarterly revenue,
    selecting the supplier(s) EQUAL to the maximum — the view + scalar
    max + equality join of the original. Equality on a float sum is
    engine-dependent; on the exact-integer revenue it is exact, and
    ties (multiple top suppliers) emit all rows, as TPC-H specifies.
    The revenue view computes once: the 1-row max broadcasts back onto
    it, then supplier attributes join on the supplier key."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    s = _t(spark, sf_dir, "supplier")
    sr = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(_rev_e4()).cast("bigint").alias("total_rev_e4")
    )
    mx = sr.agg(F.max("total_rev_e4").alias("max_rev"))
    return (
        sr.join(F.broadcast(mx))
        .where(F.col("total_rev_e4") == F.col("max_rev"))
        .join(s, F.col("suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_rev_e4")
    )


# --------------------------------------------------------------- Q16


@query(
    "q_tpch_q16_supplier_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 14, 23, 45)
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def q_tpch_q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier counts by part attributes): distinct
    suppliers per (brand, type, size) bucket, excluding one brand/type
    and a supplier denylist (negative account balance stands in for the
    complaint-comment scan; NOT IN → LEFT ANTI, null-safe because
    s_suppkey is a key; the denylist is a supplier slice that grows
    with SF, so AQE picks its strategy). The part filter broadcasts;
    distinct count is the only fact shuffle, with partial dedup
    map-side."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 14, 23, 45)
    )
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        # the denylist is a supplier slice (grows with SF): AQE decides
        li.join(bad, li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------- Q19


@query(
    "q_tpch_q19_disjunctive_rev",
    oracle=f"""
    SELECT CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q_tpch_q19_disjunctive_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive predicate blocks): revenue over an
    OR of three AND-blocks mixing part attributes (brand, size) with
    lineitem attributes (quantity). The disjunction straddles the join,
    so only its part-only simplification ``brand ∈ {...}`` could be
    pushed below it — Catalyst derives that residual automatically
    (constraint propagation); the full predicate evaluates post-join in
    codegen. Exact-integer revenue: one global sum, no boundary."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .where(cond)
        .agg(F.sum(_rev_e4()).cast("bigint").alias("revenue_e4"))
    )


# --------------------------------------------------------------- Q20


@query(
    "q_tpch_q20_excess_suppliers",
    oracle="""
    WITH ship AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sqty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1, 2
    ), tot AS (
        SELECT partkey, CAST(sum(sqty) AS BIGINT) AS tqty FROM ship GROUP BY 1
    ), sel AS (
        SELECT DISTINCT ship.suppkey
        FROM ship
        JOIN tot ON tot.partkey = ship.partkey
        JOIN part p ON p.p_partkey = ship.partkey
        WHERE p.p_name LIKE 'small%' AND ship.sqty * 4 > tot.tqty
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'AMERICA'
      AND s.s_suppkey IN (SELECT suppkey FROM sel)
    """,
)
def q_tpch_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (nested semi-joins): suppliers in one region who
    dominate a 'small%' part's yearly volume (>25% of the part's total
    shipped quantity — availqty>half-demand has no partsupp here, same
    two-level-aggregate-with-threshold nesting). The inner aggregate
    pair shares one scan: per-(part,supplier) sums roll up to per-part
    totals. The qualifying supplier set is distinct-projected then
    SEMI-joined to supplier — the supplier table is never duplicated.
    Quantities are exact bigints, so ×4 threshold is boundary-free."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    ship = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("sqty"))
    tot = ship.groupBy(F.col("partkey").alias("t_partkey")).agg(
        F.sum("sqty").alias("tqty")
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    sel = (
        ship.join(tot, ship["partkey"] == tot["t_partkey"])
        .join(F.broadcast(p), ship["partkey"] == p["p_partkey"])
        .where(F.col("sqty") * 4 > F.col("tqty"))
        .select("suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(sel, s["s_suppkey"] == sel["suppkey"], "left_semi")
        .select("s_suppkey", "s_name")
    )


# --------------------------------------------------------------- Q21


@query(
    "q_tpch_q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE r.r_name = 'AMERICA'
      AND o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q_tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    double-correlated EXISTS + NOT EXISTS on the same fact table —
    the hardest decorrelation in the suite. Here: suppliers in one
    region who were the SOLE returning supplier ('R') on a finished
    multi-supplier order (returnflag stands in for the missing
    commit/receipt lateness). Both correlations become one LEFT SEMI
    and one LEFT ANTI join on the order key with a suppkey-inequality
    residual — three shuffles of lineitem on l_orderkey, which AQE can
    plan as one exchange reused; count is integer-exact, top-20 has a
    name tiebreak."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    l1 = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("s_key")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_okey"), F.col("l_suppkey").alias("l2_skey")
    )
    l3 = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l3_okey"), F.col("l_suppkey").alias("l3_skey")
    )
    waiting = (
        l1.join(
            l2,
            (l1["o_key"] == l2["l2_okey"]) & (l1["s_key"] != l2["l2_skey"]),
            "left_semi",
        )
        .join(
            l3,
            (l1["o_key"] == l3["l3_okey"]) & (l1["s_key"] != l3["l3_skey"]),
            "left_anti",
        )
        .join(o, F.col("o_key") == o["o_orderkey"], "left_semi")
    )
    supp = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name")
    )
    return (
        # supp grows with SF: left to AQE, no hint
        waiting.join(supp, F.col("s_key") == supp["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


# --------------------------------------------------------------- Q22


@query(
    "q_tpch_q22_dormant_customers",
    oracle="""
    WITH pool AS (
        SELECT c_custkey, c_nationkey,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        FROM customer
        WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
    ), cutoff AS (
        SELECT CAST(sum(bal_c) AS DOUBLE) / count(*) AS cut_c
        FROM pool WHERE bal_c > 0
    )
    SELECT CAST(p.c_nationkey AS BIGINT) AS nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(p.bal_c) AS BIGINT) AS total_bal_c
    FROM pool p, cutoff
    WHERE p.bal_c > cutoff.cut_c
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = p.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY 1
    """,
)
def q_tpch_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): well-funded customers
    from a nation list (country-code prefixes have no phone column —
    nation keys stand in) with no RECENT order (the original's "no
    orders for 7 years"; here: none since 1999). Three shapes in
    one query: a scalar AVG cutoff subquery (computed over exact
    integer cents, divided identically in both engines → boundary-free
    compare), a NOT EXISTS anti-join against orders on the customer
    key, and the final per-nation aggregate in exact cents. customer is
    the probe side; the 1-row cutoff broadcasts."""
    c = _t(spark, sf_dir, "customer").where(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13)
    )
    pool = c.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_c"),
    )
    cutoff = pool.where(F.col("bal_c") > 0).agg(
        (F.sum("bal_c").cast("double") / F.count("*")).alias("cut_c")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    return (
        pool.join(F.broadcast(cutoff))
        .where(F.col("bal_c") > F.col("cut_c"))
        .join(o, pool["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").cast("bigint").alias("nationkey"))
        .agg(
            F.count("*").alias("numcust"),
            F.sum("bal_c").cast("bigint").alias("total_bal_c"),
        )
    )
