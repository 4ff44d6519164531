"""TPC-H over the driver's star schema: all 22 classic query shapes.

The first six classics, the round-3 join/subquery shapes (Q4, Q13, ...),
and the remaining eleven that close out the set.  Each section below
keeps its original notes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bigbugdata_spark.caching import pin
from bigbugdata_spark.catalog import table
from bigbugdata_spark.registry import register


# ---------------------------------------------------------------------------
# TPC-H classics over the driver's star schema — the general-analytics
# face of the engine (SURVEY §5: the TPC-H-ish tables are the stand-in
# corpus; the reference itself has no generic query surface, SURVEY §2.1).
# Q1/Q3/Q5/Q6 shapes adapted to the columns present (no commit/receipt
# dates; o_orderpriority stands in for o_shippriority).
#
# Money determinism: every price/discount/tax is cent-valued at source, so
# each is extracted ONCE as an exact integer (ROUND(x*100)) and all revenue
# arithmetic stays in pure int64 — `extprice*(1-disc)` becomes
# `ep_c*(100-d_c)` at 1e4 scale, `*(1+tax)` appends `*(100+t_c)` at 1e6.
# No double ever crosses a shuffle, so Spark and DuckDB agree bit-for-bit;
# the reported averages are single divisions of exact integers.
# ---------------------------------------------------------------------------


def _cents(col: str):
    return F.round(F.col(col) * 100).cast("long")


@register(
    "tpch_q1_pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
               CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
               CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_e4,
               CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount*100) AS BIGINT))
                        * (100 + CAST(ROUND(l_tax*100) AS BIGINT))) AS BIGINT) AS sum_charge_e6,
               CAST(COUNT(*) AS BIGINT) AS count_order,
               CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*) AS avg_qty
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("tpch", "agg", "headline"),
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 pricing summary: one scan, map-side partial agg, one shuffle on
    the 6-group key — the canonical whole-stage-codegen aggregate."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp")
    )
    ep, dc, tx = _cents("l_extendedprice"), _cents("l_discount"), _cents("l_tax")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.sum(ep).alias("sum_base_cents"),
        F.sum(ep * (F.lit(100) - dc)).alias("sum_disc_e4"),
        F.sum(ep * (F.lit(100) - dc) * (F.lit(100) + tx)).alias("sum_charge_e6"),
        F.count(F.lit(1)).alias("count_order"),
        (F.sum("l_quantity").cast("double") / F.count(F.lit(1))).alias("avg_qty"),
    )


@register(
    "tpch_q3_shipping_priority",
    oracle="""
        SELECT l_orderkey,
               CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT)
                   AS revenue_e4,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_orderpriority
        FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue_e4 DESC, l_orderkey ASC
        LIMIT 10
    """,
    tags=("tpch", "join", "topk"),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shipping priority: the filtered customer side joins into
    orders, the join result shuffles once on orderkey for the revenue
    agg, and the top-10 is a TakeOrderedAndProject (no full sort).
    Deterministic LIMIT via the orderkey tiebreak."""
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    ep, dc = _cents("l_extendedprice"), _cents("l_discount")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(ep * (F.lit(100) - dc)).alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            "revenue_e4",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle="""
        SELECT n_name,
               CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT)
                   AS revenue_e4
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    tags=("tpch", "join", "headline"),
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 local supplier volume: the 6-table join. nation x region
    collapse driver-free into a broadcast filter; customer and supplier
    are data-proportional, so their broadcast is planner-chosen (taken
    at test scale); lineitem x orders is the one real shuffle join (on
    orderkey). Catalyst reorders the filters into the scans — the plan a
    hand-written optimizer would pick, for free."""
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    ep, dc = _cents("l_extendedprice"), _cents("l_discount")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            sup,
            (li.l_suppkey == sup.s_suppkey)
            & (cust.c_nationkey == sup.s_nationkey),
        )
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(ep * (F.lit(100) - dc)).alias("revenue_e4"))
    )


@register(
    "tpch_q10_returned_items",
    oracle="""
        SELECT c_custkey, c_name,
               CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT)
                   AS revenue_e4,
               CAST(ROUND(c_acctbal*100) AS BIGINT) AS acctbal_cents
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal
        ORDER BY revenue_e4 DESC, c_custkey ASC
        LIMIT 20
    """,
    tags=("tpch", "join", "topk"),
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 returned-item reporting: quarter-filtered orders join returned
    lineitems (one shuffle on orderkey), customer joins (planner-chosen
    broadcast at test scale) for the
    final enrichment, top-20 via TakeOrderedAndProject with a custkey
    tiebreak."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    ep, dc = _cents("l_extendedprice"), _cents("l_discount")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(F.sum(ep * (F.lit(100) - dc)).alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "revenue_e4",
            _cents("c_acctbal").alias("acctbal_cents"),
        )
    )


@register(
    "tpch_q14_promo_revenue",
    oracle="""
        SELECT CAST(SUM(CASE WHEN p_type = 'ECONOMY'
                        THEN CAST(ROUND(l_extendedprice*100) AS BIGINT)
                             * (100 - CAST(ROUND(l_discount*100) AS BIGINT))
                        ELSE 0 END) AS BIGINT) AS promo_e4,
               CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT)
                   AS total_e4
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
    tags=("tpch", "join", "agg"),
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 promo revenue share: month-filtered lineitem joins the part
    dimension (planner-broadcast at test scale), conditional vs total
    revenue in one pass —
    zero shuffles beyond the final 1-row agg exchange."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    ep, dc = _cents("l_extendedprice"), _cents("l_discount")
    rev = ep * (F.lit(100) - dc)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0).cast("long"))
            ).alias("promo_e4"),
            F.sum(rev).alias("total_e4"),
        )
    )


@register(
    "tpch_q6_revenue_forecast",
    oracle="""
        SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                        * CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT)
                   AS revenue_e4,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    tags=("tpch", "agg"),
)
def tpch_q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 revenue forecast: pure scan-side aggregation — every predicate
    pushes into the parquet scan (date range prunes row groups via
    min/max stats) and the single global agg needs one 1-row exchange."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    ep, dc = _cents("l_extendedprice"), _cents("l_discount")
    return li.agg(
        F.sum(ep * dc).alias("revenue_e4"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# TPC-H round-3 additions — the join/subquery SHAPES the first six
# classics don't exercise: EXISTS semi-join (Q4), left-outer count
# distribution (Q13), having-subquery on an aggregate (Q18), and
# anti-join + scalar subquery (Q22).  Shapes adapted to the columns the
# driver's star schema carries (no commit/receipt dates, no partsupp, no
# phone — see each docstring for the substitution).
#
# These four are verified by the local DuckDB-parity gate
# (tests/test_oracle_parity.py runs every registered query).
#
# Money discipline matches operators/tpch.py: cent-valued columns are
# extracted once as exact ROUND(x*100) int64 and all arithmetic stays
# integer until a final single division, so both engines agree
# bit-for-bit.
# ---------------------------------------------------------------------------


@register(
    "tpch_q4_priority_exists",
    oracle="""
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
    """,
    tags=("tpch", "join", "headline"),
)
def tpch_q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 order-priority checking, EXISTS form (the reference schema has
    no commit/receipt dates, so the late-delivery predicate becomes
    l_returnflag = 'R' — same EXISTS shape, different flag).

    Plan: the quarter filter prunes orders at the scan; LEFT SEMI join on
    l_orderkey keeps each order once no matter how many lineitems match
    (no distinct, no row explosion); one shuffle for the semi join, one
    for the 5-group agg."""
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    flagged = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(flagged, orders.o_orderkey == flagged.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q13_order_distribution",
    oracle="""
        WITH c_orders AS (
            SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
            FROM customer LEFT JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM c_orders GROUP BY c_count
    """,
    tags=("tpch", "join", "headline"),
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 customer order-count distribution (the comment-pattern
    exclusion becomes an o_orderpriority exclusion — same left-outer
    shape where the filter must sit IN the join condition, not under it:
    a WHERE would turn the outer join inner and drop zero-order
    customers, the rows Q13 exists to count).

    Plan: one shuffle join on custkey (orders side pre-filtered at the
    scan), per-customer count, then a second tiny agg on the count value.
    COUNT(o_orderkey) counts non-null keys only — null-extended rows
    contribute 0, exactly the semantics both engines share."""
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q18_large_orders",
    oracle="""
        SELECT c_name, c_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               CAST(ROUND(o_totalprice*100) AS BIGINT) AS o_totalprice_cents,
               CAST(SUM(l_quantity) AS BIGINT) AS total_qty
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        HAVING SUM(l_quantity) > 300
        ORDER BY o_totalprice_cents DESC, o_orderkey ASC
        LIMIT 100
    """,
    tags=("tpch", "join", "topk", "headline"),
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume customers: the having-on-aggregate subquery.

    Plan: lineitem pre-aggregates per orderkey FIRST (map-side partial
    agg collapses before the one big shuffle) and the >300 filter runs on
    that aggregate — ~0.1% of orders survive — so the joins to orders and
    customer move thousands of rows, not millions. The broadcast choice
    for customer is the planner's (the tiny qty side wins at scale);
    the top-100 is a TakeOrderedAndProject with an orderkey tiebreak for
    a deterministic LIMIT."""
    qty = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("long").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        qty.join(orders, qty.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            _cents("o_totalprice").alias("o_totalprice_cents"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice_cents"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "tpch_q22_idle_rich_customers",
    oracle="""
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS numcust,
               CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS BIGINT)
                   AS total_bal_cents
        FROM customer
        WHERE CAST(ROUND(c_acctbal*100) AS BIGINT) >
              (SELECT AVG(CAST(ROUND(c_acctbal*100) AS BIGINT))
               FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
    """,
    tags=("tpch", "join", "headline"),
)
def tpch_q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 global sales opportunity: above-average-balance customers with
    no orders (the phone-country-code grouping becomes c_mktsegment —
    same anti-join + scalar-subquery shape).

    Plan: the scalar subquery is a one-row aggregate cross-joined by
    BROADCAST into the customer scan (stays lazy — no driver collect);
    the average divides exact integer cents so both engines agree
    bit-for-bit. NOT EXISTS is a LEFT ANTI broadcast-able join on
    custkey; one final tiny agg on segment."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", _cents("c_acctbal").alias("bal_cents"),
        F.col("c_acctbal"),
    )
    avg_row = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("bal_cents").alias("ab"))
    )
    orders = table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(F.broadcast(avg_row))
        .filter(F.col("bal_cents") > F.col("ab"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_cents").alias("total_bal_cents"),
        )
    )


@register(
    "tpch_q7_volume_shipping",
    oracle="""
        SELECT supp_nation, cust_nation, l_year,
               CAST(SUM(volume_e4) AS BIGINT) AS revenue_e4
        FROM (
            SELECT n1.n_name AS supp_nation,
                   n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   CAST(ROUND(l_extendedprice*100) AS BIGINT)
                       * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) AS volume_e4
            FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
               OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("tpch", "join"),
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 volume shipping between two nations: the DISJUNCTIVE pair
    predicate ((A,B) or (B,A)) over two roles of the same dimension —
    the join shape Q5 and friends never hit. The shipdate-band predicate
    of classic Q7 is dropped (full date range) since the adapted schema's
    interest is the join shape.

    Plan: both nation role-copies broadcast and their name filters prune
    BEFORE the pair disjunction (each side keeps only the two named
    nations); supplier and customer are planner-chosen (broadcast at
    test scale); lineitem x orders stays
    the single shuffle join. The disjunction is a residual filter on the
    already-joined pair of names — two rows x two rows — never a
    join-order obstacle."""
    two = ["NATION_3", "NATION_7"]
    n1 = (
        table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(two))
        .select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
    )
    n2 = (
        table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(two))
        .select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation"))
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem")
    ep, dc = _cents("l_extendedprice"), _cents("l_discount")
    return (
        li.select(
            "l_suppkey",
            "l_orderkey",
            F.year("l_shipdate").cast("long").alias("l_year"),
            (ep * (F.lit(100) - dc)).alias("volume_e4"),
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(
            ((F.col("supp_nation") == two[0]) & (F.col("cust_nation") == two[1]))
            | ((F.col("supp_nation") == two[1]) & (F.col("cust_nation") == two[0]))
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("volume_e4").alias("revenue_e4"))
    )


BASKET_MIN_SUPPORT = 2
BASKET_TOP_K = 100


@register(
    "orders_market_basket",
    oracle=f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        totals AS (
            SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM items
        ),
        cnt AS (
            SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM items
            GROUP BY l_partkey
        ),
        sup AS (
            SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                   CAST(COUNT(*) AS BIGINT) AS support
            FROM items a
            JOIN items b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey < b.l_partkey
            GROUP BY p1, p2
            HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
        )
        SELECT p1, p2, support,
               CAST(support * n_orders AS DOUBLE)
                   / CAST(n1 * n2 AS DOUBLE) AS lift,
               CAST(rnk AS INT) AS rnk
        FROM (
            SELECT sup.*, n_orders, c1.n AS n1, c2.n AS n2,
                   ROW_NUMBER() OVER (
                       ORDER BY support DESC, p1 ASC, p2 ASC) AS rnk
            FROM sup CROSS JOIN totals
            JOIN cnt c1 ON sup.p1 = c1.l_partkey
            JOIN cnt c2 ON sup.p2 = c2.l_partkey
        )
        WHERE rnk <= {BASKET_TOP_K}
    """,
    tags=("tpch", "join", "window", "agg"),
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining (round 7 — the association-
    analytics query class, absent from both the reference and TPC-H):
    the top-{BASKET_TOP_K} part PAIRS by the number of orders containing
    both (support >= {BASKET_MIN_SUPPORT}), with the lift ratio
    support·N / (n1·n2) — lift > 1 means the parts co-occur more than
    independence predicts, the signal behind "frequently bought
    together".

    Plan: distinct (order, part) items [one shuffle], a self-equi-join
    ON THE ORDER KEY whose pair expansion is bounded by basket size
    squared per order (baskets are naturally small — max 13 here; a
    degenerate mega-basket is the same hazard class as a hot gram, and
    the same cap valve applies), a (p1, p2) aggregate, part-cardinality
    count joins that broadcast, and one global top-k window over the
    support-filtered pair set. Determinism: support and the per-part
    counts are exact integers; lift is one fp64 division of exact
    integer products; the ranking is total-ordered (support DESC, p1,
    p2) and realized as orderBy+limit (TakeOrderedAndProject — each
    partition keeps its local top BASKET_TOP_K, the driver merges
    k*p rows) because the support>=2 filter does NOT bound the pair
    frame at scale: co-occurring part pairs grow with the data, so an
    unpartitioned row_number window would sort the whole pair set on
    one partition (the r8 verdict's scale-killer class)."""
    from bigbugdata_spark.caching import pin

    items = pin(
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    totals = items.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    cnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    a = items.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p1")
    )
    b = items.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p2")
    )
    sup = (
        a.join(b, (a.o == b.o) & (F.col("p1") < F.col("p2")))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= BASKET_MIN_SUPPORT)
    )
    from pyspark.sql import Window

    # top-k FIRST (TakeOrderedAndProject over the support-filtered pair
    # frame), so the count joins and the rank window touch only
    # BASKET_TOP_K rows; the ordering is total since (p1, p2) is the
    # grouping key, making limit + post-rank identical to the global
    # row_number it replaces.
    top = sup.orderBy(
        F.desc("support"), F.asc("p1"), F.asc("p2")
    ).limit(BASKET_TOP_K)
    ranked = (
        top.crossJoin(F.broadcast(totals))
        .join(
            F.broadcast(cnt.select(F.col("l_partkey").alias("p1"), F.col("n").alias("n1"))),
            "p1",
        )
        .join(
            F.broadcast(cnt.select(F.col("l_partkey").alias("p2"), F.col("n").alias("n2"))),
            "p2",
        )
        .withColumn(
            "rnk",
            # bounded frame: exactly BASKET_TOP_K rows reach this
            # window (the limit is in its subtree — what the repo-wide
            # plan guard in tests/test_plans.py checks)
            F.row_number().over(
                Window.orderBy(F.desc("support"), F.asc("p1"), F.asc("p2"))
            ),
        )
    )
    lift = (F.col("support") * F.col("n_orders")).cast("double") / (
        F.col("n1") * F.col("n2")
    ).cast("double")
    return ranked.select(
        "p1", "p2", "support", lift.alias("lift"), F.col("rnk").cast("int").alias("rnk")
    )


# ---------------------------------------------------------------------------
# TPC-H completion — the remaining 11 classic query shapes (Q2, Q8,
# Q9, Q11, Q12, Q15, Q16, Q17, Q19, Q20, Q21), closing out all 22 with
# `operators/tpch.py` (Q1/3/5/6/10/14) and `operators/tpch.py`
# (Q4/13/18/22).
#
# The driver schema has no partsupp table, no ship modes and no
# commit/receipt dates, so each query keeps its SHAPE — the join topology
# and subquery pattern that makes it a distinct optimizer test — with
# documented substitutions:
#
#   * partsupp offers       -> lineitem rows as (part, supplier, price) offers
#   * ps_supplycost         -> p_retailprice as the unit-cost proxy (Q9)
#   * ps_availqty half-sum  -> supplier's shipped-qty share per part (Q20)
#   * l_shipmode            -> l_linestatus as the 2-value carrier axis (Q12)
#   * commit<receipt lag    -> shipdate > orderdate + 60 days (Q12, Q21 flag)
#   * s_comment complaints  -> s_acctbal < 0 as the excluded-supplier set (Q16)
#
# Verified by the local DuckDB-parity gate
# (tests/test_oracle_parity.py) and — because every oracle here is ANSI —
# also executed verbatim by Spark's own SQL parser
# (tests/test_sql_surface.py::test_tpch_oracle_sql_runs_on_spark).
#
# Money discipline matches operators/tpch.py: cent-valued columns become
# exact ROUND(x*100) int64 once, arithmetic stays integer to the end, and
# any final ratio divides two exact integers in fp64 so both engines agree
# bit-for-bit. LIMIT queries always order with a unique tiebreak.
# ---------------------------------------------------------------------------


def _volume_e4():
    """Exact revenue*1e4: ep_cents * (100 - disc_cents)."""
    return _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))


_VOLUME_E4_SQL = (
    "CAST(ROUND(l_extendedprice*100) AS BIGINT)"
    " * (100 - CAST(ROUND(l_discount*100) AS BIGINT))"
)


@register(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
        WITH offers AS (
            SELECT l_partkey, l_suppkey,
                   CAST(ROUND(l_extendedprice*100) AS BIGINT) AS cost_cents
            FROM lineitem
        ), mincost AS (
            SELECT l_partkey AS mp, MIN(cost_cents) AS min_cost
            FROM offers GROUP BY l_partkey
        )
        SELECT DISTINCT
               CAST(ROUND(s_acctbal*100) AS BIGINT) AS s_acctbal_cents,
               s_name, n_name, p_partkey, p_type, cost_cents
        FROM offers
        JOIN mincost ON l_partkey = mp AND cost_cents = min_cost
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey
        WHERE p_size BETWEEN 10 AND 20 AND r_name = 'EUROPE'
        ORDER BY s_acctbal_cents DESC, n_name, s_name, p_partkey
        LIMIT 100
    """,
    tags=("tpch", "join", "subquery", "headline"),
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 minimum-cost supplier: the correlated-MIN subquery shape
    (ref has no joins at all — this is pure extension surface). With no
    partsupp, each lineitem is an offer (part, supplier, price); the
    subquery picks each part's cheapest offer.

    Plan (r17, guide §2.4): the part predicate prunes offers FIRST (a
    broadcast join at test scale; at 100 TB the planner's SMJ on partkey
    leaves offers partitioned exactly as the window needs, so the min
    still costs one shuffle of the ~20% surviving offers), then the
    per-part MIN is an in-partition window instead of a separate
    aggregate joined back — the old shape scanned lineitem twice and
    joined offers against a broadcast mincost that cannot broadcast at
    scale.  Per-part MIN over the part-filtered offers equals the
    all-offers MIN for every surviving part (the minimum is computed
    within each part independently), so the result is unchanged —
    verified list-identical.  Measured 0.97-1.22 -> 0.76-0.85 s min
    across three interleaved trials; nation/region keep their broadcast
    hints; DISTINCT collapses equal-cost duplicate offers before the
    TakeOrderedAndProject top-100."""
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_size").between(10, 20))
        .select("p_partkey", "p_type")
    )
    offers = (
        table(spark, sf_dir, "lineitem")
        .select(
            "l_partkey", "l_suppkey", _cents("l_extendedprice").alias("cost_cents")
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
    )
    w_min = Window.partitionBy("l_partkey")
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", _cents("s_acctbal").alias("s_acctbal_cents")
    )
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        offers.withColumn("min_cost", F.min("cost_cents").over(w_min))
        .filter(F.col("cost_cents") == F.col("min_cost"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_acctbal_cents", "s_name", "n_name", "p_partkey", "p_type", "cost_cents")
        .distinct()
        .orderBy(
            F.desc("s_acctbal_cents"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey")
        )
        .limit(100)
    )


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM supplier
        JOIN nation ON n_nationkey = s_nationkey
        JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE n_name = 'NATION_1'
          AND o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
    """,
    tags=("tpch", "join", "subquery", "headline"),
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 suppliers who kept orders waiting: the EXISTS + NOT-EXISTS
    double self-join — the sole-failing-supplier pattern (returnflag 'R'
    stands in for receipt>commit lateness).

    Plan: instead of two residual-condition self-joins (each a shuffle of
    the full lineitem against itself with a <> residual), a per-order
    aggregate computes n_suppliers and n_flagged_suppliers; a line
    qualifies iff n_suppliers >= 2 AND n_flagged_suppliers = 1 — the
    sole flagged supplier in a multi-supplier order, provably equivalent
    to the EXISTS pair (l1 is flagged, so its supplier IS the one
    flagged supplier). The distinct counts are built as TWO stacked
    aggregates — per (order, supplier) then per order — because a single
    multi-COUNT(DISTINCT) aggregate plans an Expand that doubles every
    lineitem row through the shuffle. The per-(order,supplier) frame
    also carries each supplier's R-line count, so the qualifying lines
    come from that aggregate too: lineitem is scanned ONCE, no raw-row
    self-join survives, and numwait is the sum of R-line counts over the
    qualifying (order, supplier) pairs. The SQL oracle keeps the EXISTS
    shape.

    r17 (guide §2.4 — establish the partitioning once): lineitem
    repartitions by l_orderkey ONCE up front; hashpartitioning(l_orderkey)
    satisfies the (l_orderkey, l_suppkey) aggregate's clustering
    requirement AND the per-order roll-up's, so the old stacked per-order
    aggregate + re-join (two more exchanges of the aggregated frame)
    collapses into an exchange-free window over the same partitioning.
    Measured min 0.78-1.16 -> 0.56-0.64 s at sf0.1 across three
    interleaved trials, ordered output list-identical. Skew-safe: a
    window partition is one order's suppliers (bounded by lines-per-order,
    never corpus-proportional)."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_returnflag")
        .repartition("l_orderkey")
    )
    r_line = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(r_line).alias("has_r"),
        F.sum(r_line).alias("n_r_lines"),
    )
    w_order = Window.partitionBy("l_orderkey")
    per_supp = per_supp.withColumn(
        "n_supp", F.count(F.lit(1)).over(w_order)
    ).withColumn("n_flagged", F.sum("has_r").over(w_order))
    supp = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    orders_f = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    return (
        per_supp.filter(
            (F.col("has_r") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("n_flagged") == 1)
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .groupBy("s_name")
        .agg(F.sum("n_r_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


@register(
    "tpch_q8_market_share",
    oracle=f"""
        SELECT o_year,
               CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume_e4
                             ELSE 0 END) AS BIGINT) AS nation_volume_e4,
               CAST(SUM(volume_e4) AS BIGINT) AS total_volume_e4,
               CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume_e4
                             ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(volume_e4) AS DOUBLE) AS mkt_share
        FROM (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   n2.n_name AS supp_nation,
                   {_VOLUME_E4_SQL} AS volume_e4
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON n1.n_nationkey = c_nationkey
            JOIN region ON r_regionkey = n1.n_regionkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation n2 ON n2.n_nationkey = s_nationkey
            WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
        ) all_nations
        GROUP BY o_year
    """,
    tags=("tpch", "join", "headline"),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national market share: conditional-fraction-of-total over a
    7-way join, the widest join tree in the suite.

    Plan: the filtered part scan (~1/6 of parts) prunes lineitem FIRST —
    the selective dimension drives the tree. Only the constant-size
    frames (both nation roles, region) carry explicit broadcast hints;
    part / supplier / customer / orders are data-proportional and left
    to the size-based planner — broadcast at test scale, shuffle at
    100 TB. The share
    divides two exact integer sums in fp64, bit-identical across
    engines."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_suppkey", _volume_e4().alias("volume_e4")
    )
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk1"), F.col("n_regionkey")
    )
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("supp_nation")
    )
    nation_vol = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("volume_e4")).otherwise(0)
    )
    total_vol = F.sum("volume_e4")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("nk1"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("nk2"))
        .groupBy("o_year")
        .agg(
            nation_vol.alias("nation_volume_e4"),
            total_vol.alias("total_volume_e4"),
            (nation_vol.cast("double") / total_vol.cast("double")).alias("mkt_share"),
        )
    )


@register(
    "tpch_q9_product_profit",
    oracle=f"""
        SELECT nation, o_year, CAST(SUM(amount_e4) AS BIGINT) AS profit_e4
        FROM (
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   {_VOLUME_E4_SQL}
                     - CAST(ROUND(p_retailprice*100) AS BIGINT)
                       * CAST(l_quantity AS BIGINT) * 100 AS amount_e4
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
            JOIN orders ON o_orderkey = l_orderkey
            WHERE p_name LIKE '%red%'
        ) profit
        GROUP BY nation, o_year
    """,
    tags=("tpch", "join", "headline"),
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 product-type profit: revenue minus cost over a LIKE-filtered
    part family, grouped by supplier nation x order year. ps_supplycost
    doesn't exist here, so unit cost is p_retailprice (broadcast with the
    part row — no extra join).

    Plan: the LIKE filter prunes part before the join; nation carries the
    only explicit broadcast hint (constant-size) — part and supplier are
    data-proportional, planner-chosen; lineitem x orders is the one
    big shuffle join; profit
    stays exact integer e4 (cents x cents-scale) until the final sum."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        "l_orderkey",
        _volume_e4().alias("volume_e4"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", _cents("p_retailprice").alias("retail_cents"))
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "amount_e4",
            F.col("volume_e4") - F.col("retail_cents") * F.col("qty") * F.lit(100),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount_e4").alias("profit_e4"))
    )


@register(
    "tpch_q11_important_stock",
    oracle="""
        WITH vals AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))
                        AS BIGINT) AS value_cents
            FROM lineitem
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
            WHERE n_name = 'NATION_1'
            GROUP BY l_partkey
        )
        SELECT l_partkey, value_cents
        FROM vals
        WHERE CAST(value_cents AS DOUBLE) >
              (SELECT CAST(SUM(value_cents) AS DOUBLE) * 0.001 FROM vals)
    """,
    tags=("tpch", "subquery"),
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 important stock: per-key value vs a scalar fraction-of-total
    subquery (partsupp value becomes shipped lineitem value for one
    nation's suppliers).

    Plan: the nation's supplier keys semi-join into the lineitem scan
    (planner-broadcast at test scale — the frame is data-proportional,
    so no forced hint); ONE shuffle builds the per-part sums; the total is a
    one-row aggregate of that same frame cross-joined by broadcast —
    lazy, no driver collect. The per-part frame is pin()ned: exchange
    reuse does NOT fire here (the threshold branch's canonicalized plan
    differs by an inferred isnotnull join-key filter — verified r5), so
    without the persist the lineitem scan+agg would run twice.
    tests/test_plans.py asserts the single-scan property."""
    natsupp = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    vals = pin(
        table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", _cents("l_extendedprice").alias("ep_cents"))
        .join(natsupp, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum("ep_cents").alias("value_cents"))
    )
    threshold = vals.agg(
        (F.sum("value_cents").cast("double") * F.lit(0.001)).alias("thr")
    )
    return (
        vals.join(F.broadcast(threshold))
        .filter(F.col("value_cents").cast("double") > F.col("thr"))
        .select("l_partkey", "value_cents")
    )


@register(
    "tpch_q12_late_lines_priority",
    oracle="""
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
          AND year(l_shipdate) = 1997
        GROUP BY l_linestatus
    """,
    tags=("tpch", "join"),
)
def tpch_q12_late_lines_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shipping priority split: conditional counts over a join with a
    CROSS-TABLE date predicate (no commit/receipt dates, so "late" is
    shipped >60 days after ordering; l_linestatus stands in for the
    two-valued shipmode axis).

    Plan: the year filter is spelled as a shipdate RANGE so it pushes to
    the parquet scan as min/max row-group pruning (a year() call would
    not push); the 60-day lag predicate is a post-join residual (it
    references both sides, so no pushdown is possible — exactly Q12's
    point); one shuffle join on orderkey, one 2-group aggregate."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   CAST(SUM({_VOLUME_E4_SQL}) AS BIGINT) AS total_revenue_e4
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue_e4
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue_e4 = (SELECT MAX(total_revenue_e4) FROM revenue)
    """,
    tags=("tpch", "subquery"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top supplier: the revenue-view + scalar-MAX-subquery shape
    (every supplier tied at the max is returned — NOT a top-1 window,
    which would drop ties differently).

    Plan: one shuffle for the quarter's per-supplier revenue; the MAX is
    a one-row aggregate of the same frame, broadcast back lazily;
    supplier names broadcast. The revenue frame is pin()ned: exchange
    reuse does NOT fire here (the two branches canonicalize differently
    — an inferred isnotnull join-key filter on one side; verified r5),
    so without the persist the lineitem scan+agg would run twice.
    tests/test_plans.py asserts the single-scan property."""
    rev = pin(
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_volume_e4()).alias("total_revenue_e4"))
    )
    best = rev.agg(F.max("total_revenue_e4").alias("best_rev"))
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(best))
        .filter(F.col("total_revenue_e4") == F.col("best_rev"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_e4")
    )


@register(
    "tpch_q16_supplier_cnt_by_part",
    oracle="""
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_type NOT LIKE 'PROMO%'
          AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
          AND l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
    """,
    tags=("tpch", "join"),
)
def tpch_q16_supplier_cnt_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 supplier counts per part class: COUNT(DISTINCT) under a
    NOT-IN exclusion (complaint suppliers become negative-balance ones).

    Plan: the three part predicates prune the part side before the join;
    the NOT IN is a LEFT ANTI join on a filtered supplier set
    (s_suppkey is non-null, so anti-join and NOT IN agree) — both sides
    data-proportional, so the broadcast choice is the planner's; the distinct count is Spark's two-phase
    partial-distinct aggregate — one shuffle on the group keys."""
    part = (
        table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (~F.col("p_type").like("PROMO%"))
            & (F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_supp = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(bad_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q17_small_qty_revenue",
    oracle="""
        SELECT CAST(CAST(SUM(ep_cents) AS DOUBLE) / 7.0 AS DOUBLE)
                   AS avg_yearly_cents
        FROM (
            SELECT CAST(ROUND(l_extendedprice*100) AS BIGINT) AS ep_cents,
                   l_quantity, l_partkey
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_brand = 'Brand#1'
        ) brand_lines
        JOIN (
            SELECT l_partkey AS ap,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*)
                       AS avg_qty
            FROM lineitem GROUP BY l_partkey
        ) per_part ON l_partkey = ap
        WHERE l_quantity < 0.2 * avg_qty
    """,
    tags=("tpch", "join", "subquery"),
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity-order revenue: the correlated per-part AVG
    subquery — each line compares against ITS part's average quantity.

    Plan: the brand's partkeys semi-prune the per-part average aggregate
    BEFORE it computes (the oracle averages every part; restricting to
    the joined parts is value-identical and skips >95% of the agg
    work); the brand lines and the averages then meet on partkey. All
    frames here are data-proportional, so broadcasts are planner-chosen
    (taken at test scale). The average divides exact integer sum/count in fp64."""
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li = table(spark, sf_dir, "lineitem")
    brand_lines = li.select(
        "l_partkey", "l_quantity", _cents("l_extendedprice").alias("ep_cents")
    ).join(part, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    per_part = (
        li.select("l_partkey", F.col("l_quantity").cast("long").alias("qty"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy(F.col("l_partkey").alias("ap"))
        .agg((F.sum("qty").cast("double") / F.count(F.lit(1))).alias("avg_qty"))
    )
    return (
        brand_lines.join(per_part, F.col("l_partkey") == F.col("ap"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (F.sum("ep_cents").cast("double") / F.lit(7.0)).alias("avg_yearly_cents")
        )
    )


@register(
    "tpch_q19_disjunctive_revenue",
    oracle=f"""
        SELECT CAST(SUM({_VOLUME_E4_SQL}) AS BIGINT) AS revenue_e4
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
    tags=("tpch", "join"),
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 discounted revenue under a 3-arm disjunction mixing part
    attributes with lineitem attributes (the shipmode/container arms are
    dropped with the missing columns; the brand x size x quantity
    cross-side OR is the shape).

    Plan: Catalyst derives the common prefix (brand IN 3 values,
    size <= 15) and pushes it into the broadcast part side, so the
    broadcast table carries ~3 brands' rows; the residual OR evaluates
    post-join inside codegen. Single broadcast join, single scalar agg —
    no shuffle at all until the final one-row reduce."""
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", _volume_e4().alias("volume_e4")
    )
    qty = F.col("l_quantity")
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & qty.between(qlo, qhi)
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(arm("Brand#1", 5, 1, 11) | arm("Brand#2", 10, 10, 20) | arm("Brand#3", 15, 20, 30))
        .agg(F.sum("volume_e4").alias("revenue_e4"))
    )


@register(
    "tpch_q20_excess_share_suppliers",
    oracle="""
        WITH shipped AS (
            SELECT l_partkey, l_suppkey,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS supp_qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_partkey, l_suppkey
        ), part_total AS (
            SELECT l_partkey AS tp, CAST(SUM(supp_qty) AS BIGINT) AS total_qty
            FROM shipped GROUP BY l_partkey
        )
        SELECT DISTINCT s_suppkey, s_name
        FROM shipped
        JOIN part_total ON l_partkey = tp
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE p_name LIKE 'small%'
          AND n_name = 'NATION_2'
          AND CAST(supp_qty AS DOUBLE) > 0.3 * CAST(total_qty AS DOUBLE)
    """,
    tags=("tpch", "join", "subquery"),
)
def tpch_q20_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 potential part promotion: suppliers holding an outsized share
    of a part family's volume (availqty > half-year-demand becomes
    supplier's shipped share > 30% of the part's 1996 total — the same
    nested correlated-aggregate chain ending in a DISTINCT supplier
    list).

    Plan: one shuffle on (partkey, suppkey) builds supplier shares; the
    per-part totals REUSE that aggregate (second agg is a rollup of the
    first, map-side combinable); the name-filtered part semi-join and the
    single nation's supplier join are planner-broadcast at test scale
    (data-proportional, no forced hints); DISTINCT collapses multi-part
    qualifiers."""
    shipped = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("supp_qty"))
    )
    part_total = shipped.groupBy(F.col("l_partkey").alias("tp")).agg(
        F.sum("supp_qty").alias("total_qty")
    )
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        shipped.join(part_total, F.col("l_partkey") == F.col("tp"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .filter(
            F.col("supp_qty").cast("double") > F.lit(0.3) * F.col("total_qty").cast("double")
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name")
        .distinct()
    )
