"""TPC-H round-3 additions — the join/subquery SHAPES the first six
classics don't exercise: EXISTS semi-join (Q4), left-outer count
distribution (Q13), having-subquery on an aggregate (Q18), and
anti-join + scalar subquery (Q22).  Shapes adapted to the columns the
driver's star schema carries (no commit/receipt dates, no partsupp, no
phone — see each docstring for the substitution).

These four are verified by the local DuckDB-parity gate
(tests/test_oracle_parity.py runs every registered query).

Money discipline matches operators/tpch.py: cent-valued columns are
extracted once as exact ROUND(x*100) int64 and all arithmetic stays
integer until a final single division, so both engines agree
bit-for-bit."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.registry import register


def _cents(col: str):
    return F.round(F.col(col) * 100).cast("long")


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
