"""Order-fact analytics: open-order backlog (sweep-line prefix sums),
revenue concentration, cohort lifetime value and RFM segmentation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.registry import register


# ---------------------------------------------------------------------------
# Open-order backlog via sweep-line prefix sums (round 10) — an
# operator SHAPE the engine didn't have yet: "how many intervals cover
# each point in time" answered with +1/-1 boundary deltas and one
# cumulative sum, NOT a per-day range join.  Each order is open from its
# order date until its last lineitem ships; the backlog curve (open
# orders at every boundary day) is the ops view of fulfillment debt.
#
# Why the shape matters at 100 TB: the naive formulation joins a day
# dimension against the interval table on day BETWEEN start AND end —
# cost |days| x |intervals| candidate pairs (billions x thousands).  The
# sweep-line emits exactly TWO delta rows per interval, aggregates them
# by day (map-side combinable), and one ordered cumulative sum over the
# distinct-boundary-day frame (date-domain bounded, the growth-accounting
# window shape) yields every day's open count.  Linear in intervals,
# ordered work bounded by the calendar.
#
# No analog in the reference (SURVEY §2.1); orders/events extension
# surface next to evt_range_join (which keeps the join shape for the
# cases that NEED pairing, not counting).
#
# Determinism: dates format to strings on both engines; counts are exact
# integers; orders with no lineitems never open (the RI-orphan case
# dq_referential_integrity reports).
# ---------------------------------------------------------------------------


_BACKLOG_SQL = """
    WITH iv AS (
        SELECT o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS start_d,
               CAST(MAX(l.l_shipdate) AS DATE) AS end_d
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
        SELECT strftime(start_d, '%Y-%m-%d') AS day, 1 AS delta FROM iv
        UNION ALL
        SELECT strftime(end_d + INTERVAL 1 DAY, '%Y-%m-%d'), -1 FROM iv
    ),
    by_day AS (
        SELECT day, CAST(SUM(delta) AS BIGINT) AS net_change
        FROM deltas GROUP BY day
    )
    SELECT day, net_change,
           CAST(SUM(net_change) OVER (
               ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS open_orders
    FROM by_day
"""


@register(
    "orders_open_backlog",
    oracle=_BACKLOG_SQL,
    tags=("orders", "events", "window", "agg"),
)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, net_change, open_orders) at every interval boundary day:
    the number of orders open (placed, not yet fully shipped) after
    that day's openings and closings — two delta rows per order, one
    calendar-bounded cumulative sum."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("start_d")
    )
    ship = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("end_d"))
    )
    iv = orders.join(ship, orders.o_orderkey == ship.l_orderkey)
    deltas = iv.select(
        F.date_format("start_d", "yyyy-MM-dd").alias("day"),
        F.lit(1).alias("delta"),
    ).unionByName(
        iv.select(
            F.date_format(F.date_add("end_d", 1), "yyyy-MM-dd").alias("day"),
            F.lit(-1).alias("delta"),
        )
    )
    by_day = deltas.groupBy("day").agg(
        F.sum("delta").cast("long").alias("net_change")
    )
    wcum = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return by_day.withColumn(
        "open_orders", F.sum("net_change").over(wcum).cast("long")
    )


# ---------------------------------------------------------------------------
# Revenue concentration (round 9) — the Pareto question every
# dataset/revenue review asks: how much of total revenue do the top
# TOP_CUSTOMERS customers carry?  A single-row card with exact cents and
# an integer-permille share — the concentration metric that decides
# whether a corpus (or a business) is dominated by a few heavy sources,
# the relational sibling of dedup_source_dup_rate's governance view.
#
# No analog in the reference (SURVEY §2.1); relational/analytics
# extension surface.
#
# Scale posture: one orders scan -> per-customer cents aggregate (one
# custkey-keyed shuffle, map-side combinable) -> top-k via
# orderBy+limit (TakeOrderedAndProject: per-partition heads, driver
# merges k*p rows — never a global sort, the r8 verdict's scale-killer
# class) -> two single-row aggregates.  Ties at the cut rank break by
# customer id, so the selected set (and therefore the hash) is
# deterministic in both engines.
# ---------------------------------------------------------------------------


TOP_CUSTOMERS = 100


@register(
    "orders_revenue_concentration",
    oracle=f"""
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ),
        top AS (
            SELECT cents FROM per_cust
            ORDER BY cents DESC, o_custkey LIMIT {TOP_CUSTOMERS}
        )
        SELECT CAST((SELECT COUNT(*) FROM per_cust) AS BIGINT)
                   AS n_customers,
               CAST((SELECT SUM(cents) FROM per_cust) AS BIGINT)
                   AS total_cents,
               CAST((SELECT SUM(cents) FROM top) AS BIGINT) AS top_cents,
               CAST(CAST((SELECT SUM(cents) FROM top) * 1000 AS BIGINT)
                   // (SELECT SUM(cents) FROM per_cust) AS BIGINT) AS share_pm
    """,
    tags=("tpch", "agg", "topk"),
)
def orders_revenue_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One row: customer count, total revenue cents, the top
    TOP_CUSTOMERS customers' revenue cents, and their integer-permille
    share."""
    per_cust = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    totals = per_cust.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("total_cents"),
    )
    top = (
        per_cust.orderBy(F.desc("cents"), F.asc("o_custkey"))
        .limit(TOP_CUSTOMERS)
        .agg(F.sum("cents").alias("top_cents"))
    )
    return totals.crossJoin(top).select(
        "n_customers",
        "total_cents",
        "top_cents",
        F.expr("top_cents * 1000 div total_cents").alias("share_pm"),
    )


# ---------------------------------------------------------------------------
# Cohort lifetime-value matrix (round 9) — the classic retention-
# revenue view: customers grouped by FIRST-ORDER month (the cohort), each
# cohort's revenue tracked by integer months-since-first-order.  The
# table behind "how much does a January-acquired customer spend in month
# 3" — together with evt_retention (activity retention) this completes
# the cohort-analysis pair (activity + monetary).
#
# No analog in the reference (SURVEY §2.1); relational/analytics
# extension surface over the TPC-H-ish orders table.
#
# Scale posture: ONE orders scan — the per-customer first-order month is
# a MIN window over the o_custkey partition (the bucketed-layout key),
# not a self-join, so the whole plan is scan -> one user-keyed shuffle
# -> one (cohort, offset) aggregate on a months²-bounded key space;
# cohort/offset arithmetic is pure integer month math (year*12+month —
# no fp, no interval semantics to disagree on).  Revenue is exact cents
# (CENTS-style ROUND) so the hash compare is fp-free.
# ---------------------------------------------------------------------------


_MIDX = "(EXTRACT(YEAR FROM {c}) * 12 + EXTRACT(MONTH FROM {c}) - 1)"


@register(
    "orders_cohort_ltv",
    oracle=f"""
        WITH firsts AS (
            SELECT o_custkey,
                   CAST(MIN({_MIDX.format(c='o_orderdate')}) AS BIGINT)
                       AS cohort_idx
            FROM orders GROUP BY o_custkey
        ),
        tagged AS (
            SELECT f.cohort_idx,
                   CAST({_MIDX.format(c='o.o_orderdate')} AS BIGINT)
                       - f.cohort_idx AS month_offset,
                   o.o_custkey,
                   CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
            FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
        )
        SELECT lpad(CAST(cohort_idx // 12 AS VARCHAR), 4, '0') || '-' ||
                   lpad(CAST(cohort_idx % 12 + 1 AS VARCHAR), 2, '0')
                   AS cohort_month,
               month_offset,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS revenue_cents
        FROM tagged GROUP BY cohort_idx, month_offset
    """,
    tags=("tpch", "agg", "join"),
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (cohort_month, month_offset): distinct active customers,
    order count, and exact revenue cents.  month_offset 0 is the
    acquisition month by construction (every customer's first order
    lands there), which the unit test pins along with column-sum
    conservation against the raw table."""
    from pyspark.sql import Window

    midx = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    ).cast("long")
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey",
        midx.alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    # first-order month as a window over the customer partition — one
    # scan, one user-keyed shuffle, no self-join
    tagged = orders.withColumn(
        "cohort_idx", F.min("m").over(Window.partitionBy("o_custkey"))
    )
    cohort_month = F.concat(
        F.lpad((F.col("cohort_idx") / 12).cast("long").cast("string"), 4, "0"),
        F.lit("-"),
        F.lpad((F.col("cohort_idx") % 12 + 1).cast("string"), 2, "0"),
    )
    return (
        tagged.groupBy(
            "cohort_idx",
            (F.col("m") - F.col("cohort_idx")).alias("month_offset"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
        .select(
            cohort_month.alias("cohort_month"),
            "month_offset",
            "n_customers",
            "n_orders",
            "revenue_cents",
        )
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (round 8) — the classic warehouse
# marketing cube over the orders fact: every customer banded by Recency
# (days since last order), Frequency (order count) and Monetary (exact
# lifetime cents), rolled up to segment cells. The "who are my dormant
# big spenders" table.
#
# No analog in the reference (SURVEY §2.1); relational-analytics
# extension surface alongside the TPC-H set (q13's distribution and
# q22's idle-customer anti-join are the nearest relatives — this adds
# the banded-cube view both stop short of).
#
# Band edges are FIXED constants, not quantiles — deliberately: fixed
# bands are what production RFM dashboards pin (comparable across runs),
# and they keep the operator scale-clean — every band assignment is a
# per-row comparison, so the whole query is one orders aggregate on
# o_custkey, one broadcast-dimension left join (customers with no orders
# land in the 'never' cell, the q22 population), and a map-side-
# combinable roll-up onto a <= 4x4x4-cell key space. A quantile-banded
# variant would need a global rank over the customer grain — the one
# unpartitioned-window shape this repo avoids everywhere at scale.
#
# Determinism discipline: monetary is the exact-cents BIGINT (the repo's
# standard ROUND(x*100) contract); recency is an integer day diff
# against a fixed anchor; all cells are exact counts/sums.
# ---------------------------------------------------------------------------


RFM_ANCHOR = "2001-09-01"  # fixed analysis date (just past the data's max)
R_ACTIVE_D, R_COOLING_D = 365, 1095  # <=1y active, <=3y cooling, else dormant
F_HIGH, F_MID = 13, 8  # order-count band edges
M_LARGE_C, M_MID_C = 300_000_000, 150_000_000  # lifetime-cents band edges


@register(
    "orders_rfm_segments",
    oracle=f"""
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents,
                   date_diff('day', MAX(o_orderdate),
                             TIMESTAMP '{RFM_ANCHOR} 00:00:00') AS rec_days
            FROM orders GROUP BY o_custkey
        ),
        banded AS (
            SELECT c.c_custkey,
                   CASE WHEN p.o_custkey IS NULL THEN 'never'
                        WHEN rec_days <= {R_ACTIVE_D} THEN 'active'
                        WHEN rec_days <= {R_COOLING_D} THEN 'cooling'
                        ELSE 'dormant' END AS r_band,
                   CASE WHEN p.o_custkey IS NULL THEN 'none'
                        WHEN n_orders >= {F_HIGH} THEN 'high'
                        WHEN n_orders >= {F_MID} THEN 'mid'
                        ELSE 'low' END AS f_band,
                   CASE WHEN p.o_custkey IS NULL THEN 'none'
                        WHEN cents >= {M_LARGE_C} THEN 'large'
                        WHEN cents >= {M_MID_C} THEN 'mid'
                        ELSE 'small' END AS m_band,
                   COALESCE(cents, 0) AS cents
            FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
        )
        SELECT r_band, f_band, m_band,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS total_cents
        FROM banded GROUP BY r_band, f_band, m_band
    """,
    tags=("tpch", "join", "agg"),
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-cell roll-up: (r_band, f_band, m_band) -> customer count
    and exact total lifetime cents. Customers without orders form the
    ('never','none','none') cell."""
    return rfm_segments(
        table(spark, sf_dir, "orders"), table(spark, sf_dir, "customer")
    )


def rfm_segments(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """The banding plan over any (orders, customer) pair — split out so
    the fixture-absent 'never' cell is testable on a synthetic input
    (every sf0.01 customer has orders)."""
    anchor = F.lit(f"{RFM_ANCHOR} 00:00:00").cast("timestamp")
    per_cust = (
        orders.groupBy(F.col("o_custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
            F.datediff(anchor, F.max("o_orderdate")).alias("rec_days"),
        )
    )
    cust = customer.select("c_custkey")
    no_orders = F.col("o_custkey").isNull()
    banded = cust.join(
        per_cust, cust.c_custkey == per_cust.o_custkey, "left"
    ).select(
        F.when(no_orders, "never")
        .when(F.col("rec_days") <= R_ACTIVE_D, "active")
        .when(F.col("rec_days") <= R_COOLING_D, "cooling")
        .otherwise("dormant")
        .alias("r_band"),
        F.when(no_orders, "none")
        .when(F.col("n_orders") >= F_HIGH, "high")
        .when(F.col("n_orders") >= F_MID, "mid")
        .otherwise("low")
        .alias("f_band"),
        F.when(no_orders, "none")
        .when(F.col("cents") >= M_LARGE_C, "large")
        .when(F.col("cents") >= M_MID_C, "mid")
        .otherwise("small")
        .alias("m_band"),
        F.coalesce(F.col("cents"), F.lit(0)).alias("cents"),
    )
    return banded.groupBy("r_band", "f_band", "m_band").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("total_cents"),
    )
