"""Events round-3 additions — the SKETCH-BASED scale paths whose exact
twins live in operators/events.py.  Sketch outputs are engine-specific,
so these are rows-only queries verified by error-bound tests against their
exact baselines instead of a DuckDB hash compare."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions.fragments import cents_col as _cents_col
from bigbugdata_spark.registry import register

APPROX_ACC = 10_000  # GK sketch accuracy: rank error <= n / APPROX_ACC


# Rows-only by design (GK sketch outputs are engine-specific): verified
# through its oracle'd twin audit_quantiles_rank.
@register("evt_value_quantiles_approx", tags=("events", "agg"))
def evt_value_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p90/p99 of the event value per type via
    percentile_approx (Greenwald-Khanna sketch) — the 100 TB twin of
    evt_value_quantiles: the exact query's per-group sort stops scaling
    when one group outgrows a partition, while the sketch is a bounded-
    memory mergeable state whose aggregation stays map-side partial +
    one shuffle, like any hash agg.

    Rows-only by design: GK results are Spark-specific (DuckDB's
    approx_quantile is a t-digest — a different sketch), so the contract
    is the rank-error bound, asserted against the exact baseline in
    tests/test_extensions.py and driver-hash-verified through the
    oracle'd audit twin `audit_quantiles_rank` (operators/audits.py)."""
    ev = table(spark, sf_dir, "events")
    cents = ev.select("event_type", _cents_col().alias("cents"))
    pct = F.percentile_approx("cents", [0.5, 0.9, 0.99], APPROX_ACC)
    return cents.groupBy("event_type").agg(
        pct.getItem(0).cast("long").alias("p50_cents"),
        pct.getItem(1).cast("long").alias("p90_cents"),
        pct.getItem(2).cast("long").alias("p99_cents"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "evt_cube",
    oracle="""
        SELECT COALESCE(event_type, '<all>') AS event_type,
               COALESCE(CAST(user_id % 8 AS VARCHAR), '<all>') AS user_shard,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM events
        GROUP BY CUBE (event_type, CAST(user_id % 8 AS VARCHAR))
    """,
    tags=("events", "agg"),
)
def evt_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, user shard) — all four grouping sets in one
    expand + aggregate pass (evt_rollup covers the hierarchical subset;
    CUBE completes the grouping-sets surface). The shard key keeps the
    cross dimension low-cardinality; '<all>' labels disambiguate subtotal
    rows from genuine NULL keys, as in evt_rollup. One shuffle; the
    expand multiplies input rows by the number of grouping sets (4) —
    the documented cost of cube at scale, which is why the shard
    dimension is bounded."""
    from bigbugdata_spark.functions.fragments import cents_col as _cents_col

    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            (F.col("user_id") % 8).cast("string").alias("user_shard"),
            _cents_col().alias("cents"),
        )
        .cube("event_type", "user_shard")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("value_cents"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("<all>")).alias("event_type"),
            F.coalesce(F.col("user_shard"), F.lit("<all>")).alias("user_shard"),
            "n_events",
            "value_cents",
        )
    )


_SPLIT = "2024-01-16"  # events span 2024-01; halves on either side


@register(
    "evt_cohort_setops",
    oracle=f"""
        WITH w1 AS (SELECT DISTINCT user_id FROM events
                    WHERE ts < TIMESTAMP '{_SPLIT}'),
             w2 AS (SELECT DISTINCT user_id FROM events
                    WHERE ts >= TIMESTAMP '{_SPLIT}')
        SELECT 'retained' AS cohort, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM (SELECT user_id FROM w1 INTERSECT SELECT user_id FROM w2)
        UNION ALL
        SELECT 'churned', CAST(COUNT(*) AS BIGINT)
        FROM (SELECT user_id FROM w1 EXCEPT SELECT user_id FROM w2)
        UNION ALL
        SELECT 'new', CAST(COUNT(*) AS BIGINT)
        FROM (SELECT user_id FROM w2 EXCEPT SELECT user_id FROM w1)
    """,
    tags=("events", "setop"),
)
def evt_cohort_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort movement via SET OPERATIONS — INTERSECT (retained), EXCEPT
    both ways (churned / new) between the two halves of the event range;
    the set-op surface SURVEY §2.1 notes the reference lacks entirely
    (its only set op is union-by-concatenation, op 19).

    Plan: Spark rewrites INTERSECT/EXCEPT into left-semi/left-anti
    aggregated joins on the already-distinct user sets — the same
    bucketed equi-join machinery as everything else; one shuffle per
    distinct + per set op, all on the user_id key, so at scale the three
    counts co-partition. The two halves scan the same events table with
    disjoint pushed predicates."""
    ev = table(spark, sf_dir, "events")
    split = F.lit(_SPLIT).cast("timestamp")
    w1 = ev.filter(F.col("ts") < split).select("user_id").distinct()
    w2 = ev.filter(F.col("ts") >= split).select("user_id").distinct()

    def count_as(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(label).alias("cohort"), "n_users"
        )

    return (
        count_as(w1.intersect(w2), "retained")
        .unionAll(count_as(w1.exceptAll(w2), "churned"))
        .unionAll(count_as(w2.exceptAll(w1), "new"))
    )


@register(
    "evt_user_window_funcs",
    oracle="""
        SELECT user_id, event_id,
               CAST(ROW_NUMBER() OVER seq_w AS BIGINT) AS seq,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER seq_w AS gap_us,
               LEAD(event_type) OVER seq_w AS next_type,
               CAST(RANK() OVER
                    (PARTITION BY user_id
                     ORDER BY CAST(ROUND(value*100) AS BIGINT) DESC)
                    AS BIGINT) AS value_rank,
               CAST(NTILE(4) OVER seq_w AS BIGINT) AS quartile,
               CUME_DIST() OVER
                   (PARTITION BY user_id
                    ORDER BY CAST(ROUND(value*100) AS BIGINT)) AS value_cume,
               CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS running_cents
        FROM events
        WINDOW seq_w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("events", "window"),
)
def evt_user_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full analytic window-function surface in one per-user
    sequencing query: ROW_NUMBER / LAG / LEAD over the time order,
    RANK over the value order, NTILE(4) sessions-of-equal-size,
    CUME_DIST, and a running sum with an explicit ROWS frame (SURVEY
    §2.1 records the reference has no window functions at all — op14/15
    became the first two; this completes the catalog).

    Determinism discipline: the time ordering carries event_id as a
    unique tiebreak, so every ranking/frame is total-order deterministic;
    gaps are exact integer microseconds (unix_micros vs DuckDB epoch_us);
    values rank as exact integer cents; CUME_DIST divides two exact ints
    in fp64.

    Scale: ONE shuffle on user_id serves the time-ordered windows; the
    value-ordered rank/cume re-sort within the same partitions without a
    second exchange (same partition key, different ORDER BY)."""
    ev = table(spark, sf_dir, "events")
    cents = _cents_col()
    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val_desc = Window.partitionBy("user_id").orderBy(F.col("cents").desc())
    val_asc = Window.partitionBy("user_id").orderBy(F.col("cents").asc())
    run_w = seq_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ev.select("user_id", "event_id", "ts", "event_type", cents.alias("cents"))
        .select(
            "user_id",
            "event_id",
            F.row_number().over(seq_w).cast("long").alias("seq"),
            (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(seq_w)
            ).alias("gap_us"),
            F.lead("event_type").over(seq_w).alias("next_type"),
            F.rank().over(val_desc).cast("long").alias("value_rank"),
            F.ntile(4).over(seq_w).cast("long").alias("quartile"),
            F.cume_dist().over(val_asc).alias("value_cume"),
            F.sum("cents").over(run_w).cast("long").alias("running_cents"),
        )
    )


@register(
    "evt_cohort_fullouter",
    oracle="""
        WITH first_week AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_early
            FROM events
            WHERE ts < TIMESTAMP '2024-01-08' GROUP BY user_id
        ), last_week AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_late
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-22' GROUP BY user_id
        )
        SELECT COALESCE(f.user_id, l.user_id) AS user_id,
               COALESCE(n_early, 0) AS n_early,
               COALESCE(n_late, 0) AS n_late,
               CASE WHEN f.user_id IS NULL THEN 'late_only'
                    WHEN l.user_id IS NULL THEN 'early_only'
                    ELSE 'both' END AS presence
        FROM first_week f FULL OUTER JOIN last_week l
          ON f.user_id = l.user_id
    """,
    tags=("events", "join"),
)
def evt_cohort_fullouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-week vs last-week activity per user via FULL OUTER join —
    the one join type the rest of the surface doesn't exercise (inner /
    left / semi / anti / cross and set-ops are covered elsewhere);
    COALESCE folds the two key columns and null-extends the counts.

    Plan: both cohort aggregates prune their scan with the pushable date
    predicate; the full outer join shuffles two already-aggregated
    per-user frames (tiny relative to raw events), one exchange each."""
    ev = table(spark, sf_dir, "events")
    first = (
        ev.filter(F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_early"))
        .select(F.col("user_id").alias("u1"), "n_early")
    )
    last = (
        ev.filter(F.col("ts") >= F.lit("2024-01-22").cast("timestamp"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_late"))
        .select(F.col("user_id").alias("u2"), "n_late")
    )
    return first.join(last, F.col("u1") == F.col("u2"), "full_outer").select(
        F.coalesce(F.col("u1"), F.col("u2")).alias("user_id"),
        F.coalesce(F.col("n_early"), F.lit(0)).alias("n_early"),
        F.coalesce(F.col("n_late"), F.lit(0)).alias("n_late"),
        F.when(F.col("u1").isNull(), "late_only")
        .when(F.col("u2").isNull(), "early_only")
        .otherwise("both")
        .alias("presence"),
    )

