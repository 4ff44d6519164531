"""Event-time operators over the `events` stream table — tumbling /
sliding / session windows and the as-of join (SURVEY.md §7 phase 3;
SURVEY §2.1 records the reference has no streaming or window machinery
at all). These are the BATCH-equivalent forms with exact DuckDB oracles;
their continuous twins live in bigbugdata_spark/streaming/ (watermarked
Structured Streaming over the same plans, rows-only checked).

Determinism discipline: timestamps are formatted to microsecond strings
on both sides; fp `value` sums are converted to exact integer centi-sums
(ROUND(value*100) per row, summed as BIGINT) because a double SUM over an
unordered shuffle is not reproducible bit-for-bit.

Scale posture: every window op shuffles once on its (key, window) —
event-time windows are pre-computable from the column, so partition
pruning on a date-partitioned events table still applies. The as-of join
is the union-sort formulation: one shuffle on user_id, no range-join
explosion, state bounded by one row per side."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions.fragments import (
    CENTS_SQL as _CENTS,
    TS_FMT,
    TS_FMT_DUCK as _TS_FMT_DUCK,
    cents_col as _cents_col,
)
from bigbugdata_spark.registry import register


@register(
    "evt_tumbling_window",
    oracle=f"""
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{_TS_FMT_DUCK}') AS window_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM({_CENTS}) AS BIGINT) AS value_cents
        FROM events
        GROUP BY time_bucket(INTERVAL '1 hour', ts), event_type
    """,
    tags=("events", "window", "headline"),
)
def evt_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type (F.window —
    epoch-aligned, so identical to time_bucket/date_trunc). One shuffle
    on (window, event_type); map-side partial agg collapses each scan
    partition's hours before the exchange."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents_col()).alias("value_cents"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


@register(
    "evt_sliding_window",
    oracle=f"""
        WITH expanded AS (
            SELECT unnest([
                       time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
                   ]) AS window_start,
                   event_type, {_CENTS} AS cents
            FROM events
        )
        SELECT strftime(window_start, '{_TS_FMT_DUCK}') AS window_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS value_cents
        FROM expanded GROUP BY window_start, event_type
    """,
    tags=("events", "window"),
)
def evt_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows, 1 hour every 30 minutes: F.window assigns each
    event to size/slide = 2 windows (the oracle expands the same two
    bucket starts explicitly). Row amplification is the size/slide ratio
    — the scale knob; everything else is the tumbling plan."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents_col()).alias("value_cents"),
        )
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


@register(
    "evt_session_window",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts, {_CENTS} AS cents,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             >= INTERVAL '5 minutes'
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        numbered AS (
            SELECT user_id, ts, cents,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_no
            FROM flagged
        )
        SELECT user_id,
               strftime(MIN(ts), '{_TS_FMT_DUCK}') AS session_start,
               strftime(MAX(ts) + INTERVAL '5 minutes', '{_TS_FMT_DUCK}') AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS value_cents
        FROM numbered GROUP BY user_id, session_no
    """,
    tags=("events", "window", "headline"),
)
def evt_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 5-minute inactivity gap
    (F.session_window): a session extends while successive events arrive
    strictly within the gap; session_end = last_ts + gap. The oracle is
    the classic gaps-and-islands form (lag -> new-session flag -> running
    sum), which implements exactly Spark's half-open merge semantics.
    One shuffle on user_id; streaming twin: the registered
    applyInPandasWithState sessionizer in streaming/stateful.py
    (evt_stream_sessions)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents_col()).alias("value_cents"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), TS_FMT).alias("session_start"),
            F.date_format(F.col("w.end"), TS_FMT).alias("session_end"),
            "n_events",
            "value_cents",
        )
    )


@register(
    "evt_rollup",
    oracle=f"""
        SELECT COALESCE(event_type, '<all>') AS event_type,
               COALESCE(strftime(time_bucket(INTERVAL '1 week', ts), '%Y-%m-%d'), '<all>') AS week_start,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM({_CENTS}) AS BIGINT) AS value_cents
        FROM events
        GROUP BY ROLLUP (event_type, time_bucket(INTERVAL '1 week', ts))
    """,
    tags=("events", "agg", "headline"),
)
def evt_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP (event_type, week) — subtotals per
    type and a grand total in one pass (the reference has no grouping
    sets at all, SURVEY §2.1; Spark plans this as a single expand +
    aggregate, one shuffle). NULL grouping keys are labeled '<all>' on
    both sides so the hash compare can't confuse a subtotal row with a
    genuinely-null key."""
    ev = table(spark, sf_dir, "events")
    # Spark windows anchor at the epoch (a Thursday); DuckDB time_bucket
    # weeks anchor at 2000-01-03 (a Monday) — the 4-day startTime offset
    # puts both on the same Monday lattice
    week = F.window("ts", "1 week", "1 week", "4 days").getField("start")
    return (
        ev.select(
            "event_type",
            F.date_format(week, "yyyy-MM-dd").alias("week_start"),
            _cents_col().alias("cents"),
        )
        .rollup("event_type", "week_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("value_cents"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("<all>")).alias("event_type"),
            F.coalesce(F.col("week_start"), F.lit("<all>")).alias("week_start"),
            "n_events",
            "value_cents",
        )
    )


@register(
    "evt_funnel",
    oracle="""
        WITH signups AS (
            SELECT user_id, MIN(ts) AS signup_ts FROM events
            WHERE event_type = 'signup' GROUP BY user_id
        ),
        clicked AS (
            SELECT DISTINCT s.user_id
            FROM signups s JOIN events e
              ON e.user_id = s.user_id AND e.event_type = 'click'
             AND e.ts > s.signup_ts
             AND epoch_us(e.ts) - epoch_us(s.signup_ts) <= 3600000000
        ),
        purchased AS (
            SELECT DISTINCT s.user_id
            FROM signups s JOIN events e
              ON e.user_id = s.user_id AND e.event_type = 'purchase'
             AND e.ts > s.signup_ts
             AND epoch_us(e.ts) - epoch_us(s.signup_ts) <= 3600000000
        )
        SELECT CAST((SELECT COUNT(*) FROM signups) AS BIGINT) AS n_signup,
               CAST((SELECT COUNT(*) FROM clicked) AS BIGINT) AS n_clicked_1h,
               CAST((SELECT COUNT(*) FROM purchased) AS BIGINT) AS n_purchased_1h
    """,
    tags=("events", "join", "headline"),
)
def evt_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion: of users who signed up (first signup event),
    how many clicked / purchased within the following hour — as ONE lazy
    plan over ONE events scan (r2 fix: the first cut ran three eager
    .count() jobs at plan-construction time, breaking the registry's
    lazy-plan contract and re-scanning events per stage).

    Shape: a per-user window pins signup_ts = min(signup ts) onto every
    row (one shuffle on user_id), per-row conditionals mark in-window
    click/purchase rows, a per-user agg collapses to three booleans
    (exchange reuse: already hash-partitioned on user_id, no second
    shuffle), and a single-row conditional sum finishes. No join at all —
    the window replaces the signups-side equi-join."""
    ev = table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id")
    signup_ts = F.min(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w_user)
    with_signup = ev.select("user_id", "event_type", "ts").withColumn(
        "signup_ts", signup_ts
    )
    in_hour = (
        F.col("signup_ts").isNotNull()
        & (F.col("ts") > F.col("signup_ts"))
        & (F.unix_micros("ts") - F.unix_micros("signup_ts") <= 3_600_000_000)
    )
    per_user = with_signup.groupBy("user_id").agg(
        F.max(F.col("signup_ts").isNotNull()).alias("signed_up"),
        F.max(in_hour & (F.col("event_type") == "click")).alias("clicked"),
        F.max(in_hour & (F.col("event_type") == "purchase")).alias("purchased"),
    )
    as_count = lambda c: F.sum(F.col(c).cast("long")).cast("long")
    return per_user.agg(
        as_count("signed_up").alias("n_signup"),
        as_count("clicked").alias("n_clicked_1h"),
        as_count("purchased").alias("n_purchased_1h"),
    )


@register(
    "evt_retention",
    oracle="""
        WITH active AS (
            SELECT DISTINCT user_id,
                   CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) // 7 AS BIGINT)
                       AS week
            FROM events
        )
        SELECT a.week,
               CAST(COUNT(*) AS BIGINT) AS n_active,
               CAST(COUNT(*) FILTER (b.user_id IS NOT NULL) AS BIGINT) AS n_retained
        FROM active a
        LEFT JOIN active b ON a.user_id = b.user_id AND b.week = a.week + 1
        GROUP BY a.week
    """,
    tags=("events", "join", "headline"),
)
def evt_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retention cohorts: distinct active users per week,
    and how many of them are also active in week+1.

    r17 restructure (guide §2.4 — the self-join removed outright): one
    groupBy(user_id) collects each user's distinct week set (map-side
    partial collect_set dedupes before the exchange, exactly like the old
    distinct), then explode + array_contains(weeks, week+1) answers the
    retained question per (user, week) row with NO second join — the old
    shape's distinct + shifted self-join + roll-up paid 3 exchanges of
    the (user, week) frame; this pays one user-keyed exchange plus the
    bounded week roll-up. Scale-safe: a user's week set is calendar-
    bounded (|weeks|, never event-count). Measured min 0.24-0.40 ->
    0.18-0.25 s at sf0.1 across three interleaved trials, result
    multiset-identical."""
    ev = table(spark, sf_dir, "events")
    # DuckDB `//` TRUNCATES toward zero (verified: -9 // 7 = -1), and
    # cast('long') of the double quotient truncates the same way — so a
    # pre-epoch event lands in the same week bucket on both sides
    week = (
        F.datediff(F.col("ts"), F.lit("2024-01-01").cast("timestamp")) / F.lit(7)
    ).cast("long")
    per_user = (
        ev.select("user_id", week.alias("week"))
        .groupBy("user_id")
        .agg(F.collect_set("week").alias("weeks"))
    )
    hit = per_user.select(F.explode("weeks").alias("week"), "weeks")
    return hit.groupBy("week").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(F.array_contains("weeks", F.col("week") + 1).cast("long"))
        .cast("long")
        .alias("n_retained"),
    )


#: also gates streaming/quantiles.py's evt_stream_value_quantiles verbatim
QUANTILES_ORACLE_SQL = f"""
        WITH ranked AS (
            SELECT event_type, {_CENTS} AS cents,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY {_CENTS}, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events
        )
        SELECT event_type,
               CAST(MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN cents END) AS BIGINT) AS p50_cents,
               CAST(MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT) THEN cents END) AS BIGINT) AS p90_cents,
               CAST(MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN cents END) AS BIGINT) AS p99_cents,
               CAST(MAX(n) AS BIGINT) AS n_events
        FROM ranked GROUP BY event_type
    """


@register(
    "evt_value_quantiles",
    oracle=QUANTILES_ORACLE_SQL,
    tags=("events", "window", "agg", "headline"),
)
def evt_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete quantiles (p50/p90/p99) of the event value per
    type: rank-based selection (value at row ceil(q*n) of the sorted
    group) — no interpolation, no sketch, so the result is integer-exact
    and engine-independent. One shuffle on event_type for the window.

    Scale note: exact quantiles need a per-group sort — right up to the
    point a single group outgrows a partition; past that, the approximate
    path is percentile_approx (a positive-error GK sketch) whose results
    are Spark-specific and therefore deliberately NOT oracle-gated here."""
    ev = table(spark, sf_dir, "events")
    ranked = ev.select(
        "event_type",
        _cents_col().alias("cents"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ranked.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )

    def pick(q: float):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("long"),
                F.col("cents"),
            )
        )

    return ranked.groupBy("event_type").agg(
        pick(0.5).cast("long").alias("p50_cents"),
        pick(0.9).cast("long").alias("p90_cents"),
        pick(0.99).cast("long").alias("p99_cents"),
        F.max("n").cast("long").alias("n_events"),
    )


@register(
    "evt_range_join",
    oracle="""
        WITH errors AS (
            SELECT event_id AS error_id, user_id, ts FROM events
            WHERE event_type = 'error'
        ),
        signups AS (
            SELECT event_id AS signup_id, user_id, ts FROM events
            WHERE event_type = 'signup'
        )
        SELECT e.error_id, s.signup_id, e.user_id,
               CAST(epoch_us(e.ts) - epoch_us(s.ts) AS BIGINT) AS delta_us
        FROM errors e JOIN signups s
          ON e.user_id = s.user_id
         AND abs(epoch_us(e.ts) - epoch_us(s.ts)) <= 3600000000
    """,
    tags=("events", "join", "headline"),
)
def evt_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join — every (error, signup) pair of the same user
    within +/-1 hour. Spark's naive plan for a pure inequality join is a
    broadcast-nested-loop (quadratic); the scalable formulation BUCKETS
    time so the join becomes an equi-join on (user_id, bucket) with the
    exact +/-1h predicate filtering residuals — the standard
    interval-join trick.

    Bucket sizing (round-8 retune, VERDICT r7 #7 — the 10x probe flagged
    the old 3-bucket expansion): with bucket width = the FULL interval
    length (2h), an error's match window [t-1h, t+1h] spans at most TWO
    buckets — the distinct endpoint buckets floor((t-1h)/2h) and
    floor((t+1h)/2h) — so the probe side explodes <= 2x (vs the 3x of
    1h buckets). And because those probe keys are DISTINCT while each
    signup lives in exactly one bucket, a pair can match at most once:
    the old output-dedup `.distinct()` (a full extra shuffle of the
    result) is provably unnecessary and gone. The trade — each matched
    bucket spans 2h of signups, so the residual filter sees a 4h
    candidate window instead of 3h — is map-side post-join filtering,
    cheaper than shuffling 50% more probe rows plus a dedup exchange."""
    ev = table(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    width_us = 2 * hour_us  # bucket = interval length -> <=2 probe buckets
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.unix_micros("ts").alias("e_us"),
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") / F.lit(width_us)).cast("long").alias("bucket"),
    )
    probe = errors.select(
        "error_id",
        "user_id",
        "e_us",
        F.explode(
            F.array_distinct(
                F.array(
                    *[
                        ((F.col("e_us") + F.lit(d)) / F.lit(width_us)).cast(
                            "long"
                        )
                        for d in (-hour_us, hour_us)
                    ]
                )
            )
        ).alias("bucket"),
    )
    return (
        probe.join(signups, ["user_id", "bucket"])
        .filter(F.abs(F.col("e_us") - F.col("s_us")) <= hour_us)
        .select(
            "error_id",
            "signup_id",
            "user_id",
            (F.col("e_us") - F.col("s_us")).alias("delta_us"),
        )
    )


@register(
    "evt_asof_join",
    oracle=f"""
        WITH clicks AS (
            SELECT user_id, ts, MAX(event_id) AS click_id
            FROM events WHERE event_type = 'click' GROUP BY user_id, ts
        ),
        purchases AS (
            SELECT event_id AS purchase_id, user_id, ts
            FROM events WHERE event_type = 'purchase'
        )
        SELECT p.purchase_id, p.user_id,
               strftime(p.ts, '{_TS_FMT_DUCK}') AS purchase_ts,
               strftime(c.ts, '{_TS_FMT_DUCK}') AS click_ts,
               c.click_id
        FROM purchases p
        ASOF JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    tags=("events", "join", "headline"),
)
def evt_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — each purchase matched to the user's latest click at
    or before it. Spark has no ASOF JOIN operator (DuckDB does — the
    oracle uses it natively); the scalable formulation is UNION + SORT +
    LAST-over-window: tag clicks 0 / purchases 1, sort by (ts, tag)
    within user, and carry the last non-null click forward. One shuffle
    on user_id, O(1) carried state — no time-range join explosion, no
    per-key collect. Clicks are pre-deduped to MAX(event_id) per
    (user, ts) in both engines to pin tie behavior."""
    ev = table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select(
            "user_id", "ts", "click_id", F.lit(0).alias("tag"), F.lit(None).cast("long").alias("purchase_id")
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("click_id"),
        F.lit(1).alias("tag"),
        F.col("event_id").alias("purchase_id"),
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.select(
        "user_id",
        "ts",
        "tag",
        "purchase_id",
        F.last(F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("click_ts"),
        F.last(F.when(F.col("tag") == 0, F.col("click_id")), ignorenulls=True)
        .over(w)
        .alias("last_click_id"),
    )
    return (
        carried.filter((F.col("tag") == 1) & F.col("click_ts").isNotNull())
        .select(
            "purchase_id",
            "user_id",
            F.date_format("ts", TS_FMT).alias("purchase_ts"),
            F.date_format("click_ts", TS_FMT).alias("click_ts"),
            F.col("last_click_id").alias("click_id"),
        )
    )
