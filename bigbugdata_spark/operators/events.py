"""Event-log analytics over the `events` table, with the streaming twins
that reuse their batch builders.

Windows, sessions and the as-of join; quantiles; attribution (last-touch
and multi-touch); bots, bursts, dwell, EWMA, sketches, features,
forecast backtests, step funnels, growth, MAD anomalies, quantile
trends, the incrementally-maintained rollup, seasonality, SCD2 as-of
consumers and transition matrices.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bigbugdata_spark.caching import pin
from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions.fragments import (
    CENTS_SQL,
    TS_FMT,
    TS_FMT_DUCK,
    cents_col as _cents_col,
    cents_col,
)
from bigbugdata_spark.operators.dedup_incr import (
    INDEX_BUCKETS,
    _corpus_fingerprint,
    append_bucketed,
    attach_index_tables,
    begin_append_intent,
    commit_append_intent,
    ensure_index_root,
    index_path,
    remove_incomplete_locations,
    sweep_stale_generations,
)
from bigbugdata_spark.operators.scd import runs_from_events
from bigbugdata_spark.registry import register
from bigbugdata_spark.streaming.core import _run_to_memory, stream_events


# ---------------------------------------------------------------------------
# Event-time operators over the `events` stream table — tumbling /
# sliding / session windows and the as-of join (SURVEY.md §7 phase 3;
# SURVEY §2.1 records the reference has no streaming or window machinery
# at all). These are the BATCH-equivalent forms with exact DuckDB oracles;
# their continuous twins live in bigbugdata_spark/streaming/ (watermarked
# Structured Streaming over the same plans, rows-only checked).
#
# Determinism discipline: timestamps are formatted to microsecond strings
# on both sides; fp `value` sums are converted to exact integer centi-sums
# (ROUND(value*100) per row, summed as BIGINT) because a double SUM over an
# unordered shuffle is not reproducible bit-for-bit.
#
# Scale posture: every window op shuffles once on its (key, window) —
# event-time windows are pre-computable from the column, so partition
# pruning on a date-partitioned events table still applies. The as-of join
# is the union-sort formulation: one shuffle on user_id, no range-join
# explosion, state bounded by one row per side.
# ---------------------------------------------------------------------------


@register(
    "evt_tumbling_window",
    oracle=f"""
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{TS_FMT_DUCK}') AS window_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM({CENTS_SQL}) AS BIGINT) AS value_cents
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
                   event_type, {CENTS_SQL} AS cents
            FROM events
        )
        SELECT strftime(window_start, '{TS_FMT_DUCK}') AS window_start,
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
            SELECT user_id, ts, {CENTS_SQL} AS cents,
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
               strftime(MIN(ts), '{TS_FMT_DUCK}') AS session_start,
               strftime(MAX(ts) + INTERVAL '5 minutes', '{TS_FMT_DUCK}') AS session_end,
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
               CAST(SUM({CENTS_SQL}) AS BIGINT) AS value_cents
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


#: also gates operators/events.py's evt_stream_value_quantiles verbatim
QUANTILES_ORACLE_SQL = f"""
        WITH ranked AS (
            SELECT event_type, {CENTS_SQL} AS cents,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY {CENTS_SQL}, event_id) AS rn,
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
               strftime(p.ts, '{TS_FMT_DUCK}') AS purchase_ts,
               strftime(c.ts, '{TS_FMT_DUCK}') AS click_ts,
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


# ---------------------------------------------------------------------------
# Streaming value quantiles (round 11) — the tail-latency/value pager
# live: exact p50/p90/p99 cents per event type maintained from the
# stream, completing the histogram-state pattern family (drift,
# freshness, seasonality, MAD).  The ONLY pass over raw events is the
# (event_type, cents) -> count aggregate — a streaming-safe complete-mode
# grouped aggregate — and the rank selection reads the final histogram
# post-sink: the value at rank ceil(q*n) under (cents) order is
# determined by the cents multiset alone, so it can be read off
# cumulative counts (the events_mad argument, generalized to any
# quantile).  Gated by the BATCH query's oracle verbatim
# (evt_value_quantiles — stream == batch is the claim).
#
# Scale posture: state is one BIGINT per distinct (type, cents) cell —
# value-domain bounded, not event-count bounded; the post-sink windows
# run over histogram rows.  No watermark (the histogram never drops
# keys); production swaps the memory sink for a foreachBatch overwrite.
# ---------------------------------------------------------------------------


#: the batch twin's oracle, verbatim


def _pick(q: float):
    """Smallest cents whose per-type running count reaches ceil(q*n) —
    the exact rank-q value read off the cumulative histogram."""
    return F.min(
        F.when(
            F.col("cum") >= F.ceil(F.lit(q) * F.col("n")).cast("long"),
            F.col("cents"),
        )
    )


@register(
    "evt_stream_value_quantiles",
    # the batch query's oracle verbatim — stream == batch is the claim
    oracle=QUANTILES_ORACLE_SQL,
    tags=("streaming", "events", "window", "agg"),
    side_effects=True,
)
def evt_stream_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 cents per event type, live: the stream feeds
    the (type, cents) histogram as complete-mode state; rank selection
    over cumulative counts happens post-sink on histogram-sized data."""
    ev = stream_events(spark, sf_dir).select(
        "event_type", cents_col().alias("cents")
    )
    hist = _run_to_memory(
        ev.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("cnt")),
        "complete",
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type")
    h = hist.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "n", F.sum("cnt").over(wn)
    )
    return h.groupBy("event_type").agg(
        _pick(0.5).cast("long").alias("p50_cents"),
        _pick(0.9).cast("long").alias("p90_cents"),
        _pick(0.99).cast("long").alias("p99_cents"),
        F.max("n").cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Last-touch purchase attribution (round 10) — the marketing-analytics
# shape the events family lacked: every `purchase` event's value is
# credited to the user's MOST RECENT preceding non-purchase event (the
# "touch"); purchases with no preceding touch in the stream are
# `organic`.  This is the classic single-pass attribution scan: one
# window per user carries the last-seen touch type forward, so the
# operator is a single shuffle on user_id followed by a per-type rollup.
#
# Determinism: the stream's total order is (ts, event_id) — a purchase
# sharing its timestamp with a touch sees that touch only if the touch's
# event_id is smaller (ROWS ... 1 PRECEDING over the same total order on
# both engines); money is integer cents end-to-end.
#
# No analog in the reference (SURVEY §2.1); events extension surface.
#
# Scale posture: one hash shuffle keyed on user_id (millions of
# partitions' worth of distinct users at 100 TB — no single-task sort),
# per-user frames are user-history-sized, and the carried state is ONE
# column (the last touch type).  The rollup aggregates five touch types
# map-side.  No self-join: the naive formulation (each purchase joins
# every earlier event of its user, then argmax) pays |user history|^2;
# the running window pays |user history|.
# ---------------------------------------------------------------------------


#: shared with the streaming twin (streaming/events.py) — stream ==
#: batch is the claim, so both register the SAME oracle
ATTRIB_ORACLE_SQL = f"""
    WITH carried AS (
        SELECT event_type,
               {CENTS_SQL} AS cents,
               LAST_VALUE(
                   CASE WHEN event_type <> 'purchase' THEN event_type END
                   IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch
        FROM events
    )
    SELECT COALESCE(touch, 'organic') AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(cents) AS BIGINT) AS attributed_cents
    FROM carried
    WHERE event_type = 'purchase'
    GROUP BY COALESCE(touch, 'organic')
"""


@register(
    "evt_purchase_attribution",
    oracle=ATTRIB_ORACLE_SQL,
    tags=("events", "window", "agg"),
)
def evt_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(touch_type, n_purchases, attributed_cents): each purchase's
    cents credited to the user's most recent preceding non-purchase
    event type in (ts, event_id) order, `organic` when none precedes —
    one user-keyed running window plus a tiny per-type rollup."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", cents_col().alias("cents")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("organic")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").alias("attributed_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Automation (bot) detection via inter-event REGULARITY (round 12) —
# the timing-side complement to evt_user_burst's rate anomaly: scripted
# actors fire on near-constant intervals, so the robust dispersion of a
# user's inter-event gaps collapses relative to its median.  Per user
# with at least MIN_EVENTS events: exact rank-selected median gap, MAD
# of gaps, and the regular flag MAD * 1000 <= median * REG_PM (MAD
# within REG_PM permille of the median) — the events_mad estimator
# applied to per-user gap series.
#
# Exactness: gaps are integer microseconds; both medians are
# rank-selected (value at row ceil(m/2) of the value-sorted list — the
# evt_value_quantiles discrete convention; the selected VALUE is
# tie-break-independent, determined by the gap multiset); the flag is an
# integer cross-multiplication.  Zero fp anywhere.
#
# No analog in the reference (SURVEY §2.1); events/dq extension surface.
#
# Scale posture: one hash shuffle on user_id feeds the lag window and
# both rank selections (same partitioning — exchange reuse); per-user
# frames are user-history-sized, exactly the attribution family's
# contract (no global sort, no single-task type group).  Unlike
# events_mad's value-domain histogram trick, gaps are per-USER series —
# the user key IS the spread.
# ---------------------------------------------------------------------------


MIN_EVENTS = 6  # >= 5 gaps, enough for a meaningful median/MAD
REG_PM = 100  # regular if MAD <= 10% of the median gap

_BOTS_ORACLE_SQL = f"""
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS gap_us
        FROM events
    ),
    g AS (
        SELECT user_id, gap_us,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY gap_us)
                   AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS m
        FROM gaps WHERE gap_us IS NOT NULL
    ),
    med AS (
        SELECT user_id, MAX(m) AS m,
               CAST(MAX(CASE WHEN rn = CAST(CEIL(m / 2.0) AS BIGINT)
                        THEN gap_us END) AS BIGINT) AS median_gap_us
        FROM g GROUP BY user_id
        HAVING MAX(m) >= {MIN_EVENTS - 1}
    ),
    adev AS (
        SELECT g.user_id, abs(g.gap_us - med.median_gap_us) AS d,
               ROW_NUMBER() OVER (
                   PARTITION BY g.user_id
                   ORDER BY abs(g.gap_us - med.median_gap_us)) AS rn,
               COUNT(*) OVER (PARTITION BY g.user_id) AS m
        FROM g JOIN med ON g.user_id = med.user_id
    ),
    mad AS (
        SELECT user_id,
               CAST(MAX(CASE WHEN rn = CAST(CEIL(m / 2.0) AS BIGINT)
                        THEN d END) AS BIGINT) AS mad_gap_us
        FROM adev GROUP BY user_id
    )
    SELECT med.user_id,
           CAST(med.m + 1 AS BIGINT) AS n_events,
           med.median_gap_us,
           mad.mad_gap_us,
           CAST(CASE WHEN mad.mad_gap_us * 1000
                          <= med.median_gap_us * {REG_PM}
                THEN 1 ELSE 0 END AS BIGINT) AS regular_flag
    FROM med JOIN mad ON med.user_id = mad.user_id
"""


@register(
    "evt_bot_regularity",
    oracle=_BOTS_ORACLE_SQL,
    tags=("events", "window", "agg"),
)
def evt_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n_events, median_gap_us, mad_gap_us, regular_flag) for
    users with >= MIN_EVENTS events: rank-exact median/MAD of the
    user's inter-event gaps and the integer cross-multiplied
    regularity flag."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = (
        ev.withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w_seq))
        .filter(F.col("gap_us").isNotNull())
        .select("user_id", "gap_us")
    )
    w_rank = Window.partitionBy("user_id").orderBy("gap_us")
    w_all = Window.partitionBy("user_id")
    g = gaps.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "m", F.count(F.lit(1)).over(w_all)
    )
    med = (
        g.groupBy("user_id")
        .agg(
            F.max("m").alias("m"),
            F.max(
                F.when(
                    F.col("rn")
                    == F.ceil(F.col("m") / F.lit(2.0)).cast("long"),
                    F.col("gap_us"),
                )
            )
            .cast("long")
            .alias("median_gap_us"),
        )
        .filter(F.col("m") >= MIN_EVENTS - 1)
    )
    adev = (
        g.join(med.select("user_id", "median_gap_us"), "user_id")
        .select(
            "user_id",
            F.abs(F.col("gap_us") - F.col("median_gap_us")).alias("d"),
        )
    )
    w_rank2 = Window.partitionBy("user_id").orderBy("d")
    mad = (
        adev.withColumn("rn", F.row_number().over(w_rank2))
        .withColumn("m", F.count(F.lit(1)).over(w_all))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    F.col("rn")
                    == F.ceil(F.col("m") / F.lit(2.0)).cast("long"),
                    F.col("d"),
                )
            )
            .cast("long")
            .alias("mad_gap_us")
        )
    )
    return med.join(mad, "user_id").select(
        "user_id",
        (F.col("m") + 1).cast("long").alias("n_events"),
        "median_gap_us",
        "mad_gap_us",
        F.when(
            F.col("mad_gap_us") * 1000 <= F.col("median_gap_us") * REG_PM, 1
        )
        .otherwise(0)
        .cast("long")
        .alias("regular_flag"),
    )


# ---------------------------------------------------------------------------
# User burst-anomaly detection (round 8) — which users' activity
# CONCENTRATES instead of spreading: a user whose busiest hour holds
# several times their mean hourly rate is a bot, a scraper, a replayed
# client, or an abuse session. The per-user counterpart of the feed-
# level dq monitors (volume anomaly, mix drift) — those watch the
# pipeline, this watches the actors.
#
# No analog in the reference (SURVEY §2.1); events/dq extension surface
# next to evt_user_features.
#
# Determinism discipline: hourly bucket counts, totals and active-hour
# counts are exact BIGINTs; the burst flag is decided by integer
# cross-multiplication (max_hour * n_active_hours * 1000 >
# BURST_PM * n_events — busiest hour exceeds BURST_PM permille of the
# mean hourly rate) and the
# reported burst_factor is a single fp64 division of exact integers.
#
# Scale posture: one events scan -> (user, hour) hash aggregate
# (map-side combinable) -> per-user roll-up of the bucket frame. Both
# exchanges key on user_id-led keys, so the user-bucketed layout
# (sources/bucketed.py) makes the second one local; output is
# user-grain.
# ---------------------------------------------------------------------------


BURST_PM = 2500  # busiest hour > 2.5x mean hourly rate (permille) -> bursty


@register(
    "evt_user_burst",
    oracle=f"""
        WITH hourly AS (
            SELECT user_id, date_trunc('hour', ts) AS hr,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY user_id, hr
        )
        SELECT user_id,
               CAST(SUM(n) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_active_hours,
               CAST(MAX(n) AS BIGINT) AS max_hour_events,
               CAST(MAX(n) * COUNT(*) AS DOUBLE) / SUM(n) AS burst_factor,
               CAST(MAX(n) * COUNT(*) * 1000 > {BURST_PM} * SUM(n) AS INT)
                   AS is_bursty
        FROM hourly GROUP BY user_id
    """,
    tags=("events", "dq", "agg"),
)
def evt_user_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: total events, active hours, the busiest hour's count,
    the burst factor (busiest hour / mean hourly rate, exact-integer
    numerator and denominator), and the cross-multiplied burst flag."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("hr"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return hourly.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_active_hours"),
        F.max("n").alias("max_hour_events"),
        (
            (F.max("n") * F.count(F.lit(1))).cast("double") / F.sum("n")
        ).alias("burst_factor"),
        (
            F.max("n") * F.count(F.lit(1)) * F.lit(1000)
            > F.lit(BURST_PM) * F.sum("n")
        )
        .cast("int")
        .alias("is_bursty"),
    )


# ---------------------------------------------------------------------------
# State dwell-time analytics (round 8) — how long do users STAY in
# each state? The SCD2 family derives the run history
# (operators/scd.py); this rolls it up to the per-state duration
# profile: closed-run counts, exact total dwell microseconds, and the
# mean dwell — the "average session in 'error' lasts 40 minutes" table
# that sits on every state-model dashboard.
#
# No analog in the reference (SURVEY §2.1); events/state extension
# surface completing scd / events_state / events_trans.
#
# Determinism discipline: dwell is the difference of epoch MICROSECOND
# integers (the parquet timestamps' native resolution), summed as exact
# BIGINTs; the mean is one fp64 division of two exact integers. Open
# (current) runs have no end and are excluded from dwell sums but
# reported per state (n_open), so the row also shows how much of the
# fleet is parked in each state right now.
#
# Scale posture: the run derivation is the family's one user_id shuffle;
# the roll-up aggregates |users| x |states|-bounded runs down to
# |states| rows, map-side combinable. Nothing here pairs or collects.
# ---------------------------------------------------------------------------


@register(
    "evt_state_dwell",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, ts, event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                 - ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS island
            FROM events
        ),
        runs AS (
            SELECT user_id, event_type AS state, island,
                   MIN(ts) AS vf, MIN(event_id) AS first_eid
            FROM seq GROUP BY user_id, event_type, island
        ),
        spans AS (
            SELECT state,
                   epoch_us(LEAD(vf) OVER (
                       PARTITION BY user_id ORDER BY vf, first_eid))
                 - epoch_us(vf) AS dwell_us
            FROM runs
        )
        SELECT state,
               CAST(COUNT(dwell_us) AS BIGINT) AS n_closed,
               CAST(COUNT(*) - COUNT(dwell_us) AS BIGINT) AS n_open,
               CAST(COALESCE(SUM(dwell_us), 0) AS BIGINT) AS total_us,
               CASE WHEN COUNT(dwell_us) > 0
                    THEN CAST(SUM(dwell_us) AS DOUBLE) / COUNT(dwell_us)
               END AS mean_us
        FROM spans GROUP BY state
    """,
    tags=("events", "state", "window", "agg"),
)
def evt_state_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per state: closed-run count, open-run count, exact total dwell
    microseconds across closed runs, and the mean dwell (NULL if a
    state only ever appears as a user's current run). A run's dwell
    ends when the user's NEXT run begins — the same (vf, first_eid)
    chain the SCD2 valid_to uses, so dwell and validity can never
    disagree."""
    runs = runs_from_events(table(spark, sf_dir, "events"))
    hist = Window.partitionBy("user_id").orderBy("vf", "first_eid")
    spans = runs.select(
        "state",
        (
            F.unix_micros(F.lead("vf").over(hist)) - F.unix_micros("vf")
        ).alias("dwell_us"),
    )
    mean_us = F.when(
        F.count("dwell_us") > 0,
        F.sum("dwell_us").cast("double") / F.count("dwell_us"),
    )
    return spans.groupBy("state").agg(
        F.count("dwell_us").alias("n_closed"),
        (F.count(F.lit(1)) - F.count("dwell_us")).alias("n_open"),
        F.coalesce(F.sum("dwell_us"), F.lit(0)).cast("long").alias("total_us"),
        mean_us.alias("mean_us"),
    )


# ---------------------------------------------------------------------------
# Exponentially-weighted daily smoothing (round 10) — the EWMA trend
# panel per event type: each day's smoothed activity level next to the
# raw level, the standard operational-dashboard primitive between the
# raw daily series (evt_growth_accounting) and the seasonality profile
# (evt_seasonality_profile), and the usual baseline an anomaly monitor
# (evt_anomaly_mad) is compared against.
#
# No analog in the reference (SURVEY §2.1); events extension surface.
#
# Determinism (the bit-exact-oracle trick): with decay 1/2 and a
# 20-day horizon every weight is a DYADIC rational 2^-k built by integer
# shift (never ``pow``, whose libm rounding differs between engines), so
# every term cents * 2^-k is an integer multiple of 2^-19 and every
# partial sum stays exactly representable while the weighted total is
# below 2^34 — the sum is association-free and both engines round the
# single final division identically (IEEE).  The truncated-window weight
# mass has the closed form sum_{k=0..m} 2^-k = 2 - 2^-m, also dyadic.
#
# Scale posture: the raw scan collapses to the (event_type, day) panel in
# ONE map-side-combinable aggregate; the 20-day lookback is a range
# self-join on the PANEL (types x days rows — cardinality-bounded by the
# calendar at any corpus size, never by event volume), so the quadratic
# piece runs on a frame that stays tiny at 100 TB.  Days with no events
# contribute zero mass without materializing calendar gaps.
#
# The exactness precondition (weighted 20-day totals < 2^34 cents, i.e.
# partial sums < 2^53 ulps of 2^-19) holds with two orders of magnitude
# of margin at every local gate SF — asserted by
# tests/test_round10_ops.py::test_ewma_exactness_bound_at_gate_sfs, the
# guard the docstring claim rides on.  Beyond the bound (hot types at
# cluster scale) the result degrades gracefully to ordinary
# double-precision smoothing; only last-ulp oracle parity is lost.
# ---------------------------------------------------------------------------


EWMA_WINDOW = 20  # lookback days; weights 2^0 .. 2^-(W-1)

_EWMA_SQL = f"""
    WITH daily AS (
        SELECT event_type,
               CAST(ts AS DATE) AS day,
               CAST(SUM({CENTS_SQL}) AS BIGINT) AS n_cents
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    d0 AS (SELECT MIN(day) AS day0 FROM daily),
    idx AS (
        SELECT event_type, day, n_cents,
               datediff('day', day0, day) AS d_idx
        FROM daily, d0
    )
    SELECT a.event_type,
           strftime(a.day, '%Y-%m-%d') AS day,
           a.n_cents,
           SUM(b.n_cents * (1.0 / (1 << (a.d_idx - b.d_idx))))
               / (2 - 1.0 / (1 << LEAST({EWMA_WINDOW - 1}, a.d_idx)))
               AS ewma_cents
    FROM idx a
    JOIN idx b
      ON a.event_type = b.event_type
     AND b.d_idx BETWEEN a.d_idx - {EWMA_WINDOW - 1} AND a.d_idx
    GROUP BY a.event_type, a.day, a.n_cents, a.d_idx
"""


@register(
    "evt_ewma_daily",
    oracle=_EWMA_SQL,
    tags=("events", "window", "timeseries"),
)
def evt_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, n_cents, ewma_cents): the raw daily centi-value
    total and its exponentially-weighted moving average (decay 1/2,
    20-day horizon, truncated-window weights renormalized by the exact
    geometric mass 2 - 2^-m) — the smoothed activity baseline per type."""
    ev = table(spark, sf_dir, "events")
    # pin the panel: both join sides AND the day0 scalar reuse it —
    # without the pin each consumer re-scans and re-aggregates the raw
    # events (4 scans of the 100 TB table for one calendar-sized frame)
    daily = pin(
        ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
            F.sum(cents_col()).cast("long").alias("n_cents")
        )
    )
    day0 = daily.agg(F.min("day").alias("day0"))
    idx = daily.crossJoin(F.broadcast(day0)).select(
        "event_type",
        "day",
        "n_cents",
        F.datediff("day", "day0").alias("d_idx"),
    )
    a, b = idx.alias("a"), idx.alias("b")
    # dyadic weight 2^-lag via integer shift — bit-exact in both engines
    # (never pow(), whose libm rounding can differ)
    w = F.expr("1.0 / cast(shiftleft(1, a.d_idx - b.d_idx) as double)")
    mass = F.expr(
        f"2.0 - 1.0 / cast(shiftleft(1, least({EWMA_WINDOW - 1}, d_idx))"
        " as double)"
    )
    return (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.d_idx") >= F.col("a.d_idx") - (EWMA_WINDOW - 1))
            & (F.col("b.d_idx") <= F.col("a.d_idx")),
        )
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            F.col("a.day").alias("day_d"),
            F.col("a.n_cents").alias("n_cents"),
            F.col("a.d_idx").alias("d_idx"),
        )
        .agg(F.sum(F.col("b.n_cents") * w).alias("num"))
        .select(
            "event_type",
            F.date_format("day_d", "yyyy-MM-dd").alias("day"),
            "n_cents",
            (F.col("num") / mass).alias("ewma_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Events round-3 additions — the SKETCH-BASED scale paths whose exact
# twins live in operators/events.py.  Sketch outputs are engine-specific,
# so these are rows-only queries verified by error-bound tests against their
# exact baselines instead of a DuckDB hash compare.
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# User feature-table builder (round 8) — the feature-engineering face
# of the events log: one row per user with the lifecycle and activity
# features a training pipeline joins onto its examples (recency,
# tenure, volume, mix, spend). This is the "feature store
# materialization" op: everything downstream (propensity models, churn
# labels, the RFM cube's event-side cousin) starts from exactly this
# aggregate.
#
# No analog in the reference (SURVEY §2.1); events extension surface.
#
# Determinism discipline: timestamps format through the repo's pinned
# TS_FMT; tenure is an exact epoch-microsecond BIGINT; value features
# are the exact-cents contract; the two fp columns (events per active
# day, purchase share) are single divisions of exact integers.
#
# Scale posture: ONE events scan, one map-side-combinable aggregate on
# user_id — output is user-grain (dimension-sized). The conditional
# features (per-type counts, purchase cents) fold into the same
# aggregate as CASE sums, so adding features never adds scans or
# shuffles. At 100 TB this is the canonical "build the user dim from
# the fact" job; the user-bucketed layout (sources/bucketed.py) makes
# the downstream example join shuffle-free.
# ---------------------------------------------------------------------------


def lifecycle_agg_cols() -> list:
    """THE lifecycle aggregate expressions (volume, first/last, exact
    tenure, purchase count/cents) — one definition shared by this
    batch feature table and the live streaming subset
    (streaming/features.py), so the overlapping columns cannot drift
    by construction."""
    is_purchase = F.col("event_type") == "purchase"
    return [
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), TS_FMT).alias("first_ts"),
        F.date_format(F.max("ts"), TS_FMT).alias("last_ts"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "tenure_us"
        ),
        F.sum(F.when(is_purchase, 1).otherwise(0)).alias("n_purchases"),
        F.sum(F.when(is_purchase, cents_col()).otherwise(0)).alias(
            "purchase_cents"
        ),
    ]


@register(
    "evt_user_features",
    oracle=f"""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
               CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                   AS n_active_days,
               strftime(MIN(ts), '{TS_FMT_DUCK}') AS first_ts,
               strftime(MAX(ts), '{TS_FMT_DUCK}') AS last_ts,
               epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS tenure_us,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN {CENTS_SQL} ELSE 0 END) AS BIGINT)
                   AS purchase_cents,
               CAST(SUM(CASE WHEN event_type = 'error'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
               CAST(COUNT(*) AS DOUBLE)
                   / COUNT(DISTINCT CAST(ts AS DATE)) AS events_per_day,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS purchase_share
        FROM events GROUP BY user_id
    """,
    tags=("events", "agg", "features"),
)
def evt_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: event volume, type diversity, active days, first/last
    activity, tenure in exact microseconds, purchase count/cents, error
    count, and two derived rates (events per active day, purchase
    share) — all from one conditional aggregate."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            *lifecycle_agg_cols(),
            F.countDistinct("event_type").alias("n_types"),
            F.countDistinct(F.to_date("ts")).alias("n_active_days"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "n_errors"
            ),
        )
        .withColumn(
            "events_per_day",
            F.col("n_events").cast("double") / F.col("n_active_days"),
        )
        .withColumn(
            "purchase_share",
            F.col("n_purchases").cast("double") / F.col("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast BACKTEST (round 11) — the capacity-planning
# baseline every volume forecast is judged against, run as a relational
# operator: predict each (event_type, day)'s revenue by the same weekday
# one week earlier (the seasonal-naive rule), score the prediction
# against the actual, and report per-type backtest error — exact MAE and
# signed bias in integer cents, plus the scored-day count.  A "real"
# model earns its complexity only by beating this card; shipping the
# baseline's backtest as a first-class query is the standard forecasting
# hygiene (and the relational shape is one panel self-join).
#
# No analog in the reference (SURVEY §2.1); events/evaluation extension
# surface next to evt_ewma_daily (smoothing) and evt_seasonality_profile
# (the weekly structure this baseline exploits).
#
# Determinism: the panel is exact integer cents per (type, day); the
# 7-day lag is a calendar join on the string day key (date arithmetic in
# each engine's own date type, formatted identically); MAE/bias stay
# INTEGER via floor division by the scored-day count (documented
# convention — a capacity card reads whole cents).
#
# Scale posture: raw events collapse to the (type, day) panel in one
# map-side-combinable aggregate (the r10 histogram pattern); the lag
# join, scoring, and rollup are all panel-sized — calendar-bounded at
# any corpus size.
# ---------------------------------------------------------------------------


LAG_DAYS = 7

_FORECAST_SQL = f"""
    WITH panel AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
               CAST(SUM({CENTS_SQL}) AS BIGINT) AS cents
        FROM events GROUP BY event_type, day
    ),
    scored AS (
        SELECT a.event_type,
               a.cents AS actual,
               p.cents AS predicted
        FROM panel a
        JOIN panel p ON p.event_type = a.event_type
           AND p.day = strftime(CAST(a.day AS DATE) - {LAG_DAYS}, '%Y-%m-%d')
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days_scored,
           CAST(SUM(ABS(actual - predicted)) // COUNT(*) AS BIGINT)
               AS mae_cents,
           CAST(SUM(actual - predicted) // COUNT(*) AS BIGINT)
               AS bias_cents
    FROM scored GROUP BY event_type
"""


@register(
    "evt_forecast_seasonal_naive",
    oracle=_FORECAST_SQL,
    tags=("events", "agg", "join"),
)
def evt_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_days_scored, mae_cents, bias_cents): backtest of
    the seasonal-naive rule (predict day d by day d-LAG_DAYS) over the
    daily revenue panel — exact integer MAE and signed bias per type;
    only days with a week-earlier observation score."""
    panel = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(F.sum(cents_col()).alias("cents"))
    )
    pred = panel.select(
        "event_type",
        F.date_format(
            F.date_add(F.to_date("day"), LAG_DAYS), "yyyy-MM-dd"
        ).alias("day"),
        F.col("cents").alias("predicted"),
    )
    scored = panel.withColumnRenamed("cents", "actual").join(
        pred, ["event_type", "day"]
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days_scored"),
        F.expr("sum(abs(actual - predicted)) div count(1)").alias("mae_cents"),
        F.expr("sum(actual - predicted) div count(1)").alias("bias_cents"),
    )


# ---------------------------------------------------------------------------
# Sequential 3-step funnel with PER-STEP deadlines (round 12) —
# evt_funnel generalized from "signup then anything within the hour" to
# the product-analytics chain: first signup -> first click within SIX
# HOURS of the signup -> first purchase within SIX HOURS of that click.
# Earliest-qualifying-event semantics at every step (min over the
# window), so the funnel is deterministic and each user advances at most
# once per step; step-2's clock starts at the user's QUALIFYING click,
# not the signup — the per-step deadline that distinguishes this from a
# single lookahead window.
#
# Exactness: all comparisons in integer epoch microseconds; conversion
# rates are integer permille of the PREVIOUS step (truncating div).
#
# No analog in the reference (SURVEY §2.1); events extension surface.
#
# Scale posture: ONE events scan; t1/t2 are per-user window minimums
# over the same user_id partitioning (exchange reuse — the evt_funnel
# precedent), t3 and the booleans collapse in the per-user conditional
# aggregate (already hash-partitioned, no second shuffle), and the
# funnel total is a single-row aggregate.
# ---------------------------------------------------------------------------


STEP_WINDOW_US = 6 * 3_600_000_000  # six hours: every step live on the fixture

_FUNNEL_STEPS_ORACLE_SQL = f"""
    WITH t1 AS (
        SELECT user_id, MIN(epoch_us(ts)) AS t1_us
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    t2 AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2_us
        FROM events e JOIN t1 ON e.user_id = t1.user_id
        WHERE e.event_type = 'click'
          AND epoch_us(e.ts) > t1.t1_us
          AND epoch_us(e.ts) <= t1.t1_us + {STEP_WINDOW_US}
        GROUP BY e.user_id
    ),
    t3 AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3_us
        FROM events e JOIN t2 ON e.user_id = t2.user_id
        WHERE e.event_type = 'purchase'
          AND epoch_us(e.ts) > t2.t2_us
          AND epoch_us(e.ts) <= t2.t2_us + {STEP_WINDOW_US}
        GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM t1) AS BIGINT) AS n_signup,
           CAST((SELECT COUNT(*) FROM t2) AS BIGINT) AS n_click_6h,
           CAST((SELECT COUNT(*) FROM t3) AS BIGINT) AS n_purchase_6h,
           CAST((SELECT COUNT(*) FROM t2) * 1000
                // GREATEST((SELECT COUNT(*) FROM t1), 1) AS BIGINT)
               AS click_conv_pm,
           CAST((SELECT COUNT(*) FROM t3) * 1000
                // GREATEST((SELECT COUNT(*) FROM t2), 1) AS BIGINT)
               AS purchase_conv_pm
"""


@register(
    "evt_funnel_steps",
    oracle=_FUNNEL_STEPS_ORACLE_SQL,
    tags=("events", "window", "agg"),
)
def evt_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_signup, n_click_6h, n_purchase_6h, click_conv_pm,
    purchase_conv_pm): users reaching each step of the
    signup -> click(+6h) -> purchase(+6h) chain, with per-step
    conversion in integer permille of the previous step."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w_user = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "signup", F.col("us"))).over(
        w_user
    )
    with_t1 = ev.withColumn("t1_us", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("us") > F.col("t1_us"))
            & (F.col("us") <= F.col("t1_us") + STEP_WINDOW_US),
            F.col("us"),
        )
    ).over(w_user)
    with_t2 = with_t1.withColumn("t2_us", t2)
    per_user = with_t2.groupBy("user_id").agg(
        F.max(F.col("t1_us").isNotNull()).alias("s1"),
        F.max(F.col("t2_us").isNotNull()).alias("s2"),
        F.max(
            (F.col("event_type") == "purchase")
            & (F.col("us") > F.col("t2_us"))
            & (F.col("us") <= F.col("t2_us") + STEP_WINDOW_US)
        ).alias("s3"),
    )
    # coalesce(0): SUM over an EMPTY events table is NULL while the
    # oracle's scalar COUNT subqueries return zeros (r13 review
    # finding — shared with the streaming twin's empty-emission case)
    return per_user.agg(
        F.coalesce(F.sum(F.when(F.col("s1"), 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_signup"),
        F.coalesce(
            F.sum(F.when(F.col("s1") & F.col("s2"), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_click_6h"),
        F.coalesce(
            F.sum(
                F.when(F.col("s1") & F.col("s2") & F.col("s3"), 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_purchase_6h"),
    ).select(
        "n_signup",
        "n_click_6h",
        "n_purchase_6h",
        F.expr("n_click_6h * 1000 div greatest(n_signup, 1)")
        .cast("long")
        .alias("click_conv_pm"),
        F.expr("n_purchase_6h * 1000 div greatest(n_click_6h, 1)")
        .cast("long")
        .alias("purchase_conv_pm"),
    )


# ---------------------------------------------------------------------------
# Daily growth accounting (round 9) — the DAU table every product
# and every ingest monitor publishes: per day, event volume, distinct
# active users, and the new/returning split (new = first-ever-seen that
# day).  Completes the events analytics set next to evt_retention
# (cohort survival) and orders_cohort_ltv (monetary cohorts) with the
# day-grain acquisition view.
#
# No analog in the reference (SURVEY §2.1); events extension surface.
#
# Scale posture: ONE events scan — the per-user first day is a MIN
# window over the user_id partition (the bucketed-layout key), not a
# self-join (the orders_cohort_ltv shape), so the plan is scan -> one
# user-keyed shuffle -> one day aggregate; day keys are date strings
# formatted identically in both engines, and counts are exact integers —
# no fp anywhere.  Output is days-sized.
# ---------------------------------------------------------------------------


@register(
    "evt_growth_accounting",
    oracle="""
        WITH ev AS (
            SELECT user_id, event_id,
                   strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
            FROM events
        ),
        firsts AS (
            SELECT user_id, MIN(day) AS first_day FROM ev GROUP BY user_id
        )
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_active,
               CAST(COUNT(DISTINCT CASE WHEN day = first_day
                                        THEN ev.user_id END) AS BIGINT)
                   AS n_new,
               CAST(COUNT(DISTINCT CASE WHEN day != first_day
                                        THEN ev.user_id END) AS BIGINT)
                   AS n_returning
        FROM ev JOIN firsts ON ev.user_id = firsts.user_id
        GROUP BY day
    """,
    tags=("events", "agg", "join"),
)
def evt_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per day: event count, distinct actives, and the new/returning
    user split (new = the user's first-ever active day; a user active
    on their first day counts in n_new only — n_active = n_new +
    n_returning, pinned by test)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    # r17 restructure (guide §2.4, the op13/op15 pre-keying): the old
    # shape windowed first_day over RAW events (full sort) and then ran
    # three COUNT(DISTINCT ...) per day — an Expand x4 of every event
    # row.  Establishing the user partitioning once lets the
    # (user_id, day) collapse, the first-day window, and the per-day
    # roll-up all run off ONE raw exchange: after the collapse each
    # (user, day) cell is unique, so every distinct count is a plain
    # SUM/COUNT over cells (n_events rides along as the cell count).
    # Measured 0.32-0.39 -> 0.18-0.26 s min over three interleaved
    # trials; symdiff 0, dtypes identical.
    ud = (
        ev.repartition("user_id")
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    j = ud.withColumn(
        "first_day", F.min("day").over(Window.partitionBy("user_id"))
    )
    return j.groupBy("day").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_active"),
        F.sum(
            F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
        ).alias("n_new"),
        F.sum(
            F.when(F.col("day") != F.col("first_day"), 1).otherwise(0)
        ).alias("n_returning"),
    )


# ---------------------------------------------------------------------------
# Robust value-anomaly profile via median/MAD (round 9) — the outlier
# monitor that mean/stddev cannot give on heavy-tailed value streams:
# per event_type, the exact rank-based median, the median absolute
# deviation, and how many events sit beyond K_MAD mads.  Together with
# evt_value_quantiles (tail percentiles) and evt_user_burst (actor-side
# rates) this completes the value-side dq monitoring set with the
# standard robust estimator.
#
# No analog in the reference (SURVEY §2.1); events/dq extension surface.
#
# Determinism: both medians are RANK-SELECTED (value at row ceil(n/2) of
# the (value, event_id)-sorted group — evt_value_quantiles' discrete
# convention, no interpolation, no sketch), deviations and the outlier
# comparison are exact integer cents, so the result is engine-exact with
# zero fp anywhere.  Rank selection by VALUE is tie-break-independent:
# the value at rank ceil(n/2) under any (cents, ...)-sort is determined
# by the cents multiset alone, so it can be read off a value HISTOGRAM
# with cumulative counts — the smallest cents whose running count
# reaches ceil(n/2).
#
# Scale posture (reworked in round 10, VERDICT r9 #2): the raw events
# never enter a per-type sort.  Each median comes from the compressed
# (event_type, cents) -> count histogram: one map-side-combinable
# groupBy keyed on (type, cents) — the shuffle spreads over the value
# space, not one task per type — then a cumulative-count window over
# the HISTOGRAM rows, whose per-type cardinality is the distinct-value
# count (bounded by the value domain, not the event count).  The
# deviation pass reuses the same histogram (counts re-keyed by adev),
# and the final roll-up is a |event_type|-row aggregate.  At 100x a
# type's billions of events still compress to its distinct cents before
# any ordered pass; the old plan's per-type single-partition sort of
# raw events (the r9 weak finding, 10x probe ratio 3.43) is gone.
#
# The histogram builder, the rank-selection tail and the oracle are shared
# with the live monitor, operators/events.py.
# ---------------------------------------------------------------------------


K_MAD = 5  # flag events with |cents - median| > K_MAD * mad


def mad_histogram(ev: DataFrame) -> DataFrame:
    """(event_type, cents) -> cnt — THE compression, and the ONLY pass
    over raw events: a map-side-combinable grouped aggregate that is
    also streaming-safe (complete-mode state for the live monitor in
    streaming/mad.py — one BIGINT per distinct (type, cents) cell).
    Everything downstream is histogram-sized."""
    return ev.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def finish_mad(hist: DataFrame) -> DataFrame:
    """The MAD card from a (event_type, cents, cnt) histogram — the
    shared tail of the batch audit and the live streaming monitor, so
    the two cannot disagree about what "outlier" means."""

    def rank_select(h: DataFrame, val: str) -> DataFrame:
        """Smallest `val` whose per-type running count reaches
        ceil(n/2) — the value at rank ceil(n/2), selected over the
        histogram instead of the raw rows.  Windows are per-type over
        histogram rows (distinct-value cardinality), explicitly
        ROWS-framed; cum is tie-free because `val` is distinct within
        a type after the groupBy."""
        wcum = (
            Window.partitionBy("event_type")
            .orderBy(val)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wn = Window.partitionBy("event_type")
        return (
            h.withColumn("cum", F.sum("cnt").over(wcum))
            .withColumn("n", F.sum("cnt").over(wn))
            .filter(
                F.col("cum") >= F.ceil(F.lit(0.5) * F.col("n")).cast("long")
            )
            .groupBy("event_type")
            .agg(F.min(val).alias(f"median_{val}"))
        )

    med = rank_select(hist, "cents")
    # deviation HISTOGRAM: re-key the value histogram by |cents - med|
    # and re-aggregate (distinct cents can collapse onto one adev)
    devh = (
        hist.join(med, "event_type")
        .withColumn("adev", F.abs(F.col("cents") - F.col("median_cents")))
        .groupBy("event_type", "median_cents", "adev")
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = rank_select(
        devh.select("event_type", "adev", "cnt"), "adev"
    ).withColumnRenamed("median_adev", "mad_cents")
    return (
        devh.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("median_cents").cast("long").alias("median_cents"),
            F.max("mad_cents").cast("long").alias("mad_cents"),
            F.sum("cnt").cast("long").alias("n_events"),
            F.sum(
                F.when(
                    F.col("adev") > F.lit(K_MAD) * F.col("mad_cents"),
                    F.col("cnt"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


MAD_ORACLE_SQL = f"""
        WITH ranked AS (
            SELECT event_type, {CENTS_SQL} AS cents, event_id,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY {CENTS_SQL}, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events
        ),
        med AS (
            SELECT event_type,
                   MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                            THEN cents END) AS median_cents
            FROM ranked GROUP BY event_type
        ),
        dev AS (
            SELECT r.event_type, r.cents,
                   ABS(r.cents - m.median_cents) AS adev,
                   ROW_NUMBER() OVER (
                       PARTITION BY r.event_type
                       ORDER BY ABS(r.cents - m.median_cents), r.event_id
                   ) AS rn,
                   COUNT(*) OVER (PARTITION BY r.event_type) AS n,
                   m.median_cents
            FROM ranked r JOIN med m ON r.event_type = m.event_type
        ),
        mad AS (
            SELECT event_type,
                   MAX(median_cents) AS median_cents,
                   MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                            THEN adev END) AS mad_cents,
                   CAST(MAX(n) AS BIGINT) AS n_events
            FROM dev GROUP BY event_type
        )
        SELECT d.event_type,
               CAST(MAX(m.median_cents) AS BIGINT) AS median_cents,
               CAST(MAX(m.mad_cents) AS BIGINT) AS mad_cents,
               CAST(MAX(m.n_events) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN d.adev > {K_MAD} * m.mad_cents
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev d JOIN mad m ON d.event_type = m.event_type
        GROUP BY d.event_type
    """


@register(
    "evt_anomaly_mad",
    oracle=MAD_ORACLE_SQL,
    tags=("events", "dq", "window"),
)
def evt_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: rank-based median cents, the median absolute
    deviation, event count, and how many events deviate beyond
    K_MAD * mad (strict >, so a zero-MAD constant stream flags only
    genuinely different values).  Both medians are read off compressed
    value histograms (see module docstring) — the raw events are
    touched exactly once, by mad_histogram's (type, cents) groupBy.

    The histogram is pinned HERE, in the batch caller (r17, guide §2.4):
    finish_mad references it from four branches (median, deviation
    histogram, MAD, roll-up), and without the cache each branch re-ran
    the raw-events groupBy — four full scans of the event stream for
    one histogram (plan-verified). The pin cannot live in finish_mad
    itself: streaming/mad.py composes the same tail over a streaming
    state frame, which cannot persist."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", cents_col().alias("cents")
    )
    return finish_mad(pin(mad_histogram(ev)))


# ---------------------------------------------------------------------------
# Streaming MAD anomaly monitor (round 10) — the continuous twin of
# operators/events.evt_anomaly_mad, completing what the r9 verdict
# observed was missing: the robust value-anomaly card had no live path.
# The round-10 histogram rework makes one trivial: the ONLY pass over
# raw events is the (event_type, cents) -> count aggregate, which is
# exactly a streaming-safe complete-mode grouped aggregate — so the
# events STREAM feeds the batch query's mad_histogram builder VERBATIM,
# and finish_mad derives both rank-selected medians and the K_MAD
# outlier counts over the final complete-mode table post-sink.  One
# expression tree for batch audit and live monitor (the drift/freshness/
# seasonality pattern), so the pager and the nightly card cannot
# disagree; with availableNow over the fixture the final state equals
# the batch histogram, and the SAME oracle gates both.
#
# Scale posture: state is one BIGINT per distinct (type, cents) cell —
# bounded by the value domain per type, not the event count (the same
# cardinality bound that makes the batch plan survive 100x); no
# watermark (the histogram never drops keys); production swaps the
# memory sink for a foreachBatch overwrite of the histogram-sized table.
# ---------------------------------------------------------------------------


@register(
    "evt_stream_anomaly_mad",
    # the batch query's oracle verbatim — stream == batch is the claim
    oracle=MAD_ORACLE_SQL,
    tags=("streaming", "events", "dq", "agg"),
    side_effects=True,
)
def evt_stream_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAD anomaly card live: ingest the events fixture with
    availableNow, hold the (type, cents) value histogram as
    complete-mode state, derive medians/MAD/outlier counts through the
    shared batch tail."""
    ev = stream_events(spark, sf_dir).select(
        "event_type", cents_col().alias("cents")
    )
    hist = _run_to_memory(mad_histogram(ev), "complete")
    # finish_mad self-joins the histogram (med back onto hist); the
    # memory-sink view does not survive the analyzer's self-join
    # attribute dedup, so snapshot the (histogram-sized) table first
    return finish_mad(hist.localCheckpoint())


# ---------------------------------------------------------------------------
# Multi-touch (linear) purchase attribution (round 12) — the
# path-based counterpart of evt_purchase_attribution's last-touch model:
# every purchase's value is split EVENLY across all the user's touches on
# its conversion path (the non-purchase events since the user's previous
# purchase, exclusive, in (ts, event_id) order); purchases with an empty
# path stay `organic`.  Marketing stacks run last-touch and linear
# side-by-side — the delta between them is the standard "assist" signal.
#
# Exactness: credits are integer cents — each of a path's k touches gets
# cents div k, and the remainder (cents mod k) goes to the path's LAST
# touch (the deterministic tie-break), so SUM(credited) == SUM(cents)
# conserves to the cent and the oracle hash-matches bit-for-bit.  Both
# engines derive the identical segmentation from the same window.
#
# No analog in the reference (SURVEY §2.1); events extension surface.
#
# Scale posture: ONE events scan, no self-join (r12 plan audit: the
# first cut derived touches and purchases as separate branches of a CTE
# and paid FOUR scans).  Window-only derivation: the user_id-ordered
# window assigns segments and carries each row's NEXT purchase cents
# forward-looking (first purchase at-or-after); the (user_id, seg)
# window counts the segment's touches (k) and the running touch rank.
# Two skinny hash shuffles (user_id, then its (user_id, seg)
# refinement), per-user frames user-history-sized, never |history|^2.
# The rollup is a five-key map-side agg.
# ---------------------------------------------------------------------------


MTA_ORACLE_SQL = f"""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               {CENTS_SQL} AS cents,
               -- purchases BEFORE this row (so a purchase row's own
               -- segment is the path it closes)
               COUNT(*) FILTER (event_type = 'purchase')
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS seg
        FROM events
    ),
    touches AS (
        SELECT user_id, seg, event_type AS touch_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, seg
                                  ORDER BY ts, event_id) AS trn,
               COUNT(*) OVER (PARTITION BY user_id, seg) AS k
        FROM ordered WHERE event_type <> 'purchase'
    ),
    purchases AS (
        SELECT user_id, seg, cents FROM ordered
        WHERE event_type = 'purchase'
    ),
    credited AS (
        SELECT t.touch_type,
               p.cents // t.k
                   + CASE WHEN t.trn = t.k THEN p.cents % t.k ELSE 0 END
                   AS credit
        FROM purchases p JOIN touches t
          ON p.user_id = t.user_id AND p.seg = t.seg
    ),
    organic AS (
        SELECT 'organic' AS touch_type, p.cents AS credit
        FROM purchases p
        WHERE NOT EXISTS (
            SELECT 1 FROM touches t
            WHERE t.user_id = p.user_id AND t.seg = p.seg
        )
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(credit) AS BIGINT) AS credited_cents
    FROM (SELECT * FROM credited UNION ALL SELECT * FROM organic)
    GROUP BY touch_type
"""


@register(
    "evt_multi_touch_attribution",
    oracle=MTA_ORACLE_SQL,
    tags=("events", "window", "agg", "join"),
)
def evt_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(touch_type, n_credits, credited_cents) under the LINEAR model:
    each purchase's cents split cents-div-k across its path's k touches,
    remainder to the path's last touch; empty paths credit 'organic'.
    Total credited cents conserve exactly (unit test pins conservation
    against evt_purchase_attribution's total)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", cents_col().alias("cents")
    )
    is_p = F.col("event_type") == "purchase"
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rows = ev.select(
        "user_id",
        "event_type",
        "cents",
        "ts",
        "event_id",
        F.count(F.when(is_p, 1))
        .over(w_order.rowsBetween(Window.unboundedPreceding, -1))
        .alias("seg"),
        # each row's crediting purchase: the first purchase at-or-after
        # (for a touch that is strictly the NEXT purchase; a trailing
        # touch with no following purchase gets NULL and credits nothing)
        F.first(F.when(is_p, F.col("cents")), ignorenulls=True)
        .over(w_order.rowsBetween(Window.currentRow, Window.unboundedFollowing))
        .alias("p_cents"),
    )
    w_seg = Window.partitionBy("user_id", "seg")
    w_seg_run = w_seg.orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    touch_one = F.when(~is_p, 1).otherwise(0)
    rows = rows.withColumn("k", F.sum(touch_one).over(w_seg)).withColumn(
        "trn", F.sum(touch_one).over(w_seg_run)
    )
    credits = rows.filter(
        (~is_p & F.col("p_cents").isNotNull()) | (is_p & (F.col("k") == 0))
    ).select(
        F.when(is_p, F.lit("organic")).otherwise(F.col("event_type")).alias(
            "touch_type"
        ),
        F.when(is_p, F.col("cents"))
        .otherwise(
            F.expr("p_cents div k")
            + F.when(F.col("trn") == F.col("k"), F.expr("p_cents % k")).otherwise(
                F.lit(0)
            )
        )
        .alias("credit"),
    )
    return credits.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_credits"),
        F.sum("credit").cast("long").alias("credited_cents"),
    )


# ---------------------------------------------------------------------------
# Daily value-quantile trend (round 10) — the time-sliced sibling of
# evt_value_quantiles and the second consumer of the round-10 histogram
# pattern: per (event_type, day), the exact rank-selected p50 and p95 of
# the event value plus the day's volume.  This is the panel an ops
# dashboard actually plots ("p95 purchase value by day") and the input a
# latency/value SLO burn-rate check reads; the global per-type quantiles
# cannot show a drifting day.
#
# No analog in the reference (SURVEY §2.1); events/dq extension surface.
#
# Determinism: rank-selected discrete quantiles (value at row ceil(q*n)
# of the value-sorted group — evt_value_quantiles' convention, no
# interpolation), exact integer cents; day strings via the pinned date
# format on both engines.
#
# Scale posture: the raw events are touched once by a
# map-side-combinable groupBy keyed (type, day, cents) — the shuffle
# spreads over the full key space; each quantile is a cumulative-count
# window over HISTOGRAM rows, whose per-(type, day) cardinality is the
# day's distinct-value count (value-domain bounded), never the raw event
# count — the evt_anomaly_mad r10 rework's plan shape, reused.  Output
# is |types| x |days| rows.
# ---------------------------------------------------------------------------


QUANTILES = ((50, "p50_cents"), (95, "p95_cents"))

_QTREND_SQL = f"""
    WITH ranked AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
               {CENTS_SQL} AS cents,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type, strftime(ts, '%Y-%m-%d')
                   ORDER BY {CENTS_SQL}
               ) AS rn,
               COUNT(*) OVER (
                   PARTITION BY event_type, strftime(ts, '%Y-%m-%d')
               ) AS n
        FROM events
    )
    SELECT event_type, day,
           CAST(MAX(n) AS BIGINT) AS n_events,
           {", ".join(
               f"CAST(MAX(CASE WHEN rn = CAST(CEIL({q / 100} * n) AS BIGINT) "
               f"THEN cents END) AS BIGINT) AS {alias}"
               for q, alias in QUANTILES
           )}
    FROM ranked GROUP BY event_type, day
"""


@register(
    "evt_quantile_trend",
    oracle=_QTREND_SQL,
    tags=("events", "dq", "window", "agg"),
)
def evt_quantile_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, n_events, p50_cents, p95_cents): exact daily
    discrete quantiles per type, rank-selected over the (type, day,
    cents) value histogram — raw events are touched once, every
    ordered pass is distinct-value-sized (the evt_anomaly_mad plan
    shape; the oracle rank-selects over raw rows, which is provably
    the same value)."""
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        cents_col().alias("cents"),
    )
    hist = ev.groupBy("event_type", "day", "cents").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wcum = (
        Window.partitionBy("event_type", "day")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type", "day")
    h = hist.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "n", F.sum("cnt").over(wn)
    )
    picks = []
    for q, alias in QUANTILES:
        target = F.ceil(F.lit(q / 100) * F.col("n")).cast("long")
        picks.append(
            h.filter(F.col("cum") >= target)
            .groupBy("event_type", "day")
            .agg(F.min("cents").alias(alias))
        )
    counts = hist.groupBy("event_type", "day").agg(
        F.sum("cnt").cast("long").alias("n_events")
    )
    out = counts
    for p in picks:
        out = out.join(p, ["event_type", "day"])
    return out


# ---------------------------------------------------------------------------
# Incrementally-maintained daily rollup (round 10) — dedup's
# persisted-index ingest story applied to AGGREGATES: the
# (day, event_type) rollup every dashboard reads is served from a
# PERSISTED partial-aggregate store, built once per source content and
# APPENDED per ingested batch, so the nightly job merges partials
# instead of rescanning the event history.  This is incremental view
# maintenance for the commutative-monoid case (COUNT/SUM partials merge
# by addition), the standard lakehouse materialized-rollup pattern.
#
# Store layout: evt_rollup_<fp> (day, event_type, n_part, cents_part)
# bucketed by day under the per-user index root (dedup_incr_core's
# attach/sweep/fingerprint machinery, fingerprinting events.parquet).
# Rows are PARTIALS — appends never rewrite existing rows, readers SUM
# by (day, event_type); the gram_df_<fp> delta-row discipline exactly.
#
# No analog in the reference (SURVEY §2.1); storage/events extension
# surface.
#
# Determinism: COUNT and exact-cents SUM partials; merge order is
# irrelevant (integer addition).
#
# Scale posture: the build is one map-side-combinable groupBy over
# events (paid once per content); a warm serve touches ONLY the
# partial store — days x types x batches rows, orders of magnitude
# below the event count (plan-tested: no events scan on a warm run).
# At 100 TB the append path is the per-batch rollup of the batch alone;
# compaction of accumulated partial files is sources/versioned.py's
# story, unchanged.
# ---------------------------------------------------------------------------


_PREFIX = "evt_rollup_"


def _rollup_partials(ev: DataFrame) -> DataFrame:
    """(day, event_type, n_part, cents_part) partial-aggregate rows for
    any slice of events — the build AND the per-batch append both emit
    exactly this shape."""
    return (
        ev.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
            cents_col().alias("cents"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_part"),
            F.sum("cents").alias("cents_part"),
        )
    )


def rollup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted partial store for sf_dir's events, building it from
    the full table if no completed generation exists (the gram_index
    adopt-or-build protocol, same sweep scoping)."""
    fp = _corpus_fingerprint(sf_dir, "events.parquet")
    name = f"{_PREFIX}{fp}"
    if not spark.catalog.tableExists(name):
        from bigbugdata_spark.sources.bucketed import write_bucketed

        ensure_index_root()
        sweep_stale_generations(spark, (_PREFIX,), fp)
        if attach_index_tables(
            spark,
            (
                (
                    name,
                    "day STRING, event_type STRING, "
                    "n_part BIGINT, cents_part BIGINT",
                    "day",
                ),
            ),
        ):
            return spark.table(name)
        remove_incomplete_locations((name,))
        write_bucketed(
            _rollup_partials(table(spark, sf_dir, "events")),
            name,
            "day",
            n_buckets=INDEX_BUCKETS,
            path=index_path(name),
        )
    return spark.table(name)


def append_batch_to_rollup(
    spark: SparkSession, batch_ev: DataFrame, fp: str
) -> None:
    """Maintenance: an ingested batch's partial rows APPEND into the
    same bucket layout; no existing row is rewritten (append==rebuild
    proven by the lifecycle test).  Single table, but a saveAsTable
    append's JOB COMMIT moves task files into place non-atomically —
    the intent sentinel (r17) turns a mid-commit writer death into a
    cold rebuild instead of a partially-visible batch."""
    name = f"{_PREFIX}{fp}"
    intent = begin_append_intent((name,))
    append_bucketed(_rollup_partials(batch_ev), name, "day")
    commit_append_intent(intent)


#: the rollup ground truth — shared verbatim with the streaming
#: maintenance path (operators/events.py), whose claim is stream==batch
ROLLUP_ORACLE_SQL = f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({CENTS_SQL}) AS BIGINT) AS sum_cents
    FROM events GROUP BY day, event_type
"""


@register(
    "evt_rollup_materialized",
    oracle=ROLLUP_ORACLE_SQL,
    tags=("events", "storage", "agg"),
    side_effects=True,
)
def evt_rollup_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, event_type, n_events, sum_cents) served by merging the
    persisted partial store — a warm run never rescans events (plan
    test); the oracle recomputes the identical rollup from the raw
    table, so staleness or a bad merge goes hash-red.  Registered read
    query that materializes storage on first run (the
    dedup_incremental precedent)."""
    store = rollup_store(spark, sf_dir)
    return store.groupBy("day", "event_type").agg(
        F.sum("n_part").cast("long").alias("n_events"),
        F.sum("cents_part").cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# Streaming rollup maintenance (round 10) — the continuous twin of
# operators/events.evt_rollup_materialized: the daily
# (day, event_type) rollup's partial-aggregate store maintained FROM THE
# STREAM, one foreachBatch write per micro-batch, replay-idempotent.
#
# Topology: each micro-batch's rows compress to partial rows through the
# batch path's _rollup_partials builder VERBATIM (one expression tree,
# the drift/freshness/mad discipline), and land as an OVERWRITE of that
# batch's own `batch_id=<n>` partition directory — so a redelivered
# micro-batch (failure between sink write and checkpoint commit, the
# exactly-once gap foreachBatch must close itself) rewrites its own
# partition instead of double-appending; the merged read SUMs partials
# across all batch partitions.  With availableNow over the fixture the
# merged rollup equals the batch derivation, and the SAME oracle gates
# both (stream == batch is the claim).
#
# Scale posture: per micro-batch work is one map-side-combinable groupBy
# of the batch alone + a partition-scoped overwrite (no read-modify-write
# of history); the store grows one small partition per batch — the
# compaction story in sources/versioned.py applies to partition counts,
# and readers prune nothing (they want every partition).
# ---------------------------------------------------------------------------


def write_rollup_batch(batch: DataFrame, batch_id: int, out_dir: str) -> None:
    """One micro-batch's partial rows, idempotently: OVERWRITE the
    batch's own partition directory — a replayed batch_id rewrites
    identical content (proven by test) instead of double-counting."""
    _rollup_partials(batch).write.mode("overwrite").parquet(
        f"{out_dir}/batch_id={batch_id}"
    )


def run_rollup_stream_sink(
    spark: SparkSession, sf_dir: str, out_dir: str, ckpt: str
) -> None:
    """Drive the events stream into the partial store with availableNow."""
    q = (
        stream_events(spark, sf_dir)
        .writeStream.foreachBatch(
            lambda batch, bid: write_rollup_batch(batch, bid, out_dir)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def merged_rollup(spark: SparkSession, out_dir: str) -> DataFrame:
    """SUM the partial rows across every batch partition."""
    return (
        spark.read.parquet(out_dir)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_part").cast("long").alias("n_events"),
            F.sum("cents_part").cast("long").alias("sum_cents"),
        )
    )


@register(
    "evt_stream_rollup",
    # the batch query's oracle verbatim — stream == batch is the claim
    oracle=ROLLUP_ORACLE_SQL,
    tags=("streaming", "events", "storage", "agg"),
    side_effects=True,
)
def evt_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily rollup maintained from the stream: ingest the events
    fixture with availableNow, land per-batch partial partitions
    (replay-idempotent overwrites), return the merged rollup."""
    base = tempfile.mkdtemp(prefix="bigbugdata-stream-rollup-")
    try:
        out, ckpt = f"{base}/store", f"{base}/ckpt"
        run_rollup_stream_sink(spark, sf_dir, out, ckpt)
        return merged_rollup(spark, out).localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# Activity seasonality profile (round 9) — the hour-of-day x
# day-of-week heatmap every event monitor publishes, with an exact
# integer hot-cell flag: cells whose traffic exceeds 1.5x the uniform
# expectation.  Feeds capacity planning and doubles as the baseline
# shape drift monitors compare against (dq_distribution_drift watches
# category mix; this watches TIME mix).
#
# No analog in the reference (SURVEY §2.1); events extension surface.
#
# Determinism: the day-of-week convention is pinned to ISO (Mon=1..7) on
# both engines — Spark's `weekday()+1` == DuckDB's `isodow()` — because
# default dayofweek() conventions differ across engines; counts are
# exact, the hot flag is an integer cross-multiply (2*168*n_cell >
# 3*total, i.e. cell > 1.5x uniform), no division anywhere except one
# final fp64 share column derived from exact integers.
#
# Scale posture: one events scan, one map-side-combinable aggregate on a
# key space bounded by 168 cells — the cheapest possible monitor shape.
# ---------------------------------------------------------------------------


SEASONALITY_ORACLE_SQL = """
        WITH cells AS (
            SELECT CAST(isodow(ts) AS BIGINT) AS dow,
                   CAST(hour(ts) AS BIGINT) AS hod,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        ),
        tot AS (
            SELECT cells.*, SUM(n_events) OVER () AS total FROM cells
        )
        SELECT dow, hod, n_events,
               CAST(n_events * 1000 AS DOUBLE) / total AS share_pm,
               CAST(2 * 168 * n_events > 3 * total AS INT) AS is_hot
        FROM tot
"""


def season_cells(ev: DataFrame) -> DataFrame:
    """(dow, hod) -> count — one map-side-combinable aggregate,
    streaming-safe (shared with the live monitor in
    streaming/seasonality.py)."""
    return ev.groupBy(
        (F.weekday("ts") + 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n_events"))


def finish_seasonality(cells: DataFrame) -> DataFrame:
    """Shares + hot flags over the 168-cell frame (batch tail of both
    the batch and streaming seasonality queries)."""
    from pyspark.sql import Window

    # 168-row frame: totals roll up in place (bounded, like dq_drift)
    total = F.sum("n_events").over(Window.partitionBy())
    return cells.select(
        "dow",
        "hod",
        "n_events",
        total.alias("_t"),
    ).select(
        "dow",
        "hod",
        "n_events",
        ((F.col("n_events") * 1000).cast("double") / F.col("_t")).alias(
            "share_pm"
        ),
        (
            F.lit(2) * 168 * F.col("n_events") > F.lit(3) * F.col("_t")
        )
        .cast("int")
        .alias("is_hot"),
    )


@register(
    "evt_seasonality_profile",
    oracle=SEASONALITY_ORACLE_SQL,
    tags=("events", "agg"),
)
def evt_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (ISO day-of-week, hour-of-day): event count, permille share,
    and the exact-integer hot flag (cell > 1.5x the uniform 1/168
    expectation)."""
    return finish_seasonality(season_cells(table(spark, sf_dir, "events")))


# ---------------------------------------------------------------------------
# Streaming seasonality monitor (round 9) — the continuous twin of
# operators/events.evt_seasonality_profile: the hour x ISO-dow
# activity heatmap maintained as complete-mode streaming state, so the
# capacity-planning card is live while the feed ingests.
#
# Topology follows the drift/freshness pattern: the events STREAM feeds
# the batch query's `season_cells` builder VERBATIM (one streaming-safe
# grouped aggregate on a 168-cell key space), and `finish_seasonality`
# derives shares and the hot flags over the final complete-mode table
# post-sink.  One expression tree for both, so the live heatmap cannot
# drift from the batch audit; with availableNow over the fixture the
# final table equals the batch derivation, and the SAME oracle gates
# both.
#
# Scale posture: state is at most 168 rows of one BIGINT each — constant
# and tiny; no watermark (the aggregate never drops keys); production
# swaps the memory sink for a foreachBatch overwrite of the heatmap-
# sized table.
# ---------------------------------------------------------------------------


@register(
    "evt_stream_seasonality",
    # the batch query's oracle verbatim — stream == batch is the claim
    oracle=SEASONALITY_ORACLE_SQL,
    tags=("streaming", "events", "agg"),
    side_effects=True,
)
def evt_stream_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seasonality heatmap live: ingest the events fixture with
    availableNow, hold per-(dow, hod) counts as complete-mode state,
    derive shares/hot-flags through the shared batch tail."""
    cells = _run_to_memory(
        season_cells(stream_events(spark, sf_dir)), "complete"
    )
    return finish_seasonality(cells)


# ---------------------------------------------------------------------------
# Mergeable distinct-count sketch store (round 10) — THE 100 TB
# distinct-users pattern: you cannot COUNT(DISTINCT) over a petabyte per
# dashboard refresh, so each day's partition keeps a Datasketches HLL
# sketch of its users and any range's distinct count comes from UNIONING
# the per-day sketches — no rescan, mergeable across shards, the
# standard lakehouse rollup companion.  This registers the rolling
# ("distinct users to date") read over per-day sketches, under the
# bound-asserting audit discipline (operators/audits.py): the sketch
# registers are engine-internal, so the output carries the EXACT
# per-day and cumulative counts (both SQL-re-derivable) plus an
# in_bounds flag that pins the estimate within max(10, 5%) of exact —
# any regression in sketch build, union, or estimate flips a flag and
# goes hash-red.
#
# No analog in the reference (SURVEY §2.1); events/sketch extension
# surface next to text_vocab_approx (HLL++) and evt_value_quantiles'
# sketch twin.
#
# Determinism: Datasketches HLL is hash-based and order-independent
# under union; exact columns are integer counts; the flag compares
# integers against an integer envelope.
#
# Scale posture: one groupBy(day) pass builds daily sketches (map-side
# partial merge — sketch unions are commutative monoids, Spark's
# aggregate buffers merge them like SUM partials); the rolling read is
# ONE sorted prefix scan (round 11, VERDICT r10 #7): hll_union_agg over
# a running ROWS-frame window accumulates each day's sketch into the
# carried union exactly once — |days| merges total, where the r10
# pairwise inequality join paid |days|^2/2 (240k tiny merges at 3 years
# of days).  The window is single-partition but day-cardinality-sized —
# the same bounded-panel contract as the EWMA/quantile-trend family; the
# exact columns ride the first-seen frame (growth accounting's shape).
# ---------------------------------------------------------------------------


#: estimate must land within max(ABS_TOL, cum_exact * REL_TOL_PCT / 100)
ABS_TOL, REL_TOL_PCT = 10, 5

_SKETCH_SQL = """
    WITH ev AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events
    ),
    daily AS (
        SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_day
        FROM ev GROUP BY day
    ),
    firsts AS (
        SELECT user_id, MIN(day) AS fd FROM ev GROUP BY user_id
    ),
    news AS (
        SELECT fd AS day, CAST(COUNT(*) AS BIGINT) AS n_new
        FROM firsts GROUP BY fd
    )
    SELECT d.day, d.n_users_day,
           CAST(SUM(COALESCE(n.n_new, 0)) OVER (
               ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_users_exact,
           CAST(1 AS INT) AS in_bounds
    FROM daily d LEFT JOIN news n ON d.day = n.day
"""


@register(
    "evt_sketch_rolling_users",
    oracle=_SKETCH_SQL,
    tags=("events", "sketch", "audit", "agg"),
)
def evt_sketch_rolling_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, n_users_day, cum_users_exact, in_bounds): per day the exact
    distinct users, the exact distinct-to-date, and the flag asserting
    the HLL-union estimate over the per-day sketch store lands within
    max(ABS_TOL, REL_TOL_PCT%) of exact.  The estimate is derived ONLY
    through build->union->estimate over per-day sketches — the exact
    path never feeds it."""
    ev = table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").cast("long").alias("n_users_day"),
    )
    # rolling union as ONE sorted prefix scan: the running ROWS frame
    # accumulates each day's sketch into the carried union exactly once
    # (|days| merges — the r10 pairwise join paid |days|^2/2)
    wcum = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rolled = daily.select(
        "day",
        "n_users_day",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(wcum))
        .cast("long")
        .alias("est"),
    )
    # exact cumulative via first-seen days (growth accounting's shape)
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("fd"))
    news = firsts.groupBy("fd").agg(F.count(F.lit(1)).alias("n_new"))
    cum = (
        rolled.join(news, rolled.day == news.fd, "left")
        .select(
            "day",
            "n_users_day",
            "est",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .withColumn("cum_users_exact", F.sum("n_new").over(wcum).cast("long"))
    )
    envelope = F.greatest(
        F.lit(ABS_TOL),
        (F.col("cum_users_exact") * REL_TOL_PCT / 100).cast("long"),
    )
    return cum.select(
        "day",
        "n_users_day",
        "cum_users_exact",
        (F.abs(F.col("est") - F.col("cum_users_exact")) <= envelope)
        .cast("int")
        .alias("in_bounds"),
    )


# ---------------------------------------------------------------------------
# As-of / CDC consumers of the SCD2 state model.  The run derivation
# comes from operators/scd.py.
#
# No analog in the reference (SURVEY §2.1 — no window functions, no state
# modeling); warehouse-governance extension surface.
# ---------------------------------------------------------------------------


# fixed weekly probe instants across the events range — the "as of T"
# questions the SCD2 table exists to answer
ASOF_PROBES = (
    "2024-01-05 00:00:00",
    "2024-01-12 00:00:00",
    "2024-01-19 00:00:00",
    "2024-01-26 00:00:00",
)

_ASOF_PROBES_SQL = ", ".join(f"(TIMESTAMP '{p}')" for p in ASOF_PROBES)


@register(
    "evt_state_asof",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_type, ts, event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                 - ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS island
            FROM events
        ),
        runs AS (
            SELECT user_id, event_type AS state, island,
                   MIN(ts) AS vf, MIN(event_id) AS first_eid
            FROM seq GROUP BY user_id, event_type, island
        ),
        probes AS (SELECT * FROM (VALUES {_ASOF_PROBES_SQL}) AS t(probe_ts))
        SELECT strftime(probe_ts, '{TS_FMT_DUCK}') AS probe_ts,
               user_id, state,
               strftime(vf, '{TS_FMT_DUCK}') AS since
        FROM (
            SELECT p.probe_ts, r.user_id, r.state, r.vf,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.probe_ts, r.user_id
                       ORDER BY r.vf DESC, r.first_eid DESC) AS rn
            FROM probes p JOIN runs r ON r.vf <= p.probe_ts
        ) WHERE rn = 1
    """,
    tags=("events", "window", "join"),
)
def evt_state_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 state model (round 7 —
    completes the family: evt_user_state_history BUILDS the history,
    streaming/scd_sink.py MAINTAINS it, this QUERIES it): for each fixed
    probe instant, each user's state at that instant and when it began —
    the latest run starting at or before the probe. Users with no run
    yet at a probe are absent (no state to report), identically on both
    engines.

    Plan: the run set is change-bounded (not event-bounded); the 4-row
    probe frame joins it with a broadcast nested-loop on the vf <= T
    inequality (expansion factor <= |probes|), and one (probe, user)
    window picks the latest run — a single user-keyed shuffle after the
    run collapse. At 100 TB this query would read the MATERIALIZED run
    table (the scd_sink lake) instead of re-deriving runs, same plan
    from the join down."""
    runs = runs_from_events(table(spark, sf_dir, "events"))
    probes = spark.createDataFrame(
        [(p,) for p in ASOF_PROBES], "probe_raw string"
    ).select(F.col("probe_raw").cast("timestamp").alias("probe_ts"))
    j = runs.join(F.broadcast(probes), runs.vf <= probes.probe_ts)
    w = Window.partitionBy("probe_ts", "user_id").orderBy(
        F.col("vf").desc(), F.col("first_eid").desc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.date_format("probe_ts", TS_FMT).alias("probe_ts"),
            "user_id",
            "state",
            F.date_format("vf", TS_FMT).alias("since"),
        )
    )


_CDC_T1, _CDC_T2 = "2024-01-12 00:00:00", "2024-01-26 00:00:00"


@register(
    "evt_state_cdc",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_type, ts, event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                 - ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS island
            FROM events
        ),
        runs AS (
            SELECT user_id, event_type AS state, island,
                   MIN(ts) AS vf, MIN(event_id) AS first_eid
            FROM seq GROUP BY user_id, event_type, island
        ),
        s1 AS (
            SELECT user_id, state FROM (
                SELECT user_id, state,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY vf DESC, first_eid DESC) AS rn
                FROM runs WHERE vf <= TIMESTAMP '{_CDC_T1}'
            ) WHERE rn = 1
        ),
        s2 AS (
            SELECT user_id, state FROM (
                SELECT user_id, state,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY vf DESC, first_eid DESC) AS rn
                FROM runs WHERE vf <= TIMESTAMP '{_CDC_T2}'
            ) WHERE rn = 1
        )
        SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
               s1.state AS state_t1, s2.state AS state_t2,
               CASE WHEN s1.user_id IS NULL THEN 'new'
                    WHEN s2.user_id IS NULL THEN 'gone'
                    ELSE 'changed' END AS change
        FROM s1 FULL JOIN s2 ON s1.user_id = s2.user_id
        WHERE s1.state IS DISTINCT FROM s2.state
    """,
    tags=("events", "window", "join"),
)
def evt_state_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-transition CDC between two instants — the change feed a
    downstream consumer subscribes to instead of re-reading the whole
    SCD2 table: per user whose state at T2 differs from T1, the old and
    new states plus a change class ('new' users had no state at T1;
    'gone' cannot occur on an append-only log but the contract keeps the
    full outer semantics honest). Audit shape of "who moved this
    fortnight" on the same run set the whole SCD2 family shares.

    Plan: the run collapse is the one event-sized stage; both as-of
    picks are windows over the SAME user_id partitioning (one exchange
    serves them), and the full outer join moves user-cardinality rows.
    At 100 TB the picks read the maintained run table (scd_sink lake)
    instead of re-deriving runs."""
    # pinned: the change-bounded run set feeds BOTH as-of picks —
    # without it each pick re-scans and re-collapses the event log
    runs = pin(runs_from_events(table(spark, sf_dir, "events")))

    def pick(t: str, out: str) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("vf").desc(), F.col("first_eid").desc()
        )
        return (
            runs.filter(F.col("vf") <= F.lit(t).cast("timestamp"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("user_id").alias(f"u_{out}"), F.col("state").alias(out))
        )

    s1, s2 = pick(_CDC_T1, "state_t1"), pick(_CDC_T2, "state_t2")
    j = s1.join(s2, s1.u_state_t1 == s2.u_state_t2, "full_outer")
    return (
        j.filter(~F.col("state_t1").eqNullSafe(F.col("state_t2")))
        .select(
            F.coalesce(F.col("u_state_t1"), F.col("u_state_t2")).alias("user_id"),
            "state_t1",
            "state_t2",
            F.when(F.col("u_state_t1").isNull(), "new")
            .when(F.col("u_state_t2").isNull(), "gone")
            .otherwise("changed")
            .alias("change"),
        )
    )


# ---------------------------------------------------------------------------
# User-journey transition matrix (round 8) — the Markov-chain view of
# the event stream: for every (previous event_type -> event_type) pair,
# how many transitions occurred and what fraction of departures from the
# previous state they represent. The product-analytics primitive behind
# "after viewing, 40% purchase" funnels and behavioral drift monitoring.
#
# No analog in the reference (SURVEY §2.1 — no window functions); event
# analytics extension surface alongside evt_funnel / evt_retention.
#
# Scale posture: one shuffle on user_id for the lag window (at 100 TB the
# user-bucketed events layout in sources/bucketed.py makes it
# shuffle-free), then a map-side-combinable aggregate whose key space is
# |event_type|^2 (25 rows here) — the final exchange moves kilobytes. The
# per-source-state totals are derived from the pair counts themselves
# (roll-up, no second scan), and the probability is a single fp64
# division of two exact BIGINTs, so both engines produce the identical
# double.
# ---------------------------------------------------------------------------


@register(
    "evt_transition_matrix",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_state
            FROM events
        ),
        pairs AS (
            SELECT prev_state, event_type AS state,
                   CAST(COUNT(*) AS BIGINT) AS n_trans
            FROM seq WHERE prev_state IS NOT NULL
            GROUP BY prev_state, event_type
        )
        SELECT prev_state, state, n_trans,
               CAST(SUM(n_trans) OVER (PARTITION BY prev_state) AS BIGINT)
                   AS n_from,
               CAST(n_trans AS DOUBLE)
                   / SUM(n_trans) OVER (PARTITION BY prev_state) AS p
        FROM pairs
    """,
    tags=("events", "window", "agg"),
)
def evt_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (prev_state, state) pair: transition count, total departures
    from prev_state, and the conditional transition probability
    p = n_trans / n_from.

    Event order within a user is (ts, event_id) — the same total order
    every state-model query in the repo uses (operators/scd_core.py), so
    ties on coarse timestamps cannot flip transitions between engines.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("state"),
            F.lag("event_type").over(w).alias("prev_state"),
        )
        .where(F.col("prev_state").isNotNull())
        .groupBy("prev_state", "state")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    # departures-per-source-state as a roll-up of the 25-row pair frame
    # (window over the aggregate, NOT a second events scan)
    wfrom = Window.partitionBy("prev_state")
    return pairs.select(
        "prev_state",
        "state",
        "n_trans",
        F.sum("n_trans").over(wfrom).alias("n_from"),
        (F.col("n_trans").cast("double") / F.sum("n_trans").over(wfrom)).alias(
            "p"
        ),
    )
