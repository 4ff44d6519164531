"""Stream-only event queries: the custom stateful operators
(applyInPandasWithState), window twins, stream-stream and stream-static
joins, lifecycle features, new-user growth, last-touch and multi-touch
attribution, the step-deadline funnel and streaming exact dedup.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions.fragments import (
    CENTS_SQL,
    TS_FMT,
    TS_FMT_DUCK,
    cents_col,
)
from bigbugdata_spark.operators.events import (
    _FUNNEL_STEPS_ORACLE_SQL,
    ATTRIB_ORACLE_SQL,
    MTA_ORACLE_SQL,
    STEP_WINDOW_US,
    lifecycle_agg_cols,
)
from bigbugdata_spark.registry import register
from bigbugdata_spark.streaming.core import (
    OutOfOrderFeedError,
    _run_to_memory,
    stream_events,
    ts_us,
)


# ---------------------------------------------------------------------------
# event-time sessionizer: custom session semantics with watermark timeouts
# ---------------------------------------------------------------------------

_SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

# open sessions carried across batches: (start_us, last_us, n)
_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)

_GAP_US = 5 * 60 * 1_000_000


def _sessionize_user(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Close a session when the next event arrives >= gap after the last
    (emitting it), or when the event-time timeout fires with no successor
    (watermark passed last_ts + gap). Matches evt_session_window's
    half-open merge semantics."""
    if state.hasTimedOut:
        start_us, last_us, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us + _GAP_US, unit="us")],
                "n_events": [n],
            }
        )
        return

    ts_list: list[int] = []
    for pdf in batches:
        ts_list.extend(int(v) for v in ts_us(pdf["ts"]))
    ts_list.sort()

    closed: list[tuple[int, int, int]] = []
    if state.exists:
        start_us, last_us, n = state.get
        have = True
    else:
        have = False
        start_us = last_us = n = 0
    for t in ts_list:
        if not have:
            start_us, last_us, n = t, t, 1
            have = True
        elif t - last_us >= _GAP_US:
            closed.append((start_us, last_us, n))
            start_us, last_us, n = t, t, 1
        else:
            last_us, n = t, n + 1
    state.update((start_us, last_us, n))
    # ask to be timed out once the watermark passes the session's close
    state.setTimeoutTimestamp(last_us // 1000 + _GAP_US // 1000)
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(closed),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                "session_end": [
                    pd.Timestamp(l + _GAP_US, unit="us") for _, l, _ in closed
                ],
                "n_events": [c for _, _, c in closed],
            }
        )


@register(
    "evt_stream_sessions",
    oracle=f"""
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             >= INTERVAL '5 minutes'
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ),
        numbered AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_no
            FROM flagged
        ),
        sessions AS (
            SELECT user_id,
                   MIN(ts) AS s,
                   MAX(ts) + INTERVAL '5 minutes' AS e,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY MIN(ts) DESC
                   ) AS rn
            FROM numbered GROUP BY user_id, session_no
        ),
        wm AS (SELECT MAX(ts) - INTERVAL '10 minutes' AS w FROM events)
        SELECT user_id,
               strftime(s, '{TS_FMT_DUCK}') AS session_start,
               strftime(e, '{TS_FMT_DUCK}') AS session_end,
               n_events
        FROM sessions, wm
        WHERE NOT (rn = 1 AND e >= w)
    """,
    tags=("events", "streaming", "stateful"),
    side_effects=True,
)
def evt_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful sessionizer, registered through the same
    correctness gate as every batch operator — applyInPandasWithState +
    EventTimeTimeout under a fully characterized emission contract, so
    the driver hash-verifies a stateful streaming operator that would
    normally only get a rows-only check.

    Oracle: gaps-and-islands sessions (exactly evt_session_window's
    formulation) MINUS each user's final session when the final
    watermark (max ts - 10 min) has not passed its close — i.e. the
    sessions the watermark finalized. A non-final session is always
    emitted (its successor event closes it in-batch); a final session
    emits only via the event-time timeout, which fires when the
    watermark passes session_end. tests/test_streaming.py pins the same
    contract against the batch session_window through Spark itself."""
    out = stream_sessions(spark, sf_dir)
    return out.select(
        "user_id",
        F.date_format("session_start", TS_FMT).alias("session_start"),
        F.date_format("session_end", TS_FMT).alias("session_end"),
        "n_events",
    )


def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time sessionization as a CUSTOM stateful operator: 5-minute
    inactivity gap, sessions closed either by a successor event beyond
    the gap or by an EventTimeTimeout once the watermark passes. The
    operator state is O(1) per user; expired state is dropped by the
    state store. Sessions still open when the availableNow stream drains
    (no watermark advance past them) are intentionally unemitted — the
    same finalization contract as append-mode windows."""
    events = stream_events(spark, sf_dir).select("user_id", "ts")
    sessions = (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_user,
            outputStructType=_SESSION_OUTPUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return _run_to_memory(sessions, "append")


# ---------------------------------------------------------------------------
# Structured Streaming twins of the event-time window operators
# (SURVEY.md §7 phase 3: "streaming semantics on events"). The reference is
# strictly batch (SURVEY §2.1); these run the SAME logical window plans as
# operators/events.py as continuous queries — readStream file source ->
# watermarked window aggregation -> memory sink, driven to completion with
# the availableNow trigger so results are deterministic and testable.
#
# Streaming posture for 100 TB/day: the file source scales by partitioned
# directory listing (maxFilesPerTrigger bounds batch size), state lives in
# the window/session state store keyed by (window, key) and is expired by
# the watermark — the 10-minute delay bounds state to ~10 min of keys.
#
# Semantics note: complete mode + availableNow reproduces the batch
# tumbling result EXACTLY (all state retained, flushed at end) — so the
# streaming query is oracle-checkable against the same DuckDB SQL as the
# batch twin.
# ---------------------------------------------------------------------------


def _tumbling_agg(events: DataFrame) -> DataFrame:
    """The shared tumbling-window aggregation (same plan as the batch
    evt_tumbling_window, minus the final formatting)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents_col()).alias("value_cents"),
        )
    )


def stream_tumbling_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling counts, COMPLETE mode: equals the batch
    result exactly once the stream drains."""
    out = _run_to_memory(_tumbling_agg(stream_events(spark, sf_dir)), "complete")
    return out.select(
        F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
        "event_type",
        "n_events",
        "value_cents",
    )


# oracle: identical to the batch twin — complete-mode availableNow
# streaming reproduces it exactly
@register(
    "evt_stream_tumbling",
    oracle="""
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S.%f') AS window_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM events
        GROUP BY time_bucket(INTERVAL '1 hour', ts), event_type
    """,
    tags=("events", "streaming"),
    side_effects=True,
)
def evt_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming tumbling-window query, registered through the same
    correctness gate as every batch operator: the driver's oracle compare
    holds because complete-mode availableNow drains the whole file into
    the window state and flushes it — a real Structured Streaming
    execution (state store, watermark tracking, memory sink), not a
    batch rewrite."""
    return stream_tumbling_complete(spark, sf_dir)


# ---------------------------------------------------------------------------
# Stream-stream JOIN — the one Structured Streaming surface the other
# streaming modules don't cover (windows: aggregation; stateful:
# applyInPandasWithState; dedup: dropDuplicatesWithinWatermark). The
# reference is strictly batch (SURVEY §2.1), so like the rest of
# bigbugdata_spark/streaming this is pure extension surface.
#
# The query is click->view attribution: each click joins the same user's
# views from the preceding 30 minutes. As a stream-stream INNER join Spark
# requires exactly what the 100 TB posture needs anyway:
#
# * a watermark on BOTH sides — join state (buffered unmatched rows) is
#   evicted once the other side's watermark passes the range bound, so
#   state is bounded to ~(delay + range) minutes of events per side;
# * an event-time RANGE condition tying the two streams — Spark derives
#   each side's state-retention horizon from it.
#
# Correctness contract: an inner stream-stream join emits a pair as soon
# as both rows have arrived (the watermark only bounds state eviction, it
# never delays inner-join output), and the availableNow trigger ingests
# the whole fixture before any watermark advances — so the streamed result
# is row-identical to the batch join, which is exactly the registered
# DuckDB oracle. tests/test_streaming.py additionally pins stream == batch
# through the Spark engine itself.
# ---------------------------------------------------------------------------


_RANGE = "30 minutes"
_DELAY = "10 minutes"


def _attribution_join(clicks: DataFrame, views: DataFrame) -> DataFrame:
    """The shared join plan: user equi-key + event-time range.

    The equi-key keeps the join hash-partitioned on user_id (one shuffle
    per side, batch or stream); the range condition is a residual — and
    in streaming, the horizon Spark evicts state by."""
    joined = clicks.join(
        views,
        F.expr(
            "click_user = view_user AND "
            f"view_ts >= click_ts - INTERVAL {_RANGE} AND view_ts <= click_ts"
        ),
    )
    return joined.select(
        F.col("click_user").alias("user_id"),
        "click_id",
        "view_id",
        F.date_format("click_ts", TS_FMT).alias("click_ts"),
        F.date_format("view_ts", TS_FMT).alias("view_ts"),
    )


def _sides(ev: DataFrame) -> tuple[DataFrame, DataFrame]:
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("click_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("view_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    return clicks, views


def batch_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin over the same plan (the stream == batch test anchor)."""
    clicks, views = _sides(table(spark, sf_dir, "events"))
    return _attribution_join(clicks, views)


@register(
    "evt_stream_click_attribution",
    oracle=f"""
        SELECT c.user_id,
               c.event_id AS click_id,
               v.event_id AS view_id,
               strftime(c.ts, '{TS_FMT_DUCK}') AS click_ts,
               strftime(v.ts, '{TS_FMT_DUCK}') AS view_ts
        FROM events c
        JOIN events v
          ON c.user_id = v.user_id
         AND v.ts >= c.ts - INTERVAL '30 minutes'
         AND v.ts <= c.ts
        WHERE c.event_type = 'click' AND v.event_type = 'view'
    """,
    tags=("events", "streaming", "join"),
    side_effects=True,
)
def evt_stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join, driven to completion with
    availableNow and returned as a static frame (same pattern as
    evt_stream_tumbling). Oracle-exact per the module contract: inner
    join output is never held back by the watermark, and the single
    availableNow batch ingests every row before eviction starts."""
    clicks_raw, views_raw = _sides(stream_events(spark, sf_dir))
    clicks = clicks_raw.withWatermark("click_ts", _DELAY)
    views = views_raw.withWatermark("view_ts", _DELAY)
    return _run_to_memory(_attribution_join(clicks, views), "append")


# ---------------------------------------------------------------------------
# Stream-STATIC enrichment join — the most common production streaming
# join (every event stream is enriched against dimension tables before
# anything else happens to it), completing the streaming join surface
# next to the stream-stream attribution join (events.py).
#
# Semantics Spark gives a stream-static inner join: the STATIC side is
# re-resolved every micro-batch (a dimension update between batches is
# picked up; no state is kept for the static side), the stream side needs
# no watermark for an inner join, and each micro-batch's output is just
# batch-join(micro-batch, dim). With availableNow over the fixture the
# union of micro-batch outputs is row-identical to the batch join — which
# is exactly what the registered oracle checks, and what
# tests/test_streaming.py pins through the engine itself.
#
# Scale posture: the dimension is broadcast per batch when small (the
# planner sees its size each time); a 100 TB-era dimension instead lives
# key-bucketed (sources/bucketed.py) so each micro-batch aligns to the
# bucket layout and the dim never shuffles.
# ---------------------------------------------------------------------------


def _enriched_totals(ev: DataFrame, cust: DataFrame) -> DataFrame:
    """Shared plan: enrich events with the customer's market segment,
    then aggregate exact value cents per (segment, event_type)."""
    from bigbugdata_spark.functions.fragments import cents_col

    enriched = ev.join(
        cust.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("mktsegment"),
        ),
        "user_id",
    )
    return (
        enriched.select("mktsegment", "event_type", cents_col().alias("cents"))
        .groupBy("mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("value_cents"),
        )
    )


@register(
    "evt_stream_enriched_totals",
    oracle=f"""
        SELECT c.c_mktsegment AS mktsegment,
               e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM({CENTS_SQL}) AS BIGINT) AS value_cents
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY mktsegment, e.event_type
    """,
    tags=("streaming", "events", "join", "agg"),
    side_effects=True,
)
def evt_stream_enriched_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-enriched streaming totals: the events STREAM inner-joins
    the static customer table per micro-batch, then a complete-mode
    aggregate rolls exact value cents up per (market segment, event
    type) — the canonical enrich-then-aggregate topology of a metrics
    pipeline. availableNow ingests the whole fixture, so the final
    complete-mode table equals the batch join+aggregate, which the
    DuckDB oracle re-derives independently (hash-exact: counts and
    integer cents only)."""
    ev = stream_events(spark, sf_dir)
    cust = table(spark, sf_dir, "customer")
    return _run_to_memory(_enriched_totals(ev, cust), "complete")


def batch_enriched_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch twin (same shared plan) for the stream==batch test."""
    return _enriched_totals(
        table(spark, sf_dir, "events"), table(spark, sf_dir, "customer")
    )


# ---------------------------------------------------------------------------
# Streaming user-lifecycle features (round 8) — the feature store
# maintained LIVE: the streaming-safe subset of evt_user_features
# (operators/events.py) as a complete-mode aggregate on the
# events stream, so the user dimension is current while the feed
# ingests instead of rebuilt nightly.
#
# Streaming-safe means min/max/count/conditional-sum only: the batch
# table's COUNT(DISTINCT ...) columns (type diversity, active days) are
# not expressible as streaming aggregate state without a two-level
# aggregation Structured Streaming disallows — the honest split is this
# lifecycle subset live + the full feature table batch, both from ONE
# shared builder so the overlapping columns cannot drift.
#
# With availableNow over the fixture the final complete-mode table
# equals the batch derivation, and the oracle (the matching projection
# of the batch query's SQL) gates both. Scale posture: state is one row
# of six scalars per user — the same user-grain the batch table
# materializes.
# ---------------------------------------------------------------------------


def lifecycle_features(ev: DataFrame) -> DataFrame:
    """The streaming-safe feature subset over any events frame — the
    aggregate expressions come verbatim from the batch feature table
    (events_features.lifecycle_agg_cols), so the overlap cannot
    drift."""
    return ev.groupBy("user_id").agg(*lifecycle_agg_cols())


@register(
    "evt_stream_user_lifecycle",
    oracle=f"""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               strftime(MIN(ts), '{TS_FMT_DUCK}') AS first_ts,
               strftime(MAX(ts), '{TS_FMT_DUCK}') AS last_ts,
               epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS tenure_us,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN {CENTS_SQL} ELSE 0 END) AS BIGINT)
                   AS purchase_cents
        FROM events GROUP BY user_id
    """,
    tags=("streaming", "events", "features", "agg"),
    side_effects=True,
)
def evt_stream_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live user dimension: per-user lifecycle features maintained
    as complete-mode streaming state; availableNow over the fixture
    makes the final table equal the batch derivation the oracle
    re-computes."""
    return _run_to_memory(
        lifecycle_features(stream_events(spark, sf_dir)), "complete"
    )


def batch_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin (same shared builder) for the stream==batch test."""
    return lifecycle_features(table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Streaming new-user attribution (round 9) — the second custom
# stateful operator (after the sessionizer/tracker in events.py), and
# the live half of evt_growth_accounting's n_new column: WHICH day each
# user first appeared is genuinely stateful (a plain streaming aggregate
# can count per day, but "first ever" needs per-user memory), so the
# operator carries first-seen microseconds in the state store via
# applyInPandasWithState and emits a (user_id, first_seen) row whenever
# the known first-seen moves EARLIER (i.e. on first encounter, and again
# if an out-of-order earlier slice arrives).  The update-mode memory
# sink accumulates every emission; the post-sink roll-up takes MIN per
# user before counting per day, so the final table equals the batch
# derivation regardless of how slices were batched or ordered — no
# watermark race to reason about.
#
# Scale posture: state is ONE BIGINT per user, keyed on user_id (the
# shuffle/bucket key); each batch updates O(1) state per key with Arrow
# batch transfer; emissions are at most one row per (user, batch) and
# exactly one per user in the common in-order case.
#
# Gated by a per-day first-seen oracle over the batch table, plus a
# direct equality test against evt_growth_accounting's n_new column.
# ---------------------------------------------------------------------------


_GROWTH_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("first_seen", T.TimestampType()),
    ]
)

_GROWTH_STATE_SCHEMA = T.StructType([T.StructField("first_us", T.LongType())])


def _track_first_seen(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Emit (user, first_seen) when the known first-seen moves earlier."""
    known = state.get[0] if state.exists else None
    batch_min = None
    for pdf in batches:
        m = int(ts_us(pdf["ts"]).min())
        batch_min = m if batch_min is None else min(batch_min, m)
    if batch_min is not None and (known is None or batch_min < known):
        state.update((batch_min,))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "first_seen": [pd.Timestamp(batch_min, unit="us")],
            }
        )


@register(
    "evt_stream_new_users",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   MIN(strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS day
            FROM events GROUP BY user_id
        )
        SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new
        FROM firsts GROUP BY day
    """,
    tags=("streaming", "events", "stateful"),
    side_effects=True,
)
def evt_stream_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per day, how many users appeared for the FIRST time — maintained
    live by the stateful first-seen tracker; the post-sink MIN-per-user
    roll-up makes the result independent of micro-batch slicing and
    arrival order."""
    events = stream_events(spark, sf_dir).select("user_id", "ts")
    tracked = events.groupBy("user_id").applyInPandasWithState(
        _track_first_seen,
        outputStructType=_GROWTH_OUTPUT_SCHEMA,
        stateStructType=_GROWTH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = _run_to_memory(tracked, "update")
    firsts = emitted.groupBy("user_id").agg(
        F.min("first_seen").alias("first_seen")
    )
    return firsts.groupBy(
        F.date_format("first_seen", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_new"))


# ---------------------------------------------------------------------------
# Streaming last-touch attribution (round 10) — the live twin of
# operators/events.evt_purchase_attribution and the THIRD custom
# stateful operator (after the sessionizer and the first-seen tracker):
# the carried "last preceding touch" is genuinely stateful (a streaming
# aggregate cannot look backwards in the stream), so per-user state holds
# the latest non-purchase event seen — (ts_us, event_id, event_type),
# three scalars — and every purchase is emitted exactly once, credited at
# the moment it flows past, via applyInPandasWithState.
#
# Ordering contract (documented, not assumed silently): attribution is a
# PREFIX property, so the emitted rows equal the batch derivation for any
# micro-batch SLICING of a per-user time-ordered feed (the Kafka
# partition-key ordering guarantee; each batch is walked in (ts,
# event_id) order and state carries across batches).  A feed that
# reorders a user's events ACROSS batches changes what "preceding" meant
# at emission time — that repair path is the batch derivation, exactly
# like the SCD2 sink's out-of-order backfill contract
# (operators/scd.py).  The carried touch is nonetheless MONOTONE
# (r12, VERDICT r11 #4): a late micro-batch whose touches all precede the
# stored one can never move state backwards — adoption compares (ts_us,
# event_id) against the carried tuple — so out-of-contract feeds degrade
# to stale-but-never-regressing credit instead of silent corruption.
#
# Gated by the batch query's oracle VERBATIM (stream == batch is the
# claim) plus a multi-slicing equality test.
#
# Scale posture: state is three scalars per user keyed on user_id (the
# shuffle/bucket key), updated once per (user, batch) with Arrow batch
# transfer; emissions are purchase-count-sized, append-mode (each row
# final), and the post-sink rollup aggregates five touch types.
# ---------------------------------------------------------------------------


_ATTRIB_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("cents", T.LongType()),
        T.StructField("touch_type", T.StringType()),
    ]
)

#: latest non-purchase event seen for this user, in (ts_us, event_id)
#: total order; absent until the first touch arrives
_ATTRIB_STATE_SCHEMA = T.StructType(
    [
        T.StructField("touch_us", T.LongType()),
        T.StructField("touch_eid", T.LongType()),
        T.StructField("touch_type", T.StringType()),
    ]
)


def _attribute(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Walk the user's rows in (ts, event_id) order, carrying the last
    touch across batches; emit one row per purchase."""
    # the carried touch in (ts_us, event_id) total order; (-1, -1) sorts
    # before every real event so the first touch always wins
    if state.exists:
        touch_us, touch_eid, touch_type = state.get
    else:
        touch_us, touch_eid, touch_type = -1, -1, None
    touch_moved = False
    out_eid: list[int] = []
    out_cents: list[int] = []
    out_touch: list[str | None] = []
    # applyInPandasWithState delivers one micro-batch group as MULTIPLE
    # Arrow chunks whose relative order is input order (chunk size =
    # spark.sql.execution.arrow.maxRecordsPerBatch) — sorting each chunk
    # independently is NOT a total order over the group (advisory r10:
    # a >10k-row user could credit a purchase to a later-timestamped
    # touch).  Concatenate first, sort ONCE, then walk.
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True)
        pdf = pdf.assign(ts_us=ts_us(pdf["ts"])).sort_values(
            ["ts_us", "event_id"]
        )
        for r in pdf.itertuples(index=False):
            if r.event_type == "purchase":
                out_eid.append(int(r.event_id))
                out_cents.append(int(r.cents))
                out_touch.append(touch_type)
            else:
                # monotone adoption (VERDICT r11 #4): a late micro-batch
                # whose touches precede the carried one must not move
                # state (or crediting) backwards — adopt only strictly
                # newer touches in (ts_us, event_id) order.  For an
                # in-order feed the comparison is always true, so the
                # prefix-property contract is unchanged.
                if (int(r.ts_us), int(r.event_id)) > (touch_us, touch_eid):
                    touch_us, touch_eid = int(r.ts_us), int(r.event_id)
                    touch_type = str(r.event_type)
                    touch_moved = True
    if touch_moved:
        state.update((touch_us, touch_eid, touch_type))
    if out_eid:
        yield pd.DataFrame(
            {
                "event_id": out_eid,
                "cents": out_cents,
                "touch_type": pd.array(out_touch, dtype="object"),
            }
        )


@register(
    "evt_stream_attribution",
    # the batch query's oracle verbatim — stream == batch is the claim
    oracle=ATTRIB_ORACLE_SQL,
    tags=("streaming", "events", "stateful"),
    side_effects=True,
)
def evt_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution maintained live: per-user stateful carry
    of the latest touch, one append-mode emission per purchase, then
    the five-type rollup post-sink — equals the batch window derivation
    for any slicing of an in-order feed."""
    ev = stream_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", cents_col().alias("cents")
    )
    attributed = ev.groupBy("user_id").applyInPandasWithState(
        _attribute,
        outputStructType=_ATTRIB_OUTPUT_SCHEMA,
        stateStructType=_ATTRIB_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = _run_to_memory(attributed, "append")
    return emitted.groupBy(
        F.coalesce("touch_type", F.lit("organic")).alias("touch_type")
    ).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("cents").alias("attributed_cents"),
    )


# ---------------------------------------------------------------------------
# Streaming step-deadline funnel (round 13) — the live twin of
# operators/events.evt_funnel_steps and the FIFTH custom
# stateful operator (sessionizer, first-seen tracker, last-touch
# attribution, multi-touch path buffer, now the funnel step clock).
#
# Step attainment is MONOTONE: once a user's first signup is seen, the
# fact "reached step 1" never retracts, and likewise for the qualifying
# click/purchase — so the kernel emits one (user_id, step) row at the
# moment each step is newly attained (append mode, final) and the
# post-sink rollup just counts rows per step.  Unlike the MTA path
# buffer there is nothing to cap: state is two BIGINT timestamps + one
# boolean per user, O(1) BY CONSTRUCTION — the shape every
# applyInPandasWithState operator should reach for first.
#
# Ordering contract: identical to streaming/events.py — emissions equal the
# batch derivation for any micro-batch SLICING of a per-user
# time-ordered feed (each batch walked in (ts, event_id) order, the step
# clock carried across batches).  A cross-batch REORDERED feed can
# change which signup/click is "first"; the repair is the batch
# derivation — there is no monotone shortcut for a funnel whose step-2
# deadline anchors to the step-1 time.  Since r14 the contract is
# ENFORCED, not just stated (VERDICT r13 #2): state carries the
# per-user high-water (ts_us, event_id) mark and a batch whose first
# sorted row sits at or below it raises OutOfOrderFeedError instead of
# silently mis-clocking.  Replay is safe — the state store rolls back
# with the batch (see the exception's docstring in streaming/core.py).
#
# Gated by the batch query's oracle VERBATIM (stream == batch is the
# claim).
#
# Scale posture: state is (t1_us, t2_us, done) on the user_id bucket
# key; emissions are at most three rows per user ever; Arrow batch
# transfer; the post-sink rollup is a single-row aggregate.
# ---------------------------------------------------------------------------


_FUNNEL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("step", T.IntegerType()),
    ]
)

#: the funnel clock: first-signup us, qualifying-click us (both -1 =
#: not reached), purchase-attained flag — O(1) per user, no cap needed
#: — plus the high-water (ts_us, event_id) mark of the last event
#: walked (-1/-1 = none yet), the out-of-order detector (r14)
_FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("t1_us", T.LongType()),
        T.StructField("t2_us", T.LongType()),
        T.StructField("done", T.BooleanType()),
        T.StructField("hw_us", T.LongType()),
        T.StructField("hw_eid", T.LongType()),
    ]
)

_UNSET = -1


def _advance_funnel(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Walk the user's rows in (ts, event_id) order, advancing the
    step clock; emit (user_id, step) once per newly-attained step."""
    t1, t2, done, hw_us, hw_eid = (
        state.get if state.exists else (_UNSET, _UNSET, False, -1, -1)
    )
    steps: list[int] = []
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True)
        pdf = pdf.assign(us=ts_us(pdf["ts"])).sort_values(["us", "event_id"])
        # out-of-order detector: the batch is sorted, so the whole
        # batch sits above the mark iff its FIRST row does (the mark
        # rolls back with the state store on replay — see
        # OutOfOrderFeedError's docstring)
        first = pdf.iloc[0]
        lo = (int(first["us"]), int(first["event_id"]))
        if lo <= (hw_us, hw_eid):
            raise OutOfOrderFeedError("funnel", key, lo, (hw_us, hw_eid))
        # and WITHIN the batch: event_id is unique in the feed
        # contract, so an equal (us, event_id) pair is a duplicate
        # redelivery the cross-batch mark can't see (r14 self-review)
        dup = pdf.duplicated(subset=["us", "event_id"])
        if dup.any():
            d = pdf[dup].iloc[0]
            raise OutOfOrderFeedError(
                "funnel",
                key,
                (int(d["us"]), int(d["event_id"])),
                (hw_us, hw_eid),
                reason="duplicated within one micro-batch",
            )
        last = pdf.iloc[-1]
        hw_us, hw_eid = int(last["us"]), int(last["event_id"])
        for r in pdf.itertuples(index=False):
            us = int(r.us)
            if t1 == _UNSET:
                if r.event_type == "signup":
                    t1 = us
                    steps.append(1)
            elif t2 == _UNSET:
                if (
                    r.event_type == "click"
                    and t1 < us <= t1 + STEP_WINDOW_US
                ):
                    t2 = us
                    steps.append(2)
            elif not done:
                if (
                    r.event_type == "purchase"
                    and t2 < us <= t2 + STEP_WINDOW_US
                ):
                    done = True
                    steps.append(3)
    state.update((t1, t2, done, hw_us, hw_eid))
    if steps:
        yield pd.DataFrame({"user_id": [key[0]] * len(steps), "step": steps})


@register(
    "evt_stream_funnel_steps",
    # the batch query's oracle verbatim — stream == batch is the claim
    oracle=_FUNNEL_STEPS_ORACLE_SQL,
    tags=("streaming", "events", "stateful"),
    side_effects=True,
)
def evt_stream_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signup -> click(+6h) -> purchase(+6h) funnel maintained
    live: one append-final (user, step) emission per attained step,
    single-row conversion rollup post-sink — equals the batch
    derivation for any slicing of an in-order feed."""
    ev = stream_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    attained = ev.groupBy("user_id").applyInPandasWithState(
        _advance_funnel,
        outputStructType=_FUNNEL_OUTPUT_SCHEMA,
        stateStructType=_FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = _run_to_memory(attained, "append")
    # coalesce(0): a feed with no signups emits nothing, and SUM over
    # the empty memory table is NULL while the oracle counts zeros
    # (r13 review finding)
    counts = emitted.agg(
        F.coalesce(F.sum(F.when(F.col("step") == 1, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_signup"),
        F.coalesce(F.sum(F.when(F.col("step") == 2, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_click_6h"),
        F.coalesce(F.sum(F.when(F.col("step") == 3, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_purchase_6h"),
    )
    return counts.select(
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
# Streaming multi-touch (linear) attribution (round 12) — the live
# twin of operators/events.evt_multi_touch_attribution and the FOURTH
# custom stateful operator (sessionizer, first-seen tracker, last-touch
# attribution, now the path buffer): linear credit needs the purchase's
# whole conversion PATH at emission time, so per-user state carries the
# ordered touch-type path since the user's previous purchase —
# \x1f-joined in one string column.
#
# The buffer is BOUNDED (r13, VERDICT r12 #3): the path holds at most
# MTA_PATH_CAP touches and degrades to last-MTA_PATH_CAP-touch credit
# beyond that — a purchase-free user (exactly the behavior
# evt_bot_regularity flags) grows state to the cap and stops, instead of
# without bound.  The cap (512) sits an order of magnitude above any
# organic inter-purchase run in the fixtures (max observed 45 at sf0.1),
# so stream == batch holds verbatim on real paths; only adversarial
# volumes degrade, deterministically (tests pin both sides of the cap).
#
# On each purchase the kernel emits the purchase's credit rows — one per
# path touch (cents div k, remainder to the last touch) or one 'organic'
# row for an empty path — and RESETS the path.  Emissions are final
# (append mode); the post-sink rollup is the same five-type aggregate as
# the batch query.
#
# Ordering contract: identical to streaming/events.py — the emitted rows
# equal the batch derivation for any micro-batch SLICING of a per-user
# time-ordered feed (each batch walked in (ts, event_id) order, path
# carried across batches).  Cross-batch reordering changes what "the
# path" meant at emission; the repair is the batch derivation.  Unlike
# last-touch there is no monotone shortcut for a reordered path — an
# out-of-order touch belongs in the MIDDLE of a path — so the contract
# stays prefix-only, and since r14 it is ENFORCED, not just stated
# (VERDICT r13 #2, the scd.py pattern brought inside the kernel):
# state carries the per-user high-water (ts_us, event_id) mark, and a
# batch whose first sorted row sits at or below it raises
# OutOfOrderFeedError instead of silently mis-crediting.  Replay is
# safe — the state store rolls back with the batch (see the exception's
# docstring in streaming/core.py).
#
# Gated by the batch query's oracle VERBATIM (stream == batch is the
# claim).
#
# Scale posture: state is one string + its length per user on the
# user_id bucket key; emissions are (purchases x path length)-sized;
# Arrow batch transfer; post-sink rollup five keys.
# ---------------------------------------------------------------------------


_SEP = "\x1f"

#: per-user path-buffer bound: last-K-touch degrade beyond this many
#: touches since the previous purchase.  Far above organic runs (the
#: sf0.1 fixture maxes at 45), so the under-cap path — byte-identical
#: to the batch derivation — is the one real users take; state is
#: bounded at ~cap x touch-type-width bytes per user either way.
MTA_PATH_CAP = 512

_MTA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("touch_type", T.StringType()),
        T.StructField("credit", T.LongType()),
    ]
)

#: the ordered touch-type path since the last purchase, \x1f-joined
#: ('' = empty path), plus its length (avoids re-splitting to count),
#: plus the high-water (ts_us, event_id) mark of the last event walked
#: (-1/-1 = none yet) — the out-of-order detector (VERDICT r13 #2)
_MTA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("path_len", T.LongType()),
        T.StructField("hw_us", T.LongType()),
        T.StructField("hw_eid", T.LongType()),
    ]
)


def _credit_path(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Walk the user's rows in (ts, event_id) order, carrying the path
    since the last purchase; emit the credit rows per purchase."""
    from collections import deque

    if state.exists:
        path_s, _n, hw_us, hw_eid = state.get
        prior = path_s.split(_SEP) if path_s else []
    else:
        prior, hw_us, hw_eid = [], -1, -1
    # maxlen enforces the last-K-touch degrade as appends arrive
    path: deque[str] = deque(prior, maxlen=MTA_PATH_CAP)
    out_type: list[str] = []
    out_credit: list[int] = []
    # concat-then-sort-once across Arrow chunks (the events.py lesson:
    # per-chunk sorting is not a total order over the group)
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True)
        pdf = pdf.assign(ts_us=ts_us(pdf["ts"])).sort_values(
            ["ts_us", "event_id"]
        )
        # out-of-order detector: the batch is sorted, so the whole
        # batch sits above the mark iff its FIRST row does (the mark
        # rolls back with the state store on replay — see
        # OutOfOrderFeedError's docstring)
        first = pdf.iloc[0]
        lo = (int(first["ts_us"]), int(first["event_id"]))
        if lo <= (hw_us, hw_eid):
            raise OutOfOrderFeedError("mta", key, lo, (hw_us, hw_eid))
        # and WITHIN the batch: event_id is unique in the feed
        # contract, so an equal (ts_us, event_id) pair is a duplicate
        # redelivery the cross-batch mark can't see (r14 self-review)
        dup = pdf.duplicated(subset=["ts_us", "event_id"])
        if dup.any():
            d = pdf[dup].iloc[0]
            raise OutOfOrderFeedError(
                "mta",
                key,
                (int(d["ts_us"]), int(d["event_id"])),
                (hw_us, hw_eid),
                reason="duplicated within one micro-batch",
            )
        last = pdf.iloc[-1]
        hw_us, hw_eid = int(last["ts_us"]), int(last["event_id"])
        for r in pdf.itertuples(index=False):
            if r.event_type == "purchase":
                cents = int(r.cents)
                k = len(path)
                if k == 0:
                    out_type.append("organic")
                    out_credit.append(cents)
                else:
                    # truncate-toward-zero div/rem (ADVICE r12: Python
                    # divmod FLOORS, but Spark div/% and DuckDB /// %
                    # truncate — equal only for cents >= 0, and a
                    # refund-style negative value must not break
                    # stream == batch)
                    base = cents // k if cents >= 0 else -((-cents) // k)
                    rem = cents - base * k
                    for i, t in enumerate(path):
                        out_type.append(t)
                        out_credit.append(base + (rem if i == k - 1 else 0))
                path.clear()
            else:
                path.append(str(r.event_type))
    state.update((_SEP.join(path), len(path), hw_us, hw_eid))
    if out_type:
        yield pd.DataFrame({"touch_type": out_type, "credit": out_credit})


@register(
    "evt_stream_multi_touch",
    # the batch query's oracle verbatim — stream == batch is the claim
    oracle=MTA_ORACLE_SQL,
    tags=("streaming", "events", "stateful"),
    side_effects=True,
)
def evt_stream_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution maintained live: per-user path
    buffer in the state store, credit rows emitted at each purchase
    (append mode, final), five-type rollup post-sink — equals the batch
    derivation for any slicing of an in-order feed."""
    ev = stream_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", cents_col().alias("cents")
    )
    credited = ev.groupBy("user_id").applyInPandasWithState(
        _credit_path,
        outputStructType=_MTA_OUTPUT_SCHEMA,
        stateStructType=_MTA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = _run_to_memory(credited, "append")
    return emitted.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_credits"),
        F.sum("credit").cast("long").alias("credited_cents"),
    )


# ---------------------------------------------------------------------------
# Streaming deduplication — exact dedup at ingest time, the streaming
# twin of operators/dedup.dedup_exact. `dropDuplicatesWithinWatermark`
# over a watermarked stream keeps one row per key in the state store and
# expires that key's state once the watermark passes its first-seen event
# time (bounded state: only keys seen within the delay window are
# retained — the standard exactly-once ingest-dedup pattern for a feed
# that can redeliver).
#
# Why not plain `dropDuplicates(keys)`: when the event-time column is NOT
# part of the dedup key subset, `dropDuplicates` never evicts — Spark only
# purges dedup state when the watermark column is one of the keys — so on
# an unbounded redelivering feed state grows without bound (ADVICE r2 #1).
# `dropDuplicatesWithinWatermark` exists precisely for this case: dedup on
# a key subset with eviction driven by the stream's watermark. Semantics:
# duplicates are guaranteed dropped when they arrive within the watermark
# delay of the first sighting — redeliveries later than the delay can
# resurface, which is the correct contract for at-least-once feeds whose
# redelivery lag is bounded by the delay.
#
# Demo keys on (user_id, event_type, value) — the events table has no
# natural duplicate key, so the test dedups a stream of REDELIVERED events
# (the same file read twice via two globs) and asserts the result equals
# the batch distinct.
# ---------------------------------------------------------------------------


DEDUP_KEYS = ["user_id", "event_type", "value_cents"]


def _keyed(events: DataFrame) -> DataFrame:
    from bigbugdata_spark.functions.fragments import cents_col as _cents_col

    return events.select(
        "user_id",
        "event_type",
        _cents_col().alias("value_cents"),
        "ts",
    )


@register(
    "evt_stream_dedup",
    # the cents convention comes from the shared fragment so a change
    # there can never silently diverge from _keyed's cents_col()
    oracle=f"""
        SELECT DISTINCT user_id, event_type,
               {CENTS_SQL} AS value_cents
        FROM events
    """,
    tags=("streaming", "dedup"),
    side_effects=True,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup: one surviving row per key, with key
    state evicted once the watermark passes 10 minutes beyond the key's
    first event time — bounded state on an unbounded feed (see module
    docstring for why dropDuplicatesWithinWatermark, not
    dropDuplicates)."""
    events = _keyed(stream_events(spark, sf_dir))
    deduped = events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        DEDUP_KEYS
    )
    return _run_to_memory(deduped.select(*DEDUP_KEYS), "append")


def batch_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch equivalent the test compares against."""
    from bigbugdata_spark.catalog import table

    return _keyed(table(spark, sf_dir, "events")).select(*DEDUP_KEYS).distinct()
