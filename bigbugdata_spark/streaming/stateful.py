"""Custom stateful streaming operator via applyInPandasWithState — the
escape hatch for semantics the built-in window operators can't express
(SURVEY.md §7 phase 3). Demo operator: per-user running engagement
tracker (event count, centi-value total, last-seen timestamp) carried in
the state store across micro-batches, emitted per batch in update mode.

Why this shape: state is keyed by user_id (the shuffle key), each batch's
rows arrive as Arrow-backed pandas frames, and the operator updates O(1)
state per key — bounded state, horizontally scalable, no driver
involvement. A production sessionizer adds EventTimeTimeout to close and
emit sessions when the watermark passes; the running-total form keeps the
demo deterministic under the availableNow trigger (no timeout races), and
the event-time session semantics themselves are already covered —
exactly — by evt_session_window's merge-window formulation."""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from bigbugdata_spark.functions.fragments import TS_FMT, TS_FMT_DUCK
from bigbugdata_spark.registry import register
from bigbugdata_spark.streaming.core import _run_to_memory, stream_events
from bigbugdata_spark.streaming.core import ts_us as _ts_us


_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_cents", T.LongType()),
        T.StructField("last_seen", T.TimestampType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("value_cents", T.LongType()),
        T.StructField("last_seen_us", T.LongType()),
    ]
)


def _track_user(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this batch's events for one user into the carried state and
    emit the updated running totals."""
    n, cents, last_us = state.get if state.exists else (0, 0, 0)
    for pdf in batches:
        n += len(pdf)
        # floor(x+0.5): HALF-AWAY rounding for the positive cent values,
        # matching Spark F.round / DuckDB ROUND — pandas .round() is
        # half-to-even and would diverge on exact .5 ties
        cents += int((pdf["value"].mul(100) + 0.5).astype("int64").sum())
        batch_max_us = int(_ts_us(pdf["ts"]).max())
        last_us = max(last_us, batch_max_us)
    state.update((n, cents, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "value_cents": [cents],
            "last_seen": [pd.Timestamp(last_us, unit="us")],
        }
    )


def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful tracker over the events stream to completion and
    return the final per-user totals (one batch under availableNow ->
    one output row per user)."""
    events = stream_events(spark, sf_dir).select("user_id", "ts", "value")
    tracked = events.groupBy("user_id").applyInPandasWithState(
        _track_user,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(tracked, "update")


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
        ts_list.extend(int(v) for v in _ts_us(pdf["ts"]))
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


_WM_DELAY = "10 minutes"


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
