"""SCD2 state-history derivation core, shared by the batch query
(operators/scd.py), the streaming maintenance twin
(streaming/scd_sink.py) and the as-of/CDC consumers
(operators/events_state.py).  Everything here is pure builders + oracle
SQL.

No analog in the reference (SURVEY §2.1 — no window functions, no state
modeling); warehouse-governance extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigbugdata_spark.functions.fragments import (
    TS_FMT as _TS_FMT,
    TS_FMT_DUCK as _TS_FMT_DUCK,
)

# Shared by the registered batch query (operators/scd.py) AND the
# streaming incremental twin (streaming/scd_sink.py): the maintained run
# table must reproduce the batch derivation exactly, so both carry the
# same hash-exact oracle.
SCD2_ORACLE_SQL = f"""
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
                   MIN(ts) AS vf,
                   MIN(event_id) AS first_eid,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM seq GROUP BY user_id, event_type, island
        )
        SELECT user_id, state,
               strftime(vf, '{_TS_FMT_DUCK}') AS valid_from,
               strftime(LEAD(vf) OVER hist, '{_TS_FMT_DUCK}') AS valid_to,
               n_events,
               CAST(LEAD(vf) OVER hist IS NULL AS INT) AS is_current
        FROM runs
        WINDOW hist AS (PARTITION BY user_id ORDER BY vf, first_eid)
"""


def state_history_from_events(ev: DataFrame) -> DataFrame:
    """The SCD2 derivation over any frame with the events schema —
    shared by the registered batch query (operators/scd.py) and the
    streaming foreachBatch maintenance twin (streaming/scd_sink.py),
    which maintains the RUN SET incrementally and formats through the
    same presentation step, so the two paths cannot diverge in
    contract."""
    return format_runs(runs_from_events(ev))


def runs_from_events(ev: DataFrame) -> DataFrame:
    """Collapse an event frame into state RUNS — (user_id, state, vf,
    first_eid, n_events), one row per maximal same-state stretch per
    user — via gaps-and-islands numbering (row_number difference is
    run-constant). This run set is the MAINTAINED STATE of the
    incremental twin: runs merge associatively across time-ordered
    event slices (only a slice's first run can fuse with the previous
    slice's last run), which is what makes per-micro-batch maintenance
    sound."""
    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    type_w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        (F.row_number().over(seq_w) - F.row_number().over(type_w)).alias("island"),
    )
    return (
        seq.groupBy("user_id", F.col("event_type").alias("state"), "island")
        .agg(
            F.min("ts").alias("vf"),
            F.min("event_id").alias("first_eid"),
            F.count(F.lit(1)).alias("n_events"),
            # (last_ts, last_eid) = the run's max event under the SAME
            # (ts, event_id) total order every window here uses; carried
            # for the incremental twin's replay idempotency (a run only
            # ever absorbs strictly later events, so a stored run whose
            # last event already covers the batch's means "applied" —
            # guarding on raw event_id alone would mis-drop genuine
            # continuations if ids ever stop tracking time order).
            # format_runs ignores both.
            F.max(F.struct("ts", "event_id")).alias("_last"),
        )
        .select(
            "user_id",
            "state",
            "vf",
            "first_eid",
            "n_events",
            F.col("_last.ts").alias("last_ts"),
            F.col("_last.event_id").alias("last_eid"),
        )
    )


def format_runs(runs: DataFrame) -> DataFrame:
    """Present a run set as the SCD2 contract: valid_to chains to the
    next run's valid_from (LEAD over the total-order (vf, first_eid)),
    the open-ended last run is current, timestamps format to strings."""
    hist = Window.partitionBy("user_id").orderBy("vf", "first_eid")
    nxt = F.lead("vf").over(hist)
    return runs.select(
        "user_id",
        "state",
        F.date_format("vf", _TS_FMT).alias("valid_from"),
        F.date_format(nxt, _TS_FMT).alias("valid_to"),
        "n_events",
        nxt.isNull().cast("int").alias("is_current"),
    )
