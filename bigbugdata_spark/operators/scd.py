"""Slowly-changing-dimension (SCD2) state history — deriving the
"what state was this user in at time T" validity-interval table from the
append-only event log. The shared derivation (runs_from_events /
format_runs / the oracle SQL) lives in operators/scd_core.py, which the
streaming maintenance twin (streaming/scd_sink.py) and the as-of/CDC
consumers (operators/events_state.py) also build on; the registration
here is the thin batch entry.

No analog in the reference (SURVEY §2.1 — no window functions, no state
modeling); this is warehouse-governance extension surface like dq.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bigbugdata_spark.catalog import table
from bigbugdata_spark.operators.scd_core import (
    SCD2_ORACLE_SQL,
    format_runs,
    runs_from_events,
    state_history_from_events,
)
from bigbugdata_spark.registry import register

__all__ = [
    "SCD2_ORACLE_SQL",
    "evt_user_state_history",
    "format_runs",
    "runs_from_events",
    "state_history_from_events",
]


@register(
    "evt_user_state_history",
    oracle=SCD2_ORACLE_SQL,
    tags=("events", "window"),
)
def evt_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style state history from an event log: consecutive runs of
    the same event_type per user collapse into one validity interval
    (valid_from = first event of the run, valid_to = start of the next
    run, NULL + is_current=1 on the open-ended last state) — the
    slowly-changing-dimension type-2 table a warehouse maintains for
    "what state was this user in at time T" queries, derived here
    directly from the append-only log with gaps-and-islands numbering
    (row_number difference is run-constant).

    Determinism discipline: all orderings carry TOTAL-order tiebreaks —
    (ts, event_id) for the numbering windows, (vf, first event_id of
    the run) for the history order, so same-instant runs still sort by
    actual event order (a state-name tiebreak would be nondeterministic
    in spirit: it could mark the semantically earlier state current);
    timestamps format to strings on both sides; is_current is an INT.

    Scale: ONE shuffle on user_id serves both row_number windows (the
    second adds event_type to the PARTITION BY — a subset repartition
    Spark evaluates within the same exchange), the run collapse is a
    map-side-combinable aggregate on (user, type, island), and the
    valid_to LEAD re-sorts runs-per-user without a second exchange.
    State rows ~ number of state CHANGES, so the output is
    change-bounded, not event-bounded — at 100 TB that is the point of
    materializing it."""
    ev = table(spark, sf_dir, "events")
    return state_history_from_events(ev)
