"""Streaming value quantiles (round 11) — the tail-latency/value pager
live: exact p50/p90/p99 cents per event type maintained from the
stream, completing the histogram-state pattern family (drift,
freshness, seasonality, MAD).  The ONLY pass over raw events is the
(event_type, cents) -> count aggregate — a streaming-safe complete-mode
grouped aggregate — and the rank selection reads the final histogram
post-sink: the value at rank ceil(q*n) under (cents) order is
determined by the cents multiset alone, so it can be read off
cumulative counts (the events_mad argument, generalized to any
quantile).  Gated by the BATCH query's oracle verbatim
(evt_value_quantiles — stream == batch is the claim).

Scale posture: state is one BIGINT per distinct (type, cents) cell —
value-domain bounded, not event-count bounded; the post-sink windows
run over histogram rows.  No watermark (the histogram never drops
keys); production swaps the memory sink for a foreachBatch overwrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigbugdata_spark.functions.fragments import cents_col
#: the batch twin's oracle, verbatim
from bigbugdata_spark.operators.events import (
    QUANTILES_ORACLE_SQL as _QUANTILES_ORACLE,
)
from bigbugdata_spark.registry import register
from bigbugdata_spark.streaming.core import _run_to_memory, stream_events


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
    oracle=_QUANTILES_ORACLE,
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
