"""Streaming freshness monitor (round 9) — the continuous twin of
operators/dq_fresh.dq_freshness for the one feed that actually streams:
the events ingest keeps MAX(ts) as complete-mode state (one row, the
smallest streaming state there is), and the staleness card row derives
from it post-sink through the SAME finish_freshness tail the batch
audit uses — one expression tree, so the pager and the nightly audit
cannot disagree about what "stale" means.

With availableNow over the fixture the final state equals the batch
MAX, so the events branch of the batch oracle gates the stream
verbatim (the dq_stream_distribution_drift pattern).

Scale posture: state is ONE timestamp; no watermark (a global MAX
never drops anything); production swaps the memory sink for a
foreachBatch overwrite of the one-row card (trivially idempotent under
replay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.operators.dq_fresh import (
    FRESHNESS_FEEDS,
    feed_sql,
    finish_freshness,
)
from bigbugdata_spark.registry import register
from bigbugdata_spark.streaming.core import _run_to_memory, stream_events

_EVENTS_FEED = FRESHNESS_FEEDS[0]  # ("events", "ts", anchor, sla)


@register(
    "dq_stream_freshness",
    # the batch audit's events branch verbatim — stream == batch
    oracle=feed_sql(*_EVENTS_FEED),
    tags=("streaming", "dq", "agg"),
    side_effects=True,
)
def dq_stream_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The freshness pager live: ingest the events fixture with
    availableNow, hold MAX(ts) as one-row complete-mode state, derive
    lag/SLA-flag through the shared batch tail."""
    tbl, col, anchor, sla = _EVENTS_FEED
    mx = _run_to_memory(
        stream_events(spark, sf_dir).agg(
            F.max(F.col(col).cast("timestamp")).alias("max_ts_raw")
        ),
        "complete",
    )
    return finish_freshness(mx, tbl, anchor, sla)
