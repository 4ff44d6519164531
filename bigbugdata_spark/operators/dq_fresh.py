"""Data-freshness audit (round 8) — the last leg of the dq monitoring
family (volume anomaly, mix drift, PK uniqueness, referential
integrity): is each time-bearing feed STALE? Every production pipeline
pages on exactly this table — "events last landed 47 hours ago".

No analog in the reference (SURVEY §2.1); dq extension surface.

Both time-bearing tables are audited against fixed per-feed anchors
(the fixture's "now"), with per-feed staleness SLAs. The fixture
exercises BOTH flag values live: events' max ts sits within a day of
its anchor (fresh), while the orders feed is a month behind its
anchor (stale) — no planted fixture needed.

Determinism discipline: lag is integer microseconds -> integer-divided
to whole hours (both engines' integer div truncates toward zero on
positive values); the flag compares BIGINTs. max-timestamp strings
format through the repo's pinned TS_FMT.

Scale posture: one MAX aggregate per feed — at 100 TB over the
date-partitioned lake this is partition-metadata-sized work (the max
lives in the newest partition), and the output is feeds-sized.

The feed table, the per-feed SQL fragment and the finish tail are shared
with the live monitor, streaming/freshness.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions.fragments import TS_FMT, TS_FMT_DUCK
from bigbugdata_spark.registry import register

US_PER_HOUR = 3_600_000_000

# (feed, ts column, anchor "now", staleness SLA in hours)
FRESHNESS_FEEDS = (
    ("events", "ts", "2024-01-31 00:00:00", 24),
    ("orders", "o_orderdate", "2001-09-01 00:00:00", 168),
)


def feed_sql(tbl: str, col: str, anchor: str, sla: int) -> str:
    """One feed's freshness row as DuckDB SQL (shared between the batch
    audit's oracle and the live monitor's)."""
    return f"""
    SELECT '{tbl}' AS feed,
           strftime(MAX({col}), '{TS_FMT_DUCK}') AS max_ts,
           (epoch_us(TIMESTAMP '{anchor}') - epoch_us(MAX({col})))
               // {US_PER_HOUR} AS lag_hours,
           CAST((epoch_us(TIMESTAMP '{anchor}') - epoch_us(MAX({col})))
               // {US_PER_HOUR} > {sla} AS INT) AS is_stale
    FROM {tbl}
    """


def finish_freshness(
    agg: "DataFrame", tbl: str, anchor: str, sla: int
) -> "DataFrame":
    """Freshness card row from a one-row MAX aggregate (column
    max_ts_raw) — the shared tail of the batch audit and the live
    streaming monitor, so the two cannot drift."""
    lag_hours = F.expr(
        f"(unix_micros(TIMESTAMP '{anchor}') - unix_micros(max_ts_raw))"
        f" div {US_PER_HOUR}"
    )
    return agg.select(
        F.lit(tbl).alias("feed"),
        F.date_format("max_ts_raw", TS_FMT).alias("max_ts"),
        lag_hours.alias("lag_hours"),
        (lag_hours > sla).cast("int").alias("is_stale"),
    )


_FRESH_SQL = "\nUNION ALL\n".join(
    feed_sql(tbl, col, anchor, sla)
    for tbl, col, anchor, sla in FRESHNESS_FEEDS
)


@register(
    "dq_freshness",
    oracle=_FRESH_SQL,
    tags=("dq", "agg"),
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per time-bearing feed: newest record timestamp, whole-hour lag
    behind the feed's anchor, and the SLA staleness flag."""
    parts = []
    for tbl, col, anchor, sla in FRESHNESS_FEEDS:
        # SQL `div` (in finish_freshness) = integer division
        # (truncating), matching DuckDB //
        agg = (
            table(spark, sf_dir, tbl)
            # orders' o_orderdate lands as TIMESTAMP_NTZ; under the
            # pinned UTC session zone the cast is instant-preserving
            # (events come pre-normalized by catalog.table)
            .agg(F.max(F.col(col).cast("timestamp")).alias("max_ts_raw"))
        )
        parts.append(finish_freshness(agg, tbl, anchor, sla))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
