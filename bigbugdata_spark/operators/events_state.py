"""As-of / CDC consumers of the SCD2 state model.  The run derivation
comes from operators/scd_core.py.

No analog in the reference (SURVEY §2.1 — no window functions, no state
modeling); warehouse-governance extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigbugdata_spark.caching import pin
from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions.fragments import (
    TS_FMT as _TS_FMT,
    TS_FMT_DUCK as _TS_FMT_DUCK,
)
from bigbugdata_spark.operators.scd_core import runs_from_events
from bigbugdata_spark.registry import register

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
        SELECT strftime(probe_ts, '{_TS_FMT_DUCK}') AS probe_ts,
               user_id, state,
               strftime(vf, '{_TS_FMT_DUCK}') AS since
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
            F.date_format("probe_ts", _TS_FMT).alias("probe_ts"),
            "user_id",
            "state",
            F.date_format("vf", _TS_FMT).alias("since"),
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
