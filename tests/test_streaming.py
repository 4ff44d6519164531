"""Structured Streaming semantics: complete-mode equivalence to batch,
and append-mode watermark finalization (late-data handling)."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.registry import load_all
from bigbugdata_spark.streaming.events import (
    stream_user_totals,
    stream_tumbling_append,
    stream_tumbling_complete,
)

SPECS = load_all()


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_stream_complete_equals_batch(spark, sf_oracle):
    """Complete-mode availableNow == the batch tumbling aggregation,
    row for row."""
    batch = _rows(SPECS["evt_tumbling_window"].fn(spark, sf_oracle))
    stream = _rows(stream_tumbling_complete(spark, sf_oracle))
    assert stream == batch


def test_stream_append_emits_watermark_finalized_windows(spark, sf_oracle):
    """Append mode emits exactly the windows finalized by the final
    watermark: window_end <= max(ts) - 10 minutes. The held-back tail is
    the streaming/batch difference the watermark contract defines."""
    batch = SPECS["evt_tumbling_window"].fn(spark, sf_oracle).collect()
    streamed = _rows(stream_tumbling_append(spark, sf_oracle))

    max_ts = (
        table(spark, sf_oracle, "events").agg(F.max("ts").alias("m")).first()["m"]
    )
    watermark = max_ts - dt.timedelta(minutes=10)
    expected = set()
    for r in batch:
        start = dt.datetime.strptime(r["window_start"], "%Y-%m-%d %H:%M:%S.%f")
        if start + dt.timedelta(hours=1) <= watermark:
            expected.add(tuple(r))
    assert streamed == expected
    assert 0 < len(streamed) < len(batch)


def test_stateful_sessionizer_matches_batch_sessions(spark, sf_oracle):
    """The custom EventTimeTimeout sessionizer emits exactly the batch
    session windows, minus each user's final session when the final
    watermark hasn't passed its close (the append-mode finalization
    contract)."""
    from bigbugdata_spark.streaming.events import stream_sessions

    fmt = "%Y-%m-%d %H:%M:%S.%f"
    streamed = {
        (
            r["user_id"],
            r["session_start"].strftime(fmt),
            r["session_end"].strftime(fmt),
            r["n_events"],
        )
        for r in stream_sessions(spark, sf_oracle).collect()
    }
    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in SPECS["evt_session_window"].fn(spark, sf_oracle).collect()
    }
    assert streamed <= batch

    max_ts = (
        table(spark, sf_oracle, "events").agg(F.max("ts").alias("m")).first()["m"]
    )
    watermark = max_ts - dt.timedelta(minutes=10)
    finals: dict[int, tuple] = {}
    for row in batch:
        if row[0] not in finals or row[1] > finals[row[0]][1]:
            finals[row[0]] = row
    held_back = {
        row
        for row in finals.values()
        if dt.datetime.strptime(row[2], fmt) >= watermark
    }
    assert batch - streamed == held_back
    assert len(streamed) > 0


def test_streaming_dedup_matches_batch_distinct(spark, sf_oracle):
    """Watermarked dropDuplicates over the full stream == batch distinct
    (every event's time is within the single availableNow batch, so no
    key state expires before its duplicates arrive)."""
    from bigbugdata_spark.streaming.events import (
        batch_dedup_events,
        stream_dedup_events,
    )

    streamed = {tuple(r) for r in stream_dedup_events(spark, sf_oracle).collect()}
    batch = {tuple(r) for r in batch_dedup_events(spark, sf_oracle).collect()}
    assert streamed == batch
    assert len(streamed) > 0


def test_stateful_user_totals_match_batch(spark, sf_oracle):
    """The applyInPandasWithState tracker's final state equals the batch
    per-user aggregate (count, exact centi-sum, last event time)."""
    got = {
        r["user_id"]: (r["n_events"], r["value_cents"], r["last_seen"])
        for r in stream_user_totals(spark, sf_oracle).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["cents"], r["last"])
        for r in table(spark, sf_oracle, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            F.max("ts").alias("last"),
        )
        .collect()
    }
    assert got == want


@pytest.mark.slow_tier
def test_stream_stream_join_matches_batch(spark, sf_oracle):
    """Inner stream-stream interval join == the batch join: the
    watermark bounds state, never the inner-join output."""
    from bigbugdata_spark.streaming.events import (
        batch_click_attribution,
        evt_stream_click_attribution,
    )

    got = evt_stream_click_attribution(spark, sf_oracle)
    want = batch_click_attribution(spark, sf_oracle)
    key = lambda r: (r.user_id, r.click_id, r.view_id)  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)
    assert got.count() > 0


def test_foreach_batch_incremental_sink_is_idempotent(tmp_path, spark, sf_oracle):
    """The foreachBatch upsert sink materializes the stream exactly once:
    a full replay (fresh checkpoint, same source) appends nothing."""
    from bigbugdata_spark.catalog import table
    from bigbugdata_spark.streaming.core import run_incremental_dedup_sink

    out = str(tmp_path / "events_table")
    run_incremental_dedup_sink(spark, sf_oracle, out, str(tmp_path / "ckpt1"))
    n_events = table(spark, sf_oracle, "events").select("event_id").distinct().count()
    assert spark.read.parquet(out).count() == n_events

    # replay with a fresh checkpoint: the anti-join makes it a no-op
    run_incremental_dedup_sink(spark, sf_oracle, out, str(tmp_path / "ckpt2"))
    assert spark.read.parquet(out).count() == n_events


def test_bucketed_incremental_sink_idempotent_and_shuffle_free(
    tmp_path, spark, sf_oracle
):
    """The scale form of the upsert sink: the materialized table is
    key-bucketed, so the per-batch anti-join never shuffles the existing
    table — only the incoming micro-batch aligns to the bucket layout.
    Asserts idempotence (replay appends nothing) AND the plan property
    (exactly ONE Exchange in the anti-join: the batch side)."""
    import shutil

    from bigbugdata_spark.catalog import table
    from bigbugdata_spark.plans import inspect as I
    from bigbugdata_spark.streaming.core import run_incremental_dedup_sink_bucketed

    tname = "bb_events_upsert_bucketed"
    spark.sql(f"DROP TABLE IF EXISTS {tname}")
    from bigbugdata_spark.session import WAREHOUSE_DIR

    shutil.rmtree(f"{WAREHOUSE_DIR}/{tname}", ignore_errors=True)

    run_incremental_dedup_sink_bucketed(
        spark, sf_oracle, tname, str(tmp_path / "ckpt1")
    )
    n_events = table(spark, sf_oracle, "events").select("event_id").distinct().count()
    assert spark.table(tname).count() == n_events

    # replay with a fresh checkpoint: the anti-join makes it a no-op
    run_incremental_dedup_sink_bucketed(
        spark, sf_oracle, tname, str(tmp_path / "ckpt2")
    )
    assert spark.table(tname).count() == n_events

    # plan property of the per-batch anti-join, at the batch sizes the
    # sink actually sees: table side pre-hashed at rest -> no Exchange;
    # batch side aligns -> exactly one. Broadcast disabled so the
    # bucket-aware SMJ path (what a 100 TB table would take) is the one
    # asserted.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        batch = (
            table(spark, sf_oracle, "events")
            .filter(F.col("event_id") % 7 == 0)  # a batch-shaped subset
            .select("event_id")
        )
        anti = (
            batch.repartition(8, "event_id")
            .dropDuplicates(["event_id"])
            .join(spark.table(tname).select("event_id"), "event_id", "left_anti")
        )
        plan = I.plan_string(anti, "simple")
        assert I.shuffle_count(anti) == 1, plan
        assert "SortMergeJoin" in I.join_kinds(anti)
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_partitioned_stream_sink_layout_and_rows(tmp_path, spark, sf_oracle):
    """The streaming face of the partitioned layout: foreachBatch writes
    land date-partitioned within the file budget, end-of-run compaction
    restores budget=1 per day, and the materialized rows equal the
    source (the layout machinery loses/duplicates nothing)."""
    import os

    from bigbugdata_spark.catalog import table
    from bigbugdata_spark.sources.partitioned import DAY_COL
    from bigbugdata_spark.streaming.core import run_partitioned_stream_sink

    out = str(tmp_path / "events_lake")
    run_partitioned_stream_sink(
        spark, sf_oracle, out, str(tmp_path / "ckpt"), files_per_partition=1
    )
    days = [d for d in os.listdir(out) if d.startswith(f"{DAY_COL}=")]
    assert len(days) > 1
    for d in days:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    src = table(spark, sf_oracle, "events")
    back = spark.read.parquet(out)
    assert back.count() == src.count()
    assert (
        back.select(F.sum("event_id")).first()[0]
        == src.select(F.sum("event_id")).first()[0]
    )


@pytest.mark.slow_tier
def test_scd2_incremental_sink_matches_batch_and_is_idempotent(
    tmp_path, spark, sf_oracle
):
    """The run-set maintenance sink (streaming/scd_sink.py): four
    time-sliced triggers must reproduce the batch SCD2 derivation
    row-for-row (the registered query's oracle checks this vs DuckDB;
    here it's asserted engine-internally vs evt_user_state_history),
    replaying the final slice must change NOTHING (the last_eid guard —
    a naive merge would double-count n_events), and a batch touching
    one user must leave unaffected buckets' files untouched (dynamic
    overwrite incrementality)."""
    import os

    from bigbugdata_spark.catalog import table
    from bigbugdata_spark.registry import load_all
    from bigbugdata_spark.operators.scd import (
        BUCKET_COL,
        read_state_history,
        run_scd2_stream_sink,
        upsert_state_runs,
    )

    specs = load_all()
    ev = table(spark, sf_oracle, "events")
    src = str(tmp_path / "src")
    bounds = [None, "2024-01-08", "2024-01-16", "2024-01-24", None]
    for i in range(4):
        sl = ev
        if bounds[i] is not None:
            sl = sl.filter(F.col("ts") >= F.lit(bounds[i]).cast("timestamp"))
        if bounds[i + 1] is not None:
            sl = sl.filter(F.col("ts") < F.lit(bounds[i + 1]).cast("timestamp"))
        sl.coalesce(1).write.parquet(f"{src}/slice_{i}")
    out = str(tmp_path / "table")
    run_scd2_stream_sink(
        spark, f"{src}/slice_*/*.parquet", out, str(tmp_path / "ckpt")
    )

    def key(r):
        return (r["user_id"], r["state"], r["valid_from"])

    batch_rows = {
        key(r): (r["valid_to"], r["n_events"], r["is_current"])
        for r in specs["evt_user_state_history"].fn(spark, sf_oracle).collect()
    }
    inc_rows = {
        key(r): (r["valid_to"], r["n_events"], r["is_current"])
        for r in read_state_history(spark, out).collect()
    }
    assert inc_rows == batch_rows

    # replay the final slice (a committed foreachBatch re-run): no-op
    last_slice = spark.read.parquet(f"{src}/slice_3")
    before = sorted(
        tuple(r) for r in spark.read.parquet(out).drop(BUCKET_COL).collect()
    )
    upsert_state_runs(spark, last_slice, out)
    after = sorted(
        tuple(r) for r in spark.read.parquet(out).drop(BUCKET_COL).collect()
    )
    assert after == before

    # single-user batch: only that user's bucket partition is rewritten
    one_user = ev.orderBy("user_id").select("user_id").first()[0]
    bucket_dirs = sorted(
        d for d in os.listdir(out) if d.startswith(f"{BUCKET_COL}=")
    )
    mtimes = {
        d: max(
            os.path.getmtime(os.path.join(out, d, f))
            for f in os.listdir(os.path.join(out, d))
            if f.endswith(".parquet")
        )
        for d in bucket_dirs
    }
    upsert_state_runs(spark, ev.filter(F.col("user_id") == one_user), out)
    touched = [
        d
        for d in bucket_dirs
        if max(
            os.path.getmtime(os.path.join(out, d, f))
            for f in os.listdir(os.path.join(out, d))
            if f.endswith(".parquet")
        )
        > mtimes[d]
    ]
    assert len(touched) == 1, touched


def test_stream_static_enrichment_matches_batch(spark, sf_oracle):
    """The stream-static enrichment join (streaming/enrich.py): the
    availableNow complete-mode result must equal the batch twin of the
    same shared plan row-for-row (the registered oracle additionally
    re-derives it in DuckDB)."""
    from bigbugdata_spark.registry import load_all
    from bigbugdata_spark.streaming.events import batch_enriched_totals

    specs = load_all()
    streamed = {
        (r["mktsegment"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in specs["evt_stream_enriched_totals"].fn(spark, sf_oracle).collect()
    }
    batch = {
        (r["mktsegment"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in batch_enriched_totals(spark, sf_oracle).collect()
    }
    assert streamed == batch
    assert streamed  # non-degenerate: events do join the dimension


@pytest.mark.slow_tier
def test_scd2_out_of_order_slice_detected_then_repaired(
    tmp_path, spark, sf_oracle
):
    """Advisor r7 + VERDICT r7 #2: a late/backfill slice must FAIL LOUDLY
    (OutOfOrderSliceError — the old merge silently ate it as a 'replay'),
    and the documented repair path (repair_user_runs over the full event
    source) must converge the table to the SAME result as the clean
    in-order run — asserted against the batch derivation, which carries
    the registered oracle. Afterwards, replay idempotence still holds."""
    import pytest

    from bigbugdata_spark.operators.scd import (
        OutOfOrderSliceError,
        read_state_history,
        repair_user_runs,
        upsert_state_runs,
    )

    ev = table(spark, sf_oracle, "events")
    t = lambda s: F.lit(s).cast("timestamp")  # noqa: E731
    s0 = ev.filter(F.col("ts") < t("2024-01-08"))
    s1 = ev.filter((F.col("ts") >= t("2024-01-08")) & (F.col("ts") < t("2024-01-16")))
    s2 = ev.filter(F.col("ts") >= t("2024-01-16"))
    out = str(tmp_path / "table")
    upsert_state_runs(spark, s0, out)
    upsert_state_runs(spark, s2, out)  # slice 1 skipped: table is now ahead

    with pytest.raises(OutOfOrderSliceError) as ei:
        upsert_state_runs(spark, s1, out)  # the late slice arrives
    detected = set(ei.value.user_ids)
    slice1_users = {r[0] for r in s1.select("user_id").distinct().collect()}
    assert detected and detected <= slice1_users
    # nothing was applied by the failed merge (fail = no partial write)
    # and the operational recovery recomputes every user the late slice
    # touches from the full event source
    repair_user_runs(spark, ev, out, sorted(slice1_users))

    def key(r):
        return (r["user_id"], r["state"], r["valid_from"])

    batch_rows = {
        key(r): (r["valid_to"], r["n_events"], r["is_current"])
        for r in SPECS["evt_user_state_history"].fn(spark, sf_oracle).collect()
    }
    repaired_rows = {
        key(r): (r["valid_to"], r["n_events"], r["is_current"])
        for r in read_state_history(spark, out).collect()
    }
    assert repaired_rows == batch_rows

    # post-repair: a genuine replay is still absorbed silently (covered
    # below-mark runs), not misclassified as out-of-order
    upsert_state_runs(spark, s2, out)
    assert {
        key(r): (r["valid_to"], r["n_events"], r["is_current"])
        for r in read_state_history(spark, out).collect()
    } == batch_rows


def test_scd2_bucket_count_is_persisted_and_validated(tmp_path, spark, sf_oracle):
    """Advisor r7: the bucket layout is fixed at first write (persisted
    in the _scd_meta.json sidecar); a later merge passing a different
    n_buckets must fail instead of silently re-hashing users into
    buckets the high-water mark never checks."""
    import os

    import pytest

    from bigbugdata_spark.operators.scd import _META_NAME, upsert_state_runs

    ev = table(spark, sf_oracle, "events")
    out = str(tmp_path / "table")
    upsert_state_runs(spark, ev.limit(500), out, n_buckets=4)
    assert os.path.exists(os.path.join(out, _META_NAME))
    with pytest.raises(ValueError, match="persisted layout"):
        upsert_state_runs(spark, ev, out, n_buckets=8)
    # omitting n_buckets adopts the stored layout
    upsert_state_runs(spark, ev, out)
