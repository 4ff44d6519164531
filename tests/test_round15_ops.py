"""Round-15 engine-level properties (VERDICT r14 #4 and #7).

1) The RocksDB deployment posture (ROCKSDB_STATE_STORE_CONF) is claimed
   for ALL stateful kernels, but r14 machine-proved restart recovery on
   the provider only for the funnel.  This file closes the gap for the
   two remaining state shapes: the MTA path BUFFER (the largest and
   most encode-sensitive state — a growing list of touches per user)
   and the EventTimeTimeout sessionizer (recovered timeout timestamps
   must fire on the provider, not just recovered values).

2) Crash-mid-batch fault injection for the foreachBatch upsert sinks:
   the exactly-once claim has two failure windows — a crash BEFORE the
   phase-1 table append (batch replays cleanly) and a crash BETWEEN
   the append and the checkpoint commit (the replayed batch must
   anti-join to a no-op against its own phase-1 rows).  r14 proved
   restart-with-source-overlap; this injects the second, nastier
   window deliberately for both the plain-parquet and the bucketed
   (scale-path) sinks.

No analog in the reference (single-process batch CLI, SURVEY §2);
streaming extension surface.
"""

from __future__ import annotations

import pytest

# shared restart-recovery harness (slice files -> file-stream ->
# parquet sink on a persistent checkpoint)
from tests.test_round14_ops import (
    _file_sink_restartable_run,
    _mta_stream_build,
    _write_slice_files,
)


def _assert_rocksdb_engaged(ckpt):
    """With changelog checkpointing on, per-batch commits upload
    *.changelog deltas (snapshot zips / SSTs only land on periodic
    maintenance); the HDFS-backed provider writes *.delta/*.snapshot
    instead, so any of these three proves RocksDB actually engaged."""
    artifacts = [
        p
        for pat in ("*.changelog", "*.zip", "*.sst")
        for p in (ckpt / "state").rglob(pat)
    ]
    assert artifacts, (
        "no RocksDB artifacts (changelogs / snapshot zips / SSTs) under "
        "the checkpoint's state dir — the provider conf did not engage"
    )


def test_mta_restart_recovery_on_rocksdb_state_store(spark, tmp_path):
    """The MTA kernel's state row carries the path BUFFER — a
    variable-length list of (ts, touch_type) pairs, the most
    encode-sensitive of the five kernels' schemas.  Instance 1 buffers
    two touches on RocksDB and terminates; instance 2 (same
    checkpoint, same provider) must decode the buffer from SST/
    changelog state and split the phase-2 purchase across the
    recovered touches in recovered order.  Lost or reordered state
    emits a WRONG ANSWER (a single 'organic' credit), not a crash."""
    from bigbugdata_spark.streaming.core import (
        ROCKSDB_STATE_STORE_CONF,
        rocksdb_state_store,
    )

    out, ckpt = tmp_path / "mta_out", tmp_path / "mta_ckpt"
    with rocksdb_state_store(spark):
        for k, v in ROCKSDB_STATE_STORE_CONF.items():
            assert spark.conf.get(k) == v
        _write_slice_files(
            tmp_path, [[(1, 100, 1, "click", 0)], [(1, 200, 2, "view", 0)]]
        )
        _file_sink_restartable_run(
            spark, tmp_path, _mta_stream_build, out, ckpt
        )
        _write_slice_files(
            tmp_path, [[(1, 300, 3, "purchase", 101)]], start=2
        )
        _file_sink_restartable_run(
            spark, tmp_path, _mta_stream_build, out, ckpt
        )
    got = sorted(
        (r["touch_type"], r["credit"])
        for r in spark.read.parquet(str(out)).collect()
    )
    # 101 cents over the recovered [click, view] path: trunc-div base
    # 50 each, remainder 1 to the LAST touch — the value pins both the
    # buffer's survival and its recovered ordering on the provider
    assert got == [("click", 50), ("view", 51)]
    _assert_rocksdb_engaged(ckpt)
    # and the scoping restored the session's default provider
    assert "RocksDB" not in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )


@pytest.mark.slow_tier
def test_sessionizer_restart_recovery_on_rocksdb_state_store(
    spark, tmp_path
):
    """EventTimeTimeout on the scale-grade store: instance 1 leaves two
    users' sessions OPEN on RocksDB, each with a registered timeout
    timestamp.  Instance 2 must (a) extend-then-gap-close user 42's
    recovered session with the recovered start/count and (b) fire the
    timeout for user 43 — a group with NO phase-2 data — purely from
    the timestamp recovered off the provider.  Timeout registration
    lives in the engine's state-store metadata, a surface the
    NoTimeout kernels never touch."""
    import datetime as dt

    from pyspark.sql.streaming.state import GroupStateTimeout

    from bigbugdata_spark.streaming.core import rocksdb_state_store
    from bigbugdata_spark.streaming.events import (
        _SESSION_OUTPUT_SCHEMA,
        _SESSION_STATE_SCHEMA,
        _sessionize_user,
    )

    def build(ev):
        return (
            ev.withWatermark("ts", "10 minutes")
            .groupBy("user_id")
            .applyInPandasWithState(
                _sessionize_user,
                outputStructType=_SESSION_OUTPUT_SCHEMA,
                stateStructType=_SESSION_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )

    out, ckpt = tmp_path / "sess_out", tmp_path / "sess_ckpt"
    with rocksdb_state_store(spark):
        _write_slice_files(
            tmp_path,
            [
                [
                    (42, 0, 1, "click", 0),
                    (42, 60, 2, "view", 0),
                    (43, 0, 3, "click", 0),
                ]
            ],
        )
        _file_sink_restartable_run(spark, tmp_path, build, out, ckpt)
        # phase 2: ts=120 EXTENDS 42's recovered session; ts=3600
        # gap-closes it (n=3 pins the recovered start and count); the
        # third file gives the engine a batch AFTER the watermark has
        # advanced past 43's recovered 300 s timeout, which then fires
        _write_slice_files(
            tmp_path,
            [
                [(42, 120, 4, "click", 0)],
                [(42, 3600, 5, "search", 0)],
                [(42, 3660, 6, "view", 0)],
            ],
            start=1,
        )
        _file_sink_restartable_run(spark, tmp_path, build, out, ckpt)
    base = dt.datetime(2024, 1, 1)
    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(str(out)).collect()
    )
    assert got == [
        (42, base, base + dt.timedelta(seconds=420), 3),
        (43, base, base + dt.timedelta(seconds=300), 1),
    ], got
    _assert_rocksdb_engaged(ckpt)


def test_high_water_mark_enforced_across_restart_on_rocksdb(
    spark, tmp_path
):
    """The OOO detector's mark must survive a restart on the scale
    provider too: an event below instance 1's high-water mark delivered
    to instance 2 (same checkpoint, RocksDB both times) must raise —
    completing the provider matrix for the enforcement of VERDICT r13
    #2 (value recovery is pinned by the funnel/MTA/sessionizer tests;
    this pins the guard)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from bigbugdata_spark.streaming.core import rocksdb_state_store
    from tests.test_round14_ops import _funnel_stream_build

    out, ckpt = tmp_path / "hw_out", tmp_path / "hw_ckpt"
    with rocksdb_state_store(spark):
        _write_slice_files(tmp_path, [[(7, 100, 1, "signup", 0)]])
        _file_sink_restartable_run(
            spark, tmp_path, _funnel_stream_build, out, ckpt
        )
        _write_slice_files(tmp_path, [[(7, 50, 2, "click", 0)]], start=1)
        with pytest.raises(
            StreamingQueryException, match="out-of-order feed in funnel"
        ):
            _file_sink_restartable_run(
                spark, tmp_path, _funnel_stream_build, out, ckpt
            )
    _assert_rocksdb_engaged(ckpt)


def test_publish_interleaving_fuzz_with_concurrent_sweep(tmp_path):
    """The ADVICE r15 race, model-checked under adversarial schedules:
    before every os.rename / shutil.rmtree the publisher makes, a
    CONCURRENT SESSION may run sweep_stale_generations against the
    same index root (and an external winner may land a complete
    generation on any absent loc).  Every name in this model shares
    the publisher's fingerprint, so the un-age-gated sweep must delete
    NOTHING — one rmtree out of the sweep (the old behavior: same-fp
    debris asides were fair game, racing the publisher's rename-back
    of a late winner's complete generation) is an invariant violation,
    alongside the r14 publish invariants (loc/complete-artifact
    deletion safety, convergence, no tmp leak)."""
    import os
    import shutil
    from uuid import uuid4

    from hypothesis import given, settings, strategies as st

    from bigbugdata_spark.operators import dedup_incr as core

    real_rename, real_rmtree = os.rename, shutil.rmtree
    fp = "aaaaaaaa1111"

    class _StubCatalog:
        def listTables(self):
            return []

    class _StubSpark:
        catalog = _StubCatalog()

    def make_complete(loc):
        os.makedirs(loc)
        with open(os.path.join(loc, "_SUCCESS"), "w"):
            pass
        with open(os.path.join(loc, "part-0.parquet"), "w") as f:
            f.write("external")

    @settings(max_examples=60, deadline=None)
    @given(st.data())
    def run(data):
        case = tmp_path / f"case_{uuid4().hex}"
        case.mkdir()
        loc = case / f"knn_edges_{fp}"
        tmp = case / f"knn_edges_{fp}.tmp-me"
        tmp.mkdir()
        (tmp / "_SUCCESS").touch()
        (tmp / "part-0.parquet").write_text("mine")
        start = data.draw(
            st.sampled_from(["absent", "debris", "complete"])
        )
        if start == "debris":
            loc.mkdir()
            (loc / "part-half.parquet").touch()
        elif start == "complete":
            make_complete(loc)

        violations = []
        state = {"in_adversary": False, "in_sweep": False}

        def maybe_adversary():
            if state["in_adversary"]:
                return
            state["in_adversary"] = True
            try:
                if not loc.exists() and data.draw(
                    st.booleans(), label="external_publish"
                ):
                    make_complete(loc)
                if data.draw(st.booleans(), label="concurrent_sweep"):
                    state["in_sweep"] = True
                    try:
                        core.sweep_stale_generations(
                            _StubSpark(), ("knn_edges_",), fp
                        )
                    finally:
                        state["in_sweep"] = False
            finally:
                state["in_adversary"] = False

        def fuzzed_rename(src, dst):
            maybe_adversary()
            return real_rename(src, dst)

        def checked_rmtree(path, *a, **kw):
            p = str(path)
            if state["in_sweep"]:
                violations.append(f"sweep deleted same-fp sibling {p}")
                return  # model the damage as prevented; count it
            maybe_adversary()
            if p == str(loc):
                violations.append(f"rmtree of loc {p}")
            elif (
                os.path.isdir(p)
                and os.path.exists(os.path.join(p, "_SUCCESS"))
                and p != str(tmp)
            ):
                violations.append(f"rmtree of a complete artifact {p}")
            return real_rmtree(path, *a, **kw)

        os.rename, shutil.rmtree = fuzzed_rename, checked_rmtree
        try:
            # the sweep must also spare everything when run against the
            # starting state directly (the static exclusion), not just
            # mid-publish
            monkey_root = core.INDEX_ROOT
            core.INDEX_ROOT = str(case)
            raised = False
            try:
                core.publish_generation(tmp, loc)
            except OSError:
                raised = True
        finally:
            core.INDEX_ROOT = monkey_root
            os.rename, shutil.rmtree = real_rename, real_rmtree
        assert not violations, violations
        if not raised:
            assert (loc / "_SUCCESS").exists(), "returned without artifact"
            assert not tmp.exists(), "returned but tmp not consumed"
        else:
            assert not tmp.exists(), "raised and leaked our tmp"
        real_rmtree(case, ignore_errors=True)

    run()


# --- versioned-table vacuum: the in-flight gate (r15 race find) -------------


def test_vacuum_spares_concurrent_writers_uncommitted_stage(
    spark, tmp_path, sf_small
):
    """The r15 race find in the versioned table's retention: the write
    protocol is data-first / manifest-second, so a vacuum running
    inside a concurrent writer's write-to-commit window sees the
    winner's staged files as unreferenced and — without the age gate —
    deletes them, leaving the subsequent commit referencing missing
    files.  With the default gate: the young stage is reported
    in_flight and survives, the late commit then reads back intact;
    after aging past the TTL a genuinely-orphaned stage is reclaimed
    by the next sweep."""
    import os
    import time

    from bigbugdata_spark.sources.versioned import (
        expire_versions,
        gc_plan,
        read_versioned,
        replace_versioned,
        write_versioned,
    )

    docs = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .select("doc_id", "n_chars")
        .limit(20)
    )
    path = str(tmp_path / "corpus")
    write_versioned(docs, path)  # v0
    replace_versioned(docs.limit(5), path)  # v1: v0's files now orphaned

    # a concurrent writer mid-window: data staged, manifest NOT yet
    # committed — indistinguishable from an orphan by reference alone
    base = tmp_path / "corpus"
    stage = "data/deadbeefcafe"
    docs.limit(3).write.parquet(str(base / stage))
    staged = sorted(
        f"{stage}/{p.name}" for p in (base / stage).glob("*.parquet")
    )
    assert staged

    # vacuum with the DEFAULT gate: v0's manifest expires (crash-safe
    # order: manifests first), but every young unreferenced file —
    # v0's orphans AND the writer's stage — is in_flight, not deleted
    acct = expire_versions(path, retain_last=1)
    assert acct["expired"] == [0] and acct["deleted_files"] == 0
    # in-flight entries carry the same {path, bytes} accounting shape
    # as reclaimable ones (ADVICE r15)
    in_flight = {f["path"]: f["bytes"] for f in acct["in_flight_files"]}
    assert set(staged) <= set(in_flight)
    for f in staged:
        assert in_flight[f] == (base / f).stat().st_size
    for f in staged:
        assert (base / f).exists(), f"vacuum deleted in-flight {f}"

    # the late winner commits its manifest and must read back intact
    from bigbugdata_spark.sources.versioned import _commit_manifest

    entries = [
        {"path": f, "bytes": (base / f).stat().st_size} for f in staged
    ]
    v2 = _commit_manifest(
        path, lambda prev: {"files": list(prev) + entries}
    )
    assert read_versioned(spark, path, v2).count() == 5 + 3

    # age everything; now-orphaned files (none referenced by v1/v2)
    # become reclaimable and the sweep deletes exactly those
    old = time.time() - 7200
    for stage_dir in (base / "data").iterdir():
        for p in stage_dir.glob("*.parquet"):
            os.utime(p, (old, old))
    plan = gc_plan(path, retain_last=2)  # v1 and v2 both retained
    assert plan["in_flight_files"] == []
    assert plan["reclaimable_files"], "aged orphans must be reclaimable"
    live_before = read_versioned(spark, path, v2).count()
    acct2 = expire_versions(path, retain_last=2)
    assert acct2["deleted_files"] == len(plan["reclaimable_files"])
    assert read_versioned(spark, path, v2).count() == live_before


def test_gc_ttl_env_parse_survives_garbage(monkeypatch):
    """Same warn-and-fallback contract as the dedup TTL (ADVICE r15):
    a malformed SPARK_GRAFT_GC_TTL_S must not raise at import.  r16
    folded both per-site parsers into env_cfg.parse_ttl_env (VERDICT
    r15 #5) — the float cast keeps fractional seconds valid here."""
    import warnings

    from bigbugdata_spark.env_cfg import parse_ttl_env

    def _parse():
        return parse_ttl_env("SPARK_GRAFT_GC_TTL_S", 1800.0, float)

    monkeypatch.setenv("SPARK_GRAFT_GC_TTL_S", "1h")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _parse() == 1800.0
    assert any("SPARK_GRAFT_GC_TTL_S" in str(x.message) for x in w)
    monkeypatch.setenv("SPARK_GRAFT_GC_TTL_S", "90.5")
    assert _parse() == 90.5


# --- crash-mid-batch fault injection for the foreachBatch sinks -------------


class _InjectedCrash(RuntimeError):
    pass


def _run_crashing_sink(spark, src_dir, ckpt, apply_batch):
    """Drive the events file-stream into foreachBatch(apply_batch) with
    a persistent checkpoint; surface the injected crash (Spark wraps it
    in StreamingQueryException)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from bigbugdata_spark.catalog import (
        _events_session_confs,
        normalize_events_ts,
    )

    _events_session_confs(spark)
    raw_schema = spark.read.parquet(str(src_dir / "events.parquet")).schema
    ev = normalize_events_ts(
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "events.parque[t]"))
    )
    q = (
        ev.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination()


def test_upsert_sink_converges_after_crash_between_write_and_commit(
    spark, tmp_path
):
    """The nastier exactly-once window: the foreachBatch body COMPLETES
    its phase-1 parquet append, then the process dies BEFORE the
    checkpoint commit (injected by raising right after upsert_batch
    returns).  The engine will replay the same micro-batch on restart
    — offsets never advanced — so the replayed rows arrive with their
    own phase-1 output already in the table, and only the anti-join
    stands between the table and duplicate rows.  The restarted clean
    run must converge to exactly one row per event_id, including the
    untouched later slice."""
    from bigbugdata_spark.streaming.core import run_incremental_dedup_sink, upsert_batch

    out, ckpt = tmp_path / "mat", tmp_path / "ckpt"
    _write_slice_files(
        tmp_path,
        [
            [(1, 0, 1, "click", 0), (2, 10, 2, "view", 0)],
            [(3, 20, 3, "click", 0)],
        ],
    )

    def crash_after_write(batch, _bid):
        upsert_batch(batch.sparkSession, batch, str(out), "event_id")
        raise _InjectedCrash("injected crash after phase-1 write")

    _run_crashing_sink(spark, tmp_path, ckpt, crash_after_write)
    # phase-1 write landed, commit did not: the table already holds the
    # first batch's rows while the checkpoint says "unprocessed"
    assert spark.read.parquet(str(out)).count() == 2
    run_incremental_dedup_sink(spark, str(tmp_path), str(out), str(ckpt))
    rows = spark.read.parquet(str(out))
    assert rows.count() == 3
    assert sorted(r["event_id"] for r in rows.collect()) == [1, 2, 3]


def test_bucketed_upsert_sink_converges_after_crash_mid_batch(
    spark, tmp_path
):
    """Same injected window for the SCALE-path sink (key-bucketed
    saveAsTable): the replayed micro-batch must anti-join against the
    bucketed table's own phase-1 append and land zero new rows for
    replayed keys — the bucketed layout changes the join physics
    (batch-side-only exchange), not the convergence contract."""
    from bigbugdata_spark.streaming.core import (
        run_incremental_dedup_sink_bucketed,
        upsert_batch_bucketed,
    )

    table = "r15_crash_bucketed_mat"
    ckpt = tmp_path / "bq_ckpt"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    _write_slice_files(
        tmp_path,
        [
            [(1, 0, 1, "click", 0), (2, 10, 2, "view", 0)],
            [(2, 10, 2, "view", 0), (4, 30, 4, "search", 0)],
        ],
    )

    def crash_after_write(batch, _bid):
        upsert_batch_bucketed(
            batch.sparkSession, batch, table, "event_id", n_buckets=4
        )
        raise _InjectedCrash("injected crash after phase-1 write")

    try:
        _run_crashing_sink(spark, tmp_path, ckpt, crash_after_write)
        # consumer-side REFRESH: the appends ran on micro-batch session
        # clones, so this session's table-relation cache is stale by
        # design — the documented read contract for a catalog table
        # maintained by an external writer
        spark.catalog.refreshTable(table)
        assert spark.table(table).count() == 2
        run_incremental_dedup_sink_bucketed(
            spark, str(tmp_path), table, str(ckpt), n_buckets=4
        )
        spark.catalog.refreshTable(table)
        rows = spark.table(table)
        assert rows.count() == 3
        assert sorted(r["event_id"] for r in rows.collect()) == [1, 2, 4]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_rollup_sink_converges_after_crash_between_write_and_commit(
    spark, tmp_path
):
    """The partial-store rollup sink's exactly-once story is
    overwrite-idempotence: a replayed batch_id rewrites its own
    partition with identical content.  Inject the crash AFTER the
    partition write, BEFORE the commit — the restarted run re-delivers
    batch 0 with the same id, overwrites the same directory, and the
    merged rollup must equal the one-shot batch aggregation (a
    double-count would inflate n_events for batch 0's day/type
    groups)."""
    from bigbugdata_spark.operators.events import (
        merged_rollup,
        run_rollup_stream_sink,
        write_rollup_batch,
    )

    out, ckpt = tmp_path / "store", tmp_path / "ckpt"
    _write_slice_files(
        tmp_path,
        [
            [(1, 0, 1, "click", 100), (2, 10, 2, "view", 250)],
            [(1, 86_400, 3, "click", 50)],
        ],
    )

    def crash_after_write(batch, bid):
        write_rollup_batch(batch, bid, str(out))
        raise _InjectedCrash("injected crash after phase-1 write")

    _run_crashing_sink(spark, tmp_path, ckpt, crash_after_write)
    # phase-1 partition landed without a commit
    assert (out / "batch_id=0").exists()
    run_rollup_stream_sink(spark, str(tmp_path), str(out), str(ckpt))
    got = sorted(
        (str(r["day"]), r["event_type"], r["n_events"], r["sum_cents"])
        for r in merged_rollup(spark, str(out)).collect()
    )
    # the slice writer's value column is cents/100, and the partials
    # recover integer cents — so the tuples' 4th field IS the cents
    assert got == [
        ("2024-01-01", "click", 1, 100),
        ("2024-01-01", "view", 1, 250),
        ("2024-01-02", "click", 1, 50),
    ], got


@pytest.mark.slow_tier
def test_scd2_sink_converges_after_crash_between_write_and_commit(
    spark, tmp_path
):
    """The SCD2 maintenance sink's replay guard is the per-user
    high-water mark: a replayed batch's runs are below the mark AND
    covered by stored same-state runs, so they are dropped wholesale.
    Inject the crash AFTER batch 0's bucket rewrite, BEFORE the commit
    — the restarted run replays batch 0 (its click run must NOT
    re-merge: n_events doubling from 2 to 4 is the failure shape) and
    then processes batch 1, which closes the click run and opens the
    view run."""
    import glob

    from bigbugdata_spark.operators.scd import (
        read_state_history,
        run_scd2_stream_sink,
        stamp_slice_mtimes,
        upsert_state_runs,
    )

    src = tmp_path / "slices"
    out, ckpt = tmp_path / "scd_table", tmp_path / "scd_ckpt"
    # slices written via SPARK (microsecond ts), matching the
    # registered query's log-ingest shape — the sink consumes raw
    # slice files without the pandas-ns normalize path
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    slices = [
        [(9, 0, 1, "click"), (9, 60, 2, "click")],
        [(9, 120, 3, "view")],
    ]
    for i, sl in enumerate(slices):
        spark.createDataFrame(
            [
                (uid, base + dt.timedelta(seconds=s), eid, et)
                for uid, s, eid, et in sl
            ],
            "user_id long, ts timestamp, event_id long, event_type string",
        ).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"slice_{i}")
        )
    stamp_slice_mtimes(str(src))
    src_glob = str(src / "slice_*" / "*.parquet")

    schema = spark.read.parquet(src_glob).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_glob)
    )

    def crash_after_write(batch, _bid):
        upsert_state_runs(spark, batch, str(out), n_buckets=4)
        raise _InjectedCrash("injected crash after phase-1 write")

    from pyspark.errors.exceptions.captured import StreamingQueryException

    q = (
        stream.writeStream.foreachBatch(crash_after_write)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination()
    assert glob.glob(str(out / "user_bucket=*")), "phase-1 write missing"
    run_scd2_stream_sink(spark, src_glob, str(out), str(ckpt), n_buckets=4)
    got = sorted(
        (r["user_id"], r["state"], r["n_events"], r["is_current"])
        for r in read_state_history(spark, str(out)).collect()
    )
    # click run n_events == 2 pins the no-double-merge property; the
    # view run proves batch 1 still flowed after the replay
    assert got == [(9, "click", 2, False), (9, "view", 1, True)], got


def test_bucketed_upsert_antijoin_not_blinded_by_relation_cache(
    spark, tmp_path
):
    """The r15 fault-injection campaign's REAL find: a restarted query
    over a PRE-EXISTING bucketed table, where batch A appends key 5
    and batch B re-delivers it.  Batch A's anti-join read primes the
    driver session's table-relation cache; its append runs on the
    micro-batch session clone, which does NOT invalidate that cache —
    so without the in-sink refreshTable, batch B anti-joins against a
    file index frozen at batch A and key 5 lands TWICE (observed
    [1, 5, 5, 6] before the fix).  The fresh-table case cannot catch
    this: there, no cache entry exists until the first read."""
    from bigbugdata_spark.streaming.core import run_incremental_dedup_sink_bucketed

    table = "r15_cache_leak_mat"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        # run 1 seeds the table so run 2's first batch finds it exists
        _write_slice_files(tmp_path, [[(1, 0, 1, "click", 0)]])
        run_incremental_dedup_sink_bucketed(
            spark, str(tmp_path), table, str(tmp_path / "ck"), n_buckets=4
        )
        # run 2, same checkpoint: batch A appends {5}, batch B repeats
        # {5} alongside fresh {6} — one file per micro-batch via the
        # restartable harness's per-file mtimes + the sink's file source
        _write_slice_files(
            tmp_path,
            [
                [(5, 40, 5, "view", 0)],
                [(5, 40, 5, "view", 0), (6, 50, 6, "click", 0)],
            ],
            start=1,
        )
        # drive with maxFilesPerTrigger=1 so A and B are separate
        # micro-batches within ONE query instance
        from bigbugdata_spark.streaming.core import upsert_batch_bucketed

        def apply_batch(batch, _bid):
            upsert_batch_bucketed(
                spark, batch, table, "event_id", n_buckets=4
            )

        from bigbugdata_spark.catalog import (
            _events_session_confs,
            normalize_events_ts,
        )

        _events_session_confs(spark)
        raw_schema = spark.read.parquet(
            str(tmp_path / "events.parquet")
        ).schema
        ev = normalize_events_ts(
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "events.parque[t]"))
        )
        q = (
            ev.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        spark.catalog.refreshTable(table)
        rows = sorted(r["event_id"] for r in spark.table(table).collect())
        assert rows == [1, 5, 6], rows
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
