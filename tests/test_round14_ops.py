"""Round-14 invariants.

The round's charter (VERDICT r13): enforce, don't just document, the
ordering contract of the two newest stateful kernels.

1. Out-of-order detection (VERDICT r13 #2): the MTA path buffer and
   the funnel step clock carry a per-user high-water (ts_us, event_id)
   mark in state; a batch delivering an event at or below it raises
   OutOfOrderFeedError instead of silently mis-crediting /
   mis-clocking.  Pinned at the kernel level (planted reorder raises,
   replay with rolled-back state equals the first delivery) and
   through the actual streaming engine (a two-file reordered feed
   fails the query with the error's message intact).

2. Engine-level slicing fuzz (VERDICT r13 #7a): random in-order
   micro-batch slicings of a funnel feed driven through the REAL
   engine (maxFilesPerTrigger=1, one file per slice) must reproduce
   the one-shot result — the kernel-level hypothesis property of
   commit 83dd063, now across the state-store round-trip.

3. MTA fixture-liveness lint (ADVICE r13 #2): the stream==batch oracle
   gate silently depends on every fixture user's inter-purchase run
   staying under MTA_PATH_CAP — assert the fixture's max run sits
   comfortably below the cap, so a future testdata regeneration with a
   longer purchase-free run reads as a fixture problem, not a kernel
   regression.

4. Restart recovery (second r14 pass): a stopped query resumed on the
   SAME checkpoint by a NEW query instance must decode the previous
   instance's state rows — the MTA path buffer (order included), the
   funnel step clock, and the high-water mark itself all have to
   survive the store's cross-instance round-trip, which neither the
   in-process rollback test nor the memory-sink harness exercises.
   Driven through a parquet file sink + persistent checkpointLocation.
   The funnel recovery additionally reruns on the scale-grade
   RocksDBStateStoreProvider (changelog checkpointing on) — the
   kernels' state schemas must be provider-agnostic for the 100 TB
   posture documented on streaming.core.ROCKSDB_STATE_STORE_CONF.
   The sessionizer covers the EventTimeTimeout surface: a recovered
   timeout timestamp fires in the new instance for a group with no
   new data, once the recovered watermark advances past it.  And the
   publish machinery is validated under a REAL race: two builder
   processes over one never-built generation, every interleaving safe
   by contract — plus a hypothesis model fuzz that injects an external
   winner at every rename/rmtree boundary and machine-checks the
   deletion-safety and convergence invariants.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bigbugdata_spark.registry import load_all
from bigbugdata_spark.streaming.core import OutOfOrderFeedError

SPECS = load_all()


class _State:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


def _chunk(rows):
    return pd.DataFrame(
        {
            "user_id": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows], unit="s"),
            "event_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "cents": [r[4] for r in rows],
        }
    )


def _mta_run(state, rows):
    from bigbugdata_spark.streaming.events import _credit_path

    out = list(_credit_path((1,), iter([_chunk(rows)]), state))
    return pd.concat(out) if out else None


def _funnel_run(state, rows):
    from bigbugdata_spark.streaming.events import _advance_funnel

    out = list(_advance_funnel((7,), iter([_chunk(rows)]), state))
    return list(pd.concat(out)["step"]) if out else []


# --- kernel-level out-of-order detection (VERDICT r13 #2) -------------------


def test_mta_kernel_raises_on_reordered_feed():
    """A batch delivering an event strictly below the mark raises; so
    does an event AT the mark (a same-(ts,eid) redelivery outside the
    state store's transactional replay is a duplicate, not a replay)."""
    s = _State()
    _mta_run(s, [(1, 10, 1, "click", 0), (1, 20, 2, "view", 0)])
    with pytest.raises(OutOfOrderFeedError, match="out-of-order feed in mta"):
        _mta_run(s, [(1, 15, 3, "click", 0)])  # strictly below the mark
    s2 = _State()
    _mta_run(s2, [(1, 10, 1, "click", 0), (1, 20, 2, "view", 0)])
    with pytest.raises(OutOfOrderFeedError):
        _mta_run(s2, [(1, 20, 2, "view", 0)])  # at the mark exactly
    # same ts as the mark but a HIGHER event_id is in-order (ties break
    # on event_id, the kernels' sort key)
    s3 = _State()
    _mta_run(s3, [(1, 10, 1, "click", 0), (1, 20, 2, "view", 0)])
    _mta_run(s3, [(1, 20, 3, "click", 0)])
    assert s3.get[1] == 3  # all three touches buffered, no raise


def test_kernels_raise_on_intra_batch_duplicate():
    """A duplicate (ts_us, event_id) delivered twice WITHIN one
    micro-batch sits above the cross-batch mark and would silently
    process twice (a phantom touch / a double step candidate) — both
    kernels must catch it in the sorted batch itself (r14
    self-review)."""
    with pytest.raises(OutOfOrderFeedError, match="duplicated within"):
        _mta_run(
            _State(),
            [(1, 10, 1, "click", 0), (1, 10, 1, "click", 0)],
        )
    with pytest.raises(OutOfOrderFeedError, match="duplicated within"):
        _funnel_run(
            _State(),
            [(7, 100, 1, "signup", 0), (7, 100, 1, "signup", 0)],
        )
    # same ts with DISTINCT event_ids is two real events, not a dup
    s = _State()
    _mta_run(s, [(1, 10, 1, "click", 0), (1, 10, 2, "view", 0)])
    assert s.get[1] == 2


def test_funnel_kernel_raises_on_reordered_feed():
    s = _State()
    assert _funnel_run(s, [(7, 100, 1, "signup", 0)]) == [1]
    with pytest.raises(
        OutOfOrderFeedError, match="out-of-order feed in funnel"
    ):
        _funnel_run(s, [(7, 99, 2, "click", 0)])  # below the mark
    s2 = _State()
    assert _funnel_run(s2, [(7, 100, 1, "signup", 0)]) == [1]
    with pytest.raises(OutOfOrderFeedError):
        _funnel_run(s2, [(7, 100, 1, "signup", 0)])  # at the mark


def test_kernels_replay_with_rolled_back_state_equals_first_delivery():
    """Spark's state store is transactional per micro-batch: a
    checkpoint-recovery replay re-invokes the kernel with the
    PRE-batch state version.  Model exactly that — snapshot the fake
    state, run a batch, roll back, run the same batch again — and the
    emissions and post-state must be identical, with no raise."""
    s = _State()
    _mta_run(s, [(1, 10, 1, "click", 0), (1, 20, 2, "view", 0)])
    snap = s.get
    batch = [(1, 30, 3, "search", 0), (1, 40, 4, "purchase", 100)]
    first = _mta_run(s, batch)
    after = s.get
    s._v = snap  # the rollback
    replay = _mta_run(s, batch)
    assert list(map(tuple, first.itertuples(index=False))) == list(
        map(tuple, replay.itertuples(index=False))
    )
    assert s.get == after

    f = _State()
    _funnel_run(f, [(7, 100, 1, "signup", 0)])
    snap = f.get
    batch = [(7, 200, 2, "click", 0), (7, 300, 3, "purchase", 0)]
    first = _funnel_run(f, batch)
    after = f.get
    f._v = snap
    assert _funnel_run(f, batch) == first
    assert f.get == after


# --- engine-level: the raise propagates, in-order slicing reproduces -------


def _write_slice_files(tmp_path, slices, start=0):
    """One parquet file per slice under events.parquet/, mtimes
    strictly increasing so the file stream (latestFirst=false, oldest
    first) delivers them in slice order, one per micro-batch.  With
    start>0, APPENDS the slices as files start.. without touching the
    existing ones — phase-2 arrivals for the restart-recovery tests."""
    import os
    import shutil

    root = tmp_path / "events.parquet"
    if start == 0:
        if root.exists():
            shutil.rmtree(root)
        root.mkdir(parents=True)
    base = dt.datetime(2024, 1, 1)
    paths = []
    for j, sl in enumerate(slices):
        i = start + j
        pdf = pd.DataFrame(
            {
                "event_id": [r[2] for r in sl],
                "ts": [base + dt.timedelta(seconds=r[1]) for r in sl],
                "user_id": [r[0] for r in sl],
                "event_type": [r[3] for r in sl],
                "value": [float(r[4]) / 100.0 for r in sl],
                "props": ["{}"] * len(sl),
            }
        )
        p = root / f"slice_{i:03d}.parquet"
        pdf.to_parquet(p)
        t = 1_700_000_000 + i * 10
        os.utime(p, (t, t))
        paths.append(p)
    return paths


def _one_file_per_batch_run(spark, tmp_path, build):
    """Run `build(ev_stream)` to a memory sink with one slice file per
    micro-batch; returns the materialized table."""
    from bigbugdata_spark.catalog import (
        _events_session_confs,
        normalize_events_ts,
    )
    from bigbugdata_spark.streaming.core import _run_to_memory

    _events_session_confs(spark)
    raw_schema = spark.read.parquet(str(tmp_path / "events.parquet")).schema
    raw = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "events.parque[t]"))
    )
    return _run_to_memory(build(normalize_events_ts(raw)), "append")


def test_stream_mta_reordered_feed_fails_through_engine(spark, tmp_path):
    """Two files, the LATER events in the older file: the second
    micro-batch arrives below user 1's high-water mark and the query
    must fail with the kernel's out-of-order message — not commit a
    silently mis-credited path."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from bigbugdata_spark.functions.fragments import cents_col
    from bigbugdata_spark.streaming.events import (
        _MTA_OUTPUT_SCHEMA as _OUTPUT_SCHEMA,
        _MTA_STATE_SCHEMA as _STATE_SCHEMA,
        _credit_path,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    slices = [
        [(1, 100, 1, "click", 0), (1, 200, 2, "view", 0)],
        [(1, 150, 3, "click", 0)],  # below the mark set by batch 1
    ]
    _write_slice_files(tmp_path, slices)

    def build(ev):
        return (
            ev.select(
                "user_id",
                "ts",
                "event_id",
                "event_type",
                cents_col().alias("cents"),
            )
            .groupBy("user_id")
            .applyInPandasWithState(
                _credit_path,
                outputStructType=_OUTPUT_SCHEMA,
                stateStructType=_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    with pytest.raises(StreamingQueryException, match="out-of-order feed"):
        _one_file_per_batch_run(spark, tmp_path, build)


@pytest.mark.slow_tier
def test_stream_funnel_engine_slicing_fuzz(spark, tmp_path):
    """Random in-order slicings through the REAL engine (VERDICT r13
    #7a): a seeded funnel feed cut at random boundaries into one file
    per micro-batch must reproduce the one-shot batch result — the
    83dd063 kernel property, now across the state-store round-trip."""
    import random

    rng = random.Random(1406)
    rows = []
    ts = 0
    eid = 0
    kinds = ["click", "view", "signup", "purchase", "search"]
    for _ in range(120):
        ts += rng.randint(1, 9000)
        eid += 1
        rows.append((rng.randint(1, 6), ts, eid, rng.choice(kinds), 0))
    # the batch twin's answer on the same feed, via one-slice streaming
    # is itself under test — derive the expectation from the registered
    # BATCH query over the same parquet
    _write_slice_files(tmp_path, [rows])
    want = [
        tuple(r)
        for r in SPECS["evt_funnel_steps"].fn(spark, str(tmp_path)).collect()
    ]
    from bigbugdata_spark.streaming.events import evt_stream_funnel_steps

    for trial in range(2):
        cuts = sorted(rng.sample(range(1, len(rows)), rng.randint(2, 5)))
        slices, prev = [], 0
        for c in [*cuts, len(rows)]:
            if rows[prev:c]:
                slices.append(rows[prev:c])
            prev = c
        _write_slice_files(tmp_path, slices)
        # the registered streaming query reads the same directory; the
        # default file stream delivers every available file in ONE
        # availableNow batch, so force one-file-per-batch via the
        # harness to make the slicing real
        from bigbugdata_spark.streaming.events import (
            _FUNNEL_OUTPUT_SCHEMA as _OUTPUT_SCHEMA,
            _FUNNEL_STATE_SCHEMA as _STATE_SCHEMA,
            _advance_funnel,
        )
        from pyspark.sql.streaming.state import GroupStateTimeout

        def build(ev):
            return (
                ev.select("user_id", "ts", "event_id", "event_type")
                .groupBy("user_id")
                .applyInPandasWithState(
                    _advance_funnel,
                    outputStructType=_OUTPUT_SCHEMA,
                    stateStructType=_STATE_SCHEMA,
                    outputMode="append",
                    timeoutConf=GroupStateTimeout.NoTimeout,
                )
            )

        emitted = _one_file_per_batch_run(spark, tmp_path, build)
        got_steps = sorted(
            (r["user_id"], r["step"]) for r in emitted.collect()
        )
        # fold the emissions through the same rollup the registered
        # query applies, via the batch twin's expectation
        n1 = sum(1 for _, s in got_steps if s == 1)
        n2 = sum(1 for _, s in got_steps if s == 2)
        n3 = sum(1 for _, s in got_steps if s == 3)
        w = want[0]
        assert (n1, n2, n3) == (w[0], w[1], w[2]), f"trial {trial}: {cuts}"


def test_kernels_raise_on_any_injected_violation_property():
    """Hypothesis extension of the 83dd063 slicing properties: take a
    random in-order feed and a random slicing, then INJECT a violation
    in a drawn mode — a below-mark cross-batch arrival (an earlier
    event re-sent in the second slice) or an intra-batch duplicate (a
    second-slice event sent twice in that same slice) — and both
    kernels must raise OutOfOrderFeedError at the violating slice, not
    emit silently.  The mode draw guarantees BOTH detector branches
    run (second r14 self-review pass: the first form only ever tripped
    the cross-batch mark)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=30, deadline=None)
    @given(st.data())
    def run(data):
        n = data.draw(st.integers(min_value=3, max_value=20))
        rows, ts = [], 0
        for i in range(n):
            ts += data.draw(st.integers(min_value=1, max_value=1000))
            kind = data.draw(
                st.sampled_from(["click", "view", "purchase", "signup"])
            )
            rows.append((7, ts, i + 1, kind, 100 if kind == "purchase" else 0))
        cut = data.draw(st.integers(min_value=1, max_value=n - 1))
        mode = data.draw(st.sampled_from(["below_mark", "intra_batch_dup"]))
        if mode == "below_mark":
            victim = data.draw(st.integers(min_value=0, max_value=cut - 1))
            second = [rows[victim], *rows[cut:]]
        else:
            victim = data.draw(st.integers(min_value=cut, max_value=n - 1))
            second = [*rows[cut:], rows[victim]]
        for runner in (_mta_run, _funnel_run):
            s = _State()
            runner(s, rows[:cut])
            with pytest.raises(OutOfOrderFeedError) as exc:
                runner(s, second)
            if mode == "intra_batch_dup":
                assert "duplicated within" in str(exc.value)

    run()


# --- generation publish race (ADVICE r13 #1) --------------------------------


def test_publish_generation_adopts_concurrent_winner(tmp_path, monkeypatch):
    """Two sessions building the same fingerprint: the loser's rename
    lands on the winner's just-renamed non-empty directory and fails
    with ENOTEMPTY.  The deterministic build makes any COMPLETED
    winner artifact equivalent — the loser must adopt it (tmp
    discarded, target untouched); a rename failure onto a target
    WITHOUT _SUCCESS must still raise (that's a half-written dir, and
    rebuilding is the correct response) — discarding our tmp first,
    since a uuid-named tmp can never be adopted by any retry (it
    would only leak, r14 review follow-up)."""
    import errno
    import os

    from bigbugdata_spark.operators.dedup_incr import publish_generation

    def _racing_rename(winner_success):
        def fake(src, dst):
            # the winner publishes between our rmtree and our rename
            os.makedirs(dst)
            if winner_success:
                (tmp_path / os.path.basename(dst) / "_SUCCESS").touch()
            raise OSError(errno.ENOTEMPTY, "Directory not empty", dst)

        return fake

    # adopt path: winner completed -> our tmp is discarded, loc stands
    tmp = tmp_path / "gen_abc.tmp"
    loc = tmp_path / "gen_abc"
    tmp.mkdir()
    (tmp / "part-0.parquet").touch()
    monkeypatch.setattr(os, "rename", _racing_rename(winner_success=True))
    publish_generation(tmp, loc)
    assert (loc / "_SUCCESS").exists() and not tmp.exists()

    # re-raise path: the colliding target is half-written (no _SUCCESS)
    tmp2 = tmp_path / "gen_def.tmp"
    loc2 = tmp_path / "gen_def"
    tmp2.mkdir()
    monkeypatch.setattr(os, "rename", _racing_rename(winner_success=False))
    with pytest.raises(OSError):
        publish_generation(tmp2, loc2)
    # our uuid-named tmp is discarded on the way out — no retry can
    # ever find it, so keeping it would only leak disk
    assert not tmp2.exists()


def test_publish_generation_never_deletes_a_complete_target(tmp_path):
    """A winner that completed while we were building may already be
    READING its artifact: the loser must adopt it WITHOUT the
    rmtree-then-rename window (r14 self-review — the first fix only
    covered the interleaving where the winner renamed between our
    rmtree and our rename)."""
    from bigbugdata_spark.operators.dedup_incr import publish_generation

    tmp = tmp_path / "gen_w.tmp"
    loc = tmp_path / "gen_w"
    tmp.mkdir()
    (tmp / "part-9.parquet").touch()
    loc.mkdir()
    (loc / "_SUCCESS").touch()
    (loc / "part-0.parquet").write_text("winner")
    publish_generation(tmp, loc)
    # the winner's artifact is byte-untouched; our copy is discarded
    assert (loc / "part-0.parquet").read_text() == "winner"
    assert not (loc / "part-9.parquet").exists()
    assert not tmp.exists()


def test_publish_generation_normal_path(tmp_path):
    """No race: tmp moves into place wholesale, replacing any stale
    prior generation directory."""
    from bigbugdata_spark.operators.dedup_incr import publish_generation

    tmp = tmp_path / "gen_x.tmp"
    loc = tmp_path / "gen_x"
    tmp.mkdir()
    (tmp / "_SUCCESS").touch()
    loc.mkdir()
    (loc / "stale").touch()
    publish_generation(tmp, loc)
    assert (loc / "_SUCCESS").exists()
    assert not (loc / "stale").exists()
    assert not tmp.exists()


# --- MTA fixture-liveness lint (ADVICE r13 #2) ------------------------------


def test_mta_fixture_runs_sit_far_below_path_cap(spark, sf_oracle):
    """The stream==batch claim for evt_stream_multi_touch is verbatim
    only below MTA_PATH_CAP; assert the oracle fixture's longest
    inter-purchase run (per user, trailing run included) stays under a
    quarter of the cap, so fixture drift fails HERE with a pointer to
    the cap rather than as an inscrutable parity mismatch."""
    from pyspark.sql import Window

    from bigbugdata_spark.catalog import table
    from bigbugdata_spark.streaming.events import MTA_PATH_CAP

    ev = table(spark, sf_oracle, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = ev.withColumn(
        "seg",
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).over(w),
    )
    max_run = (
        seg.filter(F.col("event_type") != "purchase")
        .groupBy("user_id", "seg")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_run is not None and max_run * 4 < MTA_PATH_CAP, (
        f"fixture max inter-purchase run {max_run} is within 4x of "
        f"MTA_PATH_CAP={MTA_PATH_CAP}: the stream==batch oracle gate "
        f"would degrade-by-design, not by bug — regenerate the fixture "
        f"or raise the cap"
    )


# --- engine-level: state survives a query RESTART on one checkpoint ---------


def _file_sink_restartable_run(spark, tmp_path, build, out, ckpt):
    """Drive build(ev_stream) into a parquet FILE sink with a
    persistent checkpoint.  Unlike _one_file_per_batch_run's memory
    sink, both the emissions and the state store survive the query
    instance — a second call with the same (out, ckpt) is a genuine
    checkpoint RECOVERY: only unseen source files are processed, and
    per-group state is DECODED from the store the previous instance
    wrote, across the JVM-side state-schema round-trip the in-process
    rollback test (test_kernels_replay_with_rolled_back_state...)
    cannot exercise."""
    from bigbugdata_spark.catalog import (
        _events_session_confs,
        normalize_events_ts,
    )

    _events_session_confs(spark)
    raw_schema = spark.read.parquet(str(tmp_path / "events.parquet")).schema
    raw = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "events.parque[t]"))
    )
    q = (
        build(normalize_events_ts(raw))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _mta_stream_build(ev):
    from pyspark.sql.streaming.state import GroupStateTimeout

    from bigbugdata_spark.functions.fragments import cents_col
    from bigbugdata_spark.streaming.events import (
        _MTA_OUTPUT_SCHEMA as _OUTPUT_SCHEMA,
        _MTA_STATE_SCHEMA as _STATE_SCHEMA,
        _credit_path,
    )

    return (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            cents_col().alias("cents"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _credit_path,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _funnel_stream_build(ev):
    from pyspark.sql.streaming.state import GroupStateTimeout

    from bigbugdata_spark.streaming.events import (
        _FUNNEL_OUTPUT_SCHEMA as _OUTPUT_SCHEMA,
        _FUNNEL_STATE_SCHEMA as _STATE_SCHEMA,
        _advance_funnel,
    )

    return (
        ev.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _advance_funnel,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def test_mta_state_survives_query_restart(spark, tmp_path):
    """Stop-and-restart on ONE checkpoint: instance 1 buffers user 1's
    two touches (emitting nothing) and terminates; a NEW query
    instance over the same checkpoint must decode that path buffer
    from the state store and split the phase-2 purchase across the
    recovered touches, in recovered order.  If recovery silently lost
    state the purchase would emit a single 'organic' credit — a wrong
    ANSWER, not a crash — which is exactly the failure mode a restart
    regression would take in production."""
    out, ckpt = tmp_path / "mta_out", tmp_path / "mta_ckpt"
    phase1 = [[(1, 100, 1, "click", 0)], [(1, 200, 2, "view", 0)]]
    _write_slice_files(tmp_path, phase1)
    _file_sink_restartable_run(spark, tmp_path, _mta_stream_build, out, ckpt)
    # instance 1 emitted nothing but MUST have committed state — prove
    # the restart recovers a non-empty store, not a trivial fresh one
    state_files = [
        p
        for p in (ckpt / "state").rglob("*")
        if p.is_file() and p.stat().st_size > 0
    ]
    assert state_files, "instance 1 left no state-store files to recover"
    _write_slice_files(tmp_path, [[(1, 300, 3, "purchase", 101)]], start=2)
    _file_sink_restartable_run(spark, tmp_path, _mta_stream_build, out, ckpt)
    got = sorted(
        (r["touch_type"], r["credit"])
        for r in spark.read.parquet(str(out)).collect()
    )
    # 101 cents over the recovered [click, view] path: trunc-div base
    # 50 each, remainder 1 to the LAST touch — the value pins both the
    # buffer's survival and its recovered ordering
    assert got == [("click", 50), ("view", 51)]


def test_funnel_step_clock_survives_query_restart(spark, tmp_path):
    """Same restart shape for the funnel: the signup (step 1) lands in
    instance 1; the qualifying click and the purchase land in instance
    2, whose step-2/step-3 attainment depends entirely on the t1/t2
    clocks recovered from the store (lost state => no signup on
    record => steps 2 and 3 silently never emit)."""
    out, ckpt = tmp_path / "fun_out", tmp_path / "fun_ckpt"
    _write_slice_files(tmp_path, [[(7, 100, 1, "signup", 0)]])
    _file_sink_restartable_run(
        spark, tmp_path, _funnel_stream_build, out, ckpt
    )
    after1 = sorted(
        (r["user_id"], r["step"])
        for r in spark.read.parquet(str(out)).collect()
    )
    assert after1 == [(7, 1)]
    _write_slice_files(
        tmp_path,
        [[(7, 200, 2, "click", 0)], [(7, 300, 3, "purchase", 0)]],
        start=1,
    )
    _file_sink_restartable_run(
        spark, tmp_path, _funnel_stream_build, out, ckpt
    )
    got = sorted(
        (r["user_id"], r["step"])
        for r in spark.read.parquet(str(out)).collect()
    )
    assert got == [(7, 1), (7, 2), (7, 3)]


def test_high_water_mark_survives_query_restart(spark, tmp_path):
    """The out-of-order detector is only as durable as its mark: an
    event below instance 1's high-water mark delivered to instance 2
    must still raise — the mark has to survive the restart inside the
    state row, or the enforcement of VERDICT r13 #2 would silently
    lapse at every deploy."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    out, ckpt = tmp_path / "hw_out", tmp_path / "hw_ckpt"
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


@pytest.mark.slow_tier
def test_funnel_restart_recovery_on_rocksdb_state_store(spark, tmp_path):
    """The same restart recovery on the SCALE-grade store: under
    rocksdb_state_store both query instances run on the
    RocksDBStateStoreProvider (changelog checkpointing on), instance 2
    decodes instance 1's step clock, and the checkpoint's SST files
    prove the provider actually engaged rather than silently falling
    back — the kernels' state schema must be provider-agnostic or the
    100 TB deployment posture documented on ROCKSDB_STATE_STORE_CONF
    is fiction."""
    from bigbugdata_spark.streaming.core import (
        ROCKSDB_STATE_STORE_CONF,
        rocksdb_state_store,
    )

    out, ckpt = tmp_path / "rdb_out", tmp_path / "rdb_ckpt"
    with rocksdb_state_store(spark):
        for k, v in ROCKSDB_STATE_STORE_CONF.items():
            assert spark.conf.get(k) == v
        _write_slice_files(tmp_path, [[(7, 100, 1, "signup", 0)]])
        _file_sink_restartable_run(
            spark, tmp_path, _funnel_stream_build, out, ckpt
        )
        _write_slice_files(
            tmp_path,
            [[(7, 200, 2, "click", 0)], [(7, 300, 3, "purchase", 0)]],
            start=1,
        )
        _file_sink_restartable_run(
            spark, tmp_path, _funnel_stream_build, out, ckpt
        )
    got = sorted(
        (r["user_id"], r["step"])
        for r in spark.read.parquet(str(out)).collect()
    )
    assert got == [(7, 1), (7, 2), (7, 3)]
    # with changelog checkpointing on, per-batch commits upload
    # *.changelog deltas (snapshot zips/SSTs only land on periodic
    # maintenance); the HDFS-backed provider writes *.delta/*.snapshot
    # instead, so any of these three proves RocksDB actually engaged
    rocksdb_artifacts = [
        p
        for pat in ("*.changelog", "*.zip", "*.sst")
        for p in (ckpt / "state").rglob(pat)
    ]
    assert rocksdb_artifacts, (
        "no RocksDB artifacts (changelogs / snapshot zips / SSTs) under "
        "the checkpoint's state dir — the provider conf did not engage"
    )
    # and the scoping restored the session's default provider
    assert "RocksDB" not in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )


def test_publish_debris_clear_cannot_destroy_a_late_winner(
    tmp_path, monkeypatch
):
    """The r14-review window: our rename collides with dead-session
    debris, our adopt check sees no _SUCCESS, and a concurrent winner
    completes loc BEFORE our clear executes.  The clear must therefore
    be an atomic rename-aside, never an in-place rmtree of loc — an
    rmtree there deletes a COMPLETE published generation file-by-file
    under any reader.  Pinned by spying rmtree: loc itself is never a
    deletion target; and because the aside turns out COMPLETE, the
    second-pass fix restores it intact (the winner's bytes stand, our
    copy is discarded) rather than replacing it."""
    import errno
    import os
    import shutil

    from bigbugdata_spark.operators.dedup_incr import publish_generation

    tmp = tmp_path / "gen_z.tmp-me"
    tmp.mkdir()
    (tmp / "_SUCCESS").touch()
    (tmp / "part-0.parquet").write_text("mine")
    loc = tmp_path / "gen_z"
    loc.mkdir()  # dead-session debris: non-empty, no _SUCCESS
    (loc / "part-half.parquet").touch()

    real_rename, real_rmtree = os.rename, shutil.rmtree
    rmtree_targets = []
    calls = {"n": 0}

    def racing_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 1:
            # our tmp -> loc publish collides with the debris
            raise OSError(errno.ENOTEMPTY, "Directory not empty", dst)
        if str(src) == str(loc):
            # the debris clear is executing NOW — the winner completed
            # loc in the window since the adopt check
            (loc / "_SUCCESS").touch()
            (loc / "part-0.parquet").write_text("winner")
        return real_rename(src, dst)

    def spying_rmtree(path, *a, **kw):
        rmtree_targets.append(str(path))
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(os, "rename", racing_rename)
    monkeypatch.setattr(shutil, "rmtree", spying_rmtree)
    publish_generation(tmp, loc)
    assert str(loc) not in rmtree_targets, (
        "publish_generation rmtree'd the generation location in place "
        "— a late winner's complete artifact would be destroyed "
        "file-by-file under its readers"
    )
    # converged: the winner's complete artifact was RESTORED in place
    # (not replaced by our byte-equivalent copy) and our tmp discarded
    assert (loc / "_SUCCESS").exists()
    assert (loc / "part-0.parquet").read_text() == "winner"
    assert not tmp.exists()
    # and no debris-aside sibling leaked from the restore path
    assert not list(tmp_path.glob("gen_z.debris-*"))


def test_build_tmp_paths_are_unique_per_builder():
    """Concurrent same-fingerprint builders get DISTINCT tmp dirs — a
    shared literal '.tmp' lets one builder rmtree/overwrite the
    other's in-progress Spark write (r14 review)."""
    import pathlib

    from bigbugdata_spark.operators.dedup_incr import build_tmp_path

    loc = pathlib.Path("/x/knn_edges_aaaaaaaa1111")
    a, b = build_tmp_path(loc), build_tmp_path(loc)
    assert a != b
    for t in (a, b):
        assert t.parent == loc.parent
        assert t.name.startswith("knn_edges_aaaaaaaa1111.tmp-")


def test_sweep_spares_live_same_fp_builds(spark, tmp_path, monkeypatch):
    """sweep_stale_generations must not collect a live same-fp build
    tmp ('{fp}.tmp-{uuid}') from a concurrent session, NOR a same-fp
    debris aside ('{fp}.debris-{uuid}') — the aside may hold a late
    winner's COMPLETE generation inside publish_generation's
    check-to-rename-back window and this sweep has no age gate
    (ADVICE r15); both wait for the TTL-gated
    collect_abandoned_siblings.  Only the published generation name
    and same-fp tmp/debris survive; other-fp generations, their tmps,
    and their debris are fair game."""
    from bigbugdata_spark.operators import dedup_incr as core

    root = tmp_path / "idxroot"
    root.mkdir()
    monkeypatch.setattr(core, "INDEX_ROOT", str(root))
    fp, other = "aaaaaaaa1111", "aaaaaaaa2222"
    keep = [
        f"knn_edges_{fp}",
        f"knn_edges_{fp}.tmp-deadbeef",
        f"knn_edges_{fp}.debris-deadbeef",
    ]
    sweepable = [
        f"knn_edges_{other}",
        f"knn_edges_{other}.tmp-deadbeef",
        f"knn_edges_{other}.debris-deadbeef",
    ]
    for name in keep + sweepable:
        (root / name).mkdir()
    core.sweep_stale_generations(spark, ("knn_edges_",), fp)
    left = sorted(p.name for p in root.iterdir())
    assert left == sorted(keep), left


def test_tmp_ttl_env_parse_survives_garbage(monkeypatch):
    """A malformed SPARK_GRAFT_TMP_TTL_S (e.g. '30m') must fall back
    to the 1800 s default with a warning instead of raising at module
    import and taking down every dedup/similarity query (ADVICE r15);
    a valid override still wins.  r16 folded the per-site parser into
    env_cfg.parse_ttl_env (VERDICT r15 #5) — same contract, and the
    int cast keeps the stricter pre-fold grammar ('3.5' is malformed
    for the tmp TTL, valid for the float-typed GC TTL)."""
    import warnings

    from bigbugdata_spark.env_cfg import parse_ttl_env

    def _parse():
        return parse_ttl_env("SPARK_GRAFT_TMP_TTL_S", 1800, int)

    monkeypatch.setenv("SPARK_GRAFT_TMP_TTL_S", "30m")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _parse() == 1800
    assert any("SPARK_GRAFT_TMP_TTL_S" in str(x.message) for x in w)
    monkeypatch.setenv("SPARK_GRAFT_TMP_TTL_S", "3.5")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _parse() == 1800
    assert any("SPARK_GRAFT_TMP_TTL_S" in str(x.message) for x in w)
    monkeypatch.setenv("SPARK_GRAFT_TMP_TTL_S", "42")
    assert _parse() == 42
    monkeypatch.delenv("SPARK_GRAFT_TMP_TTL_S")
    assert _parse() == 1800


@pytest.mark.slow_tier
def test_concurrent_generation_builders_both_succeed(tmp_path):
    """The END-TO-END validation of the publish stack under a real
    race: TWO separate processes (own JVMs) build the same never-built
    IVF generation concurrently.  Unique build tmps mean neither can
    clobber the other's in-progress write; the rename-first publish
    means whoever loses adopts the winner's byte-equivalent artifact.
    Both processes must exit 0, both generation locations must end
    COMPLETE, and no tmp/debris siblings may survive.  Any failure
    here is a real bug by contract — the machinery claims safety under
    EVERY interleaving."""
    import os
    import shutil
    import subprocess
    import sys
    from pathlib import Path

    from tests.conftest import SF_SMALL

    src = Path(SF_SMALL) / "embeddings.parquet"
    if not src.exists():
        pytest.skip(f"fixture corpus absent: {src}")
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    if src.is_dir():
        shutil.copytree(src, corpus / "embeddings.parquet")
    else:
        shutil.copy2(src, corpus / "embeddings.parquet")

    script = (
        "import sys\n"
        "from bigbugdata_spark.session import get_spark\n"
        "from bigbugdata_spark.operators.similarity import "
        "ivf_index_generation\n"
        "cb, cnt = ivf_index_generation(get_spark('race'), sys.argv[1])\n"
        "print('BUILDER_OK', cb.count(), cnt.count())\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    repo_root = str(Path(__file__).resolve().parents[1])
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, str(corpus)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
            cwd=repo_root,
            env=env,
        )
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=600) for p in procs]

    from bigbugdata_spark.operators.dedup_incr import index_path
    from bigbugdata_spark.operators.similarity import (
        _IVF_CB_PREFIX,
        _IVF_CNT_PREFIX,
        ivf_generation_fp,
    )

    fp = ivf_generation_fp(str(corpus))
    locs = [
        Path(index_path(f"{p}{fp}"))
        for p in (_IVF_CB_PREFIX, _IVF_CNT_PREFIX)
    ]
    try:
        for p, (out, err) in zip(procs, outs):
            assert p.returncode == 0 and "BUILDER_OK" in out, err[-2000:]
        for loc in locs:
            assert (loc / "_SUCCESS").exists(), str(loc)
            leftovers = [
                q.name
                for pat in (".tmp*", ".debris*")
                for q in loc.parent.glob(loc.name + pat)
            ]
            assert not leftovers, leftovers
    finally:
        # the tmp corpus is unique to this test: collect its index
        # dirs AND any tmp/debris siblings a failed builder left (no
        # future sweep is ever scoped to this one-off corpus path, so
        # anything missed here would sit in the shared index root
        # until its TTL — r14 review follow-up)
        for loc in locs:
            shutil.rmtree(loc, ignore_errors=True)
            for pat in (".tmp*", ".debris*"):
                for d in loc.parent.glob(loc.name + pat):
                    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow_tier
def test_sessionizer_timeout_and_state_survive_query_restart(
    spark, tmp_path
):
    """The EventTimeTimeout recovery surface (distinct from the
    NoTimeout kernels above): an instance-1 shutdown leaves two users'
    sessions OPEN, each with a registered timeout timestamp.  The NEW
    instance must (a) extend and then gap-close user 42's recovered
    session with the recovered start/count, and (b) fire the
    EventTimeTimeout for user 43 — a group with NO phase-2 data at
    all — purely from the recovered timeout timestamp once the
    recovered-then-advanced watermark passes it."""
    from pyspark.sql.streaming.state import GroupStateTimeout

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
    # phase 2: ts=120 EXTENDS 42's recovered session (within the 5 min
    # gap); ts=3600 gap-closes it (n=3 proves the recovered start and
    # count); the third file gives the engine a batch AFTER the
    # watermark has advanced to 3000 s, which is when 43's recovered
    # timeout (300 s) fires
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


def test_collector_reaps_abandoned_spares_live(tmp_path):
    """The age-gated collector removes a dead session's build tmp /
    debris (newest file older than TTL) but spares a fresh one — the
    liveness signal a live Spark write keeps refreshing — and never
    touches the generation location itself or other-name siblings."""
    import os
    import time

    from bigbugdata_spark.operators.dedup_incr import collect_abandoned_siblings

    loc = tmp_path / "gen_q"
    loc.mkdir()
    (loc / "_SUCCESS").touch()
    old_t = time.time() - 7200
    dead_tmp = tmp_path / "gen_q.tmp-dead"
    dead_tmp.mkdir()
    (dead_tmp / "part-0.parquet").touch()
    os.utime(dead_tmp / "part-0.parquet", (old_t, old_t))
    os.utime(dead_tmp, (old_t, old_t))
    dead_debris = tmp_path / "gen_q.debris-dead"
    dead_debris.mkdir()
    os.utime(dead_debris, (old_t, old_t))
    live_tmp = tmp_path / "gen_q.tmp-live"
    live_tmp.mkdir()
    (live_tmp / "part-0.parquet").touch()  # fresh mtime = live write
    other = tmp_path / "gen_qq.tmp-dead"  # different generation name
    other.mkdir()
    os.utime(other, (old_t, old_t))

    collect_abandoned_siblings(loc, ttl_seconds=1800)
    left = sorted(p.name for p in tmp_path.iterdir())
    assert left == ["gen_q", "gen_q.tmp-live", "gen_qq.tmp-dead"], left


def test_collector_liveness_is_newest_file_not_dir_mtime(tmp_path):
    """A long write parks task files under subdirectories (Spark's
    _temporary tree), so the TOP directory's mtime can go stale while
    the build is very much alive — liveness must be the newest mtime
    in the TREE."""
    import os
    import time

    from bigbugdata_spark.operators.dedup_incr import collect_abandoned_siblings

    loc = tmp_path / "gen_r"
    busy = tmp_path / "gen_r.tmp-busy"
    deep = busy / "_temporary" / "0"
    deep.mkdir(parents=True)
    (deep / "task-file").touch()  # fresh — the live signal
    old_t = time.time() - 7200
    os.utime(busy, (old_t, old_t))  # top dir looks stale
    collect_abandoned_siblings(loc, ttl_seconds=1800)
    assert busy.exists()


def test_publish_generation_interleaving_fuzz(tmp_path):
    """Model-check the publish under ADVERSARIAL interleavings: before
    every os.rename / shutil.rmtree the publisher makes, hypothesis
    may have an external winner land a complete generation on any
    absent loc (the only thing rename semantics let a real winner do).
    Machine-checked invariants, for every drawn schedule and starting
    loc state (absent / debris / complete):

    - deletion safety: rmtree only ever targets our own tmp or an
      aside WITHOUT _SUCCESS — never loc, never anyone's complete
      artifact;
    - convergence: a normal return leaves loc complete and our tmp
      consumed/discarded;
    - loud failure: a raise leaves no tmp leak."""
    import os
    import shutil
    from uuid import uuid4

    from hypothesis import given, settings, strategies as st

    from bigbugdata_spark.operators.dedup_incr import publish_generation

    real_rename, real_rmtree = os.rename, shutil.rmtree

    def make_complete(loc):
        os.makedirs(loc)
        with open(os.path.join(loc, "_SUCCESS"), "w"):
            pass
        with open(os.path.join(loc, "part-0.parquet"), "w") as f:
            f.write("external")

    @settings(max_examples=80, deadline=None)
    @given(st.data())
    def run(data):
        case = tmp_path / f"case_{uuid4().hex}"
        case.mkdir()
        loc = case / "gen"
        tmp = case / "gen.tmp-me"
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

        def maybe_external():
            if not loc.exists() and data.draw(
                st.booleans(), label="external_publish"
            ):
                make_complete(loc)

        def fuzzed_rename(src, dst):
            maybe_external()
            return real_rename(src, dst)

        def checked_rmtree(path, *a, **kw):
            maybe_external()
            p = str(path)
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
            raised = False
            try:
                publish_generation(tmp, loc)
            except OSError:
                raised = True
        finally:
            os.rename, shutil.rmtree = real_rename, real_rmtree
        assert not violations, violations
        if not raised:
            assert (loc / "_SUCCESS").exists(), "returned without artifact"
            assert not tmp.exists(), "returned but tmp not consumed"
        else:
            assert not tmp.exists(), "raised and leaked our tmp"
        shutil.rmtree(case, ignore_errors=True)

    run()


def test_upsert_sink_exactly_once_across_restart_with_overlap(
    spark, tmp_path
):
    """Same-checkpoint restart for the foreachBatch upsert sink, plus a
    SOURCE overlap: the restarted instance's new file re-delivers one
    already-materialized event_id alongside new ones.  Offsets must
    resume (phase-1 files are not re-read) and the anti-join must drop
    the overlapping key — the table ends exactly one row per event_id.
    This is the cross-instance face of test_streaming.py's replay
    idempotence (which replays into a FRESH checkpoint)."""
    from bigbugdata_spark.streaming.core import run_incremental_dedup_sink

    out, ckpt = tmp_path / "mat", tmp_path / "ckpt"
    _write_slice_files(
        tmp_path,
        [[(1, 0, 1, "click", 0), (2, 10, 2, "view", 0)]],
    )
    run_incremental_dedup_sink(spark, str(tmp_path), str(out), str(ckpt))
    assert spark.read.parquet(str(out)).count() == 2
    _write_slice_files(
        tmp_path,
        [
            [
                (2, 10, 2, "view", 0),  # overlap: already materialized
                (3, 20, 3, "click", 0),
                (1, 30, 4, "purchase", 100),
            ]
        ],
        start=1,
    )
    run_incremental_dedup_sink(spark, str(tmp_path), str(out), str(ckpt))
    rows = spark.read.parquet(str(out))
    assert rows.count() == 4
    assert sorted(r["event_id"] for r in rows.collect()) == [1, 2, 3, 4]
