"""Structured Streaming semantics: stream-vs-batch equivalence of the
registered streaming queries, the stateful kernels (MTA path buffer,
step-deadline funnel, sessionizer) under any slicing and out-of-order
feeds, restart recovery on both state stores, and the foreachBatch
sinks' crash convergence."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pytest

from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.registry import load_all
from bigbugdata_spark.streaming.core import OutOfOrderFeedError
from bigbugdata_spark.streaming.events import (
    _ATTRIB_OUTPUT_SCHEMA as _OUTPUT_SCHEMA,
    _ATTRIB_STATE_SCHEMA as _STATE_SCHEMA,
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


class _State:
    """Duck-typed stand-in for GroupState: _attribute touches only
    .exists / .get / .update."""

    def __init__(self, value=None):
        self._v = value

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


def test_stream_mta_kernel_path_and_reset():
    """The path-buffer kernel: touches accumulate in order across
    chunks, a purchase credits cents-div-k with remainder to the LAST
    touch and resets the path, an empty path credits organic."""
    import pandas as pd

    from bigbugdata_spark.streaming.events import _credit_path

    class _S:
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

    def chunk(rows):
        return pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": pd.to_datetime([r[1] for r in rows], unit="s"),
                "event_id": [r[2] for r in rows],
                "event_type": [r[3] for r in rows],
                "cents": [r[4] for r in rows],
            }
        )

    s = _S()
    # two touches then a 100-cent purchase: 50/50, remainder 0
    out = pd.concat(
        list(
            _credit_path(
                (1,),
                iter(
                    [
                        chunk(
                            [
                                (1, 1, 10, "click", 0),
                                (1, 2, 20, "view", 0),
                                (1, 3, 30, "purchase", 100),
                            ]
                        )
                    ]
                ),
                s,
            )
        )
    )
    assert list(zip(out["touch_type"], out["credit"])) == [("click", 50), ("view", 50)]
    # path reset after the purchase; high-water mark at the last event
    assert s.get == ("", 0, 3_000_000, 30)
    # next purchase with no new touches -> organic; 3-way split with
    # remainder to the LAST touch: 101 over [a,b,c] -> 33,33,35
    out2 = pd.concat(
        list(_credit_path((1,), iter([chunk([(1, 4, 40, "purchase", 77)])]), s))
    )
    assert list(zip(out2["touch_type"], out2["credit"])) == [("organic", 77)]
    for r in [(1, 5, 50, "search", 0), (1, 6, 60, "click", 0), (1, 7, 70, "view", 0)]:
        list(_credit_path((1,), iter([chunk([r])]), s))
    out3 = pd.concat(
        list(_credit_path((1,), iter([chunk([(1, 8, 80, "purchase", 101)])]), s))
    )
    assert list(zip(out3["touch_type"], out3["credit"])) == [
        ("search", 33),
        ("click", 33),
        ("view", 35),
    ]


@pytest.mark.slow_tier
def test_stream_mta_matches_batch(spark, sf_oracle):
    """Whole-fixture availableNow stream == the batch window derivation
    (the registered oracle gates both; this pins Spark-vs-Spark)."""
    streamed = {
        tuple(r)
        for r in SPECS["evt_stream_multi_touch"].fn(spark, sf_oracle).collect()
    }
    batch = {
        tuple(r)
        for r in SPECS["evt_multi_touch_attribution"].fn(spark, sf_oracle).collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_stream_mta_over_cap_through_engine(spark, tmp_path):
    """The cap degrade through the ACTUAL streaming engine, not just
    the kernel: a planted user with MTA_PATH_CAP+5 touches then one
    purchase must credit exactly the LAST cap touches (state survives
    the state-store round-trip), alongside a normal under-cap user
    whose credit matches the uncapped batch math."""
    import datetime as dt

    from bigbugdata_spark.streaming.events import MTA_PATH_CAP

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    cap = MTA_PATH_CAP
    # user 1: cap+5 clicks, then a 100.00 purchase -> last cap touches
    # split 10000 cents: div = 19, rem = 10000 - 19*512 = 272 (cap 512)
    for i in range(cap + 5):
        eid += 1
        rows.append(
            (eid, base + dt.timedelta(seconds=i), 1, "click", 0.0, "{}")
        )
    eid += 1
    rows.append(
        (eid, base + dt.timedelta(seconds=cap + 6), 1, "purchase", 100.0, "{}")
    )
    # user 2: two touches then a 0.77 purchase (under-cap, batch math)
    for i, t in enumerate(("view", "click")):
        eid += 1
        rows.append((eid, base + dt.timedelta(seconds=i), 2, t, 0.0, "{}"))
    eid += 1
    rows.append((eid, base + dt.timedelta(seconds=9), 2, "purchase", 0.77, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r["touch_type"]: (r["n_credits"], r["credited_cents"])
        for r in SPECS["evt_stream_multi_touch"].fn(spark, str(tmp_path)).collect()
    }
    base_credit, rem = divmod(10_000, cap)
    # user 1: cap click-credits conserving 10000 cents exactly;
    # user 2: view 38, click 39 (77 div 2 = 38, remainder to the last)
    assert got["click"] == (cap + 1, base_credit * cap + rem + 39)
    assert got["view"] == (1, 38)


# --- slicing-invariance property tests for the stateful kernels ------------
# The ordering contract both kernels state ("emissions equal the batch
# derivation for ANY micro-batch slicing of a per-user in-order feed")
# is checked here the strong way: hypothesis draws a random event
# sequence and a random slicing, and every slicing must produce the
# SAME emissions as the one-shot run.  Pure kernel calls — no Spark.


def _random_events(draw, st):
    n = draw(st.integers(min_value=1, max_value=40))
    rows = []
    ts = 0
    for i in range(n):
        ts += draw(st.integers(min_value=1, max_value=30_000))  # seconds
        kind = draw(
            st.sampled_from(["click", "view", "search", "purchase", "signup"])
        )
        cents = draw(st.integers(min_value=-500, max_value=50_000))
        rows.append((7, ts, i + 1, kind, cents if kind == "purchase" else 0))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=max(1, n - 1)),
                max_size=5,
                unique=True,
            )
        )
    ) if n > 1 else []
    return rows, cuts


def _slices(rows, cuts):
    out, prev = [], 0
    for c in [*cuts, len(rows)]:
        if rows[prev:c]:
            out.append(rows[prev:c])
        prev = c
    return out


def test_mta_kernel_slicing_invariance():
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=60, deadline=None)
    @given(st.data())
    def run(data):
        rows, cuts = _random_events(data.draw, st)
        one = _State()
        whole = _mta_run(one, rows)
        whole_t = (
            list(zip(whole["touch_type"], whole["credit"]))
            if whole is not None
            else []
        )
        sliced = _State()
        got = []
        for sl in _slices(rows, cuts):
            out = _mta_run(sliced, sl)
            if out is not None:
                got.extend(zip(out["touch_type"], out["credit"]))
        assert got == whole_t
        assert sliced.get == one.get  # carried state converges too

    run()


def test_funnel_kernel_slicing_invariance():
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=60, deadline=None)
    @given(st.data())
    def run(data):
        rows, cuts = _random_events(data.draw, st)
        one = _State()
        whole = _funnel_run(one, rows)
        sliced = _State()
        got = []
        for sl in _slices(rows, cuts):
            got.extend(_funnel_run(sliced, sl))
        assert got == whole
        assert sliced.get == one.get

    run()


def _mta_run(state, rows):
    import pandas as pd

    from bigbugdata_spark.streaming.events import _credit_path

    out = list(_credit_path((1,), iter([_chunk(rows)]), state))
    return pd.concat(out) if out else None


def test_stream_mta_at_cap_equals_uncapped_batch_math():
    """Exactly MTA_PATH_CAP touches is still the UNDER-cap contract:
    every touch credits, base/remainder math identical to the batch
    derivation (the cap bounds state, it does not change any path a
    real user produces — sf0.1's max run is 45, an order below)."""
    from bigbugdata_spark.streaming.events import MTA_PATH_CAP

    s = _State()
    cap = MTA_PATH_CAP
    touches = [(1, i + 1, i + 1, f"t{i}", 0) for i in range(cap)]
    _mta_run(s, touches)
    assert s.get[1] == cap  # state holds the full path, none dropped
    out = _mta_run(s, [(1, cap + 1, cap + 1, "purchase", 10 * cap + 3)])
    assert len(out) == cap
    assert list(out["touch_type"]) == [f"t{i}" for i in range(cap)]
    base, rem = 10, 3  # (10*cap+3) div cap / mod cap
    assert list(out["credit"]) == [base] * (cap - 1) + [base + rem]
    assert s.get == ("", 0, (cap + 1) * 1_000_000, cap + 1)


def test_stream_mta_over_cap_credits_last_k_exactly():
    """One touch past the cap drops the OLDEST: a cap+3-touch path
    credits exactly the last MTA_PATH_CAP touches (deterministic
    last-K degrade), state never exceeds the cap, and total credit
    still conserves the purchase's cents."""
    from bigbugdata_spark.streaming.events import MTA_PATH_CAP

    s = _State()
    cap = MTA_PATH_CAP
    touches = [(1, i + 1, i + 1, f"t{i}", 0) for i in range(cap + 3)]
    # sliced across calls: the cap must hold across state round-trips
    _mta_run(s, touches[: cap // 2])
    _mta_run(s, touches[cap // 2 :])
    assert s.get[1] == cap  # bounded state, oldest 3 gone
    cents = 7 * cap + 5
    out = _mta_run(s, [(1, cap + 4, cap + 4, "purchase", cents)])
    assert len(out) == cap
    assert list(out["touch_type"]) == [f"t{i}" for i in range(3, cap + 3)]
    assert int(out["credit"].sum()) == cents  # conservation under degrade


# --- streaming step-deadline funnel (r13-new, O(1) state) ------------------


def _funnel_run(state, rows):
    import pandas as pd

    from bigbugdata_spark.streaming.events import _advance_funnel

    out = list(_advance_funnel((7,), iter([_chunk(rows)]), state))
    return list(pd.concat(out)["step"]) if out else []


def test_stream_funnel_kernel_steps_and_deadlines():
    """The step clock: signup starts it, a click qualifies only inside
    (t1, t1+6h], the purchase only inside (t2, t2+6h]; each step emits
    exactly once; pre-signup clicks and equal-timestamp boundaries
    (strict >) are ignored — the batch query's exact semantics."""
    from bigbugdata_spark.operators.events import STEP_WINDOW_US

    w_s = STEP_WINDOW_US // 1_000_000  # the 6h window in seconds
    # full conversion, sliced across two calls (state round-trip)
    s = _State()
    assert _funnel_run(s, [
        (7, 50, 1, "click", 0),       # pre-signup click: ignored
        (7, 100, 2, "signup", 0),
        (7, 100, 3, "click", 0),      # us == t1: strict >, ignored
    ]) == [1]
    assert _funnel_run(s, [
        (7, 100 + w_s, 4, "click", 0),        # exactly t1+6h: qualifies
        (7, 100 + w_s + 10, 5, "purchase", 0),
    ]) == [2, 3]
    assert _funnel_run(s, [(7, 100 + w_s + 20, 6, "purchase", 0)]) == []

    # missed step-2 deadline: the funnel stalls at step 1 forever
    s2 = _State()
    assert _funnel_run(s2, [
        (7, 100, 1, "signup", 0),
        (7, 101 + w_s, 2, "click", 0),        # one second past t1+6h
        (7, 102 + w_s, 3, "purchase", 0),
    ]) == [1]
    assert s2.get == (100_000_000, -1, False, (102 + w_s) * 1_000_000, 3)

    # step-3 clock anchors to the QUALIFYING click, not the signup
    s3 = _State()
    assert _funnel_run(s3, [
        (7, 100, 1, "signup", 0),
        (7, 100 + w_s, 2, "click", 0),
        (7, 100 + 2 * w_s, 3, "purchase", 0),  # within t2+6h, past t1+6h
    ]) == [1, 2, 3]


def test_funnel_no_signup_feed_counts_zero(spark, tmp_path):
    """A feed with clicks/purchases but NO signups must count zeros,
    not NULLs: the streaming twin emits nothing (SUM over an empty
    memory table is NULL without the coalesce) and the batch twin has
    the same hole on an empty table — both pinned against the shared
    oracle (r13 review finding)."""
    import datetime as dt

    import duckdb

    from tests.parity import compare

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 9, "click", 0.0, "{}"),
        (2, base + dt.timedelta(seconds=5), 9, "purchase", 3.5, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM "
        f"'{tmp_path}/events.parquet/*.parquet'"
    )
    for name in ("evt_funnel_steps", "evt_stream_funnel_steps"):
        spec = SPECS[name]
        ok, msg = compare(spec.fn(spark, str(tmp_path)), con, spec.oracle)
        assert ok, f"{name}: {msg}"
    con.close()


def test_stream_funnel_matches_batch(spark, sf_oracle):
    """Whole-fixture availableNow stream == the batch derivation (the
    registered oracle gates both; this pins Spark-vs-Spark)."""
    streamed = {
        tuple(r)
        for r in SPECS["evt_stream_funnel_steps"].fn(spark, sf_oracle).collect()
    }
    batch = {
        tuple(r)
        for r in SPECS["evt_funnel_steps"].fn(spark, sf_oracle).collect()
    }
    assert streamed == batch and len(streamed) == 1


def test_stream_mta_negative_cents_truncating_division():
    """A refund-style negative purchase splits with TRUNCATING div/rem
    (ADVICE r12: Python divmod floors — -7 divmod 2 is (-4, 1) — but
    Spark div/% and DuckDB /// % give (-3, -1); the kernel must match
    the batch engines, keeping stream == batch for any sign)."""
    s = _State()
    out = _mta_run(
        s,
        [
            (1, 1, 1, "click", 0),
            (1, 2, 2, "view", 0),
            (1, 3, 3, "purchase", -7),
        ],
    )
    assert list(zip(out["touch_type"], out["credit"])) == [
        ("click", -3),
        ("view", -4),  # base -3 + remainder -1 to the last touch
    ]
    assert int(out["credit"].sum()) == -7


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
