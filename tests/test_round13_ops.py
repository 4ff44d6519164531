"""Round-13 invariants.

The round's charter is consolidation (VERDICT r12 #8): no new query
families — the tests here pin the two scale-posture fixes instead.

1. The re-scoped sim_ivf_incremental_assign (VERDICT r12 #2): the
   persisted IVF index generation (frozen codebook + per-cell counts)
   must equal a from-scratch rebuild (adoption correctness), a warm
   cycle must not scan the full corpus (plan-level proof the O(corpus)
   work moved into the amortized build), and a stale same-corpus
   generation must be swept, not adopted.

2. The bounded streaming MTA path buffer (VERDICT r12 #3): under-cap
   paths still equal the batch query exactly; an over-cap user
   degrades to last-MTA_PATH_CAP-touch credit, deterministically.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from bigbugdata_spark.registry import load_all

SPECS = load_all()


def _gen_paths(sf_dir: str) -> tuple[Path, Path]:
    from bigbugdata_spark.operators.dedup_incr_core import index_path
    from bigbugdata_spark.operators.similarity_incr import (
        _IVF_CB_PREFIX,
        _IVF_CNT_PREFIX,
        ivf_generation_fp,
    )

    fp = ivf_generation_fp(sf_dir)
    return (
        Path(index_path(f"{_IVF_CB_PREFIX}{fp}")),
        Path(index_path(f"{_IVF_CNT_PREFIX}{fp}")),
    )


@pytest.mark.slow_tier
def test_ivf_generation_adoption_equals_rebuild(spark, sf_oracle):
    """A persisted generation adopted by a later call must be
    indistinguishable from a fresh build — the same append==rebuild
    bar the gram index met in r8.  Also pins that the persisted
    n_before equals a direct recompute of the existing slice's routed
    assignment (the artifact IS the inverted file's sizes, not a
    cached approximation)."""
    from bigbugdata_spark.functions.fragments import scaled_ivf_k
    from bigbugdata_spark.operators.similarity import ivf_assign, ivf_cents
    from bigbugdata_spark.operators.similarity_incr import (
        _existing_corpus,
        ivf_index_generation,
    )

    cb_loc, cnt_loc = _gen_paths(sf_oracle)
    _, cnt = ivf_index_generation(spark, sf_oracle)  # build or adopt
    adopted = {r["cell_id"]: r["n_before"] for r in cnt.collect()}

    # force a rebuild: remove both locations, call again
    shutil.rmtree(cb_loc)
    shutil.rmtree(cnt_loc)
    _, cnt2 = ivf_index_generation(spark, sf_oracle)
    rebuilt = {r["cell_id"]: r["n_before"] for r in cnt2.collect()}
    assert adopted == rebuilt

    # the artifact equals a direct from-scratch recompute
    existing = _existing_corpus(spark, sf_oracle)
    k = scaled_ivf_k(existing.count())
    direct = {
        r["cell_id"]: r["n"]
        for r in ivf_assign(existing, ivf_cents(existing, k=k), k=k)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert rebuilt == direct


def test_ivf_generation_partial_write_rebuilds(spark, sf_oracle):
    """Adoption is gated on BOTH _SUCCESS markers: a generation with
    one location missing (the crash-between-renames window) is not
    half-adopted — the next call rebuilds both."""
    from bigbugdata_spark.operators.similarity_incr import ivf_index_generation

    cb_loc, cnt_loc = _gen_paths(sf_oracle)
    ivf_index_generation(spark, sf_oracle)
    shutil.rmtree(cnt_loc)  # simulate the partial crash
    ivf_index_generation(spark, sf_oracle)
    assert (cb_loc / "_SUCCESS").exists() and (cnt_loc / "_SUCCESS").exists()


def test_incremental_assign_tiny_corpus_routing_k(spark, tmp_path):
    """On a corpus whose existing slice is smaller than the IVF_K=16
    codebook floor, the warm cycle must route with the BUILD's K (the
    floor), not the codebook's row count — a bare cb.count() shrinks
    the supercell prefix and diverges from the oracle's routing (r13
    review finding).  Planted 40-vector corpus (existing slice < 16
    after the batch predicate would need <18 total; 40 gives existing
    36 — so plant 14): parity against the registered oracle on a
    documents+embeddings-only tmp dir."""
    import duckdb

    from bigbugdata_spark.functions.fragments import EMB_DIM
    from tests.parity import compare

    # 14 vectors -> existing ~12-13 (< 16), batch the rest
    rows = [
        (int(i), [float((i * 7 + d) % 11) - 5.0 for d in range(EMB_DIM)])
        for i in range(14)
    ]
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "embeddings.parquet"))
    spec = SPECS["sim_ivf_incremental_assign"]
    df = spec.fn(spark, str(tmp_path))
    con = duckdb.connect()
    # Spark writes a directory; DuckDB needs the part-file glob
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet/*.parquet'"
    )
    ok, msg = compare(df, con, spec.oracle)
    con.close()
    assert ok, msg


def test_incremental_assign_warm_plan_is_batch_sized(spark, sf_oracle):
    """Plan-level proof of the r13 re-scope (VERDICT r12 #2): with the
    generation warm, the registered query's plan reads the embeddings
    TABLE exactly once (the batch slice's row-filtered scan — the
    routed assignment joins the batch against the K-row broadcast
    codebook, never against the corpus) plus the two K-row generation
    parquets.  Through r12 the plan held THREE embeddings scans
    (existing-assign, batch-assign, codebook sample) — the O(corpus)
    recompute this round moved into the amortized build."""
    from bigbugdata_spark.operators.similarity_incr import ivf_index_generation
    from bigbugdata_spark.plans.inspect import scan_info

    ivf_index_generation(spark, sf_oracle)  # ensure warm
    df = SPECS["sim_ivf_incremental_assign"].fn(spark, sf_oracle)
    locs = [s["location"] for s in scan_info(df)]
    emb_scans = [p for p in locs if "embeddings.parquet" in p]
    gen_scans = [p for p in locs if "ivfgen_" in p]
    assert len(emb_scans) == 1, locs
    assert len(gen_scans) >= 2, locs


def test_stream_mta_over_cap_through_engine(spark, tmp_path):
    """The cap degrade through the ACTUAL streaming engine, not just
    the kernel: a planted user with MTA_PATH_CAP+5 touches then one
    purchase must credit exactly the LAST cap touches (state survives
    the state-store round-trip), alongside a normal under-cap user
    whose credit matches the uncapped batch math."""
    import datetime as dt

    from bigbugdata_spark.streaming.mta import MTA_PATH_CAP

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


# --- kraken matrix-sink pivot stays HashAggregate (r13) --------------------


def test_kraken_scale_pivot_is_hash_aggregate(spark, tmp_path):
    """The scale sink's per-taxon aggregate must HashAggregate: the r12
    struct-valued PivotFirst silently fell to SortAggregate (two full
    sorts of the long fact — measured 0.5-1.1 s on the bench fixture);
    the r13 dual-scalar form keeps primitive slot buffers.  Pinned
    here so a future 'tidy it into one struct agg' change is a red X,
    not a silent regression."""
    from bigbugdata_spark.operators.kraken import _taxon_entries, run_pipeline

    rows = [
        "50.0\t100\t100\t0\t0\t0\t0\tunclassified\tunclassified",
        "50.0\t100\t0\t10\t1.0\t0.5\t1\troot\t  root",
        "1.0\t10\t0\t5\t1.5\t0.5\t1235\tspecies\t  Ok sp.",
    ]
    from tests.test_kraken_units import _write_report

    paths = []
    for s in ("A_report.txt", "B_report.txt"):
        p = tmp_path / s
        _write_report(p, rows)
        paths.append(str(p))
    result = run_pipeline(spark, paths)
    by_taxon = _taxon_entries(result.rrpm)
    plan = by_taxon._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


# --- dedup survivorship-quality card (r13-new) -----------------------------


def test_survivor_quality_conserves_and_matches_keep(spark, sf_oracle):
    """Both cohorts live on the fixture; kept+removed doc/token/deci
    totals equal the whole-corpus totals (conservation — the card
    partitions the corpus exactly); the removed doc count equals
    dedup_cluster_keep's keep=0 count (one decision, two
    registrations)."""
    from bigbugdata_spark.functions.fragments import (
        quality_base_frame,
        quality_deci_col,
    )

    rows = {
        r["cohort"]: r
        for r in SPECS["corpus_survivor_quality"].fn(spark, sf_oracle).collect()
    }
    assert set(rows) == {"kept", "removed"}
    whole = (
        quality_base_frame(spark, sf_oracle)
        .select("n_tokens", quality_deci_col().alias("deci"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_tokens").alias("t"),
            F.sum("deci").alias("d"),
        )
        .collect()[0]
    )
    assert rows["kept"]["n_docs"] + rows["removed"]["n_docs"] == whole["n"]
    assert (
        rows["kept"]["total_tokens"] + rows["removed"]["total_tokens"]
        == whole["t"]
    )
    assert rows["kept"]["deci_sum"] + rows["removed"]["deci_sum"] == whole["d"]
    n_removed = (
        SPECS["dedup_cluster_keep"]
        .fn(spark, sf_oracle)
        .filter(F.col("keep") == 0)
        .count()
    )
    assert rows["removed"]["n_docs"] == n_removed


# --- bounded streaming MTA path buffer (VERDICT r12 #3) --------------------


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


def _mta_chunk(rows):
    import pandas as pd

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
    import pandas as pd

    from bigbugdata_spark.streaming.mta import _credit_path

    out = list(_credit_path((1,), iter([_mta_chunk(rows)]), state))
    return pd.concat(out) if out else None


def test_stream_mta_at_cap_equals_uncapped_batch_math():
    """Exactly MTA_PATH_CAP touches is still the UNDER-cap contract:
    every touch credits, base/remainder math identical to the batch
    derivation (the cap bounds state, it does not change any path a
    real user produces — sf0.1's max run is 45, an order below)."""
    from bigbugdata_spark.streaming.mta import MTA_PATH_CAP

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
    from bigbugdata_spark.streaming.mta import MTA_PATH_CAP

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

    from bigbugdata_spark.streaming.funnel_steps import _advance_funnel

    out = list(_advance_funnel((7,), iter([_mta_chunk(rows)]), state))
    return list(pd.concat(out)["step"]) if out else []


def test_stream_funnel_kernel_steps_and_deadlines():
    """The step clock: signup starts it, a click qualifies only inside
    (t1, t1+6h], the purchase only inside (t2, t2+6h]; each step emits
    exactly once; pre-signup clicks and equal-timestamp boundaries
    (strict >) are ignored — the batch query's exact semantics."""
    from bigbugdata_spark.operators.events_funnel_steps import STEP_WINDOW_US

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
