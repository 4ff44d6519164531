"""Round-17 bench-policy properties (VERDICT r16 #1/#2/#3/#4).

1) The canary-normalized wall gate (bench.wall_gate_verdict) as pure
unit-tested policy — VERDICT r16 #1: the r16 artifact shipped a red
`dedup_incremental` x10 gate whose four-run re-anchor proved window
drift; the gate now absorbs exactly that class (raw breach on an
in-band drifted window whose normalized reading is within budget) and
nothing else: a clean-window regression still breaches, an
out-of-band window is never trusted in either direction.

2) The bounded same-session retry loop (bench.run_wall_gate) with fake
measure/canary callables — a breach re-measures up to
WALL_GATE_MAX_ATTEMPTS times and publishes every attempt's verdict, so
a pass-on-retry is visibly not a clean first reading.

3) The kraken-session drift-mechanism classifier
(bench.kraken_drift_mechanism) — VERDICT r16 #3: two rounds running,
the kraken session's canary drifted (8.4x, 5.33x) while the query-loop
session sat in band; the three-point in-session trace now names the
mechanism (cold-session warm-up vs whole-session window vs
intermittent) instead of stamping low_confidence and shrugging.

4) The round-open driver-parse guard (bench.parse_driver_tail) —
VERDICT r16 #4: r13-r15 shipped parsed:null for three rounds before
anyone noticed.  The guard re-derives the driver's tail-parse against
the PREVIOUS round's recorded BENCH_r{N}.json every test run, and is
proven to fail on a synthetic r14-shaped (mid-JSON clipped) tail.

5) Multi-table append crash consistency for the attach-family index
generations (the window the r16 versioned-commit campaign did not
cover): the gram/LSH/rollup append helpers run one saveAsTable-append
JOB PER TABLE, so a writer killed between jobs tore the generation
while the original build's _SUCCESS files kept the adoption gate
green.  The r17 intent-sentinel protocol (dedup_incr.
begin_append_intent / commit_append_intent / pending_append_intents)
is proven with a REAL process kill between the band and set appends,
an in-process torn-state replication on the three-table gram path,
and the sentinel-free happy path (zero-rebuild adoption preserved,
file-inventory identity).

Sections 1-4 are pure policy (no Spark, no clock); section 5 drives
real Spark sessions and a subprocess kill.  No analog in the
reference (it publishes no bench artifacts and has no storage layer —
SURVEY §2.1); measurement + storage extension surface.
"""

from __future__ import annotations

import glob
import json
import os
import re

import pytest

import bench
from bench import (
    DRIFT_GATE_BAND,
    SPARK_CANARY_REF_SEC,
    WALL_GATE_MAX_ATTEMPTS,
    kraken_drift_mechanism,
    parse_driver_tail,
    run_wall_gate,
    wall_gate_verdict,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a canary reading exactly AT the calibration reference (drift 1.0)
REF = SPARK_CANARY_REF_SEC
# a 2x-slow in-band window (drift 0.5) and a 5x-slow out-of-band one
SLOW_2X = REF * 2
SLOW_5X = REF * 5


# ---------------------------------------------------------------------------
# 1) wall_gate_verdict — the pure gate policy
# ---------------------------------------------------------------------------


class TestWallGateVerdict:
    def test_raw_within_budget_passes_without_canary(self):
        v = wall_gate_verdict(1.2, 1.5, None)
        assert v["within"] and v["raw_within"]
        assert v["normalized_sec"] is None
        assert "no canary" in v["reason"]

    def test_raw_within_budget_passes_even_on_out_of_band_canary(self):
        # a green raw reading can never be turned red by the canary
        v = wall_gate_verdict(1.2, 1.5, SLOW_5X)
        assert v["within"]
        assert not v["canary_in_band"]
        assert v["reason"] == "raw within budget"

    def test_breach_on_drifted_in_band_window_passes_normalized(self):
        # the r16 incident class: 1.59s raw > 1.5s budget on a window
        # whose canary ran 2x slow — normalized 0.8s is within budget
        v = wall_gate_verdict(1.5925, 1.5, SLOW_2X)
        assert v["within"]
        assert not v["raw_within"]
        assert v["canary_in_band"]
        assert v["normalized_sec"] == pytest.approx(0.796, abs=0.01)
        assert "canary-normalized" in v["reason"]

    def test_real_regression_in_clean_window_still_breaches(self):
        # drift ~1: normalization must NOT absorb genuine slowness
        v = wall_gate_verdict(3.0, 1.5, REF)
        assert not v["within"]
        assert v["canary_in_band"]
        assert v["normalized_sec"] == pytest.approx(3.0)
        assert "real breach" in v["reason"]

    def test_breach_on_out_of_band_window_is_untrusted(self):
        # 5x drift sits outside DRIFT_GATE_BAND: the normalized number
        # would be within budget, but extrapolation is not a pass
        v = wall_gate_verdict(3.0, 1.5, SLOW_5X)
        assert not v["within"]
        assert not v["canary_in_band"]
        assert "out of the calibration band" in v["reason"]

    def test_breach_without_canary_fails(self):
        v = wall_gate_verdict(2.0, 1.5, None)
        assert not v["within"]
        assert "no canary" in v["reason"]

    def test_fast_window_normalization_is_stricter_not_looser(self):
        # canary FASTER than ref (drift > 1): normalized > raw; a raw
        # reading just under budget stays a pass (raw gate), but the
        # normalized number is honestly recorded as larger
        v = wall_gate_verdict(1.4, 1.5, REF / 2)
        assert v["within"] and v["raw_within"]
        assert v["normalized_sec"] == pytest.approx(2.8)

    def test_band_edges_match_drift_gate_band(self):
        lo, hi = DRIFT_GATE_BAND
        # exactly at the slow edge (drift = 1/3): still in band
        v = wall_gate_verdict(2.0, 1.5, REF / lo)
        assert v["canary_in_band"]
        # just past it: out of band
        v = wall_gate_verdict(2.0, 1.5, REF / lo * 1.01)
        assert not v["canary_in_band"]
        # fast edge (drift = 3.0)
        v = wall_gate_verdict(2.0, 1.5, REF / hi)
        assert v["canary_in_band"]


# ---------------------------------------------------------------------------
# 2) run_wall_gate — the bounded retry loop
# ---------------------------------------------------------------------------


class TestRunWallGate:
    def test_clean_first_reading_measures_nothing_more(self):
        measured = []
        attempts = run_wall_gate(
            1.0, 1.5, measure_fn=lambda: measured.append(1) or 1.0,
            canary_fn=lambda: REF,
        )
        assert len(attempts) == 1 and attempts[0]["within"]
        assert measured == []

    def test_breach_retries_until_a_reading_passes(self):
        # first reading breaches on an out-of-band window; the
        # re-measurement comes back within budget on a clean window
        readings = iter([1.2])
        canaries = iter([SLOW_5X, REF])
        attempts = run_wall_gate(
            2.0, 1.5, measure_fn=lambda: next(readings),
            canary_fn=lambda: next(canaries),
        )
        assert len(attempts) == 2
        assert not attempts[0]["within"] and attempts[1]["within"]
        assert attempts[1]["raw_sec"] == 1.2

    def test_persistent_breach_publishes_red_after_max_attempts(self):
        attempts = run_wall_gate(
            3.0, 1.5, measure_fn=lambda: 3.0, canary_fn=lambda: REF,
        )
        assert len(attempts) == WALL_GATE_MAX_ATTEMPTS
        assert not any(a["within"] for a in attempts)

    def test_canary_failure_degrades_to_raw_only(self):
        def boom():
            raise RuntimeError("canary died")

        attempts = run_wall_gate(
            1.0, 1.5, measure_fn=lambda: 1.0, canary_fn=boom,
        )
        assert attempts[0]["within"]
        assert attempts[0]["canary_sec"] is None

    def test_drifted_pass_is_visibly_a_pass_on_retry(self):
        # the published list shows the failing attempt before the pass
        canaries = iter([REF, SLOW_2X])
        attempts = run_wall_gate(
            1.6, 1.5, measure_fn=lambda: 1.6,
            canary_fn=lambda: next(canaries),
        )
        assert [a["within"] for a in attempts] == [False, True]
        assert "canary-normalized" in attempts[-1]["reason"]


# ---------------------------------------------------------------------------
# 3) kraken_drift_mechanism — naming the session-shaped drift
# ---------------------------------------------------------------------------


def _trace(*secs):
    points = ("session_start", "post_engine_warm", "post_run1")
    return [{"point": p, "sec": s} for p, s in zip(points, secs)]


class TestKrakenDriftMechanism:
    def test_all_in_band_needs_no_mechanism(self):
        assert kraken_drift_mechanism(_trace(REF, REF, REF), REF) is None

    def test_cold_session_recovery_names_warmup(self):
        m = kraken_drift_mechanism(_trace(SLOW_5X, SLOW_2X, REF), REF)
        assert m is not None and "cold-session warm-up" in m
        assert "session_start" in m  # readings are cited, not summarized

    def test_all_out_of_band_names_whole_session_window(self):
        m = kraken_drift_mechanism(
            _trace(SLOW_5X, SLOW_5X, SLOW_5X), SLOW_5X
        )
        assert m is not None and "whole-session window drift" in m

    def test_intermittent_drift_names_non_monotonic(self):
        # in band at start, out at the end — not cold-start shaped
        m = kraken_drift_mechanism(_trace(REF, REF, SLOW_5X), SLOW_5X)
        assert m is not None and "non-monotonic" in m

    def test_r16_incident_values_classify(self):
        # the actual r16 artifact: calibration-point canary 0.4568s
        # (5.33x) — with a flat slow trace that is a whole-session
        # window; with a recovering trace it would have been warm-up.
        # Either way the artifact now carries a NAME, which is the
        # point of VERDICT r16 #3.
        m = kraken_drift_mechanism(
            _trace(0.52, 0.49, 0.46), 0.4568
        )
        assert m is not None and "whole-session window drift" in m

    def test_failed_samples_are_skipped_not_fatal(self):
        trace = [{"point": "session_start", "sec": None}]
        m = kraken_drift_mechanism(trace, REF)
        assert m is None  # the only usable sample is in band

    def test_empty_trace_reports_loudly(self):
        m = kraken_drift_mechanism([], None)
        assert m is not None and "every sample failed" in m


# ---------------------------------------------------------------------------
# 4) parse_driver_tail — the round-open driver-parse guard
# ---------------------------------------------------------------------------


def _latest_bench_artifact() -> str:
    arts = glob.glob(os.path.join(REPO, "BENCH_r*.json"))
    assert arts, "no BENCH_r*.json artifacts at repo root"
    return max(
        arts, key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
    )


class TestDriverParseGuard:
    def test_previous_round_bench_line_parses_with_contract_keys(self):
        """The round-open check VERDICT r16 #4 asked for: the PREVIOUS
        round's recorded stdout tail must re-parse under the driver's
        own method, with the driver-contract keys present — so a
        compact-line regrowth or a driver-side contract change is
        caught the round it happens, not three rounds later."""
        path = _latest_bench_artifact()
        art = json.load(open(path))
        n = art.get("n")
        if n is not None and n <= 15:
            pytest.skip(
                f"latest artifact is r{n}, a known-unparsed pre-fix round"
            )
        parsed = parse_driver_tail(art["tail"])
        assert parsed is not None, (
            f"{os.path.basename(path)} tail does not end in a parseable "
            "bench line — the r13-r15 silent-regrowth failure mode is "
            "back; check compact_line and the driver tail cap"
        )
        for key in ("metric", "value", "unit", "sf", "queries"):
            assert key in parsed, f"driver-contract key {key!r} missing"
        assert parsed["unit"] == "sec"
        assert isinstance(parsed["queries"], dict) and parsed["queries"]

    def test_guard_fails_on_r14_shaped_clipped_tail(self):
        """A tail whose final line is a mid-JSON clip (what the driver
        recorded for r13-r15) must return None, not a phantom parse."""
        clipped = (
            'incremental":1.0139,"sim_knn_graph":0.0173},'
            '"modern_total":3.3867,"spine_build_sec":7.6372'
        )
        assert parse_driver_tail(clipped) is None
        # and a progress-bar-only tail (no JSON line at all)
        assert parse_driver_tail("[Stage 4297:=====>  (3 + 29) / 32]\r") is None
        # empty tail
        assert parse_driver_tail("") is None

    def test_guard_accepts_a_line_after_progress_noise(self):
        line = json.dumps(
            {"metric": "m", "value": 1.0, "unit": "sec", "sf": 0.1,
             "queries": {"q": 0.5}}
        )
        tail = "[Stage 9:> (0 + 32) / 32]\r\r  \r" + line + "\n"
        parsed = parse_driver_tail(tail)
        assert parsed is not None and parsed["metric"] == "m"

    def test_real_r14_artifact_tail_fails_the_guard(self):
        """The actual recorded r14 artifact (if present) is the
        negative fixture nature already produced: its tail was clipped
        mid-JSON and the driver recorded parsed:null."""
        p = os.path.join(REPO, "BENCH_r14.json")
        if not os.path.exists(p):
            pytest.skip("BENCH_r14.json not present")
        art = json.load(open(p))
        assert parse_driver_tail(art["tail"]) is None


# ---------------------------------------------------------------------------
# compact_line terminal guarantee (ADVICE r16)
# ---------------------------------------------------------------------------


def test_compact_line_parseable_even_when_queries_all_shed():
    """The docstring promises 'always parseable': with a cap small
    enough that every query is shed, the optional diagnostics are shed
    too and the driver-contract core survives inside the cap."""
    out = {
        "metric": "headline_queries_total_wall",
        "value": 3.829,
        "unit": "sec",
        "sf": 0.1,
        "queries": {f"q{i:02d}": 0.1 * i for i in range(40)},
        "ext_total": 1.0,
        "modern_total": 2.0,
        "low_confidence": True,
        "low_confidence_reason": "x" * 200,
        "spark_canary_sec": 0.1,
        "host_canary_sec": 0.05,
        "sched_canary_sec": 0.02,
        "iterations": 4,
        "agg": "min",
        "canary_adjusted": {"drift_factor": 0.9, "value_adj": 3.4},
        "kraken_e2e": {"min": 10.4, "first": 13.8},
        "scale_probe": {"max_ratio": 6.0},
        "errors": {"a": "b"},
    }
    line = bench.compact_line(out, cap=220)
    assert len(line) <= 220
    parsed = json.loads(line)
    for key in ("metric", "value", "unit", "sf", "queries"):
        assert key in parsed


# ---------------------------------------------------------------------------
# 5) Multi-table append crash consistency (the r16 campaign's uncovered
#    window): the attach-family index generations are maintained by one
#    saveAsTable-append JOB PER TABLE — a writer killed between jobs
#    left the generation silently torn while the original build's
#    _SUCCESS files still satisfied the adoption gate.  The r17 intent
#    sentinel turns that state into a refused adoption + cold rebuild
#    (correct by the proven append==rebuild equality) and blocks
#    further appends from compounding it.
# ---------------------------------------------------------------------------


_LSH_TORN_CHILD = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
base_dir, full_dir = sys.argv[2], sys.argv[3]
from pyspark.sql import functions as F
from bigbugdata_spark.session import get_spark
import bigbugdata_spark.operators.dedup_incr as L
from bigbugdata_spark.operators.dedup import _doc_shingles
from bigbugdata_spark.operators.dedup_incr import _corpus_fingerprint

spark = get_spark(app_name="torn-append-child")
L.lsh_index(spark, base_dir)                      # build the generation
fp = _corpus_fingerprint(base_dir)

real_append = L.append_bucketed
def die_after_first(df, name, key):
    real_append(df, name, key)                     # band append COMMITS
    print("FIRST_APPEND_DONE", flush=True)
    os._exit(43)                                   # dead before the set append
L.append_bucketed = die_after_first

batch_sh = _doc_shingles(spark, full_dir).filter(
    (F.col("doc_id") >= 25) & (F.col("doc_id") < 30)
)
L.append_batch_to_lsh_index(spark, batch_sh, fp)   # never returns
"""


def _parquet_files(loc):
    import pathlib

    return sorted(
        p.name for p in pathlib.Path(loc).rglob("*.parquet") if p.is_file()
    )


@pytest.mark.slow_tier
def test_lsh_append_killed_between_tables_is_torn_then_rebuilt(
    spark, tmp_path
):
    """REAL process kill between the band append's job commit and the
    set append (os._exit in a subprocess): the band table carries the
    batch, the set table does not, both _SUCCESS files still exist —
    the exact silent-corruption state.  Pin: (a) the intent sentinel
    survives the kill and the torn state is as described, (b) the
    sentinel is invisible to parquet readers of the location,
    (c) adoption in a fresh catalog REFUSES the generation and the
    read path rebuilds cold, leaving no sentinel and no batch rows,
    (d) the rebuilt generation equals a from-scratch build of the same
    corpus content, (e) a re-run of the append then completes and
    commits cleanly."""
    import subprocess
    import sys
    from pathlib import Path

    from pyspark.sql import functions as F

    from tests.test_round10_ops import _doc_rows, _write_docs
    from bigbugdata_spark.operators.dedup import _doc_shingles
    from bigbugdata_spark.operators.dedup_incr import (
        _corpus_fingerprint,
        index_path,
        pending_append_intents,
    )
    import bigbugdata_spark.operators.dedup_incr as L

    rows = _doc_rows()
    base_dir, full_dir = tmp_path / "base", tmp_path / "full"
    _write_docs(spark, [r for r in rows if r[0] < 25], base_dir)
    _write_docs(spark, rows, full_dir)

    repo = str(Path(__file__).resolve().parents[1])
    proc = subprocess.run(
        [sys.executable, "-c", _LSH_TORN_CHILD, repo, str(base_dir),
         str(full_dir)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 43, proc.stderr[-2000:]
    assert "FIRST_APPEND_DONE" in proc.stdout

    fp = _corpus_fingerprint(str(base_dir))
    band_name, set_name = L._lsh_index_names(fp)
    band_loc, set_loc = index_path(band_name), index_path(set_name)

    # (a) torn: sentinel present; band has the batch's docs, set does not
    torn = pending_append_intents((band_name, set_name))
    assert torn, "intent sentinel must survive the kill"
    band_ids = {
        r["doc_id"]
        for r in spark.read.parquet(band_loc).select("doc_id").distinct().collect()
    }
    set_ids = {
        r["doc_id"]
        for r in spark.read.parquet(set_loc).select("doc_id").distinct().collect()
    }
    assert band_ids >= {25, 26, 27, 28, 29}, "band append committed"
    assert set_ids == set(range(25)), "set append never ran"
    assert (Path(band_loc) / "_SUCCESS").exists()  # the gate _SUCCESS misses
    assert (Path(set_loc) / "_SUCCESS").exists()

    # (b) the sentinel is reader-invisible (underscore hidden-file rule)
    assert spark.read.parquet(band_loc).count() == len(
        spark.read.parquet(band_loc).collect()
    )

    # (c) fresh-catalog read path refuses + rebuilds cold (this parent
    # session never attached these tables, so lsh_index exercises the
    # adoption path directly)
    assert not spark.catalog.tableExists(band_name)
    bands, sets = L.lsh_index(spark, str(base_dir))
    assert not pending_append_intents((band_name, set_name))
    rebuilt_ids = {r["doc_id"] for r in sets.select("doc_id").distinct().collect()}
    assert rebuilt_ids == set(range(25)), "torn batch rows are gone"

    # (d) rebuilt == from-scratch build of identical content (distinct
    # path -> distinct fp, same deterministic band frames)
    copy_dir = tmp_path / "copy"
    _write_docs(spark, [r for r in rows if r[0] < 25], copy_dir)
    cb, cs = L.lsh_index(spark, str(copy_dir))
    rel = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rel(bands.select("doc_id", "bkey")) == rel(
        cb.select("doc_id", "bkey")
    )
    assert rel(
        sets.select("doc_id", F.sort_array("grams").alias("g"))
    ) == rel(cs.select("doc_id", F.sort_array("grams").alias("g")))

    # (e) the append re-run completes and commits
    batch_sh = _doc_shingles(spark, str(full_dir)).filter(
        (F.col("doc_id") >= 25) & (F.col("doc_id") < 30)
    )
    L.append_batch_to_lsh_index(spark, batch_sh, fp)
    assert not pending_append_intents((band_name, set_name))
    assert {
        r["doc_id"]
        for r in spark.table(set_name).select("doc_id").distinct().collect()
    } == set(range(30))


def test_gram_append_torn_state_blocks_adoption_and_further_appends(
    spark, tmp_path
):
    """The three-table gram path, with the death simulated in-process
    at the exact same on-disk state (sentinel + first append only):
    postings exist for docs with no size/df rows.  Pin: adoption
    refuses, begin_append_intent refuses to compound, and the read
    path's rebuild converges to the pristine relation."""
    import pytest as _pytest
    from pathlib import Path

    from pyspark.sql import functions as F

    from tests.test_round10_ops import _doc_rows, _write_docs
    from bigbugdata_spark.operators.dedup import _doc_shingles
    import bigbugdata_spark.operators.dedup_incr as D
    from bigbugdata_spark.operators.dedup_incr import (
        _corpus_fingerprint,
        attach_index_tables,
        begin_append_intent,
        index_path,
        pending_append_intents,
    )

    rows = _doc_rows()
    base_dir, full_dir = tmp_path / "base", tmp_path / "full"
    _write_docs(spark, [r for r in rows if r[0] < 25], base_dir)
    _write_docs(spark, rows, full_dir)

    D.gram_index(spark, str(base_dir))
    fp = _corpus_fingerprint(str(base_dir))
    names = D._index_names(fp)
    idx_name, sz_name, df_name = names

    batch_grams = (
        _doc_shingles(spark, str(full_dir))
        .filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 30))
        .select("doc_id", F.explode("grams").alias("g"))
    )
    intent = begin_append_intent(names)
    D.append_bucketed(batch_grams, idx_name, "g")  # ...and the writer dies

    assert pending_append_intents(names) == [intent]
    # no compounding: a second append cycle must fail loudly
    with _pytest.raises(RuntimeError, match="torn"):
        begin_append_intent(names)

    # fresh-catalog adoption refuses (drop the session's attach first)
    for n in names:
        spark.sql(f"DROP TABLE {n}")
    assert not attach_index_tables(
        spark,
        (
            (idx_name, "doc_id BIGINT, g BIGINT", "g"),
            (sz_name, "doc_id BIGINT, sz BIGINT", "doc_id"),
            (df_name, "g BIGINT, df_part BIGINT", "g"),
        ),
    ), "a torn generation must never be adopted"

    # the read path rebuilds cold and converges
    idx, sizes, gdf = D.gram_index(spark, str(base_dir))
    assert not pending_append_intents(names)
    assert {
        r["doc_id"] for r in idx.select("doc_id").distinct().collect()
    } == set(range(25))
    # postings and sizes are cross-consistent again
    assert {
        r["doc_id"] for r in sizes.select("doc_id").distinct().collect()
    } == set(range(25))
    # and the sentinel file never leaked into the rebuilt location
    assert not list(Path(index_path(idx_name)).glob("_append_intent-*"))


def test_completed_append_commits_sentinel_free_and_adopts(spark, tmp_path):
    """The happy path around the new window: a COMPLETED append leaves
    no sentinel, and a fresh-catalog adoption of the appended
    generation proceeds with zero rebuild I/O (file inventory
    byte-identical across the adopt)."""
    from pyspark.sql import functions as F

    from tests.test_round10_ops import _doc_rows, _write_docs
    from bigbugdata_spark.operators.dedup import _doc_shingles
    import bigbugdata_spark.operators.dedup_incr as D
    from bigbugdata_spark.operators.dedup_incr import (
        _corpus_fingerprint,
        index_path,
        pending_append_intents,
    )

    rows = _doc_rows()
    base_dir, full_dir = tmp_path / "base", tmp_path / "full"
    _write_docs(spark, [r for r in rows if r[0] < 25], base_dir)
    _write_docs(spark, rows, full_dir)

    D.gram_index(spark, str(base_dir))
    fp = _corpus_fingerprint(str(base_dir))
    names = D._index_names(fp)
    batch_grams = (
        _doc_shingles(spark, str(full_dir))
        .filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 30))
        .select("doc_id", F.explode("grams").alias("g"))
    )
    D.append_batch_to_index(spark, batch_grams, fp)
    assert not pending_append_intents(names)

    inventory_before = {
        n: _parquet_files(index_path(n)) for n in names
    }
    for n in names:
        spark.sql(f"DROP TABLE {n}")
    idx, sizes, gdf = D.gram_index(spark, str(base_dir))  # adopts
    assert {
        n: _parquet_files(index_path(n)) for n in names
    } == inventory_before, "adoption must not rewrite a single file"
    assert {
        r["doc_id"] for r in sizes.select("doc_id").distinct().collect()
    } == set(range(30))
