"""bench.py's pure policies: the window-drift policy, the driver's
bench-line parse, the compact line, the scale probe's iteration counts
and the artifact contract.  No Spark.

The live check of the drift policy (injected load flipping
low_confidence) is plans/r18/injected_load_demo.sh.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from types import SimpleNamespace

import pytest

import bench
from bench import parse_driver_tail

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REF = bench.SPARK_CANARY_REF_SEC  # 0.0857


# ---------------------------------------------------------------------------
# window_policy — one table over every source of canary readings
# ---------------------------------------------------------------------------


def _p(at: str, spark_sec: float | None) -> dict:
    d: dict = {"at": at}
    if spark_sec is not None:
        d["spark_sec"] = spark_sec
    return d


def _trace(*secs) -> list[dict]:
    return [_p(f"b{i}", s) for i, s in enumerate(secs)]


# (id, probes, closing, kraken, kraken_ran, window_class, low_confidence,
#  substrings every reason list must contain, in order)
POLICY_ROWS = [
    # the closing and kraken-session readings, no mid-loop trace
    ("drift_gate_clean_window", [], 0.1678, 0.126, True,
     "drifted", False, ()),
    ("drift_gate_r15_incident", [], 0.7161, 0.7161, True,
     "out_of_calibration", True, ("8.36x", "kraken-session")),
    ("drift_gate_3x_slow_edge", [], REF * 3, None, False,
     "drifted", False, ()),
    ("drift_gate_past_slow_edge", [], REF * 3.1, None, False,
     "out_of_calibration", True, ("query-loop",)),
    ("drift_gate_3x_fast_edge", [], REF / 3, None, False,
     "drifted", False, ()),
    ("drift_gate_past_fast_edge", [], REF / 3.1, None, False,
     "out_of_calibration", True, ("query-loop",)),
    ("drift_gate_closing_missing", [], None, 0.1, True,
     "unknown", True, ("query-loop",)),
    ("drift_gate_kraken_missing", [], 0.1, None, True,
     "clean", True, ("kraken-session",)),
    ("drift_gate_kraken_skipped", [], 0.1, None, False,
     "clean", False, ()),
    # the mid-loop trace, with a calm closing reading
    ("midloop_clean_trace_acquits",
     [_p("loop_start", REF), _p("after_q8", REF * 1.1),
      _p("loop_end", REF * 0.95)], REF, None, False,
     "clean", False, ()),
    ("midloop_out_of_band_probe_convicts",
     [_p("loop_start", REF), _p("after_q16", REF * 4.0),
      _p("loop_end", REF)], REF, None, False,
     "out_of_calibration", True, ("after_q16",)),
    ("midloop_in_band_spread_convicts",
     [_p("loop_start", REF * 0.9), _p("after_q24", REF * 2.25),
      _p("loop_end", REF * 0.9)], REF, None, False,
     "drifted", True, ("swung",)),
    ("midloop_single_probe_cannot_convict",
     [_p("loop_start", REF)], REF, None, False,
     "clean", False, ()),
    ("midloop_single_out_of_band_probe_convicts",
     [_p("loop_start", None), _p("after_q8", REF * 4.0),
      _p("loop_end", None)], REF, None, False,
     "out_of_calibration", True, ("after_q8",)),
    ("midloop_failed_probes_are_skipped",
     [_p("loop_start", None), _p("after_q8", REF),
      _p("loop_end", REF * 1.05)], REF, None, False,
     "clean", False, ()),
    # window_class over the mid-loop and closing readings
    ("window_clean",
     [_p("loop_start", REF), _p("loop_end", REF * 1.1)], REF, None, False,
     "clean", False, ()),
    ("window_drifted_in_band",
     [_p("loop_start", REF * 1.46), _p("loop_end", REF * 1.5)],
     REF * 1.46, None, False,
     "drifted", False, ()),
    ("window_out_of_calibration",
     [_p("loop_start", REF * 4.0)], REF, None, False,
     "out_of_calibration", True, ("loop_start",)),
    ("window_midloop_stall_cannot_hide_behind_calm_close",
     [_p("loop_start", REF), _p("after_q16", REF * 5.0),
      _p("loop_end", REF)], REF, None, False,
     "out_of_calibration", True, ("after_q16",)),
    ("window_unknown_without_readings", [], None, None, False,
     "unknown", True, ("query-loop",)),
    ("window_unknown_with_failed_probe",
     [_p("loop_start", None)], None, None, False,
     "unknown", True, ("query-loop",)),
    ("window_missing_closing_canary",
     [_p("loop_start", REF)], None, None, False,
     "clean", True, ("query-loop",)),
    ("window_spread_inside_clean_band",
     _trace(REF / 1.3, REF * 1.3, REF / 1.3, REF * 1.3), None, None, False,
     "clean", True, ("query-loop",)),
    ("window_spread_at_clean_band_edges",
     _trace(REF / 1.34, REF * 1.34), None, None, False,
     "clean", True, ("query-loop",)),
    # a 0.0 reading from each source is an instrument failure
    ("zero_reading_midloop",
     [_p("loop_start", REF), _p("after_q8", 0.0), _p("loop_end", REF)],
     REF, None, False,
     "unknown", True, ("after_q8",)),
    ("zero_reading_closing",
     [_p("loop_start", REF)], 0.0, None, False,
     "unknown", True, ("query-loop",)),
    ("zero_reading_kraken",
     [_p("loop_start", REF)], REF, 0.0, True,
     "clean", True, ("kraken-session",)),
    # the kraken reading is band-checked only: it never enters the class
    ("kraken_out_of_band_keeps_window_class",
     [_p("loop_start", REF)], REF, REF * 4.0, True,
     "clean", True, ("kraken-session",)),
]


@pytest.mark.parametrize(
    "probes,closing,kraken,kraken_ran,cls,low,expect",
    [pytest.param(*row[1:], id=row[0]) for row in POLICY_ROWS],
)
def test_window_policy(probes, closing, kraken, kraken_ran, cls, low, expect):
    window, reasons = bench.window_policy(probes, closing, kraken, kraken_ran)
    assert window == cls
    assert bool(reasons) is low, reasons
    assert len(reasons) >= len(expect), reasons
    for substring, reason in zip(expect, reasons):
        assert substring in reason, reasons


# ---------------------------------------------------------------------------
# parse_driver_tail — the driver's bench-line parse
# ---------------------------------------------------------------------------


def _latest_bench_artifact() -> str:
    arts = glob.glob(os.path.join(REPO, "BENCH_r*.json"))
    assert arts, "no BENCH_r*.json artifacts at repo root"
    return max(
        arts, key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
    )


class TestDriverParseGuard:
    def test_previous_round_bench_line_parses_with_contract_keys(self):
        """The latest recorded stdout tail must re-parse under the
        driver's own method, with the driver-contract keys present — so
        a compact-line regrowth or a driver-side contract change fails
        here, not rounds later."""
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
            "bench line — check compact_line and the driver tail cap"
        )
        for key in ("metric", "value", "unit", "sf", "queries"):
            assert key in parsed, f"driver-contract key {key!r} missing"
        assert parsed["unit"] == "sec"
        assert isinstance(parsed["queries"], dict) and parsed["queries"]

    def test_guard_fails_on_r14_shaped_clipped_tail(self):
        """A tail whose final line is a mid-JSON clip must return None,
        not a phantom parse."""
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
        """The recorded r14 artifact is a real negative fixture: its
        tail was clipped mid-JSON and the driver recorded parsed:null."""
        p = os.path.join(REPO, "BENCH_r14.json")
        if not os.path.exists(p):
            pytest.skip("BENCH_r14.json not present")
        art = json.load(open(p))
        assert parse_driver_tail(art["tail"]) is None


# ---------------------------------------------------------------------------
# compact_line — the line the driver parses
# ---------------------------------------------------------------------------


def test_bench_compact_line_always_fits_driver_tail():
    """compact_line is a whitelist with a hard byte cap and
    deterministic shedding (prose first, then the FASTEST per-query
    timings, with a loud queries_omitted count).  Pin: (a) a small
    artifact passes through unshed, (b) a synthetic worst case (80
    long-named queries + every optional section) still fits and keeps
    the slow tail, (c) the line is valid JSON with the driver-contract
    keys."""
    small = {
        "metric": "headline_queries_total_wall",
        "value": 3.21,
        "unit": "sec",
        "sf": 0.1,
        "queries": {"q1": 0.5, "q2": 1.0},
        "low_confidence": False,
        "low_confidence_reason": None,
    }
    line = bench.compact_line(small)
    parsed = json.loads(line)
    assert parsed["queries"] == {"q1": 0.5, "q2": 1.0}
    assert "queries_omitted" not in parsed
    assert len(line) <= bench._COMPACT_LINE_CAP

    worst = {
        "metric": "headline_queries_total_wall",
        "value": 123.4567,
        "unit": "sec",
        "sf": 0.1,
        "queries": {
            f"tpch_extremely_long_query_name_number_{i:03d}": i / 100.0
            for i in range(80)
        },
        "ext_total": 12.3,
        "modern_total": 4.5,
        "iterations": 4,
        "agg": "min",
        "spark_canary_sec": 0.7161,
        "low_confidence": True,
        "low_confidence_reason": "x" * 400,
        "kraken_e2e": {"min": 13.58, "first": 23.33},
        "scale_probe": {"max_ratio": 6.88},
        "errors": {f"err_{i}": "boom" for i in range(20)},
    }
    line = bench.compact_line(worst)
    assert len(line) <= bench._COMPACT_LINE_CAP
    parsed = json.loads(line)
    for key in ("metric", "value", "unit", "sf", "queries"):
        assert key in parsed
    assert parsed["kraken_min"] == 13.58
    # shedding dropped the FASTEST queries and said so
    assert parsed.get("queries_omitted", 0) > 0
    kept = parsed["queries"]
    slowest = "tpch_extremely_long_query_name_number_079"
    assert slowest in kept
    dropped = set(worst["queries"]) - set(kept)
    assert dropped and max(worst["queries"][q] for q in dropped) < min(
        kept.values()
    )


def test_bench_compact_line_fuzz_always_parseable():
    """Property fuzz over the artifact space: whatever mix of query
    counts, name lengths, prose sizes, and optional sections the bench
    produces, compact_line must stay under the driver-tail cap, parse
    as JSON, preserve the contract keys verbatim, and never fabricate
    or lose a query silently (kept ∪ omitted-count == input)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    name = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz_0123456789", min_size=1,
        max_size=60,
    )
    artifact = st.fixed_dictionaries(
        {
            "metric": st.just("headline_queries_total_wall"),
            "value": st.floats(0, 1e4, allow_nan=False),
            "unit": st.just("sec"),
            "sf": st.sampled_from([0.001, 0.01, 0.1, 1.0]),
            "queries": st.dictionaries(
                name, st.floats(0, 1e3, allow_nan=False), max_size=120
            ),
        },
        optional={
            "low_confidence": st.booleans(),
            "low_confidence_reason": st.text(max_size=600),
            "ext_total": st.floats(0, 1e4, allow_nan=False),
            "modern_total": st.floats(0, 1e4, allow_nan=False),
            "iterations": st.integers(1, 16),
            "agg": st.just("min"),
            "spark_canary_sec": st.floats(0.001, 10, allow_nan=False),
            "kraken_e2e": st.fixed_dictionaries(
                {"min": st.floats(0, 100), "first": st.floats(0, 100)}
            ),
            "scale_probe": st.fixed_dictionaries(
                {"max_ratio": st.floats(0, 100)}
            ),
            "errors": st.dictionaries(name, st.text(max_size=50),
                                      max_size=30),
        },
    )

    @settings(max_examples=150, deadline=None)
    @given(artifact)
    def check(out):
        line = bench.compact_line(out)
        assert len(line) <= bench._COMPACT_LINE_CAP
        parsed = json.loads(line)
        assert parsed["metric"] == out["metric"]
        assert parsed["value"] == out["value"]
        assert parsed["unit"] == "sec" and parsed["sf"] == out["sf"]
        kept = parsed["queries"]
        assert set(kept) <= set(out["queries"])
        assert len(kept) + parsed.get("queries_omitted", 0) == len(
            out["queries"]
        )

    check()


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
        "iterations": 4,
        "agg": "min",
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
# probe_iterations — the scale probe's min-of-N
# ---------------------------------------------------------------------------


def test_scale_probe_iteration_overrides_survive_subsec_floor():
    """The sub-second re-measure branch once demoted
    sim_ivf_batch_assign's declared min-of-8 to the generic min-of-6
    floor, producing a FALSE 1.67 s > 1.5 s budget breach.  Pin the
    policy: an override never loses to the floor, the floor still
    promotes un-overridden queries, and every ingest-class query with
    an absolute x10 wall budget carries a min-of-8 override."""
    # overridden + sub-second: keeps its 8, never the 6 floor
    assert bench.probe_iterations("sim_ivf_batch_assign") == 8
    assert bench.probe_iterations("sim_ivf_batch_assign", subsec=True) == 8
    # un-overridden: base 2, promoted to the floor when sub-second
    assert bench.probe_iterations("no_such_query") == bench.SCALE_ITERATIONS
    assert (
        bench.probe_iterations("no_such_query", subsec=True)
        == bench.SCALE_ITERATIONS_SUBSEC
    )
    # absolute-wall-budget (ingest-class) queries all run min-of-8 — at
    # BOTH sizes, whichever branch measures them
    for name, budget in bench.X10_WALL_BUDGET_SEC.items():
        if budget <= 1.5:  # the tight ingest-class gates
            assert bench.probe_iterations(name, subsec=True) >= 8, name


# ---------------------------------------------------------------------------
# the artifact contract
# ---------------------------------------------------------------------------


class TestArtifactContract:
    def test_midloop_probe_records_its_time(self):
        """Each mid-loop probe says when it ran, in seconds since the
        bench started, so a reading can be placed against injected load."""
        started = time.perf_counter() - 5.0
        probe = bench.midloop_probe("after_q", lambda: 0.1, started)
        assert probe["at"] == "after_q" and probe["spark_sec"] == 0.1
        assert 5.0 <= probe["t_s"] < 60.0

        def _fails():
            raise RuntimeError("no session")

        failed = bench.midloop_probe("loop_end", _fails, started)
        assert "spark_sec" not in failed and "t_s" in failed
        assert failed["error"].startswith("RuntimeError")

    def test_scale_probe_records_cores(self, monkeypatch):
        """The x10 scale probe names the core count its budgets ran at."""
        monkeypatch.setattr(bench, "_build_scale_dir", lambda spark: "/nonexistent")
        spark = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=4))
        out = bench.bench_scale_probe(spark, specs={})
        assert out["cores"] == 4 and out["queries"] == {}

    def test_compact_line_carries_window_class(self):
        out = {
            "metric": "m", "value": 1.0, "unit": "sec", "sf": 0.1,
            "queries": {"q": 1.0}, "window_class": "clean",
        }
        line = bench.compact_line(out)
        assert json.loads(line)["window_class"] == "clean"

    def test_no_hardcoded_window_prose_fields(self):
        """An artifact carries facts computed from its own run, never
        hard-coded prose about another session.  Source-level pin: the
        field names may appear only in comments, never as dict keys."""
        src = open(bench.__file__).read()
        for field in (
            "sched_window_note",
            "tpch_regression_note",
            "evt_regression_note",
            "pipe_regression_note",
            "first_note",
            "wall_gate_note",
            "batch_assign_note",
            "rederive_costs",
        ):
            assert not re.search(rf'"{field}"\s*[:\]]', src), field
