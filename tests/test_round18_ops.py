"""Round-18 tests: the bench's mid-loop window certification
(VERDICT r17 #1 — the r17 artifact of record shipped a false geomean
regression because session-boundary canaries could not see mid-loop
host drift) and the window_class field (ADVICE r17 #3).

All Spark-free pure-policy tests; the live demonstration (injected load
flipping low_confidence) is a recorded artifact, see
plans/r18/ and OPTIMIZATION_r18.md.
"""

from __future__ import annotations

import bench


def _p(at: str, spark_sec: float | None, sched_sec: float = 0.1) -> dict:
    d: dict = {"at": at}
    if spark_sec is not None:
        d["spark_sec"] = spark_sec
        d["sched_sec"] = sched_sec
    return d


REF = bench.SPARK_CANARY_REF_SEC  # 0.0857


class TestMidloopProbeReasons:
    def test_clean_trace_acquits(self):
        probes = [_p("loop_start", REF), _p("after_q8", REF * 1.1),
                  _p("loop_end", REF * 0.95)]
        assert bench.midloop_probe_reasons(probes) == []

    def test_out_of_band_probe_convicts(self):
        # one probe 4x slow (outside the (1/3, 3.0) band) mid-loop —
        # exactly the r17 failure mode the boundary canaries missed
        probes = [_p("loop_start", REF), _p("after_q16", REF * 4.0),
                  _p("loop_end", REF)]
        reasons = bench.midloop_probe_reasons(probes)
        assert reasons and "after_q16" in reasons[0]

    def test_in_band_spread_convicts(self):
        # every probe individually in band, but the window moved 2.5x
        # DURING the loop: per-query numbers straddle different windows
        probes = [_p("loop_start", REF * 0.9), _p("after_q24", REF * 2.25),
                  _p("loop_end", REF * 0.9)]
        reasons = bench.midloop_probe_reasons(probes)
        assert reasons and "swung" in reasons[0]

    def test_single_probe_cannot_convict(self):
        # one in-band reading has no spread to judge; a trace that failed
        # to accumulate is the boundary gate's job
        assert bench.midloop_probe_reasons([_p("loop_start", REF)]) == []

    def test_single_out_of_band_probe_convicts(self):
        # the other probes errored (plausible under the very load being
        # detected): the one surviving reading still convicts
        probes = [_p("loop_start", None), _p("after_q8", REF * 4.0),
                  _p("loop_end", None)]
        reasons = bench.midloop_probe_reasons(probes)
        assert reasons and "after_q8" in reasons[0]

    def test_zero_reading_convicts(self):
        probes = [_p("loop_start", REF), _p("after_q8", 0.0),
                  _p("loop_end", REF)]
        reasons = bench.midloop_probe_reasons(probes)
        assert reasons and "after_q8" in reasons[0]
        assert "non-positive" in reasons[0]

    def test_failed_probes_are_skipped(self):
        probes = [_p("loop_start", None), _p("after_q8", REF),
                  _p("loop_end", REF * 1.05)]
        assert bench.midloop_probe_reasons(probes) == []


class TestWindowClass:
    def test_clean(self):
        probes = [_p("loop_start", REF), _p("loop_end", REF * 1.1)]
        assert bench.window_class(probes, REF) == "clean"

    def test_drifted_in_band(self):
        # 1.46x-slow reading: inside the usable band, outside the clean
        # band — the r17 final-artifact case ADVICE r17 #3 flagged as
        # indistinguishable from clean without consulting bench.py
        probes = [_p("loop_start", REF * 1.46), _p("loop_end", REF * 1.5)]
        assert bench.window_class(probes, REF * 1.46) == "drifted"

    def test_out_of_calibration(self):
        probes = [_p("loop_start", REF * 4.0)]
        assert bench.window_class(probes, REF) == "out_of_calibration"

    def test_midloop_stall_cannot_hide_behind_calm_close(self):
        probes = [_p("loop_start", REF), _p("after_q16", REF * 5.0),
                  _p("loop_end", REF)]
        assert bench.window_class(probes, REF) == "out_of_calibration"

    def test_unknown_when_no_readings(self):
        assert bench.window_class([], None) == "unknown"
        assert bench.window_class([_p("loop_start", None)], None) == "unknown"

    def test_none_closing_canary_is_skipped(self):
        assert bench.window_class([_p("loop_start", REF)], None) == "clean"

    def test_zero_reading_is_unknown(self):
        # a 0.0 reading is an instrument failure, not an absent probe
        assert bench.window_class([_p("loop_start", REF)], 0.0) == "unknown"
        probes = [_p("loop_start", REF), _p("after_q8", 0.0)]
        assert bench.window_class(probes, REF) == "unknown"

    def test_spread_demotes_clean_to_drifted(self):
        lo, hi = REF / 1.3, REF * 1.3  # both inside the clean band
        assert hi / lo > bench.MID_LOOP_SPREAD_GATE * 0.8  # sanity
        probes = [_p("a", lo), _p("b", hi), _p("c", lo), _p("d", hi)]
        cls = bench.window_class(probes, None)
        assert cls in ("clean", "drifted")
        # force the spread over the gate
        probes = [_p("a", REF / 1.34), _p("b", REF * 1.34)]
        if (REF * 1.34) / (REF / 1.34) > bench.MID_LOOP_SPREAD_GATE:
            assert bench.window_class(probes, None) == "drifted"


class TestSlowTier:
    def test_marker_count_matches_declared_size(self):
        """The sweep recorder's completeness guard uses
        parity.SLOW_TIER_SIZE; pin it to the actual marker count so
        adding/removing a tier test without updating the constant is a
        red X, not a silently-unrecordable sweep."""
        import pathlib
        import re

        from tests.parity import SLOW_TIER_SIZE

        tests_dir = pathlib.Path(__file__).parent
        n = sum(
            len(re.findall(r"^@pytest\.mark\.slow_tier$", p.read_text(), re.M))
            for p in tests_dir.glob("test_*.py")
        )
        assert n == SLOW_TIER_SIZE

    def test_opt_in_parse_matches_sf2_contract(self):
        import os

        from tests.parity import slow_tier_opted_in

        for v, expect in (("", False), ("0", False), ("false", False),
                          ("1", True), ("yes", True)):
            os.environ["SPARK_GRAFT_SLOW_TIER"] = v
            assert slow_tier_opted_in() is expect, v
        del os.environ["SPARK_GRAFT_SLOW_TIER"]


class TestArtifactContract:
    def test_compact_line_carries_window_class(self):
        out = {
            "metric": "m", "value": 1.0, "unit": "sec", "sf": 0.1,
            "queries": {"q": 1.0}, "window_class": "clean",
        }
        line = bench.compact_line(out)
        import json

        assert json.loads(line)["window_class"] == "clean"

    def test_no_hardcoded_window_prose_fields(self):
        """The per-round regression-prose fields must stay gone from
        the artifact builder (VERDICT r17 #1: hard-coded narrative
        about one past session shipped verbatim inside every future
        artifact).  Source-level pin: the field names may appear only
        in comments, never as dict keys."""
        import re

        src = open(bench.__file__).read()
        for field in (
            "sched_window_note",
            "tpch_regression_note",
            "evt_regression_note",
            "pipe_regression_note",
        ):
            assert not re.search(rf'"{field}"\s*:', src), field
