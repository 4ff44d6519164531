"""Round-18 tests: the opt-in slow tier's declared size and opt-in
parse.  The bench policies these rounds added live in
tests/test_bench.py.
"""

from __future__ import annotations


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
