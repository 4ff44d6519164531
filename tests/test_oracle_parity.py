"""The local correctness gate: every registered query with an oracle must
match DuckDB exactly at sf0.01 — the same comparison the driver runs.
The opt-in tiers' parse and the slow tier's declared size (tests/parity.py)
are pinned here too."""

from __future__ import annotations

import pytest

from bigbugdata_spark.registry import load_all
from tests.parity import compare, duckdb_connect

SPECS = load_all()
WITH_ORACLE = sorted(n for n, s in SPECS.items() if s.oracle)
ROWS_ONLY = sorted(n for n, s in SPECS.items() if not s.oracle)


@pytest.fixture(scope="module")
def con(sf_oracle):
    con = duckdb_connect(sf_oracle)
    yield con
    con.close()


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, sf_oracle, con, name):
    spec = SPECS[name]
    df = spec.fn(spark, sf_oracle)
    ok, msg = compare(df, con, spec.oracle)
    assert ok, f"{name}: {msg}"


# Result-type lint (VERDICT r10 #4): the driver's value hash is
# TYPE-sensitive — DuckDB HUGEINT (SUM(BIGINT), BIGINT//HUGEINT) and
# DECIMAL literals hash differently from Spark's BIGINT/DOUBLE even when
# every value is equal, which is exactly how the two r10 driver reds
# (orders_revenue_concentration, text_bpe_compression) slipped past the
# value-equal local gate above (parity.py canonicalizes Decimal->float).
# Binding an oracle (`rel.types`) never executes it, so this sweeps all
# 180+ oracles in seconds and turns the whole type class into a local
# red X.  INTEGER is allowed: 38 oracles return it with multi-round
# green driver rows (op01's l_linenumber since r1).
_DRIVER_SAFE_TYPES = {"BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "BOOLEAN", "DATE"}


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_result_types_driver_safe(con, name):
    rel = con.sql(SPECS[name].oracle)
    offenders = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if str(t) not in _DRIVER_SAFE_TYPES
    ]
    assert not offenders, (
        f"{name}: oracle columns {offenders} are outside the driver-safe "
        f"type set {sorted(_DRIVER_SAFE_TYPES)} — CAST them (registry.py:8-12)"
    )


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only(spark, sf_oracle, name):
    spec = SPECS[name]
    df = spec.fn(spark, sf_oracle)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


# Second-scale parity: the same gate at sf0.001 catches scale-dependent
# constants and empty-group edge cases the sf0.01 run can mask. It
# doubles the parity suite's wall time, so it is opt-in:
#     SPARK_GRAFT_PARITY_SF2=1 python -m pytest tests/test_oracle_parity.py
# (Swept green for all oracles every round since 8; the sweep recorder
# in tests/conftest.py shares the SAME opt-in parse — see
# parity.sf2_opted_in.)
from tests.parity import sf2_opted_in

_SF2 = "/root/testdata/sf0.001"
_sf2_enabled = pytest.mark.skipif(
    not sf2_opted_in(),
    reason="second-scale parity is opt-in (SPARK_GRAFT_PARITY_SF2=1)",
)


@pytest.fixture(scope="module")
def con_sf2():
    c = duckdb_connect(_SF2)
    yield c
    c.close()


@_sf2_enabled
@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity_second_scale(spark, con_sf2, name):
    spec = SPECS[name]
    ok, msg = compare(spec.fn(spark, _SF2), con_sf2, spec.oracle)
    assert ok, f"{name} @ sf0.001: {msg}"


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

    def test_opt_in_parse_matches_sf2_contract(self, monkeypatch):
        from tests.parity import slow_tier_opted_in

        for v, expect in (("", False), ("0", False), ("false", False),
                          ("1", True), ("yes", True)):
            monkeypatch.setenv("SPARK_GRAFT_SLOW_TIER", v)
            assert slow_tier_opted_in() is expect, v
        monkeypatch.delenv("SPARK_GRAFT_SLOW_TIER")
        assert slow_tier_opted_in() is False
