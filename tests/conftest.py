from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigbugdata_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow_tier: restart/crash-recovery, stream-vs-batch equivalence, "
        "fuzz and multicycle tests — opt-in via SPARK_GRAFT_SLOW_TIER=1 "
        "(r18, VERDICT r17 #2: keeps the default suite inside the "
        "driver's pytest window; the tier is swept per round and "
        "recorded to SLOWTIER_SWEEP.json)",
    )


def pytest_collection_modifyitems(config, items):
    from tests.parity import slow_tier_opted_in

    if slow_tier_opted_in():
        return
    skip = pytest.mark.skip(
        reason="slow tier is opt-in (SPARK_GRAFT_SLOW_TIER=1)"
    )
    for item in items:
        if "slow_tier" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="bigbugdata-tests")
    yield spark


@pytest.fixture(scope="module", autouse=True)
def _release_pinned_frames():
    """Release operator-pinned cache blocks at each module boundary (the
    caching contract in bigbugdata_spark.caching): within a module the
    warm cache is the legitimate steady state, across modules it would
    accumulate."""
    yield
    from bigbugdata_spark.caching import release_pinned

    release_pinned()


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


@pytest.fixture(scope="session")
def sf(sf_oracle):
    return sf_oracle


def pytest_sessionfinish(session, exitstatus):
    """Record the opt-in second-scale parity sweep's result (VERDICT
    r12 #7): when SPARK_GRAFT_PARITY_SF2 is set, write the
    second-scale test counts to SF2_SWEEP.json at the repo root so
    bench.py can embed them — the two-scale parity claim becomes a
    per-round auditable artifact line instead of a skipped-marker
    count.  Likewise for the slow tier (r18): a SPARK_GRAFT_SLOW_TIER
    run records its counts to SLOWTIER_SWEEP.json."""
    import json
    import time

    # shared opt-in parse (tests/parity.py): "0"/"false" read as OFF
    # here AND in the skipif, so a =0 run neither runs nor records
    from tests.parity import sf2_opted_in, slow_tier_opted_in

    tr = session.config.pluginmanager.get_plugin("terminalreporter")
    if tr is None:
        return
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    if slow_tier_opted_in():

        def _tier_n(key):
            return sum(
                1
                for rep in tr.stats.get(key, ())
                if "slow_tier" in getattr(rep, "keywords", {})
            )

        tier = {
            "ts": time.time(),
            "passed": _tier_n("passed"),
            "failed": _tier_n("failed"),
            "errors": _tier_n("error"),
            "note": (
                "opt-in slow tier (restart/crash/stream-equivalence/"
                "fuzz/multicycle), SPARK_GRAFT_SLOW_TIER=1"
            ),
        }
        # only a COMPLETE tier run is a record (the SF2 rule): a
        # targeted -k/-x run must not overwrite the real sweep
        from tests.parity import SLOW_TIER_SIZE

        tier["tier_size"] = SLOW_TIER_SIZE
        if tier["passed"] + tier["failed"] + tier["errors"] >= SLOW_TIER_SIZE:
            with open(os.path.join(root, "SLOWTIER_SWEEP.json"), "w") as f:
                json.dump(tier, f)

    if not sf2_opted_in():
        return

    def _n(key):
        return sum(
            1
            for rep in tr.stats.get(key, ())
            if "second_scale" in getattr(rep, "nodeid", "")
        )

    out = {
        "ts": time.time(),
        # "SF2" in the env var / filename means SECOND SCALE (a second
        # scale factor than the driver's sf0.01 compare), not scale
        # factor 2 — VERDICT r16 #4 asked for the label to say so.
        "second_scale_dir": "/root/testdata/sf0.001",
        "note": "second-scale (not scale-factor-2) parity sweep dir",
        "passed": _n("passed"),
        "failed": _n("failed"),
        "errors": _n("error"),
    }
    # only a COMPLETE sweep is a record: a -k/-x/targeted run that
    # selected a subset (or nothing) must not overwrite the real one
    from bigbugdata_spark.registry import load_all

    full = sum(1 for s in load_all().values() if s.oracle)
    if out["passed"] + out["failed"] + out["errors"] < full:
        return
    out["total_oracles"] = full
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SF2_SWEEP.json"), "w") as f:
        json.dump(out, f)
