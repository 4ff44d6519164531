"""Property-based checks (SURVEY §5.4) — invariants the golden fixtures
can't sweep: hypothesis generates small report corpora and the pipeline's
algebraic properties must hold on every one."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from bigbugdata_spark.operators.kraken import (
    TOP_FIELDS,
    repair_dense_ranks,
    run_pipeline,
)
from bigbugdata_spark.operators.relational import (
    negative_control_groups,
    ordered_sample_ids,
)

HEADER = "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName"


# ---------------------------------------------------------------------------
# driver-side helper semantics (pure python, cheap to sweep hard)
# ---------------------------------------------------------------------------


@given(st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=50))
def test_ordered_sample_ids_numeric(ints):
    ids = [str(i) for i in ints]
    assert ordered_sample_ids(ids) == [str(i) for i in sorted(ints)]


@given(
    st.lists(
        st.text(
            alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_ordered_sample_ids_lexicographic_fallback(ids):
    out = ordered_sample_ids(ids)
    assert sorted(out) == sorted(ids)
    if any(not s.isdigit() for s in ids):
        assert out == sorted(ids)


def _ranked(sample, cells, k):
    """TOP_FIELDS rows of `cells` ({taxID: rRPM}) ranked by (rRPM desc,
    taxID asc), rank <= k."""
    order = sorted(cells, key=lambda t: (-cells[t], t))[:k]
    return [
        Row(**{
            **dict.fromkeys(TOP_FIELDS),
            "sampleName": sample, "taxID": t, "rank": rank, "rRPM": cells[t],
        })
        for rank, t in enumerate(order, start=1)
    ]


@example(samples=[{5: 0.0}, {1: 0.0, 2: 0.0, 3: 3.0}], k=2)  # zero beyond first k
@example(samples=[{1: 0.0}, {}, {2: 1.0}], k=5)  # k > |taxa|, an empty sample
@example(samples=[{4: 0.0, 2: 0.0}, {1: 0.0, 3: 0.0}], k=3)  # all ties at 0
@given(
    samples=st.lists(
        st.dictionaries(
            st.integers(min_value=1, max_value=30),
            st.sampled_from([0.0, 0.0, 0.5, 1.0, 2.0, 7.0]),
            max_size=10,
        ),
        min_size=1,
        max_size=5,
    ),
    k=st.integers(min_value=1, max_value=8),
)
def test_repair_dense_ranks_matches_dense_ranking(samples, k):
    """The driver-side repair equals ranking the DENSE taxon list (absent
    cells are rRPM 0) and then dropping the absent cells — the rule of
    perfbench/oracle.py — for any present cells, ties and k."""
    names = [f"S{i}" for i in range(len(samples))]
    taxa = sorted(set().union(*samples))
    want = []
    for s, cells in zip(names, samples):
        dense = {t: cells.get(t, 0.0) for t in taxa}
        want += [(r.sampleName, r.taxID, r.rank)
                 for r in _ranked(s, dense, k) if r.taxID in cells]
    sparse = [r for s, cells in zip(names, samples) for r in _ranked(s, cells, k)]
    got = repair_dense_ranks(sparse[::-1], k, names, taxa[:k])
    assert [(r.sampleName, r.taxID, r.rank) for r in got] == want
    assert all(list(r.asDict()) == TOP_FIELDS for r in got)


def test_control_group_errors():
    with pytest.raises(ValueError, match="Expected one sample"):
        negative_control_groups(["A", "B"], [("NOMATCH", ".*")])
    with pytest.raises(ValueError, match="Expected one sample"):
        negative_control_groups(["A1", "A2"], [("A", ".*")])
    with pytest.raises(ValueError, match="No samples found"):
        negative_control_groups(["A", "B"], [("^A$", "ZZZ")])


# ---------------------------------------------------------------------------
# pipeline invariants on generated corpora (spark-backed, keep examples low)
# ---------------------------------------------------------------------------


def _write_corpus(tmp_path, corpus):
    paths = []
    for i, taxa in enumerate(corpus):
        sample = f"S{i:02d}"
        total = sum(r for r, _ in taxa) * 2 + 100
        lines = [
            "# kraken2 fake",
            "# Fri Aug 13 00:00:00 2026",
            HEADER,
            f"50.0\t{total // 2}\t{total // 2}\t0\t0\t0\t0\tunclassified\tunclassified",
            f"50.0\t{total - total // 2}\t0\t10\t1.0\t0.5\t1\troot\t  root",
        ]
        for tax_off, (reads, kmers) in enumerate(taxa):
            lines.append(
                f"1.0\t{reads}\t{reads}\t{kmers}\t1.5\t0.5\t{5000 + tax_off}"
                f"\tspecies\t  Sp {5000 + tax_off}"
            )
        p = tmp_path / f"{sample}_report.txt"
        p.write_text("\n".join(lines) + "\n")
        paths.append(str(p))
    return paths


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=100_000),
                st.integers(min_value=1, max_value=500_000),
            ),
            min_size=1,
            max_size=12,
        ),
        min_size=2,
        max_size=4,
    )
)
@pytest.mark.slow_tier
def test_pipeline_invariants(spark, tmp_path_factory, corpus):
    tmp_path = tmp_path_factory.mktemp("prop")
    paths = _write_corpus(tmp_path, corpus)
    k = 5
    result = run_pipeline(spark, paths, rank="species", n_tophits=k)

    rrpm = result.rrpm.collect()
    # ungrouped samples: control denominator is exactly 1 -> rrpm == floor(rpm)
    for r in rrpm:
        assert r["rrpm"] == float(math.floor(r["rpm"]))

    # tophits: at most k rows per sample, ranks within 1..k, no duplicates
    top = result.tophits
    by_sample: dict[str, list[int]] = {}
    for t in top:
        by_sample.setdefault(t["sampleName"], []).append(t["rank"])
    for ranks in by_sample.values():
        assert len(ranks) <= k
        assert len(set(ranks)) == len(ranks)
        assert all(1 <= r <= k for r in ranks)

    # per-taxon total equals the sum of its cells' reads over samples
    per_taxon: dict[int, int] = {}
    totals: dict[int, int] = {}
    for c in rrpm:
        per_taxon[c["taxID"]] = per_taxon.get(c["taxID"], 0) + c["reads"]
        totals[c["taxID"]] = c["total_reads"]
    assert per_taxon == totals


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    series=st.dictionaries(
        st.integers(min_value=0, max_value=40),
        st.integers(min_value=0, max_value=10**6),
        min_size=1,
        max_size=12,
    )
)
def test_ewma_dyadic_exactness(spark, tmp_path_factory, series):
    """evt_ewma_daily's central claim, property-tested: because every
    weight is a dyadic 2^-k and daily totals are integer cents, the
    weighted numerator and the geometric mass are EXACTLY representable
    doubles, so the engine's double must equal driver-side Fraction
    arithmetic (rounded only at the single final division) on ANY
    sparse integer series — not just the hand-picked fixture."""
    import datetime as dt
    from fractions import Fraction

    from bigbugdata_spark.caching import release_pinned
    from bigbugdata_spark.operators.events import EWMA_WINDOW
    from bigbugdata_spark.registry import load_all

    d = tmp_path_factory.mktemp("ewma_prop")
    base = dt.date(2024, 1, 1)
    rows = [
        (i, 1, "click", f"{base + dt.timedelta(days=off)} 10:00:00", c / 100.0)
        for i, (off, c) in enumerate(sorted(series.items()))
    ]
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts string, value double",
    ).selectExpr(
        "event_id", "user_id", "event_type",
        "CAST(ts AS TIMESTAMP) AS ts", "value",
    ).write.mode("overwrite").parquet(str(d / "events.parquet"))

    try:
        got = {
            r["day"]: (r["n_cents"], r["ewma_cents"])
            for r in load_all()["evt_ewma_daily"].fn(spark, str(d)).collect()
        }
    finally:
        release_pinned()

    off0 = min(series)
    assert len(got) == len(series)
    for off, cents in series.items():
        idx = off - off0
        num = sum(
            Fraction(series.get(off - k, 0), 2**k)
            for k in range(EWMA_WINDOW)
        )
        mass = Fraction(2) - Fraction(1, 2 ** min(EWMA_WINDOW - 1, idx))
        day = str(base + dt.timedelta(days=off))
        # num and mass are dyadic -> float() is exact; the final IEEE
        # division is the only rounding step, identical in the JVM
        expect = float(num) / float(mass)
        assert got[day] == (cents, expect), (day, got[day], (cents, expect))
