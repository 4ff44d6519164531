"""Behaviour tests for the profiling cards in operators/profile.py:
numeric histograms."""

from __future__ import annotations

from bigbugdata_spark.registry import load_all


SPECS = load_all()


def test_numeric_histogram_conserves_and_bounds(spark, sf_oracle):
    """Bucket counts conserve to the table sizes; bucket ids stay in
    [0, HIST_BUCKETS); bucket_lo is monotone in bucket id per column."""
    from bigbugdata_spark.operators.profile import HIST_BUCKETS

    rows = SPECS["prof_numeric_histogram"].fn(spark, sf_oracle).collect()
    n_orders = spark.read.parquet(f"{sf_oracle}/orders.parquet").count()
    n_events = spark.read.parquet(f"{sf_oracle}/events.parquet").count()
    by_col = {}
    for r in rows:
        assert 0 <= r["bucket"] < HIST_BUCKETS
        by_col.setdefault(r["col_name"], []).append(r)
    assert sum(r["n_rows"] for r in by_col["orders.o_totalprice"]) == n_orders
    assert sum(r["n_rows"] for r in by_col["events.value"]) == n_events
    for col_rows in by_col.values():
        s = sorted(col_rows, key=lambda r: r["bucket"])
        los = [r["bucket_lo_cents"] for r in s]
        assert los == sorted(los)
