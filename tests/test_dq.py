"""Behaviour tests for the data-quality cards in operators/dq.py: order
reconciliation on the fixture and on a planted book."""

from __future__ import annotations

from bigbugdata_spark.registry import load_all

SPECS = load_all()


def test_order_reconciliation_planted_consistent_book(spark, tmp_path, sf_oracle):
    """Both reconciliation outcomes live: a planted consistent book
    (headers = exact line sums) reconciles to the cent; a corrupted
    header and an orphan header are counted where they belong.  On the
    real fixture (independently generated columns) counts conserve and
    every joined order mismatches — the broken-feed picture."""
    import datetime as dt

    li_rows = [
        # order 1: two lines -> 100.00 + 52.50
        (1, 100.0, 0.0, 0.0), (1, 50.0, 0.0, 0.05),
        # order 2: one line -> 198.00
        (2, 200.0, 0.01, 0.0),
        # order 3: one line, header will be corrupted
        (3, 10.0, 0.0, 0.0),
    ]
    li = spark.createDataFrame(
        [(k, ep, d, t) for k, ep, d, t in li_rows],
        "l_orderkey long, l_extendedprice double, l_discount double, l_tax double",
    )
    orders = spark.createDataFrame(
        [
            (1, "O", 152.50, dt.date(2024, 1, 1)),
            (2, "O", 198.00, dt.date(2024, 1, 2)),
            (3, "F", 11.00, dt.date(2024, 1, 3)),  # corrupted header
            (4, "F", 5.00, dt.date(2024, 1, 4)),  # orphan: no lines
        ],
        "o_orderkey long, o_orderstatus string, o_totalprice double, o_orderdate date",
    )
    li.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    orders.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = {
        r["o_orderstatus"]: r
        for r in SPECS["dq_order_reconciliation"].fn(spark, str(tmp_path)).collect()
    }
    assert got["O"]["n_matched"] == 2 and got["O"]["n_orphan_headers"] == 0
    assert got["O"]["sum_delta_cents"] == 0
    assert got["F"]["n_matched"] == 0 and got["F"]["n_orphan_headers"] == 1
    assert got["F"]["sum_delta_cents"] == 100  # 11.00 vs 10.00 in cents
    # fixture: counts conserve; the generator's columns are independent
    rows = SPECS["dq_order_reconciliation"].fn(spark, sf_oracle).collect()
    n_orders = spark.read.parquet(f"{sf_oracle}/orders.parquet").count()
    assert sum(r["n_orders"] for r in rows) == n_orders
    assert all(r["n_matched"] == 0 for r in rows)
    assert sum(r["n_orphan_headers"] for r in rows) > 0
