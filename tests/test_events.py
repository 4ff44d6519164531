"""Behaviour tests for the batch event analytics in operators/events.py:
multi-touch credit conservation, bot regularity and funnel deadlines,
on planted fixtures beyond oracle parity."""

from __future__ import annotations

from bigbugdata_spark.registry import load_all

SPECS = load_all()


# --- r12-new query semantics (oracle parity proves engine agreement;
# these pin that the agreed-on answer is the RIGHT answer) -----------------


def test_multi_touch_credit_conserves_cents(spark, sf_oracle):
    """Linear attribution must conserve money exactly: total credited
    cents equals total purchase cents (the floor-division remainders go
    to each path's last touch), and matches last-touch attribution's
    total (same purchases, different split)."""
    mta = SPECS["evt_multi_touch_attribution"].fn(spark, sf_oracle).collect()
    lta = SPECS["evt_purchase_attribution"].fn(spark, sf_oracle).collect()
    assert sum(r["credited_cents"] for r in mta) == sum(
        r["attributed_cents"] for r in lta
    )
    # organic purchases (no touch anywhere before them since the last
    # purchase) are a subset of last-touch organic (no touch EVER
    # before them), so linear organic count >= last-touch organic count
    mta_org = next((r["n_credits"] for r in mta if r["touch_type"] == "organic"), 0)
    lta_org = next(
        (r["n_purchases"] for r in lta if r["touch_type"] == "organic"), 0
    )
    assert mta_org >= lta_org


def test_bot_regularity_planted_fixture(spark, tmp_path):
    """Both flag branches live (the events_mad standard: a monitor no
    fixture can trip is untested code): a scripted user firing every
    60 s exactly flags regular; a human with jittered gaps does not;
    a user below MIN_EVENTS emits no row."""
    import datetime as dt

    from bigbugdata_spark.operators.events import MIN_EVENTS

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # bot: 10 events, exactly 60s apart
    for i in range(10):
        eid += 1
        rows.append((eid, base + dt.timedelta(seconds=60 * i), 1, "click", 0.0, "{}"))
    # human: 10 events, erratic gaps (seconds: 5, 300, 17, 3600, ...)
    t = base
    for i, gap in enumerate((5, 300, 17, 3600, 42, 7200, 9, 900, 123)):
        eid += 1
        t = t + dt.timedelta(seconds=gap)
        rows.append((eid, t, 2, "view", 0.0, "{}"))
    rows.append((eid + 1, base, 2, "view", 0.0, "{}"))
    # thin user: below MIN_EVENTS
    for i in range(MIN_EVENTS - 1):
        rows.append((eid + 2 + i, base + dt.timedelta(seconds=i), 3, "click", 0.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r["user_id"]: r
        for r in SPECS["evt_bot_regularity"].fn(spark, str(tmp_path)).collect()
    }
    assert set(got) == {1, 2}
    assert got[1]["regular_flag"] == 1 and got[1]["mad_gap_us"] == 0
    assert got[1]["median_gap_us"] == 60_000_000
    assert got[2]["regular_flag"] == 0


def test_funnel_steps_deadline_semantics(spark, tmp_path, sf_oracle):
    """The per-step clock: a click INSIDE the signup window qualifies;
    a purchase is timed from the QUALIFYING click (not the signup), so
    a purchase 7h after signup but 5h after the click converts, while
    a user whose only click lands past the 6h signup deadline never
    reaches step 2 even with a prompt purchase."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def ev(eid, uid, t_hours, typ):
        return (eid, base + dt.timedelta(hours=t_hours), uid, typ, 0.0, "{}")

    rows = [
        # user 1: signup@0, click@2 (qualifies), purchase@7 (5h after click)
        ev(1, 1, 0, "signup"), ev(2, 1, 2, "click"), ev(3, 1, 7, "purchase"),
        # user 2: signup@0, click@8 (PAST deadline), purchase@9
        ev(4, 2, 0, "signup"), ev(5, 2, 8, "click"), ev(6, 2, 9, "purchase"),
        # user 3: signup@0, click@1, purchase@8 (7h after click: too late)
        ev(7, 3, 0, "signup"), ev(8, 3, 1, "click"), ev(9, 3, 8, "purchase"),
        # user 4: click/purchase but never signed up
        ev(10, 4, 0, "click"), ev(11, 4, 1, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    (r,) = SPECS["evt_funnel_steps"].fn(spark, str(tmp_path)).collect()
    assert (r["n_signup"], r["n_click_6h"], r["n_purchase_6h"]) == (3, 2, 1)
    assert r["click_conv_pm"] == 2000 // 3
    assert r["purchase_conv_pm"] == 500
    # fixture liveness: every step populated on the real corpus too
    (f,) = SPECS["evt_funnel_steps"].fn(spark, sf_oracle).collect()
    assert f["n_signup"] > f["n_click_6h"] > f["n_purchase_6h"] > 0
