"""Round-12 additions.

Scale-fix invariants: the LSH band index's collision-bound scaling
claim (VERDICT r11 #5) pinned structurally, the two-level IVF router's
constants/SQL twins, atomic edge-generation writes, and graph memo
eviction (ADVICE r11).

Semantic tests for the twelve r12-new queries (oracle parity proves
engine agreement; these pin that the agreed-on answer is the RIGHT
answer): multi-touch attribution (conservation + single-scan plan +
the streaming path-buffer kernel), numeric histograms, the partition
advisor, sentence/boilerplate stats, the quality-threshold curve,
batch-only IVF assignment, bot regularity, temperature mixing, the
step-deadline funnel, and header/detail reconciliation — with planted
fixtures wherever the real corpus cannot trip a branch.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from bigbugdata_spark.registry import load_all

SPECS = load_all()


def _tagged_replication(spark, src_dir: str, out_dir: Path, factor: int):
    """bench._build_scale_dir's documents rule, in miniature: `factor`
    doc replicas with key offsets and per-replica token tags so gram
    spaces are disjoint and near-dup pairs stay within replicas."""
    base = spark.read.parquet(f"{src_dir}/documents.parquet")
    reps = []
    for i in range(factor):
        rep = base.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000_000))
        if i > 0:
            rep = rep.withColumn(
                "text", F.regexp_replace(F.col("text"), r"(\S+)", f"r{i}$1")
            )
        reps.append(rep)
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.write.mode("overwrite").parquet(str(out_dir / "documents.parquet"))


def _candidate_count(spark, sf_dir: str) -> int:
    """The band-collision candidate relation's size for the incremental
    batch slice — the stage BEFORE exact-Jaccard verification, i.e. the
    quantity the collision-bound claim is about."""
    from bigbugdata_spark.operators.dedup import _doc_shingles
    from bigbugdata_spark.operators.dedup_incr import _incoming_col, _band_frame

    sh = _doc_shingles(spark, sf_dir)
    bands = _band_frame(sh)
    batch_bands = _band_frame(sh.filter(_incoming_col()))
    return (
        batch_bands.alias("n")
        .join(bands.alias("c"), "bkey")
        .where(F.col("n.doc_id") != F.col("c.doc_id"))
        .select(F.col("n.doc_id"), F.col("c.doc_id"))
        .distinct()
        .count()
    )


def test_lsh_candidate_volume_linear(spark, tmp_path):
    """The scaling rule's measurable core: with disjoint-gram replicas
    (the honest stand-in for a bigger corpus), band-collision candidate
    volume grows LINEARLY with the corpus — a 3x corpus yields ~3x the
    candidates (each replica contributes its own collisions; random
    cross-replica band collisions are ~2^-256), never the ~9x a
    quadratic all-pairs plan would show."""
    src = "/root/testdata/sf0.01"
    c1 = _candidate_count(spark, src)
    assert c1 > 0, "fixture produced no candidates — the test is vacuous"
    rep_dir = tmp_path / "x3"
    rep_dir.mkdir()
    _tagged_replication(spark, src, rep_dir, 3)
    c3 = _candidate_count(spark, str(rep_dir))
    # exact-linear would be 3x if the batch slice hit each replica
    # identically; the affine batch predicate over offset ids shifts
    # per-replica batch membership, so allow a generous linear band
    # while staying far below quadratic (9x)
    assert c3 <= 4.5 * c1, f"super-linear candidate growth: {c1} -> {c3}"
    assert c3 >= 1.5 * c1, f"candidates did not grow with the corpus: {c1} -> {c3}"


def test_graph_ivf_k_constant_cells():
    """The graph-build K rule bounds expected cell membership at
    IVF_ASSIGN * GRAPH_CELL_ROWS for any corpus size (above the floor),
    and the SQL twin computes the identical K."""
    import duckdb

    from bigbugdata_spark.functions.fragments import (
        GRAPH_CELL_ROWS,
        IVF_ASSIGN,
        IVF_K,
        graph_ivf_k,
        sql_graph_ivf_k,
    )

    con = duckdb.connect()
    for n in (100, 2_000, 20_000, 1_000_000, 123_456_789):
        k = graph_ivf_k(n)
        assert k >= IVF_K
        if k > IVF_K:
            # expected members per cell = n * IVF_ASSIGN / K <= bound
            assert n * IVF_ASSIGN / k <= IVF_ASSIGN * GRAPH_CELL_ROWS
        con.sql(f"CREATE OR REPLACE VIEW src AS SELECT * FROM range({n})")
        (sql_k,) = con.sql(f"SELECT {sql_graph_ivf_k('src')}").fetchone()
        assert sql_k == k, f"n={n}: SQL twin {sql_k} != python {k}"


def test_sup_count_twin_and_router_reach():
    """sup_count's SQL twin agrees, and the two-level router's expected
    reach (SUP_ASSIGN * SUP_PROBE * K / SUP cells) always covers the
    widest take the graph build requests (KNN_PROBE)."""
    import duckdb

    from bigbugdata_spark.functions.fragments import (
        IVF_K,
        SUP_ASSIGN,
        SUP_PROBE,
        sql_sup_count,
        sup_count,
    )
    from bigbugdata_spark.operators.similarity_graph import KNN_PROBE

    con = duckdb.connect()
    for k in (IVF_K, 22, 44, 156, 1000, 31623):
        s = sup_count(k)
        (sql_s,) = con.sql(f"SELECT {sql_sup_count(str(k))}").fetchone()
        assert sql_s == s
        assert SUP_ASSIGN * SUP_PROBE * k / s >= KNN_PROBE


def test_knn_edges_atomic_write_leaves_no_tmp(spark, sf_oracle):
    """The generation write goes through a temp sibling + rename
    (ADVICE r11): after a build, the final location exists with
    _SUCCESS and the call leaves no NEW tmp/debris sibling (since r14
    the tmp is uuid-unique, '{loc}.tmp-{hex}').  Snapshot-based so a
    crashed EARLIER run's young leftover (spared by the age-gated
    collector for TTL) reads as pre-existing, not as this write
    leaking."""
    from bigbugdata_spark.operators import similarity_graph as G

    fp = G.generation_fp(sf_oracle)
    loc = Path(G.index_path(f"{G._EDGES_PREFIX}{fp}"))

    def _siblings():
        return {
            p.name
            for pat in (".tmp*", ".debris*")
            for p in loc.parent.glob(loc.name + pat)
        }

    before = _siblings()
    G.knn_edges(spark, sf_oracle)
    assert (loc / "_SUCCESS").exists()
    new = _siblings() - before
    assert not new, new


def test_graph_memo_evicts_other_corpora(spark, sf_oracle, tmp_path):
    """ADVICE r11: touching a second corpus evicts the first corpus's
    memo entries (bounded checkpoint blocks in long-lived sessions)."""
    from bigbugdata_spark.operators import similarity_graph as G

    src = Path(sf_oracle) / "embeddings.parquet"
    dst = tmp_path / "embeddings.parquet"
    if src.is_dir():
        shutil.copytree(str(src), str(dst))
    else:
        shutil.copy(str(src), str(dst))

    G.knn_edges(spark, sf_oracle)
    fp1 = G.generation_fp(sf_oracle)
    assert any(k[1] == fp1 for k in G._MEMO)
    G.knn_edges(spark, str(tmp_path))
    fp2 = G.generation_fp(str(tmp_path))
    assert any(k[1] == fp2 for k in G._MEMO)
    assert not any(k[1] == fp1 for k in G._MEMO), (
        "other-corpus memo entries must be evicted"
    )


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


def test_partition_advisor_picks_finest_clearing_granularity(spark, sf_oracle):
    """total_rows is identical for all granularities (same events),
    partition counts are monotone day >= week >= month, and exactly one
    granularity is chosen whenever any clears the floor — the finest."""
    rows = {r["gran"]: r for r in SPECS["store_partition_advisor"].fn(spark, sf_oracle).collect()}
    assert set(rows) == {"day", "week", "month"}
    totals = {r["total_rows"] for r in rows.values()}
    assert len(totals) == 1
    assert (
        rows["day"]["n_partitions"]
        >= rows["week"]["n_partitions"]
        >= rows["month"]["n_partitions"]
    )
    clearing = [g for g in ("day", "week", "month") if rows[g]["meets_floor"] == 1]
    chosen = [g for g, r in rows.items() if r["chosen"] == 1]
    if clearing:
        assert chosen == [clearing[0]]
    else:
        assert chosen == []


def test_sentence_stats_docs_conserve(spark, sf_oracle):
    """Per-language doc counts conserve to the documents table; a doc
    with no sentence-ending punctuation still counts (its whole trimmed
    text is one segment unless empty)."""
    rows = SPECS["text_sentence_stats"].fn(spark, sf_oracle).collect()
    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    want = {r["lang"]: r["cnt"] for r in docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    got = {r["lang"]: r["n_docs"] for r in rows}
    assert got == want
    for r in rows:
        assert r["long_sentences"] <= r["n_sentences"]
        assert 0 <= r["long_sent_pm"] <= 1000


def test_boilerplate_bounds_and_consistency(spark, sf_oracle):
    """Boilerplate occurrences never exceed total sentences; the rate
    is the integer-permille of exactly those columns; distinct
    boilerplate sentences <= occurrences; totals agree with
    text_sentence_stats' per-lang sentence counts (same segmenter)."""
    rows = {r["lang"]: r for r in SPECS["text_boilerplate"].fn(spark, sf_oracle).collect()}
    sent = {r["lang"]: r for r in SPECS["text_sentence_stats"].fn(spark, sf_oracle).collect()}
    assert set(rows) == set(sent)
    for lang, r in rows.items():
        assert r["boiler_occurrences"] <= r["n_sentences"]
        assert r["boiler_distinct"] <= r["boiler_occurrences"]
        assert r["boiler_pm"] == r["boiler_occurrences"] * 1000 // r["n_sentences"]
        assert r["n_sentences"] == sent[lang]["n_sentences"]


def test_stream_mta_kernel_path_and_reset():
    """The path-buffer kernel: touches accumulate in order across
    chunks, a purchase credits cents-div-k with remainder to the LAST
    touch and resets the path, an empty path credits organic."""
    import pandas as pd

    from bigbugdata_spark.streaming.events import _credit_path

    class _S:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    def chunk(rows):
        return pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": pd.to_datetime([r[1] for r in rows], unit="s"),
                "event_id": [r[2] for r in rows],
                "event_type": [r[3] for r in rows],
                "cents": [r[4] for r in rows],
            }
        )

    s = _S()
    # two touches then a 100-cent purchase: 50/50, remainder 0
    out = pd.concat(
        list(
            _credit_path(
                (1,),
                iter(
                    [
                        chunk(
                            [
                                (1, 1, 10, "click", 0),
                                (1, 2, 20, "view", 0),
                                (1, 3, 30, "purchase", 100),
                            ]
                        )
                    ]
                ),
                s,
            )
        )
    )
    assert list(zip(out["touch_type"], out["credit"])) == [("click", 50), ("view", 50)]
    # path reset after the purchase; high-water mark at the last event
    assert s.get == ("", 0, 3_000_000, 30)
    # next purchase with no new touches -> organic; 3-way split with
    # remainder to the LAST touch: 101 over [a,b,c] -> 33,33,35
    out2 = pd.concat(
        list(_credit_path((1,), iter([chunk([(1, 4, 40, "purchase", 77)])]), s))
    )
    assert list(zip(out2["touch_type"], out2["credit"])) == [("organic", 77)]
    for r in [(1, 5, 50, "search", 0), (1, 6, 60, "click", 0), (1, 7, 70, "view", 0)]:
        list(_credit_path((1,), iter([chunk([r])]), s))
    out3 = pd.concat(
        list(_credit_path((1,), iter([chunk([(1, 8, 80, "purchase", 101)])]), s))
    )
    assert list(zip(out3["touch_type"], out3["credit"])) == [
        ("search", 33),
        ("click", 33),
        ("view", 35),
    ]


@pytest.mark.slow_tier
def test_stream_mta_matches_batch(spark, sf_oracle):
    """Whole-fixture availableNow stream == the batch window derivation
    (the registered oracle gates both; this pins Spark-vs-Spark)."""
    streamed = {
        tuple(r)
        for r in SPECS["evt_stream_multi_touch"].fn(spark, sf_oracle).collect()
    }
    batch = {
        tuple(r)
        for r in SPECS["evt_multi_touch_attribution"].fn(spark, sf_oracle).collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_quality_curve_monotone_and_anchored(spark, sf_oracle):
    """Retention is monotone non-increasing in the threshold; threshold
    0 keeps everything; kept counts at each threshold equal a recount
    from the registered quality scores (shared definition, no drift)."""
    rows = {
        r["threshold_deci"]: r
        for r in SPECS["text_quality_threshold_curve"].fn(spark, sf_oracle).collect()
    }
    assert set(rows) == set(range(11))
    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet").count()
    assert rows[0]["docs_kept"] == docs
    assert rows[0]["tokens_kept_pm"] == 1000
    for t in range(1, 11):
        for c in ("docs_kept", "tokens_kept", "chars_kept"):
            assert rows[t][c] <= rows[t - 1][c]
    # recount from the registered score (deci = quality * 10, exact)
    q = SPECS["text_quality_score"].fn(spark, sf_oracle).collect()
    for t in range(11):
        want = sum(1 for r in q if round(r["quality"] * 10) >= t)
        assert rows[t]["docs_kept"] == want, t


def test_batch_assign_consistent_with_incremental_delta(spark, sf_oracle):
    """The production-cycle query's per-cell additions equal the
    delta-gate query's n_added column cell-for-cell (one assignment
    definition, two registrations)."""
    got = {
        r["cell_id"]: r["n_added"]
        for r in SPECS["sim_ivf_batch_assign"].fn(spark, sf_oracle).collect()
    }
    want = {
        r["cell_id"]: r["n_added"]
        for r in SPECS["sim_ivf_incremental_assign"].fn(spark, sf_oracle).collect()
        if r["n_added"] > 0
    }
    assert got == want


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


def test_temperature_mix_flattens_and_conserves(spark, sf_oracle):
    """T=1/2 flattening: epochs_milli is non-increasing in n_tokens
    across sources (small oversampled, large subsampled); allocations
    conserve the one-corpus budget within per-source truncation; shares
    sum to <= 1000 pm (truncating division)."""
    rows = sorted(
        SPECS["corpus_temperature_mix"].fn(spark, sf_oracle).collect(),
        key=lambda r: r["n_tokens"],
    )
    assert len(rows) >= 2
    total_tokens = sum(r["n_tokens"] for r in rows)
    total_alloc = sum(r["alloc_tokens"] for r in rows)
    assert total_tokens - len(rows) < total_alloc <= total_tokens
    assert sum(r["target_share_pm"] for r in rows) <= 1000
    # flattening direction: same weight -> epochs ordered by size;
    # globally the LARGEST source never oversamples more than the
    # SMALLEST (strict when sizes differ enough to change the weight)
    assert rows[0]["epochs_milli"] >= rows[-1]["epochs_milli"]
    if rows[0]["weight"] != rows[-1]["weight"]:
        assert rows[0]["epochs_milli"] > rows[-1]["epochs_milli"]
    for r in rows:
        assert r["weight"] == int(r["n_tokens"] ** 0.5)


def test_mta_single_scan_plan(spark, sf_oracle):
    """The r12 plan-audit fix stays fixed: linear attribution reads
    events ONCE (window-only derivation — the first cut's branch
    structure paid four scans) with no unbounded global window."""
    from bigbugdata_spark.plans import inspect as I

    df = SPECS["evt_multi_touch_attribution"].fn(spark, sf_oracle)
    assert len(I.scan_info(df)) == 1
    assert I.unbounded_global_windows(df) == []


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
