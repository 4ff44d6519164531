"""Behavior + plan-shape tests for the round-8 batch-2 operators
(events_trans / dq_drift / corpus_shard / text_bpe). Oracle parity is
covered by test_oracle_parity.py; these pin the semantic invariants and
the 100 TB plan claims each docstring makes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigbugdata_spark.operators.corpus import N_SHARDS
from bigbugdata_spark.operators.text import TOP_PAIRS
from bigbugdata_spark.plans import inspect as I
from bigbugdata_spark.registry import load_all

SPECS = load_all()


@pytest.fixture(scope="module")
def sf(sf_oracle):
    return sf_oracle


# --- evt_transition_matrix -------------------------------------------------


def test_transition_matrix_conserves_events(spark, sf):
    """Total transitions = total events - distinct users (each user's
    chain has exactly len-1 edges), and per-source totals agree with
    the pair counts."""
    df = SPECS["evt_transition_matrix"].fn(spark, sf).cache()
    ev = spark.read.parquet(f"{sf}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    total = df.agg(F.sum("n_trans")).collect()[0][0]
    assert total == n_events - n_users

    bad = (
        df.groupBy("prev_state", "n_from")
        .agg(F.sum("n_trans").alias("s"))
        .where(F.col("s") != F.col("n_from"))
        .count()
    )
    assert bad == 0
    # probabilities are a proper conditional distribution per source state
    sums = df.groupBy("prev_state").agg(F.sum("p").alias("ps")).collect()
    for r in sums:
        assert abs(r["ps"] - 1.0) < 1e-9
    df.unpersist()


def test_transition_matrix_plan(spark, sf):
    """One events scan reading only the four needed columns; the lag
    window, pair agg and roll-up window are the only exchanges; no
    joins anywhere."""
    df = SPECS["evt_transition_matrix"].fn(spark, sf)
    scans = I.scan_info(df)
    assert len(scans) == 1
    assert I.read_columns(df)[0] == {"user_id", "ts", "event_id", "event_type"}
    assert I.join_kinds(df) == []
    assert I.shuffle_count(df) <= 3


# --- dq_distribution_drift -------------------------------------------------


def test_distribution_drift_partitions_total(spark, sf):
    """Window counts partition the feed exactly and the share deltas sum
    to zero (both distributions are complete)."""
    df = SPECS["dq_distribution_drift"].fn(spark, sf).cache()
    row = df.agg(
        F.sum("c_ref").alias("sr"),
        F.sum("c_cur").alias("sc"),
        F.max("n_ref").alias("nr"),
        F.max("n_cur").alias("nc"),
        F.sum("delta_pm").alias("dd"),
    ).collect()[0]
    n_events = spark.read.parquet(f"{sf}/events.parquet").count()
    assert row["sr"] + row["sc"] == n_events
    assert row["sr"] == row["nr"] and row["sc"] == row["nc"]
    assert abs(row["dd"]) < 1e-9
    df.unpersist()


def test_distribution_drift_flag_is_exact_integer(spark, sf):
    """The drift flag must agree with the reported fp delta at the
    documented threshold (the integer cross-multiplication is the same
    predicate, decided exactly)."""
    from bigbugdata_spark.operators.dq import DRIFT_THRESHOLD_PM

    rows = SPECS["dq_distribution_drift"].fn(spark, sf).collect()
    for r in rows:
        assert r["drift"] == int(abs(r["delta_pm"]) > DRIFT_THRESHOLD_PM)


def test_distribution_drift_fires_on_planted_shift(spark):
    """The fixture never trips the 10-permille flag (max |delta| ~9.2pm
    at sf0.01), so plant a composition shift and prove the flag FIRES:
    category 'b' doubles its share in the current window while total
    volume stays flat — the exact failure volume checks cannot see."""
    import datetime as dt

    from bigbugdata_spark.operators.dq import DRIFT_CUTOFF, finish_drift, window_counts

    cutoff = dt.datetime.fromisoformat(DRIFT_CUTOFF)
    before = cutoff - dt.timedelta(days=1)
    after = cutoff + dt.timedelta(days=1)
    # ref: 900 a / 100 b; cur: 800 a / 200 b  (b: 10% -> 20%, +100pm)
    rows = (
        [("a", before)] * 900
        + [("b", before)] * 100
        + [("a", after)] * 800
        + [("b", after)] * 200
    )
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {r["event_type"]: r for r in finish_drift(window_counts(ev)).collect()}
    assert out["b"]["drift"] == 1 and out["a"]["drift"] == 1
    assert abs(out["b"]["delta_pm"] - 100.0) < 1e-9
    assert abs(out["a"]["delta_pm"] + 100.0) < 1e-9


def test_distribution_drift_plan(spark, sf):
    df = SPECS["dq_distribution_drift"].fn(spark, sf)
    scans = I.scan_info(df)
    assert len(scans) == 1
    assert I.read_columns(df)[0] == {"event_type", "ts"}
    assert I.join_kinds(df) == []
    # conditional agg + the |event_type|-row totals window
    assert I.shuffle_count(df) <= 2


# --- corpus_shard_assignment -----------------------------------------------


def test_shard_assignment_covers_all_shards(spark, sf):
    df = SPECS["corpus_shard_assignment"].fn(spark, sf).cache()
    rows = df.collect()
    assert sorted(r["shard"] for r in rows) == list(range(N_SHARDS))
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    # affine-hash balance: no shard beyond 2x the even share at sf0.01
    for r in rows:
        assert 0 < r["share_pm"] < 2000
    df.unpersist()


def test_shard_assignment_is_stable_under_append(spark, sf):
    """Membership is a pure function of doc_id: sharding a subset
    assigns every doc the same shard as sharding the full corpus —
    the re-shard-after-append guarantee the docstring sells."""
    from bigbugdata_spark.operators.corpus import shard_col

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    full = docs.select("doc_id", shard_col(F.col("doc_id")).alias("s"))
    subset = docs.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", shard_col(F.col("doc_id")).alias("s2")
    )
    moved = (
        full.join(subset, "doc_id").where(F.col("s") != F.col("s2")).count()
    )
    assert moved == 0


def test_shard_assignment_plan(spark, sf):
    df = SPECS["corpus_shard_assignment"].fn(spark, sf)
    scans = I.scan_info(df)
    assert len(scans) == 1
    assert I.read_columns(df)[0] == {"doc_id", "text"}
    assert I.join_kinds(df) == []
    assert I.shuffle_count(df) <= 2


# --- text_bpe_pair_stats ---------------------------------------------------


def test_bpe_pairs_ranked_and_bounded(spark, sf):
    rows = SPECS["text_bpe_pair_stats"].fn(spark, sf).collect()
    assert len(rows) == TOP_PAIRS
    by_rank = sorted(rows, key=lambda r: r["rnk"])
    assert [r["rnk"] for r in by_rank] == list(range(1, TOP_PAIRS + 1))
    freqs = [r["freq"] for r in by_rank]
    assert freqs == sorted(freqs, reverse=True)
    for r in rows:
        assert len(r["pair"]) == 2


def test_bpe_vocab_weighting_equals_raw_stream(spark, sf):
    """The vocab-weighted count must equal counting pairs over the raw
    token stream — the Heaps'-law optimization may not change results."""
    from bigbugdata_spark.functions import hashing as H

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    raw = (
        docs.select(F.explode(H.tokens(F.col("text"))).alias("w"))
        .where(F.length("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("freq_raw"))
    )
    opt = SPECS["text_bpe_pair_stats"].fn(spark, sf)
    joined = opt.join(raw, "pair", "left")
    bad = joined.where(
        F.col("freq_raw").isNull() | (F.col("freq") != F.col("freq_raw"))
    ).count()
    assert bad == 0


def test_cross_source_conserves_pairs(spark, sf):
    """Every verified near-dup pair lands in exactly one source-pair
    cell (key-normalized, so direction never splits a pair)."""
    from bigbugdata_spark.operators.dedup import dedup_minhash_lsh

    n_pairs = dedup_minhash_lsh(spark, sf).count()
    rows = SPECS["dedup_cross_source"].fn(spark, sf).collect()
    assert sum(r["n_pairs"] for r in rows) == n_pairs
    for r in rows:
        assert r["src_a"] <= r["src_b"]
        assert r["n_pairs"] > 0


def test_source_dup_rate_covers_all_sources(spark, sf):
    rows = SPECS["dedup_source_dup_rate"].fn(spark, sf).collect()
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    assert len(rows) == docs.select("source").distinct().count()
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert 0 <= r["n_duped"] <= r["n_docs"]


def test_cross_source_rollup_no_cartesian(spark, sf):
    """The doc->source joins carry NO broadcast hint (the projection is
    one row per document — corpus-sized at the 100 TB posture; r8
    advisory).  The only invariant worth pinning is that every join is
    keyed: no cartesian or nested-loop join anywhere in the pipeline."""
    df = SPECS["dedup_cross_source"].fn(spark, sf)
    plan = I.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_plan_single_scan_text_only(spark, sf):
    df = SPECS["text_bpe_pair_stats"].fn(spark, sf)
    scans = I.scan_info(df)
    assert len(scans) == 1
    assert I.read_columns(df)[0] == {"text"}
    assert I.join_kinds(df) == []
    # vocab agg + pair agg + the bounded global rank window
    assert I.shuffle_count(df) <= 3


# --- evt_state_dwell -------------------------------------------------------


def test_state_dwell_conservation(spark, sf):
    """Runs partition into closed+open; every user contributes exactly
    one open run; total dwell equals the sum over users of (last run
    start - first run start) — the chain covers each user's history
    with no gaps or overlaps."""
    from bigbugdata_spark.catalog import table
    from bigbugdata_spark.operators.scd import runs_from_events

    rows = SPECS["evt_state_dwell"].fn(spark, sf).collect()
    runs = runs_from_events(table(spark, sf, "events")).cache()
    n_runs = runs.count()
    n_users = runs.select("user_id").distinct().count()
    assert sum(r["n_closed"] + r["n_open"] for r in rows) == n_runs
    assert sum(r["n_open"] for r in rows) == n_users

    span = (
        runs.groupBy("user_id")
        .agg(
            (
                F.unix_micros(F.max("vf")) - F.unix_micros(F.min("vf"))
            ).alias("span_us")
        )
        .agg(F.sum("span_us"))
        .collect()[0][0]
    )
    assert sum(r["total_us"] for r in rows) == span
    for r in rows:
        if r["n_closed"] > 0:
            assert r["mean_us"] == r["total_us"] / r["n_closed"]
        else:
            assert r["mean_us"] is None
    runs.unpersist()


def test_state_dwell_plan(spark, sf):
    df = SPECS["evt_state_dwell"].fn(spark, sf)
    scans = I.scan_info(df)
    assert len(scans) == 1
    assert I.read_columns(df)[0] == {"user_id", "ts", "event_id", "event_type"}
    assert I.join_kinds(df) == []
    # island windows (user / user+type) + run agg + lead window + state agg
    assert I.shuffle_count(df) <= 4


# --- orders_rfm_segments ---------------------------------------------------


def test_rfm_segments_conserve_customers_and_cents(spark, sf):
    rows = SPECS["orders_rfm_segments"].fn(spark, sf).collect()
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    assert sum(r["n_customers"] for r in rows) == cust.count()
    total = orders.agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
    ).collect()[0][0]
    assert sum(r["total_cents"] for r in rows) == total


def test_rfm_never_cell_on_orderless_customers(spark, sf):
    """Every sf0.01 customer has orders, so the left-join path is
    fixture-invisible: plant two orderless customers and prove they
    land in exactly the ('never','none','none') cell with zero cents."""
    from bigbugdata_spark.operators.orders import rfm_segments

    orders = spark.read.parquet(f"{sf}/orders.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet").limit(0)
    extra = spark.createDataFrame(
        [(10_000_001,), (10_000_002,)], "c_custkey long"
    )
    kept = orders.where(F.col("o_custkey") % 7 == 0)
    out = {
        (r["r_band"], r["f_band"], r["m_band"]): r
        for r in rfm_segments(
            kept,
            cust.unionByName(extra, allowMissingColumns=True).select(
                "c_custkey"
            ),
        ).collect()
    }
    never = out[("never", "none", "none")]
    assert never["n_customers"] == 2
    assert never["total_cents"] == 0


def test_rfm_plan_single_orders_scan(spark, sf):
    df = SPECS["orders_rfm_segments"].fn(spark, sf)
    scans = I.scan_info(df)
    assert len(scans) == 2  # orders + customer, each once
    cols = I.read_columns(df)
    assert {"o_custkey", "o_totalprice", "o_orderdate"} in cols
    assert {"c_custkey"} in cols
    plan = I.plan_string(df)
    assert "CartesianProduct" not in plan


# --- text_bigram_lm --------------------------------------------------------


def test_bigram_lm_counts_equal_raw_pairs(spark, sf):
    """The JVM-side slide must count exactly the adjacent token pairs
    of the raw token stream, and conditionals must be proper
    (n_pair <= n_w1, p = n_pair/n_w1)."""
    from bigbugdata_spark.functions import hashing as H

    rows = SPECS["text_bigram_lm"].fn(spark, sf).collect()
    toks = [
        r["t"]
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select(H.tokens(F.col("text")).alias("t"))
        .collect()
    ]
    from collections import Counter

    pair_c: Counter = Counter()
    dep_c: Counter = Counter()
    for t in toks:
        for a, b in zip(t, t[1:]):
            pair_c[(a, b)] += 1
            dep_c[a] += 1
    for r in rows:
        assert r["n_pair"] == pair_c[(r["w1"], r["w2"])]
        assert r["n_w1"] == dep_c[r["w1"]]
        assert r["p_cond"] == r["n_pair"] / r["n_w1"]
    ranks = sorted(r["rnk"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))


def test_bigram_lm_plan_single_scan(spark, sf):
    df = SPECS["text_bigram_lm"].fn(spark, sf)
    scans = I.scan_info(df)
    assert len(scans) == 1
    assert I.read_columns(df)[0] == {"text"}
    assert I.join_kinds(df) == []
    # pair agg + w1 departure window + bounded global rank window
    assert I.shuffle_count(df) <= 3


# --- evt_stream_user_lifecycle ---------------------------------------------


def test_stream_lifecycle_equals_batch_and_subset_of_features(spark, sf):
    """stream == batch through the shared builder, and the overlapping
    columns agree row-for-row with the full batch feature table."""
    from bigbugdata_spark.streaming.events import batch_user_lifecycle

    stream = sorted(
        tuple(r)
        for r in SPECS["evt_stream_user_lifecycle"].fn(spark, sf).collect()
    )
    batch = sorted(tuple(r) for r in batch_user_lifecycle(spark, sf).collect())
    assert stream == batch

    cols = [
        "user_id", "n_events", "first_ts", "last_ts",
        "tenure_us", "n_purchases", "purchase_cents",
    ]
    full = sorted(
        tuple(r)
        for r in SPECS["evt_user_features"].fn(spark, sf).select(cols).collect()
    )
    assert stream == full


# --- evt_user_features -----------------------------------------------------


def test_user_features_conserve_and_bound(spark, sf):
    rows = SPECS["evt_user_features"].fn(spark, sf).collect()
    ev = spark.read.parquet(f"{sf}/events.parquet")
    assert len(rows) == ev.select("user_id").distinct().count()
    assert sum(r["n_events"] for r in rows) == ev.count()
    for r in rows:
        assert 1 <= r["n_types"] <= 5
        assert r["n_purchases"] + r["n_errors"] <= r["n_events"]
        assert r["tenure_us"] >= 0
        assert r["first_ts"] <= r["last_ts"]
        assert r["purchase_share"] == r["n_purchases"] / r["n_events"]


def test_user_features_plan_one_scan_one_shuffle(spark, sf):
    df = SPECS["evt_user_features"].fn(spark, sf)
    scans = I.scan_info(df)
    assert len(scans) == 1
    assert I.join_kinds(df) == []
    # count-distinct expands the aggregate but stays one user_id
    # exchange family; no join, no extra scan
    assert I.shuffle_count(df) <= 2


# --- corpus_curriculum_plan ------------------------------------------------


def test_curriculum_plan_covers_corpus_contiguously(spark, sf):
    """All three stages populated at sf0.01, doc/token totals conserve,
    and stage start offsets tile the token stream with no gaps."""
    rows = sorted(
        SPECS["corpus_curriculum_plan"].fn(spark, sf).collect(),
        key=lambda r: r["stage"],
    )
    assert [r["stage"] for r in rows] == [1, 2, 3]
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    pos = 0
    for r in rows:
        assert r["start_token"] == pos
        pos += r["n_tokens"]


# --- text_quality_score n_punct rewrite ------------------------------------


def test_n_punct_replace_equals_count_property(spark):
    """The positive-class replace formulation (the 12x hot-path fix in
    text_quality_score) must count exactly the chars the old negated-
    class regexp_count counted — property-checked on hypothesis-drawn
    strings plus adversarial unicode/whitespace cases, with a plain
    Python recount as the third witness."""
    from hypothesis import given, settings, strategies as st

    adversarial = [
        "", "   ", "a,b.c!", "héllo wörld", "123 abc", "!!!",
        "tab\tnewline\n", "emoji \U0001f600 astral", "combining é",
        "UPPER Case", " nbsp", "mixed: a1! b2? c3;",
    ]
    cases = st.one_of(
        st.sampled_from(adversarial),
        st.text(min_size=0, max_size=40),
    )

    @settings(max_examples=30, deadline=None)
    @given(st.lists(cases, min_size=1, max_size=8))
    def check(texts):
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        rows = df.select(
            "text",
            F.regexp_count(F.col("text"), F.lit(r"[^a-z0-9 ]"))
            .alias("old"),
            F.length(
                F.regexp_replace(F.col("text"), F.lit(r"[a-z0-9 ]"), F.lit(""))
            ).alias("new"),
        ).collect()
        for r in rows:
            expect = sum(1 for c in r["text"] if not ("a" <= c <= "z" or "0" <= c <= "9" or c == " "))
            assert r["new"] == r["old"] == expect, r

    check()


# --- dq_emb_coverage -------------------------------------------------------


def test_emb_coverage_clean_fixture_all_green(spark, sf):
    row = SPECS["dq_emb_coverage"].fn(spark, sf).collect()[0]
    n = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert row["matched"] == n
    assert (
        row["docs_without_vec"]
        == row["vecs_without_doc"]
        == row["n_bad_dim"]
        == row["n_nonfinite"]
        == row["n_all_zero"]
        == 0
    )


def test_emb_coverage_single_scan_per_table(spark, sf):
    """The one-pass claim: exactly two scans total (documents id-only,
    embeddings once with the vector column) — coverage and defect
    counters share the embeddings read."""
    df = SPECS["dq_emb_coverage"].fn(spark, sf)
    scans = I.scan_info(df)
    assert len(scans) == 2
    cols = I.read_columns(df)
    assert {"doc_id"} in cols
    assert {"vec_id", "embedding"} in cols


def test_emb_coverage_corrupted_fixture_exact_counts(spark):
    """Every defect class fires with its exact count: 2 docs missing
    vectors, 1 orphan vector, 1 short vector, 1 NaN vector, 1 Inf
    vector, 1 all-zero vector."""
    import math

    from bigbugdata_spark.functions.fragments import EMB_DIM
    from bigbugdata_spark.operators.dq import emb_coverage

    good = [0.5] * EMB_DIM
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    emb_rows = [
        (0, good),
        (1, good),
        (2, good[: EMB_DIM - 4]),          # bad dim
        (3, [math.nan] + good[1:]),        # non-finite (NaN)
        (4, [math.inf] + good[1:]),        # non-finite (Inf)
        (5, [0.0] * EMB_DIM),              # all-zero
        # doc 6, 7 have no vector
        (100, good),                       # orphan vector
    ]
    emb = spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<float>"
    )
    row = emb_coverage(docs, emb).collect()[0]
    assert row["matched"] == 6
    assert row["docs_without_vec"] == 2
    assert row["vecs_without_doc"] == 1
    assert row["n_bad_dim"] == 1
    assert row["n_nonfinite"] == 2
    assert row["n_all_zero"] == 1


# --- prof_corr_chars_tokens ------------------------------------------------


def test_corr_matches_numpy_witness(spark, sf):
    """The moment-identity correlation must agree with numpy's corrcoef
    over the same integer pairs (third witness, independent of both
    engines)."""
    import numpy as np

    from bigbugdata_spark.functions import hashing as H

    pairs = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select(
            F.length("text").cast("long").alias("x"),
            F.size(H.tokens(F.col("text"))).cast("long").alias("y"),
        )
        .collect()
    )
    x = np.array([p["x"] for p in pairs], dtype=np.float64)
    y = np.array([p["y"] for p in pairs], dtype=np.float64)
    row = SPECS["prof_corr_chars_tokens"].fn(spark, sf).collect()[0]
    assert row["n"] == len(pairs)
    assert row["sum_x"] == int(x.sum()) and row["sum_y"] == int(y.sum())
    assert abs(row["corr"] - np.corrcoef(x, y)[0, 1]) < 1e-12
    assert -1.0 <= row["corr"] <= 1.0


# --- pipe_release_manifest -------------------------------------------------


def test_release_manifest_consistent_with_components(spark, sf):
    """The composed manifest must agree with its component queries
    computed independently: released docs = quality-gated docs minus
    extra exact-dup copies among them; keys stay in range."""
    from bigbugdata_spark.operators.corpus import N_SHARDS
    from bigbugdata_spark.operators.pipeline import MIN_QUALITY
    from bigbugdata_spark.operators.text import text_quality_score

    rows = SPECS["pipe_release_manifest"].fn(spark, sf).collect()
    q = text_quality_score(spark, sf).where(F.col("quality") >= MIN_QUALITY)
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    gated = q.join(docs, "doc_id")
    n_gated = gated.count()
    n_distinct_content = (
        gated.select(F.sha2(F.col("text"), 256)).distinct().count()
    )
    assert sum(r["n_docs"] for r in rows) == n_distinct_content
    assert n_distinct_content <= n_gated
    for r in rows:
        assert 0 <= r["shard"] < N_SHARDS
        assert r["stage"] in (1, 2, 3)
        assert r["n_docs"] > 0 and r["n_tokens"] > 0


# --- text_template_prefix --------------------------------------------------


def test_template_prefix_matches_python_witness(spark, sf):
    """Cluster set must equal a plain-Python grouping of the first
    PREFIX_TOKENS tokens (third witness, no hashing shortcut)."""
    from collections import Counter

    from bigbugdata_spark.functions import hashing as H
    from bigbugdata_spark.operators.text import PREFIX_TOKENS

    docs = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", H.tokens(F.col("text")).alias("t"))
        .collect()
    )
    groups: dict = {}
    for r in docs:
        if len(r["t"]) >= PREFIX_TOKENS:
            groups.setdefault(tuple(r["t"][:PREFIX_TOKENS]), []).append(
                r["doc_id"]
            )
    want = Counter(
        (len(ids), min(ids)) for ids in groups.values() if len(ids) >= 2
    )
    rows = SPECS["text_template_prefix"].fn(spark, sf).collect()
    got = Counter((r["n_docs"], r["keep_id"]) for r in rows)
    assert got == want and len(rows) > 0


# --- evt_user_burst --------------------------------------------------------


def test_user_burst_flags_and_conservation(spark, sf):
    from bigbugdata_spark.operators.events import BURST_PM

    rows = SPECS["evt_user_burst"].fn(spark, sf).collect()
    ev = spark.read.parquet(f"{sf}/events.parquet")
    assert sum(r["n_events"] for r in rows) == ev.count()
    flags = {r["is_bursty"] for r in rows}
    assert flags == {0, 1}  # both outcomes live in the fixture
    for r in rows:
        assert 1 <= r["max_hour_events"] <= r["n_events"]
        assert r["n_active_hours"] <= r["n_events"]
        # flag must agree with the fp factor at the permille threshold
        assert r["is_bursty"] == int(r["burst_factor"] * 1000 > BURST_PM)


# --- corpus_budget_trim ----------------------------------------------------


def test_budget_trim_respects_budget_and_priority(spark, sf):
    """All three statuses live; admitted tokens never exceed the
    budget; admission follows the (quality DESC, lang ASC) priority
    order exactly — no dropped band may precede a full one."""
    from bigbugdata_spark.operators.corpus import TOKEN_BUDGET

    rows = sorted(
        SPECS["corpus_budget_trim"].fn(spark, sf).collect(),
        key=lambda r: (-r["q_milli"], r["lang"]),
    )
    assert {r["status"] for r in rows} == {"full", "partial", "dropped"}
    admitted = sum(r["n_tokens_sel"] for r in rows)
    assert admitted <= TOKEN_BUDGET
    # the partial band's shortfall is at most what the draw granularity
    # (permille of the band) can leave on the table
    order = [r["status"] for r in rows]
    assert order == sorted(
        order, key=lambda s: {"full": 0, "partial": 1, "dropped": 2}[s]
    )
    for r in rows:
        assert 0 <= r["n_docs_sel"] <= r["n_docs"]
        assert 0 <= r["n_tokens_sel"] <= r["n_tokens"]
        if r["status"] == "full":
            assert r["n_docs_sel"] == r["n_docs"]
        if r["status"] == "dropped":
            assert r["n_docs_sel"] == 0


def test_budget_trim_hard_guarantee_on_skewed_band(spark):
    """The review scenario the greedy exists for: a marginal band with
    one outsized document. The greedy must skip it when it would cross
    the remaining budget, keeping admitted tokens <= budget exactly."""
    from bigbugdata_spark.operators.corpus import budget_trim

    rows = (
        # band A (q=1000): 90 tokens -> full under budget 100
        [(1, 90, 1000, "en", 5)]
        # band B (q=700, marginal): remaining = 10; doc 2 draws first
        # with 1000 tokens and MUST be rejected; doc 3 (4 tokens) and
        # doc 4 (5 tokens) fit; doc 5 (2 tokens) would cross 10 -> out
        + [(2, 1000, 700, "en", 1), (3, 4, 700, "en", 2),
           (4, 5, 700, "en", 3), (5, 2, 700, "en", 4)]
    )
    banded = spark.createDataFrame(
        rows, "doc_id long, n_tokens long, q_milli long, lang string, draw long"
    )
    out = {
        (r["q_milli"], r["lang"]): r
        for r in budget_trim(banded, budget=100).collect()
    }
    assert out[(1000, "en")]["status"] == "full"
    marg = out[(700, "en")]
    assert marg["status"] == "partial"
    # prefix-greedy semantics: admission takes the maximal priority-
    # order PREFIX that fits, so the outsized first doc is rejected and
    # everything behind it too (admitted = 0; shortfall bounded by the
    # first rejected doc's size, per the docstring). The failure mode
    # under review — admitting the 1000-token doc against a 10-token
    # remainder — is impossible.
    assert marg["n_docs_sel"] == 0 and marg["n_tokens_sel"] == 0
    assert marg["n_tokens_sel"] + 90 <= 100


def test_budget_trim_is_deterministic(spark, sf):
    a = sorted(tuple(r) for r in SPECS["corpus_budget_trim"].fn(spark, sf).collect())
    b = sorted(tuple(r) for r in SPECS["corpus_budget_trim"].fn(spark, sf).collect())
    assert a == b


# --- sim_knn_graph ---------------------------------------------------------


def test_knn_graph_shape_and_recall(spark, sf):
    """Every node emits at most KNN_K edges with contiguous ranks and
    no self-loops; graph recall vs the brute-force 5-NN stays above a
    floor (the IVF-candidate approximation contract)."""
    from collections import defaultdict

    import numpy as np

    from bigbugdata_spark.operators.similarity_graph import KNN_K

    rows = SPECS["sim_knn_graph"].fn(spark, sf).collect()
    per_src = defaultdict(list)
    for r in rows:
        assert r["src"] != r["dst"]
        per_src[r["src"]].append(r["rnk"])
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    assert len(per_src) == len(emb)  # every vector is a source node
    for ranks in per_src.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= KNN_K

    # brute-force 5-NN witness in numpy
    ids = np.array([r["vec_id"] for r in emb])
    M = np.array([r["embedding"] for r in emb], dtype=np.float64)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    np.fill_diagonal(S, -np.inf)
    exact = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in np.argsort(-S[i], kind="stable")[:KNN_K]
    }
    got = {(r["src"], r["dst"]) for r in rows}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.60, f"knn-graph recall collapsed: {recall:.3f}"


# --- sim_semantic_clusters -------------------------------------------------


def test_semantic_clusters_partition_corpus(spark, sf):
    """Components partition all vectors; majority counts and purity
    are consistent; singleton clusters are pure by definition."""
    rows = SPECS["sim_semantic_clusters"].fn(spark, sf).collect()
    n_vecs = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    assert sum(r["n_vecs"] for r in rows) == n_vecs
    # component rep is the min member id, so reps are unique
    assert len({r["component"] for r in rows}) == len(rows)
    for r in rows:
        assert 1 <= r["n_majority"] <= r["n_vecs"]
        assert r["purity"] == r["n_majority"] / r["n_vecs"]
        if r["n_vecs"] == 1:
            assert r["purity"] == 1.0
    # the fixture's embeddings are label-unstructured, so the purity
    # diagnostic must FIRE: the giant component's purity sits near the
    # 1/|labels| chance floor, far from coherent
    giant = max(rows, key=lambda r: r["n_vecs"])
    assert giant["n_vecs"] > 100 and giant["purity"] < 0.3


def test_connected_components_random_graphs_vs_union_find(spark):
    """Property fuzz: on hypothesis-drawn random graphs the distributed
    min-label fixpoint must equal a plain union-find witness (component
    = min member id)."""
    from hypothesis import given, settings, strategies as st

    from bigbugdata_spark.functions.graph import connected_components

    @settings(max_examples=10, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=20),
        edges=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=19),
                st.integers(min_value=0, max_value=19),
            ),
            max_size=25,
        ),
    )
    def check(n, edges):
        edges = [(a, b) for a, b in edges if a < n and b < n and a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {
            i: min(j for j in range(n) if find(j) == find(i))
            for i in range(n)
        }
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        e = spark.createDataFrame(
            edges or [(0, 0)], "a long, b long"
        )
        if not edges:
            e = e.limit(0)
        got = {
            r["id"]: r["component"]
            for r in connected_components(nodes, e).collect()
        }
        assert got == want

    check()


def test_connected_components_on_known_graph(spark):
    """The shared CC helper resolves a known graph exactly: two chains
    and an isolated node."""
    from bigbugdata_spark.functions.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(7)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (5, 4)], "a long, b long"
    )
    got = {
        (r["id"], r["component"])
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 3), (6, 6)}


# --- dq_freshness ----------------------------------------------------------


def test_freshness_exercises_both_flags(spark, sf):
    """The fixture itself covers fresh AND stale: events land within a
    day of their anchor, the orders feed is a month behind its SLA."""
    rows = {r["feed"]: r for r in SPECS["dq_freshness"].fn(spark, sf).collect()}
    assert rows["events"]["is_stale"] == 0
    assert rows["orders"]["is_stale"] == 1
    for r in rows.values():
        assert r["lag_hours"] >= 0
    ev_max = (
        spark.read.parquet(f"{sf}/events.parquet")
        .agg(F.max("ts"))
        .collect()[0][0]
    )
    assert rows["events"]["max_ts"].startswith(str(ev_max.date()))


# --- dq_stream_distribution_drift ------------------------------------------


def test_stream_drift_foreachbatch_overwrite_sink(spark, sf, tmp_path):
    """The documented production path: complete-mode window counts
    overwrite a parquet card table per trigger via foreachBatch; the
    final table finished through finish_drift equals the batch query,
    and re-running the stream (replay) leaves it unchanged."""
    from bigbugdata_spark.operators.dq import finish_drift, window_counts
    from bigbugdata_spark.streaming.core import stream_events

    out = str(tmp_path / "drift_card")

    def write(batch, _bid):
        batch.write.mode("overwrite").parquet(out)

    for i in range(2):
        # second run uses a FRESH checkpoint so the source genuinely
        # re-reads everything and foreachBatch fires again — a run
        # against the retained checkpoint would be a no-op and prove
        # nothing about the overwrite's replay idempotence
        q = (
            window_counts(stream_events(spark, sf))
            .writeStream.outputMode("complete")
            .foreachBatch(write)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ckpt{i}"))
            .start()
        )
        q.awaitTermination()

    got = sorted(
        tuple(r) for r in finish_drift(spark.read.parquet(out)).collect()
    )
    want = sorted(
        tuple(r) for r in SPECS["dq_distribution_drift"].fn(spark, sf).collect()
    )
    assert got == want


def test_stream_drift_equals_batch(spark, sf):
    """The streaming monitor's final table must equal the batch query
    row-for-row (availableNow ingests the whole fixture)."""
    batch = sorted(
        tuple(r) for r in SPECS["dq_distribution_drift"].fn(spark, sf).collect()
    )
    stream = sorted(
        tuple(r)
        for r in SPECS["dq_stream_distribution_drift"].fn(spark, sf).collect()
    )
    assert stream == batch


# --- emb_label_centroid_stats ----------------------------------------------


def test_centroid_stats_matches_naive_scatter(spark, sf):
    """The integer scatter identity must equal the naive per-row
    squared-distance-to-centroid mean, computed independently in
    numpy over the same quantized vectors."""
    import numpy as np

    from bigbugdata_spark.functions.quantization import quantized_vec

    q = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .select("label", quantized_vec(F.col("embedding")).alias("qv"))
        .collect()
    )
    by_label: dict = {}
    for r in q:
        by_label.setdefault(r["label"], []).append(r["qv"])
    rows = SPECS["emb_label_centroid_stats"].fn(spark, sf).collect()
    assert {r["label"] for r in rows} == set(by_label)
    for r in rows:
        vecs = np.array(by_label[r["label"]], dtype=np.float64)
        naive = ((vecs - vecs.mean(axis=0)) ** 2).sum(axis=1).mean()
        assert r["n_vecs"] == len(vecs)
        assert r["msd"] >= 0
        assert abs(r["msd"] - naive) < 1e-6 * max(naive, 1.0)
        assert abs(r["rmsd"] - naive**0.5) < 1e-6


def test_centroid_stats_plan(spark, sf):
    """Reads only (label, embedding); no cartesian / nested-loop join;
    the label-key join of two dataset-card frames may broadcast."""
    df = SPECS["emb_label_centroid_stats"].fn(spark, sf)
    # pruning: no scan may read beyond (label, embedding) — vec_id stays
    # out. (The pinned quantized frame can make the visible scan narrower
    # than both columns, so subset, not equality.)
    for cols in I.read_columns(df):
        assert cols <= {"label", "embedding"}
    plan = I.plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_connected_components_chain_rounds_logarithmic(spark):
    """r8 verdict item 3: the star-contraction CC must resolve a chain
    (diameter = n, the propagation worst case) in O(log n) alternations.
    Measured: rounds = log2(n) + 1 exactly on chains; assert a small
    constant of slack so plan-irrelevant changes don't flap the test."""
    import math

    from bigbugdata_spark.functions import graph

    for n in (64, 256):
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "a long, b long"
        )
        labels = graph.connected_components(nodes, edges).collect()
        assert all(r["component"] == 0 for r in labels)
        assert graph.LAST_ROUNDS <= math.log2(n) + 3
