"""Round-9 operator behavior tests (oracle parity itself is covered for
every registered query by tests/test_oracle_parity.py)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigbugdata_spark.registry import load_all

SPECS = load_all()


def test_zorder_accounting_buckets_partition_events(spark, sf_oracle):
    sf = sf_oracle
    """Bucket rows partition the event table exactly; z-buckets stay
    inside the fixed 6-bit bucket id space; both column spans are
    consistent per bucket."""
    rows = SPECS["evt_zorder_lake_accounting"].fn(spark, sf).collect()
    n_events = spark.read.parquet(f"{sf}/events.parquet").count()
    assert sum(r["n_rows"] for r in rows) == n_events
    assert len(rows) > 1, "fixture must spread over several z ranges"
    for r in rows:
        assert 0 <= r["z_bucket"] < 64
        assert r["min_user"] <= r["max_user"]
        assert r["min_cents"] <= r["max_cents"]


def test_asset_accounting_covers_both_modalities(spark, sf_oracle):
    sf = sf_oracle
    """The parity-classified extensions land both modalities; counts
    match the slice; asset ids are root-relative (lang prefix, no
    URI scheme)."""
    rows = {
        r["modality"]: r
        for r in SPECS["mm_asset_lake_accounting"].fn(spark, sf).collect()
    }
    assert set(rows) == {"image", "blob"}
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_slice = docs.filter(F.col("doc_id") % 10 == 7).count()
    assert sum(r["n_assets"] for r in rows.values()) == n_slice
    for r in rows.values():
        assert "/d" in r["first_asset"]
        assert not r["first_asset"].startswith("file:")
        assert len(r["min_digest"]) == 32


def test_ivf_recall_floor_at_two_scales_with_scaled_codebook(spark):
    """r8 verdict item 6 'done' criterion: with K = max(16, floor
    sqrt(n)) and the scaled probe width, the IVF recall contract holds
    at two corpus scales — and the codebook size actually scales
    (n=500 -> K=22, n=2000 -> K=44), so the test fails if the sizing
    silently reverts to a constant."""
    from bigbugdata_spark.functions.fragments import IVF_K, scaled_ivf_k
    from bigbugdata_spark.operators.similarity import _corpus, ivf_cents

    seen_k = []
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
        corpus = _corpus(spark, sf)
        k = ivf_cents(corpus).count()
        assert k == scaled_ivf_k(corpus.count())
        seen_k.append(k)
        rows = SPECS["audit_ivf_recall"].fn(spark, sf).collect()
        recall = sum(r["n_overlap"] for r in rows) / sum(
            r["n_exact"] for r in rows
        )
        assert recall >= 0.85, f"{sf}: recall collapsed to {recall:.3f}"
    assert len(set(seen_k)) > 1 and max(seen_k) > IVF_K


def test_cohort_ltv_acquisition_month_covers_everyone(spark, sf_oracle):
    """Offset 0 holds every customer exactly once across cohorts (the
    first order lands there by construction); offsets never go
    negative; revenue cents conserve against the raw table."""
    rows = SPECS["orders_cohort_ltv"].fn(spark, sf_oracle).collect()
    orders = spark.read.parquet(f"{sf_oracle}/orders.parquet")
    n_cust = orders.select("o_custkey").distinct().count()
    assert all(r["month_offset"] >= 0 for r in rows)
    assert sum(r["n_customers"] for r in rows if r["month_offset"] == 0) == n_cust
    assert sum(r["n_orders"] for r in rows) == orders.count()
    want_cents = orders.select(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
    ).first()[0]
    assert sum(r["revenue_cents"] for r in rows) == want_cents


def test_mad_profile_bounds_and_conservation(spark, sf_oracle):
    """Counts conserve; MAD is nonnegative and never above the group's
    value span; the fixture's heavy-tailed purchase values make the
    outlier flag fire somewhere (a monitor no fixture can trip is
    untested code)."""
    rows = SPECS["evt_anomaly_mad"].fn(spark, sf_oracle).collect()
    ev = spark.read.parquet(f"{sf_oracle}/events.parquet")
    assert sum(r["n_events"] for r in rows) == ev.count()
    for r in rows:
        assert r["mad_cents"] >= 0
        assert 0 <= r["n_outliers"] < r["n_events"]
    assert any(r["n_outliers"] > 0 for r in rows)


def test_threshold_curve_conserves_pairs(spark, sf_oracle):
    """Band pair-counts partition the verified pair set; every band
    sits at or above the operating threshold (0.5 -> band >= 5)."""
    from bigbugdata_spark.operators.dedup import dedup_minhash_lsh

    rows = SPECS["dedup_threshold_curve"].fn(spark, sf_oracle).collect()
    n_pairs = dedup_minhash_lsh(spark, sf_oracle).count()
    assert sum(r["n_pairs"] for r in rows) == n_pairs and n_pairs > 0
    for r in rows:
        assert r["band"] >= 5
        assert abs(r["j_lo"] - r["band"] / 10) < 1e-12
        assert 0 < r["n_sides"] <= 2 * r["n_pairs"]


def test_seasonality_profile_covers_clock(spark, sf_oracle):
    """Cells conserve the event count, keys stay in the ISO clock
    domain, and the hot flag agrees with the exact share arithmetic."""
    rows = SPECS["evt_seasonality_profile"].fn(spark, sf_oracle).collect()
    ev = spark.read.parquet(f"{sf_oracle}/events.parquet")
    total = ev.count()
    assert sum(r["n_events"] for r in rows) == total
    for r in rows:
        assert 1 <= r["dow"] <= 7 and 0 <= r["hod"] <= 23
        assert r["is_hot"] == int(2 * 168 * r["n_events"] > 3 * total)


def test_stream_freshness_equals_batch_events_row(spark, sf_oracle):
    """stream == batch for the live freshness monitor: the streaming
    one-row card must equal the batch audit's events row exactly."""
    batch = {
        r["feed"]: (r["max_ts"], r["lag_hours"], r["is_stale"])
        for r in SPECS["dq_freshness"].fn(spark, sf_oracle).collect()
    }
    rows = SPECS["dq_stream_freshness"].fn(spark, sf_oracle).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["max_ts"], r["lag_hours"], r["is_stale"]) == batch["events"]
    assert r["is_stale"] == 0  # the fixture's events feed is fresh


def test_bpe_train_equals_python_greedy_witness(spark, sf_oracle):
    """The distributed trainer must match an independent textbook
    greedy BPE (left-to-right merge application, count DESC + lexi
    tie-break, self-pairs excluded) run driver-side over the same word
    vocabulary — pinning both the per-round argmax AND the two-pass
    replace application's equivalence to greedy merging on real text."""
    import collections
    import re

    from bigbugdata_spark.operators.text import BPE_STEPS

    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    freqs = collections.Counter()
    for r in docs.select("text").collect():
        for w in re.split(r"\s+", r["text"].strip().lower()):
            if re.fullmatch(r"[a-z0-9]+", w):
                freqs[w] += 1
    vocab = {w: list(w) for w in freqs}

    def greedy_merge(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    want = []
    for step in range(BPE_STEPS):
        counts = collections.Counter()
        for w, syms in vocab.items():
            f = freqs[w]
            for x, y in zip(syms, syms[1:]):
                if x != y:
                    counts[(x, y)] += f
        if not counts:
            break
        (a, b), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        want.append((step, a, b, c))
        vocab = {w: greedy_merge(s, a, b) for w, s in vocab.items()}

    got = [
        (r["step"], r["lhs"], r["rhs"], r["pair_count"])
        for r in SPECS["text_bpe_train"].fn(spark, sf_oracle).collect()
    ]
    assert sorted(got) == sorted(want)
    assert len(got) == BPE_STEPS


def test_growth_accounting_splits_and_conserves(spark, sf_oracle):
    """n_active = n_new + n_returning per day; every user is new on
    exactly one day; event counts conserve."""
    rows = SPECS["evt_growth_accounting"].fn(spark, sf_oracle).collect()
    ev = spark.read.parquet(f"{sf_oracle}/events.parquet")
    assert sum(r["n_events"] for r in rows) == ev.count()
    assert sum(r["n_new"] for r in rows) == ev.select("user_id").distinct().count()
    for r in rows:
        assert r["n_active"] == r["n_new"] + r["n_returning"]


def test_stream_seasonality_equals_batch(spark, sf_oracle):
    """stream == batch for the live seasonality heatmap."""
    def key(rows):
        return sorted(
            (r["dow"], r["hod"], r["n_events"], r["is_hot"]) for r in rows
        )

    batch = key(SPECS["evt_seasonality_profile"].fn(spark, sf_oracle).collect())
    stream = key(SPECS["evt_stream_seasonality"].fn(spark, sf_oracle).collect())
    assert stream == batch and len(batch) > 0


def test_incremental_lsh_equals_gram_path_and_plan(spark, sf_oracle):
    """The band-index ingest path must produce the identical result
    relation as the gram-index path (both are gated by the same
    ground-truth oracle; this pins them against each other directly),
    and its plan must shingle only the batch — exactly one documents
    scan pruned to (doc_id, text)."""
    from bigbugdata_spark.plans import inspect as I

    rel = lambda df: {  # noqa: E731
        (r["new_id"], r["match_id"], round(r["jaccard"], 12))
        for r in df.collect()
    }
    lsh = SPECS["dedup_incremental_lsh"].fn(spark, sf_oracle)
    gram = SPECS["dedup_incremental"].fn(spark, sf_oracle)
    assert rel(lsh) == rel(gram) and rel(gram)
    doc_scans = [
        c for c in I.read_columns(lsh) if c == {"doc_id", "text"}
    ]
    assert len(doc_scans) == 1, "corpus must NOT be re-shingled"
    assert "CartesianProduct" not in I.plan_string(lsh)


@pytest.mark.slow_tier
def test_lsh_index_incremental_append_equals_rebuild(tmp_path, spark):
    """Band-index maintenance: base build + batch append must equal a
    from-scratch full build in both tables (bands as multisets, sets
    keyed by doc)."""
    from pyspark.sql import functions as F

    from bigbugdata_spark.operators.dedup import _doc_shingles
    from bigbugdata_spark.operators.dedup_incr import (
        _corpus_fingerprint,
        _lsh_index_names as _index_names,
        append_batch_to_lsh_index,
        lsh_index,
    )

    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(12)), "en", "syn", 0)
        for i in range(20)
    ]
    full_dir = tmp_path / "full"
    base_dir = tmp_path / "base"
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.write.parquet(str(full_dir / "documents.parquet"))
    batch_pred = F.col("doc_id") >= 15
    docs.filter(~batch_pred).write.parquet(str(base_dir / "documents.parquet"))

    bands_f, sets_f = lsh_index(spark, str(full_dir))
    want_bands = sorted((r["doc_id"], r["bkey"]) for r in bands_f.collect())
    want_sets = sorted(
        (r["doc_id"], tuple(sorted(r["grams"]))) for r in sets_f.collect()
    )

    base_fp = _corpus_fingerprint(str(base_dir))
    lsh_index(spark, str(base_dir))
    append_batch_to_lsh_index(
        spark, _doc_shingles(spark, str(full_dir)).filter(batch_pred), base_fp
    )
    band_name, set_name = _index_names(base_fp)
    got_bands = sorted(
        (r["doc_id"], r["bkey"]) for r in spark.table(band_name).collect()
    )
    got_sets = sorted(
        (r["doc_id"], tuple(sorted(r["grams"])))
        for r in spark.table(set_name).collect()
    )
    assert got_bands == want_bands
    assert got_sets == want_sets


def test_stream_new_users_equals_batch_growth_column(spark, sf_oracle):
    """The stateful first-seen tracker's per-day counts must equal
    evt_growth_accounting's n_new column exactly."""
    batch = {
        r["day"]: r["n_new"]
        for r in SPECS["evt_growth_accounting"].fn(spark, sf_oracle).collect()
        if r["n_new"] > 0
    }
    stream = {
        r["day"]: r["n_new"]
        for r in SPECS["evt_stream_new_users"].fn(spark, sf_oracle).collect()
    }
    assert stream == batch and batch


def test_bpe_compression_reduction_equals_merge_counts(spark, sf_oracle):
    """Exact cross-query invariant: for distinct-symbol pairs,
    occurrences of the chosen pair can never overlap each other, so
    every occurrence is applied and each round removes exactly
    pair_count symbols — base_symbols - merged_symbols must equal the
    SUM of the trainer's pair counts."""
    comp = SPECS["text_bpe_compression"].fn(spark, sf_oracle).collect()[0]
    merges = SPECS["text_bpe_train"].fn(spark, sf_oracle).collect()
    assert comp["base_symbols"] - comp["merged_symbols"] == sum(
        r["pair_count"] for r in merges
    )
    assert 0 <= comp["saved_pm"] <= 1000
    assert comp["n_words"] > 0 and comp["n_tokens"] >= comp["n_words"]


def test_gram_index_survives_session_restart_via_attach(spark, sf_oracle):
    """A fresh session (simulated by dropping this session's catalog
    entries — the external files persist) must ADOPT the completed
    on-disk generation instead of rebuilding: same results, and the
    data files' mtimes do not change."""
    from pathlib import Path

    from bigbugdata_spark.operators.dedup_incr import (
        _corpus_fingerprint,
        _index_names,
        gram_index,
        index_path,
    )

    gram_index(spark, sf_oracle)  # ensure built
    fp = _corpus_fingerprint(sf_oracle)
    names = _index_names(fp)
    before = {
        f: f.stat().st_mtime_ns
        for n in names
        for f in Path(index_path(n)).glob("*.parquet")
    }
    assert before
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}")
    idx, sizes, gdf = gram_index(spark, sf_oracle)
    assert idx.count() > 0 and sizes.count() > 0 and gdf.count() > 0
    after = {
        f: f.stat().st_mtime_ns
        for n in names
        for f in Path(index_path(n)).glob("*.parquet")
    }
    assert after == before, "attach must not rewrite the index files"


def test_semantic_keep_one_exemplar_per_cluster(spark, sf_oracle):
    """Exactly one keeper per component (its min id); sizes conserve;
    on this encoder-collapsed fixture the keep rule drops almost
    everything — pinned, because that drop IS the reason the purity
    diagnostic gates semantic dedup."""
    rows = SPECS["sim_semantic_keep"].fn(spark, sf_oracle).collect()
    n_vecs = spark.read.parquet(f"{sf_oracle}/embeddings.parquet").count()
    assert len(rows) == n_vecs
    comps = {}
    for r in rows:
        comps.setdefault(r["component"], []).append(r)
    clusters = SPECS["sim_semantic_clusters"].fn(spark, sf_oracle).collect()
    assert len(comps) == len(clusters)
    for comp, members in comps.items():
        keepers = [r for r in members if r["keep"] == 1]
        assert len(keepers) == 1
        assert keepers[0]["vec_id"] == comp == min(r["vec_id"] for r in members)
        assert all(r["cluster_size"] == len(members) for r in members)
    # encoder-collapse drop behavior: most vectors are dropped
    assert sum(r["keep"] for r in rows) < n_vecs * 0.2


def test_revenue_concentration_bounds(spark, sf_oracle):
    """Top share bounded by (top-k/n, 1000] permille; totals conserve
    against the raw table; the plan takes top-k (no global sort)."""
    from pyspark.sql import functions as F

    from bigbugdata_spark.operators.orders import TOP_CUSTOMERS
    from bigbugdata_spark.plans import inspect as I

    df = SPECS["orders_revenue_concentration"].fn(spark, sf_oracle)
    r = df.collect()[0]
    orders = spark.read.parquet(f"{sf_oracle}/orders.parquet")
    want = orders.select(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
    ).first()[0]
    assert r["total_cents"] == want
    assert 0 < r["top_cents"] <= r["total_cents"]
    # top-k mean >= overall mean -> share_pm >= 1000*k/n (floor slack 1)
    assert r["share_pm"] >= 1000 * TOP_CUSTOMERS // r["n_customers"] - 1
    assert "TakeOrderedAndProject" in I.plan_string(df, "simple")
    assert I.unbounded_global_windows(df) == []
