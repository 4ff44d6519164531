"""Extension-family invariants beyond oracle parity: LSH recall/precision
against exact baselines, and structural properties the driver's
hash-compare can't express."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigbugdata_spark.registry import load_all

SPECS = load_all()


@pytest.fixture(scope="module")
def exact_cos_pairs(spark, sf_oracle):
    df = SPECS["dedup_emb_cosine"].fn(spark, sf_oracle)
    return {(r["v1"], r["v2"]) for r in df.collect()}


def test_emb_lsh_subset_of_exact(spark, sf_oracle, exact_cos_pairs):
    """LSH candidates are verified with exact cosine -> precision is 1:
    every emitted pair must appear in the brute-force answer."""
    lsh = {
        (r["v1"], r["v2"])
        for r in SPECS["dedup_emb_lsh"].fn(spark, sf_oracle).collect()
    }
    assert lsh <= exact_cos_pairs


def test_emb_lsh_recall(spark, sf_oracle, exact_cos_pairs):
    """16 tables x 4 bits at cos>=0.4 — measured recall on this corpus is
    1.0 (59/59); assert a conservative floor so seed/plan changes that
    collapse recall fail loudly."""
    lsh = {
        (r["v1"], r["v2"])
        for r in SPECS["dedup_emb_lsh"].fn(spark, sf_oracle).collect()
    }
    assert len(exact_cos_pairs) > 0
    recall = len(lsh & exact_cos_pairs) / len(exact_cos_pairs)
    assert recall >= 0.9, f"recall collapsed: {recall:.3f}"


def test_ivf_recall(spark, sf_oracle):
    """IVF@nprobe=8 with the fixed k=16 hash codebook and top-2 redundant
    assignment measures 0.963 recall@10 on this near-isotropic corpus;
    assert a floor that catches quantizer/probe regressions. The whole
    computation is deterministic (hash-sampled codebook, fixed data) so
    the floor can sit close to the measurement."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in SPECS["sim_cosine_topk"].fn(spark, sf_oracle).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in SPECS["sim_ivf_topk"].fn(spark, sf_oracle).collect()
    }
    assert len(exact) > 0
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.9, f"IVF recall collapsed: {recall:.3f}"


def test_chunker_covers_every_token(spark, sf_oracle):
    """Chunk accounting invariant: for each doc, the chunk sizes must
    equal sum(min(SIZE, n - s)) over starts s in range(0, n, STRIDE),
    chunk starts must be exactly the stride lattice, and the first chunk
    must begin at 0 — i.e. no token is ever skipped."""
    from bigbugdata_spark.catalog import table
    from bigbugdata_spark.functions.hashing import tokens
    from bigbugdata_spark.functions.fragments import CHUNK_SIZE, CHUNK_STRIDE

    from pyspark.sql import functions as F

    n_tokens = {
        r["doc_id"]: r["n"]
        for r in table(spark, sf_oracle, "documents")
        .select("doc_id", F.size(tokens(F.col("text"))).alias("n"))
        .collect()
    }
    chunks: dict[int, list[tuple[int, int]]] = {}
    for r in SPECS["text_chunk"].fn(spark, sf_oracle).collect():
        chunks.setdefault(r["doc_id"], []).append((r["start"], r["n_tokens"]))
    assert chunks.keys() == n_tokens.keys()
    for doc_id, pairs in chunks.items():
        n = n_tokens[doc_id]
        starts = sorted(s for s, _ in pairs)
        assert starts == list(range(0, n, CHUNK_STRIDE))
        got = {s: c for s, c in pairs}
        for s in starts:
            assert got[s] == min(CHUNK_SIZE, n - s)


def test_op09_orders_numerically(spark, sf_oracle):
    """VERDICT r1 note: the op09 oracle can't pin ordering (the driver
    compare is order-insensitive) — assert it locally: string ids come
    back in numeric order."""
    vals = [
        r["sample_id"]
        for r in SPECS["op09_numeric_aware_sort"].fn(spark, sf_oracle).collect()
    ]
    assert vals == sorted(vals, key=int)


def test_op10_orders_by_key(spark, sf_oracle):
    vals = [
        r["l_partkey"] for r in SPECS["op10_ordered_output"].fn(spark, sf_oracle).collect()
    ]
    assert vals == sorted(vals)


def test_minhash_equals_ngram_jaccard(spark, sf_oracle):
    """Two independent formulations (LSH-bucketed minhash + verify vs
    inverted-index exact) must agree pair-for-pair on this corpus."""
    mh = {
        (r["d1"], r["d2"])
        for r in SPECS["dedup_minhash_lsh"].fn(spark, sf_oracle).collect()
    }
    ng = {
        (r["d1"], r["d2"])
        for r in SPECS["dedup_ngram_jaccard"].fn(spark, sf_oracle).collect()
    }
    assert mh == ng
    assert len(mh) > 0, "corpus should contain near-dup pairs"


def test_stop_gram_cap_bounds_hot_gram_blowup(tmp_path, spark):
    """The max_gram_df valve for dedup_ngram_jaccard: a boilerplate gram
    shared by m documents expands to m^2/2 rows in the inverted-index
    self-join; with the cap, grams over the DF threshold are dropped from
    both join sides BEFORE the join. On a corpus with a hot gram:
    (a) the capped result equals the uncapped one when the hot grams
        never carried a qualifying pair (the boilerplate pairs sit far
        below the Jaccard threshold);
    (b) a cap of 1 empties the join universe entirely — proof the valve
        gates the join input, not just the output."""
    from bigbugdata_spark.operators.dedup import dedup_ngram_jaccard

    boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = []
    for i in range(12):
        filler = " ".join(f"w{i}x{j}" for j in range(20))
        rows.append((i, boiler + " " + filler, "en", "syn", 0))
    twin = "one two three four five six seven eight nine ten eleven twelve"
    rows.append((100, twin, "en", "syn", 0))
    rows.append((101, twin, "en", "syn", 0))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)

    uncapped = {(r["d1"], r["d2"]) for r in dedup_ngram_jaccard(spark, sf).collect()}
    capped = {
        (r["d1"], r["d2"])
        for r in dedup_ngram_jaccard(spark, sf, max_gram_df=5).collect()
    }
    assert (100, 101) in uncapped
    assert capped == uncapped  # hot boilerplate grams never made a pair
    assert dedup_ngram_jaccard(spark, sf, max_gram_df=1).count() == 0


def test_int8_quantization_preserves_neighbor_order(spark, sf_oracle):
    """Int8 scalar quantization (emb_quantize_int8's transform) must not
    disturb nearest-neighbor ordering: top-10 by quantized cosine vs
    exact cosine measures recall 1.0 at sf0.01 (int8 distortion is tiny
    at dim 64); assert a 0.9 floor against scale/rounding regressions."""
    import numpy as np

    from bigbugdata_spark.catalog import table

    rows = (
        table(spark, sf_oracle, "embeddings").select("vec_id", "embedding").collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Q = np.round(X * (127 / np.abs(X).max(axis=1, keepdims=True)))

    def topk(M, k=10):
        n = M / np.linalg.norm(M, axis=1, keepdims=True)
        S = n @ n.T
        np.fill_diagonal(S, -2)
        return {
            ids[qi]: set(ids[np.lexsort((ids, -S[qi]))[:k]])
            for qi in range(len(ids))
            if ids[qi] < 8
        }

    exact, quant = topk(X), topk(Q)
    recall = sum(len(exact[q] & quant[q]) for q in exact) / sum(
        len(exact[q]) for q in exact
    )
    assert recall >= 0.9, f"quantized ordering collapsed: {recall:.3f}"


def test_quantize_zero_vector_guard(spark):
    """An all-zero embedding must quantize to the zero vector on BOTH
    builders (ADVICE r6: 127/max|x| divides by zero there — unguarded,
    0 * inf = NaN poisons every downstream distance, e.g. the kmeans
    consumer). The non-zero row pins that the guard changed nothing on
    the normal path."""
    import duckdb

    from bigbugdata_spark.functions.quantization import (
        quantized_vec,
        sql_quantized_vec,
    )

    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["qv"]
        for r in df.select(
            "vec_id", quantized_vec(F.col("embedding")).alias("qv")
        ).collect()
    }
    assert got[0] == [0, 0, 0]
    assert got[1] == [64, -127, 32]

    con = duckdb.connect()
    sql = con.execute(
        f"""
        SELECT vec_id, {sql_quantized_vec("embedding")} AS qv
        FROM (VALUES (0, [0.0, 0.0, 0.0]), (1, [1.0, -2.0, 0.5]))
             AS t(vec_id, embedding)
        ORDER BY vec_id
        """
    ).fetchall()
    con.close()
    assert {vid: qv for vid, qv in sql} == got


def test_mega_bucket_guard_gates_bucket_joins(tmp_path, spark):
    """max_bucket_width on the LSH bucket-pair expansion: 30 identical
    documents land in ONE simhash bucket per block (30^2/2 pair blowup);
    with the guard below that width the degenerate buckets are dropped
    wholesale and the pair set is empty, while the ungated run emits all
    435 pairs. (A real pipeline catches exact dups in dedup_exact before
    any LSH stage — the guard is for the skew, not the semantics.)"""
    from bigbugdata_spark.operators.dedup import dedup_simhash

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, text, "en", "syn", 0) for i in range(30)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    assert dedup_simhash(spark, sf).count() == 30 * 29 // 2
    assert dedup_simhash(spark, sf, max_bucket_width=10).count() == 0


def test_approx_quantiles_within_rank_error(spark, sf_oracle):
    """evt_value_quantiles_approx (GK sketch) vs the exact rank-based
    baseline: every reported quantile's rank in the true sorted values
    must sit within a generous tolerance of the target percentile (GK
    with accuracy 10000 guarantees rank error <= n/10000)."""
    import bisect

    from bigbugdata_spark.functions.fragments import cents_col as _cents_col
    from bigbugdata_spark.catalog import table

    approx = {
        r["event_type"]: r
        for r in SPECS["evt_value_quantiles_approx"].fn(spark, sf_oracle).collect()
    }
    vals = (
        table(spark, sf_oracle, "events")
        .select("event_type", _cents_col().alias("cents"))
        .collect()
    )
    by_type: dict[str, list[int]] = {}
    for r in vals:
        by_type.setdefault(r["event_type"], []).append(r["cents"])
    assert set(approx) == set(by_type)
    for et, cents in by_type.items():
        cents.sort()
        n = len(cents)
        for p, col in ((0.5, "p50_cents"), (0.9, "p90_cents"), (0.99, "p99_cents")):
            v = approx[et][col]
            lo = bisect.bisect_left(cents, v) / n
            hi = bisect.bisect_right(cents, v) / n
            assert lo - 0.005 <= p <= hi + 0.005, (et, col, v, lo, hi)


def test_hll_vocab_within_rsd(spark, sf_oracle):
    """text_vocab_approx (HLL++, rsd 0.01) vs the exact text_token_stats:
    both distinct counts must land within 5 sigma of exact, and the
    non-sketch column (total_tokens) must be exactly equal."""
    exact = {
        r["lang"]: r for r in SPECS["text_token_stats"].fn(spark, sf_oracle).collect()
    }
    approx = {
        r["lang"]: r for r in SPECS["text_vocab_approx"].fn(spark, sf_oracle).collect()
    }
    assert set(exact) == set(approx)
    for lang in exact:
        assert approx[lang]["total_tokens"] == exact[lang]["total_tokens"]
        for a_col, e_col in (
            ("n_docs_approx", "n_docs"),
            ("distinct_terms_approx", "distinct_terms"),
        ):
            a, e = approx[lang][a_col], exact[lang][e_col]
            assert abs(a - e) <= max(5, 0.05 * e), (lang, a_col, a, e)


def test_cluster_keep_accepts_lsh_pair_source(spark, sf_oracle):
    """dedup_cluster_keep(pairs=dedup_minhash_lsh(...)) — the 100 TB
    composition — must produce exactly the default (exact-join) result on
    this corpus, where the two pair sets are provably identical."""
    from bigbugdata_spark.operators.dedup import dedup_cluster_keep, dedup_minhash_lsh

    default = {
        tuple(r) for r in dedup_cluster_keep(spark, sf_oracle).collect()
    }
    via_lsh = {
        tuple(r)
        for r in dedup_cluster_keep(
            spark, sf_oracle, pairs=dedup_minhash_lsh(spark, sf_oracle)
        ).collect()
    }
    assert via_lsh == default


def test_cc_fused_init_multi_round_chain(spark):
    """The r18 fused init (label init + propagation round 1 collapsed
    into one least(a, min(b)) aggregation) must still converge through
    MULTIPLE further rounds: a path graph of diameter 4 needs label
    propagation well past round 1, so any convergence-check or init
    error shows here where the near-dup corpus (tiny cliques, 2 rounds)
    cannot exercise it."""
    from bigbugdata_spark.operators.dedup import cc_node_labels

    # chain 2-9-5-7-1 (component min 1 enters from one end) + pair 10-11
    pairs = spark.createDataFrame(
        [(2, 9), (9, 5), (5, 7), (7, 1), (10, 11)], "d1 long, d2 long"
    )
    labels = {r["doc_id"]: r["cluster_rep"] for r in cc_node_labels(pairs).collect()}
    assert labels == {1: 1, 2: 1, 5: 1, 7: 1, 9: 1, 10: 10, 11: 10}


def test_sim_cosine_topk_np_matches_exact_baseline(spark, sf_oracle):
    """The Arrow/numpy blocked-matmul path returns the identical
    (query, neighbor, rank) result as the oracle-checked JVM baseline —
    fp sums differ only in final ulps, far below this corpus' score
    separations."""
    from bigbugdata_spark.operators.similarity import (
        sim_cosine_topk,
        sim_cosine_topk_np,
    )

    want = {
        (r.query_id, r.neighbor_id, r.rnk)
        for r in sim_cosine_topk(spark, sf_oracle).collect()
    }
    got = {
        (r.query_id, r.neighbor_id, r.rnk)
        for r in sim_cosine_topk_np(spark, sf_oracle).collect()
    }
    assert got == want


# --- corpus governance family (r5) -----------------------------------------


def test_split_partitions_every_document(spark, sf_oracle):
    """The stratified split is a partition of the corpus: per-language
    split counts sum to the language's total, all three splits exist
    corpus-wide, and train holds the lion's share (cut points 980/990
    permille — allow generous sampling slack at small SF)."""
    from bigbugdata_spark.catalog import table
    from bigbugdata_spark.operators.corpus import corpus_split_stratified

    rows = corpus_split_stratified(spark, sf_oracle).collect()
    per_lang_total = {}
    per_split_total = {}
    for r in rows:
        per_lang_total[r["lang"]] = per_lang_total.get(r["lang"], 0) + r["n_docs"]
        per_split_total[r["split"]] = per_split_total.get(r["split"], 0) + r["n_docs"]
    docs = table(spark, sf_oracle, "documents")
    want = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_lang_total == want
    assert set(per_split_total) == {"train", "val", "test"}
    total = sum(per_split_total.values())
    assert per_split_total["train"] / total > 0.9


def test_decontaminate_flags_only_corpus_docs_with_real_overlap(spark, sf_oracle):
    """Flagged documents are never from the benchmark slice, every flag
    carries at least one shared gram, and a spot-checked flagged doc
    really shares a distinct 8-gram hash with some benchmark doc."""
    from bigbugdata_spark.operators.corpus import _BENCH_MOD, text_decontaminate

    rows = text_decontaminate(spark, sf_oracle).collect()
    assert rows, "fixture should contain at least one contaminated doc"
    for r in rows:
        assert r["doc_id"] % _BENCH_MOD != 0
        assert r["n_shared_grams"] >= 1
        assert r["n_bench_docs"] >= 1


def test_governed_corpus_is_subset_of_split_accounting(spark, sf_oracle):
    """The composed pipeline only removes documents: its per-(lang,
    split) counts are bounded by the raw split accounting, and at least
    one document was actually gated out."""
    from bigbugdata_spark.operators.corpus import (
        corpus_split_stratified,
        pipe_governed_corpus,
    )

    raw = {
        (r["lang"], r["split"]): r["n_docs"]
        for r in corpus_split_stratified(spark, sf_oracle).collect()
    }
    governed = {
        (r["lang"], r["split"]): r["n_docs"]
        for r in pipe_governed_corpus(spark, sf_oracle).collect()
    }
    assert governed, "governed corpus should not be empty"
    for key, n in governed.items():
        assert n <= raw[key], (key, n, raw[key])
    assert sum(governed.values()) < sum(raw.values())


def test_decontaminate_external_benchmark(spark, sf_oracle):
    """text_decontaminate(benchmark=...) — the production shape with a
    REAL fixed-size eval corpus: seeding the benchmark with two corpus
    documents' own texts must flag those two documents with FULL gram
    overlap (n_shared_grams == their distinct 8-gram count), and a
    benchmark of novel text must flag nothing."""
    from bigbugdata_spark.catalog import table
    from bigbugdata_spark.functions import hashing as H
    from bigbugdata_spark.operators.corpus import _DECON_N, text_decontaminate

    docs = table(spark, sf_oracle, "documents")
    seeds = (
        docs.select(
            "doc_id",
            "text",
            F.size(
                H.shingle_hashes(
                    H.word_hashes(H.tokens(F.col("text"))),
                    n=_DECON_N,
                    distinct=True,
                )
            ).alias("n_grams"),
        )
        .filter(F.col("n_grams") > 0)
        .orderBy("doc_id")
        .limit(2)
        .collect()
    )
    assert len(seeds) == 2
    bench = spark.createDataFrame(
        [(900_001 + i, r["text"]) for i, r in enumerate(seeds)],
        "doc_id long, text string",
    )
    flagged = {
        r["doc_id"]: r
        for r in text_decontaminate(spark, sf_oracle, benchmark=bench).collect()
    }
    for r in seeds:
        assert r["doc_id"] in flagged, "seed doc must be flagged"
        assert flagged[r["doc_id"]]["n_shared_grams"] == r["n_grams"]

    novel = spark.createDataFrame(
        [(1, "zzqx " * (_DECON_N + 2))], "doc_id long, text string"
    )
    assert text_decontaminate(spark, sf_oracle, benchmark=novel).count() == 0


def test_governed_corpus_external_benchmark(spark, sf_oracle):
    """pipe_governed_corpus(benchmark=...) with a no-overlap benchmark
    keeps the residue-class slice the default drops: totals are strictly
    larger than the default composition's, same schema."""
    from bigbugdata_spark.operators.corpus import pipe_governed_corpus

    novel = spark.createDataFrame(
        [(1, "zzqx " * 12)], "doc_id long, text string"
    )
    default_total = sum(
        r["n_docs"] for r in pipe_governed_corpus(spark, sf_oracle).collect()
    )
    ext = pipe_governed_corpus(spark, sf_oracle, benchmark=novel)
    assert ext.columns == ["lang", "split", "n_docs", "total_chars"]
    ext_total = sum(r["n_docs"] for r in ext.collect())
    assert ext_total > default_total


def test_cms_overestimates_only(spark, sf_oracle):
    """Count-min property: the estimate is one-sided — est >= exact for
    every probe term, with equality whenever no other token collides in
    all four bucket rows; the probe vocabulary must contain real corpus
    terms (otherwise the check is vacuous)."""
    rows = SPECS["text_heavy_hitters_cms"].fn(spark, sf_oracle).collect()
    assert rows
    assert any(r["exact_count"] > 0 for r in rows)
    for r in rows:
        assert r["est_count"] >= r["exact_count"], r


def test_ivfpq_recall(spark, sf_oracle):
    """IVF-PQ at the shipped config (M=16 subspaces, PQ_K=64, rerank 80)
    measures 0.925 recall@10 at sf0.01 — floor at 0.85 against
    codebook/encode/ADC regressions; deterministic like test_ivf_recall."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in SPECS["sim_cosine_topk"].fn(spark, sf_oracle).collect()
    }
    pq = {
        (r["query_id"], r["neighbor_id"])
        for r in SPECS["sim_ivfpq_topk"].fn(spark, sf_oracle).collect()
    }
    assert len(exact) > 0
    recall = len(pq & exact) / len(exact)
    assert recall >= 0.85, f"IVF-PQ recall collapsed: {recall:.3f}"


def test_containment_catches_doc_inside_doc(tmp_path, spark):
    """The asymmetry that motivates dedup_containment: a short document
    verbatim-embedded in a much longer one has Jaccard ~ |A|/|B| (below
    any dedup threshold) but containment 1.0. Build exactly that corpus
    and assert the Jaccard query stays silent while containment flags
    the pair with full-overlap integers."""
    from bigbugdata_spark.operators.dedup import dedup_ngram_jaccard
    from bigbugdata_spark.operators.text import dedup_containment

    short = " ".join(f"core{i}" for i in range(12))
    long_doc = (
        " ".join(f"pre{i}" for i in range(60))
        + " " + short + " "
        + " ".join(f"post{i}" for i in range(60))
    )
    rows = [
        (1, short, "en", "syn", 0),
        (2, long_doc, "en", "syn", 0),
        (3, " ".join(f"other{i}" for i in range(30)), "en", "syn", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)

    jac = {(r["d1"], r["d2"]) for r in dedup_ngram_jaccard(spark, sf).collect()}
    assert (1, 2) not in jac  # symmetric measure is blind to embedding

    cont = {r["d1"]: r for r in dedup_containment(spark, sf).collect()}
    assert 1 in cont and cont[1]["d2"] == 2
    # the short doc's 10 3-gram shingles are all shared: containment 1.0
    assert cont[1]["n_shared"] == cont[1]["sz1"] == 10
    assert cont[1]["sz2"] > cont[1]["sz1"]


def test_span_coverage_consistent_with_gram_census(spark, sf_oracle):
    """text_dup_span_coverage is the document-side projection of
    text_dup_ngrams' gram-side census (same n=8, same duplication
    relation): total duplicated-gram occurrences must agree across the
    two views, every document must appear exactly once, and the per-doc
    counters must be internally ordered."""
    cov = SPECS["text_dup_span_coverage"].fn(spark, sf_oracle).collect()
    from bigbugdata_spark.catalog import table

    assert len(cov) == table(spark, sf_oracle, "documents").count()
    assert len({r["doc_id"] for r in cov}) == len(cov)
    for r in cov:
        assert 0 <= r["n_distinct_dup_grams"] <= r["n_dup_grams"] <= r["n_grams"]
    census = SPECS["text_dup_ngrams"].fn(spark, sf_oracle).collect()
    assert sum(r["n_dup_grams"] for r in cov) == sum(
        r["n_occurrences"] for r in census
    )
    assert any(r["n_dup_grams"] > 0 for r in cov)  # non-vacuous corpus


def test_kmeans_objective_monotone(spark, sf_oracle):
    """Lloyd's invariant: the within-cluster squared-distance objective
    never increases from the seeded assignment to the post-update one
    (each step — reassign, recenter — is individually non-increasing).
    Recomputes both objectives from the module's own building blocks."""
    from pyspark.sql import Window
    from bigbugdata_spark.operators import similarity as km

    q = km._quantized(spark, sf_oracle)
    h = (F.lit(km._KM_A) * F.col("vec_id") + F.lit(km._KM_B)) % F.lit(km._KM_P)
    seeds = q.withColumn("h", h).orderBy("h", "vec_id").limit(km.KM_K)
    w = Window.orderBy("h", "vec_id")
    cent1 = seeds.withColumn("k", F.row_number().over(w)).select(
        "k", F.transform("qv", lambda v: v.cast("double")).alias("cent")
    )
    a1 = km._assign(q, cent1)
    cent2 = km._update(a1)
    a2 = km._assign(q, cent2)

    def objective(assigned, cent):
        j = assigned.join(cent, "k").select(
            km._dist(F.col("qv"), F.col("cent")).alias("d")
        )
        return j.agg(F.sum("d")).first()[0]

    obj1 = objective(a1, cent1)
    obj2 = objective(a2, cent2)
    assert obj2 <= obj1 + 1e-9, (obj1, obj2)
    assert obj1 > 0


def test_dq_rules_fire_on_corrupted_fixture(tmp_path, spark):
    """The dq audits return all-zero violation counts on the clean
    driver corpus, so this is where the rules are proven live: a tiny
    star schema with one planted defect per rule class must surface
    every defect with the exact planted count."""
    import datetime as dt

    sf = str(tmp_path)

    def w(name, rows, schema):
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            f"{sf}/{name}.parquet"
        )

    w("region", [(1, "r")], "r_regionkey long, r_name string")
    w("nation", [(1, "n", 1), (2, "orphan_nation", 99)],
      "n_nationkey long, n_name string, n_regionkey long")
    w("customer", [(1, "c", 1, 0.0, "m")],
      "c_custkey long, c_name string, c_nationkey long, c_acctbal double, c_mktsegment string")
    w("supplier", [(1, "s", 1, 0.0)],
      "s_suppkey long, s_name string, s_nationkey long, s_acctbal double")
    w("part", [(1, "p", "b", "t", 1, 1.0)],
      "p_partkey long, p_name string, p_brand string, p_type string, p_size long, p_retailprice double")
    w("orders", [(1, 1, "O", 10.0, dt.date(2024, 1, 1), "1-URGENT"),
                 (2, 77, "O", -5.0, None, "1-URGENT")],  # orphan cust + 2 rule hits
      "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate date, o_orderpriority string")
    w("lineitem",
      [(1, 1, 1, 1, 5.0, 100.0, 0.1, 0.02, "N", "O", dt.date(2024, 1, 2)),
       (2, 1, 1, 1, -3.0, 0.0, 1.5, -0.1, "N", "O", dt.date(2024, 1, 2)),  # 4 rule hits
       (9, 9, 9, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", dt.date(2024, 1, 2))],  # orphan keys
      "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, l_quantity double, "
      "l_extendedprice double, l_discount double, l_tax double, l_returnflag string, "
      "l_linestatus string, l_shipdate date")
    w("events",
      [(1, dt.datetime(2024, 1, 1, 0, 0), 1, "view", 1.0, "{}"),
       (2, None, 1, "view", -2.0, "{}"),  # null ts + negative value
       (3, dt.datetime(2024, 1, 1, 1, 0), None, "view", 1.0, "{}")],  # NULL FK
      "event_id long, ts timestamp, user_id long, event_type string, value double, props string")
    w("documents", [(1, "ok text", "en", "s", 7), (2, "   ", "en", "s", 3),
                    (3, "drift", "en", "s", 99)],
      "doc_id long, text string, lang string, source string, n_chars long")
    w("embeddings", [(1, [0.1] * 64, 0)],
      "vec_id long, embedding array<float>, label int")

    from bigbugdata_spark.operators.dq import (
        dq_constraint_violations,
        dq_referential_integrity,
    )

    ri = {r["relation"]: r for r in dq_referential_integrity(spark, sf).collect()}
    assert ri["lineitem->orders"]["n_orphans"] == 1      # key 9
    assert ri["lineitem->part"]["n_orphans"] == 1
    assert ri["lineitem->supplier"]["n_orphans"] == 1
    assert ri["orders->customer"]["n_orphans"] == 1      # cust 77
    assert ri["nation->region"]["n_orphans"] == 1        # region 99
    assert ri["events->customer"]["n_orphans"] == 1      # NULL user_id
    assert ri["events->customer"]["n_distinct_fk"] == 1  # NULL excluded
    assert ri["events->customer"]["n_rows"] == 3
    assert ri["customer->nation"]["n_orphans"] == 0

    # NULL-FK edge parity: the whole RI audit must hash-match its oracle
    # ON THE DIRTY FIXTURE too (count(*) vs COUNT(DISTINCT fk) diverge
    # exactly here if the NULL handling slips). Spark wrote directory
    # tables, so the views glob inside them (tests/parity.duckdb_connect
    # expects the driver's single-file layout).
    import duckdb

    from tests.parity import compare

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet/*.parquet'"
        )
    ok, msg = compare(
        dq_referential_integrity(spark, sf),
        con,
        SPECS["dq_referential_integrity"].oracle,
    )
    con.close()
    assert ok, msg

    dq = {r["rule"]: r for r in dq_constraint_violations(spark, sf).collect()}
    expected = {
        "lineitem.quantity_nonpositive": 1,
        "lineitem.price_nonpositive": 1,
        "lineitem.discount_out_of_range": 1,
        "lineitem.tax_negative": 1,
        "orders.totalprice_nonpositive": 1,
        "orders.orderdate_null": 1,
        "events.ts_null": 1,
        "events.value_negative": 1,
        "documents.text_blank": 1,
        "documents.nchars_drift": 1,
    }
    for rule, n in expected.items():
        assert dq[rule]["n_violations"] == n, (rule, dq[rule])
    assert all(r["n_checked"] > 0 for r in dq.values())


def test_split_leakage_lsh_matches_exact(spark, sf_oracle):
    """The scale-path leakage audit (LSH pair source) must agree with
    the exact-pair audit frame-for-frame on this corpus — the invariant
    VERDICT r6 #4 asks for alongside the shared oracle: banding at 16x4
    has miss probability <= 4e-8 for the J >= 0.9 true pairs here, and
    both rollups are deterministic."""
    exact = {
        (r["split_a"], r["split_b"]): r["n_pairs"]
        for r in SPECS["dq_split_leakage"].fn(spark, sf_oracle).collect()
    }
    lsh = {
        (r["split_a"], r["split_b"]): r["n_pairs"]
        for r in SPECS["dq_split_leakage_lsh"].fn(spark, sf_oracle).collect()
    }
    assert exact  # the corpus has near-dup pairs to audit
    assert lsh == exact


def test_state_history_intervals_chain(spark, sf_oracle):
    """SCD2 invariants the hash compare can't express: per user the
    validity intervals CHAIN (each valid_to equals the next valid_from),
    exactly one open-ended current state exists, and no two adjacent
    runs share a state (the island collapse actually collapsed)."""
    rows = SPECS["evt_user_state_history"].fn(spark, sf_oracle).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for uid, hist in by_user.items():
        hist.sort(key=lambda r: r["valid_from"])
        assert sum(r["is_current"] for r in hist) == 1
        assert hist[-1]["is_current"] == 1 and hist[-1]["valid_to"] is None
        for a, b in zip(hist, hist[1:]):
            assert a["valid_to"] == b["valid_from"], (uid, a, b)
            # adjacent runs never share a state — the island collapse
            # merged same-state neighbors — except the ts-tie corner
            # where two states start at the same instant
            if a["state"] == b["state"]:
                assert a["valid_from"] == b["valid_from"], (uid, a, b)


def test_hybrid_retrieval_fuses_both_signals(tmp_path, spark):
    """RRF semantics: a candidate ranked #1 by BOTH lists must beat
    every single-list candidate (score 2/(60+1) > any 1/(60+r)), and
    single-list candidates still surface. Built corpus: doc 9 is a
    verbatim copy of query doc 0 AND shares its embedding direction;
    doc 10 is lexical-only (same text, orthogonal vector); doc 11 is
    semantic-only (same vector, unrelated text)."""
    from bigbugdata_spark.operators.similarity import rag_hybrid_retrieval

    def vec(i, scale=1.0):
        v = [0.0] * 64
        v[i % 64] = float(scale)
        return v

    q_text = "alpha beta gamma delta epsilon zeta eta theta"
    docs, vecs = [], []
    for i in range(8):  # the standing query set vec_id < 8
        docs.append((i, q_text if i == 0 else f"query {i} filler text {i}",
                     "en", "s", 0))
        vecs.append((i, vec(i), 0))
    docs += [
        (9, q_text, "en", "s", 0),            # both lists for query 0
        (10, q_text + " extra", "en", "s", 0),  # lexical-only
        (11, "totally different words here now", "en", "s", 0),  # semantic-only
    ]
    vecs += [
        (9, vec(0, 0.9), 0),   # same direction as query 0
        (10, vec(40), 0),      # orthogonal
        (11, vec(0, 0.8), 0),  # same direction as query 0
    ]
    # mid-cosine filler candidates (cos ~ 0.45 to query 0) so the
    # orthogonal doc 10 genuinely falls OUT of the semantic top-10 —
    # with fewer than 10 candidates everything ranks and nothing is
    # list-exclusive
    for i in range(12, 24):
        docs.append((i, f"unrelated filler document number {i}", "en", "s", 0))
        v = vec(i, 1.0)
        v[0] = 0.5
        vecs.append((i, v, 0))
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    res = [
        r
        for r in rag_hybrid_retrieval(spark, str(tmp_path)).collect()
        if r["query_id"] == 0
    ]
    by_doc = {r["doc_id"]: r for r in res}
    assert by_doc[9]["rnk"] == 1  # dual-signal candidate wins
    assert by_doc[9]["rnk_cos"] is not None and by_doc[9]["rnk_lex"] is not None
    assert 10 in by_doc and by_doc[10]["rnk_cos"] is None  # lexical-only
    assert 11 in by_doc and by_doc[11]["rnk_lex"] is None  # semantic-only
    assert by_doc[9]["rrf_score"] > by_doc[10]["rrf_score"]
    assert by_doc[9]["rrf_score"] > by_doc[11]["rrf_score"]


def test_pack_accounting_conserves_tokens(spark, sf_oracle):
    """Packing invariants: every pack except each bucket's last is
    exactly full, pack ids are contiguous from 0 per bucket, split
    counts never exceed doc counts, and the clipped per-pack token
    sums conserve the corpus total (no token lost or double-counted
    by the interval arithmetic)."""
    from bigbugdata_spark.catalog import table
    from bigbugdata_spark.functions.hashing import tokens
    from bigbugdata_spark.operators.text import PACK_BUDGET

    rows = SPECS["corpus_pack_accounting"].fn(spark, sf_oracle).collect()
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert by_bucket
    for b, packs in by_bucket.items():
        packs.sort(key=lambda r: r["pack_id"])
        assert [p["pack_id"] for p in packs] == list(range(len(packs)))
        for p in packs[:-1]:
            assert p["n_tokens"] == PACK_BUDGET, (b, p)
        assert 0 < packs[-1]["n_tokens"] <= PACK_BUDGET
        for p in packs:
            assert 0 <= p["n_split_docs"] <= p["n_docs"]

    total = (
        table(spark, sf_oracle, "documents")
        .select(F.sum(F.size(tokens(F.col("text")))).alias("t"))
        .first()["t"]
    )
    assert sum(r["n_tokens"] for r in rows) == total


def test_volume_anomaly_fires_on_planted_outage(tmp_path, spark):
    """dq_volume_anomaly is all-zero flags on the clean corpus (its
    oracle pins the z machinery); here the flag is proven live — 9
    steady days plus one collapsed day must flag exactly the outage."""
    import datetime as dt

    from bigbugdata_spark.operators.dq import dq_volume_anomaly

    rows = []
    eid = 0
    for d in range(1, 11):
        n = 5 if d == 7 else 100  # day 7: the outage
        for i in range(n):
            rows.append(
                (eid, dt.datetime(2024, 3, d, 12, 0, i % 60), 1, "view", 1.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    out = {r["day"]: r for r in dq_volume_anomaly(spark, str(tmp_path)).collect()}
    assert out["2024-03-07"]["is_anomaly"] == 1
    assert out["2024-03-07"]["z"] < -2  # collapsed volume: strongly negative z
    assert sum(r["is_anomaly"] for r in out.values()) == 1


def test_state_asof_agrees_with_history_intervals(spark, sf_oracle):
    """Point-in-time lookups must agree with interval containment on the
    SCD2 table: for every probe, each user's reported state is exactly
    the history row whose [valid_from, valid_to) contains the probe, and
    users absent from the as-of result have no interval containing it."""
    from bigbugdata_spark.operators.events import ASOF_PROBES

    hist: dict[int, list] = {}
    for r in SPECS["evt_user_state_history"].fn(spark, sf_oracle).collect():
        hist.setdefault(r["user_id"], []).append(r)
    asof = {
        (r["probe_ts"], r["user_id"]): (r["state"], r["since"])
        for r in SPECS["evt_state_asof"].fn(spark, sf_oracle).collect()
    }
    assert asof
    for probe in ASOF_PROBES:
        p = probe + ".000000"  # probes format with microseconds
        for uid, rows in hist.items():
            containing = [
                r
                for r in rows
                if r["valid_from"] <= p
                and (r["valid_to"] is None or p < r["valid_to"])
            ]
            got = asof.get((p, uid))
            if containing:
                assert got == (
                    containing[0]["state"],
                    containing[0]["valid_from"],
                ), (p, uid, got, containing)
            else:
                assert got is None, (p, uid, got)


def test_phash_near_dup_finds_planted_twin(tmp_path, spark):
    """mm_phash_near_dup fires live: two payloads of EQUAL byte length
    (different content — the hash sees decoded structure, here the
    deterministic fake of it) must pair at hamming 0; a doc of wildly
    different length pairs with neither."""
    from bigbugdata_spark.operators.multimodal import mm_phash_near_dup

    rows = [
        (1, "a" * 40, "en", "s", 0),
        (2, "b" * 40, "en", "s", 0),   # same length as doc 1
        (3, "c" * 977, "en", "s", 0),  # far away
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in mm_phash_near_dup(spark, str(tmp_path)).collect()
    }
    assert got.get((1, 2)) == 0
    assert all(3 not in pair for pair in got)


def test_incremental_dedup_equals_restricted_full_relation(spark, sf_oracle):
    """dedup_incremental must equal the full near-dup relation restricted
    to batch-side documents, reported from the new doc's perspective —
    no pair invented, none lost by the asymmetric join."""
    from bigbugdata_spark.operators.dedup_incr import (
        _INC_A,
        _INC_B,
        _INC_MOD,
        _INC_P,
        _INC_REM,
    )

    def incoming(d):
        return ((d * _INC_A + _INC_B) % _INC_P) % _INC_MOD == _INC_REM

    full = {
        (r["d1"], r["d2"])
        for r in SPECS["dedup_ngram_jaccard"].fn(spark, sf_oracle).collect()
    }
    expected = {(a, b) for d1, d2 in full for a, b in ((d1, d2), (d2, d1)) if incoming(a)}
    got = {
        (r["new_id"], r["match_id"])
        for r in SPECS["dedup_incremental"].fn(spark, sf_oracle).collect()
    }
    assert got == expected
    assert got, "slice should intersect the corpus' near-dup pairs"


def test_ri_reports_empty_child_tables(tmp_path, spark):
    """An EMPTY child table is the strongest referential-integrity
    signal there is (total feed outage) — the audit must still emit the
    relation row with zeros, exactly as the oracle's scalar-subquery
    form does (code-review r7: the stack/groupBy rewrite initially
    dropped such rows)."""
    import datetime as dt

    import duckdb

    from bigbugdata_spark.operators.dq import dq_referential_integrity
    from tests.parity import compare

    sf = str(tmp_path)

    def w(name, rows, schema):
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            f"{sf}/{name}.parquet"
        )

    w("region", [(1, "r")], "r_regionkey long, r_name string")
    w("nation", [(1, "n", 1)], "n_nationkey long, n_name string, n_regionkey long")
    w("customer", [(1, "c", 1)], "c_custkey long, c_name string, c_nationkey long")
    w("supplier", [(1, "s", 1)], "s_suppkey long, s_name string, s_nationkey long")
    w("part", [(1, "p")], "p_partkey long, p_name string")
    w("orders", [(1, 1, dt.date(2024, 1, 1))],
      "o_orderkey long, o_custkey long, o_orderdate date")
    # EMPTY children: lineitem and events
    w("lineitem", [], "l_orderkey long, l_partkey long, l_suppkey long")
    w("events", [], "event_id long, ts timestamp, user_id long")

    ri = {r["relation"]: r for r in dq_referential_integrity(spark, sf).collect()}
    assert len(ri) == 8  # every relation present, including empty children
    for rel in ("lineitem->orders", "lineitem->part", "lineitem->supplier",
                "events->customer"):
        assert (ri[rel]["n_rows"], ri[rel]["n_distinct_fk"],
                ri[rel]["n_orphans"]) == (0, 0, 0), (rel, ri[rel])

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet/*.parquet'"
        )
    ok, msg = compare(
        dq_referential_integrity(spark, sf),
        con,
        SPECS["dq_referential_integrity"].oracle,
    )
    con.close()
    assert ok, msg


def test_incremental_salted_hot_grams_exact(tmp_path, spark):
    """VERDICT r7 #6: the skew-salt valve for dedup_incremental's gram
    join keeps hot grams EXACTLY (unlike the stop-gram cap, which drops
    them). Corpus: a boilerplate gram set shared by 12 documents (hot),
    including a twin pair whose near-duplication consists ENTIRELY of
    those hot grams — a cap would lose the pair; salting must keep the
    result relation identical to the unsalted join, jaccard values and
    all, while spreading the hot grams' reducer work over n_salts
    shards."""
    from bigbugdata_spark.operators.dedup_incr import incremental_pairs

    boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = []
    for i in range(12):
        if i in (4, 7):
            continue
        filler = " ".join(f"w{i}x{j}" for j in range(20))
        rows.append((i, boiler + " " + filler, "en", "syn", 0))
    # twins: doc 4 is in the deterministic "incoming batch" slice
    # (id % 10 == 4 under the affine hash), doc 7 is stored corpus; their
    # entire overlap is the HOT boilerplate grams
    rows.append((4, boiler, "en", "syn", 0))
    rows.append((7, boiler, "en", "syn", 0))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)

    def rel(df):
        return {
            (r["new_id"], r["match_id"], round(r["jaccard"], 12))
            for r in df.collect()
        }

    unsalted = rel(incremental_pairs(spark, sf))
    salted = rel(incremental_pairs(spark, sf, salt_hot_df=3, n_salts=4))
    assert (4, 7, 1.0) in unsalted  # the twin pair rides on hot grams only
    assert salted == unsalted


def test_ivf_incremental_batch_vectors_retrievable(spark, sf_oracle):
    """VERDICT r7 #4 'done' criterion: vectors assigned by the
    incremental path (frozen existing-corpus codebook, batch-only
    assignment) are RETRIEVABLE — for each standard query, the exact
    top-k among batch vectors is recovered from the probed cells' new
    assignments. The bound is the MEASURED batch-restricted recall,
    which sits below the full-index 0.963@nprobe=8: restricting top-10
    to a ~60-vector batch reaches much deeper into each query's
    similarity ranking (the full-corpus rank of the batch's 10th-best
    neighbor is ~100+), where IVF probe recall is intrinsically lower.
    Measured 0.787 at sf0.01; floor 0.70 against codebook/assign
    regressions."""
    from pyspark.sql import Window

    from bigbugdata_spark.functions import hashing as H
    from bigbugdata_spark.functions.fragments import TOP_K
    from bigbugdata_spark.operators.similarity import (
        _corpus,
        ivf_assign,
        ivf_cents,
        ivf_probes,
        ivf_queries,
        incoming_vec_col,
    )

    corpus = _corpus(spark, sf_oracle)
    existing = corpus.filter(~incoming_vec_col())
    batch = corpus.filter(incoming_vec_col())
    assert batch.count() > 2 * TOP_K  # the slice is big enough to rank

    cents = ivf_cents(existing)  # FROZEN: trained on existing only
    queries = ivf_queries(corpus)
    probes = ivf_probes(queries, cents)
    a_new = ivf_assign(batch, cents)
    cand = {
        (r["query_id"], r["vec_id"])
        for r in probes.join(a_new, "cell_id")
        .select("query_id", "vec_id")
        .distinct()
        .collect()
    }

    # exact top-k restricted to batch vectors, brute force
    scored = batch.join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        (
            H.dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_nrm") * F.col("nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .collect()
    }
    assert exact
    recall = len(cand & exact) / len(exact)
    assert recall >= 0.70, f"incremental-assign recall collapsed: {recall:.3f}"


@pytest.mark.slow_tier
def test_gram_index_incremental_append_equals_rebuild(tmp_path, spark):
    """r8 verdict item 4: the persisted gram index is MAINTAINED
    incrementally — building the index over the stored corpus and then
    appending the admitted batch's grams must leave table contents
    identical (as multisets; df rows sum-equal per gram) to a
    from-scratch build over the full corpus, so consecutive ingest
    cycles never re-shingle history."""
    from pyspark.sql import functions as F

    from bigbugdata_spark.operators.dedup import _doc_shingles
    from bigbugdata_spark.operators.dedup_incr import (
        _corpus_fingerprint,
        _index_names,
        append_batch_to_index,
        gram_index,
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

    # full build = ground truth
    idx_f, sz_f, df_f = gram_index(spark, str(full_dir))
    want_idx = sorted((r["doc_id"], r["g"]) for r in idx_f.collect())
    want_sz = sorted((r["doc_id"], r["sz"]) for r in sz_f.collect())
    want_df = sorted(
        (r["g"], r["df"])
        for r in df_f.groupBy("g").agg(F.sum("df_part").alias("df")).collect()
    )

    # base build + batch append
    base_fp = _corpus_fingerprint(str(base_dir))
    gram_index(spark, str(base_dir))
    batch_grams = (
        _doc_shingles(spark, str(full_dir))
        .filter(batch_pred)
        .select("doc_id", F.explode("grams").alias("g"))
    )
    append_batch_to_index(spark, batch_grams, base_fp)
    idx_name, sz_name, df_name = _index_names(base_fp)
    got_idx = sorted(
        (r["doc_id"], r["g"]) for r in spark.table(idx_name).collect()
    )
    got_sz = sorted(
        (r["doc_id"], r["sz"]) for r in spark.table(sz_name).collect()
    )
    got_df = sorted(
        (r["g"], r["df"])
        for r in spark.table(df_name)
        .groupBy("g")
        .agg(F.sum("df_part").alias("df"))
        .collect()
    )
    assert got_idx == want_idx
    assert got_sz == want_sz
    assert got_df == want_df
