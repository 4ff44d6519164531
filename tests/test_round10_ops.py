"""Round-10 additions: the BPE oracle's empty-round fallback, and the
multi-cycle admit->append->probe lifecycle over BOTH persisted
incremental-dedup index paths (VERDICT r9 #3)."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from bigbugdata_spark.functions.fragments import JACCARD_T
from bigbugdata_spark.registry import load_all

SPECS = load_all()

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def test_bpe_oracle_empty_round_fallback(tmp_path, spark):
    """Advisory r9: when pair candidates dry up before BPE_STEPS rounds,
    the Spark trainer breaks out of the loop keeping the last
    vocabulary; the oracle's v{r+1} CTE must fall back to v{r} (LEFT
    JOIN ON TRUE + COALESCE) instead of cross-joining an empty b{r} and
    emptying the vocabulary.  A two-word corpus dries up after two
    merges — the compression oracle must still aggregate the surviving
    vocabulary, not 0/NULL."""
    from tests.parity import compare

    docs = spark.createDataFrame(
        [(0, "ab cd ab", "en", "syn", 8)], DOC_SCHEMA
    )
    doc_dir = tmp_path / "docs"
    docs.write.parquet(str(doc_dir / "documents.parquet"))
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{doc_dir}/documents.parquet/*.parquet'"
    )
    train = SPECS["text_bpe_train"]
    rows = train.fn(spark, str(doc_dir)).collect()
    assert len(rows) == 2  # (a,b) then (c,d); round 2 has no candidates
    ok, msg = compare(train.fn(spark, str(doc_dir)), con, train.oracle)
    assert ok, msg
    comp = SPECS["text_bpe_compression"]
    got = comp.fn(spark, str(doc_dir)).collect()[0]
    # the surviving vocabulary: words "ab" (freq 2) and "cd" (freq 1),
    # each fully merged to one symbol
    assert (got["n_words"], got["n_tokens"]) == (2, 3)
    assert got["merged_symbols"] == 3 and got["base_symbols"] == 6
    ok, msg = compare(comp.fn(spark, str(doc_dir)), con, comp.oracle)
    assert ok, msg


def _write_docs(spark, rows, path):
    spark.createDataFrame(rows, DOC_SCHEMA).write.parquet(
        str(path / "documents.parquet")
    )


def _doc_rows():
    """40 docs: 0-24 base corpus, then three 5-doc batches (25-29,
    30-34, 35-39) holding exact dups of earlier docs, a near-dup just
    over JACCARD_T, and a cross-batch dup — every cycle must surface
    at least one pair."""
    def words(i):
        return [f"w{i}x{j}" for j in range(12)]

    texts = {i: words(i) for i in range(40)}
    texts[25] = words(3)                      # batch1: exact dup of base
    near = words(5)
    near[6] = "CHANGED"                       # 7/13 shingles shared -> J~0.538
    texts[27] = near                          # batch1: near-dup of base
    texts[30] = words(3)                      # batch2: dup of base AND of 25
    texts[34] = near                          # batch2: dup of 27, near-dup of 5
    texts[35] = words(10)                     # batch3: exact dup of base
    return [
        (i, " ".join(texts[i]), "en", "syn", len(" ".join(texts[i])))
        for i in range(40)
    ]


def _rel(df):
    return {
        (r["new_id"], r["match_id"], round(r["jaccard"], 9))
        for r in df.collect()
    }


def _gram_probe(spark, fp, batch_grams):
    """incremental_pairs' probe join against an appended gram-index
    generation, with an explicit batch frame."""
    idx = spark.table(f"gram_idx_{fp}")
    sz = spark.table(f"gram_sz_{fp}")
    common = (
        batch_grams.alias("n")
        .join(
            idx.alias("c"),
            (F.col("n.g") == F.col("c.g"))
            & (F.col("n.doc_id") != F.col("c.doc_id")),
        )
        .groupBy(
            F.col("n.doc_id").alias("new_id"),
            F.col("c.doc_id").alias("match_id"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sz.select(F.col("doc_id").alias("new_id"), F.col("sz").alias("sz1"))
    s2 = sz.select(F.col("doc_id").alias("match_id"), F.col("sz").alias("sz2"))
    jac = F.col("c").cast("double") / (F.col("sz1") + F.col("sz2") - F.col("c"))
    return (
        common.join(s1, "new_id")
        .join(s2, "match_id")
        .select("new_id", "match_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_T)
    )


def _lsh_probe(spark, fp, batch_sh):
    """dedup_incremental_lsh's probe join against an appended band-index
    generation, with an explicit batch shingle frame."""
    from bigbugdata_spark.operators.dedup_incr import _band_frame

    bands = spark.table(f"lsh_band_{fp}")
    sets = spark.table(f"lsh_set_{fp}")
    cand = (
        _band_frame(batch_sh)
        .alias("n")
        .join(bands.alias("c"), "bkey")
        .where(F.col("n.doc_id") != F.col("c.doc_id"))
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("c.doc_id").alias("match_id"),
        )
        .distinct()
    )
    g1 = batch_sh.select(
        F.col("doc_id").alias("new_id"), F.col("grams").alias("g1")
    )
    g2 = sets.select(
        F.col("doc_id").alias("match_id"), F.col("grams").alias("g2")
    )
    jac = F.size(F.array_intersect("g1", "g2")).cast("double") / F.size(
        F.array_union("g1", "g2")
    )
    return (
        cand.join(g1, "new_id")
        .join(g2, "match_id")
        .select("new_id", "match_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_T)
    )


@pytest.mark.slow_tier
def test_incremental_index_multicycle_lifecycle(tmp_path, spark):
    """VERDICT r9 #3: three admit->append->probe cycles on BOTH index
    paths.  Per cycle: (a) each probe result equals the from-scratch
    ground truth (set-Jaccard over the corpus-so-far, computed without
    any index), (b) the gram and band routes stay relation-equal, and
    (c) the appended gram-index generation equals a from-scratch build
    over the corpus-so-far (multiset equality) — append==rebuild held
    over a whole ingest history, not one batch."""
    from bigbugdata_spark.operators.dedup import _doc_shingles
    from bigbugdata_spark.operators.dedup_incr import (
        _corpus_fingerprint,
        append_batch_to_index,
        gram_index,
        append_batch_to_lsh_index,
        lsh_index,
    )

    rows = _doc_rows()
    full_dir = tmp_path / "full"
    base_dir = tmp_path / "base"
    _write_docs(spark, rows, full_dir)
    _write_docs(spark, [r for r in rows if r[0] < 25], base_dir)

    # ground-truth gram sets, no index anywhere near this derivation
    sets_by_id = {
        r["doc_id"]: set(r["grams"])
        for r in _doc_shingles(spark, str(full_dir)).collect()
    }

    def truth(batch_ids, hi):
        out = set()
        for b in batch_ids:
            for o in range(hi):
                if o == b:
                    continue
                s1, s2 = sets_by_id[b], sets_by_id[o]
                inter = len(s1 & s2)
                if inter:
                    j = inter / (len(s1) + len(s2) - inter)
                    if j >= JACCARD_T:
                        out.add((b, o, round(j, 9)))
        return out

    fp = _corpus_fingerprint(str(base_dir))
    gram_index(spark, str(base_dir))
    lsh_index(spark, str(base_dir))
    full_sh = _doc_shingles(spark, str(full_dir))

    for cycle, lo in enumerate((25, 30, 35)):
        hi = lo + 5
        batch_ids = list(range(lo, hi))
        batch_pred = (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        batch_sh = full_sh.filter(batch_pred)
        batch_grams = batch_sh.select(
            "doc_id", F.explode("grams").alias("g")
        )
        # admit -> append (both paths) -> probe
        append_batch_to_index(spark, batch_grams, fp)
        append_batch_to_lsh_index(spark, batch_sh, fp)
        want = truth(batch_ids, hi)
        assert want, f"cycle {cycle}: fixture must produce pairs"
        got_gram = _rel(_gram_probe(spark, fp, batch_grams))
        got_lsh = _rel(_lsh_probe(spark, fp, batch_sh))
        assert got_gram == want, f"cycle {cycle}: gram probe != truth"
        assert got_lsh == want, f"cycle {cycle}: lsh probe != truth"

        # (c) appended generation == from-scratch build over corpus-so-far
        scratch_dir = tmp_path / f"scratch{cycle}"
        _write_docs(spark, [r for r in rows if r[0] < hi], scratch_dir)
        sfp = _corpus_fingerprint(str(scratch_dir))
        gram_index(spark, str(scratch_dir))
        for tbl in ("gram_idx", "gram_sz", "gram_df"):
            got = sorted(map(tuple, spark.table(f"{tbl}_{fp}").collect()))
            ref = sorted(map(tuple, spark.table(f"{tbl}_{sfp}").collect()))
            if tbl == "gram_df":
                # df rows are per-batch PARTIALS — readers SUM by g
                agg = lambda t: sorted(  # noqa: E731
                    map(
                        tuple,
                        spark.table(t)
                        .groupBy("g")
                        .agg(F.sum("df_part").alias("df"))
                        .collect(),
                    )
                )
                got, ref = agg(f"{tbl}_{fp}"), agg(f"{tbl}_{sfp}")
            assert got == ref, f"cycle {cycle}: {tbl} append != rebuild"


def test_semantic_guard_both_branches(tmp_path, spark):
    """VERDICT r9 #7: pipe_semantic_guard must keep BOTH branches live —
    a label-pure cluster clears PURITY_T and the keep rule DROPS its
    non-exemplars, while a mixed-label cluster stays below the bar and
    every vector passes through.  Planted corpus: 6 identical vectors
    with one label (pure — rule applies, 5 dropped), 6 identical
    vectors with alternating labels (purity 0.5 — guarded
    pass-through).  The oracle re-derives the same table on the
    planted corpus."""
    from tests.parity import compare

    dim = 64
    e0 = [1.0] + [0.0] * (dim - 1)
    e1 = [0.0, 1.0] + [0.0] * (dim - 2)
    rows = [(i, e0, 7) for i in range(6)] + [
        (i, e1, 3 if i % 2 == 0 else 4) for i in range(6, 12)
    ]
    emb_dir = tmp_path / "emb"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(emb_dir / "embeddings.parquet"))

    got = {
        r["vec_id"]: r
        for r in SPECS["pipe_semantic_guard"].fn(spark, str(emb_dir)).collect()
    }
    assert len(got) == 12
    for i in range(6):
        assert got[i]["rule_applied"] == 1 and got[i]["purity"] == 1.0
        assert got[i]["kept"] == (1 if i == 0 else 0)
    for i in range(6, 12):
        assert got[i]["rule_applied"] == 0 and got[i]["purity"] == 0.5
        assert got[i]["kept"] == 1

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{emb_dir}/embeddings.parquet/*.parquet'"
    )
    q = SPECS["pipe_semantic_guard"]
    ok, msg = compare(q.fn(spark, str(emb_dir)), con, q.oracle)
    assert ok, msg


def test_pagerank_planted_structure(tmp_path, spark):
    """sim_pagerank on a planted corpus: two complete 6-cliques plus an
    isolated vector.  Symmetry forces equal ranks within each clique;
    the isolated vector settles at the exact teleport floor with deg 0;
    floor-division losses keep total mass at or under PR_SCALE.  The
    oracle re-derives the identical integer rounds."""
    from tests.parity import compare

    from bigbugdata_spark.operators.similarity_graph import (
        DAMP_DEN as _DAMP_DEN,
        TELEPORT_NUM as _TELEPORT_NUM,
        PR_SCALE,
    )

    dim = 64
    e0 = [1.0] + [0.0] * (dim - 1)
    e1 = [0.0, 1.0] + [0.0] * (dim - 2)
    e2 = [0.0, 0.0, 1.0] + [0.0] * (dim - 3)
    rows = (
        [(i, e0, 7) for i in range(6)]
        + [(i, e1, 3) for i in range(6, 12)]
        + [(12, e2, 9)]
    )
    emb_dir = tmp_path / "emb"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(emb_dir / "embeddings.parquet"))

    got = {
        r["vec_id"]: r
        for r in SPECS["sim_pagerank"].fn(spark, str(emb_dir)).collect()
    }
    assert len(got) == 13
    teleport = (_TELEPORT_NUM * PR_SCALE) // (_DAMP_DEN * 13)
    assert got[12]["deg"] == 0 and got[12]["pr_ppb"] == teleport
    for lo in (0, 6):
        clique = [got[i] for i in range(lo, lo + 6)]
        assert all(r["deg"] == 5 for r in clique)
        assert len({r["pr_ppb"] for r in clique}) == 1
        assert clique[0]["pr_ppb"] > teleport
    assert sum(r["pr_ppb"] for r in got.values()) <= PR_SCALE

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{emb_dir}/embeddings.parquet/*.parquet'"
    )
    q = SPECS["sim_pagerank"]
    ok, msg = compare(q.fn(spark, str(emb_dir)), con, q.oracle)
    assert ok, msg


def test_id_completeness_counts_planted_defects(tmp_path, spark):
    """dq_id_completeness's defect counters on a planted corpus: events
    with ids {0..9} minus {3, 7} plus a double-delivered 5 -> span 10,
    8 distinct, 2 missing, 1 duplicate; orders dense and clean -> zero
    defects.  Oracle re-derives both cards."""
    from tests.parity import compare

    ids = [i for i in range(10) if i not in (3, 7)] + [5]
    ev = spark.createDataFrame(
        [(i, 100 + i, "click", "2024-01-05 10:00:00", 1.0) for i in ids],
        "event_id long, user_id long, event_type string, ts string, value double",
    ).selectExpr(
        "event_id", "user_id", "event_type",
        "CAST(ts AS TIMESTAMP) AS ts", "value",
    )
    orders = spark.createDataFrame(
        [(k, 1, "O") for k in range(5)],
        "o_orderkey long, o_custkey long, o_orderstatus string",
    )
    d = tmp_path / "seq"
    ev.write.parquet(str(d / "events.parquet"))
    orders.write.parquet(str(d / "orders.parquet"))

    got = {
        r["feed"]: r
        for r in SPECS["dq_id_completeness"].fn(spark, str(d)).collect()
    }
    e = got["events"]
    assert (e["n_rows"], e["n_ids"], e["span"]) == (9, 8, 10)
    assert (e["n_missing"], e["n_dupes"]) == (2, 1)
    o = got["orders"]
    assert (o["n_missing"], o["n_dupes"]) == (0, 0)

    con = duckdb.connect()
    for t in ("events", "orders"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{d}/{t}.parquet/*.parquet'"
        )
    q = SPECS["dq_id_completeness"]
    ok, msg = compare(q.fn(spark, str(d)), con, q.oracle)
    assert ok, msg


def test_triangle_stats_planted_cliques(tmp_path, spark):
    """sim_triangle_stats on the two-clique + isolated corpus: every
    clique member sits in C(5,2) = 10 triangles at degree 5; the
    isolated vector reports 0/0; oracle agrees."""
    from tests.parity import compare

    dim = 64
    e0 = [1.0] + [0.0] * (dim - 1)
    e1 = [0.0, 1.0] + [0.0] * (dim - 2)
    e2 = [0.0, 0.0, 1.0] + [0.0] * (dim - 3)
    rows = (
        [(i, e0, 7) for i in range(6)]
        + [(i, e1, 3) for i in range(6, 12)]
        + [(12, e2, 9)]
    )
    emb_dir = tmp_path / "emb"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(emb_dir / "embeddings.parquet"))

    got = {
        r["vec_id"]: r
        for r in SPECS["sim_triangle_stats"].fn(spark, str(emb_dir)).collect()
    }
    for i in range(12):
        assert (got[i]["deg"], got[i]["n_triangles"]) == (5, 10)
    assert (got[12]["deg"], got[12]["n_triangles"]) == (0, 0)

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{emb_dir}/embeddings.parquet/*.parquet'"
    )
    q = SPECS["sim_triangle_stats"]
    ok, msg = compare(q.fn(spark, str(emb_dir)), con, q.oracle)
    assert ok, msg


@pytest.mark.slow_tier
def test_rollup_store_multicycle_append_equals_recompute(tmp_path, spark):
    """evt_rollup_materialized's maintenance path: build the partial
    store on a base slice, append two ingest batches, and the merged
    rollup must equal a direct recompute over the full table after each
    cycle; a warm serve must scan ONLY the partial store."""
    from pyspark.sql import functions as F

    from bigbugdata_spark.operators.dedup_incr import _corpus_fingerprint
    from bigbugdata_spark.operators.events import append_batch_to_rollup, rollup_store
    from bigbugdata_spark.plans import inspect as I

    def ev_rows(lo, hi):
        return [
            (
                i,
                100 + i % 7,
                ["click", "view", "purchase"][i % 3],
                f"2024-01-{(i % 9) + 1:02d} 10:{i % 60:02d}:00",
                float(i % 50) + 0.25,
            )
            for i in range(lo, hi)
        ]

    schema = (
        "event_id long, user_id long, event_type string, "
        "ts string, value double"
    )

    def write(rows, d):
        spark.createDataFrame(rows, schema).selectExpr(
            "event_id", "user_id", "event_type",
            "CAST(ts AS TIMESTAMP) AS ts", "value",
        ).write.parquet(str(d / "events.parquet"))

    base_dir = tmp_path / "base"
    write(ev_rows(0, 60), base_dir)
    fp = _corpus_fingerprint(str(base_dir), "events.parquet")
    rollup_store(spark, str(base_dir))

    full = spark.createDataFrame(ev_rows(0, 100), schema).selectExpr(
        "event_id", "user_id", "event_type",
        "CAST(ts AS TIMESTAMP) AS ts", "value",
    )
    for cycle, (lo, hi) in enumerate(((60, 80), (80, 100))):
        batch = full.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        )
        append_batch_to_rollup(spark, batch, fp)
        served = (
            spark.table(f"evt_rollup_{fp}")
            .groupBy("day", "event_type")
            .agg(
                F.sum("n_part").alias("n"),
                F.sum("cents_part").alias("c"),
            )
        )
        want = (
            full.filter(F.col("event_id") < hi)
            .select(
                F.date_format("ts", "yyyy-MM-dd").alias("day"),
                "event_type",
                F.round(F.col("value") * 100).cast("long").alias("cents"),
            )
            .groupBy("day", "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c"))
        )
        got = sorted(map(tuple, served.collect()))
        ref = sorted(map(tuple, want.collect()))
        assert got == ref, f"cycle {cycle}: merged rollup != recompute"

    served = rollup_store(spark, str(base_dir))
    scans = I.read_columns(served)
    assert scans == [{"day", "event_type", "n_part", "cents_part"}], scans


def test_stream_rollup_replay_idempotent(tmp_path, spark):
    """A redelivered micro-batch (same batch_id) must leave the merged
    rollup unchanged — the overwrite-own-partition idempotence contract
    — and distinct batches must accumulate."""
    from pyspark.sql import functions as F

    from bigbugdata_spark.operators.events import merged_rollup, write_rollup_batch

    def ev(lo, hi):
        return spark.createDataFrame(
            [
                (i, 1, "click", f"2024-01-0{(i % 3) + 1} 09:00:00", 2.5)
                for i in range(lo, hi)
            ],
            "event_id long, user_id long, event_type string, "
            "ts string, value double",
        ).selectExpr(
            "event_id", "user_id", "event_type",
            "CAST(ts AS TIMESTAMP) AS ts", "value",
        )

    out = str(tmp_path / "store")
    write_rollup_batch(ev(0, 30), 0, out)
    once = sorted(map(tuple, merged_rollup(spark, out).collect()))
    write_rollup_batch(ev(0, 30), 0, out)  # redelivery
    replay = sorted(map(tuple, merged_rollup(spark, out).collect()))
    assert replay == once
    write_rollup_batch(ev(30, 40), 1, out)  # genuinely new batch
    grown = {
        (r["day"], r["event_type"]): r["n_events"]
        for r in merged_rollup(spark, out).collect()
    }
    assert sum(grown.values()) == 40


def test_privacy_release_guarantee_live(spark, sf_oracle):
    """pipe_privacy_release on the real fixture: both sides of the gate
    are live (every type releases AND suppresses something here), the
    released+suppressed split conserves dq_k_anonymity's row totals,
    and every released minimum carries the k guarantee."""
    from bigbugdata_spark.operators.dq import K_ANON

    audit = {
        r["event_type"]: r
        for r in SPECS["dq_k_anonymity"].fn(spark, sf_oracle).collect()
    }
    rel = {
        r["event_type"]: r
        for r in SPECS["pipe_privacy_release"].fn(spark, sf_oracle).collect()
    }
    assert set(audit) == set(rel) and audit
    for t, a in audit.items():
        r = rel[t]
        assert r["n_released"] + r["n_suppressed"] == a["n_rows"]
        assert r["n_suppressed"] == a["n_rows_at_risk"]
        assert r["n_released"] > 0 and r["n_suppressed"] > 0
        if r["min_released_cell"] is not None:
            assert r["min_released_cell"] >= K_ANON


def test_central_exemplars_planted_cliques(tmp_path, spark):
    """sim_central_exemplars on the two-clique + isolated corpus: each
    clique's PageRank is symmetric, so the argmax tie-break keeps the
    minimum id; the isolated vector is its own exemplar at the teleport
    floor; n_members match the planted structure."""
    from bigbugdata_spark.operators.similarity_graph import (
        DAMP_DEN as _DAMP_DEN,
        TELEPORT_NUM as _TELEPORT_NUM,
        PR_SCALE,
    )

    dim = 64
    e0 = [1.0] + [0.0] * (dim - 1)
    e1 = [0.0, 1.0] + [0.0] * (dim - 2)
    e2 = [0.0, 0.0, 1.0] + [0.0] * (dim - 3)
    rows = (
        [(i, e0, 7) for i in range(6)]
        + [(i, e1, 3) for i in range(6, 12)]
        + [(12, e2, 9)]
    )
    emb_dir = tmp_path / "emb"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(emb_dir / "embeddings.parquet"))

    got = {
        r["component"]: r
        for r in SPECS["sim_central_exemplars"].fn(spark, str(emb_dir)).collect()
    }
    assert set(got) == {0, 6, 12}
    assert (got[0]["n_members"], got[0]["exemplar_id"]) == (6, 0)
    assert (got[6]["n_members"], got[6]["exemplar_id"]) == (6, 6)
    teleport = (_TELEPORT_NUM * PR_SCALE) // (_DAMP_DEN * 13)
    assert (got[12]["n_members"], got[12]["exemplar_id"]) == (1, 12)
    assert got[12]["exemplar_pr_ppb"] == teleport


def _plant_events(spark, d, rows):
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts string, value double",
    ).selectExpr(
        "event_id", "user_id", "event_type",
        "CAST(ts AS TIMESTAMP) AS ts", "value",
    ).write.parquet(str(d / "events.parquet"))


def test_ewma_exact_dyadic_smoothing(tmp_path, spark):
    """evt_ewma_daily on a planted series (daily cents 100, 200, 400,
    gap, 800): the dyadic decay-1/2 weights and the truncated geometric
    mass 2 - 2^-m give hand-computable EXACT doubles — including the
    calendar gap contributing zero mass while still aging the weights."""
    from tests.parity import compare

    d = tmp_path / "ewma"
    rows = [
        (0, 1, "click", "2024-01-01 10:00:00", 1.00),
        (1, 1, "click", "2024-01-02 10:00:00", 2.00),
        (2, 1, "click", "2024-01-03 10:00:00", 4.00),
        (3, 1, "click", "2024-01-05 10:00:00", 8.00),
    ]
    _plant_events(spark, d, rows)
    got = {
        r["day"]: r for r in SPECS["evt_ewma_daily"].fn(spark, str(d)).collect()
    }
    assert got["2024-01-01"]["ewma_cents"] == 100.0  # mass 1
    assert got["2024-01-02"]["ewma_cents"] == (200 + 50) / 1.5
    assert got["2024-01-03"]["ewma_cents"] == (400 + 100 + 25) / 1.75
    # day 4 absent (no synthesized calendar rows); day 5's window spans
    # the gap: (800 + 400/4 + 200/8 + 100/16) / (2 - 1/16)
    assert "2024-01-04" not in got
    assert got["2024-01-05"]["ewma_cents"] == 931.25 / 1.9375
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{d}/events.parquet/*.parquet'"
    )
    ok, msg = compare(
        SPECS["evt_ewma_daily"].fn(spark, str(d)),
        con,
        SPECS["evt_ewma_daily"].oracle,
    )
    assert ok, msg


def test_key_skew_card(tmp_path, spark):
    """prof_key_skew on planted counts 5/3/1/1: exact shares, integer
    cumulative counts, and the (cnt DESC, key ASC) tie-break."""
    d = tmp_path / "skew"
    rows = []
    eid = 0
    for user, n in ((1, 5), (2, 3), (3, 1), (4, 1)):
        for _ in range(n):
            rows.append((eid, user, "click", "2024-01-05 10:00:00", 1.0))
            eid += 1
    _plant_events(spark, d, rows)
    got = [
        tuple(r)
        for r in SPECS["prof_key_skew"].fn(spark, str(d)).orderBy("rnk").collect()
    ]
    assert got == [
        (1, 1, 5, 0.5, 0.5, 4, 10),
        (2, 2, 3, 0.3, 0.8, 4, 10),
        (3, 3, 1, 0.1, 0.9, 4, 10),
        (4, 4, 1, 0.1, 1.0, 4, 10),
    ]


def test_join_cardinality_card(tmp_path, spark):
    """prof_join_cardinality on planted per-key counts (events 3/2/1 on
    keys 1/2/5, orders 2/1/4 on keys 1/2/9): join size 3*2 + 2*1 = 8
    predicted without running the join; worst key 1 contributes 6."""
    d = tmp_path / "jc"
    rows = []
    eid = 0
    for user, n in ((1, 3), (2, 2), (5, 1)):
        for _ in range(n):
            rows.append((eid, user, "click", "2024-01-05 10:00:00", 1.0))
            eid += 1
    _plant_events(spark, d, rows)
    orows = []
    ok_ = 0
    for cust, n in ((1, 2), (2, 1), (9, 4)):
        for _ in range(n):
            orows.append((ok_, cust, "O"))
            ok_ += 1
    spark.createDataFrame(
        orows, "o_orderkey long, o_custkey long, o_orderstatus string"
    ).write.parquet(str(d / "orders.parquet"))
    row = SPECS["prof_join_cardinality"].fn(spark, str(d)).collect()[0]
    assert tuple(row) == (6, 3, 7, 3, 2, 8, 1, 6)


def test_null_profile_counts(tmp_path, spark):
    """dq_null_profile on planted documents exercising the null and
    blank paths the real corpus has none of; oracle parity on the same
    planted dir pins the UNION-ALL twin."""
    from tests.parity import compare

    d = tmp_path / "nulls"
    docs = [
        (0, "a", "en", "s", 1),
        (1, "b", "en", "", 1),
        (2, None, None, "s2", 2),
        (3, "  ", "en", "s3", 2),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(d / "documents.parquet"))
    got = {
        r["col_name"]: r
        for r in SPECS["dq_null_profile"].fn(spark, str(d)).collect()
    }
    assert len(got) == 5
    t = got["text"]
    assert (t["n_null"], t["n_blank"], t["n_distinct"]) == (1, 1, 3)
    lang = got["lang"]
    assert (lang["n_null"], lang["n_blank"], lang["n_distinct"]) == (1, 0, 1)
    src = got["source"]
    assert (src["n_null"], src["n_blank"], src["n_distinct"]) == (0, 1, 4)
    assert (got["doc_id"]["n_distinct"], got["n_chars"]["n_distinct"]) == (4, 2)
    assert all(r["n_rows"] == 4 for r in got.values())
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"
    )
    ok, msg = compare(
        SPECS["dq_null_profile"].fn(spark, str(d)),
        con,
        SPECS["dq_null_profile"].oracle,
    )
    assert ok, msg


def test_diagnostics_generics_on_other_tables(spark, sf_small):
    """The generic cores behind the round-10 cards work on ANY
    table/key, not just the oracle-pinned demo bindings: skew over
    lineitem.l_orderkey, join prediction for the real lineitem-orders
    join (verified against actually running it), and a null profile of
    orders."""
    from bigbugdata_spark.functions.diagnostics import (
        join_cardinality,
        key_skew,
        null_profile,
    )

    li = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_small}/orders.parquet")

    sk = key_skew(li, "l_orderkey", top=10).collect()
    assert len(sk) == 10 and sk[0]["rnk"] == 1
    assert abs(sum(r["share"] for r in sk) - sk[-1]["cum_share"]) < 1e-12

    card = join_cardinality(li, "l_orderkey", od, "o_orderkey").collect()[0]
    true_rows = li.join(od, li.l_orderkey == od.o_orderkey).count()
    assert card["join_rows"] == true_rows
    assert card["n_left"] == li.count() and card["n_right"] == od.count()

    prof = {r["col_name"]: r for r in null_profile(od).collect()}
    assert set(prof) == set(od.columns)
    assert prof["o_orderkey"]["n_distinct"] == od.count()
    assert all(r["n_null"] == 0 for r in prof.values())


def test_ewma_exactness_bound_at_gate_sfs():
    """The dyadic-exactness argument needs every weighted 20-day total
    to stay under 2^34 cents (partial sums < 2^53 ulps of 2^-19).  The
    docstring claims it; this asserts it against the LARGEST local
    data, with margin, so data growth can't silently void bit-exact
    parity."""
    import duckdb

    from bigbugdata_spark.operators.events import EWMA_WINDOW

    for sf in ("sf0.1", "sf0.01", "sf0.001"):
        worst = duckdb.sql(
            f"""
            WITH daily AS (
                SELECT event_type, CAST(ts AS DATE) AS day,
                       SUM(CAST(ROUND(value*100) AS BIGINT)) AS n_cents
                FROM '/root/testdata/{sf}/events.parquet'
                GROUP BY 1, 2
            )
            SELECT MAX(w) FROM (
                SELECT SUM(n_cents) OVER (
                    PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN {EWMA_WINDOW - 1} PRECEDING AND CURRENT ROW
                ) AS w FROM daily
            )
            """
        ).fetchone()[0]
        assert worst * 100 < 2**34, (sf, worst)


def test_join_cardinality_survives_disjoint_keys(tmp_path, spark):
    """With NO common keys the card must still return its single totals
    row (join_rows = 0, NULL worst key) — the empty LIMIT-1 worst frame
    must not annihilate the result.  Oracle parity on the same planted
    dir pins the LEFT JOIN twin."""
    from tests.parity import compare

    d = tmp_path / "disjoint"
    _plant_events(spark, d, [(0, 1, "click", "2024-01-05 10:00:00", 1.0)])
    spark.createDataFrame(
        [(0, 99, "O")], "o_orderkey long, o_custkey long, o_orderstatus string"
    ).write.parquet(str(d / "orders.parquet"))
    row = SPECS["prof_join_cardinality"].fn(spark, str(d)).collect()[0]
    assert (row["n_left"], row["n_right"]) == (1, 1)
    assert (row["n_common_keys"], row["join_rows"]) == (0, 0)
    assert row["max_key"] is None and row["max_key_rows"] is None
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet/*.parquet'")
    con.sql(f"CREATE VIEW orders AS SELECT * FROM '{d}/orders.parquet/*.parquet'")
    ok, msg = compare(
        SPECS["prof_join_cardinality"].fn(spark, str(d)),
        con,
        SPECS["prof_join_cardinality"].oracle,
    )
    assert ok, msg


def test_null_profile_empty_table(tmp_path, spark):
    """An EMPTY table still profiles as one all-zeros row per column —
    matching the oracle's one aggregate per UNION-ALL branch (the
    empty-group edge the SF2 sweep exists to catch, pinned directly)."""
    from tests.parity import compare

    d = tmp_path / "empty"
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(d / "documents.parquet"))
    got = {
        r["col_name"]: tuple(r)[1:]
        for r in SPECS["dq_null_profile"].fn(spark, str(d)).collect()
    }
    assert len(got) == 5
    assert all(v == (0, 0, 0, 0) for v in got.values())
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"
    )
    ok, msg = compare(
        SPECS["dq_null_profile"].fn(spark, str(d)),
        con,
        SPECS["dq_null_profile"].oracle,
    )
    assert ok, msg


def test_purchase_attribution_planted_stream(tmp_path, spark):
    """evt_purchase_attribution on a planted stream exercising every
    rule: ordinary last-touch, the organic (no preceding event) case,
    the same-timestamp tiebreak (event_id order decides whether the
    touch precedes the purchase), and a touch carried across an
    intervening purchase; oracle parity on the same planted dir pins
    the IGNORE-NULLS window twin."""
    from tests.parity import compare

    d = tmp_path / "attrib"
    rows = [
        # user 1: click -> purchase 100, then purchase 50 (touch CARRIES
        # across the first purchase — still the click)
        (1, "2024-01-01 10:00:00", 1, "click", 1.00),
        (2, "2024-01-01 11:00:00", 1, "purchase", 100.00),
        (3, "2024-01-02 09:00:00", 1, "purchase", 50.00),
        # user 2: organic purchase (nothing precedes)
        (4, "2024-01-01 08:00:00", 2, "purchase", 10.00),
        # user 2: view AT THE SAME ts as the next purchase but with a
        # smaller event_id -> the view IS the touch
        (5, "2024-01-03 12:00:00", 2, "view", 0.50),
        (6, "2024-01-03 12:00:00", 2, "purchase", 20.00),
        # user 3: signup then error then purchase -> last touch = error
        (7, "2024-01-01 09:00:00", 3, "signup", 1.00),
        (8, "2024-01-01 09:30:00", 3, "error", 0.10),
        (9, "2024-01-01 10:00:00", 3, "purchase", 30.00),
    ]
    spark.createDataFrame(
        [(i, ts, u, t, v) for i, ts, u, t, v in rows],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "'{}' AS props",
    ).write.parquet(str(d / "events.parquet"))
    got = {
        r["touch_type"]: (r["n_purchases"], r["attributed_cents"])
        for r in SPECS["evt_purchase_attribution"].fn(spark, str(d)).collect()
    }
    assert got == {
        "click": (2, 15000),
        "organic": (1, 1000),
        "view": (1, 2000),
        "error": (1, 3000),
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{d}/events.parquet/*.parquet'"
    )
    ok, msg = compare(
        SPECS["evt_purchase_attribution"].fn(spark, str(d)),
        con,
        SPECS["evt_purchase_attribution"].oracle,
    )
    assert ok, msg


def test_gc_plan_classification_and_pins(tmp_path, spark):
    """gc_plan (the VACUUM dry run) classifies exactly: after append /
    replace / append, retaining the last two versions marks the first
    append's files reclaimable; a pin on the expired version empties
    the reclaimable set; executing the plan deletes exactly the planned
    files and the retained versions still read."""
    from bigbugdata_spark.sources.versioned import (
        expire_versions,
        gc_plan,
        pin_version,
        read_versioned,
        unpin_version,
        write_versioned,
        replace_versioned,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    write_versioned(df, path)                                 # v0
    replace_versioned(df.filter("id >= 5"), path)             # v1
    write_versioned(df.filter("id < 2"), path)                # v2
    plan = gc_plan(path, retain_last=2, min_age_s=0.0)
    assert plan["retained"] == [1, 2] and plan["expired"] == [0]
    assert plan["reclaimable_files"] and plan["reclaimable_bytes"] > 0
    assert not set(f["path"] for f in plan["reclaimable_files"]) & set(
        plan["live_files"]
    )
    # a pin on v0 keeps its files live -> nothing reclaimable
    pin_version(path, 0, "run-x")
    pinned_plan = gc_plan(path, retain_last=2, min_age_s=0.0)
    assert pinned_plan["expired"] == [] and not pinned_plan["reclaimable_files"]
    unpin_version(path, "run-x")
    acct = expire_versions(path, retain_last=2, min_age_s=0.0)
    assert acct["deleted_files"] == len(plan["reclaimable_files"])
    assert acct["freed_bytes"] == plan["reclaimable_bytes"]
    assert read_versioned(spark, path).count() == 7  # v2 = 5 + 2 rows
    assert read_versioned(spark, path, 1).count() == 5
    # the expired version is gone, loudly
    import pytest

    with pytest.raises(FileNotFoundError):
        read_versioned(spark, path, 0)


def test_encoding_profile_planted_extremes(spark):
    """encoding_profile on planted columns: heavy repetition -> 'dict'
    with exact byte accounting, all-unique single-char values ->
    'plain' (dict adds code bytes on top of the same payload), and an
    all-null column -> an all-zeros 'plain' row."""
    from bigbugdata_spark.functions.diagnostics import encoding_profile

    df = spark.createDataFrame(
        [("xxxxxxxxxx", str(i), None) for i in range(4)],
        "rep string, uniq string, empty string",
    )
    got = {
        r["col_name"]: r
        for r in encoding_profile(df, ["rep", "uniq", "empty"]).collect()
    }
    rep = got["rep"]
    #  plain = 4*10; dict = 10 (one entry) + 4*1 (codes)
    assert (rep["plain_bytes"], rep["dict_bytes"]) == (40, 14)
    assert rep["encoding"] == "dict" and rep["n_distinct"] == 1
    uniq = got["uniq"]
    #  plain = 4*1; dict = 4 + 4*1 — codes cost strictly more
    assert (uniq["plain_bytes"], uniq["dict_bytes"]) == (4, 8)
    assert uniq["encoding"] == "plain" and uniq["n_distinct"] == 4
    empty = got["empty"]
    assert (
        empty["n_values"],
        empty["n_distinct"],
        empty["plain_bytes"],
        empty["dict_bytes"],
        empty["encoding"],
    ) == (0, 0, 0, 0, "plain")


def test_lang_confusion_planted_matrix(tmp_path, spark):
    """text_lang_confusion on planted docs with known predictions:
    marker-bearing docs land on the diagonal, a marker-free doc leaks
    to 'und', and row_share divides each cell by its true class total;
    oracle parity on the same planted dir pins the twin."""
    from tests.parity import compare

    d = tmp_path / "conf"
    docs = [
        (0, "the cat and the hat", "en", "s", 19),
        (1, "a dog is here", "en", "s", 13),
        (2, "zzz qqq", "en", "s", 7),           # no markers -> und
        (3, "der hund ist gut", "de", "s", 16),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(d / "documents.parquet"))
    got = {
        (r["true_lang"], r["pred_lang"]): (
            r["n_docs"],
            r["true_total"],
            r["row_share"],
        )
        for r in SPECS["text_lang_confusion"].fn(spark, str(d)).collect()
    }
    assert got[("en", "en")] == (2, 3, 2 / 3)
    assert got[("en", "und")] == (1, 3, 1 / 3)
    assert got[("de", "de")] == (1, 1, 1.0)
    assert len(got) == 3
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"
    )
    ok, msg = compare(
        SPECS["text_lang_confusion"].fn(spark, str(d)),
        con,
        SPECS["text_lang_confusion"].oracle,
    )
    assert ok, msg
