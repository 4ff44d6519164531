"""Corpus-governance operators (round 5): the two training-data pipeline
stages the engine did not yet cover as first-class registered queries —
benchmark decontamination and deterministic dataset splitting. No analog
in the reference (strictly a batch CSV tool, SURVEY §2.1); both are
LLM-pipeline extension surface per the north star, over the driver's
``documents`` table with exact DuckDB oracle twins built from the same
cross-engine hash primitives as the dedup/text families
(functions/hashing.py — bit-identical by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions import hashing as H
# The stratified-split builders are shared (corpus accounting, the
# governed pipeline and dq_split_leakage must all classify documents
# identically); the cosine threshold is shared with dedup.
from bigbugdata_spark.functions.fragments import (
    COSINE_T as _XL_COSINE_T,
    split_col as _split_col,
    sql_cos as _sql_cos,
    sql_split_case as _sql_split_case,
)
from bigbugdata_spark.operators.dedup import dedup_emb_cosine
from bigbugdata_spark.registry import register

# The held-out "benchmark" slice: a deterministic doc_id residue class
# stands in for an eval set (at a real site this is the actual benchmark
# corpus loaded from its own table). mod 7 (~14%) is the smallest residue
# class whose gram overlap with the synthetic corpus is non-trivial at
# the driver's sf0.01 gate — a zero-row result would make the driver's
# hash verdict vacuous.
_BENCH_MOD = 7

# Decontamination gram length: long enough that a shared gram means real
# contamination, not phrase coincidence (industry practice uses 8-13).
_DECON_N = 8


@register(
    "text_decontaminate",
    oracle=f"""
        WITH grams AS (
            SELECT doc_id, unnest(g) AS gram_hash FROM (
                SELECT doc_id,
                       {H.sql_shingle_hashes(H.sql_word_hashes(H.sql_tokens('text')), n=_DECON_N, distinct=True)} AS g
                FROM documents
            )
        ),
        bench AS (
            SELECT doc_id AS bench_id, gram_hash FROM grams
            WHERE doc_id % {_BENCH_MOD} = 0
        ),
        corpus AS (
            SELECT doc_id, gram_hash FROM grams
            WHERE doc_id % {_BENCH_MOD} <> 0
        )
        SELECT corpus.doc_id AS doc_id,
               CAST(COUNT(DISTINCT corpus.gram_hash) AS BIGINT) AS n_shared_grams,
               CAST(COUNT(DISTINCT bench.bench_id) AS BIGINT) AS n_bench_docs
        FROM corpus JOIN bench USING (gram_hash)
        GROUP BY corpus.doc_id
    """,
    tags=("text", "join", "agg", "headline"),
)
def text_decontaminate(
    spark: SparkSession,
    sf_dir: str,
    benchmark: "DataFrame | str | None" = None,
    preagg: bool = False,
) -> DataFrame:
    """Benchmark decontamination — flag training documents that share any
    word-{n}-gram with the benchmark, with the distinct shared-gram and
    touched-benchmark-document counts that drive the drop/keep decision.
    The standard pre-training hygiene pass (long verbatim n-gram overlap
    with eval sets).

    `benchmark` selects the eval-set source:
      * None (the registered/oracle form): the deterministic doc_id
        residue class stands in for an eval set, and the corpus side
        excludes it;
      * a DataFrame with (doc_id, text) columns, or a parquet path to
        one: the REAL fixed-size benchmark corpus — grams are derived
        from it with the same shingle pipeline, and the whole documents
        table is the corpus side. This is the production shape: the
        broadcast is sized by the external eval set, which is small
        intrinsically, not corpus-proportionally.

    `preagg` selects the join shape (r18 decision, VERDICT r17 #6):
      * False (registered default, the measured winner): broadcast the
        (gram_hash, bench_id) rows and let the two COUNT(DISTINCT)s
        aggregate the fan-out. The r17 pre-aggregate form measured
        10-20% SLOWER in both r17 driver runs at sf0.1 and again in the
        r18 interleaved A/B at sf0.1 (-16/-19%) and x10 (-4/-15%)
        (plans/r18/decontam_ab.json) — the Expand x2 it removed is
        cheaper here than its collect_set build + per-row set-union
        work, so the "strictly better plan" never beat the simple one
        at any measurable scale and the round rule (keep only if not
        worse) reverts it.
      * True (kept for extreme bench-side fan-out): the benchmark side
        pre-aggregated to ONE row per gram carrying its distinct
        bench-doc set, making the broadcast join 1:1 against the corpus
        gram stream — no per-(gram, bench_doc) row multiplication, no
        Expand. Worth switching only when benchmark documents overlap
        each other so heavily that the per-gram fan-out multiplier (the
        old shape's joined-row count over the new one's) is large;
        measured on this corpus it is exactly 1.0 (2386 joined rows
        either way — no gram is shared by two bench docs), so there is
        nothing for the pre-aggregate to win back.

    For corpus-vs-corpus overlap, where neither side is small, the
    right tool is the shuffled inverted-index join of
    dedup_ngram_jaccard / text_dup_ngrams instead."""
    grams = _decon_grams(table(spark, sf_dir, "documents"))
    bench_docs = _load_benchmark(spark, benchmark)
    if bench_docs is None:
        bench = grams.filter(F.col("doc_id") % _BENCH_MOD == 0)
        corpus = grams.filter(F.col("doc_id") % _BENCH_MOD != 0)
    else:
        bench = _decon_grams(bench_docs)
        corpus = grams
    if preagg:
        per_gram = bench.groupBy("gram_hash").agg(
            F.collect_set("doc_id").alias("bids")
        )
        return (
            corpus.join(F.broadcast(per_gram), "gram_hash")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_shared_grams"),
                F.size(F.array_distinct(F.flatten(F.collect_list("bids"))))
                .cast("long")
                .alias("n_bench_docs"),
            )
        )
    bench_rows = bench.select(F.col("doc_id").alias("bench_id"), "gram_hash")
    return (
        corpus.join(F.broadcast(bench_rows), "gram_hash")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram_hash").cast("long").alias("n_shared_grams"),
            F.countDistinct("bench_id").cast("long").alias("n_bench_docs"),
        )
    )


def _decon_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, gram_hash): distinct decontamination n-grams per doc."""
    return docs.select(
        "doc_id",
        F.explode(
            H.shingle_hashes(
                H.word_hashes(H.tokens(F.col("text"))), n=_DECON_N, distinct=True
            )
        ).alias("gram_hash"),
    )


def _load_benchmark(
    spark: SparkSession, benchmark: "DataFrame | str | None"
) -> "DataFrame | None":
    """Resolve the external benchmark corpus: None passes through (the
    residue-class stand-in), a path reads parquet, a DataFrame is used
    as-is. Contract: (doc_id, text) columns."""
    if benchmark is None:
        return None
    if isinstance(benchmark, str):
        benchmark = spark.read.parquet(benchmark)
    return benchmark.select("doc_id", "text")


text_decontaminate.__doc__ = text_decontaminate.__doc__.format(n=_DECON_N)


@register(
    "corpus_split_stratified",
    oracle=f"""
        SELECT lang,
               {_sql_split_case("doc_id")} AS split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(text)) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang, split
    """,
    tags=("text", "sample", "agg", "headline"),
)
def corpus_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split accounting, stratified by
    language: every document is assigned by an affine hash of doc_id
    (98.0/1.0/1.0 permille cut points), and the query reports per
    (lang, split) document and character totals — the dataset-card
    numbers for a training corpus.

    Hash assignment, not df.randomSplit(): the rng form is partitioning-
    dependent and unstable under re-runs and incremental ingest, while
    the hash is a pure row predicate — a document's split NEVER changes
    as the corpus grows, which is what keeps eval sets uncontaminated
    across dataset versions (same rationale as corpus_mix_sample, with
    independent hash parameters so mixing and splitting don't correlate).

    Plan: split assignment is a scan-side expression (no shuffle, no
    join); ONE map-side-combinable aggregate on the bounded
    (lang x split) key space. At 100 TB this is a single pass."""
    return (
        table(spark, sf_dir, "documents")
        .select(
            "lang",
            _split_col(F.col("doc_id")).alias("split"),
            F.length("text").alias("_len"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_len").alias("total_chars"),
        )
    )


# Repetition gram length: word bigrams — the shortest gram whose
# repetition rate separates boilerplate/spam from prose.
_REP_N = 2


@register(
    "text_repetition_stats",
    oracle=f"""
        WITH grams AS (
            SELECT doc_id, unnest(g) AS gram_hash FROM (
                SELECT doc_id,
                       {H.sql_shingle_hashes(H.sql_word_hashes(H.sql_tokens('text')), n=_REP_N, distinct=False)} AS g
                FROM documents
            )
        ),
        cnt AS (
            SELECT doc_id, gram_hash, CAST(COUNT(*) AS BIGINT) AS c
            FROM grams GROUP BY doc_id, gram_hash
        )
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
               CAST(MAX(c) AS BIGINT) AS max_bigram_count
        FROM cnt GROUP BY doc_id
    """,
    tags=("text", "agg", "headline"),
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition profile — the Gopher-style quality
    signal that catches boilerplate and generated spam: per document,
    total word-bigram occurrences, distinct bigrams, and the hottest
    bigram's count. Downstream filters threshold the ratios
    (max/total high, distinct/total low => repetitive junk); the raw
    integers are returned so the thresholds stay policy, not plumbing —
    and so the cross-engine comparison is exact.

    Plan: one explode, then a two-level aggregate ((doc, gram) counts,
    then per-doc roll-up). Both levels combine map-side; the second
    grouping is a prefix of the first, so under hash partitioning on
    doc_id+gram the roll-up needs no second exchange of raw rows."""
    grams = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            H.shingle_hashes(
                H.word_hashes(H.tokens(F.col("text"))), n=_REP_N, distinct=False
            )
        ).alias("gram_hash"),
    )
    cnt = grams.groupBy("doc_id", "gram_hash").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        F.max("c").alias("max_bigram_count"),
    )


_XL_COS_SQL = _sql_cos("a.embedding", "b.embedding")


@register(
    "emb_crosslingual_dupes",
    oracle=f"""
        WITH pairs AS (
            SELECT a.vec_id AS v1, b.vec_id AS v2
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE {_XL_COS_SQL} >= {_XL_COSINE_T}
        )
        SELECT LEAST(d1.lang, d2.lang) AS lang_a,
               GREATEST(d1.lang, d2.lang) AS lang_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs
        JOIN documents d1 ON d1.doc_id = pairs.v1
        JOIN documents d2 ON d2.doc_id = pairs.v2
        GROUP BY lang_a, lang_b
    """,
    tags=("corpus", "join", "agg"),
)
def emb_crosslingual_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual near-duplicate audit — the cross-MODAL composition
    the other families don't cover: embedding-space near-dup pairs
    joined back to the documents table's language metadata, aggregated
    per unordered language pair. Off-diagonal mass (lang_a != lang_b)
    is translation leakage — semantic duplicates that text-level dedup
    (exact/MinHash/SimHash) is structurally blind to because the
    surface strings differ.

    Pair source here is the labeled brute-force baseline
    (dedup_emb_cosine — exact oracle, correctness anchor); at scale the
    same audit runs off dedup_emb_lsh's bucketed pairs, exactly the
    swap dedup_cluster_keep_lsh makes for clustering. The doc-metadata
    joins are id-equi-joins; the language-pair key space is bounded
    (|langs|^2), so the final aggregate is map-side combinable."""
    pairs = dedup_emb_cosine(spark, sf_dir).select("v1", "v2")
    langs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = (
        pairs.join(langs.withColumnRenamed("lang", "_l1"), pairs.v1 == langs.doc_id)
        .drop("doc_id")
        .join(
            langs.withColumnRenamed("lang", "_l2").withColumnRenamed("doc_id", "_d2"),
            F.col("v2") == F.col("_d2"),
        )
    )
    return (
        j.select(
            F.least("_l1", "_l2").alias("lang_a"),
            F.greatest("_l1", "_l2").alias("lang_b"),
        )
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "pipe_governed_corpus",
    oracle=f"""
        WITH grams AS (
            SELECT doc_id, unnest(g) AS gram_hash FROM (
                SELECT doc_id,
                       {H.sql_shingle_hashes(H.sql_word_hashes(H.sql_tokens('text')), n=_REP_N, distinct=False)} AS g
                FROM documents
            )
        ),
        cnt AS (
            SELECT doc_id, gram_hash, CAST(COUNT(*) AS BIGINT) AS c
            FROM grams GROUP BY doc_id, gram_hash
        ),
        rep_bad AS (
            SELECT doc_id FROM cnt GROUP BY doc_id
            HAVING 5 * MAX(c) > SUM(c)
        ),
        dgrams AS (
            SELECT doc_id, unnest(g) AS gram_hash FROM (
                SELECT doc_id,
                       {H.sql_shingle_hashes(H.sql_word_hashes(H.sql_tokens('text')), n=_DECON_N, distinct=True)} AS g
                FROM documents
            )
        ),
        contaminated AS (
            SELECT DISTINCT c.doc_id
            FROM dgrams c JOIN dgrams b USING (gram_hash)
            WHERE c.doc_id % {_BENCH_MOD} <> 0 AND b.doc_id % {_BENCH_MOD} = 0
        )
        SELECT lang,
               {_sql_split_case("doc_id")} AS split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(text)) AS BIGINT) AS total_chars
        FROM documents
        WHERE doc_id % {_BENCH_MOD} <> 0
          AND doc_id NOT IN (SELECT doc_id FROM rep_bad)
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
        GROUP BY lang, split
    """,
    tags=("text", "pipeline"),
)
def pipe_governed_corpus(
    spark: SparkSession,
    sf_dir: str,
    benchmark: "DataFrame | str | None" = None,
) -> DataFrame:
    """The round-5 governance stages COMPOSED into one lazy plan — what a
    real pre-training data build runs: drop the held-out benchmark
    slice, gate out repetitive documents (hottest bigram > 20% of all
    bigrams — integer cross-multiplication, no fp threshold), drop
    documents contaminated by benchmark n-gram overlap, then account
    the survivors per (lang, split). Documents too short to have a
    bigram cannot be repetitive and are kept.

    `benchmark` follows text_decontaminate's contract: None uses the
    held-out residue-class stand-in (registered/oracle form, corpus
    excludes the slice); a (doc_id, text) DataFrame or parquet path is
    the real external eval set (corpus = all documents, broadcast sized
    by the eval set — fixed, not corpus-proportional).

    Plan: the two gates are anti-joins against aggregate-derived key
    sets (flagged-docs frames are corpus-fraction-sized, not
    corpus-sized); everything composes lazily so Catalyst prunes the
    documents scan to the consumed columns once per branch. The same
    boundedness arguments as the standalone operators apply."""
    docs = table(spark, sf_dir, "documents")
    bench_docs = _load_benchmark(spark, benchmark)
    grams = docs.select(
        "doc_id",
        F.explode(
            H.shingle_hashes(
                H.word_hashes(H.tokens(F.col("text"))), n=_REP_N, distinct=False
            )
        ).alias("gram_hash"),
    )
    cnt = grams.groupBy("doc_id", "gram_hash").agg(F.count(F.lit(1)).alias("c"))
    rep_bad = (
        cnt.groupBy("doc_id")
        .agg(F.max("c").alias("m"), F.sum("c").alias("t"))
        .filter(5 * F.col("m") > F.col("t"))
        .select("doc_id")
    )
    dgrams = _decon_grams(docs)
    if bench_docs is None:
        bench = dgrams.filter(F.col("doc_id") % _BENCH_MOD == 0)
        corpus_grams = dgrams.filter(F.col("doc_id") % _BENCH_MOD != 0)
        survivors = docs.filter(F.col("doc_id") % _BENCH_MOD != 0)
    else:
        bench = _decon_grams(bench_docs)
        corpus_grams = dgrams
        survivors = docs
    contaminated = (
        corpus_grams.join(
            F.broadcast(bench.select("gram_hash").distinct()), "gram_hash"
        )
        .select("doc_id")
        .distinct()
    )
    split = _split_col(F.col("doc_id"))
    clean = (
        survivors
        .join(rep_bad, "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
    )
    return (
        clean.select("lang", split.alias("split"), F.length("text").alias("_len"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_len").alias("total_chars"),
        )
    )

