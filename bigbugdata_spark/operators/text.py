"""Text-analysis operators over the `documents` table — the LLM-pipeline
text family (SURVEY.md §7 phase 3; absent from the reference, whose only
string op is taxName.strip(), ref bigbugdata.py:295-297).

All hot-path expressions are built-in higher-order functions (JVM-side,
whole-stage codegen — no Python UDFs anywhere); every query has an exact
DuckDB oracle twin, with shared deterministic hashing from
functions/hashing.py where hashes are involved.

Scale posture: every query is a single scan + one hash-aggregate shuffle
(or none); token explosion happens after column pruning so the scan reads
only (doc_id/lang, text). At 100 TB the documents table is
date/source-partitioned parquet and these plans are embarrassingly
parallel."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigbugdata_spark.caching import pin
from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    QUALITY_SQL,
    STOPWORDS as _STOPWORDS,
)
from bigbugdata_spark.registry import register

# language marker-word heuristic: shared with text_lang_confusion
from bigbugdata_spark.functions.langid_core import (  # noqa: E402
    LANG_PRED_SQL as _LANG_ID_SQL,
    pred_lang as _pred_lang,
)
@register(
    "text_token_stats",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang, unnest({H.sql_tokens('text')}) AS term
            FROM documents
        )
        SELECT lang,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS total_tokens,
               CAST(COUNT(DISTINCT term) AS BIGINT) AS distinct_terms,
               CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id) AS tokens_per_doc
        FROM toks GROUP BY lang
    """,
    tags=("text", "agg", "headline"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics: tokenize -> explode -> aggregate.

    Plan: scan (pruned to lang+text) -> generate (explode) -> partial agg
    -> one shuffle on lang. The explode multiplies rows ~40x but never
    materializes wide rows; at scale this is the canonical
    scan-side-generate pattern."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(H.tokens(F.col("text"))).alias("term")
    )
    return toks.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_tokens"),
        F.countDistinct("term").alias("distinct_terms"),
        (F.count(F.lit(1)).cast("double") / F.countDistinct("doc_id")).alias(
            "tokens_per_doc"
        ),
    )


@register(
    "text_term_frequencies",
    oracle=f"""
        WITH toks AS (
            SELECT lang, unnest({H.sql_tokens('text')}) AS term
            FROM documents
        ),
        counts AS (
            SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS n
            FROM toks GROUP BY lang, term
        )
        SELECT lang, term, n, CAST(rnk AS INT) AS rnk FROM (
            SELECT lang, term, n,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, term ASC) AS rnk
            FROM counts
        ) WHERE rnk <= 10
    """,
    tags=("text", "window"),
)
def text_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 terms per language (the op-14 top-k pattern applied to term
    statistics): one shuffle for the (lang, term) agg, one for the
    per-lang window; k is tiny so AQE keeps the window stage small."""
    toks = table(spark, sf_dir, "documents").select(
        "lang", F.explode(H.tokens(F.col("text"))).alias("term")
    )
    counts = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("lang", "term", "n", F.col("rnk").cast("int").alias("rnk"))
    )


@register("text_lang_id", oracle=_LANG_ID_SQL, tags=("text", "project"))
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language identification (stopword-profile heuristic —
    the SQL-speed version of n-gram langid; predictor shared with the
    text_lang_confusion evaluation card via functions/langid_core.py).
    Pure per-row expression: no shuffle at all; the scan prunes to
    (doc_id, lang, text)."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("true_lang"), H.tokens(F.col("text")).alias("toks")
    )
    return docs.select(
        "doc_id", "true_lang", _pred_lang(F.col("toks")).alias("pred_lang")
    )



@register(
    "text_quality_score",
    oracle=QUALITY_SQL,
    tags=("text", "project"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality scoring (length band, punctuation ratio,
    stopword presence — the C4/Gopher-style rule family as pure column
    expressions). No shuffle; identical fp arithmetic to the oracle.
    Base counts and the decipoint rule are the shared fragments
    builders (r13 — one definition across all quality consumers; the
    positive-class n_punct strip's r8 rationale and property test live
    on the shared builder's docstring)."""
    from bigbugdata_spark.functions.fragments import (
        quality_base_frame,
        quality_deci_col,
    )

    base = quality_base_frame(spark, sf_dir).drop("lang")

    punct_ratio = F.col("n_punct").cast("double") / F.col("n_chars_obs")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    # integer decipoints + one final IEEE division — mirrors QUALITY_SQL
    # exactly (0.4+0.3+0.3 in fp64 is 0.9999999999999999; 10/10.0 is 1.0,
    # and both engines now compute the latter bit-identically); the
    # decipoint rule itself is the shared fragments builder (ADVICE r12)
    quality = quality_deci_col().cast("double") / F.lit(10.0)
    return base.select(
        "doc_id",
        "n_chars_obs",
        "n_tokens",
        (F.col("n_chars_obs").cast("double") / F.col("n_tokens")).alias("chars_per_token"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


@register(
    "text_token_count",
    oracle=f"""
        SELECT doc_id,
               CAST(len({H.sql_tokens('text')}) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpe_ish_tokens
        FROM documents
    """,
    tags=("text", "project"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    (alpha runs | digit runs | single punctuation) — the cheap proxy for
    LLM token budgeting. Pure per-row expressions, no shuffle."""
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(H.tokens(F.col("text"))).cast("long").alias("ws_tokens"),
        F.regexp_count(F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"))
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


@register(
    "text_chunk",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {H.sql_tokens('text')} AS t FROM documents
        )
        SELECT doc_id,
               CAST(s AS BIGINT) AS start,
               array_to_string(t[s+1 : s+{CHUNK_SIZE}], ' ') AS chunk_text,
               CAST(len(t[s+1 : s+{CHUNK_SIZE}]) AS INT) AS n_tokens
        FROM toks, unnest(range(0, len(t), {CHUNK_STRIDE})) AS u(s)
    """,
    tags=("text", "generate"),
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the training-data segmentation
    step (fixed {size}-token chunks every {stride} tokens, {overlap}-token
    overlap; the tail chunk may be short). Pure generate: one scan, a
    per-row sequence explode, no shuffle; chunk identity is (doc_id,
    start) so downstream stages can join back without ordering
    assumptions. Scale note: output rows ~ tokens/stride per doc — the
    amplification is the contract, and the chunker composes with
    dedup/quality ops by treating chunks as documents."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", H.tokens(F.col("text")).alias("t")
    )
    chunks = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.size("t") - 1, F.lit(CHUNK_STRIDE))
        ).alias("s"),
    )
    piece = F.slice(F.col("t"), F.col("s") + 1, CHUNK_SIZE)
    return chunks.select(
        "doc_id",
        F.col("s").cast("long").alias("start"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("int").alias("n_tokens"),
    )


text_chunk.__doc__ = text_chunk.__doc__.format(
    size=CHUNK_SIZE, stride=CHUNK_STRIDE, overlap=CHUNK_SIZE - CHUNK_STRIDE
)


@register(
    "text_dup_ngrams",
    oracle=f"""
        WITH grams AS (
            SELECT doc_id, unnest(g) AS gram_hash FROM (
                SELECT doc_id,
                       {H.sql_shingle_hashes(H.sql_word_hashes(H.sql_tokens('text')), n=8, distinct=False)} AS g
                FROM documents
            )
        )
        SELECT gram_hash,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM grams
        GROUP BY gram_hash
        HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    tags=("text", "agg"),
)
def text_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-8-gram diagnostics — the corpus-contamination /
    memorization audit: which long n-grams recur across distinct
    documents, with document and occurrence counts. One explode + one
    hash-agg shuffle on the gram hash; at 100 TB this is the standard
    pre-dedup scan whose heavy hitters feed the stop-gram cap in
    dedup_ngram_jaccard."""
    grams = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            H.shingle_hashes(
                H.word_hashes(H.tokens(F.col("text"))), n=8, distinct=False
            )
        ).alias("gram_hash"),
    )
    return (
        grams.groupBy("gram_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "text_scrub",
    oracle="""
        SELECT doc_id,
               regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
                              '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g') AS scrubbed,
               CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_runs
        FROM documents
    """,
    tags=("text", "project"),
)
def text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction scrubbing — the PII-hygiene stage of a training-data
    pipeline: digit runs -> <NUM>, email-shaped tokens -> <EMAIL>, with a
    per-doc redaction count for audit. Pure per-row regexp_replace (JVM
    regex == RE2 semantics for these patterns); no shuffle. On this
    synthetic corpus the patterns rarely fire — the audit count proves
    the negative."""
    digits = F.regexp_replace(F.col("text"), r"[0-9]+", "<NUM>")
    scrubbed = F.regexp_replace(digits, r"[a-z0-9._]+@[a-z0-9.]+", "<EMAIL>")
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        F.regexp_count(F.col("text"), F.lit(r"[0-9]+")).cast("long").alias("n_num_runs"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
        SELECT doc_id, {H.sql_text_fingerprint('text')} AS fingerprint
        FROM documents
    """,
    tags=("text", "hash"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (exact-dup key
    robust to formatting-free content equality). Bit-identical to the
    DuckDB twin via the shared rolling-hash primitive — proof the hashing
    layer is engine-portable."""
    return table(spark, sf_dir, "documents").select(
        "doc_id", H.text_fingerprint(F.col("text")).alias("fingerprint")
    )

