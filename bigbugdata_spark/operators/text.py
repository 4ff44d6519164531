"""Text analysis over `documents`: token and quality statistics, language
ID, boilerplate, BPE pair stats / training / application,
co-occurrence, sketch twins, bigram LM stats, template prefixes,
quality curves, rare tokens, sentences, frequency spectra, TF-IDF,
cross-document overlap and sequence packing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bigbugdata_spark.caching import pin
from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    QUALITY_BASE_SQL,
    QUALITY_DECI_SQL,
    QUALITY_SQL,
    STOPWORDS,
)
from bigbugdata_spark.functions.langid_core import LANG_PRED_SQL, pred_lang
from bigbugdata_spark.registry import register


# ---------------------------------------------------------------------------
# Text-analysis operators over the `documents` table — the LLM-pipeline
# text family (SURVEY.md §7 phase 3; absent from the reference, whose only
# string op is taxName.strip(), ref bigbugdata.py:295-297).
#
# All hot-path expressions are built-in higher-order functions (JVM-side,
# whole-stage codegen — no Python UDFs anywhere); every query has an exact
# DuckDB oracle twin, with shared deterministic hashing from
# functions/hashing.py where hashes are involved.
#
# Scale posture: every query is a single scan + one hash-aggregate shuffle
# (or none); token explosion happens after column pruning so the scan reads
# only (doc_id/lang, text). At 100 TB the documents table is
# date/source-partitioned parquet and these plans are embarrassingly
# parallel.
# ---------------------------------------------------------------------------


# language marker-word heuristic: shared with text_lang_confusion
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


@register("text_lang_id", oracle=LANG_PRED_SQL, tags=("text", "project"))
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
        "doc_id", "true_lang", pred_lang(F.col("toks")).alias("pred_lang")
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


# ---------------------------------------------------------------------------
# Cross-document boilerplate detection (round 12) — the corpus-level
# consumer of text_sentence's segmenter: a sentence (normalized: trimmed,
# lowercased) that recurs in BOILER_MIN_DOCS or more distinct documents
# is boilerplate (headers, footers, cookie banners, license blurbs) — the
# standard pretraining-corpus cleanup signal BETWEEN document-level
# near-dup (whole doc similar) and span-level n-gram overlap (any shared
# window): exact repetition of a complete sentence across unrelated
# documents.
#
# Output is per-language accounting (bounded, dashboard-shaped): how many
# distinct boilerplate sentences, how many sentence OCCURRENCES they
# explain, total sentences, and the integer-permille boilerplate rate —
# the number a cleanup pass quotes as its expected deletion volume.
#
# No analog in the reference (SURVEY §2.1); text extension surface.
#
# Scale posture: one documents scan -> per-(doc, sentence) DISTINCT
# (map-side dedupable) -> sentence-keyed df count (one shuffle on the
# sentence key) -> join back per occurrence on the same key (exchange
# reuse: both sides hash-partitioned on sentence) -> |lang|-keyed rollup.
# At 100 TB the sentence key shuffles as a 64-bit hash instead of the
# string (same plan, narrower shuffle; kept as the string here so the
# oracle groups on identical values with zero collision caveats).
# ---------------------------------------------------------------------------


#: a normalized sentence in >= this many distinct docs is boilerplate
BOILER_MIN_DOCS = 3

_BOILER_ORACLE_SQL = f"""
    WITH sents AS (
        SELECT doc_id, lang, lower(s) AS sent
        FROM (
            SELECT doc_id, lang,
                   unnest(list_filter(
                       list_transform(string_split_regex(text, '[.!?]+'),
                                      x -> trim(x)),
                       x -> x != '')) AS s
            FROM documents
        )
    ),
    doc_sents AS (
        SELECT DISTINCT doc_id, lang, sent FROM sents
    ),
    df AS (
        SELECT sent, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM doc_sents GROUP BY sent
    ),
    flagged AS (
        SELECT s.lang, s.sent,
               CASE WHEN d.n_docs >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END
                   AS is_boiler
        FROM sents s JOIN df d ON s.sent = d.sent
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sentences,
           CAST(SUM(is_boiler) AS BIGINT) AS boiler_occurrences,
           CAST(COUNT(DISTINCT CASE WHEN is_boiler = 1 THEN sent END)
                AS BIGINT) AS boiler_distinct,
           CAST(SUM(is_boiler) * 1000 // COUNT(*) AS BIGINT) AS boiler_pm
    FROM flagged GROUP BY lang
"""


@register(
    "text_boilerplate",
    oracle=_BOILER_ORACLE_SQL,
    tags=("text", "agg", "join"),
)
def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_sentences, boiler_occurrences, boiler_distinct,
    boiler_pm): per-language boilerplate accounting — occurrences of
    normalized sentences recurring in >= BOILER_MIN_DOCS distinct docs,
    as counts and integer permille of all sentence occurrences."""
    sents = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "filter(transform(split(text, '[.!?]+'), x -> trim(x)),"
                " x -> x != '')"
            )
        ).alias("s"),
    ).select("doc_id", "lang", F.lower("s").alias("sent"))
    df_counts = (
        sents.select("doc_id", "sent")
        .distinct()
        .groupBy("sent")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    flagged = sents.join(df_counts, "sent").select(
        "lang",
        "sent",
        F.when(F.col("n_docs") >= BOILER_MIN_DOCS, 1).otherwise(0).alias(
            "is_boiler"
        ),
    )
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sentences"),
        F.sum("is_boiler").cast("long").alias("boiler_occurrences"),
        F.count_distinct(
            F.when(F.col("is_boiler") == 1, F.col("sent"))
        )
        .cast("long")
        .alias("boiler_distinct"),
        F.expr("sum(is_boiler) * 1000 div count(*)")
        .cast("long")
        .alias("boiler_pm"),
    )


# ---------------------------------------------------------------------------
# Tokenizer-training pair statistics (round 8) — the first iteration
# of byte-pair encoding: corpus-wide frequencies of adjacent character
# pairs inside words, ranked. Training a BPE/WordPiece vocabulary over a
# 100 TB corpus starts exactly here, and the iteration's cost profile is
# dominated by this counting step — the merge loop itself mutates a
# driver-sized vocab.
#
# No analog in the reference (SURVEY §2.1); text-analysis extension
# surface alongside text_term_frequencies / text_vocab_approx.
#
# Scale posture: the pair explosion runs over the AGGREGATED word vocab
# (word, count), not the raw token stream — Heaps' law makes |vocab|
# sublinear in corpus size, so the expensive explode touches millions of
# rows where the corpus has trillions of tokens (the standard corpus-
# frequency optimization in BPE trainers). Both the vocab and pair
# aggregates are map-side combinable; the final rank sorts a frame
# bounded by |charset|^2. Everything stays JVM-side (split / sequence /
# transform / substr — no Python).
#
# Determinism discipline: frequencies are exact BIGINT sums; the rank
# orders by (freq DESC, pair ASC) so ties cannot reorder between engines.
# ---------------------------------------------------------------------------


TOP_PAIRS = 20


@register(
    "text_bpe_pair_stats",
    oracle=f"""
        WITH words AS (
            SELECT unnest({H.sql_tokens('text')}) AS w FROM documents
        ),
        vocab AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS n
            FROM words WHERE length(w) >= 2 GROUP BY w
        ),
        pairs AS (
            SELECT unnest(list_transform(range(1, length(w)),
                          i -> substr(w, CAST(i AS INT), 2))) AS pair,
                   n
            FROM vocab
        ),
        agg AS (
            SELECT pair, CAST(SUM(n) AS BIGINT) AS freq
            FROM pairs GROUP BY pair
        ),
        ranked AS (
            SELECT pair, freq,
                   CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, pair)
                        AS BIGINT) AS rnk
            FROM agg
        )
        SELECT pair, freq, rnk FROM ranked WHERE rnk <= {TOP_PAIRS}
    """,
    tags=("text", "agg", "topk"),
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K (K = TOP_PAIRS) adjacent character pairs inside words (the BPE
    merge candidates), with exact corpus frequency and a deterministic
    (freq DESC, pair ASC) rank.

    The pair explode is weighted by the word-vocab count — one explode
    per DISTINCT word, multiplied back by its corpus frequency — so the
    expensive step scales with vocabulary, not token volume."""
    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(H.tokens(F.col("text"))).alias("w"))
        .where(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = vocab.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "n",
    )
    agg = pairs.groupBy("pair").agg(F.sum("n").alias("freq"))
    rnk = F.row_number().over(Window.orderBy(F.desc("freq"), F.asc("pair")))
    return (
        agg.select("pair", "freq", rnk.cast("long").alias("rnk"))
        .where(F.col("rnk") <= TOP_PAIRS)
    )


# ---------------------------------------------------------------------------
# BPE merge TRAINING (round 9) — the iterative half the tokenizer
# surface was missing: text_bpe_pair_stats reports the first round's
# pair counts; this runs the actual trainer loop — BPE_STEPS rounds of
# (count adjacent symbol pairs over the word vocabulary) -> (pick the
# most frequent pair, deterministic tie-break) -> (apply the merge to
# every word's symbol sequence) — and returns the learned merge list,
# the artifact a tokenizer ships.
#
# No analog in the reference (SURVEY §2.1); text/tokenizer extension
# surface, the third driver-controlled/executor-executed iterative
# operator next to emb_kmeans_assign and connected_components.
#
# Merge-application semantics (defined, engine-portable): symbol
# sequences live as \x1f-delimited strings; applying merge (a, b) is
# TWO passes of plain left-to-right non-overlapping string replace of
# "\x1fa\x1fb\x1f" with "\x1fab\x1f".  Pass 1 is greedy BPE except
# that a replacement consumes the trailing delimiter, hiding an
# occurrence that starts exactly there; those misses are always isolated
# between replaced blocks, so pass 2 catches all of them — for a != b
# the two passes provably equal the textbook greedy left-to-right merge
# (the unit test pins equality against an independent Python greedy
# implementation on the real corpus).  SELF-pairs (a == b) are excluded
# from candidacy: on runs like "aaaa" replace-based application diverges
# from greedy (stragglers separate), and character runs are repetition
# pathology (text_repetition_stats' beat), not vocabulary.  Both engines
# implement the identical procedure, so the oracle re-derives the whole
# M-round loop unrolled in SQL and the hash compare gates every round's
# choice AND application.
#
# Scale posture: state per round is the word VOCABULARY (word, freq,
# symbols) — Heaps'-law bounded, shrinking in symbol count as merges
# apply; each round is one vocabulary-sized pair aggregate (map-side
# combinable on a charset^2-bounded key space early, vocab-bounded
# later) + one orderBy(...).limit(1) argmax (TakeOrderedAndProject — a
# one-row driver collect per round, the kmeans pattern) + one map-only
# merge application, localCheckpointed so plans stay flat.  The driver
# holds M merge rows and nothing else.
#
# The unrolled CTE chain is the named constant TRAIN_CTES that every BPE
# oracle appends its own final SELECT to; text_bpe_compression (here) and
# text_bpe_tokenize (operators/text.py) run the same trainer.
# ---------------------------------------------------------------------------


BPE_STEPS = 6
SEP = "\x1f"
SEP_SQL = "chr(31)"
SEP_EXPR = "'\\u001f'"


def _sql_round(r: int) -> str:
    """CTEs for round r: pair counts p{r} from vocab v{r}, the argmax
    b{r}, and the merged vocabulary v{r+1}."""
    return f"""
    e{r} AS (
        SELECT freq,
               list_filter(string_split(s, {SEP_SQL}), x -> x != '') AS syms
        FROM v{r}
    ),
    p{r} AS (
        SELECT pr['a'] AS a, pr['b'] AS b, CAST(SUM(freq) AS BIGINT) AS c
        FROM (
            SELECT freq, unnest(list_transform(range(1, len(syms)),
                   i -> {{'a': syms[i], 'b': syms[i + 1]}})) AS pr
            FROM e{r}
        )
        WHERE pr['a'] != pr['b']
        GROUP BY a, b
    ),
    b{r} AS (
        SELECT {r} AS step, a, b, c
        FROM p{r} ORDER BY c DESC, a, b LIMIT 1
    ),
    v{r + 1} AS (
        -- LEFT JOIN ON TRUE + COALESCE instead of a cross join: when
        -- pair candidates dry up before BPE_STEPS rounds, b{r} is
        -- empty and a cross join would EMPTY the vocabulary — the
        -- fallback keeps v{r} verbatim, matching the Spark trainer's
        -- loop break (advisory r9)
        SELECT word, freq,
               COALESCE(replace(replace(s,
                   {SEP_SQL} || b{r}.a || {SEP_SQL} || b{r}.b || {SEP_SQL},
                   {SEP_SQL} || b{r}.a || b{r}.b || {SEP_SQL}),
                   {SEP_SQL} || b{r}.a || {SEP_SQL} || b{r}.b || {SEP_SQL},
                   {SEP_SQL} || b{r}.a || b{r}.b || {SEP_SQL}), s) AS s
        FROM v{r} LEFT JOIN b{r} ON TRUE
    )"""


#: the trainer's full unrolled CTE chain, WITH-keyword included, up
#: through the final vocabulary state v{BPE_STEPS} — the named constant
#: every BPE oracle appends its own final SELECT to.
TRAIN_CTES = (
    """
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents
    ),
    v0 AS (
        SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq,
               """
    + SEP_SQL
    + " || regexp_replace(w, '(.)', '\\1' || "
    + SEP_SQL
    + """, 'g') AS s
        FROM toks WHERE regexp_matches(w, '^[a-z0-9]+$') GROUP BY w
    ),"""
    + ",".join(_sql_round(r) for r in range(BPE_STEPS))
    + "\n    "
)

TRAIN_ORACLE_SQL = (
    TRAIN_CTES
    + f"""SELECT CAST(step AS BIGINT) AS step, a AS lhs, b AS rhs,
           c AS pair_count
    FROM ({" UNION ALL ".join(f"SELECT * FROM b{r}" for r in range(BPE_STEPS))})
    """
)


def word_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The alphanumeric word vocabulary with \\x1f-delimited symbol
    strings — the trainer's v0 state."""
    toks = table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
    )
    return (
        toks.filter(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.col("w").alias("word"),
            "freq",
            F.concat(
                F.lit(SEP), F.regexp_replace("w", "(.)", "$1" + SEP)
            ).alias("s"),
        )
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent symbol-pair frequencies over the vocabulary, self pairs
    excluded (module docstring)."""
    with_syms = vocab.withColumn(
        "syms", F.expr(f"filter(split(s, {SEP_EXPR}), x -> x != '')")
    )
    return (
        with_syms.where(F.size("syms") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), i -> "
                    "struct(element_at(syms, i) AS a, "
                    "element_at(syms, i + 1) AS b))"
                )
            ).alias("pr"),
        )
        .where(F.col("pr.a") != F.col("pr.b"))
        .groupBy("pr.a", "pr.b")
        .agg(F.sum("freq").alias("c"))
    )


def train(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[tuple[int, str, str, int]]]:
    """Run the BPE_STEPS trainer loop once: returns (final vocabulary
    DataFrame, merge list [(step, lhs, rhs, pair_count)]).  One
    single-row argmax collect per round (the sanctioned iterative
    pattern).

    Only the BASE vocabulary is localCheckpointed (r17, guide §1.2):
    the per-round checkpoint each merge application used to pay was a
    full vocabulary materialization JOB per round — 6 extra jobs whose
    only benefit was a flat plan.  Merge application is a map-only
    string replace, so round r's argmax now replays the r accumulated
    replaces over the checkpointed base instead — O(M^2/2) replace
    passes across the whole training (M = BPE_STEPS = 6, each pass one
    in-codegen expression over a Heaps'-law-bounded vocab) against 6
    fewer materializations.  Measured 1.29 -> 1.04 s min at sf0.1;
    merge list and final vocabulary verified identical."""
    vocab = word_vocab(spark, sf_dir).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    for step in range(BPE_STEPS):
        best = (
            pair_counts(vocab)
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, c = best[0]["a"], best[0]["b"], best[0]["c"]
        merges.append((step, a, b, c))
        pat = F.lit(SEP + a + SEP + b + SEP)
        rep = F.lit(SEP + a + b + SEP)
        vocab = vocab.withColumn(
            "s", F.replace(F.replace(F.col("s"), pat, rep), pat, rep)
        )
    return vocab, merges


@register(
    "text_bpe_train",
    oracle=TRAIN_ORACLE_SQL,
    tags=("text", "iterative", "agg"),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge list: (step, lhs, rhs, pair_count) for
    BPE_STEPS rounds of most-frequent-adjacent-pair merging over the
    alphanumeric word vocabulary (count DESC, lhs, rhs tie-break; self
    pairs excluded — module docstring)."""
    _, merges = train(spark, sf_dir)
    return spark.createDataFrame(
        merges, "step long, lhs string, rhs string, pair_count long"
    )


_COMPRESSION_ORACLE_SQL = (
    TRAIN_CTES
    + f"""SELECT
        CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(freq) AS BIGINT) AS n_tokens,
        CAST(SUM(freq * length(word)) AS BIGINT) AS base_symbols,
        CAST(SUM(freq * len(list_filter(string_split(s, {SEP_SQL}),
                                        x -> x != ''))) AS BIGINT)
            AS merged_symbols,
        CAST(CAST((SUM(freq * length(word))
              - SUM(freq * len(list_filter(string_split(s, {SEP_SQL}),
                                           x -> x != '')))) * 1000
             AS BIGINT) // SUM(freq * length(word)) AS BIGINT) AS saved_pm
    FROM v{BPE_STEPS}
    """
)


@register(
    "text_bpe_compression",
    oracle=_COMPRESSION_ORACLE_SQL,
    tags=("text", "iterative", "agg"),
)
def text_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the learned merges BUY, measured on the training corpus:
    distinct words, corpus token occurrences, symbol count before any
    merge (= character count) and after BPE_STEPS merges, and the
    integer-permille symbol saving.  Runs the identical training loop
    and aggregates the FINAL vocabulary state — the oracle reuses the
    trainer's unrolled rounds and aggregates its last-round vocabulary
    CTE, so the applied merges (not just the chosen pairs) are
    hash-gated corpus-wide."""
    vocab, _ = train(spark, sf_dir)
    n_syms = F.size(F.expr(f"filter(split(s, {SEP_EXPR}), x -> x != '')"))
    return vocab.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("freq").alias("n_tokens"),
        F.sum(F.col("freq") * F.length("word")).alias("base_symbols"),
        F.sum(F.col("freq") * n_syms).alias("merged_symbols"),
        (
            (
                F.sum(F.col("freq") * F.length("word"))
                - F.sum(F.col("freq") * n_syms)
            )
            * 1000
        )
        .cast("long")
        .alias("_num"),
    ).select(
        "n_words",
        "n_tokens",
        "base_symbols",
        "merged_symbols",
        F.expr("_num div base_symbols").alias("saved_pm"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer APPLICATION (round 11) — the missing third of the
# tokenizer story: text_bpe_pair_stats profiles, text_bpe_train learns
# the merges, and this applies them corpus-wide — per document, how many
# alphanumeric word occurrences it has, its symbol count before any
# merge (character count) and after the BPE_STEPS trained merges.  This
# is the per-document token accounting a training-data pipeline runs to
# budget sequence lengths under the shipped tokenizer, and the
# document-granular refinement of text_bpe_compression's corpus total.
#
# No analog in the reference (SURVEY §2.1); text/tokenizer extension
# surface composing text_bpe_train's trained vocabulary.
#
# Key identity (what makes this ONE join, not a per-doc re-merge): BPE
# merges apply to WORDS in isolation, so a document's merged symbol
# count is the sum over its word OCCURRENCES of that word's final-vocab
# symbol count — the corpus-wide trained vocabulary (word -> symbols) is
# a lookup table.  Both engines run the identical trainer (the oracle
# reuses text_bpe_train's unrolled rounds verbatim) and then join
# documents' words against the final vocabulary state; words outside
# the trainer's [a-z0-9]+ filter are excluded from ALL counts on both
# sides (the trainer never saw them).
#
# Scale posture: the trainer's cost profile is text_bpe_train's
# (vocabulary-sized rounds); the application adds one documents scan ->
# per-(doc, word) count aggregate -> broadcast-able join against the
# Heaps'-law-bounded vocabulary -> per-doc sum.  No shuffle grows with
# merges.
# ---------------------------------------------------------------------------


_APPLY_SQL = (
    TRAIN_CTES
    + f""", dtoks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents
    ),
    dcounts AS (
        SELECT doc_id, w AS word, CAST(COUNT(*) AS BIGINT) AS n
        FROM dtoks WHERE regexp_matches(w, '^[a-z0-9]+$')
        GROUP BY doc_id, w
    )
    SELECT d.doc_id,
           CAST(SUM(d.n) AS BIGINT) AS n_words,
           CAST(SUM(d.n * length(d.word)) AS BIGINT) AS base_symbols,
           CAST(SUM(d.n * len(list_filter(string_split(v.s, {SEP_SQL}),
                                          x -> x != ''))) AS BIGINT)
               AS merged_symbols
    FROM dcounts d JOIN v{BPE_STEPS} v ON d.word = v.word
    GROUP BY d.doc_id
    """
)


@register(
    "text_bpe_tokenize",
    oracle=_APPLY_SQL,
    tags=("text", "iterative", "agg"),
)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_words, base_symbols, merged_symbols): per document,
    its alphanumeric word occurrences and exact symbol counts before /
    after applying the BPE_STEPS trained merges (trained corpus-wide by
    text_bpe_train's loop; documents with no alphanumeric words emit no
    row, matching the trainer's filter)."""
    # the trainer loop, verbatim (text_bpe_train.train)
    vocab, _ = train(spark, sf_dir)
    n_syms = F.size(F.expr(f"filter(split(s, {SEP_EXPR}), x -> x != '')"))
    lookup = vocab.select("word", n_syms.cast("long").alias("n_syms"))

    dcounts = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
        )
        .filter(F.col("word").rlike("^[a-z0-9]+$"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # the vocabulary is Heaps'-law bounded -> broadcast the lookup
    return (
        dcounts.join(F.broadcast(lookup), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_words"),
            F.sum(F.col("n") * F.length("word")).alias("base_symbols"),
            F.sum(F.col("n") * F.col("n_syms")).alias("merged_symbols"),
        )
    )


# ---------------------------------------------------------------------------
# Windowed term co-occurrence (round 11) — the corpus statistic under
# every classical embedding trainer (word2vec/GloVe build exactly this
# table first): for every unordered term pair within a +-COOC_WINDOW
# token window, the exact corpus-wide co-occurrence count; reported as
# the top COOC_TOPK pairs.  Next to text_term_frequencies (unigrams)
# and text_bigram_lm (adjacent pairs, directional) this completes the
# distributional-statistics ladder with the skip-window pair table.
#
# No analog in the reference (SURVEY §2.1); text extension surface.
#
# Pair generation is JOIN-FREE (the scale property that matters): for
# each offset d in 1..COOC_WINDOW, the token ARRAY pairs t[i] with
# t[i+d] via a JVM array transform — per document that is
# sum_d (len - d) pairs emitted map-side, no self-join on position, no
# shuffle before the count aggregate.  Pairs are canonicalized
# (least, greatest) so the table is symmetric-unordered; self-pairs
# (t[i] == t[i+d]) are kept — a repeated term co-occurring with itself
# is real signal (and text_repetition_stats' concern, not ours to drop).
#
# Scale posture: one documents scan -> map-side pair explosion (W x
# corpus tokens rows, W fixed) -> one map-side-combinable (a, b) count
# aggregate -> TakeOrderedAndProject top-k.  The count key space is
# vocabulary^2-bounded but Zipf-concentrated; a stop-cap like
# dedup_ngram_jaccard's would bound a hot term's row share at 100 TB.
# ---------------------------------------------------------------------------


COOC_WINDOW = 2
COOC_TOPK = 25

_PAIRS_SQL = f"""
    list_transform(
        flatten(list_transform(range(1, {COOC_WINDOW} + 1),
            d -> list_transform(range(1, len(t) - d + 1),
                 i -> [t[i], t[i + d]]))),
        p -> {{'a': least(p[1], p[2]), 'b': greatest(p[1], p[2])}})
"""


@register(
    "text_cooc_topk",
    oracle=f"""
        WITH toks AS (
            SELECT list_filter({H.sql_tokens('text')}, x -> x != '') AS t
            FROM documents
        ),
        pairs AS (
            SELECT unnest({_PAIRS_SQL}) AS pr FROM toks WHERE len(t) >= 2
        )
        SELECT pr['a'] AS a, pr['b'] AS b,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs
        GROUP BY a, b
        ORDER BY n DESC, a ASC, b ASC
        LIMIT {COOC_TOPK}
    """,
    tags=("text", "agg", "topk"),
)
def text_cooc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a, b, n): the COOC_TOPK most frequent unordered term pairs
    within a +-COOC_WINDOW token window, ties broken lexicographically;
    ORDERED (n DESC, a, b) like every deterministic top-k here."""
    toks = table(spark, sf_dir, "documents").select(
        F.expr(
            "filter("
            + "split(lower(trim(text)), '\\\\s+')"
            + ", x -> x != '')"
        ).alias("t")
    )
    pairs = (
        toks.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    # the size(t) > d guard matters: Spark's
                    # sequence(1, 0) DESCENDS ([1, 0]) where DuckDB's
                    # range(1, 1) is empty
                    f"""
                    transform(
                        flatten(transform(sequence(1, {COOC_WINDOW}),
                            d -> if(size(t) > d,
                                 transform(sequence(1, size(t) - d),
                                     i -> array(element_at(t, i),
                                                element_at(t, i + d))),
                                 array()))),
                        p -> struct(least(p[0], p[1]) AS a,
                                    greatest(p[0], p[1]) AS b))
                    """
                )
            ).alias("pr")
        )
        .select("pr.a", "pr.b")
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
        .limit(COOC_TOPK)
    )


# ---------------------------------------------------------------------------
# Text round-3 additions — sketch-based scale twins (see
# operators/events.py for the registration-order rationale; rows-only
# checks with error-bound tests against exact baselines).
# ---------------------------------------------------------------------------


HLL_RSD = 0.01  # HyperLogLog++ target relative standard deviation


# Rows-only by design (HLL++ estimates are engine-specific): verified
# through its oracle'd twin audit_vocab_error.
@register("text_vocab_approx", tags=("text", "agg"))
def text_vocab_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics with HyperLogLog++ distinct counts —
    the 100 TB twin of text_token_stats: exact COUNT(DISTINCT term) plans
    an Expand (one input row per distinct aggregate) plus a shuffle of
    every distinct (lang, term) pair, while HLL++ is a fixed-size (~
    kilobytes at rsd=0.01) mergeable register set per group — map-side
    partial agg, one shuffle of sketches, no expand.

    Rows-only by design: HLL register contents are engine-specific. The
    error contract (|approx - exact| / exact within a few rsd for both
    distinct columns) is asserted against text_token_stats in
    tests/test_extensions.py, and driver-hash-verified through the
    oracle'd audit twin `audit_vocab_error` (operators/audits.py)."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(H.tokens(F.col("text"))).alias("term")
    )
    return toks.groupBy("lang").agg(
        F.approx_count_distinct("doc_id", HLL_RSD).alias("n_docs_approx"),
        F.count(F.lit(1)).alias("total_tokens"),
        F.approx_count_distinct("term", HLL_RSD).alias("distinct_terms_approx"),
    )


# BM25 constants: k1/b are the standard defaults; the idf is the
# rational Robertson form WITHOUT the log so both engines compute it as
# a ratio of exact integers (the log is monotone, so ranking order is
# unchanged; the substitution is documented in the docstring).
_BM25_TERMS = ("spark", "join", "window")
_BM25_TERMS_SQL = "('spark', 'join', 'window')"


@register(
    "text_bm25_rank",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({H.sql_tokens('text')}) AS term
            FROM documents
        ), dl AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
            FROM toks GROUP BY doc_id
        ), corpus AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS BIGINT) AS total_tokens
            FROM dl
        ), tf AS (
            SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks WHERE term IN {_BM25_TERMS_SQL}
            GROUP BY term, doc_id
        ), dfreq AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY term
        )
        SELECT term, doc_id, tf, dl,
               (CAST(2*n_docs - 2*df + 1 AS DOUBLE)
                  / CAST(2*df + 1 AS DOUBLE))
               * ((CAST(tf AS DOUBLE) * 2.2)
                  / (CAST(tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
                         / (CAST(total_tokens AS DOUBLE)
                            / CAST(n_docs AS DOUBLE))))))
                   AS bm25_score
        FROM tf
        JOIN dl USING (doc_id)
        CROSS JOIN corpus
        JOIN dfreq USING (term)
    """,
    tags=("text", "join", "agg"),
)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed query-term set —
    the classic search-scoring operator over the documents table
    (k1=1.2, b=0.75). The idf uses the rational Robertson form
    (2N-2df+1)/(2df+1) INSTEAD of its logarithm: log differs in final
    ulps across math libraries, while the rational form is a ratio of
    exact integers — bit-identical cross-engine and monotone in the
    same direction, so ranking order is preserved.

    Every input to the score is an exact integer (tf, dl, df, N, token
    totals); the score expression is the same parenthesized tree on both
    engines, so fp64 evaluation is bit-identical.

    Plan: one explode feeds BOTH aggregates (per-doc length and
    term-filtered tf); the term filter cuts the tf shuffle to the query
    vocabulary; df and the one-row corpus stats broadcast back; the only
    full-corpus shuffle is the per-doc length agg (map-side combinable)."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(H.tokens(F.col("text"))).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
    )
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")
    idf = (2 * F.col("n_docs") - 2 * F.col("df") + 1).cast("double") / (
        2 * F.col("df") + 1
    ).cast("double")
    tf_d = F.col("tf").cast("double")
    score = idf * (
        (tf_d * F.lit(2.2))
        / (tf_d + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (F.col("dl").cast("double") / avgdl)))
    )
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(corpus))
        .join(F.broadcast(dfreq), "term")
        .select("term", "doc_id", "tf", "dl", score.alias("bm25_score"))
    )


# Per-language keep quotas in permille — the "data mixing" knob: a
# training corpus rarely takes every language at its natural rate.
_MIX_PERMILLE = {"en": 800, "de": 500, "fr": 250, "es": 125, "zh": 60}
_MIX_A, _MIX_B = 48_271, 11_213  # fixed affine-hash parameters, mod P


@register(
    "corpus_mix_sample",
    oracle=f"""
        WITH quota(lang, permille) AS (
            VALUES {", ".join(f"('{lang}', {pm})" for lang, pm in sorted(_MIX_PERMILLE.items()))}
        )
        SELECT doc_id, documents.lang AS lang, source, permille
        FROM documents
        JOIN quota ON documents.lang = quota.lang
        WHERE ({_MIX_A} * doc_id + {_MIX_B}) % {H.P} % 1000 < permille
    """,
    tags=("text", "sample"),
)
def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language quota downsampling — the corpus-mixing
    operator: each language keeps its configured permille of documents,
    selected by an affine hash of doc_id (NOT df.sample(): rng-based
    sampling is engine- and partitioning-dependent, while the hash
    condition is a pure row predicate — reproducible across engines,
    re-runs and repartitions, and stable under incremental ingest: a doc
    kept today is kept tomorrow).

    Plan: broadcast the 5-row quota table into one corpus scan; the keep
    predicate is a scan-side filter — no shuffle at all. At 100 TB the
    same predicate runs inside the scan of each partition and composes
    with partition pruning on lang-partitioned layouts."""
    quota = spark.createDataFrame(
        sorted(_MIX_PERMILLE.items()), "lang string, permille int"
    )
    keep = (
        (F.lit(_MIX_A) * F.col("doc_id") + F.lit(_MIX_B)) % F.lit(H.P) % 1000
        < F.col("permille")
    )
    return (
        table(spark, sf_dir, "documents")
        .join(F.broadcast(quota), "lang")
        .filter(keep)
        .select("doc_id", "lang", "source", "permille")
    )


# --- count-min sketch (r6) --------------------------------------------------
# Unlike HLL/GK, a count-min sketch is FULLY deterministic given its hash
# parameters — so this sketch operator gets an EXACT cross-engine oracle
# (DuckDB re-derives the same D x W counter table from the same rolling
# hash and the same affine bucket functions) instead of a bound check.
CMS_W = 1024  # buckets per row
CMS_D = 4  # hash rows; est = min over rows
# fixed literals (reusing the first 4 seeded MinHash permutation pairs —
# any fixed, engine-portable (a, b) family works; documented reuse)
_CMS_PARAMS = tuple(zip(H.MINHASH_A[:CMS_D], H.MINHASH_B[:CMS_D]))
# probe vocabulary: fixed terms whose frequencies the query estimates
_CMS_PROBE = tuple(sorted(set(STOPWORDS) | set(_BM25_TERMS)))


def _py_word_hash(word: str) -> int:
    """Driver-side twin of hashing.word_hash (probe terms are ASCII, so
    ord == ascii)."""
    h = 0
    for ch in word:
        h = (h * 31 + ord(ch)) % H.P
    return h


_CMS_PARAMS_SQL = ", ".join(
    f"({j}, {a}, {b})" for j, (a, b) in enumerate(_CMS_PARAMS)
)
_CMS_PROBE_SQL = ", ".join(f"('{t}')" for t in _CMS_PROBE)


@register(
    "text_heavy_hitters_cms",
    oracle=f"""
        WITH toks AS (
            SELECT unnest({H.sql_tokens('text')}) AS term FROM documents
        ),
        th AS (SELECT term, {H.sql_word_hash('term')} AS h FROM toks),
        params(j, a, b) AS (VALUES {_CMS_PARAMS_SQL}),
        cms AS (
            SELECT p.j, ((p.a * th.h + p.b) % {H.P}) % {CMS_W} AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM th CROSS JOIN params p GROUP BY 1, 2
        ),
        probe(term) AS (VALUES {_CMS_PROBE_SQL}),
        ph AS (SELECT term, {H.sql_word_hash('term')} AS h FROM probe),
        pb AS (
            SELECT term, p.j,
                   ((p.a * ph.h + p.b) % {H.P}) % {CMS_W} AS bucket
            FROM ph CROSS JOIN params p
        ),
        est AS (
            SELECT term, CAST(MIN(COALESCE(c, 0)) AS BIGINT) AS est_count
            FROM pb LEFT JOIN cms USING (j, bucket) GROUP BY term
        ),
        exact AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_count
            FROM toks GROUP BY term
        )
        SELECT p.term AS term, est.est_count,
               COALESCE(exact.exact_count, 0) AS exact_count
        FROM probe p
        JOIN est ON est.term = p.term
        LEFT JOIN exact ON exact.term = p.term
    """,
    tags=("text", "agg", "sketch"),
)
def text_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch term-frequency estimation over the token stream,
    probed at a fixed vocabulary, with the exact counts alongside:
    (term, est_count, exact_count), est >= exact always (CMS
    one-sided error).

    The 100 TB story: the sketch is a FIXED-SIZE (D x W counters,
    ~4k rows here) mergeable summary of an unbounded token stream —
    one map-side-combinable groupBy on (row, bucket) regardless of
    corpus size, then O(|probe| x D) lookups; the exact twin's
    per-term shuffle exists at audit scale only. Streaming ingest
    aggregates the same (j, bucket) keys incrementally.

    Determinism: bucket functions are affine maps of the base-31
    rolling word hash with fixed literal coefficients — bit-identical
    in DuckDB, so this SKETCH query is hash-verified exactly, not
    bound-checked (contrast text_vocab_approx, whose HLL registers are
    engine-internal)."""
    toks = table(spark, sf_dir, "documents").select(
        F.explode(H.tokens(F.col("text"))).alias("term")
    )
    th = toks.select("term", H.word_hash(F.col("term")).alias("h"))
    buckets = F.array(
        *[
            (F.lit(a) * F.col("h") + F.lit(b)) % F.lit(H.P) % F.lit(CMS_W)
            for a, b in _CMS_PARAMS
        ]
    )
    cms = (
        th.select(F.posexplode(buckets).alias("j", "bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probe_rows = [
        (t, j, (a * _py_word_hash(t) + b) % H.P % CMS_W)
        for t in _CMS_PROBE
        for j, (a, b) in enumerate(_CMS_PARAMS)
    ]
    probe = spark.createDataFrame(probe_rows, "term string, j int, bucket long")
    est = (
        probe.join(F.broadcast(cms), ["j", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0).cast("long"))).alias("est_count"))
    )
    exact = (
        toks.filter(F.col("term").isin(*_CMS_PROBE))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    probe_terms = spark.createDataFrame(
        [(t,) for t in _CMS_PROBE], "term string"
    )
    # r18 (guide §3.1, the plan audit's SMJ-order flag): est and exact
    # are both <= |_CMS_PROBE| rows by construction (the fixed probe
    # vocabulary), but they come out of join/filter+agg chains with no
    # stats, so the planner sort-merge-joined the probe spine against
    # them. Broadcast is bounded by the probe list itself.
    return (
        probe_terms.join(F.broadcast(est), "term")
        .join(F.broadcast(exact), "term", "left")
        .select(
            "term",
            "est_count",
            F.coalesce(F.col("exact_count"), F.lit(0).cast("long")).alias(
                "exact_count"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Classifier-evaluation card for the language-ID heuristic (round 10)
# — the confusion matrix the corpus-governance loop reads before trusting
# a cheap classifier to route 100 TB: per (true_lang, pred_lang) cell,
# document count, the true class's total, and the row-normalized share
# (recall on the diagonal, the leak destination off it).  The predictor
# is the SAME expression tree as text_lang_id (functions/langid_core.py),
# so this card evaluates exactly the classifier the pipeline runs —
# model evaluation as a first-class relational operator.
#
# No analog in the reference (SURVEY §2.1); text/dq extension surface.
#
# Determinism: BIGINT cell counts; the single IEEE division per cell
# divides identical integers in both engines.
#
# Scale posture: one pruned scan -> per-row predict (no shuffle) -> one
# (true, pred) hash aggregate (at most |langs|^2 cells survive); class
# totals re-aggregate the CELLS frame (cells-sized, never the corpus)
# and broadcast back onto it.
# ---------------------------------------------------------------------------


_CONF_SQL = f"""
    WITH pred AS ({LANG_PRED_SQL}),
    cells AS (
        SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY true_lang, pred_lang
    ),
    tot AS (
        SELECT true_lang, CAST(SUM(n_docs) AS BIGINT) AS true_total
        FROM cells GROUP BY true_lang
    )
    SELECT c.true_lang, c.pred_lang, c.n_docs, t.true_total,
           CAST(c.n_docs AS DOUBLE) / CAST(t.true_total AS DOUBLE)
               AS row_share
    FROM cells c JOIN tot t ON c.true_lang = t.true_lang
"""


@register(
    "text_lang_confusion",
    oracle=_CONF_SQL,
    tags=("text", "dq", "agg"),
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(true_lang, pred_lang, n_docs, true_total, row_share) — the
    language-ID confusion matrix over the labeled corpus: the diagonal
    share is per-class recall, off-diagonal cells say where a class
    leaks.  Occupied cells only; totals aggregate the cells frame."""
    docs = table(spark, sf_dir, "documents").select(
        F.col("lang").alias("true_lang"),
        pred_lang(H.tokens(F.col("text"))).alias("pred_lang"),
    )
    # the cells frame feeds both the matrix and the class totals —
    # pinned per the caching contract so the corpus is scanned ONCE
    cells = pin(
        docs.groupBy("true_lang", "pred_lang").agg(
            F.count(F.lit(1)).alias("n_docs")
        )
    )
    tot = cells.groupBy("true_lang").agg(
        F.sum("n_docs").alias("true_total")
    )
    return cells.join(F.broadcast(tot), "true_lang").select(
        "true_lang",
        "pred_lang",
        "n_docs",
        "true_total",
        (F.col("n_docs").cast("double") / F.col("true_total").cast("double")).alias(
            "row_share"
        ),
    )


# ---------------------------------------------------------------------------
# Corpus bigram language-model statistics (round 8) — the n-gram LM
# counting step: for the corpus' most frequent word bigrams, the joint
# count and the conditional probability P(w2 | w1). Together with
# text_bpe_pair_stats (character level) this completes the tokenizer/LM
# estimation surface: BPE counts feed vocabulary training, bigram
# conditionals feed the classic LM-quality and domain-shift diagnostics
# ("is this slice natural language or keyword spam").
#
# No analog in the reference (SURVEY §2.1); text-analysis extension
# surface alongside text_term_frequencies / text_repetition_stats.
#
# Scale posture: one documents scan; bigrams come from one JVM-side
# slide over the token array (transform over a sequence — no Python, no
# self-join); both the bigram and the unigram-departure aggregates are
# map-side combinable on vocabulary-bounded key spaces, and the
# departure totals roll up FROM THE BIGRAM FRAME (arrays_zip of the
# token slide), so no second scan. The final rank sorts a top-k-bounded
# frame. Conditional probability is a single fp64 division of two exact
# BIGINTs — hash-identical in both engines.
#
# Word order inside documents matters (unlike bag-of-words queries), and
# both engines split the same lowercased whitespace stream, so the
# bigram multiset is engine-independent by construction.
# ---------------------------------------------------------------------------


TOP_BIGRAMS = 20


@register(
    "text_bigram_lm",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {H.sql_tokens('text')} AS t FROM documents
        ),
        bi AS (
            SELECT unnest(list_transform(range(1, len(t)),
                          i -> t[CAST(i AS INT)])) AS w1,
                   unnest(list_transform(range(1, len(t)),
                          i -> t[CAST(i AS INT) + 1])) AS w2
            FROM toks WHERE len(t) >= 2
        ),
        pairs AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair
            FROM bi GROUP BY w1, w2
        ),
        dep AS (
            SELECT w1, n_pair,
                   CAST(SUM(n_pair) OVER (PARTITION BY w1) AS BIGINT)
                       AS n_w1,
                   w2
            FROM pairs
        ),
        ranked AS (
            SELECT w1, w2, n_pair, n_w1,
                   CAST(n_pair AS DOUBLE) / n_w1 AS p_cond,
                   CAST(ROW_NUMBER() OVER (ORDER BY n_pair DESC, w1, w2)
                        AS BIGINT) AS rnk
            FROM dep
        )
        SELECT w1, w2, n_pair, n_w1, p_cond, rnk
        FROM ranked WHERE rnk <= {TOP_BIGRAMS}
    """,
    tags=("text", "agg", "topk"),
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K (K = TOP_BIGRAMS) word bigrams by corpus count, with the
    departure total n_w1 (count of bigrams starting with w1) and the
    conditional probability p_cond = n_pair / n_w1; rank totals order
    by (count DESC, w1, w2) so ties never reorder between engines."""
    toks = table(spark, sf_dir, "documents").select(
        H.tokens(F.col("text")).alias("t")
    )
    # one JVM-side slide: bigram i = (t[i], t[i+1]) — element_at is
    # 1-based, sequence runs 1..len-1
    bi = (
        toks.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.element_at("t", i).alias("w1"),
                        F.element_at("t", i + 1).alias("w2"),
                    ),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    pairs = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    dep = Window.partitionBy("w1")
    scored = pairs.select(
        "w1",
        "w2",
        "n_pair",
        F.sum("n_pair").over(dep).alias("n_w1"),
    ).withColumn("p_cond", F.col("n_pair").cast("double") / F.col("n_w1"))
    # Top-k via orderBy+limit -> TakeOrderedAndProject: each partition
    # keeps its local top TOP_BIGRAMS and the driver merges k*p rows.
    # An unpartitioned row_number window here would sort the ENTIRE
    # distinct-bigram vocabulary (billions of rows at corpus scale) on
    # one partition — the r8 verdict's scale-killer.  The ordering
    # (n_pair DESC, w1, w2) is total because (w1, w2) is the grouping
    # key, so the limit is deterministic and the rank assigned over the
    # TOP_BIGRAMS-row result is identical to the global row_number.
    top = scored.orderBy(
        F.desc("n_pair"), F.asc("w1"), F.asc("w2")
    ).limit(TOP_BIGRAMS)
    rnk = F.row_number().over(
        # bounded frame: exactly TOP_BIGRAMS rows reach this window
        # (the limit above is in its subtree — what the repo-wide plan
        # guard in tests/test_plans.py checks)
        Window.orderBy(F.desc("n_pair"), F.asc("w1"), F.asc("w2"))
    )
    return top.select(
        "w1", "w2", "n_pair", "n_w1", "p_cond", rnk.cast("long").alias("rnk")
    )


# ---------------------------------------------------------------------------
# Template-prefix duplicate detection (round 8) — documents that share
# their OPENING: boilerplate headers, form letters, scraped templates
# ("dear customer, ..."). Full-document dedup misses these when bodies
# diverge; containment catches doc-inside-doc but not shared openings
# on otherwise-different documents. Grouping on the first-K-token hash
# prefix is the standard cheap template detector that runs before any
# pairwise machinery.
#
# No analog in the reference (SURVEY §2.1); text/dedup extension surface
# next to dedup_containment / text_dup_span_coverage.
#
# Scale posture: ONE scan, a per-row prefix projection (slice of the
# token-hash array — JVM-side, no explode), and a hash-aggregate whose
# key is the joined prefix string: map-side combine collapses each
# partition's template copies before the exchange, exactly like
# dedup_exact, and only groups with >= 2 docs survive to the
# template-count-sized output. No pairs are ever generated.
#
# Determinism discipline: the prefix key is the comma-joined rolling
# word hashes (functions/hashing.py — bit-identical cross-engine); all
# outputs are exact counts / MIN ids.
# ---------------------------------------------------------------------------


PREFIX_TOKENS = 8  # shared-opening length that counts as a template


@register(
    "text_template_prefix",
    oracle=f"""
        WITH pre AS (
            SELECT doc_id,
                   array_to_string(
                       list_slice({H.sql_word_hashes(H.sql_tokens('text'))},
                                  1, {PREFIX_TOKENS}), ',') AS prefix_key,
                   len({H.sql_tokens('text')}) AS n_toks
            FROM documents
            WHERE len({H.sql_tokens('text')}) >= {PREFIX_TOKENS}
        )
        SELECT prefix_key,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(doc_id) AS BIGINT) AS keep_id
        FROM pre GROUP BY prefix_key
        HAVING COUNT(*) >= 2
    """,
    tags=("text", "dedup", "agg"),
)
def text_template_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template clusters: groups of documents sharing their first
    PREFIX_TOKENS word hashes — per cluster the doc count and the
    lowest doc_id (the canonical copy a keep-one policy retains).
    Documents shorter than the prefix are excluded (a short doc is not
    a template of a longer one — that is containment's job)."""
    toks = H.tokens(F.col("text"))
    pre = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            ",", F.slice(H.word_hashes(toks), 1, PREFIX_TOKENS)
        ).alias("prefix_key"),
        F.size(toks).alias("n_toks"),
    ).where(F.col("n_toks") >= PREFIX_TOKENS)
    return (
        pre.groupBy("prefix_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# Quality-threshold retention curve (round 12) — the corpus-planning
# view of text_quality_score, exactly what dedup_threshold_curve is to
# the near-dup family: for every possible quality cutoff (the score is a
# sum of integer DECIPOINTS — 0, 3, 4, 6, 7, 10 are the reachable
# values; the curve sweeps all 0..10), how many documents, tokens and
# characters survive `quality >= t/10`, as counts and integer permille.
# A corpus builder reads this to pick the cutoff that meets a token
# budget before running the filter.
#
# Shares the quality DEFINITION with text_quality_score through
# fragments.QUALITY_BASE_SQL / QUALITY_DECI_SQL — one rule family, so
# the curve can never drift from the registered score (the sampler
# threshold precedent, corpus.py).
#
# No analog in the reference (SURVEY §2.1); text extension surface.
#
# Scale posture: one documents scan -> per-doc integer decipoints (the
# same expression tree as the score query) -> an 11-row threshold
# cross-join (broadcast literal range) -> a |thresholds|-keyed map-side
# aggregate.  The cross-join multiplies per-DOC rows by 11, never
# tokens; an equivalent single-pass form aggregates by deci value and
# prefix-sums 11 rows — kept as the cross-join because Catalyst folds
# the tiny range and the shuffle is 11 keys either way.
# ---------------------------------------------------------------------------


_QCURVE_ORACLE_SQL = f"""
    WITH {QUALITY_BASE_SQL},
    scored AS (
        SELECT doc_id, n_chars_obs, n_tokens,
               {QUALITY_DECI_SQL} AS deci
        FROM base
    ),
    totals AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS t_tokens,
               CAST(SUM(n_chars_obs) AS BIGINT) AS t_chars
        FROM scored
    )
    SELECT t.threshold_deci,
           CAST(COUNT(*) FILTER (s.deci >= t.threshold_deci) AS BIGINT)
               AS docs_kept,
           CAST(COALESCE(SUM(s.n_tokens)
                    FILTER (s.deci >= t.threshold_deci), 0) AS BIGINT)
               AS tokens_kept,
           CAST(COALESCE(SUM(s.n_chars_obs)
                    FILTER (s.deci >= t.threshold_deci), 0) AS BIGINT)
               AS chars_kept,
           CAST(COALESCE(SUM(s.n_tokens)
                    FILTER (s.deci >= t.threshold_deci), 0) * 1000
                // MAX(tt.t_tokens) AS BIGINT) AS tokens_kept_pm
    FROM scored s
    CROSS JOIN (SELECT CAST(unnest(range(0, 11)) AS BIGINT)
                    AS threshold_deci) t
    CROSS JOIN totals tt
    GROUP BY t.threshold_deci
"""


@register(
    "text_quality_threshold_curve",
    oracle=_QCURVE_ORACLE_SQL,
    tags=("text", "agg"),
)
def text_quality_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(threshold_deci, docs_kept, tokens_kept, chars_kept,
    tokens_kept_pm) for thresholds 0..10 decipoints — monotone
    non-increasing in the threshold (unit test), threshold 0 retains
    everything."""
    # the shared base counts + decipoint rule (ADVICE r12 / r13: these
    # were literal copies next to QUALITY_BASE_SQL/QUALITY_DECI_SQL and
    # text_quality_score — now every consumer builds from fragments)
    from bigbugdata_spark.functions.fragments import (
        quality_base_frame,
        quality_deci_col,
    )

    base = quality_base_frame(spark, sf_dir)
    deci = quality_deci_col()
    scored = base.select(
        deci.cast("long").alias("deci"), "n_tokens", "n_chars_obs"
    )
    thresholds = spark.range(0, 11).select(
        F.col("id").cast("long").alias("threshold_deci")
    )
    total_tokens = scored.agg(
        F.sum("n_tokens").cast("long").alias("t_tokens")
    )
    kept = F.col("deci") >= F.col("threshold_deci")
    return (
        scored.join(F.broadcast(thresholds), F.lit(True))
        .join(F.broadcast(total_tokens), F.lit(True))
        .groupBy("threshold_deci")
        .agg(
            F.count(F.when(kept, 1)).cast("long").alias("docs_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("n_tokens"))), F.lit(0))
            .cast("long")
            .alias("tokens_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("n_chars_obs"))), F.lit(0))
            .cast("long")
            .alias("chars_kept"),
            F.expr(
                "coalesce(sum(CASE WHEN deci >= threshold_deci THEN n_tokens END), 0)"
                " * 1000 div max(t_tokens)"
            )
            .cast("long")
            .alias("tokens_kept_pm"),
        )
    )


# ---------------------------------------------------------------------------
# text_rare_token_ratio — the rare-token share per document.
#
# No analog in the reference (SURVEY §2.1 — its only string op is
# taxName.strip(), ref bigbugdata.py:295-297); LLM-pipeline extension
# surface like the rest of the text family.
# ---------------------------------------------------------------------------


RARE_DF = 2  # a token is "rare" if <= this many documents contain it


@register(
    "text_rare_token_ratio",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({H.sql_word_hashes(H.sql_tokens('text'))}) AS h
            FROM documents
        ),
        dfreq AS (
            SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM toks GROUP BY h
        ),
        tot AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
            FROM toks GROUP BY doc_id
        ),
        rare AS (
            SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_rare
            FROM toks t JOIN dfreq d USING (h)
            WHERE d.n_docs <= {RARE_DF}
            GROUP BY t.doc_id
        )
        SELECT tot.doc_id, n_tokens,
               COALESCE(n_rare, 0) AS n_rare,
               CAST(COALESCE(n_rare, 0) AS DOUBLE) / n_tokens AS rare_ratio
        FROM tot LEFT JOIN rare ON tot.doc_id = rare.doc_id
    """,
    tags=("text", "agg", "join"),
)
def text_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality signal (round 7): per document, the
    fraction of token OCCURRENCES whose corpus document-frequency is at
    or below RARE_DF — high rare-token ratios flag OCR garbage, random
    identifiers, or boilerplate-free noise that per-document heuristics
    (text_quality_score) cannot see, because the signal depends on the
    WHOLE corpus. This is the new query shape of the family: a per-row
    score conditioned on a global statistic.

    Plan: one exploded token frame feeds (a) the document-frequency
    aggregate (map-side combinable, vocabulary-sized result), (b) the
    per-doc totals, and (c) the rare-semi-join recount — all keyed
    shuffles on the token hash or doc_id, never a cross join; the df
    table is vocabulary-sized, so at 100 TB the rare filter is the
    standard inverted-index join this repo's dedup family already
    scale-proves. Docs with zero tokens drop out on both engines
    (explode/unnest of an empty array), so the ratio never divides by
    zero. Integer counts cross-check exactly; the ratio is one exact
    int division in fp64."""
    toks = pin(
        table(spark, sf_dir, "documents").select(
            "doc_id",
            F.explode(H.word_hashes(H.tokens(F.col("text")))).alias("h"),
        )
    )
    dfreq = toks.distinct().groupBy("h").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    rare = dfreq.filter(F.col("n_docs") <= RARE_DF).select("h")
    tot = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    rare_cnt = (
        toks.join(rare, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_rare"))
    )
    return tot.join(rare_cnt, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_rare"), F.lit(0)).alias("n_rare"),
        (
            F.coalesce(F.col("n_rare"), F.lit(0)).cast("double")
            / F.col("n_tokens")
        ).alias("rare_ratio"),
    )


# ---------------------------------------------------------------------------
# Sentence-level corpus statistics (round 12) — the quality signal
# between the character/token level (text_token_stats, quality score)
# and the document level: sentences per document and sentence-length
# shape per language.  Long-sentence and one-sentence-document rates are
# standard pretraining-corpus filters (boilerplate and run-on detection)
# that none of the existing text queries expose.
#
# Sentence segmentation is DEFINED (engine-portable, not linguistic):
# sentences are the non-empty trimmed segments of `text` split on one or
# more of [.!?] — the same class of deterministic approximation as the
# whitespace tokenizer.  All reported ratios are integer permille.
#
# No analog in the reference (SURVEY §2.1); text extension surface.
#
# Scale posture: one documents scan -> per-doc sentence array (map-side
# regexp) -> explode for the length stats with a per-doc pre-aggregate
# first, so the shuffle carries per-(doc) rows, not per-sentence rows;
# the final rollup is |lang|-keyed and map-side combinable.
# ---------------------------------------------------------------------------


#: a sentence longer than this many characters counts as run-on
LONG_SENT_CHARS = 200

_SENT_ORACLE_SQL = f"""
    WITH per_doc AS (
        SELECT lang,
               len(sents) AS n_sents,
               COALESCE(list_sum(list_transform(sents, s -> length(s))), 0)
                   AS sent_chars,
               COALESCE(list_sum(list_transform(
                   sents, s -> CASE WHEN length(s) > {LONG_SENT_CHARS}
                               THEN 1 ELSE 0 END)), 0) AS n_long
        FROM (
            SELECT lang,
                   list_filter(
                       list_transform(string_split_regex(text, '[.!?]+'),
                                      s -> trim(s)),
                       s -> s != '') AS sents
            FROM documents
        )
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_sents) AS BIGINT) AS n_sentences,
           CAST(SUM(sent_chars) AS BIGINT) AS sentence_chars,
           CAST(SUM(CASE WHEN n_sents = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS one_sentence_docs,
           CAST(SUM(n_long) AS BIGINT) AS long_sentences,
           CAST(SUM(n_long) * 1000 // GREATEST(SUM(n_sents), 1) AS BIGINT)
               AS long_sent_pm
    FROM per_doc GROUP BY lang
"""


@register(
    "text_sentence_stats",
    oracle=_SENT_ORACLE_SQL,
    tags=("text", "agg"),
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_docs, n_sentences, sentence_chars, one_sentence_docs,
    long_sentences, long_sent_pm): per-language sentence segmentation
    stats under the defined [.!?]+ splitter; ratios integer permille."""
    docs = table(spark, sf_dir, "documents").select(
        "lang",
        F.expr(
            "filter(transform(split(text, '[.!?]+'), s -> trim(s)),"
            " s -> s != '')"
        ).alias("sents"),
    )
    per_doc = docs.select(
        "lang",
        F.size("sents").alias("n_sents"),
        F.coalesce(
            F.expr("aggregate(sents, 0, (acc, s) -> acc + length(s))"),
            F.lit(0),
        ).alias("sent_chars"),
        F.coalesce(
            F.expr(
                f"aggregate(sents, 0, (acc, s) -> acc + "
                f"CASE WHEN length(s) > {LONG_SENT_CHARS} THEN 1 ELSE 0 END)"
            ),
            F.lit(0),
        ).alias("n_long"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_sents").cast("long").alias("n_sentences"),
        F.sum("sent_chars").cast("long").alias("sentence_chars"),
        F.sum(F.when(F.col("n_sents") == 1, 1).otherwise(0))
        .cast("long")
        .alias("one_sentence_docs"),
        F.sum("n_long").cast("long").alias("long_sentences"),
        F.expr("sum(n_long) * 1000 div greatest(sum(n_sents), 1)")
        .cast("long")
        .alias("long_sent_pm"),
    )


# ---------------------------------------------------------------------------
# Term frequency-of-frequencies spectrum (round 10) — the Good-Turing
# table: how many distinct terms occur exactly k times in the corpus.
# This is the lexical-health card tokenizer and LM work actually reads
# (N1/N ~= the unseen-mass estimate, hapax share flags OCR/boilerplate
# noise, a bent spectrum flags template spam) and the direct input to
# Good-Turing smoothing; text_token_stats gives totals, the spectrum
# gives the SHAPE.
#
# No analog in the reference (SURVEY §2.1); text extension surface next
# to text_bigram_lm (whose smoothing would consume exactly this table).
#
# Determinism: two exact integer groupBys; the tail coarsens into a
# single k > SPECTRUM_MAX bucket keyed by -1 so the output stays
# card-sized with no fixture-dependent row count.
#
# Scale posture: the classic two-stage "frequency of frequencies" —
# term counts are one map-side-combinable groupBy over exploded tokens
# (the shuffle spreads over the vocabulary), the spectrum is a second
# groupBy over the VOCABULARY-sized frame, output <= SPECTRUM_MAX + 1
# rows.  At 100 TB stage two's input is Heaps'-law bounded.
# ---------------------------------------------------------------------------


SPECTRUM_MAX = 20  # exact spectrum rows for k = 1..20; k > 20 pools at -1

_SPECTRUM_SQL = f"""
    WITH toks AS (
        SELECT unnest({H.sql_tokens('text')}) AS term FROM documents
    ),
    tf AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS f
        FROM toks WHERE term != '' GROUP BY term
    )
    SELECT CASE WHEN f <= {SPECTRUM_MAX} THEN f ELSE -1 END AS k,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(f) AS BIGINT) AS n_tokens
    FROM tf GROUP BY k
"""


@register(
    "text_freq_spectrum",
    oracle=_SPECTRUM_SQL,
    tags=("text", "agg"),
)
def text_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, n_terms, n_tokens): how many distinct terms occur exactly k
    times and how many token occurrences they carry, k = 1..SPECTRUM_MAX
    exact and the heavier tail pooled at k = -1 — the Good-Turing
    frequency-of-frequencies table."""
    toks = table(spark, sf_dir, "documents").select(
        F.explode(H.tokens(F.col("text"))).alias("term")
    )
    tf = (
        toks.filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    k = F.when(F.col("f") <= SPECTRUM_MAX, F.col("f")).otherwise(
        F.lit(-1)
    )
    return (
        tf.groupBy(k.alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("f").cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Per-document TF-IDF keyword extraction (round 11) — the classic
# "what is this document about" signal the text family lacked:
# text_term_frequencies ranks terms per LANGUAGE and text_bm25_rank
# scores documents for a QUERY; this ranks each document's OWN terms by
# tf x rarity, the standard keyword/topic-tag extractor a curation or
# retrieval pipeline runs corpus-wide.
#
# No analog in the reference (SURVEY §2.1); text extension surface.
#
# Scoring is EXACT INTEGER (the repo's cross-engine discipline): the
# idf weight is folded as score = (tf * 1_000_000) div df — monotone in
# the tf/df ratio (the log in textbook idf is monotone too, so top-k
# membership under ln(N/df) vs N/df can differ only through tf
# interactions; this variant IS the documented scoring, applied
# identically in both engines — no fp log whose last-ulp could diverge).
# Ties break (score DESC, term ASC).
#
# Scale posture: one documents scan -> explode tokens -> two hash aggs
# ((doc, term) tf and term df — both map-side combinable) -> broadcast
# the term-df table back onto the per-doc counts (df table is
# vocabulary-sized) -> one per-doc top-k window over that doc's DISTINCT
# terms (doc-vocabulary-sized partitions, never corpus-wide).
# ---------------------------------------------------------------------------


TOP_TERMS = 5
_SCALE = 1_000_000


@register(
    "text_tfidf_topk",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({H.sql_tokens('text')}) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks WHERE term != '' GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM toks WHERE term != '' GROUP BY term
        ),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, df.df,
                   CAST(tf.tf * {_SCALE} // df.df AS BIGINT) AS score,
                   ROW_NUMBER() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf * {_SCALE} // df.df DESC, tf.term ASC
                   ) AS rnk
            FROM tf JOIN df ON tf.term = df.term
        )
        SELECT doc_id, term, tf, df, score, CAST(rnk AS BIGINT) AS rnk
        FROM scored WHERE rnk <= {TOP_TERMS}
    """,
    tags=("text", "window", "agg"),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, tf, df, score, rnk): each document's TOP_TERMS
    terms by exact-integer tf-idf score (tf * 1e6 div document
    frequency), ties to the lexicographically smaller term."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(H.tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.expr(f"tf * {_SCALE} div df").alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_TERMS)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


# ---------------------------------------------------------------------------
# Cross-document overlap diagnostics (round 6) — the two duplication
# signals the dedup/text families did not yet cover as first-class
# registered queries:
#
# * per-document duplicated-span COVERAGE (`text_dup_span_coverage`) —
#   how much of each document is made of long n-grams that also occur in
#   other documents.  `text_dup_ngrams` reports the gram side of this
#   (which grams recur corpus-wide); this query maps that duplication
#   back onto documents, which is the number the RefinedWeb/FineWeb-style
#   pipelines actually threshold when deciding to drop or trim a
#   document.
# * asymmetric CONTAINMENT pairs (`dedup_containment`) — |A ∩ B| /
#   min(|A|, |B|) over shingle sets.  Jaccard (`dedup_ngram_jaccard`)
#   is symmetric and misses the short-document-embedded-in-long-document
#   case: a 100-gram doc fully contained in a 10 000-gram doc has
#   J ≈ 0.01 but containment 1.0.  Quote pages, concatenated dumps and
#   wrapper boilerplate around a copied article are exactly this shape.
#
# No analog in the reference (a batch CSV tool, SURVEY §2.1); both are
# LLM-pipeline extension surface over the driver's ``documents`` table,
# with exact DuckDB oracle twins built from the same cross-engine hash
# primitives as the dedup/text families (functions/hashing.py —
# bit-identical by construction).
# ---------------------------------------------------------------------------


# Span-coverage gram length: 8 words, the decontamination-grade length —
# long enough that a cross-document repeat means copied text, not phrase
# coincidence (same constant family as text_dup_ngrams / _DECON_N).
_SPAN_N = 8

# Containment shingle length: word 3-grams, the same granularity as the
# Jaccard family so the two measures are directly comparable pair-wise.
_CONT_N = 3

# Containment threshold, applied as an integer cross-multiplication
# (10*c >= 9*min) so no floating-point comparison enters the oracle.
_CONT_NUM, _CONT_DEN = 9, 10


@register(
    "text_dup_span_coverage",
    oracle=f"""
        WITH grams AS (
            SELECT doc_id, unnest(g) AS gram_hash FROM (
                SELECT doc_id,
                       {H.sql_shingle_hashes(H.sql_word_hashes(H.sql_tokens('text')), n=_SPAN_N, distinct=False)} AS g
                FROM documents
            )
        ),
        hot AS (
            SELECT gram_hash FROM grams
            GROUP BY gram_hash HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        totals AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
            FROM grams GROUP BY doc_id
        ),
        dups AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_dup_grams,
                   CAST(COUNT(DISTINCT gram_hash) AS BIGINT) AS n_distinct_dup_grams
            FROM grams JOIN hot USING (gram_hash)
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(t.n_grams, 0) AS n_grams,
               COALESCE(p.n_dup_grams, 0) AS n_dup_grams,
               COALESCE(p.n_distinct_dup_grams, 0) AS n_distinct_dup_grams
        FROM documents d
        LEFT JOIN totals t ON d.doc_id = t.doc_id
        LEFT JOIN dups p ON d.doc_id = p.doc_id
    """,
    tags=("text", "dedup", "agg", "headline"),
)
def text_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage — for every document, how
    many of its word-8-gram positions carry a gram that also occurs in
    at least one OTHER document, next to the document's total gram
    count.  n_dup_grams / n_grams is the fraction of the document made
    of corpus-duplicated text — the signal the trim-or-drop decision in
    a pre-training cleanup pass thresholds (raw integers are returned
    so the threshold stays policy, and so the cross-engine comparison
    is exact).  Documents shorter than 8 tokens have no grams and
    report zeros — kept, so the result covers the whole corpus.

    Distinct from text_dup_ngrams (the gram-side census: which grams
    recur, used to seed stop-gram caps): this is the document-side
    projection of the same duplication relation.  Within-document
    repeats do NOT count — the hot set requires >= 2 distinct doc_ids,
    so a chorus repeated inside one song is text_repetition_stats'
    business, not this query's.

    Plan: one explode; the hot-gram set is a hash-agg on the gram key
    (count-distinct over doc_id with map-side partials); mapping it
    back is an equi-join on the gram hash — grams joined against a
    corpus-fraction-sized key set, shuffle-partitioned on the same key
    the agg just used.  Per-doc roll-up + one broadcast-able left join
    to restore zero-gram docs.  No pair expansion anywhere: cost is
    O(total grams), not O(pairs) — this runs where Jaccard would blow
    up, which is the point of running it first at 100 TB."""
    docs = table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(
            H.shingle_hashes(
                H.word_hashes(H.tokens(F.col("text"))),
                n=_SPAN_N,
                distinct=False,
            )
        ).alias("gram_hash"),
    )
    # r17 restructure (guide §2.4): pin the per-(doc, gram) occurrence
    # counts, partitioned by the gram hash, instead of the raw exploded
    # gram stream. One row per (doc, gram) means the per-gram distinct
    # document count is a plain COUNT over the gram's partition — an
    # in-partition window, no hot-set join, no countDistinct Expand —
    # and both roll-ups shuffle per-(doc, gram) rows, not raw gram
    # positions. The repartition BEFORE the aggregate puts the single
    # full-size exchange into the cache build: the cached frame keeps
    # hashpartitioning(gram_hash), so the window needs no exchange at
    # all, and the doc_id roll-ups exchange only post-partial-agg rows.
    # (Old shape: 5 gram-scale exchange passes behind the cache —
    # measured 0.61 -> 0.50 s min at sf0.1, result symdiff 0.)
    pg = pin(
        grams.repartition("gram_hash")
        .groupBy("doc_id", "gram_hash")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy("gram_hash"))
    totals = pg.groupBy("doc_id").agg(F.sum("cnt").alias("n_grams"))
    dups = (
        pg.withColumn("nd", nd)
        .filter(F.col("nd") >= 2)
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_dup_grams"),
            F.count(F.lit(1)).alias("n_distinct_dup_grams"),
        )
    )
    return (
        docs.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(dups, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.coalesce("n_distinct_dup_grams", F.lit(0)).alias(
                "n_distinct_dup_grams"
            ),
        )
    )


@register(
    "dedup_containment",
    oracle=f"""
        WITH grams AS (
            SELECT doc_id, unnest(g) AS g FROM (
                SELECT doc_id,
                       {H.sql_shingle_hashes(H.sql_word_hashes(H.sql_tokens('text')), n=_CONT_N, distinct=True)} AS g
                FROM documents
            )
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
            FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY d1, d2
        )
        SELECT d1, d2,
               CAST(c AS BIGINT) AS n_shared,
               CAST(s1.sz AS BIGINT) AS sz1,
               CAST(s2.sz AS BIGINT) AS sz2
        FROM common
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2
        WHERE {_CONT_DEN}*c >= {_CONT_NUM}*LEAST(s1.sz, s2.sz)
    """,
    tags=("dedup", "join"),
)
def dedup_containment(
    spark: SparkSession, sf_dir: str, max_gram_df: int | None = None
) -> DataFrame:
    """Asymmetric containment pairs: document pairs where the smaller
    shingle set is >= 90% contained in the overlap, i.e.
    |A ∩ B| / min(|A|, |B|) >= 0.9 over distinct word-3-gram sets.
    Catches the doc-inside-doc duplication Jaccard is structurally
    blind to (a short article embedded in a long concatenated page has
    J ~ |A|/|B| -> 0 but containment 1.0).  The threshold is applied as
    an integer cross-multiplication and the raw set sizes are returned,
    so both engines compare exact BIGINTs end-to-end.

    Plan: the dedup_ngram_jaccard skeleton — explode distinct shingles,
    inverted-index self-equi-join on the shingle hash (never an
    all-pairs crossJoin), per-pair overlap count, then two id-equi
    joins against the per-doc size aggregate.  `max_gram_df` is the
    same stop-gram skew valve (drop grams whose document frequency
    exceeds the cap from both join sides; sizes stay pre-cap, so
    reported containment only ever UNDER-estimates — the conservative
    direction).  The registered form is cap-free and oracle-exact; the
    hot-gram bound is proven on a synthetic corpus by
    tests/test_extensions.py for the shared skeleton."""
    docs = table(spark, sf_dir, "documents")
    grams = pin(
        docs.select(
            "doc_id",
            F.explode(
                H.shingle_hashes(
                    H.word_hashes(H.tokens(F.col("text"))),
                    n=_CONT_N,
                    distinct=True,
                )
            ).alias("g"),
        )
    )
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    joinable = grams
    if max_gram_df is not None:
        keep = (
            grams.groupBy("g")
            .agg(F.count(F.lit(1)).alias("gram_df"))
            .filter(F.col("gram_df") <= max_gram_df)
            .select("g")
        )
        joinable = grams.join(keep, "g")
    # shuffle_hash: same rationale (and measured class) as
    # dedup_ngram_jaccard — the join's sort order is discarded by the
    # (d1, d2) regroup, so the SMJ sorts are pure overhead
    a, b = joinable.hint("shuffle_hash").alias("a"), joinable.alias("b")
    common = (
        a.join(
            b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    return (
        common.join(s1, "d1")
        .join(s2, "d2")
        .filter(
            F.lit(_CONT_DEN) * F.col("c")
            >= F.lit(_CONT_NUM) * F.least("sz1", "sz2")
        )
        .select(
            "d1",
            "d2",
            F.col("c").alias("n_shared"),
            "sz1",
            "sz2",
        )
    )


# ---------------------------------------------------------------------------
# Sequence-packing accounting (round 6) — the planning pass behind
# LLM training-batch assembly: documents are concatenated in a stable
# order and split into fixed token-budget sequences ("packs"), and the
# query reports, per pack, how many documents it touches and how many
# arrive split across a pack boundary. Those are the numbers a data
# engineer tunes the budget against (boundary splits truncate context;
# the last pack's fill measures padding waste). No analog in the
# reference (SURVEY §2.1 — no token concept at all).
#
# Model: the GPT-style concat-and-split discipline — token stream =
# documents in doc_id order, pack k owns token offsets
# [k*BUDGET, (k+1)*BUDGET). Document-atomic first-fit needs a
# sequential reset-on-overflow accumulator (not window-expressible and
# not parallel); concat-and-split is what large pipelines actually run
# BECAUSE it is a pure prefix-sum — embarrassingly parallel and
# deterministic under ingest growth within a bucket.
#
# Scale posture: documents are first salted into independent PACKING
# BUCKETS by an affine doc_id hash (distinct parameters from the
# mix/split hashes), so the cumulative sum — the only order-dependent
# step — runs per bucket: each bucket is one window partition, and the
# bucket count is the parallelism knob (at 100 TB, thousands of buckets
# => thousands of independent prefix sums; the cross-bucket layout costs
# nothing because packs never span buckets). One explode maps documents
# onto the packs they overlap (fan-out = packs per doc, bounded by
# doc_len/BUDGET + 1), then one bounded aggregate per (bucket, pack).
# ---------------------------------------------------------------------------


PACK_BUDGET = 512  # tokens per training sequence
N_BUCKETS = 8  # independent packing streams (the parallelism knob)
_PACK_A, _PACK_B = 75_193, 40_009  # bucket hash (distinct from mix/split)


@register(
    "corpus_pack_accounting",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   ({_PACK_A} * doc_id + {_PACK_B}) % {H.P} % {N_BUCKETS}
                       AS bucket,
                   CAST(len({H.sql_tokens('text')}) AS BIGINT) AS n
            FROM documents
        ),
        offs AS (
            SELECT doc_id, bucket, n,
                   CAST(SUM(n) OVER (
                       PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - n AS BIGINT) AS start_off
            FROM toks
        ),
        spans AS (
            SELECT bucket, doc_id, n, start_off,
                   unnest(range(start_off // {PACK_BUDGET},
                                (start_off + n - 1) // {PACK_BUDGET} + 1))
                       AS pack_id
            FROM offs WHERE n > 0
        )
        SELECT bucket, CAST(pack_id AS BIGINT) AS pack_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN start_off < pack_id * {PACK_BUDGET}
                               OR start_off + n > (pack_id + 1) * {PACK_BUDGET}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
               CAST(SUM(LEAST(start_off + n, (pack_id + 1) * {PACK_BUDGET})
                      - GREATEST(start_off, pack_id * {PACK_BUDGET}))
                    AS BIGINT) AS n_tokens
        FROM spans
        GROUP BY bucket, pack_id
    """,
    tags=("corpus", "window", "agg"),
)
def corpus_pack_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (bucket, pack): documents touched, documents split across a
    pack boundary, and the pack's token count (== BUDGET except each
    bucket's final pack, whose fill is the padding-waste signal).
    Integers end-to-end — token counts, prefix sums, interval clips —
    so the oracle comparison is exact.

    Plan: one scan computes token counts; ONE window prefix-sum per
    bucket (the deliberate partitioning: doc_id order within an
    affine-hash bucket, so the sequential dependency never exceeds a
    bucket); sequence+explode maps each document onto the packs its
    token interval overlaps; one map-side-combinable aggregate on the
    bounded (bucket, pack) key space."""
    bucket = (F.lit(_PACK_A) * F.col("doc_id") + F.lit(_PACK_B)) % F.lit(H.P) % F.lit(
        N_BUCKETS
    )
    toks = table(spark, sf_dir, "documents").select(
        "doc_id",
        bucket.alias("bucket"),
        F.size(H.tokens(F.col("text"))).cast("long").alias("n"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = toks.withColumn("start_off", F.sum("n").over(w) - F.col("n"))
    spans = offs.filter(F.col("n") > 0).select(
        "bucket",
        "doc_id",
        "n",
        "start_off",
        F.explode(
            F.sequence(
                F.floor(F.col("start_off") / PACK_BUDGET),
                F.floor((F.col("start_off") + F.col("n") - 1) / PACK_BUDGET),
            )
        ).alias("pack_id"),
    )
    lo = F.col("pack_id") * PACK_BUDGET
    hi = (F.col("pack_id") + 1) * PACK_BUDGET
    split = (F.col("start_off") < lo) | (F.col("start_off") + F.col("n") > hi)
    return (
        spans.groupBy("bucket", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(split.cast("long")).alias("n_split_docs"),
            F.sum(
                F.least(F.col("start_off") + F.col("n"), hi)
                - F.greatest(F.col("start_off"), lo)
            ).alias("n_tokens"),
        )
    )
