"""BPE tokenizer APPLICATION (round 11) — the missing third of the
tokenizer story: text_bpe_pair_stats profiles, text_bpe_train learns
the merges, and this applies them corpus-wide — per document, how many
alphanumeric word occurrences it has, its symbol count before any
merge (character count) and after the BPE_STEPS trained merges.  This
is the per-document token accounting a training-data pipeline runs to
budget sequence lengths under the shipped tokenizer, and the
document-granular refinement of text_bpe_compression's corpus total.

No analog in the reference (SURVEY §2.1); text/tokenizer extension
surface composing text_bpe_train's trained vocabulary.

Key identity (what makes this ONE join, not a per-doc re-merge): BPE
merges apply to WORDS in isolation, so a document's merged symbol
count is the sum over its word OCCURRENCES of that word's final-vocab
symbol count — the corpus-wide trained vocabulary (word -> symbols) is
a lookup table.  Both engines run the identical trainer (the oracle
reuses text_bpe_train's unrolled rounds verbatim) and then join
documents' words against the final vocabulary state; words outside
the trainer's [a-z0-9]+ filter are excluded from ALL counts on both
sides (the trainer never saw them).

Scale posture: the trainer's cost profile is text_bpe_train's
(vocabulary-sized rounds); the application adds one documents scan ->
per-(doc, word) count aggregate -> broadcast-able join against the
Heaps'-law-bounded vocabulary -> per-doc sum.  No shuffle grows with
merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.operators.text_bpe_train import (
    BPE_STEPS,
    SEP_EXPR as _SEP_EXPR,
    SEP_SQL as _SEP_SQL,
    TRAIN_CTES as _TRAIN_CTES,
    train as _train,
)
from bigbugdata_spark.registry import register

_APPLY_SQL = (
    _TRAIN_CTES
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
           CAST(SUM(d.n * len(list_filter(string_split(v.s, {_SEP_SQL}),
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
    vocab, _ = _train(spark, sf_dir)
    n_syms = F.size(F.expr(f"filter(split(s, {_SEP_EXPR}), x -> x != '')"))
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
