"""Versioned-corpus accounting + quality-weighted sampling.  The shared
quality definition comes from functions/fragments.py (QUALITY_SQL).

No analog in the reference (SURVEY §2.1); corpus-governance extension
surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions.fragments import QUALITY_SQL as _QUALITY_SQL
from bigbugdata_spark.operators.text import text_quality_score
from bigbugdata_spark.registry import register


@register(
    "corpus_version_diff",
    oracle="""
        SELECT CAST(0 AS INT) AS version, lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents WHERE lang = 'en' GROUP BY lang
        UNION ALL
        SELECT CAST(1 AS INT), lang,
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(n_chars) AS BIGINT)
        FROM documents GROUP BY lang
    """,
    tags=("corpus", "storage", "agg"),
    side_effects=True,
)
def corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version accounting through the MANIFEST-VERSIONED table
    (round 7 — puts sources/versioned.py under the driver's hash gate,
    not just layout tests): commit v0 = the English slice, commit v1
    appending every other language, then TIME-TRAVEL READ both versions
    and report per-(version, lang) document/char totals — the dataset
    card a governed pipeline publishes per corpus release ("v1 added
    2.1M German docs"). Both reads go through read_versioned's pinned
    file lists, so a wrong manifest (lost commit, leaked file, torn
    read) shifts the counts and fails the hash compare.

    Scale: commits are file-count-sized manifest writes; the accounting
    is one map-side-combinable aggregate per version read. Scratch tree
    is deleted after an eager checkpoint, as in the SCD2 twin. (Design
    note, VERDICT r7: this registered query is deliberately
    O(corpus-write) — it exists to put the storage layer under the hash
    gate; production reads hit an existing lake and pay only the
    aggregate.)"""
    import shutil
    import tempfile

    from bigbugdata_spark.sources.versioned import (
        read_versioned,
        write_versioned,
    )

    base = tempfile.mkdtemp(prefix="bigbugdata-vdiff-")
    try:
        path = f"{base}/corpus"
        docs = table(spark, sf_dir, "documents")
        v0 = write_versioned(docs.filter(F.col("lang") == "en"), path)
        v1 = write_versioned(docs.filter(F.col("lang") != "en"), path)
        snap = read_versioned(spark, path, v0).select(
            F.lit(0).cast("int").alias("version"), "lang", "n_chars"
        ).unionByName(
            read_versioned(spark, path, v1).select(
                F.lit(1).cast("int").alias("version"), "lang", "n_chars"
            )
        )
        out = snap.groupBy("version", "lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


# quality-weighted sampling draw (fresh affine constants — must not
# correlate with the split/mix/seed/incremental-batch hashes)
_QW_A, _QW_B, _QW_P = 76_543, 911, 1_000_000_007
_QW_DRAW_SQL = f"((doc_id * {_QW_A} + {_QW_B}) % {_QW_P}) % 1000"


@register(
    "corpus_quality_weighted_sample",
    oracle=f"""
        WITH q AS ({_QUALITY_SQL})
        SELECT doc_id,
               CAST(ROUND(quality * 1000) AS BIGINT) AS q_milli,
               CAST({_QW_DRAW_SQL} AS BIGINT) AS draw
        FROM q
        WHERE {_QW_DRAW_SQL} < ROUND(quality * 1000)
    """,
    tags=("corpus", "text", "filter"),
)
def corpus_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted downsampling — the non-uniform cousin of
    corpus_mix_sample: each document's acceptance PROBABILITY is its
    quality score (text_quality_score's 0..1 rule sum), realized by a
    deterministic affine-hash draw in [0, 1000) against the score in
    milli-units. High-quality docs survive at ~their score rate,
    zero-quality docs never — the standard quality-proportional
    retention a pretraining mix applies, but ingest-stable and
    reproducible (re-running the pipeline keeps exactly the same
    documents; no RNG, no sampling drift between runs).

    Determinism discipline: the draw is pure integer arithmetic on
    doc_id; the threshold ROUND(quality*1000) is computed from the
    SHARED quality expression (fragments.QUALITY_SQL /
    text_quality_score), so both engines compare identical integers —
    fp quality sums like 0.4+0.3 round identically because the
    expression tree is identical. Plan: per-row expressions only, no
    shuffle; the filter composes with the scan's column pruning."""
    q = text_quality_score(spark, sf_dir)
    draw = (F.col("doc_id") * _QW_A + _QW_B) % _QW_P % 1000
    thresh = F.round(F.col("quality") * 1000)
    return (
        q.select(
            "doc_id",
            thresh.cast("long").alias("q_milli"),
            draw.cast("long").alias("draw"),
        )
        .filter(F.col("draw") < F.col("q_milli"))
    )
