"""text_rare_token_ratio — the rare-token share per document.

No analog in the reference (SURVEY §2.1 — its only string op is
taxName.strip(), ref bigbugdata.py:295-297); LLM-pipeline extension
surface like the rest of the text family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.caching import pin
from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.registry import register

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
