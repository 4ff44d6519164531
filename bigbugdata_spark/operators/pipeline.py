"""The composed training-data pipeline — the engine's operators chained
the way a real corpus build uses them (quality gate -> near-dup cluster
keep -> chunking -> corpus accounting), registered as ONE oracle-checked
query. This is the integration proof: each family is correct alone (its
own CORRECTNESS entry) and they compose without re-materialization —
everything below is a single lazy plan except the cluster fixpoint loop.

Stage map (all reusing the registered operators' logic):
  1. quality gate   — text_quality_score >= 0.7;
  2. dedup          — keep only cluster representatives from
                      dedup_cluster_keep (min-label CC over verified
                      near-dup pairs);
  3. chunking       — text_chunk's 32/24 sliding windows over survivors;
  4. accounting     — per-language kept-doc/chunk/token totals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    JACCARD_PAIRS_SQL as _JACCARD_PAIRS_SQL,
    STOPWORDS as _STOPWORDS,
    quality_base_frame,
    quality_deci_col,
    sql_list as _sql_list,
)
from bigbugdata_spark.operators.dedup import cc_node_labels, dedup_ngram_jaccard
from bigbugdata_spark.registry import register

_QUALITY_T = 0.7

_QUALITY_SQL = f"""
    SELECT doc_id,
           (CASE WHEN len({H.sql_tokens('text')}) BETWEEN 10 AND 1000 THEN 0.4 ELSE 0.0 END
            + CASE WHEN CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
                        / length(text) < 0.1 THEN 0.3 ELSE 0.0 END
            + CASE WHEN CAST(len(list_filter({H.sql_tokens('text')},
                        t -> list_contains({_sql_list(_STOPWORDS)}, t))) AS DOUBLE)
                        / len({H.sql_tokens('text')}) >= 0.01 THEN 0.3 ELSE 0.0 END
           ) AS quality
    FROM documents
"""


@register(
    "pipe_training_corpus",
    oracle=f"""
        WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
        edges AS (
            SELECT d1 AS a, d2 AS b FROM pairs
            UNION SELECT d2 AS a, d1 AS b FROM pairs
        ),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        rep AS (
            SELECT doc_id,
                   LEAST(doc_id, COALESCE(MIN(r.b), doc_id)) AS cluster_rep
            FROM documents LEFT JOIN reach r ON doc_id = r.a
            GROUP BY doc_id
        ),
        q AS ({_QUALITY_SQL}),
        kept AS (
            SELECT d.doc_id, d.lang, {H.sql_tokens('d.text')} AS t
            FROM documents d
            JOIN q ON d.doc_id = q.doc_id
            JOIN rep ON d.doc_id = rep.doc_id
            WHERE q.quality >= {_QUALITY_T} AND rep.cluster_rep = d.doc_id
        ),
        chunks AS (
            SELECT doc_id, lang,
                   CAST(len(t[s+1 : s+{CHUNK_SIZE}]) AS BIGINT) AS n_tokens
            FROM kept, unnest(range(0, len(t), {CHUNK_STRIDE})) AS u(s)
        )
        SELECT lang,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_kept,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM chunks GROUP BY lang
    """,
    tags=("pipeline", "headline"),
)
def pipe_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate -> cluster-keep -> chunk -> per-language accounting,
    as one composed plan. Shuffle budget: the quality gate is scan-local;
    the dedup rep set is the CC fixpoint (bounded rounds over the tiny
    pair graph); the final join chain broadcasts the survivor keys into
    one documents scan, and the chunk explosion feeds a single lang agg.

    r17 restructure (guide §2.4): the quality gate is now literally
    scan-local — the score expression evaluates inline on the documents
    scan (quality_base_frame(with_text=True) + quality_deci_col, the same
    shared definition text_quality_score selects) instead of joining a
    second documents-derived frame back on doc_id; and the dedup keep
    becomes a broadcast ANTI-join against the DROP set (cluster members
    with a smaller component id, bounded by the pair graph) instead of a
    semi-join against the rep set — which is corpus-sized at scale (most
    documents are unique), and whose unknown-stats RDD side planned a
    SortMergeJoin that shuffled every surviving document. kept-set
    equality: keep==1 <=> NOT IN drops, since every document appears in
    dedup_cluster_keep's output exactly once with keep in {0,1}."""
    quality = quality_deci_col().cast("double") / F.lit(10.0)
    gated = (
        quality_base_frame(spark, sf_dir, with_text=True)
        .select("doc_id", "lang", "text", quality.alias("quality"))
        .filter(F.col("quality") >= _QUALITY_T)
    )
    drops = (
        cc_node_labels(dedup_ngram_jaccard(spark, sf_dir))
        .filter(F.col("cluster_rep") < F.col("doc_id"))
        .select("doc_id")
    )
    kept = gated.join(F.broadcast(drops), "doc_id", "left_anti").select(
        "doc_id", "lang", H.tokens(F.col("text")).alias("t")
    )
    chunks = kept.select(
        "doc_id",
        "lang",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.size("t") - 1, F.lit(CHUNK_STRIDE))
        ).alias("s"),
    ).select(
        "doc_id",
        "lang",
        F.size(F.slice(F.col("t"), F.col("s") + 1, CHUNK_SIZE))
        .cast("long")
        .alias("n_tokens"),
    )
    return chunks.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs_kept"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("total_tokens"),
    )
