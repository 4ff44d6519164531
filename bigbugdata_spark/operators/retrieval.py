"""Hybrid retrieval (round 6) — the RAG-serving query shape: fuse a
SEMANTIC candidate list (embedding cosine top-k, sim_cosine_topk's
exact plan) with a LEXICAL one (shared word-3-gram counts, the
inverted-index skeleton) by reciprocal-rank fusion. Neither signal
alone is sufficient — embeddings miss exact-term matches (IDs, names,
code), lexical overlap misses paraphrase — and RRF is the standard
training-free fusion: score = Σ 1/(k + rank) over the lists that
contain the candidate.

Everything the fusion consumes is an exact INTEGER rank (both ranking
windows carry total-order tiebreaks), so the fp RRF scores are
deterministic functions of the data, identical in both engines, and
the query holds a full hash-exact DuckDB oracle like the rest of the
similarity family. No analog in the reference (SURVEY §2.1 — no vector
or retrieval surface at all).

Scale posture: the semantic side is the broadcast-queries x one-corpus-
scan exact plan (or swaps to the IVF/PQ candidates at corpus scale —
same (query_id, doc_id, rank) contract); the lexical side is a keyed
equi-join on the gram hash (query grams are a broadcast-sized set:
N_QUERIES documents), one count aggregate, one per-query top-k window.
Fusion joins two top-k-bounded lists — k x |queries| rows, corpus-size
independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigbugdata_spark.caching import pin
from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import (
    EMB_DIM as _DIM,
    N_QUERIES,
    TOP_K,
)
from bigbugdata_spark.operators.similarity import sim_cosine_topk
from bigbugdata_spark.registry import register

RRF_K = 60  # the standard reciprocal-rank-fusion damping constant

_COS_AB = (
    f"{H.sql_dot('a.embedding', 'b.embedding', _DIM)}"
    f" / ({H.sql_norm('a.embedding', _DIM)} * {H.sql_norm('b.embedding', _DIM)})"
)

_HYBRID_SQL = f"""
    WITH grams AS (
        SELECT doc_id, unnest(g) AS g FROM (
            SELECT doc_id,
                   {H.sql_shingle_hashes(H.sql_word_hashes(H.sql_tokens('text')), n=3, distinct=True)} AS g
            FROM documents
        )
    ),
    qg AS (
        SELECT doc_id AS query_id, g FROM grams WHERE doc_id < {N_QUERIES}
    ),
    shared AS (
        SELECT q.query_id, c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM qg q JOIN grams c USING (g)
        WHERE c.doc_id <> q.query_id
        GROUP BY q.query_id, c.doc_id
    ),
    lex AS (
        SELECT query_id, doc_id, CAST(rl AS INT) AS rnk_lex FROM (
            SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY n_shared DESC, doc_id ASC) AS rl
            FROM shared
        ) WHERE rl <= {TOP_K}
    ),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS doc_id, {_COS_AB} AS cos_sim
        FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
        WHERE a.vec_id < {N_QUERIES}
    ),
    sem AS (
        SELECT query_id, doc_id, CAST(rc AS INT) AS rnk_cos FROM (
            SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, doc_id ASC) AS rc
            FROM scored
        ) WHERE rc <= {TOP_K}
    ),
    fused AS (
        SELECT query_id, doc_id, s.rnk_cos, l.rnk_lex,
               COALESCE(1.0 / ({RRF_K} + s.rnk_cos), 0.0)
             + COALESCE(1.0 / ({RRF_K} + l.rnk_lex), 0.0) AS rrf_score
        FROM sem s FULL JOIN lex l USING (query_id, doc_id)
    )
    SELECT query_id, doc_id, rnk_cos, rnk_lex, rrf_score,
           CAST(rn AS INT) AS rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY rrf_score DESC, doc_id ASC) AS rn
        FROM fused
    ) WHERE rn <= {TOP_K}
"""


@register(
    "rag_hybrid_retrieval",
    oracle=_HYBRID_SQL,
    tags=("similarity", "text", "join", "window"),
)
def rag_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per query document (vec_id/doc_id < N_QUERIES — the similarity
    family's standing query set): the fused top-k (k = TOP_K) candidates by
    reciprocal-rank fusion of the exact cosine ranking and the
    shared-3-gram lexical ranking, with both source ranks exposed
    (NULL where a list didn't surface the candidate). Determinism
    discipline: ranks are integers under total-order tiebreaks
    (score DESC, doc_id ASC), the RRF score is a fixed-order sum of two
    exact-integer-derived fp64 terms, and the final ordering tiebreaks
    on doc_id — so the whole pipeline hash-matches the SQL oracle."""
    docs = table(spark, sf_dir, "documents")
    grams = pin(
        docs.select(
            "doc_id",
            F.explode(
                H.shingle_hashes(H.word_hashes(H.tokens(F.col("text"))), n=3)
            ).alias("g"),
        )
    )
    qg = grams.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "g"
    )
    shared = (
        qg.join(grams, "g")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.desc("n_shared"), F.asc("doc_id")
    )
    lex = (
        shared.withColumn("rl", F.row_number().over(wl))
        .filter(F.col("rl") <= TOP_K)
        .select("query_id", "doc_id", F.col("rl").cast("int").alias("rnk_lex"))
    )

    sem = sim_cosine_topk(spark, sf_dir).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rnk").alias("rnk_cos"),
    )
    fused = sem.join(lex, ["query_id", "doc_id"], "full").select(
        "query_id",
        "doc_id",
        "rnk_cos",
        "rnk_lex",
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rnk_cos")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rnk_lex")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "doc_id",
            "rnk_cos",
            "rnk_lex",
            "rrf_score",
            F.col("rn").cast("int").alias("rnk"),
        )
    )
