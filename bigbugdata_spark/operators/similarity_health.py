"""kNN graph health card (round 11) — the per-rank diagnostic a vector
platform runs before trusting any consumer of the graph: for each rank
position 1..KNN_K, how many edges exist (nodes with sparse probed cells
emit fewer), the mean neighbor cosine in exact integer ppm, and how
many of that rank's edges are RECIPROCATED (the destination also names
the source in its own top-K).  Falling mean-cos by rank is the healthy
shape; a flat profile near zero is the encoder-collapse alarm from the
OTHER side of the pipeline than sim_semantic_clusters' purity view, and
a low reciprocity fraction at rank 1 is the classic hubness smell
(sim_triangle_stats' companion signal, summarized to K rows instead of
per-node).

No analog in the reference (SURVEY §2.1); similarity/graph extension
surface consuming the shared spine (operators/similarity_graph_core.py)
— this card costs K aggregate rows once the edge list exists.

Determinism: per-edge cos_sim is the shared left-to-right fp64 dot
(identical expression trees both engines), so ROUND(cos_sim * 1e6) is
the identical BIGINT on both sides and every output column is an exact
integer aggregate — no cross-engine fp summation anywhere.

Scale posture: one edge-list scan + one self-equi-join on the reversed
(src, dst) key (edge-list-sized, never pairs) + a K-row aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.operators.similarity_knn import KNN_SQL as _KNN_SQL
from bigbugdata_spark.registry import register

_HEALTH_SQL = f"""
    WITH knn AS MATERIALIZED ({_KNN_SQL}),
    recip AS (
        SELECT k1.rnk,
               CAST(COUNT(*) AS BIGINT) AS n_recip
        FROM knn k1
        JOIN knn k2 ON k1.src = k2.dst AND k1.dst = k2.src
        GROUP BY k1.rnk
    ),
    per_rank AS (
        SELECT rnk,
               CAST(COUNT(*) AS BIGINT) AS n_edges,
               CAST(SUM(CAST(ROUND(cos_sim * 1000000) AS BIGINT)) AS BIGINT)
                   AS sum_cos_ppm
        FROM knn GROUP BY rnk
    )
    SELECT p.rnk,
           p.n_edges,
           CAST(p.sum_cos_ppm // p.n_edges AS BIGINT) AS mean_cos_ppm,
           CAST(COALESCE(r.n_recip, 0) AS BIGINT) AS n_reciprocal
    FROM per_rank p LEFT JOIN recip r ON p.rnk = r.rnk
"""


@register(
    "sim_knn_health",
    oracle=_HEALTH_SQL,
    tags=("similarity", "graph", "agg"),
    index_writer=True,
)
def sim_knn_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rnk, n_edges, mean_cos_ppm, n_reciprocal) for rank 1..KNN_K:
    edge count, exact integer-ppm mean cosine, and reciprocated-edge
    count per rank position of the shared kNN graph."""
    from bigbugdata_spark.operators.similarity_graph_core import knn_edges

    knn = knn_edges(spark, sf_dir)
    rev = knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = (
        knn.join(rev, ["src", "dst"])
        .groupBy("rnk")
        .agg(F.count(F.lit(1)).alias("n_recip"))
    )
    per_rank = knn.groupBy("rnk").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.round(F.col("cos_sim") * 1_000_000).cast("long")).alias(
            "sum_cos_ppm"
        ),
    )
    # r18 (guide §3.1, the plan audit's SMJ-order flag): both sides are
    # <= KNN_K rows by construction, but recip comes out of a join+agg
    # chain with no stats so the planner sort-merge-joined them.
    # Broadcast is bounded by the rank domain itself.
    return per_rank.join(F.broadcast(recip), "rnk", "left").select(
        "rnk",
        "n_edges",
        F.expr("sum_cos_ppm div n_edges").alias("mean_cos_ppm"),
        F.coalesce("n_recip", F.lit(0)).cast("long").alias("n_reciprocal"),
    )
