"""Embedding-isolation outlier card (round 11) — the curation pass
that drops (or triages) vectors far from EVERYTHING: per vector, how
many kNN edges it emitted, its exact integer-ppm mean neighbor cosine,
and an isolated flag for vectors whose neighborhood agreement falls
below ISOLATION_T_PPM (or who could not fill their K at all).  Low
kNN-mean-similarity is the standard embedding-space outlier signal —
mislabeled points, encoder failures, out-of-distribution content —
and the per-node refinement of sim_knn_health's per-rank aggregate
view.  Costs one edge-list aggregate once the shared spine exists.

No analog in the reference (SURVEY §2.1); similarity extension surface
consuming operators/similarity_graph_core.py.

Determinism: per-edge cos_sim is the shared left-to-right fp64 dot
(identical expression trees both engines), so ROUND(cos*1e6) is the
identical BIGINT both sides and the mean is an exact integer floor
division; embeddings with no candidates (empty probed cells) appear
with k_found = 0, NULL mean, isolated = 1.

Scale posture: one edge-list scan -> src-keyed aggregate (map-side
combinable) -> one nodes-sized left join; output is corpus-sized but
three skinny integers + a flag.

Threshold: ISOLATION_T_PPM = 260000 sits at this corpus' ~5th
percentile of kNN mean cosine at BOTH fixture scales (measured
228k-393k range), so both branches are live in every gate run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.operators.similarity_knn import (
    KNN_K,
    KNN_SQL as _KNN_SQL,
)
from bigbugdata_spark.registry import register

ISOLATION_T_PPM = 260_000

_OUTLIER_SQL = f"""
    WITH knn AS MATERIALIZED ({_KNN_SQL}),
    per AS (
        SELECT src,
               CAST(COUNT(*) AS BIGINT) AS k_found,
               CAST(CAST(SUM(CAST(ROUND(cos_sim * 1000000) AS BIGINT))
                    AS BIGINT) // COUNT(*) AS BIGINT) AS mean_cos_ppm
        FROM knn GROUP BY src
    )
    SELECT e.vec_id,
           CAST(COALESCE(p.k_found, 0) AS BIGINT) AS k_found,
           p.mean_cos_ppm,
           CAST(p.mean_cos_ppm IS NULL
                OR p.k_found < {KNN_K}
                OR p.mean_cos_ppm < {ISOLATION_T_PPM} AS INT) AS isolated
    FROM embeddings e LEFT JOIN per p ON e.vec_id = p.src
"""


@register(
    "sim_knn_outliers",
    oracle=_OUTLIER_SQL,
    tags=("similarity", "graph", "dq", "agg"),
    index_writer=True,
)
def sim_knn_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, k_found, mean_cos_ppm, isolated): every vector's kNN
    edge count and exact integer-ppm mean neighbor cosine; isolated = 1
    when the neighborhood is underfilled (k_found < KNN_K) or its mean
    agreement falls below ISOLATION_T_PPM."""
    from bigbugdata_spark.operators.similarity_graph_core import knn_edges

    per = (
        knn_edges(spark, sf_dir)
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("k_found"),
            F.expr(
                "sum(cast(round(cos_sim * 1000000) as bigint)) div count(1)"
            ).alias("mean_cos_ppm"),
        )
    )
    emb = table(spark, sf_dir, "embeddings").select("vec_id")
    return emb.join(per, emb.vec_id == per.src, "left").select(
        "vec_id",
        F.coalesce("k_found", F.lit(0)).cast("long").alias("k_found"),
        "mean_cos_ppm",
        (
            F.col("mean_cos_ppm").isNull()
            | (F.col("k_found") < KNN_K)
            | (F.col("mean_cos_ppm") < ISOLATION_T_PPM)
        )
        .cast("int")
        .alias("isolated"),
    )
