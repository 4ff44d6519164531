"""Semantic-level dedup keep decisions (round 9) — the embedding-space
sibling of dedup_cluster_keep: one row per vector with its mutual-kNN
component, the component size, and the keep flag (the component's
minimum vec_id is the kept representative).  This is the decision
table a semantic dedup actually applies — "keep one exemplar per
semantic cluster" — completing the dedup ladder: exact -> n-gram ->
MinHash -> SimHash -> embedding-cosine -> SEMANTIC-COMPONENT.

Why the purity gate matters (and what the fixture shows): on this
corpus the encoder-collapse alarm fires (sim_semantic_clusters' giant
~483-vector component at chance purity), so the keep rule would drop
almost everything — which is exactly why pipe-building practice puts
dq_emb_coverage + the purity diagnostic IN FRONT of semantic dedup;
the unit test pins that drop behavior rather than hiding it.

No analog in the reference (SURVEY §2.1); similarity/dedup extension
surface composing sim_knn_graph + functions/graph.py.

Oracle contract: the recursive-CTE chain of sim_semantic_clusters up
through the component fixpoint, then the keep rule in SQL — both
engines derive the identical decision table independently.

Scale posture: identical to sim_semantic_clusters (edge-list-sized
mutual filter, O(log n) star-contraction rounds) plus one
component-keyed count join; output is corpus-sized but 3 skinny
integer columns + a flag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.operators.similarity_knn import KNN_SQL as _KNN_SQL
from bigbugdata_spark.registry import register

_KEEP_SQL = f"""
    WITH RECURSIVE knn AS MATERIALIZED ({_KNN_SQL}),
    mutual AS (
        SELECT k1.src AS a, k1.dst AS b
        FROM knn k1 JOIN knn k2 ON k1.src = k2.dst AND k1.dst = k2.src
        WHERE k1.src < k1.dst
    ),
    edges AS (
        SELECT a, b FROM mutual UNION SELECT b, a FROM mutual
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
        SELECT e.vec_id,
               CAST(LEAST(e.vec_id, COALESCE(MIN(r.b), e.vec_id)) AS BIGINT)
                   AS component
        FROM embeddings e LEFT JOIN reach r ON e.vec_id = r.a
        GROUP BY e.vec_id
    ),
    sizes AS (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM comp GROUP BY component
    )
    SELECT c.vec_id, c.component, s.cluster_size,
           CAST(c.vec_id = c.component AS INT) AS keep
    FROM comp c JOIN sizes s ON c.component = s.component
"""


@register(
    "sim_semantic_keep",
    oracle=_KEEP_SQL,
    tags=("similarity", "dedup", "graph", "iterative"),
    index_writer=True,
)
def sim_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, component, cluster_size, keep): keep = 1 iff the vector
    IS its component's minimum id — exactly one exemplar survives per
    mutual-kNN semantic cluster; singletons keep themselves."""
    # the shared graph spine (round 11): the component frame is
    # materialized once per corpus and reused across the graph family
    from bigbugdata_spark.operators.similarity_graph_core import components

    comp = components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    # r18 (guide §3.1, the plan audit's SMJ-order flag): the final join's
    # output order dies in the unordered result sink, so the SMJ's two
    # sorts — one of them over the corpus-sized comp frame — were pure
    # overhead. SHUFFLE_HASH builds on the sizes side (component-count-
    # proportional, so NOT broadcast-safe at 100 TB, but per-partition
    # bounded after its own exchange). Measured: 0.088 vs 0.120 s min
    # interleaved at sf0.1 (plans/r18/smj_flag_ab.json).
    return comp.join(sizes.hint("shuffle_hash"), "component").select(
        "vec_id",
        "component",
        "cluster_size",
        (F.col("vec_id") == F.col("component")).cast("int").alias("keep"),
    )
