"""Semantic clustering over the kNN graph (round 8) — mutual-kNN
components with label-coherence metrics: keep an edge only when BOTH
endpoints rank each other in their top-K (the standard mutual-kNN
symmetrization that strips hub edges), take connected components, and
report each cluster's size alongside how label-pure it is. The
unsupervised structure check every embedding pipeline runs: clusters
that mix labels mean the encoder (or the labels) are suspect.

No analog in the reference (SURVEY §2.1); similarity/graph extension
surface composing sim_knn_graph + functions/graph.py.

Oracle contract: the DuckDB twin re-derives the WHOLE chain — the IVF
kNN graph (parameterized ivf_stages_sql), the mutual-edge filter, the
component fixpoint as a recursive CTE, and the majority-label pick
with (count DESC, label ASC) tie-break — so both engines produce the
identical clustering independently. The min-label fixpoint is unique
and order-free, which is what makes an iterative Spark loop and a
recursive CTE provably agree.

Scale posture: the mutual filter is a self-join of the edge list on
the reversed key (edge-list-sized); components are the shared
large-star/small-star contraction (functions/graph.py — O(log n)
alternations since r9, each two keyed join+min-agg pairs); the
roll-ups aggregate component-count-sized frames.

What the fixture shows (and why it is the right answer): this corpus'
embeddings are geometrically unstructured — same-label and
cross-label cosine distributions are indistinguishable (mean 0.002 vs
0.000) — so mutual-kNN correctly forms one giant low-purity component
(483 of 500 vectors, purity ~0.1). That IS the diagnostic firing: a
real encoder would separate labels and this table would show many
small high-purity clusters; the giant-component row is the "encoder
collapsed / labels unrelated to geometry" alarm, the embedding-space
sibling of dedup_cluster_sizes' giant-component warning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.operators.similarity_knn import KNN_SQL as _KNN_SQL
from bigbugdata_spark.registry import register

_CLUSTER_SQL = f"""
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
    labeled AS (
        SELECT c.component, e.label
        FROM comp c JOIN embeddings e ON c.vec_id = e.vec_id
    ),
    label_counts AS (
        SELECT component, label, CAST(COUNT(*) AS BIGINT) AS n
        FROM labeled GROUP BY component, label
    ),
    majority AS (
        SELECT component, label AS majority_label, n AS n_majority
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY component ORDER BY n DESC, label ASC
                   ) AS rn
            FROM label_counts
        ) WHERE rn = 1
    )
    SELECT m.component, CAST(SUM(lc.n) AS BIGINT) AS n_vecs,
           m.majority_label, m.n_majority,
           CAST(m.n_majority AS DOUBLE) / SUM(lc.n) AS purity
    FROM majority m JOIN label_counts lc ON m.component = lc.component
    GROUP BY m.component, m.majority_label, m.n_majority
"""


@register(
    "sim_semantic_clusters",
    oracle=_CLUSTER_SQL,
    tags=("similarity", "graph", "iterative"),
    index_writer=True,
)
def sim_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per mutual-kNN component: vector count, the majority label (ties
    to the lexicographically smallest), its count, and the cluster's
    label purity as a single exact-integer division. Singleton
    components (vectors with no mutual edge) appear as size-1 clusters
    with purity 1.0."""
    # the shared graph spine (round 11): the component frame is
    # materialized once per corpus and reused across the graph family
    from bigbugdata_spark.operators.similarity_graph_core import components

    comp = components(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    labeled = comp.join(emb, "vec_id").select("component", "label")
    label_counts = labeled.groupBy("component", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("component").orderBy(F.desc("n"), F.asc("label"))
    majority = (
        label_counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "component",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
        )
    )
    sizes = label_counts.groupBy("component").agg(F.sum("n").alias("n_vecs"))
    # r18 (guide §3.1, the plan audit's SMJ-order flag): the majority x
    # sizes join feeds the unordered result, so the SMJ's sorts bought
    # nothing; SHUFFLE_HASH avoids them (build side = one row per
    # component per partition). Measured 0.232 vs 0.252 s min at sf0.1
    # (plans/r18/smj_flag_ab.json) — small but consistent.
    return majority.join(sizes.hint("shuffle_hash"), "component").select(
        "component",
        "n_vecs",
        "majority_label",
        "n_majority",
        (F.col("n_majority").cast("double") / F.col("n_vecs")).alias("purity"),
    )
