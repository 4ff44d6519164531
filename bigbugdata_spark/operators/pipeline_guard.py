"""Purity-guarded semantic dedup (round 10, VERDICT r9 #7) — the
composition the two r9 queries' docstrings both point at but nothing
executed: sim_semantic_keep's keep-one-exemplar rule is only SAFE when
the mutual-kNN clustering is label-coherent; on an encoder-collapsed
corpus (sim_semantic_clusters' giant chance-purity component) the rule
would silently drop almost everything.  This query closes the loop:
per vector, the keep decision is APPLIED only when its component's
label purity clears PURITY_T — otherwise the guard passes the vector
through untouched and flags the component for encoder triage.

On this corpus both branches are live by construction: the ~483-vector
collapsed component sits at chance purity (pass-through — the guard
RESCUES what the unguarded rule would have dropped), while singletons
and any label-pure multi-vector components clear the bar and the rule
applies (exemplars kept, their duplicates dropped).

No analog in the reference (SURVEY §2.1); similarity/dedup/governance
extension surface composing sim_semantic_keep + the purity diagnostic.

Oracle contract: the recursive-CTE chain of sim_semantic_keep through
the component fixpoint, plus the purity rollup (MAX(label count) /
SUM(label count) — no window needed for purity alone) and the guarded
CASE, so both engines derive the identical decision table.

Scale posture: sim_semantic_keep's contraction chain plus two
component-keyed aggregates (label counts, purity) — all
edge-list/component-sized; output is corpus-sized but skinny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.operators.similarity_knn import KNN_SQL as _KNN_SQL
from bigbugdata_spark.registry import register

#: minimum component label purity for keep decisions to apply
PURITY_T = 0.8

_GUARD_SQL = f"""
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
    ),
    label_counts AS (
        SELECT c.component, e.label, CAST(COUNT(*) AS BIGINT) AS n
        FROM comp c JOIN embeddings e ON c.vec_id = e.vec_id
        GROUP BY c.component, e.label
    ),
    pur AS (
        SELECT component, CAST(MAX(n) AS DOUBLE) / SUM(n) AS purity
        FROM label_counts GROUP BY component
    )
    SELECT c.vec_id, c.component, s.cluster_size, p.purity,
           CAST(p.purity >= {PURITY_T} AS INT) AS rule_applied,
           CAST(CASE WHEN p.purity >= {PURITY_T}
                     THEN c.vec_id = c.component
                     ELSE TRUE END AS INT) AS kept
    FROM comp c
    JOIN sizes s ON c.component = s.component
    JOIN pur p ON c.component = p.component
"""


@register(
    "pipe_semantic_guard",
    oracle=_GUARD_SQL,
    tags=("similarity", "dedup", "pipeline", "graph", "iterative"),
    index_writer=True,
)
def pipe_semantic_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, component, cluster_size, purity, rule_applied, kept):
    kept applies sim_semantic_keep's exemplar rule only where the
    component's label purity >= PURITY_T; below the bar every vector
    passes through (kept = 1, rule_applied = 0) — the encoder-collapse
    guard."""
    from bigbugdata_spark.operators.similarity_graph_core import components

    # r17 (guide §2.4): composing sim_semantic_keep forced its sizes
    # aggregate + join TWICE (once per consumer branch; the optimizer
    # left a distinct-component join behind on the purity side).  The
    # spine's component frame already carries everything needed:
    # cluster_size IS SUM(n) of the per-(component, label) counts
    # (comp ⋈ embeddings is 1:1 on the embeddings PK), and keep IS
    # vec_id = component — so one aggregate chain plus one final
    # component join produces the identical table.  The final join is
    # left to the planner: stats is component-sized (broadcasts at
    # test scale via AQE); at 100 TB SMJ is the honest spill-safe
    # strategy for the corpus-sized comp side.
    comp = components(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    label_counts = (
        comp.join(emb, "vec_id")
        .groupBy("component", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = label_counts.groupBy("component").agg(
        F.sum("n").alias("cluster_size"),
        (F.max("n").cast("double") / F.sum("n")).alias("purity"),
    )
    applied = F.col("purity") >= F.lit(PURITY_T)
    return comp.join(stats, "component").select(
        "vec_id",
        "component",
        "cluster_size",
        "purity",
        applied.cast("int").alias("rule_applied"),
        F.when(applied, (F.col("vec_id") == F.col("component")).cast("int"))
        .otherwise(F.lit(1))
        .alias("kept"),
    )
