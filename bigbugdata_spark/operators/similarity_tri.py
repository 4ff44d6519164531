"""Triangle / hubness statistics over the mutual-kNN graph (round 10)
— the second graph-quality diagnostic next to sim_pagerank: per vector,
its mutual-kNN degree and how many TRIANGLES it participates in.  In
embedding space this is the standard local-coherence signal — a
healthy neighborhood is triangle-dense (my neighbors know each other),
while a high-degree node with few triangles is a HUB, the classic
symptom of anisotropic/collapsed encoders (hubness is the
embedding-space failure mode the kNN literature warns about); the
per-node table feeds exactly that triage.

No analog in the reference (SURVEY §2.1); similarity/graph extension
surface composing sim_knn_graph's edge list.

Determinism: triangles are counted over the canonical a<b<c triple
join — exact integers, no fp anywhere; both engines enumerate the
identical triple set.

Scale posture: the triple join is the standard edge-edge-edge
equi-join bounded by sum over nodes of deg^2 (mutual-kNN degree is
capped at KNN_K, so candidate volume is <= K * |E| — linear in the
corpus at fixed K, never the n^3 a naive formulation would give); the
per-node roll-up explodes each triangle to its three corners (3T rows)
and aggregates map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.operators.similarity_knn import KNN_SQL as _KNN_SQL
from bigbugdata_spark.registry import register

_TRI_SQL = f"""
    WITH knn AS MATERIALIZED ({_KNN_SQL}),
    mutual AS (
        SELECT k1.src AS a, k1.dst AS b
        FROM knn k1 JOIN knn k2 ON k1.src = k2.dst AND k1.dst = k2.src
        WHERE k1.src < k1.dst
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM mutual e1
        JOIN mutual e2 ON e1.b = e2.a
        JOIN mutual e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (
        SELECT x AS vec_id FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ),
    tcount AS (
        SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM corners GROUP BY vec_id
    ),
    deg AS (
        SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS deg
        FROM (
            SELECT a AS vec_id FROM mutual
            UNION ALL SELECT b FROM mutual
        ) GROUP BY vec_id
    )
    SELECT e.vec_id,
           CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles
    FROM embeddings e
    LEFT JOIN deg d ON e.vec_id = d.vec_id
    LEFT JOIN tcount t ON e.vec_id = t.vec_id
"""


@register(
    "sim_triangle_stats",
    oracle=_TRI_SQL,
    tags=("similarity", "graph", "join"),
    index_writer=True,
)
def sim_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, deg, n_triangles): every vector's mutual-kNN degree and
    the number of triangles it sits in — high deg with low triangles
    flags hub vectors; zero rows stay present (isolated vectors)."""
    # the shared graph spine (round 11): mutual edges are materialized
    # once per corpus and reused across the whole graph family
    from bigbugdata_spark.operators.similarity_graph_core import mutual_edges

    mutual = mutual_edges(spark, sf_dir)
    # r17: every join below feeds a regroup (or the final unordered
    # output), so the SMJ sort order was pure overhead — shuffle_hash
    # drops the sorts; build sides are edge-list/degree-table sized,
    # bounded per partition by AQE partition sizing (guide §3.1).
    e1 = mutual.alias("e1")
    e2 = mutual.hint("shuffle_hash").alias("e2")
    e3 = mutual.hint("shuffle_hash").alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    # r17: the union-of-three-projections form re-executed the whole
    # two-join triangle pipeline once per corner; exploding each
    # triangle row to its three corners is the same multiset off ONE
    # execution (guide §2.4).
    corners = tri.select(F.explode(F.array("x", "y", "z")).alias("vec_id"))
    tcount = corners.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    deg = (
        mutual.select(F.explode(F.array("a", "b")).alias("vec_id"))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    emb = table(spark, sf_dir, "embeddings").select("vec_id")
    return (
        emb.join(deg.hint("shuffle_hash"), "vec_id", "left")
        .join(tcount.hint("shuffle_hash"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("deg", F.lit(0)).cast("long").alias("deg"),
            F.coalesce("n_triangles", F.lit(0))
            .cast("long")
            .alias("n_triangles"),
        )
    )
