"""PageRank centrality over the mutual-kNN graph (round 10) — the
fourth driver-controlled/executor-executed iterative operator (after
kmeans, connected components, BPE training): which vectors sit at the
CENTER of the corpus' semantic neighborhood structure?  Centrality over
the kNN graph is the standard representative-document picker (choose
high-rank exemplars for curation/eval seeds) and the diversity-sampling
complement of sim_semantic_keep's min-id rule.

No analog in the reference (SURVEY §2.1); similarity/graph extension
surface composing sim_knn_graph's edge list.

Determinism (the kmeans/BPE discipline — iterative yet hash-exact):
ranks live as INTEGER parts-per-billion.  PR_0 = SCALE div n for every
node; each of PR_ROUNDS rounds computes

    PR_{k+1}(v) = (15 * SCALE) div (100 * n)
                + (85 * SUM over in-neighbors u of PR_k(u) div deg(u))
                  div 100

— every operation an exact BIGINT multiply/divide/sum (truncating
division on non-negative values is identical in Spark `div` and DuckDB
`//`), so both engines produce bit-identical ranks and the oracle can
unroll the identical rounds in SQL.  Floor losses mean total mass
shrinks by < n units per round (and dangling/isolated nodes simply
stop forwarding mass) — fine for a RANKING signal, and exactly
reproducible, which a fp64 PageRank across engines is not.

Scale posture: per round one edge-keyed join (edges x current ranks,
co-locatable on an id-bucketed layout) + one map-side-combinable SUM by
destination + one nodes-sized left join; K rounds total, state is the
nodes-sized rank frame, localCheckpointed so plans stay flat.  The one
driver-side scalar is COUNT(*) (the kmeans/IVF sizing precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bigbugdata_spark.operators.similarity_knn import KNN_SQL as _KNN_SQL

# constants + the executed rounds live in the shared graph spine
# (operators/similarity_graph_core.py, round 11) so every consumer of
# the rank frame reuses ONE materialization; the oracle SQL below
# unrolls the identical rounds from the same constants
from bigbugdata_spark.operators.similarity_graph_core import (
    DAMP_DEN as _DAMP_DEN,
    DAMP_NUM as _DAMP_NUM,
    PR_ROUNDS,
    PR_SCALE,
    TELEPORT_NUM as _TELEPORT_NUM,
)
from bigbugdata_spark.registry import register


def _sql_round(k: int) -> str:
    """CTE for round k+1 from pr{k}: per-destination contribution sum
    through the degree table, then the damped update — all BIGINT."""
    return f"""
    s{k} AS (
        SELECT e.b AS vec_id, SUM(p.pr // d.deg) AS s
        FROM edges e
        JOIN pr{k} p ON e.a = p.vec_id
        JOIN deg d ON e.a = d.a
        GROUP BY e.b
    ),
    pr{k + 1} AS (
        SELECT v.vec_id,
               {_TELEPORT_NUM * PR_SCALE} // ({_DAMP_DEN} * nn.n)
                   + ({_DAMP_NUM} * COALESCE(s.s, 0)) // {_DAMP_DEN} AS pr
        FROM nodes v
        CROSS JOIN nn
        LEFT JOIN s{k} s ON v.vec_id = s.vec_id
    )"""


_PAGERANK_SQL = (
    f"""
    WITH RECURSIVE knn AS MATERIALIZED ({_KNN_SQL}),
    mutual AS (
        SELECT k1.src AS a, k1.dst AS b
        FROM knn k1 JOIN knn k2 ON k1.src = k2.dst AND k1.dst = k2.src
        WHERE k1.src < k1.dst
    ),
    edges AS (
        SELECT a, b FROM mutual UNION SELECT b, a FROM mutual
    ),
    deg AS (
        SELECT a, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY a
    ),
    nodes AS (SELECT vec_id FROM embeddings),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    pr0 AS (
        SELECT vec_id, {PR_SCALE} // nn.n AS pr FROM nodes CROSS JOIN nn
    ),"""
    + ",".join(_sql_round(k) for k in range(PR_ROUNDS))
    + f"""
    SELECT p.vec_id,
           CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg,
           CAST(p.pr AS BIGINT) AS pr_ppb
    FROM pr{PR_ROUNDS} p LEFT JOIN deg d ON p.vec_id = d.a
    """
)


@register(
    "sim_pagerank",
    oracle=_PAGERANK_SQL,
    tags=("similarity", "graph", "iterative"),
    index_writer=True,
)
def sim_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, deg, pr_ppb): every vector's mutual-kNN degree and its
    integer-ppb PageRank after PR_ROUNDS damped rounds.  Isolated
    vectors settle at the teleport floor; cluster-central vectors
    accumulate their neighborhoods' forwarded mass.  Served from the
    shared graph spine: the rounds execute once per corpus and feed
    this card AND sim_central_exemplars."""
    from bigbugdata_spark.operators.similarity_graph_core import pagerank_frame

    return pagerank_frame(spark, sf_dir)
