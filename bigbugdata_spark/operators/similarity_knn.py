"""k-NN graph construction (round 8) — every vector's KNN_K nearest
neighbors through the IVF index: the graph that feeds semantic
clustering, graph-based dedup, diversity sampling, and (at much larger
K and corpus) NN-descent-style ANN index builds. Unlike the query
family (8 fixed queries), EVERY corpus vector is a source node here —
the all-nodes workload whose cost profile is candidate generation, not
query fan-out.

No analog in the reference (SURVEY §2.1); similarity extension surface
completing sim_* (query-time) with the index-time graph build.

Approximation contract (the audits.py discipline): the oracle is NOT
ground truth — it re-derives the IDENTICAL IVF pipeline (affine-hash
codebook -> redundant assignment -> KNN_PROBE probed cells ->
candidate top-k with vec_id tie-break) in SQL, so both engines build
the same graph independently and any drift in codebook, probing or
scoring goes hash-red. Graph quality vs brute force is pinned
separately by a recall-floor test (tests/test_round8_ops.py).

Scale posture: candidates come from shared probed cells — a cell-keyed
equi-join bounded by cell occupancy, never an all-pairs product; per
node the exact scoring touches only its candidates, and the top-k is a
per-node window over that bounded set. KNN_PROBE < N_PROBE keeps the
all-nodes candidate volume at index-build levels (probing half the
cells is a query-time luxury). Sizing (r8 caveat resolved in round 9):
the codebook is corpus-scaled, K = max(16, floor sqrt(n)) — shared
with the whole registered IVF family via ivf_cents' default, and
re-derived from COUNT(*) by this oracle's cents CTE — so cell
occupancy stays ~sqrt(n) and the all-nodes candidate volume ~n^1.5
instead of the quadratic blow-up a fixed K would give.

KNN_K, KNN_PROBE and the oracle KNN_SQL are shared with the graph spine
(similarity_graph_core) and the queries built on the graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import EMB_DIM, sql_graph_ivf_k
from bigbugdata_spark.operators.audits import SIM_CORPUS_SQL, ivf_stages_sql
from bigbugdata_spark.registry import register

KNN_K = 5
KNN_PROBE = 4  # index-build probe width (< query-time N_PROBE)

# The graph build sizes cells to a CONSTANT row target (sql_graph_ivf_k
# — r12, VERDICT r11 #1b) and routes both assignment and probes through
# the two-level supercell structure: every corpus vector is a query
# here, so per-query work must be bounded, not sqrt(n)-sized.
KNN_SQL = f"""
    WITH {SIM_CORPUS_SQL},
    allq AS (
        SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
        FROM corpus
    ),
    {ivf_stages_sql("allq", KNN_PROBE, k_sql=sql_graph_ivf_k("corpus"), routed_probes=True)}
    SELECT src, dst, rnk, cos_sim FROM (
        SELECT cd.query_id AS src, co.vec_id AS dst,
               ROW_NUMBER() OVER (
                   PARTITION BY cd.query_id
                   ORDER BY {H.sql_dot('q.q_emb', 'co.embedding', EMB_DIM)}
                            / (q.q_nrm * co.nrm) DESC,
                            co.vec_id ASC
               ) AS rnk,
               {H.sql_dot('q.q_emb', 'co.embedding', EMB_DIM)}
                   / (q.q_nrm * co.nrm) AS cos_sim
        FROM cand cd
        JOIN corpus co ON co.vec_id = cd.vec_id
        JOIN allq q ON q.query_id = cd.query_id
    ) WHERE rnk <= {KNN_K}
"""


@register(
    "sim_knn_graph",
    oracle=KNN_SQL,
    tags=("similarity", "join", "graph"),
    index_writer=True,
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges (src, dst, rnk, cos_sim): each vector's KNN_K best
    IVF-candidates by cosine, rank ties broken by dst id. Nodes whose
    probed cells hold fewer than KNN_K other vectors emit fewer
    edges (never padded).

    Served from the shared graph spine (round 11, VERDICT r10 #5): the
    plan itself lives in similarity_graph_core._build_knn_plan; this
    call returns the content-fingerprinted shared materialization that
    pagerank/triangles/components/exemplars all consume, so the
    expensive IVF build runs once per corpus, not once per consumer."""
    # local import: similarity_graph_core imports KNN_K/KNN_PROBE from here
    from bigbugdata_spark.operators.similarity_graph_core import knn_edges

    return knn_edges(spark, sf_dir)
