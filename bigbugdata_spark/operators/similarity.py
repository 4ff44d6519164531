"""Similarity search over `embeddings.embedding`: exact and IVF top-k, the
vectorized Arrow path, the IVF SQL fragments the oracles share, IVF-PQ,
MMR diversity selection, incremental and batch IVF assignment,
embedding-space health, k-means, int8 quantization and hybrid retrieval.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bigbugdata_spark.caching import pin
from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import (
    EMB_DIM,
    IVF_ASSIGN,
    IVF_CODEBOOK_HASH_SQL,
    IVF_HASH_A,
    IVF_HASH_B,
    N_QUERIES,
    PQ_K,
    PQ_M,
    PQ_RERANK,
    PQ_SUBDIM,
    SUP_ASSIGN,
    SUP_PROBE,
    TOP_K,
    sql_scaled_ivf_k,
    sql_scaled_n_probe,
    sql_sup_count,
)
from bigbugdata_spark.functions.quantization import quantized_vec, sql_quantized_vec
from bigbugdata_spark.operators.dedup_incr import (
    _corpus_fingerprint,
    build_tmp_path,
    collect_abandoned_siblings,
    ensure_index_root,
    index_path,
    publish_generation,
    sweep_stale_generations,
)
from bigbugdata_spark.registry import register


# ---------------------------------------------------------------------------
# Similarity search over `embeddings.embedding` (array<float>, dim 64) —
# the LLM-pipeline ANN family (SURVEY.md §7 phase 3; no analog in the
# reference, whose only lookups are hash-set probes,
# ref scripts/filter_rrpm_by_taxid.py:17).
#
# Two-tier design per the north star: `sim_cosine_topk` is the BRUTE-FORCE
# BASELINE (exact, oracle-checked — a broadcast of the tiny query set
# against one corpus scan, which IS the scalable exact plan when |Q| is
# small); `sim_ivf_topk` is the IVF scale path (coarse quantizer ->
# inverted cells -> probe nprobe cells), recall-measured against the
# baseline in tests. All arithmetic is JVM-side zip_with/aggregate — no
# Python UDFs; dot products sum left-to-right to match the DuckDB oracle
# bit-for-bit.
# ---------------------------------------------------------------------------


def _codebook_hash(vec_id):
    """Portable affine codebook-sampling hash (see fragments.py: the
    xxhash64 it replaced is not expressible in the DuckDB audit twin)."""
    return (
        (vec_id % F.lit(H.P)) * F.lit(IVF_HASH_A) + F.lit(IVF_HASH_B)
    ) % F.lit(H.P)

_COS_AB = (
    f"{H.sql_dot('a.embedding', 'b.embedding', EMB_DIM)}"
    f" / ({H.sql_norm('a.embedding', EMB_DIM)} * {H.sql_norm('b.embedding', EMB_DIM)})"
)


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", "embedding", H.norm(F.col("embedding")).alias("nrm")
    )


# --- IVF stage builders (shared with operators/similarity.py) -----------


def ivf_cents(corpus: DataFrame, k: int | None = None) -> DataFrame:
    """The k hash-sampled codebook vectors (cell_id, c_emb, c_nrm, cpos
    — the 1-based sampling rank, so the SUP-supercell prefix of the
    two-level router is selectable without re-deriving the order).

    k=None (the default, round 9 — VERDICT r8 #6) sizes the codebook
    from the corpus: K = max(IVF_K, floor(sqrt(n))), the standard IVF
    rule (cells of ~sqrt(n) vectors balance probe cost against cell
    scan).  The count is index-build metadata (a real builder knows its
    corpus size; parquet count-star is a footer read), and the sampled
    codebook stays a distributed orderBy+limit (TakeOrderedAndProject)
    that broadcasts: at n = 10^9, K ~ 31623 rows x 256-byte vectors ~
    8 MB — still a broadcast, per the N_PROBE/assign joins' design.

    Explicit k keeps the shared-prefix property STRUCTURAL: the PQ
    codebook (similarity_pq, k=PQ_K) and the IVF codebook are prefixes
    of the SAME deterministic sampling order (whichever is longer
    subsumes the shorter) — one ordering/tie-break definition, not two
    copies."""
    from bigbugdata_spark.functions.fragments import scaled_ivf_k

    if k is None:
        k = scaled_ivf_k(corpus.count())
    picked = (
        corpus.orderBy(_codebook_hash(F.col("vec_id")), F.col("vec_id"))
        .limit(k)
        .select(
            F.col("vec_id").alias("cell_id"),
            F.col("embedding").alias("c_emb"),
            F.col("nrm").alias("c_nrm"),
        )
    )
    # sampling rank over the K selected rows only (a K-row single
    # partition window — codebook-sized, broadcastable by design)
    w = Window.orderBy(_codebook_hash(F.col("cell_id")), F.col("cell_id"))
    return picked.withColumn("cpos", F.row_number().over(w))


def ivf_queries(corpus: DataFrame) -> DataFrame:
    return corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )


def _cell_supers(cents: DataFrame, sup_n: int) -> DataFrame:
    """(cell_id, sup_id): each codebook cell registered under its
    SUP_ASSIGN nearest supercells (the first sup_n cells of the sampling
    order).  K x SUP dots — codebook-sized, never corpus-sized."""
    from bigbugdata_spark.functions.fragments import SUP_ASSIGN

    supers = cents.filter(F.col("cpos") <= sup_n).select(
        F.col("cell_id").alias("sup_id"),
        F.col("c_emb").alias("s_emb"),
        F.col("c_nrm").alias("s_nrm"),
    )
    scored = cents.join(F.broadcast(supers), F.lit(True)).select(
        "cell_id",
        "sup_id",
        (
            H.dot(F.col("c_emb"), F.col("s_emb"))
            / (F.col("c_nrm") * F.col("s_nrm"))
        ).alias("s_cos"),
    )
    w = Window.partitionBy("cell_id").orderBy(F.desc("s_cos"), F.asc("sup_id"))
    return (
        scored.withColumn("srn", F.row_number().over(w))
        .filter(F.col("srn") <= SUP_ASSIGN)
        .select("cell_id", "sup_id")
    )


def _routed_cell_ranks(
    vectors: DataFrame,
    cents: DataFrame,
    k: int,
    take: int,
    id_col: str,
    emb_col: str,
    nrm_col: str,
) -> DataFrame:
    """(id, cell_id, arn): each vector's `take` best cells by cosine WITH
    their rank, ranked over ONLY the cells reachable through its
    SUP_PROBE best supercells — the two-level router (r12, VERDICT r11
    #1a).  Per-vector cost is ~sqrt(K) supercell dots +
    ~SUP_ASSIGN*SUP_PROBE*sqrt(K) cell dots instead of the flat K; no
    shuffle ever carries more than skinny (id, cell) pairs plus one
    vectors-by-id exchange for the final scoring join (which then feeds
    the per-id window co-partitioned).

    Exposing `arn` lets a caller that needs BOTH the inverted file
    (arn <= IVF_ASSIGN) and a probe set (arn <= n_probe) run the whole
    routing pipeline ONCE with take = max of the two widths and filter
    twice — the two sets are prefixes of the same per-vector ranking, so
    this is definitionally identical to two independent routed passes
    (the r17 graph-build optimization; the kNN spine was paying the
    router twice over the full corpus)."""
    from bigbugdata_spark.functions.fragments import SUP_PROBE, sup_count

    sup_n = sup_count(k)
    supers = cents.filter(F.col("cpos") <= sup_n).select(
        F.col("cell_id").alias("sup_id"),
        F.col("c_emb").alias("s_emb"),
        F.col("c_nrm").alias("s_nrm"),
    )
    cell_sup = _cell_supers(cents, sup_n)
    # 1. route: each vector's SUP_PROBE best supercells (skinny window)
    v_sup = vectors.join(F.broadcast(supers), F.lit(True)).select(
        id_col,
        "sup_id",
        (
            H.dot(F.col(emb_col), F.col("s_emb"))
            / (F.col(nrm_col) * F.col("s_nrm"))
        ).alias("v_cos"),
    )
    wv = Window.partitionBy(id_col).orderBy(F.desc("v_cos"), F.asc("sup_id"))
    v_sup = (
        v_sup.withColumn("vrn", F.row_number().over(wv))
        .filter(F.col("vrn") <= SUP_PROBE)
        .select(id_col, "sup_id")
    )
    # 2. reachable cells (distinct — a cell may arrive via both routes)
    reach = (
        v_sup.join(F.broadcast(cell_sup), "sup_id")
        .select(id_col, "cell_id")
        .distinct()
    )
    # 3. exact rank within the reachable set only
    scored = (
        reach.join(vectors, id_col)
        .join(F.broadcast(cents), "cell_id")
        .select(
            id_col,
            "cell_id",
            (
                H.dot(F.col(emb_col), F.col("c_emb"))
                / (F.col(nrm_col) * F.col("c_nrm"))
            ).alias("c_cos"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("c_cos"), F.asc("cell_id"))
    return (
        scored.withColumn("arn", F.row_number().over(w))
        .filter(F.col("arn") <= take)
        .select(id_col, "cell_id", "arn")
    )


def _routed_cells(
    vectors: DataFrame,
    cents: DataFrame,
    k: int,
    take: int,
    id_col: str,
    emb_col: str,
    nrm_col: str,
) -> DataFrame:
    """(id, cell_id): `_routed_cell_ranks` without the rank column — the
    single-consumer form every serving path uses."""
    return _routed_cell_ranks(
        vectors, cents, k, take, id_col, emb_col, nrm_col
    ).select(id_col, "cell_id")


def ivf_assign(
    corpus: DataFrame, cents: DataFrame, k: int | None = None
) -> DataFrame:
    """(vec_id, cell_id) inverted file — top-IVF_ASSIGN cells/vector,
    two-level routed (r12): the flat corpus x codebook cartesian was
    n*K dots (n^1.5 under the sqrt(n) K rule — the r11 scale-killer);
    routing through ceil(sqrt(K)) supercells makes it ~n*5*sqrt(K).
    k=None counts the codebook (K rows — cheap; pass k when known)."""
    if k is None:
        k = cents.count()
    return _routed_cells(
        corpus, cents, k, IVF_ASSIGN, "vec_id", "embedding", "nrm"
    )


def ivf_probes(
    queries: DataFrame, cents: DataFrame, n_probe: int | None = None
) -> DataFrame:
    """(query_id, cell_id) — the n_probe best cells per query.  n_probe
    None (default) scales with the codebook: max(N_PROBE, ceil(K/2)) —
    the probe FRACTION is the recall knob (fragments.scaled_n_probe),
    so a sqrt(n)-sized codebook keeps its measured recall as the corpus
    grows.  Explicit widths remain for deliberate narrow probing (the
    kNN-graph builder, similarity_knn.py)."""
    from bigbugdata_spark.functions.fragments import scaled_n_probe

    if n_probe is None:
        n_probe = scaled_n_probe(cents.count())
    q_cells = queries.join(F.broadcast(cents), F.lit(True)).select(
        "query_id",
        "cell_id",
        (
            H.dot(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_nrm") * F.col("c_nrm"))
        ).alias("c_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("c_cos"), F.asc("cell_id"))
    return (
        q_cells.withColumn("prn", F.row_number().over(w))
        .filter(F.col("prn") <= n_probe)
        .select("query_id", "cell_id")
    )


def ivf_candidates(
    probes: DataFrame, assign: DataFrame
) -> DataFrame:
    """(query_id, vec_id) distinct candidates from the probed cells.

    The probe list is BROADCAST (r18, guide §3.1 — the plan audit's
    SMJ-order flag): it is (query set x probe width) rows of 12 bytes —
    the intrinsically small serving side, |Q| x K/2 ~ |Q| x sqrt(n)/2
    (5 MB at |Q|=25, n=10^9) — while the inverted file is corpus x
    IVF_ASSIGN. The planner cannot see that bound (probes comes out of
    a window over a derived frame, no stats), so it sort-merge-joined
    on cell_id: both sides exchanged and sorted by a K-valued key, and
    the join's output order then died in the candidate distinct. With
    the hint the inverted file flows scan -> BHJ with no exchange and
    no sort."""
    return (
        F.broadcast(probes).join(assign, "cell_id")
        .select("query_id", "vec_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .distinct()
    )


@register(
    "sim_cosine_topk",
    oracle=f"""
        WITH scored AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   {_COS_AB} AS cos_sim
            FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
            WHERE a.vec_id < {N_QUERIES}
        )
        SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INT) AS rnk FROM (
            SELECT query_id, neighbor_id, cos_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id ASC
                   ) AS rnk
            FROM scored
        ) WHERE rnk <= {TOP_K}
    """,
    tags=("similarity", "window", "headline"),
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the query set (tiny) against ONE
    corpus scan, score JVM-side, window top-k per query.

    This brute-force scan is the correctness baseline AND the scalable
    exact plan for small |Q|: cost |Q| x corpus with no shuffle of the
    corpus (queries broadcast); the only exchange is the per-query window
    over |Q| x corpus scored rows, which AQE partial-top-k keeps small.
    For large |Q| or latency-bound serving, `sim_ivf_topk` is the
    sublinear path. Norms are computed once per side, not per pair."""
    corpus = _corpus(spark, sf_dir)
    queries = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        corpus.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                H.dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("int").alias("rnk"))
    )


# Rows-only by design (IVF shortlist composition is engine-specific):
# verified through its oracle'd twin audit_ivf_recall.
@register("sim_ivf_topk", tags=("similarity", "window"))
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the 100 TB serving path:

    1. coarse quantizer: a CORPUS-SCALED codebook of K = max(16,
       floor(sqrt(n))) centroids (round 9 — the standard sqrt(n) cell
       sizing; was fixed K=16 through r8) chosen by deterministic hash
       sampling — the K corpus vectors with the smallest portable
       affine hash of vec_id (mod P, vec_id tiebreak; engine-portable
       so audit_ivf_recall re-derives the identical codebook AND the
       identical K from COUNT(*) in DuckDB).  The selection is a
       distributed top-k (TakeOrdered: per-partition heads, driver
       merge of K rows ~ sqrt(n) — 8 MB at n=10^9), then broadcasts.
       (A k-means training pass would pick better centroids; hash
       sampling keeps the plan deterministic and is the standard
       bootstrap for one.)
    2. assignment: one corpus scan x broadcast codebook -> top cells
       per vector — O(n*K) (the inverted file, long form);
    3. probe: each query scores the codebook, takes the scaled-width
       best cells (max(N_PROBE, ceil(K/2)) — see
       fragments.scaled_n_probe for why the FRACTION is the recall
       knob on this near-isotropic fixture), and searches ONLY those
       cells' members exactly.

    Redundant assignment (IVF_ASSIGN=2, each vector indexed under its
    two nearest cells) doubles the inverted file but buys recall at
    fixed probe cost — the standard IVF trade when the codebook is
    coarse.  This corpus is near-isotropic (no tight clusters), the
    worst case for IVF: measured recall@10 with scaled K/probes is
    0.95 at (n=500, K=22) and 0.938 at (n=2000, K=44), floor-tested at
    both scales.  On clustered real embeddings the same plan probes a
    far smaller fraction for the same recall; the plan shape
    (broadcast codebook, cell-bucketed candidate join) is what carries
    to 100 TB.

    Every join is broadcast or bucketed on cell_id; corpus never
    shuffles more than once. Recall vs the exact baseline is measured in
    tests (rows-only correctness by design — IVF recall < 1) and
    driver-hash-verified through the oracle'd audit twin
    `audit_ivf_recall` (operators/audits.py), whose DuckDB side
    re-derives this whole pipeline from the portable codebook hash."""
    from bigbugdata_spark.functions.fragments import (
        scaled_ivf_k,
        scaled_n_probe,
    )

    corpus = _corpus(spark, sf_dir)
    k = scaled_ivf_k(corpus.count())
    cents = ivf_cents(corpus, k=k)
    assign = ivf_assign(corpus, cents, k=k)
    queries = ivf_queries(corpus)
    probes = ivf_probes(queries, cents, n_probe=scaled_n_probe(k))
    cand = ivf_candidates(probes, assign)
    scored = (
        cand.join(corpus, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                H.dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cos_sim"),
        )
    )
    w_top = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w_top))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("int").alias("rnk"))
    )


@register(
    "sim_label_pair_stats",
    oracle=f"""
        WITH p AS (
            SELECT a.label, {_COS_AB} AS cos_sim
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE a.vec_id < 150 AND b.vec_id < 150
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(*) FILTER (cos_sim >= 0.2) AS BIGINT) AS n_ge_02,
               CAST(COUNT(*) FILTER (cos_sim >= 0.3) AS BIGINT) AS n_ge_03,
               MAX(cos_sim) AS max_cos
        FROM p GROUP BY label
    """,
    tags=("similarity", "agg"),
)
def sim_label_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-label pairwise-similarity profile (cluster-cohesion audit):
    pairs are BLOCKED on the label column — the equi-join key — so cost
    is sum of per-label squares, not corpus^2. Aggregates are chosen to
    be order-independent (counts + MAX, never a fp SUM across an
    unordered shuffle) so the oracle hash-matches deterministically."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    a = e.select(
        "label",
        F.col("vec_id").alias("v1"),
        F.col("embedding").alias("e1"),
        H.norm(F.col("embedding")).alias("n1"),
    )
    b = e.select(
        F.col("label").alias("label_b"),
        F.col("vec_id").alias("v2"),
        F.col("embedding").alias("e2"),
        H.norm(F.col("embedding")).alias("n2"),
    )
    pairs = a.join(
        b, (F.col("label") == F.col("label_b")) & (F.col("v1") < F.col("v2"))
    ).select(
        "label",
        (H.dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2"))).alias(
            "cos_sim"
        ),
    )
    return pairs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("cos_sim") >= 0.2, 1).otherwise(0))
        .cast("long")
        .alias("n_ge_02"),
        F.sum(F.when(F.col("cos_sim") >= 0.3, 1).otherwise(0))
        .cast("long")
        .alias("n_ge_03"),
        F.max("cos_sim").alias("max_cos"),
    )


# ---------------------------------------------------------------------------
# Similarity round-3 additions — the VECTORIZED Arrow path for exact
# top-k (the north star names it explicitly: "F.aggregate/F.zip_with for
# the dot product, or a vectorized Pandas UDF"). `sim_cosine_topk` is the
# all-built-in JVM formulation; this module adds the mapInPandas + numpy
# blocked-matmul twin — the shape that wins once the score matrix is the
# bottleneck (wide embeddings, large |Q|): one BLAS matmul per Arrow batch
# replaces |Q| x dim zip_with evaluations per row.
#
# Rows-only by design — numpy
# sums reduce in a different order than the oracle's left-to-right fp64
# chain, so scores differ in final ulps and a hash compare is the wrong
# contract. The binding contract is tests/test_extensions.py (identical
# (query, neighbor, rank) sets to the exact oracle-checked baseline),
# driver-hash-verified through the oracle'd audit twin `audit_np_parity`
# (operators/audits.py).
# ---------------------------------------------------------------------------


@register("sim_cosine_topk_np", tags=("similarity", "vector", "window"))
def sim_cosine_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul.

    Plan: the query matrix (|Q| x dim, tiny) is captured in the UDF
    closure (a broadcast in cluster terms); each Arrow batch of the
    corpus becomes one (batch x dim) @ (dim x |Q|) BLAS call, and the
    batch emits only its LOCAL top-k rows per query — the partial-top-k
    pushdown that keeps the global window input at
    partitions x |Q| x k rows instead of corpus x |Q|. One corpus scan,
    no corpus shuffle, one tiny window exchange. The driver-side collect
    is the |Q|=8 query vectors — bounded by contract."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qrows = sorted(
        emb.filter(F.col("vec_id") < N_QUERIES).collect(),
        key=lambda r: r.vec_id,
    )
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qm = np.array([r.embedding for r in qrows], dtype=np.float64)
    q_nrm = np.sqrt((qm * qm).sum(axis=1))

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            nrm = np.sqrt((m * m).sum(axis=1))
            s = (m @ qm.T) / np.outer(nrm, q_nrm)  # (batch, |Q|)
            out = []
            for qi in range(len(q_ids)):
                col = s[:, qi]
                mask = ids != q_ids[qi]  # a query is not its own neighbor
                cand_idx = np.nonzero(mask)[0]
                if cand_idx.size == 0:
                    continue
                k = min(TOP_K, cand_idx.size)
                top = cand_idx[np.argpartition(-col[cand_idx], k - 1)[:k]]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": q_ids[qi],
                            "neighbor_id": ids[top],
                            "cos_sim": col[top],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    cand = emb.mapInPandas(
        score_batches, "query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("int").alias("rnk")
        )
    )


# ---------------------------------------------------------------------------
# IVF SQL fragments shared by the oracles: the audit twins in audits.py,
# the IVF-PQ audit below and the kNN-graph oracle in similarity_graph.py.
# ---------------------------------------------------------------------------


# Shared CTE prefix: corpus with norms, the affine-hash codebook (the
# reason similarity.py uses a portable hash instead of xxhash64), and the
# query set. Reused by both the IVF and the np-parity audit oracles.
SIM_CORPUS_SQL = f"""
    corpus AS (
        SELECT vec_id, embedding, {H.sql_norm('embedding', EMB_DIM)} AS nrm
        FROM embeddings
    ),
    queries AS (
        SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
        FROM corpus WHERE vec_id < {N_QUERIES}
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, co.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {H.sql_dot('q.q_emb', 'co.embedding', EMB_DIM)}
                                / (q.q_nrm * co.nrm) DESC,
                                co.vec_id ASC
                   ) AS rnk
            FROM queries q JOIN corpus co ON co.vec_id != q.query_id
        ) WHERE rnk <= {TOP_K}
    )
"""


def _routed_pairs_sql(
    src: str, src_id: str, src_emb: str, src_nrm: str
) -> str:
    """The two-level router as a SQL fragment: DISTINCT ({src_id},
    cell_id) pairs reachable from `src` through its SUP_PROBE best
    supercells.  Mirrors similarity._routed_cells steps 1-2."""
    return f"""(
            SELECT DISTINCT vs.{src_id}, cs.cell_id FROM (
                SELECT {src_id}, sup_id FROM (
                    SELECT v.{src_id}, s.sup_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY v.{src_id}
                               ORDER BY {H.sql_dot(f'v.{src_emb}', 's.s_emb', EMB_DIM)}
                                        / (v.{src_nrm} * s.s_nrm) DESC,
                                        s.sup_id ASC
                           ) AS vrn
                    FROM {src} v CROSS JOIN supers s
                ) WHERE vrn <= {SUP_PROBE}
            ) vs JOIN cell_sup cs ON vs.sup_id = cs.sup_id
        )"""


def ivf_stages_sql(
    q: str = "queries",
    n_probe: int | None = None,
    k_sql: str | None = None,
    routed_probes: bool = False,
) -> str:
    """cents/supers/cell_sup/assign/probes/cand: the IVF
    candidate-generation stages as SQL, parameterized on the query-side
    CTE name, probe width, codebook-size rule, and probe routing —
    shared by this module's audit, similarity_pq.py's audit, and the
    all-nodes kNN-graph oracle (similarity_knn.py, which probes
    fewer cells, uses every corpus vector as a query, sizes cells to a
    constant row target, and routes its probes).  n_probe None mirrors
    the Spark default (fragments.sql_scaled_n_probe); k_sql None
    mirrors scaled_ivf_k, so both engines derive K AND the probe width
    from the same COUNT(*).

    Assignment is TWO-LEVEL routed (r12, VERDICT r11 #1a), mirroring
    similarity._routed_cells exactly: supercells are the first
    ceil(sqrt(K)) cells of the sampling order, each cell registers
    under its SUP_ASSIGN nearest supercells, and a vector ranks only
    the cells reachable through its SUP_PROBE best supercells."""
    probe_expr = (
        sql_scaled_n_probe("corpus") if n_probe is None else str(n_probe)
    )
    k_expr = sql_scaled_ivf_k("corpus") if k_sql is None else k_sql
    if routed_probes:
        probes_sql = f"""
    probes AS (
        SELECT query_id, cell_id FROM (
            SELECT r.query_id, r.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY r.query_id
                       ORDER BY {H.sql_dot('q2.q_emb', 'ct.c_emb', EMB_DIM)}
                                / (q2.q_nrm * ct.c_nrm) DESC,
                                r.cell_id ASC
                   ) AS prn
            FROM {_routed_pairs_sql(q, 'query_id', 'q_emb', 'q_nrm')} r
            JOIN {q} q2 ON q2.query_id = r.query_id
            JOIN cents ct ON ct.cell_id = r.cell_id
        ) WHERE prn <= {probe_expr}
    )"""
    else:
        probes_sql = f"""
    probes AS (
        SELECT query_id, cell_id FROM (
            SELECT q.query_id, ct.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {H.sql_dot('q.q_emb', 'ct.c_emb', EMB_DIM)}
                                / (q.q_nrm * ct.c_nrm) DESC,
                                ct.cell_id ASC
                   ) AS prn
            FROM {q} q CROSS JOIN cents ct
        ) WHERE prn <= {probe_expr}
    )"""
    return f"""
    cents AS MATERIALIZED (
        SELECT vec_id AS cell_id, embedding AS c_emb, nrm AS c_nrm,
               ROW_NUMBER() OVER (
                   ORDER BY {IVF_CODEBOOK_HASH_SQL}, vec_id
               ) AS cpos
        FROM corpus ORDER BY {IVF_CODEBOOK_HASH_SQL}, vec_id
        LIMIT {k_expr}
    ),
    supers AS MATERIALIZED (
        SELECT cell_id AS sup_id, c_emb AS s_emb, c_nrm AS s_nrm
        FROM cents WHERE cpos <= {sql_sup_count(k_expr)}
    ),
    cell_sup AS MATERIALIZED (
        SELECT cell_id, sup_id FROM (
            SELECT c.cell_id, s.sup_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.cell_id
                       ORDER BY {H.sql_dot('c.c_emb', 's.s_emb', EMB_DIM)}
                                / (c.c_nrm * s.s_nrm) DESC,
                                s.sup_id ASC
                   ) AS srn
            FROM cents c CROSS JOIN supers s
        ) WHERE srn <= {SUP_ASSIGN}
    ),
    assign AS (
        SELECT vec_id, cell_id FROM (
            SELECT r.vec_id, r.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY r.vec_id
                       ORDER BY {H.sql_dot('c.embedding', 'ct.c_emb', EMB_DIM)}
                                / (c.nrm * ct.c_nrm) DESC,
                                r.cell_id ASC
                   ) AS arn
            FROM {_routed_pairs_sql('corpus', 'vec_id', 'embedding', 'nrm')} r
            JOIN corpus c ON c.vec_id = r.vec_id
            JOIN cents ct ON ct.cell_id = r.cell_id
        ) WHERE arn <= {IVF_ASSIGN}
    ),{probes_sql},
    cand AS (
        SELECT DISTINCT p.query_id, a.vec_id
        FROM probes p JOIN assign a ON p.cell_id = a.cell_id
        WHERE a.vec_id != p.query_id
    )
"""


# The default-shaped stages (8-query CTE, corpus-scaled probe width),
# kept as the constant its existing consumers import.
IVF_STAGES_SQL = ivf_stages_sql()


# ---------------------------------------------------------------------------
# IVF-PQ approximate nearest neighbor (round 6) — the canonical
# compressed vector index for corpus sizes where even the inverted file's
# candidate vectors are too many bytes to score exactly first-pass.
#
# Three stages, all engine-portable and deterministic:
#
# 1. IVF candidate generation (shared stage builders from
#    operators/similarity.py): hash-sampled codebook -> redundant
#    assignment -> nprobe probed cells.
# 2. PQ ADC scoring: every corpus vector is encoded ONCE as M=16 subspace
#    codes (argmin squared-L2 against the PQ_K=64 codebook vectors'
#    subvectors — a 6-bit code per subspace, 96 bits / 12 bytes per
#    vector, ~21x smaller than the 256-byte float vector). A query builds
#    an M x PQ_K lookup table of subspace dot products; a candidate's
#    estimated dot is the sum of M table lookups — no touching the
#    original vector. Estimated cosine divides by TRUE stored norms
#    (the "PQ codes + exact norms" variant).
# 3. Exact re-rank: the PQ_RERANK best ADC candidates per query are
#    scored with the exact cosine; the top-k of those is the answer — so
#    emitted scores are exact, and PQ/IVF error can only MISS neighbors,
#    never corrupt a score. Measured recall@10 at sf0.01: 0.925 (the IVF
#    candidate stage alone allows 0.963; the config sweep is recorded at
#    the knobs in functions/fragments.py).
#
# Scale story (the reason this exists): at 100 TB the embedding column is
# the dominant I/O — PQ reads 12 bytes + one float norm per candidate
# instead of 256 bytes of floats, and the ADC sum is M lookups instead of
# a dim-length multiply-add. The codes table is built in one corpus scan
# (O(n * K * dim) with K constant), is ~21x smaller than the vectors, and
# at real scale is what you'd persist bucketed by cell_id.
#
# Determinism discipline: the ADC sum orders its M terms explicitly
# (array_sort by subspace index -> left-to-right fp64 reduce; DuckDB
# list(... ORDER BY m) -> list_reduce) because a plain SUM over a shuffle
# reduces in plan-dependent order — fp addition is not associative, and
# the audit twin's hash compare needs bit-identical estimates.
#
# No analog in the reference (its only lookups are hash-set probes); this
# is LLM-pipeline extension surface per the north star's "IVF or LSH
# bucketed variant as the scale path", composed with the audit-twin
# verification pattern from operators/audits.py.
# ---------------------------------------------------------------------------


def pq_cents(corpus: DataFrame) -> DataFrame:
    """The PQ_K hash-sampled PQ codebook — the same ivf_cents sampling
    order (the IVF codebook and this one are prefixes of one
    deterministic sample; whichever is longer subsumes the shorter —
    one ordering definition, see ivf_cents)."""
    return ivf_cents(corpus, k=PQ_K)


def _pq_codes(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, m, code): the PQ code book assignment — for each of the
    M subspaces, the cell_id of the codebook vector whose subvector is
    squared-L2-nearest (tie-break cell_id asc). One corpus x codebook
    cross (broadcast, K constant) -> M min_by aggregates in ONE hash
    agg pass."""
    cross = corpus.join(F.broadcast(cents), F.lit(True)).select(
        "vec_id",
        "cell_id",
        *[
            H.l2_slice(
                F.col("embedding"), F.col("c_emb"), m * PQ_SUBDIM, PQ_SUBDIM
            ).alias(f"d{m}")
            for m in range(PQ_M)
        ],
    )
    coded = cross.groupBy("vec_id").agg(
        *[
            F.min_by("cell_id", F.struct(F.col(f"d{m}"), F.col("cell_id"))).alias(
                f"code{m}"
            )
            for m in range(PQ_M)
        ]
    )
    codes_long = coded.select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"code{m}") for m in range(PQ_M)])).alias(
            "m", "code"
        ),
    )
    return codes_long


def _pq_lut(queries: DataFrame, cents: DataFrame) -> DataFrame:
    """(query_id, m, cell_id, l): subspace dot products of each query
    against each codebook vector — |Q| x M x K rows, broadcast-size."""
    cross = queries.join(F.broadcast(cents), F.lit(True))
    return cross.select(
        "query_id",
        "cell_id",
        F.posexplode(
            F.array(
                *[
                    H.dot_slice(
                        F.col("q_emb"), F.col("c_emb"), m * PQ_SUBDIM, PQ_SUBDIM
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("m", "l"),
    ).select("query_id", "m", "cell_id", "l")


# Rows-only by design (PQ-ADC ranking is not ANSI-SQL-expressible at
# reasonable cost): verified through its oracle'd twin audit_pq_recall.
@register("sim_ivfpq_topk", tags=("similarity", "vector", "window"))
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k (module docstring has the full design): IVF
    candidates -> ADC estimate from 6-bit-per-subspace codes + true
    norms -> exact re-rank of the PQ_RERANK best -> exact top-k.

    Output schema matches sim_cosine_topk; scores are EXACT cosines
    (re-rank stage), so approximation shows up only as missing
    neighbors — measured by the recall test and the oracle'd audit twin
    `audit_pq_recall`. Rows-only registration by design (recall < 1)."""
    corpus = _corpus(spark, sf_dir)
    cents = ivf_cents(corpus)
    assign = ivf_assign(corpus, cents)
    queries = ivf_queries(corpus)
    probes = ivf_probes(queries, cents)
    cand = ivf_candidates(probes, assign)

    pq_cb = pq_cents(corpus)
    codes = _pq_codes(corpus, pq_cb)
    lut = _pq_lut(queries, pq_cb)
    # ADC: sum the M lookup terms in EXPLICIT m order (see module
    # docstring — a bare SUM would reduce in plan-dependent fp order)
    lut_by_code = lut.select(
        "query_id", "m", F.col("cell_id").alias("code"), "l"
    )
    est = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut_by_code), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("m"), F.col("l")))),
                    lambda x: x["l"],
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("est_dot")
        )
    )
    norms = corpus.select("vec_id", "nrm")
    q_norms = queries.select("query_id", "q_nrm")
    est_cos = (
        est.join(norms, "vec_id")
        .join(F.broadcast(q_norms), "query_id")
        .select(
            "query_id",
            "vec_id",
            (F.col("est_dot") / (F.col("q_nrm") * F.col("nrm"))).alias("est_cos"),
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("est_cos"), F.asc("vec_id")
    )
    shortlist = (
        est_cos.withColumn("arn", F.row_number().over(w_adc))
        .filter(F.col("arn") <= PQ_RERANK)
        .select("query_id", "vec_id")
    )
    # exact re-rank of the shortlist
    rescored = (
        shortlist.join(corpus, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                H.dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cos_sim"),
        )
    )
    w_top = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        rescored.withColumn("rnk", F.row_number().over(w_top))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("int").alias("rnk")
        )
    )


# --------------------------------------------------------------------------
# oracle'd audit twin: DuckDB re-derives the ENTIRE IVF-PQ pipeline
# --------------------------------------------------------------------------

_PQ_MS_SQL = ", ".join(f"({m})" for m in range(PQ_M))

_PQ_AUDIT_SQL = f"""
    WITH {SIM_CORPUS_SQL},
    {IVF_STAGES_SQL},
    ms(m) AS (VALUES {_PQ_MS_SQL}),
    pq_cents AS (
        SELECT vec_id AS cell_id, embedding AS c_emb, nrm AS c_nrm
        FROM corpus ORDER BY {IVF_CODEBOOK_HASH_SQL}, vec_id LIMIT {PQ_K}
    ),
    codes AS (
        SELECT vec_id, m, cell_id AS code FROM (
            SELECT c.vec_id, s.m, ct.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.vec_id, s.m
                       ORDER BY {H.sql_l2_slice('c.embedding', 'ct.c_emb', 's.m*' + str(PQ_SUBDIM), PQ_SUBDIM)} ASC,
                                ct.cell_id ASC
                   ) AS rn
            FROM corpus c CROSS JOIN pq_cents ct CROSS JOIN ms s
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT q.query_id, s.m, ct.cell_id,
               {H.sql_dot_slice('q.q_emb', 'ct.c_emb', 's.m*' + str(PQ_SUBDIM), PQ_SUBDIM)} AS l
        FROM queries q CROSS JOIN pq_cents ct CROSS JOIN ms s
    ),
    est AS (
        SELECT cd.query_id, cd.vec_id,
               list_reduce(
                   list_prepend(0.0, list(lut.l ORDER BY codes.m)),
                   (acc, v) -> acc + v
               ) AS est_dot
        FROM cand cd
        JOIN codes ON codes.vec_id = cd.vec_id
        JOIN lut ON lut.query_id = cd.query_id
               AND lut.m = codes.m AND lut.cell_id = codes.code
        GROUP BY cd.query_id, cd.vec_id
    ),
    shortlist AS (
        SELECT query_id, vec_id FROM (
            SELECT e.query_id, e.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.query_id
                       ORDER BY e.est_dot / (q.q_nrm * co.nrm) DESC,
                                e.vec_id ASC
                   ) AS arn
            FROM est e
            JOIN corpus co ON co.vec_id = e.vec_id
            JOIN queries q ON q.query_id = e.query_id
        ) WHERE arn <= {PQ_RERANK}
    ),
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT sl.query_id, co.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY sl.query_id
                       ORDER BY {H.sql_dot('q.q_emb', 'co.embedding', EMB_DIM)}
                                / (q.q_nrm * co.nrm) DESC,
                                co.vec_id ASC
                   ) AS rnk
            FROM shortlist sl
            JOIN corpus co ON co.vec_id = sl.vec_id
            JOIN queries q ON q.query_id = sl.query_id
        ) WHERE rnk <= {TOP_K}
    )
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_overlap
    FROM exact e LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
"""


@register("audit_pq_recall", oracle=_PQ_AUDIT_SQL, tags=("audit", "similarity"))
def audit_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the IVF-PQ index: per query, |exact top-k| and
    |IVF-PQ top-k ∩ exact top-k| as exact integers; the oracle
    re-derives codebook, codes, ADC lookup sums (in explicit subspace
    order — see module docstring), shortlist and re-rank entirely in
    SQL. Same shape and rationale as audit_ivf_recall."""
    exact = sim_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        sim_ivfpq_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("hit").cast("long").alias("n_overlap"),
        )
    )


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance selection (round 11) — the diversity
# sampler a curation/eval pipeline runs where plain top-k returns k
# near-duplicates: greedily pick MMR_K vectors maximizing
# 0.7 * relevance - 0.3 * max-similarity-to-already-selected, so each
# pick is relevant to the probe query AND far from everything picked
# before.  The standard Carbonell-Goldstein MMR, and the query-time
# complement of sim_semantic_keep's corpus-side diversity rule — one
# builds the dedup'd corpus, this builds a diverse WORKING SET (few-shot
# pools, eval seeds, annotation batches).
#
# No analog in the reference (SURVEY §2.1); similarity extension
# surface, the fifth driver-controlled/executor-executed iterative
# operator (kmeans, connected components, BPE, PageRank precedent).
#
# Determinism (the repo's iterative discipline): every cosine is the
# shared left-to-right fp64 dot (identical expression trees both
# engines), the 0.7/0.3 blend is two fp64 literal multiplies of
# identical inputs, MAX is order-free, and ties break (score DESC,
# vec_id ASC) — so both engines pick the identical sequence and the
# oracle unrolls the identical MMR_K rounds in SQL.  The reported score
# is pinned to integer micro-units.
#
# Scale posture: relevance is ONE corpus scan against the broadcast
# query vector, checkpointed; each round joins the corpus-sized
# candidate frame against the <= MMR_K selected vectors (a literal
# broadcast rebuilt from driver-held rows) and takes a
# TakeOrderedAndProject argmax — one small job per round, one-row
# collects only (the kmeans/BPE pattern).  At 100 TB the candidate
# frame would first be pruned to an ANN shortlist (sim_ivf_topk); the
# greedy loop itself only ever holds MMR_K rows of driver state.
# ---------------------------------------------------------------------------


MMR_K = 8
_LAM, _ONE_MINUS_LAM = "0.7", "0.3"  # fp64 literals, identical both engines

# Every CTE is AS MATERIALIZED: each round references the previous
# selection 2-3 times, and DuckDB's default CTE inlining re-expands
# the whole chain per reference — exponential in MMR_K (measured: the
# un-hinted oracle ran minutes-plus at sf0.001; materialized, 0.5 s).
_CORPUS_CTE = f"""
    corpus AS MATERIALIZED (
        SELECT vec_id, embedding,
               {H.sql_norm('embedding', EMB_DIM)} AS nrm
        FROM embeddings
    ),
    q AS MATERIALIZED (
        SELECT embedding AS q_emb, nrm AS q_nrm FROM corpus WHERE vec_id = 0
    ),
    cand AS MATERIALIZED (
        SELECT c.vec_id, c.embedding, c.nrm,
               {H.sql_dot('c.embedding', 'q.q_emb', EMB_DIM)}
                   / (c.nrm * q.q_nrm) AS rel
        FROM corpus c CROSS JOIN q
        WHERE c.vec_id >= {N_QUERIES}
    )"""


def _sql_round(r: int) -> str:
    """CTEs for round r >= 2: per-candidate max similarity to the
    selected set, the blended argmax, and the grown selection."""
    pen_dot = H.sql_dot("c.embedding", "s.embedding", EMB_DIM)
    return f"""
    p{r} AS MATERIALIZED (
        SELECT c.vec_id, MAX({pen_dot} / (c.nrm * s.nrm)) AS pen
        FROM cand c
        JOIN cand s ON s.vec_id IN (SELECT vec_id FROM sel{r - 1})
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
        GROUP BY c.vec_id
    ),
    b{r} AS MATERIALIZED (
        SELECT CAST({r} AS BIGINT) AS step, c.vec_id,
               {_LAM} * c.rel - {_ONE_MINUS_LAM} * p.pen AS score
        FROM cand c JOIN p{r} p ON c.vec_id = p.vec_id
        ORDER BY score DESC, c.vec_id ASC LIMIT 1
    ),
    sel{r} AS MATERIALIZED (
        SELECT vec_id FROM sel{r - 1} UNION ALL SELECT vec_id FROM b{r}
    )"""


_MMR_SQL = (
    f"""
    WITH {_CORPUS_CTE},
    b1 AS MATERIALIZED (
        SELECT CAST(1 AS BIGINT) AS step, vec_id, rel AS score
        FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1
    ),
    sel1 AS MATERIALIZED (SELECT vec_id FROM b1),"""
    + ",".join(_sql_round(r) for r in range(2, MMR_K + 1))
    + f"""
    SELECT step, vec_id,
           CAST(ROUND(score * 1000000) AS BIGINT) AS score_ppm
    FROM ({" UNION ALL ".join(f"SELECT * FROM b{r}" for r in range(1, MMR_K + 1))})
    """
)


@register(
    "sim_mmr_topk",
    oracle=_MMR_SQL,
    tags=("similarity", "vector", "iterative"),
)
def sim_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(step, vec_id, score_ppm): the MMR_K greedy diversity picks
    against query vector 0 — step 1 is pure relevance, later steps
    blend 0.7*rel - 0.3*max-cos-to-selected; ties to the smaller id."""
    corpus = _corpus(spark, sf_dir)
    q = corpus.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    cand = (
        corpus.filter(F.col("vec_id") >= N_QUERIES)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            "nrm",
            (
                H.dot(F.col("embedding"), F.col("q_emb"))
                / (F.col("nrm") * F.col("q_nrm"))
            ).alias("rel"),
        )
        .localCheckpoint()
    )
    picks: list[tuple[int, int, float]] = []  # (step, vec_id, score)
    sel_rows: list = []  # driver-held selected (vec_id, embedding, nrm)
    for step in range(1, MMR_K + 1):
        if not sel_rows:
            scored = cand.select("vec_id", F.col("rel").alias("score"))
        else:
            sel_df = spark.createDataFrame(
                sel_rows, "s_id long, s_emb array<float>, s_nrm double"
            )
            remaining = cand.filter(
                ~F.col("vec_id").isin([r[0] for r in sel_rows])
            )
            pen = (
                remaining.crossJoin(F.broadcast(sel_df))
                .select(
                    "vec_id",
                    "rel",
                    (
                        H.dot(F.col("embedding"), F.col("s_emb"))
                        / (F.col("nrm") * F.col("s_nrm"))
                    ).alias("sim"),
                )
                .groupBy("vec_id", "rel")
                .agg(F.max("sim").alias("pen"))
            )
            scored = pen.select(
                "vec_id",
                (
                    F.lit(float(_LAM)) * F.col("rel")
                    - F.lit(float(_ONE_MINUS_LAM)) * F.col("pen")
                ).alias("score"),
            )
        best = (
            scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(1).collect()
        )
        if not best:
            break
        vid, score = best[0]["vec_id"], best[0]["score"]
        picks.append((step, vid, score))
        emb_row = cand.filter(F.col("vec_id") == vid).select(
            "vec_id", "embedding", "nrm"
        ).collect()[0]
        sel_rows.append((emb_row[0], emb_row[1], emb_row[2]))
    return spark.createDataFrame(
        [(s, v, sc) for s, v, sc in picks], "step long, vec_id long, score double"
    ).select(
        "step",
        "vec_id",
        F.round(F.col("score") * 1_000_000).cast("long").alias("score_ppm"),
    )


# ---------------------------------------------------------------------------
# Incremental ANN index maintenance (round 8, VERDICT r7 #4) — the
# ingest-shaped twin for the similarity family, matching what
# dedup_incremental did for dedup: a new-embedding batch is assigned to
# the EXISTING IVF codebook without recomputing it, and the registered
# query is the per-cell assignment-delta accounting a production index
# maintainer publishes per ingest cycle ("cell 7 grew 12%; rebalance when
# drift exceeds threshold").
#
# Why the codebook is frozen: at 100 TB the coarse quantizer is trained
# once (or per rebuild window) and serves many ingest cycles — assignment
# of a daily batch is O(|batch| x sqrt(K)) with the two-level router,
# embarrassingly parallel, and requires NO corpus scan. Recomputing the
# codebook per batch would both cost a corpus scan and silently
# invalidate every stored assignment (cell ids shift), which is exactly
# the bug class the delta accounting would expose: n_after must equal
# n_before + n_added per cell, an invariant the oracle re-derives from
# scratch.
#
# Round 13 (VERDICT r12 #2): the registered query now does BATCH-SIZED
# work.  Through r12 it recomputed the full inverted file twice
# (before/after) to stay oracle-checkable — O(corpus) per ingest cycle,
# the round's probe-worst at 10x ratio 8.22.  The index generation
# machinery below (the dedup_incr.py precedent) persists the frozen
# codebook and the per-cell counts of the stored inverted file once per
# (corpus content, algorithm version); a warm cycle reads K codebook rows
# + K count rows, routes only the batch, and publishes the delta.  The
# full from-scratch recompute now lives ONLY in the DuckDB oracle — so a
# persisted generation that drifted from the corpus (stale codebook,
# dropped vector, shifted cell id) still shifts the integers and fails
# the hash compare.
#
# The batch slice is a deterministic ~10% affine-hash of vec_id (fresh
# constants — must not correlate with the codebook-sampling hash or any
# doc-side slice), standing in for the daily arrival exactly as
# dedup_incremental's slice does.
#
# No analog in the reference (SURVEY §2.1); ANN extension surface.
# ---------------------------------------------------------------------------


# deterministic affine-hash "today's batch" predicate (~10% of vectors)
_VINC_A, _VINC_B, _VINC_P = 123_457, 77_713, 1_000_000_007
_VINC_MOD, _VINC_REM = 10, 4
_VINC_PRED_SQL = (
    f"((vec_id * {_VINC_A} + {_VINC_B}) % {_VINC_P}) % {_VINC_MOD} = {_VINC_REM}"
)


def incoming_vec_col():
    return (
        (F.col("vec_id") * _VINC_A + _VINC_B) % _VINC_P % _VINC_MOD
        == _VINC_REM
    )


# --- persisted IVF index generation (round 13, VERDICT r12 #2) -------------

_IVF_CB_PREFIX = "ivfgen_cb_"
_IVF_CNT_PREFIX = "ivfgen_cnt_"

#: build-algorithm version, suffixed to the generation fingerprint
#: exactly as similarity_graph_core._ALGO_V: the corpus fingerprint
#: alone would adopt a generation built by older assignment math (same
#: data, different cells).  The suffix keeps the first-8-chars PATH
#: component intact, which is what sweep_stale_generations scopes on.
#: Bump whenever codebook sampling or routed assignment changes.
_IVF_ALGO_V = "-a1"


def ivf_generation_fp(sf_dir: str) -> str:
    """Fingerprint of the persisted IVF generation for `sf_dir`'s
    embeddings: corpus content fingerprint + build-algorithm version —
    the ONE definition bench hooks and tests must share."""
    return _corpus_fingerprint(sf_dir, "embeddings.parquet") + _IVF_ALGO_V


def _existing_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigbugdata_spark.catalog import table

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", H.norm(F.col("embedding")).alias("nrm")
    )
    return e.filter(~incoming_vec_col())


def ivf_index_generation(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(codebook, cell_counts) — the persisted IVF index generation:

      ivfgen_cb_<fp>   (cell_id, c_emb, c_nrm, cpos)  the frozen
                       codebook, K ~ sqrt(n) rows — what a serving
                       deployment loads instead of re-deriving;
      ivfgen_cnt_<fp>  (cell_id, n_before)            per-cell sizes of
                       the stored inverted file (the existing slice's
                       routed assignments), K rows of metadata a real
                       index maintainer keeps next to the postings.

    Built ONCE per (corpus content, _IVF_ALGO_V) — the one O(corpus)
    pass — then adopted by every later session (dedup_incr.py's
    amortized-nightly-build shape).  The write is tmp-dir + rename per
    location, with adoption gated on BOTH _SUCCESS markers, so a reader
    never observes a half-written generation (a partial crash leaves at
    most one location renamed, which fails the gate and rebuilds).
    Same-corpus stale generations (regenerated data or older algorithm
    version) are swept at build time."""
    from pathlib import Path

    fp = ivf_generation_fp(sf_dir)
    cb_loc = Path(index_path(f"{_IVF_CB_PREFIX}{fp}"))
    cnt_loc = Path(index_path(f"{_IVF_CNT_PREFIX}{fp}"))
    # reap dead sessions' build tmps / debris (age-gated; a live
    # concurrent build reads fresh and is spared)
    collect_abandoned_siblings(cb_loc)
    collect_abandoned_siblings(cnt_loc)
    if not (
        (cb_loc / "_SUCCESS").exists() and (cnt_loc / "_SUCCESS").exists()
    ):
        from bigbugdata_spark.functions.fragments import scaled_ivf_k

        ensure_index_root()
        sweep_stale_generations(spark, (_IVF_CB_PREFIX, _IVF_CNT_PREFIX), fp)
        existing = _existing_corpus(spark, sf_dir)
        k = scaled_ivf_k(existing.count())
        cents = ivf_cents(existing, k=k)
        # unique per-builder tmps (r14 review): concurrent same-fp
        # builders must not clobber each other's in-progress writes
        cb_tmp = build_tmp_path(cb_loc)
        cents.write.mode("overwrite").parquet(str(cb_tmp))
        # counts derive from the WRITTEN codebook (the artifact is the
        # truth the warm path will read, not the plan that produced it)
        counts = (
            ivf_assign(existing, spark.read.parquet(str(cb_tmp)), k=k)
            .groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n_before"))
        )
        cnt_tmp = build_tmp_path(cnt_loc)
        counts.write.mode("overwrite").parquet(str(cnt_tmp))
        # race-safe publish (ADVICE r13 #1): a concurrent same-
        # fingerprint winner's artifact is adopted, not collided with
        publish_generation(cnt_tmp, cnt_loc)
        publish_generation(cb_tmp, cb_loc)
    return (
        spark.read.parquet(str(cb_loc)),
        spark.read.parquet(str(cnt_loc)),
    )


def _assign_sql(src: str) -> str:
    """Two-level routed assignment of `src` against the frozen codebook
    (mirrors similarity._routed_cells / audits.ivf_stages_sql, r12):
    rank only the cells reachable through the vector's SUP_PROBE best
    supercells."""
    return f"""
        SELECT vec_id, cell_id FROM (
            SELECT r.vec_id, r.cell_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY r.vec_id
                       ORDER BY {H.sql_dot('s.embedding', 'ct.c_emb', EMB_DIM)}
                                / (s.nrm * ct.c_nrm) DESC,
                                r.cell_id ASC
                   ) AS arn
            FROM {_routed_pairs_sql(src, 'vec_id', 'embedding', 'nrm')} r
            JOIN {src} s ON s.vec_id = r.vec_id
            JOIN cents ct ON ct.cell_id = r.cell_id
        ) WHERE arn <= {IVF_ASSIGN}
"""


@register(
    "sim_ivf_incremental_assign",
    oracle=f"""
        WITH corpus AS (
            SELECT vec_id, embedding,
                   {H.sql_norm('embedding', EMB_DIM)} AS nrm
            FROM embeddings
        ),
        existing AS (SELECT * FROM corpus WHERE NOT ({_VINC_PRED_SQL})),
        batch AS (SELECT * FROM corpus WHERE {_VINC_PRED_SQL}),
        cents AS MATERIALIZED (
            SELECT vec_id AS cell_id, embedding AS c_emb, nrm AS c_nrm,
                   ROW_NUMBER() OVER (
                       ORDER BY {IVF_CODEBOOK_HASH_SQL}, vec_id
                   ) AS cpos
            FROM existing ORDER BY {IVF_CODEBOOK_HASH_SQL}, vec_id
            LIMIT {sql_scaled_ivf_k('existing')}
        ),
        supers AS MATERIALIZED (
            SELECT cell_id AS sup_id, c_emb AS s_emb, c_nrm AS s_nrm
            FROM cents
            WHERE cpos <= {sql_sup_count(sql_scaled_ivf_k('existing'))}
        ),
        cell_sup AS MATERIALIZED (
            SELECT cell_id, sup_id FROM (
                SELECT c.cell_id, s.sup_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.cell_id
                           ORDER BY {H.sql_dot('c.c_emb', 's.s_emb', EMB_DIM)}
                                    / (c.c_nrm * s.s_nrm) DESC,
                                    s.sup_id ASC
                       ) AS srn
                FROM cents c CROSS JOIN supers s
            ) WHERE srn <= {SUP_ASSIGN}
        ),
        a_old AS ({_assign_sql('existing')}),
        a_new AS ({_assign_sql('batch')}),
        unioned AS (
            SELECT cell_id, 0 AS is_new FROM a_old
            UNION ALL
            SELECT cell_id, 1 AS is_new FROM a_new
        )
        SELECT cell_id,
               CAST(SUM(1 - is_new) AS BIGINT) AS n_before,
               CAST(SUM(is_new) AS BIGINT) AS n_added,
               CAST(COUNT(*) AS BIGINT) AS n_after
        FROM unioned GROUP BY cell_id
    """,
    tags=("similarity", "vector", "agg"),
    index_writer=True,
)
def sim_ivf_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell assignment delta for one ingest cycle: n_before comes
    from the PERSISTED index generation (the stored inverted file's
    per-cell sizes — K rows, read not recomputed); the batch (~10%) is
    assigned against the persisted FROZEN codebook (n_added); n_after
    is the maintained inverted file's new size per cell.  The oracle
    re-derives codebook and BOTH assignment sets from scratch (portable
    affine codebook hash, two-level routed rank-over-cosine — the
    audit_ivf_recall machinery), so a persisted generation that
    silently drifted — stale codebook, dropped vector, shifted cell id
    — shifts the integers and fails the hash compare.

    Plan (warm cycle, the registered cost — VERDICT r12 #2): two K-row
    parquet reads (codebook + counts, both broadcastable) + ONE
    filter-pushed scan of the batch slice + the O(|batch| x sqrt(K))
    routed assignment + a full-outer join of two K-row frames.  No
    corpus scan: the one O(corpus) pass is the generation build,
    amortized across cycles/sessions exactly like dedup_incremental's
    gram index (its probe measures the same warm shape).  At 100 TB the
    generation is the index store a maintainer owns; the batch is the
    day's arrivals."""
    from bigbugdata_spark.caching import pin
    from bigbugdata_spark.catalog import table

    from bigbugdata_spark.functions.fragments import IVF_K

    cb, cnt = ivf_index_generation(spark, sf_dir)
    # K for routing (sup_count): the build used scaled_ivf_k(n) =
    # max(IVF_K, floor(sqrt(n))) but wrote min(K, n) codebook rows
    # (ivf_cents' LIMIT on a corpus smaller than the floor).  max with
    # the floor reconstructs the build's K EXACTLY for every n (n >=
    # 256: rows = K >= 16; 16 <= n < 256: rows = 16 = K; n < 16:
    # rows = n < 16, K = 16) — a bare cb.count() would shrink the
    # supercell prefix on a tiny corpus and diverge from the oracle's
    # routing (r13 review finding).
    k = max(IVF_K, cb.count())  # K-row parquet — a footer read
    # pinned: the routed assignment references the batch twice (router
    # + exact rescore) — one filtered scan, not two (caching contract)
    batch = pin(
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", H.norm(F.col("embedding")).alias("nrm"))
        .filter(incoming_vec_col())
    )
    added = (
        ivf_assign(batch, cb, k=k)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_added"))
    )
    return cnt.join(added, "cell_id", "full_outer").select(
        "cell_id",
        F.coalesce("n_before", F.lit(0)).cast("long").alias("n_before"),
        F.coalesce("n_added", F.lit(0)).cast("long").alias("n_added"),
        (F.coalesce("n_before", F.lit(0)) + F.coalesce("n_added", F.lit(0)))
        .cast("long")
        .alias("n_after"),
    )


# ---------------------------------------------------------------------------
# Batch-only IVF assignment (round 12) — the PRODUCTION ingest-cycle
# cost shape, registered so the scale probe can MEASURE the claim
# sim_ivf_incremental_assign's docstring makes: a real cycle assigns only
# the day's batch (~10% of the corpus) against the frozen codebook —
# O(|batch| * sqrt(K)) with the two-level router — while the delta-gate
# query recomputes the full inverted file only to make its invariant
# oracle-checkable.  This query IS that real cycle: batch in, per-cell
# additions out; its 10x probe ratio should track data growth (~2-4 with
# fixed overheads), an order below the full-recompute gate's ~7-8.
#
# Same frozen-codebook semantics, same deterministic batch slice, same
# two-level routed assignment as similarity_incr (whose SQL builders are
# imported — one definition).
#
# No analog in the reference (SURVEY §2.1); ANN extension surface.
# ---------------------------------------------------------------------------


# one definition of the slice predicate + routed assignment SQL

_BATCH_ASSIGN_ORACLE_SQL = f"""
    WITH corpus AS (
        SELECT vec_id, embedding,
               {H.sql_norm('embedding', EMB_DIM)} AS nrm
        FROM embeddings
    ),
    existing AS (SELECT * FROM corpus WHERE NOT ({_VINC_PRED_SQL})),
    batch AS (SELECT * FROM corpus WHERE {_VINC_PRED_SQL}),
    cents AS MATERIALIZED (
        SELECT vec_id AS cell_id, embedding AS c_emb, nrm AS c_nrm,
               ROW_NUMBER() OVER (
                   ORDER BY {IVF_CODEBOOK_HASH_SQL}, vec_id
               ) AS cpos
        FROM existing ORDER BY {IVF_CODEBOOK_HASH_SQL}, vec_id
        LIMIT {sql_scaled_ivf_k('existing')}
    ),
    supers AS MATERIALIZED (
        SELECT cell_id AS sup_id, c_emb AS s_emb, c_nrm AS s_nrm
        FROM cents
        WHERE cpos <= {sql_sup_count(sql_scaled_ivf_k('existing'))}
    ),
    cell_sup AS MATERIALIZED (
        SELECT cell_id, sup_id FROM (
            SELECT c.cell_id, s.sup_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.cell_id
                       ORDER BY {H.sql_dot('c.c_emb', 's.s_emb', EMB_DIM)}
                                / (c.c_nrm * s.s_nrm) DESC,
                                s.sup_id ASC
                   ) AS srn
            FROM cents c CROSS JOIN supers s
        ) WHERE srn <= {SUP_ASSIGN}
    ),
    a_new AS ({_assign_sql('batch')})
    SELECT cell_id,
           CAST(COUNT(*) AS BIGINT) AS n_added
    FROM a_new GROUP BY cell_id
"""


@register(
    "sim_ivf_batch_assign",
    oracle=_BATCH_ASSIGN_ORACLE_SQL,
    tags=("similarity", "vector", "agg"),
)
def sim_ivf_batch_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cell_id, n_added): the day's batch assigned to the frozen
    codebook — the per-cycle production work, nothing else.  The
    codebook is still derived from the existing slice in-query (a real
    deployment loads it from the index store; deriving it keeps the
    result oracle-checkable), but only the BATCH flows through the
    O(|batch| * sqrt(K)) routed assignment."""
    from bigbugdata_spark.catalog import table
    from bigbugdata_spark.functions.fragments import scaled_ivf_k

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", H.norm(F.col("embedding")).alias("nrm")
    )
    existing = e.filter(~incoming_vec_col())
    batch = e.filter(incoming_vec_col())
    k = scaled_ivf_k(existing.count())
    cents = ivf_cents(existing, k=k)
    return (
        ivf_assign(batch, cents, k=k)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_added"))
    )


# ---------------------------------------------------------------------------
# Embedding-space health diagnostics (round 8) — per-label cluster
# tightness over the embeddings table: how concentrated is each label's
# vector cloud around its centroid? The training-data counterpart of "is
# my encoder collapsing / are my labels separable", and the first table
# anyone profiles before trusting an embedding column for dedup or ANN.
#
# No analog in the reference (SURVEY §2.1); similarity-family extension
# surface next to emb_kmeans_assign / emb_quantize_int8.
#
# Determinism discipline (the similarity.py trick, applied to variance): all
# geometry runs over the shared int8 quantization
# (functions/quantization.py), where the scatter identity
#
#     sum_i ||q_i - s/n||^2  =  (n * sum_i ||q_i||^2 - ||s||^2) / n^2
#
# needs only exact BIGINT aggregates — per-row squared norms and per-
# dimension coordinate sums — so the mean squared distance is a single
# fp64 division of two exact integers and sqrt of it is one correctly-
# rounded IEEE op: hash-identical in both engines, with NO order-
# dependent float accumulation anywhere.
#
# Scale posture: one embeddings scan; the per-dimension centroid sums are
# a posexplode + map-side-combinable aggregate on a (|labels| x dim) key
# space, the row-norm roll-up a second tiny aggregate — both shuffle
# dataset-card-sized frames. At 100 TB nothing is driver-side and no
# vector ever pairs with another (this is the O(n) profile, not a join).
#
# Capacity bound (exactness contract): the BIGINT products overflow when
# n_label * sumsq approaches 2^63 — with d=64 dims and |q| <= 127 that
# is n_label ~ 3e6 vectors per label. Beyond that, promote the three
# final products to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — the
# aggregates themselves (row norms, coordinate sums) stay far inside
# BIGINT for any realistic n — or shard the label and combine partial
# (n, s_j, sumsq) triples, which the identity supports associatively.
# ---------------------------------------------------------------------------


@register(
    "emb_label_centroid_stats",
    oracle=f"""
        WITH q AS (
            SELECT label, {sql_quantized_vec('embedding')} AS qv
            FROM embeddings
        ),
        rows_ AS (
            SELECT label,
                   CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)
                       AS rsq
            FROM q
        ),
        per_label AS (
            SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                   CAST(SUM(rsq) AS BIGINT) AS sumsq
            FROM rows_ GROUP BY label
        ),
        dims AS (
            SELECT label,
                   unnest(range(len(qv))) AS pos,
                   unnest(qv) AS v
            FROM q
        ),
        cent AS (
            SELECT label, CAST(SUM(s * s) AS BIGINT) AS centroid_norm2
            FROM (
                SELECT label, pos, CAST(SUM(v) AS BIGINT) AS s
                FROM dims GROUP BY label, pos
            ) GROUP BY label
        )
        SELECT p.label, n_vecs, sumsq, centroid_norm2,
               CAST(n_vecs * sumsq - centroid_norm2 AS DOUBLE)
                   / (n_vecs * n_vecs) AS msd,
               sqrt(CAST(n_vecs * sumsq - centroid_norm2 AS DOUBLE)
                    / (n_vecs * n_vecs)) AS rmsd
        FROM per_label p JOIN cent USING (label)
    """,
    tags=("similarity", "agg", "profile"),
)
def emb_label_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per label: vector count, exact sum of squared quantized norms,
    exact squared centroid-sum norm, and the mean/root-mean squared
    distance to the label centroid derived by the integer scatter
    identity (msd in quantized units^2)."""
    # pinned: the quantized frame feeds the row-norm and the
    # per-dimension aggregates — one quantization pass, not two
    q = pin(
        table(spark, sf_dir, "embeddings").select(
            "label", quantized_vec(F.col("embedding")).alias("qv")
        )
    )
    per_label = (
        q.select(
            "label",
            F.aggregate(
                "qv", F.lit(0).cast("long"), lambda acc, x: acc + x * x
            ).alias("rsq"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("rsq").alias("sumsq"),
        )
    )
    cent = (
        q.select("label", F.posexplode("qv").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.sum("v").alias("s"))
        .groupBy("label")
        .agg(F.sum(F.col("s") * F.col("s")).alias("centroid_norm2"))
    )
    scatter = (F.col("n_vecs") * F.col("sumsq") - F.col("centroid_norm2")).cast(
        "double"
    )
    msd = scatter / (F.col("n_vecs") * F.col("n_vecs"))
    return per_label.join(cent, "label").select(
        "label",
        "n_vecs",
        "sumsq",
        "centroid_norm2",
        msd.alias("msd"),
        F.sqrt(msd).alias("rmsd"),
    )


# ---------------------------------------------------------------------------
# Distributed k-means over int8-quantized embeddings (round 6) — the
# ITERATIVE-ALGORITHM class, which the verification contract usually
# relegates to rows-only checks, delivered here with a full hash-exact
# DuckDB oracle by unrolling the iterations and pinning every source of
# nondeterminism:
#
# * the vectors are int8-quantized first (emb_quantize_int8's exact
#   cross-engine rounding scheme) — the centroid-update SUMs are then
#   integer aggregates, exact and ORDER-FREE, so shuffle/partition order
#   cannot perturb them;
# * centroid means are fp64 divisions of those exact integers — a
#   deterministic function of the data, bit-identical in both engines;
# * every distance is a left-to-right fold over the 64 dimensions
#   (Spark `aggregate`/`zip_with` == DuckDB `list_reduce`), never a
#   cross-row fp SUM, so the argmin compares bit-identical doubles;
# * seeding is a portable affine-hash top-K (same family as the IVF
#   codebook), ties broken by vec_id; assignment ties broken by cluster
#   index.
#
# Result: 2 full Lloyd iterations (seed -> assign -> update -> assign)
# whose per-vector cluster assignment hash-matches an oracle that
# re-derives the entire pipeline independently in SQL.
#
# No analog in the reference (no vector data at all, SURVEY §2.1);
# clustering is LLM-pipeline extension surface (corpus topic bucketing,
# IVF-style partitioning) over the driver's ``embeddings`` table.
#
# Scale posture: per iteration, the K centroids (K=8 — dimension-sized,
# never corpus-sized) collapse into a single broadcast array row and the
# assignment argmin is a per-row array_min expression — NO shuffle of the
# vector table at all (r17; previously a crossJoin row-explosion x K plus
# a groupBy(vec_id) argmin exchange per pass) — followed by one integer
# aggregate on the bounded (cluster, dim) key space (K x 64 groups,
# map-side combinable). No driver-side collect between iterations — the
# centroid frame stays a DataFrame and re-broadcasts. At 100 TB each
# iteration is one scan + one bounded shuffle, the canonical
# distributed-Lloyd shape with the assignment exchange removed.
# ---------------------------------------------------------------------------


KM_K = 8
# seed-selection affine hash (distinct parameters from the split/mix
# hashes so seeding does not correlate with any other assignment)
_KM_A, _KM_B = 54_877, 24_001
_KM_P = 1_000_000_007

_SQL_QV = f"""
    SELECT vec_id, {sql_quantized_vec("embedding")} AS qv
    FROM embeddings
"""


def _sql_assign(src: str, cent: str) -> str:
    """One assignment step: argmin over the centroid frame by a
    left-to-right fp64 fold, ties to the lowest cluster index."""
    term = f"(CAST(qv[i] AS DOUBLE) - cent[i]) * (CAST(qv[i] AS DOUBLE) - cent[i])"
    return f"""
        SELECT vec_id, qv, k FROM (
            SELECT q.vec_id, q.qv, c.k,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_reduce(
                           list_transform(range(1, {EMB_DIM + 1}), i -> {term}),
                           (acc, x) -> acc + x), c.k
                   ) AS rn
            FROM {src} q CROSS JOIN {cent} c
        ) WHERE rn = 1
    """


_KMEANS_SQL = f"""
    WITH q AS ({_SQL_QV}),
    seeds AS (
        SELECT qv,
               row_number() OVER (
                   ORDER BY ({_KM_A} * vec_id + {_KM_B}) % {_KM_P}, vec_id
               ) AS k
        FROM q
        QUALIFY k <= {KM_K}
    ),
    cent1 AS (
        SELECT k, list_transform(qv, v -> CAST(v AS DOUBLE)) AS cent FROM seeds
    ),
    a1 AS ({_sql_assign("q", "cent1")}),
    sums AS (
        SELECT k, i AS pos, SUM(qv[i]) AS s, COUNT(*) AS c
        FROM a1, range(1, {EMB_DIM + 1}) t(i)
        GROUP BY k, i
    ),
    cent2 AS (
        -- c is constant within a k (member count), so grouping by (k, c)
        -- is grouping by k with c available to the per-component division
        SELECT k, list_transform(list(s ORDER BY pos), v -> v / c) AS cent
        FROM sums GROUP BY k, c
    ),
    a2 AS ({_sql_assign("q", "cent2")})
    SELECT vec_id, CAST(k AS BIGINT) AS cluster FROM a2
"""


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qv): int8-quantized embedding as array<bigint> — the
    SHARED definition from functions/quantization.py, so the rounding
    scheme cannot silently diverge between the two oracle contracts."""
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", quantized_vec(F.col("embedding")).alias("qv")
    )


def _dist(qv, cent):
    """Left-to-right fp64 fold of squared component differences —
    the order-pinned distance both engines compute bit-identically.
    (An unrolled 64-term expression chain was measured SLOWER than this
    fold — 3.2 s vs 2.0 s at sf0.1 — the giant expression falls out of
    codegen's method-size budget; the HOF fold is the right form.)"""
    return F.aggregate(
        F.zip_with(qv, cent, lambda x, m: (x.cast("double") - m) * (x.cast("double") - m)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _assign(q: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, qv, k): nearest centroid, ties to the lowest k.

    r17 restructure (guide §2.4 — remove shuffles outright): the K
    centroids collapse into ONE array row (collect_list under a global
    aggregate, sorted by k), broadcast-crossJoined without row expansion;
    the argmin is then a pure per-row expression —
    array_min(transform(centroids, c -> struct(dist, k))) — whose
    lexicographic struct order IS the (dist ASC, k ASC) tie-break.  Each
    vector row computes its K distances in place and keeps its payload,
    so the assignment needs NO exchange at all: the previous form
    (crossJoin row-explosion x K -> groupBy(vec_id) MIN(struct) argmin)
    shuffled every (vec_id, dist, k, qv) row per pass; this one moves
    zero rows (measured 0.63-0.73 -> 0.50-0.54 s at sf0.1, result
    hash-identical).  Distances are the same left-to-right fp64 fold,
    evaluated exactly once per centroid inside the transform."""
    carr = cent.agg(F.array_sort(F.collect_list(F.struct("k", "cent"))).alias("cs"))
    j = q.crossJoin(F.broadcast(carr))
    dists = F.transform(
        F.col("cs"),
        lambda c: F.struct(_dist(F.col("qv"), c["cent"]).alias("d"), c["k"].alias("k")),
    )
    best = F.array_min(dists)
    return j.select("vec_id", "qv", best["k"].alias("k"))


def _update(assigned: DataFrame) -> DataFrame:
    """(k, cent): new centroid means. Per-dimension INTEGER sums (exact,
    order-free) on the bounded (k, dim) key space, then one fp64
    division per component — deterministic from exact integers."""
    sums = (
        assigned.select("k", F.posexplode("qv").alias("pos", "val"))
        .groupBy("k", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    return sums.groupBy("k", "c").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda t: t["s"] / F.col("c"),
        ).alias("cent")
    ).select("k", "cent")


@register(
    "emb_kmeans_assign",
    oracle=_KMEANS_SQL,
    tags=("similarity", "iterative", "headline"),
)
def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster assignment after 2 unrolled Lloyd iterations over
    int8-quantized embeddings (K=8, affine-hash seeding): per vector,
    the final cluster index.  The whole pipeline — quantization, seed
    top-K, both assignment argmins, the integer centroid update — is
    deterministic and engine-independent (module docstring), so this
    ITERATIVE algorithm carries a full hash-exact oracle that re-derives
    every iteration in SQL rather than a rows-only check.

    Two iterations are the registered form because the oracle unrolls
    them; the Spark operators (_assign/_update) compose to any depth —
    a production run loops until movement stops, same per-iteration
    plan shape."""
    # pin: the quantized frame feeds the seed top-K and BOTH assignment
    # passes — without it the per-row quantization HOF (interpreted,
    # not codegen) re-runs once per branch
    q = pin(_quantized(spark, sf_dir))
    h = (F.lit(_KM_A) * F.col("vec_id") + F.lit(_KM_B)) % F.lit(_KM_P)
    seeds = (
        q.withColumn("h", h)
        .orderBy("h", "vec_id")
        .limit(KM_K)
    )
    w = Window.orderBy("h", "vec_id")
    cent1 = (
        seeds.withColumn("k", F.row_number().over(w))
        .select(
            "k",
            F.transform("qv", lambda v: v.cast("double")).alias("cent"),
        )
    )
    a1 = _assign(q, cent1)
    cent2 = _update(a1)
    a2 = _assign(q, cent2)
    return a2.select("vec_id", F.col("k").cast("long").alias("cluster"))


# ---------------------------------------------------------------------------
# Embedding quantization — the vector-compression stage of a large-scale
# embedding pipeline (int8 scalar quantization: 4x smaller vectors, the
# standard serving format before IVF/PQ indexes; no analog in the
# reference, which has no vector data at all).
#
# The quantization definition itself (Spark + SQL builders in lockstep)
# lives in functions/quantization.py so that consumers — the kmeans
# oracle re-derives it in SQL — can import it without triggering this
# module's query registration.
#
# Scale posture: pure per-row expression work (transform/aggregate HOFs,
# JVM-side, no shuffle at all); at 100 TB this is a map-only pass that
# rewrites the embedding column in place.
# ---------------------------------------------------------------------------


@register(
    "emb_quantize_int8",
    oracle=f"""
        WITH q AS (
            SELECT vec_id,
                   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
                       AS max_abs,
                   {sql_quantized_vec("embedding")} AS qv
            FROM embeddings
        )
        SELECT vec_id,
               max_abs,
               CAST(list_sum(qv) AS BIGINT) AS q_sum,
               CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS q_l1,
               CAST(list_max(qv) AS BIGINT) AS q_max,
               CAST(list_min(qv) AS BIGINT) AS q_min
        FROM q
    """,
    tags=("similarity", "project"),
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization summary per vector. The quantized array
    itself is the payload a real pipeline would write back to parquet;
    the registered output reduces it to exact integer summaries so the
    cross-engine hash compare pins every component's value (a wrong
    rounding or scale in ANY component shifts q_sum/q_l1/extrema)."""
    e = table(spark, sf_dir, "embeddings")
    max_abs = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    return (
        e.select(
            "vec_id",
            max_abs.alias("max_abs"),
            quantized_vec(F.col("embedding")).alias("qv"),
        )
        .select(
            "vec_id",
            "max_abs",
            F.aggregate(
                "qv", F.lit(0).cast("long"), lambda acc, v: acc + v
            ).alias("q_sum"),
            F.aggregate(
                "qv", F.lit(0).cast("long"), lambda acc, v: acc + F.abs(v)
            ).alias("q_l1"),
            F.array_max("qv").alias("q_max"),
            F.array_min("qv").alias("q_min"),
        )
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval (round 6) — the RAG-serving query shape: fuse a
# SEMANTIC candidate list (embedding cosine top-k, sim_cosine_topk's
# exact plan) with a LEXICAL one (shared word-3-gram counts, the
# inverted-index skeleton) by reciprocal-rank fusion. Neither signal
# alone is sufficient — embeddings miss exact-term matches (IDs, names,
# code), lexical overlap misses paraphrase — and RRF is the standard
# training-free fusion: score = Σ 1/(k + rank) over the lists that
# contain the candidate.
#
# Everything the fusion consumes is an exact INTEGER rank (both ranking
# windows carry total-order tiebreaks), so the fp RRF scores are
# deterministic functions of the data, identical in both engines, and
# the query holds a full hash-exact DuckDB oracle like the rest of the
# similarity family. No analog in the reference (SURVEY §2.1 — no vector
# or retrieval surface at all).
#
# Scale posture: the semantic side is the broadcast-queries x one-corpus-
# scan exact plan (or swaps to the IVF/PQ candidates at corpus scale —
# same (query_id, doc_id, rank) contract); the lexical side is a keyed
# equi-join on the gram hash (query grams are a broadcast-sized set:
# N_QUERIES documents), one count aggregate, one per-query top-k window.
# Fusion joins two top-k-bounded lists — k x |queries| rows, corpus-size
# independent.
# ---------------------------------------------------------------------------


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant


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
