"""Similarity search over `embeddings.embedding` (array<float>, dim 64) —
the LLM-pipeline ANN family (SURVEY.md §7 phase 3; no analog in the
reference, whose only lookups are hash-set probes,
ref scripts/filter_rrpm_by_taxid.py:17).

Two-tier design per the north star: `sim_cosine_topk` is the BRUTE-FORCE
BASELINE (exact, oracle-checked — a broadcast of the tiny query set
against one corpus scan, which IS the scalable exact plan when |Q| is
small); `sim_ivf_topk` is the IVF scale path (coarse quantizer ->
inverted cells -> probe nprobe cells), recall-measured against the
baseline in tests. All arithmetic is JVM-side zip_with/aggregate — no
Python UDFs; dot products sum left-to-right to match the DuckDB oracle
bit-for-bit."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import (
    EMB_DIM as _DIM,
    IVF_ASSIGN,
    IVF_HASH_A,
    IVF_HASH_B,
    N_PROBE,
    N_QUERIES,
    TOP_K,
)
from bigbugdata_spark.registry import register


def _codebook_hash(vec_id):
    """Portable affine codebook-sampling hash (see fragments.py: the
    xxhash64 it replaced is not expressible in the DuckDB audit twin)."""
    return (
        (vec_id % F.lit(H.P)) * F.lit(IVF_HASH_A) + F.lit(IVF_HASH_B)
    ) % F.lit(H.P)

_COS_AB = (
    f"{H.sql_dot('a.embedding', 'b.embedding', _DIM)}"
    f" / ({H.sql_norm('a.embedding', _DIM)} * {H.sql_norm('b.embedding', _DIM)})"
)


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", "embedding", H.norm(F.col("embedding")).alias("nrm")
    )


# --- IVF stage builders (shared with operators/similarity_pq.py) -----------


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


def ivf_probes_routed(
    queries: DataFrame, cents: DataFrame, k: int, n_probe: int
) -> DataFrame:
    """(query_id, cell_id) — the graph-build probe path: every corpus
    vector is a query, so probe selection must route like assignment
    does (n_probe is narrow there — KNN_PROBE — well under the
    ~4*sqrt(K) reachable cells).  The serving path (ivf_probes: few
    queries, probe width a FRACTION of K) stays a flat codebook scan —
    scoring half the codebook through a router that must reach half the
    codebook saves nothing."""
    return _routed_cells(
        queries, cents, k, n_probe, "query_id", "q_emb", "q_nrm"
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
