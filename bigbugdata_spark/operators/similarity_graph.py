"""The mutual-kNN graph family: kNN graph construction, the shared edge /
mutual-edge / component / PageRank spine, and its consumers — triangle
stats, PageRank, central exemplars, semantic clusters and keep
decisions, isolation outliers and the graph health card.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import (
    EMB_DIM,
    IVF_ASSIGN,
    graph_ivf_k,
    sql_graph_ivf_k,
)
from bigbugdata_spark.operators.dedup_incr import (
    _corpus_fingerprint,
    build_tmp_path,
    collect_abandoned_siblings,
    ensure_index_root,
    index_path,
    publish_generation,
    sweep_stale_generations,
)
from bigbugdata_spark.operators.similarity import (
    SIM_CORPUS_SQL,
    _corpus,
    _routed_cell_ranks,
    ivf_cents,
    ivf_stages_sql,
)
from bigbugdata_spark.registry import register


# ---------------------------------------------------------------------------
# k-NN graph construction (round 8) — every vector's KNN_K nearest
# neighbors through the IVF index: the graph that feeds semantic
# clustering, graph-based dedup, diversity sampling, and (at much larger
# K and corpus) NN-descent-style ANN index builds. Unlike the query
# family (8 fixed queries), EVERY corpus vector is a source node here —
# the all-nodes workload whose cost profile is candidate generation, not
# query fan-out.
#
# No analog in the reference (SURVEY §2.1); similarity extension surface
# completing sim_* (query-time) with the index-time graph build.
#
# Approximation contract (the audits.py discipline): the oracle is NOT
# ground truth — it re-derives the IDENTICAL IVF pipeline (affine-hash
# codebook -> redundant assignment -> KNN_PROBE probed cells ->
# candidate top-k with vec_id tie-break) in SQL, so both engines build
# the same graph independently and any drift in codebook, probing or
# scoring goes hash-red. Graph quality vs brute force is pinned
# separately by a recall-floor test (tests/test_round8_ops.py).
#
# Scale posture: candidates come from shared probed cells — a cell-keyed
# equi-join bounded by cell occupancy, never an all-pairs product; per
# node the exact scoring touches only its candidates, and the top-k is a
# per-node window over that bounded set. KNN_PROBE < N_PROBE keeps the
# all-nodes candidate volume at index-build levels (probing half the
# cells is a query-time luxury). Sizing (r8 caveat resolved in round 9):
# the codebook is corpus-scaled, K = max(16, floor sqrt(n)) — shared
# with the whole registered IVF family via ivf_cents' default, and
# re-derived from COUNT(*) by this oracle's cents CTE — so cell
# occupancy stays ~sqrt(n) and the all-nodes candidate volume ~n^1.5
# instead of the quadratic blow-up a fixed K would give.
#
# KNN_K, KNN_PROBE and the oracle KNN_SQL are shared with the graph spine
# (similarity_graph_core) and the queries built on the graph.
# ---------------------------------------------------------------------------


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

    return knn_edges(spark, sf_dir)


# ---------------------------------------------------------------------------
# Shared, NON-REGISTERING materialization of the mutual-kNN graph
# family's common spine (round 11, VERDICT r10 #5): the kNN edge list,
# the mutual edge frame, the connected components, and the integer
# fixed-point PageRank are each computed ONCE per (session, corpus
# content) and fed to every consumer — sim_knn_graph, sim_pagerank,
# sim_triangle_stats, sim_central_exemplars, sim_semantic_keep,
# sim_semantic_clusters, and (through sim_semantic_keep)
# pipe_semantic_guard.  Before this split every consumer re-ran the
# whole IVF kNN build end-to-end; pagerank alone was 8.5 s of the 17.2 s
# modern-headline total, most of it the same graph rebuilt five times.
#
# Two reuse layers, both keyed by CONTENT fingerprint (path digest +
# file sizes/mtimes — operators/dedup_incr.py's machinery, the
# persisted-index precedent):
#
# * an in-process memo of localCheckpointed frames — the steady state
#   within a session (bench iterations, a pipeline run composing several
#   graph queries);
# * a persisted parquet edge table under the per-user 0700 index root —
#   a fresh session ADOPTS the edge list instead of rebuilding it
#   (regenerated corpora never match the fingerprint, so staleness is
#   structural, and same-corpus stale generations are swept).
#
# Only the EDGE LIST persists to disk: it is the expensive artifact (IVF
# candidate generation + exact rescoring); mutual/components/pagerank
# derive from it in edge-list-sized work and live as session memos.
#
# Determinism: every derived frame is a pure function of the edge list
# (and the embeddings table), and the edge list itself is the
# hash-gated sim_knn_graph result — oracles throughout the family
# re-derive the full chain in SQL, so reuse cannot mask drift.
#
# At 100 TB the same pattern holds: the kNN edge table is the shared,
# appendable artifact a feature store would own; consumers join it
# instead of re-probing the ANN index.
# ---------------------------------------------------------------------------


#: PageRank constants (shared with similarity_rank's oracle builder)
PR_ROUNDS = 5
PR_SCALE = 1_000_000_000  # ranks in integer parts-per-billion
DAMP_NUM, DAMP_DEN = 85, 100  # d = 0.85 as an exact ratio
TELEPORT_NUM = DAMP_DEN - DAMP_NUM

_EDGES_PREFIX = "simknn_edges_"

#: build-algorithm version, SUFFIXED to the persisted-generation
#: fingerprint: the corpus fingerprint alone would ADOPT a stale edge
#: table built by an older algorithm (same data, different math) —
#: exactly what r12's two-level/constant-cell rebuild would have
#: silently inherited.  A suffix (not a prefix) keeps the fingerprint's
#: first-8-chars PATH component intact, which is what
#: sweep_stale_generations scopes on — so older-algo generations of the
#: same corpus are swept as ordinary stale fingerprints.  Bump whenever
#: the build semantics change.
_ALGO_V = "-a2"

#: (applicationId, corpus fingerprint, kind) -> localCheckpointed frame
_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def generation_fp(sf_dir: str) -> str:
    """The persisted-generation fingerprint for `sf_dir`'s embeddings:
    corpus content fingerprint + build-algorithm version.  The ONE
    definition bench reset hooks and tests must share — keying on the
    raw corpus fingerprint would silently miss the memo/location."""
    return _corpus_fingerprint(sf_dir, "embeddings.parquet") + _ALGO_V


def _key(spark: SparkSession, sf_dir: str, kind: str) -> tuple[str, str, str]:
    return (
        spark.sparkContext.applicationId,
        generation_fp(sf_dir),
        kind,
    )


def _build_knn_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN edge plan: every vector's KNN_K best IVF-candidates by
    cosine, ties to the smaller dst id.  Result-identical to the r16
    shape (the hash-gated KNN_SQL oracle re-derives it); restructured in
    r17 per guide §2.3/§8 — decide with small rows, attach payloads late:

    * ONE routed ranking serves both the inverted file (arn <=
      IVF_ASSIGN) and the probe set (arn <= KNN_PROBE): the two are
      prefixes of the same per-vector cell ranking, so ranking once to
      take = max(widths) and filtering twice is definitionally identical
      to the two independent `_routed_cells` passes the build used to
      pay over the full corpus (measured 0.63 + 0.52 s of the 5.67 s
      sf0.1 build).  The skinny (vec_id, cell_id, arn) frame is
      localCheckpointed — it feeds both filters.
    * the codebook is localCheckpointed: every downstream broadcast of
      `cents` used to re-run its TakeOrdered corpus scan.
    * candidates are scored INSIDE the cell join: the old shape built a
      distinct (query, vec) pair list (1.79M rows at sf0.1), then
      re-attached both endpoint embeddings by pair-level joins — the
      second of which shuffled ~1.4M rows x 64-dim embeddings (~300 B
      each) by query_id.  Now the per-cell member/prober frames (n x
      IVF_ASSIGN and n x KNN_PROBE rows of 280 B) are the ONLY
      embedding-carrying exchanges; the cell join emits (src, dst,
      cos_sim) directly, and only 24-byte pair rows flow through the
      dedup aggregate and the top-K window.  Duplicate pairs (a query
      probing two cells that both hold the same member) score
      bit-identically — same fp64 fold over the same values — so
      MAX(cos_sim) per (src, dst) IS the single-scoring result.
    * the cell join is SALTED adaptively (guide §2.5): cell_id has only
      K distinct values and the join explodes rows, so on a small-K
      corpus (K=16 at sf0.1) every dot product lands on <= K tasks —
      measured 11.7 s for the unsalted join vs 1.5 s salted, the whole
      difference being parallelism, not work.  Members carry a
      deterministic salt (pmod(hash(dst), S)); probers replicate across
      all S salts, so each (prober, member) pair still matches exactly
      once, at the member's salt.  S shrinks as K grows — S =
      max(1, ceil(8 * shuffle.partitions / K)) — reaching 1 (no
      replication, a plain cell join) once the codebook alone spreads
      the work, so the 100 TB build (K = n/128, millions of cells) pays
      zero salting overhead."""

    corpus = _corpus(spark, sf_dir)
    # constant-size cells (r12, VERDICT r11 #1b): every vector is a
    # query in the graph build, so K = max(IVF_K, ceil(n/128)) bounds
    # per-query candidate work; the count is index-build metadata (a
    # parquet footer read)
    k = graph_ivf_k(corpus.count())
    cents = ivf_cents(corpus, k=k).localCheckpoint()
    routed = _routed_cell_ranks(
        corpus, cents, k, max(IVF_ASSIGN, KNN_PROBE),
        "vec_id", "embedding", "nrm",
    ).localCheckpoint()
    import math

    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    n_salts = max(1, math.ceil(8 * shuffle_parts / k))
    members = (
        routed.filter(F.col("arn") <= IVF_ASSIGN)
        .select("vec_id", "cell_id")
        .join(corpus, "vec_id")
        .select(
            "cell_id",
            F.pmod(F.hash("vec_id"), F.lit(n_salts)).alias("salt"),
            F.col("vec_id").alias("dst"),
            F.col("embedding").alias("d_emb"),
            F.col("nrm").alias("d_nrm"),
        )
    )
    probers = (
        routed.filter(F.col("arn") <= KNN_PROBE)
        .select("vec_id", "cell_id")
        .join(corpus, "vec_id")
        .select(
            "cell_id",
            F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("salt"),
            F.col("vec_id").alias("src"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    scored = (
        probers.join(members, ["cell_id", "salt"])
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            (
                H.dot(F.col("q_emb"), F.col("d_emb"))
                / (F.col("q_nrm") * F.col("d_nrm"))
            ).alias("cos_sim"),
        )
    )
    pairs = scored.groupBy("src", "dst").agg(F.max("cos_sim").alias("cos_sim"))
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), F.asc("dst"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_K)
        .select("src", "dst", F.col("rnk").cast("long").alias("rnk"), "cos_sim")
    )


def _evict_other_fingerprints(spark: SparkSession, fp: str) -> None:
    """Unpersist and drop memo entries for OTHER corpora of this
    application (ADVICE r11: the memo was never evicted, so a
    long-lived session touching many corpora accumulated checkpoint
    blocks indefinitely — bench only cleared its own fingerprints).
    Keyed-by-fingerprint entries for the corpus being requested stay."""
    app = spark.sparkContext.applicationId
    for k in [k for k in _MEMO if k[0] == app and k[1] != fp]:
        try:
            _MEMO[k].unpersist()
        except Exception:
            pass  # a dead SparkContext's blocks are already gone
        del _MEMO[k]


def knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, rnk, cos_sim) — memo -> persisted generation -> build.
    A build writes the generation for future sessions before
    checkpointing it for this one.

    The generation write is tmp-dir + rename (ADVICE r11/r12): the
    build lands in a temporary sibling directory and moves into place
    only once complete, so a reader never observes a HALF-WRITTEN
    generation (only the rename itself is atomic — the
    rmtree-then-rename replacement is two steps, so a reader racing a
    same-corpus REBUILD can transiently see the location missing and
    fall into the rebuild branch itself; that re-build is wasteful but
    correct, and rebuilds of an already-adopted generation don't occur
    outside bench reset hooks).  Build tmps are uuid-unique per
    builder (dedup_incr_core.build_tmp_path) so concurrent same-fp
    builds never clobber each other; a dead session's tmp leaks until
    the fingerprint rotates and the sweep collects it."""
    key = _key(spark, sf_dir, "knn")
    if key in _MEMO:
        return _MEMO[key]
    fp = key[1]
    _evict_other_fingerprints(spark, fp)
    ensure_index_root()
    sweep_stale_generations(spark, (_EDGES_PREFIX,), fp)
    loc = Path(index_path(f"{_EDGES_PREFIX}{fp}"))

    # reap dead sessions' build tmps / debris (age-gated, so a live
    # concurrent build is spared); runs even when the build below is
    # skipped, so leftovers never outlive one cold call + TTL
    collect_abandoned_siblings(loc)
    if not (loc / "_SUCCESS").exists():
        # unique per-builder tmp (r14 review): a shared literal '.tmp'
        # would let concurrent same-fp builders rmtree/overwrite each
        # other's in-progress write
        tmp = build_tmp_path(loc)
        _build_knn_plan(spark, sf_dir).write.mode("overwrite").parquet(str(tmp))
        # race-safe publish (ADVICE r13 #1): a concurrent same-
        # fingerprint winner's artifact is adopted, not collided with
        publish_generation(tmp, loc)
    out = spark.read.parquet(str(loc)).localCheckpoint()
    _MEMO[key] = out
    return out


def mutual_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(a, b) with a < b: pairs that name each other in their top-K —
    the undirected graph every downstream consumer walks."""
    key = _key(spark, sf_dir, "mutual")
    if key in _MEMO:
        return _MEMO[key]
    knn = knn_edges(spark, sf_dir).select("src", "dst")
    rev = knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    out = (
        knn.join(rev, ["src", "dst"])
        .where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .localCheckpoint()
    )
    _MEMO[key] = out
    return out


def components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, component): min-id connected components of the mutual
    graph over ALL embeddings rows (isolated vectors are singletons)."""
    key = _key(spark, sf_dir, "comp")
    if key in _MEMO:
        return _MEMO[key]
    from bigbugdata_spark.catalog import table
    from bigbugdata_spark.functions.graph import connected_components

    emb = table(spark, sf_dir, "embeddings").select("vec_id")
    out = (
        connected_components(emb, mutual_edges(spark, sf_dir), id_col="vec_id")
        .select(F.col("id").alias("vec_id"), "component")
        .localCheckpoint()
    )
    _MEMO[key] = out
    return out


def pagerank_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, deg, pr_ppb): PR_ROUNDS damped integer fixed-point
    rounds over the symmetric mutual edge list (semantics documented in
    operators/similarity_rank.py, whose oracle unrolls these rounds)."""
    key = _key(spark, sf_dir, "pagerank")
    if key in _MEMO:
        return _MEMO[key]
    from bigbugdata_spark.catalog import table

    mutual = mutual_edges(spark, sf_dir)
    edges = mutual.unionByName(
        mutual.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    nodes = table(spark, sf_dir, "embeddings").select("vec_id")
    n = nodes.count()  # the one driver scalar (kmeans/IVF precedent)
    teleport = (TELEPORT_NUM * PR_SCALE) // (DAMP_DEN * n)
    pr = nodes.withColumn("pr", F.lit(PR_SCALE // n)).localCheckpoint()
    for _ in range(PR_ROUNDS):
        contrib = (
            edges.join(pr, edges.a == pr.vec_id)
            .join(deg, "a")
            .select(
                F.col("b").alias("vec_id"),
                F.expr("pr div deg").alias("c"),
            )
        )
        s = contrib.groupBy("vec_id").agg(F.sum("c").alias("s"))
        pr = (
            nodes.join(s, "vec_id", "left")
            .select(
                "vec_id",
                (
                    F.lit(teleport)
                    + F.expr(f"({DAMP_NUM} * coalesce(s, 0L)) div {DAMP_DEN}")
                ).alias("pr"),
            )
            .localCheckpoint()
        )
    out = (
        pr.join(deg, pr.vec_id == deg.a, "left")
        .select(
            "vec_id",
            F.coalesce("deg", F.lit(0)).cast("long").alias("deg"),
            F.col("pr").cast("long").alias("pr_ppb"),
        )
        .localCheckpoint()
    )
    _MEMO[key] = out
    return out


# ---------------------------------------------------------------------------
# Triangle / hubness statistics over the mutual-kNN graph (round 10)
# — the second graph-quality diagnostic next to sim_pagerank: per vector,
# its mutual-kNN degree and how many TRIANGLES it participates in.  In
# embedding space this is the standard local-coherence signal — a
# healthy neighborhood is triangle-dense (my neighbors know each other),
# while a high-degree node with few triangles is a HUB, the classic
# symptom of anisotropic/collapsed encoders (hubness is the
# embedding-space failure mode the kNN literature warns about); the
# per-node table feeds exactly that triage.
#
# No analog in the reference (SURVEY §2.1); similarity/graph extension
# surface composing sim_knn_graph's edge list.
#
# Determinism: triangles are counted over the canonical a<b<c triple
# join — exact integers, no fp anywhere; both engines enumerate the
# identical triple set.
#
# Scale posture: the triple join is the standard edge-edge-edge
# equi-join bounded by sum over nodes of deg^2 (mutual-kNN degree is
# capped at KNN_K, so candidate volume is <= K * |E| — linear in the
# corpus at fixed K, never the n^3 a naive formulation would give); the
# per-node roll-up explodes each triangle to its three corners (3T rows)
# and aggregates map-side.
# ---------------------------------------------------------------------------


_TRI_SQL = f"""
    WITH knn AS MATERIALIZED ({KNN_SQL}),
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


# ---------------------------------------------------------------------------
# PageRank centrality over the mutual-kNN graph (round 10) — the
# fourth driver-controlled/executor-executed iterative operator (after
# kmeans, connected components, BPE training): which vectors sit at the
# CENTER of the corpus' semantic neighborhood structure?  Centrality over
# the kNN graph is the standard representative-document picker (choose
# high-rank exemplars for curation/eval seeds) and the diversity-sampling
# complement of sim_semantic_keep's min-id rule.
#
# No analog in the reference (SURVEY §2.1); similarity/graph extension
# surface composing sim_knn_graph's edge list.
#
# Determinism (the kmeans/BPE discipline — iterative yet hash-exact):
# ranks live as INTEGER parts-per-billion.  PR_0 = SCALE div n for every
# node; each of PR_ROUNDS rounds computes
#
#     PR_{k+1}(v) = (15 * SCALE) div (100 * n)
#                 + (85 * SUM over in-neighbors u of PR_k(u) div deg(u))
#                   div 100
#
# — every operation an exact BIGINT multiply/divide/sum (truncating
# division on non-negative values is identical in Spark `div` and DuckDB
# `//`), so both engines produce bit-identical ranks and the oracle can
# unroll the identical rounds in SQL.  Floor losses mean total mass
# shrinks by < n units per round (and dangling/isolated nodes simply
# stop forwarding mass) — fine for a RANKING signal, and exactly
# reproducible, which a fp64 PageRank across engines is not.
#
# Scale posture: per round one edge-keyed join (edges x current ranks,
# co-locatable on an id-bucketed layout) + one map-side-combinable SUM by
# destination + one nodes-sized left join; K rounds total, state is the
# nodes-sized rank frame, localCheckpointed so plans stay flat.  The one
# driver-side scalar is COUNT(*) (the kmeans/IVF sizing precedent).
# ---------------------------------------------------------------------------


# constants + the executed rounds live in the shared graph spine
# (operators/similarity_graph.py, round 11) so every consumer of
# the rank frame reuses ONE materialization; the oracle SQL below
# unrolls the identical rounds from the same constants


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
               {TELEPORT_NUM * PR_SCALE} // ({DAMP_DEN} * nn.n)
                   + ({DAMP_NUM} * COALESCE(s.s, 0)) // {DAMP_DEN} AS pr
        FROM nodes v
        CROSS JOIN nn
        LEFT JOIN s{k} s ON v.vec_id = s.vec_id
    )"""


_PAGERANK_SQL = (
    f"""
    WITH RECURSIVE knn AS MATERIALIZED ({KNN_SQL}),
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
    return pagerank_frame(spark, sf_dir)


# ---------------------------------------------------------------------------
# Centrality-based exemplar selection (round 10) — the capstone
# composition of the round's two graph operators: per mutual-kNN semantic
# component, keep the member with the HIGHEST PageRank (ties to the
# smaller vec_id) instead of sim_semantic_keep's min-id convention.  The
# min-id rule is arbitrary-but-deterministic; the centrality rule keeps
# the vector its own neighborhood most agrees is representative — what a
# curation pass actually wants from "one exemplar per semantic cluster",
# and the standard coreset/diversity-seed picker.
#
# No analog in the reference (SURVEY §2.1); similarity/graph extension
# surface composing sim_pagerank + functions/graph.connected_components.
#
# Oracle contract: ONE combined SQL chain — the IVF kNN graph, the
# mutual filter, the integer fixed-point PageRank rounds (similarity_rank
# verbatim), the component fixpoint as a recursive CTE, and the
# (pr DESC, vec_id ASC) argmax — so both engines derive the identical
# exemplar table fully independently; every rank is an exact BIGINT.
#
# Scale posture: the pagerank rounds + O(log n) star contraction both
# run on the edge list; the argmax is one per-component window over the
# nodes frame.  Output is components-sized.
# ---------------------------------------------------------------------------


# the pagerank oracle, stripped of its final SELECT so its CTE chain
# (knn/mutual/edges/deg/nodes/nn/pr0..prN) can host the component CTEs
_PR_CTES = _PAGERANK_SQL[: _PAGERANK_SQL.rindex("SELECT p.vec_id")]

_CENTRAL_SQL = (
    _PR_CTES
    + f""",
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
        SELECT n.vec_id,
               CAST(LEAST(n.vec_id, COALESCE(MIN(r.b), n.vec_id)) AS BIGINT)
                   AS component
        FROM nodes n LEFT JOIN reach r ON n.vec_id = r.a
        GROUP BY n.vec_id
    ),
    ranked AS (
        SELECT c.component, c.vec_id, p.pr,
               ROW_NUMBER() OVER (
                   PARTITION BY c.component
                   ORDER BY p.pr DESC, c.vec_id ASC
               ) AS rn,
               COUNT(*) OVER (PARTITION BY c.component) AS n_members
        FROM comp c JOIN pr{PR_ROUNDS} p ON c.vec_id = p.vec_id
    )
    SELECT component,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(vec_id AS BIGINT) AS exemplar_id,
           CAST(pr AS BIGINT) AS exemplar_pr_ppb
    FROM ranked WHERE rn = 1
    """
)


@register(
    "sim_central_exemplars",
    oracle=_CENTRAL_SQL,
    tags=("similarity", "graph", "iterative", "window"),
    index_writer=True,
)
def sim_central_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(component, n_members, exemplar_id, exemplar_pr_ppb): each
    semantic component's most central member by integer-ppb PageRank,
    ties to the smaller id; singleton components keep themselves at the
    teleport floor."""
    # the shared graph spine (round 11): components AND the rank frame
    # are materialized once per corpus and reused across the family

    comp = components(spark, sf_dir)
    pr = pagerank_frame(spark, sf_dir).select("vec_id", "pr_ppb")
    ranked = comp.join(pr, "vec_id")
    w = Window.partitionBy("component").orderBy(
        F.desc("pr_ppb"), F.asc("vec_id")
    )
    wn = Window.partitionBy("component")
    return (
        ranked.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wn))
        .where(F.col("rn") == 1)
        .select(
            "component",
            F.col("n_members").cast("long").alias("n_members"),
            F.col("vec_id").alias("exemplar_id"),
            F.col("pr_ppb").alias("exemplar_pr_ppb"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic clustering over the kNN graph (round 8) — mutual-kNN
# components with label-coherence metrics: keep an edge only when BOTH
# endpoints rank each other in their top-K (the standard mutual-kNN
# symmetrization that strips hub edges), take connected components, and
# report each cluster's size alongside how label-pure it is. The
# unsupervised structure check every embedding pipeline runs: clusters
# that mix labels mean the encoder (or the labels) are suspect.
#
# No analog in the reference (SURVEY §2.1); similarity/graph extension
# surface composing sim_knn_graph + functions/graph.py.
#
# Oracle contract: the DuckDB twin re-derives the WHOLE chain — the IVF
# kNN graph (parameterized ivf_stages_sql), the mutual-edge filter, the
# component fixpoint as a recursive CTE, and the majority-label pick
# with (count DESC, label ASC) tie-break — so both engines produce the
# identical clustering independently. The min-label fixpoint is unique
# and order-free, which is what makes an iterative Spark loop and a
# recursive CTE provably agree.
#
# Scale posture: the mutual filter is a self-join of the edge list on
# the reversed key (edge-list-sized); components are the shared
# large-star/small-star contraction (functions/graph.py — O(log n)
# alternations since r9, each two keyed join+min-agg pairs); the
# roll-ups aggregate component-count-sized frames.
#
# What the fixture shows (and why it is the right answer): this corpus'
# embeddings are geometrically unstructured — same-label and
# cross-label cosine distributions are indistinguishable (mean 0.002 vs
# 0.000) — so mutual-kNN correctly forms one giant low-purity component
# (483 of 500 vectors, purity ~0.1). That IS the diagnostic firing: a
# real encoder would separate labels and this table would show many
# small high-purity clusters; the giant-component row is the "encoder
# collapsed / labels unrelated to geometry" alarm, the embedding-space
# sibling of dedup_cluster_sizes' giant-component warning.
# ---------------------------------------------------------------------------


_CLUSTER_SQL = f"""
    WITH RECURSIVE knn AS MATERIALIZED ({KNN_SQL}),
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


# ---------------------------------------------------------------------------
# Semantic-level dedup keep decisions (round 9) — the embedding-space
# sibling of dedup_cluster_keep: one row per vector with its mutual-kNN
# component, the component size, and the keep flag (the component's
# minimum vec_id is the kept representative).  This is the decision
# table a semantic dedup actually applies — "keep one exemplar per
# semantic cluster" — completing the dedup ladder: exact -> n-gram ->
# MinHash -> SimHash -> embedding-cosine -> SEMANTIC-COMPONENT.
#
# Why the purity gate matters (and what the fixture shows): on this
# corpus the encoder-collapse alarm fires (sim_semantic_clusters' giant
# ~483-vector component at chance purity), so the keep rule would drop
# almost everything — which is exactly why pipe-building practice puts
# dq_emb_coverage + the purity diagnostic IN FRONT of semantic dedup;
# the unit test pins that drop behavior rather than hiding it.
#
# No analog in the reference (SURVEY §2.1); similarity/dedup extension
# surface composing sim_knn_graph + functions/graph.py.
#
# Oracle contract: the recursive-CTE chain of sim_semantic_clusters up
# through the component fixpoint, then the keep rule in SQL — both
# engines derive the identical decision table independently.
#
# Scale posture: identical to sim_semantic_clusters (edge-list-sized
# mutual filter, O(log n) star-contraction rounds) plus one
# component-keyed count join; output is corpus-sized but 3 skinny
# integer columns + a flag.
# ---------------------------------------------------------------------------


_KEEP_SQL = f"""
    WITH RECURSIVE knn AS MATERIALIZED ({KNN_SQL}),
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


# ---------------------------------------------------------------------------
# Embedding-isolation outlier card (round 11) — the curation pass
# that drops (or triages) vectors far from EVERYTHING: per vector, how
# many kNN edges it emitted, its exact integer-ppm mean neighbor cosine,
# and an isolated flag for vectors whose neighborhood agreement falls
# below ISOLATION_T_PPM (or who could not fill their K at all).  Low
# kNN-mean-similarity is the standard embedding-space outlier signal —
# mislabeled points, encoder failures, out-of-distribution content —
# and the per-node refinement of sim_knn_health's per-rank aggregate
# view.  Costs one edge-list aggregate once the shared spine exists.
#
# No analog in the reference (SURVEY §2.1); similarity extension surface
# consuming operators/similarity_graph.py.
#
# Determinism: per-edge cos_sim is the shared left-to-right fp64 dot
# (identical expression trees both engines), so ROUND(cos*1e6) is the
# identical BIGINT both sides and the mean is an exact integer floor
# division; embeddings with no candidates (empty probed cells) appear
# with k_found = 0, NULL mean, isolated = 1.
#
# Scale posture: one edge-list scan -> src-keyed aggregate (map-side
# combinable) -> one nodes-sized left join; output is corpus-sized but
# three skinny integers + a flag.
#
# Threshold: ISOLATION_T_PPM = 260000 sits at this corpus' ~5th
# percentile of kNN mean cosine at BOTH fixture scales (measured
# 228k-393k range), so both branches are live in every gate run.
# ---------------------------------------------------------------------------


ISOLATION_T_PPM = 260_000

_OUTLIER_SQL = f"""
    WITH knn AS MATERIALIZED ({KNN_SQL}),
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


# ---------------------------------------------------------------------------
# kNN graph health card (round 11) — the per-rank diagnostic a vector
# platform runs before trusting any consumer of the graph: for each rank
# position 1..KNN_K, how many edges exist (nodes with sparse probed cells
# emit fewer), the mean neighbor cosine in exact integer ppm, and how
# many of that rank's edges are RECIPROCATED (the destination also names
# the source in its own top-K).  Falling mean-cos by rank is the healthy
# shape; a flat profile near zero is the encoder-collapse alarm from the
# OTHER side of the pipeline than sim_semantic_clusters' purity view, and
# a low reciprocity fraction at rank 1 is the classic hubness smell
# (sim_triangle_stats' companion signal, summarized to K rows instead of
# per-node).
#
# No analog in the reference (SURVEY §2.1); similarity/graph extension
# surface consuming the shared spine (operators/similarity_graph.py)
# — this card costs K aggregate rows once the edge list exists.
#
# Determinism: per-edge cos_sim is the shared left-to-right fp64 dot
# (identical expression trees both engines), so ROUND(cos_sim * 1e6) is
# the identical BIGINT on both sides and every output column is an exact
# integer aggregate — no cross-engine fp summation anywhere.
#
# Scale posture: one edge-list scan + one self-equi-join on the reversed
# (src, dst) key (edge-list-sized, never pairs) + a K-row aggregate.
# ---------------------------------------------------------------------------


_HEALTH_SQL = f"""
    WITH knn AS MATERIALIZED ({KNN_SQL}),
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
