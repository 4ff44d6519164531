"""Shared, NON-REGISTERING materialization of the mutual-kNN graph
family's common spine (round 11, VERDICT r10 #5): the kNN edge list,
the mutual edge frame, the connected components, and the integer
fixed-point PageRank are each computed ONCE per (session, corpus
content) and fed to every consumer — sim_knn_graph, sim_pagerank,
sim_triangle_stats, sim_central_exemplars, sim_semantic_keep,
sim_semantic_clusters, and (through sim_semantic_keep)
pipe_semantic_guard.  Before this split every consumer re-ran the
whole IVF kNN build end-to-end; pagerank alone was 8.5 s of the 17.2 s
modern-headline total, most of it the same graph rebuilt five times.

Two reuse layers, both keyed by CONTENT fingerprint (path digest +
file sizes/mtimes — operators/dedup_incr_core.py's machinery, the
persisted-index precedent):

* an in-process memo of localCheckpointed frames — the steady state
  within a session (bench iterations, a pipeline run composing several
  graph queries);
* a persisted parquet edge table under the per-user 0700 index root —
  a fresh session ADOPTS the edge list instead of rebuilding it
  (regenerated corpora never match the fingerprint, so staleness is
  structural, and same-corpus stale generations are swept).

Only the EDGE LIST persists to disk: it is the expensive artifact (IVF
candidate generation + exact rescoring); mutual/components/pagerank
derive from it in edge-list-sized work and live as session memos.

Determinism: every derived frame is a pure function of the edge list
(and the embeddings table), and the edge list itself is the
hash-gated sim_knn_graph result — oracles throughout the family
re-derive the full chain in SQL, so reuse cannot mask drift.

At 100 TB the same pattern holds: the kNN edge table is the shared,
appendable artifact a feature store would own; consumers join it
instead of re-probing the ANN index.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import IVF_ASSIGN, graph_ivf_k
from bigbugdata_spark.operators.dedup_incr_core import (
    _corpus_fingerprint,
    ensure_index_root,
    index_path,
    sweep_stale_generations,
)
from bigbugdata_spark.operators.similarity import (
    _corpus,
    _routed_cell_ranks,
    ivf_cents,
)
from bigbugdata_spark.operators.similarity_knn import KNN_K, KNN_PROBE

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
    from bigbugdata_spark.operators.dedup_incr_core import (
        build_tmp_path,
        collect_abandoned_siblings,
        publish_generation,
    )

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
