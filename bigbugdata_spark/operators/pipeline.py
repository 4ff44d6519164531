"""Composed training-data pipelines: the engine's operators chained the
way a corpus build uses them — the training corpus, the purity-guarded
semantic dedup, the privacy-gated release and the release manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import (
    CENTS_SQL,
    CHUNK_SIZE,
    CHUNK_STRIDE,
    JACCARD_PAIRS_SQL,
    QUALITY_SQL,
    STOPWORDS,
    quality_base_frame,
    quality_deci_col,
    sql_list,
)
from bigbugdata_spark.operators.corpus import (
    CLEAN_Q,
    SHORT_TOKENS,
    shard_col,
    sql_shard,
)
from bigbugdata_spark.operators.dedup import cc_node_labels, dedup_ngram_jaccard
from bigbugdata_spark.operators.dq import BAND_CENTS, K_ANON
from bigbugdata_spark.operators.similarity_graph import KNN_SQL, components
from bigbugdata_spark.registry import register


# ---------------------------------------------------------------------------
# The composed training-data pipeline — the engine's operators chained
# the way a real corpus build uses them (quality gate -> near-dup cluster
# keep -> chunking -> corpus accounting), registered as ONE oracle-checked
# query. This is the integration proof: each family is correct alone (its
# own CORRECTNESS entry) and they compose without re-materialization —
# everything below is a single lazy plan except the cluster fixpoint loop.
#
# Stage map (all reusing the registered operators' logic):
#   1. quality gate   — text_quality_score >= 0.7;
#   2. dedup          — keep only cluster representatives from
#                       dedup_cluster_keep (min-label CC over verified
#                       near-dup pairs);
#   3. chunking       — text_chunk's 32/24 sliding windows over survivors;
#   4. accounting     — per-language kept-doc/chunk/token totals.
# ---------------------------------------------------------------------------


_QUALITY_T = 0.7

_QUALITY_SQL = f"""
    SELECT doc_id,
           (CASE WHEN len({H.sql_tokens('text')}) BETWEEN 10 AND 1000 THEN 0.4 ELSE 0.0 END
            + CASE WHEN CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
                        / length(text) < 0.1 THEN 0.3 ELSE 0.0 END
            + CASE WHEN CAST(len(list_filter({H.sql_tokens('text')},
                        t -> list_contains({sql_list(STOPWORDS)}, t))) AS DOUBLE)
                        / len({H.sql_tokens('text')}) >= 0.01 THEN 0.3 ELSE 0.0 END
           ) AS quality
    FROM documents
"""


@register(
    "pipe_training_corpus",
    oracle=f"""
        WITH RECURSIVE pairs AS ({JACCARD_PAIRS_SQL}),
        edges AS (
            SELECT d1 AS a, d2 AS b FROM pairs
            UNION SELECT d2 AS a, d1 AS b FROM pairs
        ),
        reach(a, b) AS (
            SELECT a, b FROM edges
            UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        rep AS (
            SELECT doc_id,
                   LEAST(doc_id, COALESCE(MIN(r.b), doc_id)) AS cluster_rep
            FROM documents LEFT JOIN reach r ON doc_id = r.a
            GROUP BY doc_id
        ),
        q AS ({_QUALITY_SQL}),
        kept AS (
            SELECT d.doc_id, d.lang, {H.sql_tokens('d.text')} AS t
            FROM documents d
            JOIN q ON d.doc_id = q.doc_id
            JOIN rep ON d.doc_id = rep.doc_id
            WHERE q.quality >= {_QUALITY_T} AND rep.cluster_rep = d.doc_id
        ),
        chunks AS (
            SELECT doc_id, lang,
                   CAST(len(t[s+1 : s+{CHUNK_SIZE}]) AS BIGINT) AS n_tokens
            FROM kept, unnest(range(0, len(t), {CHUNK_STRIDE})) AS u(s)
        )
        SELECT lang,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_kept,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM chunks GROUP BY lang
    """,
    tags=("pipeline", "headline"),
)
def pipe_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate -> cluster-keep -> chunk -> per-language accounting,
    as one composed plan. Shuffle budget: the quality gate is scan-local;
    the dedup rep set is the CC fixpoint (bounded rounds over the tiny
    pair graph); the final join chain broadcasts the survivor keys into
    one documents scan, and the chunk explosion feeds a single lang agg.

    r17 restructure (guide §2.4): the quality gate is now literally
    scan-local — the score expression evaluates inline on the documents
    scan (quality_base_frame(with_text=True) + quality_deci_col, the same
    shared definition text_quality_score selects) instead of joining a
    second documents-derived frame back on doc_id; and the dedup keep
    becomes a broadcast ANTI-join against the DROP set (cluster members
    with a smaller component id, bounded by the pair graph) instead of a
    semi-join against the rep set — which is corpus-sized at scale (most
    documents are unique), and whose unknown-stats RDD side planned a
    SortMergeJoin that shuffled every surviving document. kept-set
    equality: keep==1 <=> NOT IN drops, since every document appears in
    dedup_cluster_keep's output exactly once with keep in {0,1}."""
    quality = quality_deci_col().cast("double") / F.lit(10.0)
    gated = (
        quality_base_frame(spark, sf_dir, with_text=True)
        .select("doc_id", "lang", "text", quality.alias("quality"))
        .filter(F.col("quality") >= _QUALITY_T)
    )
    drops = (
        cc_node_labels(dedup_ngram_jaccard(spark, sf_dir))
        .filter(F.col("cluster_rep") < F.col("doc_id"))
        .select("doc_id")
    )
    kept = gated.join(F.broadcast(drops), "doc_id", "left_anti").select(
        "doc_id", "lang", H.tokens(F.col("text")).alias("t")
    )
    chunks = kept.select(
        "doc_id",
        "lang",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.size("t") - 1, F.lit(CHUNK_STRIDE))
        ).alias("s"),
    ).select(
        "doc_id",
        "lang",
        F.size(F.slice(F.col("t"), F.col("s") + 1, CHUNK_SIZE))
        .cast("long")
        .alias("n_tokens"),
    )
    return chunks.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs_kept"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Purity-guarded semantic dedup (round 10, VERDICT r9 #7) — the
# composition the two r9 queries' docstrings both point at but nothing
# executed: sim_semantic_keep's keep-one-exemplar rule is only SAFE when
# the mutual-kNN clustering is label-coherent; on an encoder-collapsed
# corpus (sim_semantic_clusters' giant chance-purity component) the rule
# would silently drop almost everything.  This query closes the loop:
# per vector, the keep decision is APPLIED only when its component's
# label purity clears PURITY_T — otherwise the guard passes the vector
# through untouched and flags the component for encoder triage.
#
# On this corpus both branches are live by construction: the ~483-vector
# collapsed component sits at chance purity (pass-through — the guard
# RESCUES what the unguarded rule would have dropped), while singletons
# and any label-pure multi-vector components clear the bar and the rule
# applies (exemplars kept, their duplicates dropped).
#
# No analog in the reference (SURVEY §2.1); similarity/dedup/governance
# extension surface composing sim_semantic_keep + the purity diagnostic.
#
# Oracle contract: the recursive-CTE chain of sim_semantic_keep through
# the component fixpoint, plus the purity rollup (MAX(label count) /
# SUM(label count) — no window needed for purity alone) and the guarded
# CASE, so both engines derive the identical decision table.
#
# Scale posture: sim_semantic_keep's contraction chain plus two
# component-keyed aggregates (label counts, purity) — all
# edge-list/component-sized; output is corpus-sized but skinny.
# ---------------------------------------------------------------------------


#: minimum component label purity for keep decisions to apply
PURITY_T = 0.8

_GUARD_SQL = f"""
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


# ---------------------------------------------------------------------------
# Privacy-gated release (round 10) — dq_k_anonymity composed into the
# action it exists for, the pipe_semantic_guard treatment: SUPPRESS every
# row sitting in a quasi-identifier cell below K_ANON, release the rest,
# and account for the cut — per event_type the released/suppressed row
# split, the released cell count, and the released table's worst cell
# size, which by construction is >= K_ANON (the k-anonymity guarantee the
# release ships with; NULL when a type releases nothing).
#
# No analog in the reference (SURVEY §2.1); dq/governance extension
# surface composing dq_anon's cell frame.
#
# Determinism: exact integer counts; the suppression predicate compares
# integer cell sizes.
#
# Scale posture: the QI cell frame (one map-side groupBy) joins back to
# itself only logically — the released accounting aggregates the CELL
# frame, never re-touching raw rows: suppression counts are sums of cell
# sizes on either side of the predicate, so the whole query is one
# groupBy over events + two cells-sized rollups.
# ---------------------------------------------------------------------------


_RELEASE_SQL = f"""
    WITH cells AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
               {CENTS_SQL} // {BAND_CENTS} AS band,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        GROUP BY event_type, day, band
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN n >= {K_ANON} THEN n ELSE 0 END) AS BIGINT)
               AS n_released,
           CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT)
               AS n_suppressed,
           CAST(SUM(CASE WHEN n >= {K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_released_cells,
           CAST(MIN(CASE WHEN n >= {K_ANON} THEN n END) AS BIGINT)
               AS min_released_cell
    FROM cells GROUP BY event_type
"""


@register(
    "pipe_privacy_release",
    oracle=_RELEASE_SQL,
    tags=("dq", "pipeline", "agg"),
)
def pipe_privacy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_released, n_suppressed, n_released_cells,
    min_released_cell): the k-anonymous release accounting — every
    below-k QI cell's rows suppressed, and the released side's minimum
    cell size carries the shipped guarantee (>= K_ANON wherever
    anything releases)."""
    cells = (
        table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.expr(
                f"CAST(ROUND(value * 100) AS BIGINT) div {BAND_CENTS}"
            ).alias("band"),
        )
        .groupBy("event_type", "day", "band")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    keep = F.col("n") >= K_ANON
    return cells.groupBy("event_type").agg(
        F.sum(F.when(keep, F.col("n")).otherwise(0)).alias("n_released"),
        F.sum(F.when(~keep, F.col("n")).otherwise(0)).alias("n_suppressed"),
        F.sum(keep.cast("long")).alias("n_released_cells"),
        F.min(F.when(keep, F.col("n"))).alias("min_released_cell"),
    )


# ---------------------------------------------------------------------------
# Corpus release manifest (round 8) — the capstone composition of the
# round's governance pieces: quality gate -> exact-dedup keep -> shard
# assignment -> curriculum stage, rolled up per (shard, stage). This is
# the table a data org SHIPS with a corpus release: for every output
# shard, how many documents and tokens land in each curriculum stage —
# the loader's index and the release's audit trail in one.
#
# Like pipe_training_corpus (r2) and pipe_governed_corpus (r5), the
# value is the COMPOSITION: all four stages fuse into one lazy plan, so
# Catalyst sees the whole tree (the quality projection and the dedup
# keep-filter push into the same scan pipeline; shard and stage are
# per-row expressions on the survivors; one aggregate at the end). No
# intermediate materialization, no second scan of the corpus.
#
# Shared-definition discipline: quality comes from fragments.QUALITY_SQL
# via text_quality_score, dedup keep from dedup_exact's sha256 keep-min
# (an id semi-join whose keep side is one row per DISTINCT content —
# corpus-sized at scale, so no broadcast hint: the planner picks, and
# the id-bucketed layout co-locates it), shard from
# corpus_shard.shard_col, stage from
# corpus_curriculum's constants — the manifest can never disagree with
# the individually-registered queries it composes.
#
# Scale posture: one documents scan + the sha-key self-aggregate the
# exact dedup already pays; everything after is per-row expressions into
# a (N_SHARDS x 3)-cell aggregate. The oracle re-derives the full chain
# in SQL.
# ---------------------------------------------------------------------------


MIN_QUALITY = 0.7  # release gate: drop docs below this score


@register(
    "pipe_release_manifest",
    oracle=f"""
        WITH q AS ({QUALITY_SQL}),
        gated AS (
            SELECT q.doc_id, q.n_tokens, q.quality, d.text
            FROM q JOIN documents d ON q.doc_id = d.doc_id
            WHERE q.quality >= {MIN_QUALITY}
        ),
        keep AS (
            SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id
            FROM gated GROUP BY sha256(text)
        ),
        released AS (
            SELECT g.doc_id, g.n_tokens, g.quality
            FROM gated g JOIN keep USING (doc_id)
        )
        SELECT CAST({sql_shard('doc_id')} AS BIGINT) AS shard,
               CASE WHEN quality >= {CLEAN_Q}
                         AND n_tokens <= {SHORT_TOKENS} THEN 1
                    WHEN quality >= {CLEAN_Q} THEN 2
                    ELSE 3 END AS stage,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        FROM released
        GROUP BY 1, 2
    """,
    tags=("corpus", "pipeline", "agg"),
)
def pipe_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (shard, curriculum stage): released doc and token volume
    after the quality gate and exact-dedup keep — the corpus release's
    shipping manifest, derived in one lazy plan.

    r17 restructure (guide §2.4): quality is a per-row expression over
    the SAME documents scan that feeds the sha256 dedup
    (quality_base_frame(with_text=True)) — the old shape joined
    text_quality_score back to documents on doc_id, a full
    corpus-by-id shuffle at scale (SortMergeJoin in the sf0.1 plan) just
    to re-attach a column derivable in place. And the keep-min semi-join
    is folded into the dedup aggregate itself: MIN(struct(doc_id,
    n_tokens, quality)) per sha picks the min-doc_id row AND carries its
    payload, which is exactly what `keep = MIN(doc_id) per sha` followed
    by `gated SEMI JOIN keep ON doc_id` selected (doc_id is unique, so
    the min-struct row IS the kept row). Plan: 4 scans + 1 SMJ + 2 BHJ +
    semi-join -> ONE scan + the sha aggregate + the bounded manifest
    roll-up. Result verified multiset-identical at sf0.1 and
    oracle-green; local min-of-N is a wash (the broadcast joins were
    cheap at bench scale) — this change is for the 100 TB shape, where
    neither join side broadcasts."""
    from bigbugdata_spark.functions.fragments import (
        quality_base_frame,
        quality_deci_col,
    )

    quality = quality_deci_col().cast("double") / F.lit(10.0)
    gated = (
        quality_base_frame(spark, sf_dir, with_text=True)
        .select("doc_id", "n_tokens", "text", quality.alias("quality"))
        .where(F.col("quality") >= MIN_QUALITY)
    )
    released = (
        gated.groupBy(F.sha2(F.col("text"), 256).alias("sha"))
        .agg(F.min(F.struct("doc_id", "n_tokens", "quality")).alias("m"))
        .select(
            F.col("m.doc_id").alias("doc_id"),
            F.col("m.n_tokens").alias("n_tokens"),
            F.col("m.quality").alias("quality"),
        )
    )
    stage = (
        F.when(
            (F.col("quality") >= CLEAN_Q) & (F.col("n_tokens") <= SHORT_TOKENS),
            1,
        )
        .when(F.col("quality") >= CLEAN_Q, 2)
        .otherwise(3)
    )
    return (
        released.select(
            shard_col(F.col("doc_id")).cast("long").alias("shard"),
            stage.alias("stage"),
            "n_tokens",
        )
        .groupBy("shard", "stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
