"""Corpus release manifest (round 8) — the capstone composition of the
round's governance pieces: quality gate -> exact-dedup keep -> shard
assignment -> curriculum stage, rolled up per (shard, stage). This is
the table a data org SHIPS with a corpus release: for every output
shard, how many documents and tokens land in each curriculum stage —
the loader's index and the release's audit trail in one.

Like pipe_training_corpus (r2) and pipe_governed_corpus (r5), the
value is the COMPOSITION: all four stages fuse into one lazy plan, so
Catalyst sees the whole tree (the quality projection and the dedup
keep-filter push into the same scan pipeline; shard and stage are
per-row expressions on the survivors; one aggregate at the end). No
intermediate materialization, no second scan of the corpus.

Shared-definition discipline: quality comes from fragments.QUALITY_SQL
via text_quality_score, dedup keep from dedup_exact's sha256 keep-min
(an id semi-join whose keep side is one row per DISTINCT content —
corpus-sized at scale, so no broadcast hint: the planner picks, and
the id-bucketed layout co-locates it), shard from
corpus_shard.shard_col, stage from
corpus_curriculum's constants — the manifest can never disagree with
the individually-registered queries it composes.

Scale posture: one documents scan + the sha-key self-aggregate the
exact dedup already pays; everything after is per-row expressions into
a (N_SHARDS x 3)-cell aggregate. The oracle re-derives the full chain
in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions.fragments import QUALITY_SQL as _QUALITY_SQL
from bigbugdata_spark.operators.corpus_curriculum import CLEAN_Q, SHORT_TOKENS
from bigbugdata_spark.operators.corpus_shard import shard_col, sql_shard
from bigbugdata_spark.registry import register

MIN_QUALITY = 0.7  # release gate: drop docs below this score


@register(
    "pipe_release_manifest",
    oracle=f"""
        WITH q AS ({_QUALITY_SQL}),
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
