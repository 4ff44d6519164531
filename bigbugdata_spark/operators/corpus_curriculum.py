"""Curriculum schedule accounting (round 8) — the training-ORDER plan
over the governed corpus: documents grouped into curriculum stages
(clean-short first, clean-long next, the rest last — the standard
easy-to-hard schedule) with per-stage volume and the cumulative token
position at which each stage begins. The trainer consumes exactly this
table to know where stage boundaries fall in the token stream.

No analog in the reference (SURVEY §2.1); corpus-governance extension
surface next to corpus_shard_assignment (WHERE each doc lives) and
corpus_pack_accounting (HOW docs pack) — this says WHEN they are seen.

Stage assignment is per-row (shared quality expression + a token-count
band), so no global sort is needed anywhere: the schedule orders
STAGES, not documents, and within a stage the shard/pack layout
already fixes a deterministic order. The cumulative sum runs over the
stage-count-sized frame.

Determinism discipline: the quality threshold reuses the SHARED
quality expression (fragments.QUALITY_SQL / text_quality_score), so
the curriculum can never disagree with the registered score; all
volumes are exact BIGINTs and the cumulative positions are sums of
those.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigbugdata_spark.functions.fragments import QUALITY_SQL as _QUALITY_SQL
from bigbugdata_spark.operators.text import text_quality_score
from bigbugdata_spark.registry import register

CLEAN_Q = 1.0  # full rule-sum score counts as clean
SHORT_TOKENS = 56  # clean docs at or under this length go first


@register(
    "corpus_curriculum_plan",
    oracle=f"""
        WITH q AS ({_QUALITY_SQL}),
        staged AS (
            SELECT CASE WHEN quality >= {CLEAN_Q}
                             AND n_tokens <= {SHORT_TOKENS} THEN 1
                        WHEN quality >= {CLEAN_Q} THEN 2
                        ELSE 3 END AS stage,
                   n_tokens
            FROM q
        ),
        per AS (
            SELECT stage,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
            FROM staged GROUP BY stage
        )
        SELECT stage,
               CASE stage WHEN 1 THEN 'clean_short'
                          WHEN 2 THEN 'clean_long'
                          ELSE 'rest' END AS stage_name,
               n_docs, n_tokens,
               CAST(SUM(n_tokens) OVER (ORDER BY stage)
                    - n_tokens AS BIGINT) AS start_token
        FROM per
    """,
    tags=("corpus", "agg"),
)
def corpus_curriculum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per curriculum stage: document/token volume and the exact token
    offset at which the stage begins in the training stream
    (cumulative tokens of all earlier stages)."""
    q = text_quality_score(spark, sf_dir)
    stage = (
        F.when(
            (F.col("quality") >= CLEAN_Q) & (F.col("n_tokens") <= SHORT_TOKENS),
            1,
        )
        .when(F.col("quality") >= CLEAN_Q, 2)
        .otherwise(3)
    )
    per = (
        q.select(stage.alias("stage"), "n_tokens")
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
    w = Window.orderBy("stage")  # stage-count-sized frame
    return per.select(
        "stage",
        F.when(F.col("stage") == 1, "clean_short")
        .when(F.col("stage") == 2, "clean_long")
        .otherwise("rest")
        .alias("stage_name"),
        "n_docs",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .cast("long")
        .alias("start_token"),
    )
