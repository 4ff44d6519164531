"""Budget-constrained corpus selection (round 8) — "give me the best
TOKEN_BUDGET tokens": bands of documents (quality milli-score x
language, best quality first) are admitted whole while the budget
lasts; the marginal band is filled by an exact GREEDY in hash-priority
order — documents enter by (affine draw, doc_id) until the next one
would cross the remaining budget; later bands are dropped. The
compute-budget planning step every pretraining run does before it
touches a trainer — and the non-uniform, budget-aware cousin of
corpus_mix_sample (fixed per-language quotas) and
corpus_quality_weighted_sample (score-proportional retention).

No analog in the reference (SURVEY §2.1); corpus-governance extension
surface.

HARD GUARANTEE (tested): admitted tokens never exceed TOKEN_BUDGET —
the marginal band's running token sum is compared exactly against the
remaining budget, unlike a fraction-sized draw which only bounds the
admitted volume in expectation and can overshoot on a skewed band.
Admission is PREFIX-greedy (the maximal priority-order prefix that
fits — the distributed-friendly form; skip-and-continue would be
inherently sequential), so the shortfall is strictly less than the
first rejected document's size.

Determinism discipline: band totals, cumulative sums and the marginal
running sum are exact BIGINTs; admission order is (affine-hash draw,
doc_id) — the repo's standard deterministic pseudo-random priority
(fresh constants, independent of the split/mix/sample draws). No RNG,
no fp anywhere near a selection decision: re-running the pipeline
admits exactly the same documents.

Scale posture: one scan -> per-band aggregate (map-side combinable,
|bands| rows out) -> window math on the tiny band frame -> one
broadcast join back onto the per-document frame for the marginal
band's ordered prefix sum. That prefix sum is the one ordered window,
and it runs over a SINGLE band (1/|bands| of the corpus); at 100 TB
it parallelizes the same way corpus_pack_accounting's prefix sums do
— bucket the band by draw range, per-bucket local sums plus a
bucket-offset broadcast. Nothing driver-side; the admitted-set filter
is the same expression a writer would partition on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import QUALITY_SQL as _QUALITY_SQL
from bigbugdata_spark.operators.text import text_quality_score
from bigbugdata_spark.registry import register

TOKEN_BUDGET = 20_000  # tokens to admit (sf0.01 corpus holds ~27k)
TRIM_A, TRIM_B = 48_271, 9_973  # fresh affine draw constants


@register(
    "corpus_budget_trim",
    oracle=f"""
        WITH q AS ({_QUALITY_SQL}),
        banded AS (
            SELECT q.doc_id, q.n_tokens,
                   CAST(ROUND(q.quality * 1000) AS BIGINT) AS q_milli,
                   d.lang,
                   ({TRIM_A} * q.doc_id + {TRIM_B}) % {H.P} % 1000 AS draw
            FROM q JOIN documents d ON q.doc_id = d.doc_id
        ),
        bands AS (
            SELECT q_milli, lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
            FROM banded GROUP BY q_milli, lang
        ),
        cum AS (
            SELECT q_milli, lang, n_docs, n_tokens,
                   CAST(SUM(n_tokens) OVER (
                        ORDER BY q_milli DESC, lang) AS BIGINT) AS cum_tokens
            FROM bands
        ),
        status AS (
            SELECT *,
                   CASE WHEN cum_tokens <= {TOKEN_BUDGET} THEN 'full'
                        WHEN cum_tokens - n_tokens < {TOKEN_BUDGET}
                             THEN 'partial'
                        ELSE 'dropped' END AS status,
                   {TOKEN_BUDGET} - (cum_tokens - n_tokens) AS remaining
            FROM cum
        ),
        marginal AS (
            SELECT b.q_milli, b.lang, b.n_tokens, s.remaining,
                   SUM(b.n_tokens) OVER (
                       PARTITION BY b.q_milli, b.lang
                       ORDER BY b.draw, b.doc_id
                       ROWS UNBOUNDED PRECEDING) AS running
            FROM banded b
            JOIN status s ON s.q_milli = b.q_milli AND s.lang = b.lang
            WHERE s.status = 'partial'
        ),
        sel AS (
            SELECT q_milli, lang,
                   CAST(COUNT(*) AS BIGINT) AS sel_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS sel_tokens
            FROM marginal WHERE running <= remaining
            GROUP BY q_milli, lang
        )
        SELECT s.q_milli, s.lang, s.n_docs, s.n_tokens, s.status,
               CASE s.status
                    WHEN 'full' THEN s.n_docs
                    WHEN 'dropped' THEN 0
                    ELSE COALESCE(sel.sel_docs, 0)
               END AS n_docs_sel,
               CASE s.status
                    WHEN 'full' THEN s.n_tokens
                    WHEN 'dropped' THEN 0
                    ELSE COALESCE(sel.sel_tokens, 0)
               END AS n_tokens_sel
        FROM status s
        LEFT JOIN sel ON sel.q_milli = s.q_milli AND sel.lang = s.lang
    """,
    tags=("corpus", "agg"),
)
def corpus_budget_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (quality-milli, lang) band in admission order: volume, the
    band's admission status under TOKEN_BUDGET (full / partial /
    dropped), and the admitted doc/token counts — the partial band
    filled by the exact greedy in (draw, doc_id) priority order, so
    total admitted tokens can never exceed the budget."""
    q = text_quality_score(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    banded = q.join(docs, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(F.col("quality") * 1000).cast("long").alias("q_milli"),
        "lang",
        ((F.lit(TRIM_A) * F.col("doc_id") + F.lit(TRIM_B)) % F.lit(H.P) % 1000)
        .alias("draw"),
    )
    return budget_trim(banded)


def budget_trim(banded: DataFrame, budget: int = TOKEN_BUDGET) -> DataFrame:
    """The trim plan over any (doc_id, n_tokens, q_milli, lang, draw)
    frame — split out so the hard budget guarantee is testable on a
    skewed synthetic band (one outsized document in the marginal band
    must be skipped, not admitted)."""
    bands = banded.groupBy("q_milli", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    w = Window.orderBy(F.desc("q_milli"), F.asc("lang"))  # |bands|-row frame
    cum = bands.select(
        "q_milli",
        "lang",
        "n_docs",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
    )
    status = cum.select(
        "*",
        F.when(F.col("cum_tokens") <= budget, "full")
        .when(F.col("cum_tokens") - F.col("n_tokens") < budget, "partial")
        .otherwise("dropped")
        .alias("status"),
        (F.lit(budget) - (F.col("cum_tokens") - F.col("n_tokens"))).alias(
            "remaining"
        ),
    )
    # exact greedy over the (single) partial band: running token sum in
    # (draw, doc_id) priority order, admit while it fits the remaining
    # budget. The band/status frame is |bands|-sized, so it broadcasts.
    wrun = (
        Window.partitionBy("q_milli", "lang")
        .orderBy("draw", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    part = (
        banded.join(
            F.broadcast(
                status.where(F.col("status") == "partial").select(
                    "q_milli", "lang", "remaining"
                )
            ),
            ["q_milli", "lang"],
        )
        .withColumn("running", F.sum("n_tokens").over(wrun))
        .where(F.col("running") <= F.col("remaining"))
        .groupBy("q_milli", "lang")
        .agg(
            F.count(F.lit(1)).alias("sel_docs"),
            F.sum("n_tokens").alias("sel_tokens"),
        )
    )
    out = status.join(part, ["q_milli", "lang"], "left")
    n_docs_sel = (
        F.when(F.col("status") == "full", F.col("n_docs"))
        .when(F.col("status") == "dropped", F.lit(0))
        .otherwise(F.coalesce(F.col("sel_docs"), F.lit(0)))
    )
    n_tokens_sel = (
        F.when(F.col("status") == "full", F.col("n_tokens"))
        .when(F.col("status") == "dropped", F.lit(0))
        .otherwise(F.coalesce(F.col("sel_tokens"), F.lit(0)))
    )
    return out.select(
        "q_milli",
        "lang",
        "n_docs",
        "n_tokens",
        "status",
        n_docs_sel.cast("long").alias("n_docs_sel"),
        n_tokens_sel.cast("long").alias("n_tokens_sel"),
    )
