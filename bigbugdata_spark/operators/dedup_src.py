"""Cross-source duplication governance (round 8) — who is duplicating
whom? Near-dup dedup answers "which documents"; corpus governance needs
the roll-up: which SOURCE pairs share near-duplicate content (mirror
sites, scraped re-posts, licensing overlap) and what fraction of each
source's documents is implicated. The dataset-card table behind "drop
src X, it is 40% a mirror of src Y".

No analog in the reference (SURVEY §2.1); dedup/corpus-governance
extension surface over operators/dedup.py's verified pair machinery.

Scale posture: pair generation is dedup_minhash_lsh's banded-LSH
pipeline verbatim (bucketed candidates + bounded exact verify — never
all-pairs), with equality to ground truth at this corpus' J >= 0.9
level (miss probability <= 4e-8, see dedup.py). The source roll-up
joins the pair frame (|near-dup pairs|, tiny relative to corpus)
against a two-column doc->source projection twice, then aggregates on a
|sources|^2-bounded key space; the ORACLE side recomputes ground truth
all-pairs, which only the test scale can afford — exactly the
audit-twin asymmetry the repo uses everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.caching import pin
from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions.fragments import JACCARD_PAIRS_SQL
from bigbugdata_spark.operators.dedup import dedup_minhash_lsh
from bigbugdata_spark.registry import register


@register(
    "dedup_cross_source",
    oracle=f"""
        WITH pairs AS ({JACCARD_PAIRS_SQL}),
        tagged AS (
            SELECT LEAST(sa.source, sb.source) AS src_a,
                   GREATEST(sa.source, sb.source) AS src_b
            FROM pairs
            JOIN documents sa ON pairs.d1 = sa.doc_id
            JOIN documents sb ON pairs.d2 = sb.doc_id
        )
        SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM tagged GROUP BY src_a, src_b
    """,
    tags=("dedup", "corpus", "join"),
)
def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per unordered source pair: the number of verified near-dup
    document pairs between them (a src_a = src_b row is the source's
    INTERNAL duplication — the key equality already says so, no
    separate subtotal needed). Source pair keys are (LEAST, GREATEST)-
    normalized so direction never splits a pair across rows."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("d1"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("d2"), F.col("source").alias("sb"))
    # The doc->source projection is one row per document, i.e.
    # corpus-sized — NOT broadcastable at the repo's 100 TB posture.
    # No hint: both joins key on doc ids, so AQE/the id-bucketed layout
    # picks shuffle-hash (or broadcast only when stats say the side is
    # genuinely small at the running scale).
    tagged = pairs.join(sa, "d1").join(sb, "d2")
    return (
        tagged.select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "dedup_source_dup_rate",
    oracle=f"""
        WITH pairs AS ({JACCARD_PAIRS_SQL}),
        duped AS (
            SELECT DISTINCT doc_id FROM (
                SELECT d1 AS doc_id FROM pairs
                UNION ALL
                SELECT d2 AS doc_id FROM pairs
            )
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN duped.doc_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_duped,
               CAST(SUM(CASE WHEN duped.doc_id IS NOT NULL
                             THEN 1 ELSE 0 END) * 1000 AS DOUBLE)
                   / COUNT(*) AS duped_pm
        FROM documents LEFT JOIN duped USING (doc_id)
        GROUP BY source
    """,
    tags=("dedup", "corpus", "agg"),
)
def dedup_source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: total documents, documents implicated in at least one
    verified near-dup pair (either side), and the implicated share in
    permille. Sources with zero duplicates still get a row (left join
    from the corpus side)."""
    pairs = pin(dedup_minhash_lsh(spark, sf_dir))
    duped = (
        pairs.select(F.col("d1").alias("doc_id"))
        .unionAll(pairs.select(F.col("d2").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    # The implicated-doc set is pair-bounded but NOT corpus-bounded: in
    # precisely the scenario this query exists for (a source that is 40%
    # a mirror) it approaches a large fraction of the corpus.  No
    # broadcast hint — the left join keys on doc_id and co-locates on
    # the id-bucketed layout; AQE downgrades to broadcast only when the
    # measured size allows.
    flagged = docs.join(duped, "doc_id", "left")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.coalesce("is_dup", F.lit(0))).cast("long").alias("n_duped"),
        (
            (F.sum(F.coalesce("is_dup", F.lit(0))) * F.lit(1000)).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("duped_pm"),
    )
