"""Training-corpus shard planner (round 8) — deterministic hash
sharding of the document corpus into N_SHARDS output shards with
per-shard volume accounting. This is the step between "governed corpus"
(operators/pipeline.py) and "tensors on a trainer": data loaders want a
fixed number of roughly-equal shards whose membership is a pure
function of the doc id, so re-running the pipeline (or appending and
re-sharding) never silently moves a document between shards.

No analog in the reference (SURVEY §2.1); corpus-governance extension
surface alongside corpus_pack_accounting (which packs into fixed token
windows; this plans the FILE layout).

Determinism discipline: shard id is the repo's standard affine hash mod
P (functions/hashing.P) reduced mod N_SHARDS — same family as the
train/val/test split (fragments.split_col) but with distinct
coefficients, so shard and split assignments are independent. All
accounting columns are exact BIGINT sums; the imbalance diagnostic
(each shard's doc share in permille of a perfectly even share) is fp64
over exact integers.

Scale posture: one scan, one map-side-combinable aggregate on a
N_SHARDS-key space; at 100 TB the same expression is the
`.repartition(N_SHARDS, shard)` / partitionBy("shard") write key, so
the plan IS the layout. Token counts reuse the repo-wide whitespace
tokenizer so shard budgets agree with every other token accounting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.registry import register

N_SHARDS = 16
# affine shard hash — coefficients deliberately distinct from
# fragments.SPLIT_A/B so shard % split strata stay independent
SHARD_A, SHARD_B = 40_503_551, 1_299_721


def shard_col(doc_id):
    """Column: shard id (0..N_SHARDS-1) of a BIGINT doc_id Column."""
    return ((F.lit(SHARD_A) * doc_id + F.lit(SHARD_B)) % F.lit(H.P)) % F.lit(
        N_SHARDS
    )


def sql_shard(doc_id: str = "doc_id") -> str:
    """DuckDB twin of shard_col (identical affine hash + reduction)."""
    return f"(({SHARD_A} * {doc_id} + {SHARD_B}) % {H.P}) % {N_SHARDS}"


@register(
    "corpus_shard_assignment",
    oracle=f"""
        WITH assigned AS (
            SELECT CAST({sql_shard('doc_id')} AS BIGINT) AS shard,
                   CAST(len({H.sql_tokens('text')}) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars
            FROM documents
        ),
        per AS (
            SELECT shard,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                   CAST(SUM(n_chars) AS BIGINT) AS n_chars
            FROM assigned GROUP BY shard
        )
        SELECT shard, n_docs, n_tokens, n_chars,
               CAST(n_docs * {N_SHARDS} * 1000 AS DOUBLE)
                   / SUM(n_docs) OVER () AS share_pm
        FROM per
    """,
    tags=("corpus", "agg", "layout"),
)
def corpus_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per shard: document / token / char volume plus the shard's doc
    share in permille of a perfectly balanced shard (1000 = exactly
    even). The assignment expression is the write-partition key for the
    sharded lake, so this accounting is also the layout plan."""
    docs = table(spark, sf_dir, "documents")
    assigned = docs.select(
        shard_col(F.col("doc_id")).cast("long").alias("shard"),
        F.size(H.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )
    per = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
    )
    w = Window.partitionBy()  # N_SHARDS-row frame
    return per.select(
        "shard",
        "n_docs",
        "n_tokens",
        "n_chars",
        (
            (F.col("n_docs") * F.lit(N_SHARDS) * F.lit(1000)).cast("double")
            / F.sum("n_docs").over(w)
        ).alias("share_pm"),
    )
