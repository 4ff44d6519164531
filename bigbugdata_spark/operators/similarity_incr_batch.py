"""Batch-only IVF assignment (round 12) — the PRODUCTION ingest-cycle
cost shape, registered so the scale probe can MEASURE the claim
sim_ivf_incremental_assign's docstring makes: a real cycle assigns only
the day's batch (~10% of the corpus) against the frozen codebook —
O(|batch| * sqrt(K)) with the two-level router — while the delta-gate
query recomputes the full inverted file only to make its invariant
oracle-checkable.  This query IS that real cycle: batch in, per-cell
additions out; its 10x probe ratio should track data growth (~2-4 with
fixed overheads), an order below the full-recompute gate's ~7-8.

Same frozen-codebook semantics, same deterministic batch slice, same
two-level routed assignment as similarity_incr (whose SQL builders are
imported — one definition).

No analog in the reference (SURVEY §2.1); ANN extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import (
    EMB_DIM as _DIM,
    IVF_CODEBOOK_HASH_SQL,
    SUP_ASSIGN,
    sql_scaled_ivf_k,
    sql_sup_count,
)
from bigbugdata_spark.registry import register

# one definition of the slice predicate + routed assignment SQL
from bigbugdata_spark.operators.similarity_incr import (
    _assign_sql,
    _VINC_PRED_SQL,
    incoming_vec_col,
)

_BATCH_ASSIGN_ORACLE_SQL = f"""
    WITH corpus AS (
        SELECT vec_id, embedding,
               {H.sql_norm('embedding', _DIM)} AS nrm
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
                       ORDER BY {H.sql_dot('c.c_emb', 's.s_emb', _DIM)}
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
    from bigbugdata_spark.operators.similarity import ivf_assign, ivf_cents

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
