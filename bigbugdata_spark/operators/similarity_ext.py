"""Similarity round-3 additions — the VECTORIZED Arrow path for exact
top-k (the north star names it explicitly: "F.aggregate/F.zip_with for
the dot product, or a vectorized Pandas UDF"). `sim_cosine_topk` is the
all-built-in JVM formulation; this module adds the mapInPandas + numpy
blocked-matmul twin — the shape that wins once the score matrix is the
bottleneck (wide embeddings, large |Q|): one BLAS matmul per Arrow batch
replaces |Q| x dim zip_with evaluations per row.

Rows-only by design — numpy
sums reduce in a different order than the oracle's left-to-right fp64
chain, so scores differ in final ulps and a hash compare is the wrong
contract. The binding contract is tests/test_extensions.py (identical
(query, neighbor, rank) sets to the exact oracle-checked baseline),
driver-hash-verified through the oracle'd audit twin `audit_np_parity`
(operators/audits.py)."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions.fragments import N_QUERIES, TOP_K
from bigbugdata_spark.registry import register


@register("sim_cosine_topk_np", tags=("similarity", "vector", "window"))
def sim_cosine_topk_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul.

    Plan: the query matrix (|Q| x dim, tiny) is captured in the UDF
    closure (a broadcast in cluster terms); each Arrow batch of the
    corpus becomes one (batch x dim) @ (dim x |Q|) BLAS call, and the
    batch emits only its LOCAL top-k rows per query — the partial-top-k
    pushdown that keeps the global window input at
    partitions x |Q| x k rows instead of corpus x |Q|. One corpus scan,
    no corpus shuffle, one tiny window exchange. The driver-side collect
    is the |Q|=8 query vectors — bounded by contract."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qrows = sorted(
        emb.filter(F.col("vec_id") < N_QUERIES).collect(),
        key=lambda r: r.vec_id,
    )
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qm = np.array([r.embedding for r in qrows], dtype=np.float64)
    q_nrm = np.sqrt((qm * qm).sum(axis=1))

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            nrm = np.sqrt((m * m).sum(axis=1))
            s = (m @ qm.T) / np.outer(nrm, q_nrm)  # (batch, |Q|)
            out = []
            for qi in range(len(q_ids)):
                col = s[:, qi]
                mask = ids != q_ids[qi]  # a query is not its own neighbor
                cand_idx = np.nonzero(mask)[0]
                if cand_idx.size == 0:
                    continue
                k = min(TOP_K, cand_idx.size)
                top = cand_idx[np.argpartition(-col[cand_idx], k - 1)[:k]]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": q_ids[qi],
                            "neighbor_id": ids[top],
                            "cos_sim": col[top],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    cand = emb.mapInPandas(
        score_batches, "query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("int").alias("rnk")
        )
    )
