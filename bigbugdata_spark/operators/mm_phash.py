"""Perceptual-hash near-duplicate detection.

Image dedup, the multimodal face of the dedup family: decode -> 8x8
"luminance" grid -> average-hash (bit_j = cell_j > grid mean, the
classic aHash) -> 4 x 16-bit blocks -> pigeonhole block bucketing
(hamming <= 3 over 4 blocks forces at least one identical block, the
same exactness argument as dedup_simhash) -> hamming verification.
The grid comes from the deterministic fake kernel (pure arithmetic on
payload bytes' length, like every decode stub in multimodal.py), so the
WHOLE pipeline — including the Python mapInPandas hop — has an exact
all-pairs ground-truth oracle.

No analog in the reference (SURVEY §2.1); LLM-pipeline extension
surface.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigbugdata_spark.caching import pin
from bigbugdata_spark.catalog import table
from bigbugdata_spark.operators.dedup import _bucket_pairs
from bigbugdata_spark.registry import register

PHASH_GRID = 64  # 8x8 cells
PHASH_HAMMING_T = 3


def _phash_blocks_pdf(n_bytes: "pd.Series") -> dict[str, "pd.Series"]:
    """Vectorized fake aHash: grid g_j = (n * (2j+1)) % 256; bit_j set
    iff g_j * 64 > sum(g) (integer cross-multiply, no fp mean); bits
    packed into four 16-bit blocks."""
    n = n_bytes.astype("int64")
    grid = [(n * (2 * j + 1)) % 256 for j in range(PHASH_GRID)]
    total = sum(grid)
    bits = [(g * PHASH_GRID > total).astype("int64") for g in grid]
    out = {}
    for k in range(4):
        blk = sum(bits[16 * k + r] * (1 << r) for r in range(16))
        out[f"b{k}"] = blk.astype("int32")
    return out


_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("b0", T.IntegerType()),
        T.StructField("b1", T.IntegerType()),
        T.StructField("b2", T.IntegerType()),
        T.StructField("b3", T.IntegerType()),
    ]
)


def _phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        n_bytes = pdf["payload"].map(len).astype("int64")
        cols = {"doc_id": pdf["doc_id"].astype("int64")}
        cols.update(_phash_blocks_pdf(n_bytes))
        yield pd.DataFrame(cols)


def _sql_phash_block(k: int) -> str:
    """DuckDB twin of one 16-bit block of the fake aHash."""
    n = "octet_length(encode(text))"
    total = " + ".join(f"(({n} * {2 * j + 1}) % 256)" for j in range(PHASH_GRID))
    bits = " + ".join(
        f"(CASE WHEN (({n} * {2 * (16 * k + r) + 1}) % 256) * {PHASH_GRID}"
        f" > ({total}) THEN {1 << r} ELSE 0 END)"
        for r in range(16)
    )
    return f"CAST({bits} AS INT)"


_PHASH_SQL = f"""
    WITH ph AS (
        SELECT doc_id,
               {_sql_phash_block(0)} AS b0,
               {_sql_phash_block(1)} AS b1,
               {_sql_phash_block(2)} AS b2,
               {_sql_phash_block(3)} AS b3
        FROM documents
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
                AS INT) AS hamming
    FROM ph a JOIN ph b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
        <= {PHASH_HAMMING_T}
"""


@register(
    "mm_phash_near_dup",
    oracle=_PHASH_SQL,
    tags=("multimodal", "dedup", "join", "pandas-udf"),
)
def mm_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate 'image' pairs — the multimodal
    face of the dedup family: payloads cross to Python once as Arrow
    batches (the sanctioned mapInPandas decode path), the kernel emits a
    64-bit average-hash as four 16-bit blocks, and the pair search is
    pigeonhole block bucketing (hamming <= 3 over 4 blocks guarantees a
    fully matching block — candidates are a provable superset, same
    argument as dedup_simhash) with exact hamming verification on
    candidates only. The oracle is ground truth: DuckDB re-derives the
    hash from the payload definition and checks ALL pairs, so the
    bucketing's completeness is hash-verified, not assumed.

    Scale: the blocks frame is 4 ints per image (the payload never
    leaves the decode stage); bucketing shuffles on 16-bit block keys;
    the per-bucket expansion is the standard LSH quadratic step, gated
    by _bucket_pairs' mega-bucket guard when a degenerate corpus needs
    it. At 100 TB this is exactly the simhash text plan with the
    signature swapped for a decoded-media hash."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    ph = pin(docs.mapInPandas(_phash_batches, _PHASH_SCHEMA))
    bands = ph.select(
        "doc_id",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("band", "key"),
    )
    cand = _bucket_pairs(bands, ["band", "key"], "doc_id")
    h1 = ph.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"b{k}").alias(f"a{k}") for k in range(4)],
    )
    h2 = ph.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"b{k}").alias(f"c{k}") for k in range(4)],
    )
    hamming = sum(
        F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"c{k}"))) for k in range(4)
    ).cast("int")
    return (
        cand.join(h1, "d1")
        .join(h2, "d2")
        .select("d1", "d2", hamming.alias("hamming"))
        .filter(F.col("hamming") <= PHASH_HAMMING_T)
    )
