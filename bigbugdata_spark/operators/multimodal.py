"""Multimodal columns: JSON properties and binary media with typed
metadata, per-frame feature extraction and pooling, and perceptual-hash
image near-duplicate detection.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from bigbugdata_spark.caching import pin
from bigbugdata_spark.catalog import table
from bigbugdata_spark.operators.dedup import _bucket_pairs
from bigbugdata_spark.registry import register


# ---------------------------------------------------------------------------
# Multimodal-column operators: JSON property parsing and opaque binary
# media columns with typed metadata (SURVEY.md §7 phase 3; the reference
# has no nested values anywhere — SURVEY §1.1).
#
# The multimodal contract for a 100 TB training-data pipeline: media
# (image/audio/video) ride as opaque `binary` columns next to typed
# metadata; decode / feature-extraction runs as Arrow-batched Pandas
# functions over mapInPandas (the only sanctioned Python-in-the-loop path —
# never row-at-a-time UDFs). The decode kernel in this container is a
# STUB by necessity (no image/audio libraries installed): `_decode_batches`
# derives width, height and frame count by pure arithmetic on the byte
# length, so the Spark-side plumbing — binary schema, Arrow batch shape,
# partition-preserving mapInPandas, metadata join-back — is real and
# oracle-testable.
# ---------------------------------------------------------------------------


@register(
    "mm_props_parse",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MIN(k) AS BIGINT) AS min_k,
               CAST(MAX(k) AS BIGINT) AS max_k,
               CAST(SUM(k) AS BIGINT) AS sum_k
        FROM (
            SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        )
        GROUP BY event_type
    """,
    tags=("multimodal", "json"),
)
def mm_props_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON props -> typed struct through aggregation: from_json parses
    the semi-structured column into `k BIGINT` at the scan, then an
    ordinary integer aggregate per event_type. from_json is a JVM
    expression — schema-on-read without a Python hop; malformed JSON
    yields NULL (PERMISSIVE), same as DuckDB's json_extract."""
    ev = table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k BIGINT").getField("k").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum("k").alias("sum_k"),
    )


@register(
    "mm_binary_meta",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS content_sha,
               CAST(ascii(substr(text, 1, 1)) AS INT) AS magic
        FROM documents
    """,
    tags=("multimodal", "binary"),
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary column + typed metadata: text encoded to a binary
    payload (the stand-in for image/audio bytes), with byte length,
    content sha-256 and a magic-byte probe extracted as columns. All
    JVM-side; the binary payload itself never leaves the executors —
    the pattern that keeps a 100 TB media table scannable (metadata
    columns are tiny; parquet column pruning skips the blobs)."""
    docs = table(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(blob).cast("long").alias("n_bytes"),
        F.sha2(blob, 256).alias("content_sha"),
        F.ascii(F.substring(F.col("text"), 1, 1)).cast("int").alias("magic"),
    )


# --- decode kernels ---------------------------------------------------------


_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched decode: one pandas frame per batch, vectorized ops
    only (no python per-row loop beyond the byte-length extraction the
    real decoder would also need)."""
    for pdf in batches:
        n_bytes = pdf["payload"].map(len).astype("int64")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": n_bytes,
                "width": (n_bytes % 317 + 1).astype("int32"),
                "height": (n_bytes * 7919 % 211 + 1).astype("int32"),
                "n_frames": (n_bytes % 7 + 1).astype("int32"),
            }
        )


@register(
    "mm_frame_sample",
    oracle="""
        WITH meta AS (
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   CAST(octet_length(encode(text)) % 7 + 1 AS INT) AS n_frames
            FROM documents
        )
        SELECT doc_id,
               CAST(u.f AS INT) AS frame_idx,
               CAST((u.f * n_bytes) // n_frames AS BIGINT) AS byte_offset
        FROM meta, unnest(range(0, n_frames, 2)) AS u(f)
    """,
    tags=("multimodal", "generate"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over 'video' payloads: every 2nd frame index from
    the decoded frame count, with its byte offset into the payload —
    the plumbing a real video pipeline needs (seekable offsets per
    sampled frame) with the decode itself stubbed (see mm_decode_stub).
    Pure generate: sequence + explode per row, no shuffle, payload bytes
    never move — only (doc_id, frame_idx, offset) triples flow on."""
    docs = table(spark, sf_dir, "documents")
    blob_len = F.octet_length(F.encode(F.col("text"), "UTF-8")).cast("long")
    meta = docs.select(
        "doc_id",
        blob_len.alias("n_bytes"),
        (blob_len % 7 + 1).cast("int").alias("n_frames"),
    )
    return meta.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(2))
        ).alias("frame_idx"),
        "n_bytes",
        "n_frames",
    ).select(
        "doc_id",
        "frame_idx",
        ((F.col("frame_idx") * F.col("n_bytes")) / F.col("n_frames"))
        .cast("long")
        .alias("byte_offset"),
    )


@register(
    "mm_resize_meta",
    oracle="""
        WITH dims AS (
            SELECT doc_id,
                   CAST(octet_length(encode(text)) % 317 + 1 AS BIGINT) AS width,
                   CAST(octet_length(encode(text)) * 7919 % 211 + 1 AS BIGINT) AS height
            FROM documents
        )
        SELECT doc_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
               CAST(CASE WHEN width >= height
                         THEN LEAST(width, 64)
                         ELSE (width * LEAST(height, 64)) // height END AS INT) AS out_w,
               CAST(CASE WHEN width >= height
                         THEN (height * LEAST(width, 64)) // width
                         ELSE LEAST(height, 64) END AS INT) AS out_h
        FROM dims
    """,
    tags=("multimodal", "project"),
)
def mm_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning: target dimensions for a max-side-64 downscale
    preserving aspect ratio, computed in exact integer arithmetic from
    the (stub-)decoded dimensions. The actual pixel resample would run in
    the same mapInPandas stage as the decode; the dimension plan is what
    the scheduler/cost model needs and it never touches the payload."""
    docs = table(spark, sf_dir, "documents")
    n = F.octet_length(F.encode(F.col("text"), "UTF-8")).cast("long")
    w, h = (n % 317 + 1), (n * 7919 % 211 + 1)
    max_side = F.lit(64)
    out_w = F.when(w >= h, F.least(w, max_side)).otherwise(
        (w * F.least(h, max_side) - (w * F.least(h, max_side)) % h) / h
    )
    out_h = F.when(w >= h, (h * F.least(w, max_side) - (h * F.least(w, max_side)) % w) / w).otherwise(
        F.least(h, max_side)
    )
    return docs.select(
        "doc_id",
        w.cast("int").alias("width"),
        h.cast("int").alias("height"),
        out_w.cast("int").alias("out_w"),
        out_h.cast("int").alias("out_h"),
    )


@register(
    "mm_decode_stub",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(octet_length(encode(text)) % 317 + 1 AS INT) AS width,
               CAST(octet_length(encode(text)) * 7919 % 211 + 1 AS INT) AS height,
               CAST(octet_length(encode(text)) % 7 + 1 AS INT) AS n_frames
        FROM documents
    """,
    tags=("multimodal", "pandas-udf"),
)
def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode through mapInPandas — the sanctioned Python path:
    binary payloads cross to Python as Arrow batches, the (stubbed)
    decode kernel computes per-item features vectorized, typed rows come
    back. Partition-preserving (no shuffle); at 100 TB the decode stage
    scales with executors and the Arrow batch size
    (spark.sql.execution.arrow.maxRecordsPerBatch) bounds memory.
    The fake kernel is arithmetic on byte length, which is what makes
    this oracle-checkable end to end."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return docs.mapInPandas(_decode_batches, _DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# Per-frame feature extraction + asset-level pooling (round 10) — the
# multimodal family's missing middle: mm_frame_sample plans WHICH frames
# to touch, mm_decode_stub marks the decode boundary, but nothing ran a
# per-frame FEATURE KERNEL through the Arrow batch path and pooled the
# results per asset — the shape every video/image embedding pipeline has
# (decode frame -> feature vector -> pool).  This registers exactly that,
# under the full hash gate.
#
# The kernel is the documented deterministic decode stand-in (the
# _decode_batches convention): each sampled frame's "feature vector" is the
# code points of 4 characters read at the frame's offset into the payload
# (cyclic) — an opaque per-item computation with the real kernel's
# signature (bytes in, fixed-width vector out), swappable for a real
# decoder where one ships.  Because it is deterministic arithmetic on the
# payload, the DuckDB twin re-derives frames, offsets, features, and the
# pooled sums exactly — the mapInPandas boundary itself is hash-gated,
# not just row-counted.
#
# No analog in the reference (SURVEY §2.1); multimodal extension surface.
#
# Scale posture: the kernel runs inside mapInPandas over Arrow batches —
# payload bytes never shuttle through the driver, per-frame rows are
# emitted executor-side, and the pooling is a map-side-combinable
# groupBy(doc_id) SUM.  At 100 TB the same topology holds with the real
# decoder; the per-frame fan-out is bounded by the sampling stride
# (every 2nd frame of a <= 7-frame payload here).
# ---------------------------------------------------------------------------


FEAT_DIM = 4

_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
    ]
    + [T.StructField(f"c{k}", T.LongType()) for k in range(FEAT_DIM)]
)


def _feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Arrow-batched frame-feature kernel: per input asset, emit one row
    per sampled frame (every 2nd of n_chars%7+1 frames) with the
    FEAT_DIM character codes at the frame's cyclic offset.  The inner
    per-item loop IS the decode-kernel boundary — a real decoder does
    opaque per-payload work here too; everything around it stays
    Arrow-vectorized."""
    for pdf in batches:
        doc_ids: list[int] = []
        frame_idxs: list[int] = []
        feats: list[list[int]] = [[] for _ in range(FEAT_DIM)]
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            n = len(text)
            if n == 0:
                continue
            n_frames = n % 7 + 1
            for f in range(0, n_frames, 2):
                off = (f * n) // n_frames
                doc_ids.append(doc_id)
                frame_idxs.append(f)
                for k in range(FEAT_DIM):
                    feats[k].append(ord(text[(off + k) % n]))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(doc_ids, dtype="int64"),
                "frame_idx": pd.Series(frame_idxs, dtype="int64"),
                **{
                    f"c{k}": pd.Series(feats[k], dtype="int64")
                    for k in range(FEAT_DIM)
                },
            }
        )


_POOL_SQL = f"""
    WITH meta AS (
        SELECT doc_id, text,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(text) % 7 + 1 AS BIGINT) AS n_frames
        FROM documents WHERE length(text) > 0
    ),
    frames AS (
        SELECT doc_id, text, n_chars,
               CAST(u.f AS BIGINT) AS frame_idx,
               (CAST(u.f AS BIGINT) * n_chars) // n_frames AS off
        FROM meta, unnest(range(0, n_frames, 2)) AS u(f)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           {", ".join(
               f"CAST(SUM(ord(substr(text,"
               f" CAST((off + {k}) % n_chars AS INT) + 1, 1)))"
               f" AS BIGINT) AS f{k}"
               for k in range(FEAT_DIM)
           )}
    FROM frames GROUP BY doc_id
"""


@register(
    "mm_frame_feature_pool",
    oracle=_POOL_SQL,
    tags=("multimodal", "pandas-udf", "agg"),
)
def mm_frame_feature_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_sampled, f0..f3): per asset, the number of sampled
    frames and the element-wise SUM of their frame-feature vectors —
    frame features computed executor-side in one mapInPandas kernel,
    pooled by a distributed aggregate; the oracle re-derives the whole
    chain in SQL, hash-gating the Arrow boundary."""
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") > 0)
    )
    frames = docs.mapInPandas(_feature_batches, schema=_FRAME_SCHEMA)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        *[F.sum(f"c{k}").alias(f"f{k}") for k in range(FEAT_DIM)],
    )


# ---------------------------------------------------------------------------
# Perceptual-hash near-duplicate detection.
#
# Image dedup, the multimodal face of the dedup family: decode -> 8x8
# "luminance" grid -> average-hash (bit_j = cell_j > grid mean, the
# classic aHash) -> 4 x 16-bit blocks -> pigeonhole block bucketing
# (hamming <= 3 over 4 blocks forces at least one identical block, the
# same exactness argument as dedup_simhash) -> hamming verification.
# The grid comes from the deterministic fake kernel (pure arithmetic on
# payload bytes' length, like every decode stub in multimodal.py), so the
# WHOLE pipeline — including the Python mapInPandas hop — has an exact
# all-pairs ground-truth oracle.
#
# No analog in the reference (SURVEY §2.1); LLM-pipeline extension
# surface.
# ---------------------------------------------------------------------------


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
