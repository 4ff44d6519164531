"""Multimodal-column operators: JSON property parsing and opaque binary
media columns with typed metadata (SURVEY.md §7 phase 3; the reference
has no nested values anywhere — SURVEY §1.1).

The multimodal contract for a 100 TB training-data pipeline: media
(image/audio/video) ride as opaque `binary` columns next to typed
metadata; decode / feature-extraction runs as Arrow-batched Pandas
functions over mapInPandas (the only sanctioned Python-in-the-loop path —
never row-at-a-time UDFs). The decode kernels in this container are
STUBS by necessity (no image/audio libraries installed): `decode_image`
raises NotImplementedError, and the pipeline wires a deterministic fake
(`_fake_decode`, pure arithmetic on the byte length) so the Spark-side
plumbing — binary schema, Arrow batch shape, partition-preserving
mapInPandas, metadata join-back — is real and oracle-testable."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigbugdata_spark.catalog import table
from bigbugdata_spark.registry import register


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


def decode_image(data: bytes) -> tuple[int, int, int]:
    """Real image decode (width, height, channels). STUB: no imaging
    library ships in this container — the Spark plumbing around it is
    exercised via _fake_decode instead."""
    raise NotImplementedError(
        "image decoding requires an imaging library not present in this "
        "environment; the pipeline substitutes _fake_decode"
    )


def _fake_decode(n_bytes: int) -> tuple[int, int, int]:
    """Deterministic decode stand-in: pure arithmetic on payload size, so
    the mapInPandas output is oracle-checkable."""
    width = n_bytes % 317 + 1
    height = (n_bytes * 7919) % 211 + 1
    n_frames = n_bytes % 7 + 1
    return width, height, n_frames


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
    The fake kernel is arithmetic on byte length (decode_image documents
    the NotImplementedError boundary), which is what makes this
    oracle-checkable end to end."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return docs.mapInPandas(_decode_batches, _DECODE_SCHEMA)

