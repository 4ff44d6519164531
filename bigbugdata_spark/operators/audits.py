"""Oracle'd audit twins: queries whose primary output the driver can only
rows-only-check, re-derived so their accuracy passes the hash gate.

Sketch and approximate-index audits (LSH, IVF, numpy parity, quantiles,
vocabulary), landed-asset accounting, and the two- and N-column Z-order
lake accounting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import (
    CENTS_SQL,
    COSINE_T,
    EMB_DIM,
    EMB_LSH_BITS,
    EMB_LSH_PLANES,
    TOP_K,
    cents_col,
    sql_cos,
)
from bigbugdata_spark.operators.dedup import dedup_emb_cosine, dedup_emb_lsh
from bigbugdata_spark.operators.events import evt_value_quantiles_approx
from bigbugdata_spark.operators.similarity import (
    IVF_STAGES_SQL,
    SIM_CORPUS_SQL,
    sim_cosine_topk,
    sim_cosine_topk_np,
    sim_ivf_topk,
)
from bigbugdata_spark.operators.text import text_vocab_approx
from bigbugdata_spark.registry import register
from bigbugdata_spark.sources.zorder import MORTON_BITS, with_morton


# ---------------------------------------------------------------------------
# Oracle'd AUDIT TWINS for the five queries whose primary outputs the
# driver can only rows-only-check (sketches and approximate indexes whose
# raw outputs are engine-specific): dedup_emb_lsh, sim_ivf_topk,
# sim_cosine_topk_np, evt_value_quantiles_approx, text_vocab_approx.
#
# Each audit runs the REAL approximate query and reduces it against its
# exact twin to small EXACT INTEGERS — recall counts, set-overlap counts,
# within-error-bound flags — that a DuckDB oracle can reproduce (or, for
# sketch error flags, assert). That converts "the driver only ever sees a
# row count" into hash-verified green rows: if the approximate path's
# recall/error ever degrades, the integers change and the driver's value
# hash goes red.
#
# Two audit shapes:
#   * re-derivable (audit_emb_lsh_recall, audit_ivf_recall,
#     audit_np_parity): the approximate pipeline itself is deterministic
#     and engine-portable (seeded hyperplanes, affine codebook hash — see
#     functions/fragments.py), so the oracle REBUILDS the whole pipeline in
#     SQL and computes the same counts independently. Strongest form: both
#     engines derive the numerator and denominator from scratch.
#   * bound-asserting (audit_quantiles_rank, audit_vocab_error): the
#     sketch state is engine-internal (Spark GK percentile, HLL++
#     registers), so no SQL can re-derive the approximate values; instead
#     Spark computes exact error-bound flags against the exact answer and
#     the oracle asserts the bound holds (flag columns) while re-deriving
#     every exact column from data. Weaker than re-derivation but still a
#     value-hash check on real data-dependent integers.
#
# No analog in the reference (its only approximations are none — a
# 706-line exact CSV tool); this is verification infrastructure for the
# extension families, per the round-5 VERDICT's top next-round item.
# ---------------------------------------------------------------------------


# --------------------------------------------------------------------------
# 1. dedup_emb_lsh vs dedup_emb_cosine — recall counts, fully re-derived
# --------------------------------------------------------------------------

_PLANES_VALUES_SQL = ", ".join(
    f"({pid}, [{', '.join(str(v) for v in plane)}])"
    for pid, plane in enumerate(EMB_LSH_PLANES)
)

# The oracle rebuilds the ENTIRE hyperplane-LSH pipeline in SQL: the 64
# seeded Rademacher planes as a VALUES list, sign bits via the same
# left-to-right fp64 dot as the Spark side, 4-bit table keys in the same
# "b,b,b,b" string form, bucket self-join for candidates, exact cosine
# verification — then counts them against the brute-force exact pairs.
_EMB_LSH_AUDIT_SQL = f"""
    WITH planes(pid, pvec) AS (VALUES {_PLANES_VALUES_SQL}),
    bits AS (
        SELECT e.vec_id, p.pid,
               CASE WHEN {H.sql_dot('e.embedding', 'p.pvec', EMB_DIM)} > 0
                    THEN 1 ELSE 0 END AS bit
        FROM embeddings e CROSS JOIN planes p
    ),
    keyed AS (
        SELECT vec_id, pid // {EMB_LSH_BITS} AS tbl,
               string_agg(CAST(bit AS VARCHAR), ',' ORDER BY pid) AS key
        FROM bits GROUP BY vec_id, pid // {EMB_LSH_BITS}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
        FROM keyed a JOIN keyed b
          ON a.tbl = b.tbl AND a.key = b.key AND a.vec_id < b.vec_id
    ),
    lsh AS (
        SELECT c.v1, c.v2
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.v1
        JOIN embeddings b ON b.vec_id = c.v2
        WHERE {sql_cos('a.embedding', 'b.embedding')} >= {COSINE_T}
    ),
    exact AS (
        SELECT a.vec_id AS v1, b.vec_id AS v2
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {sql_cos('a.embedding', 'b.embedding')} >= {COSINE_T}
    )
    SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM lsh) AS BIGINT) AS n_lsh,
           CAST((SELECT COUNT(*) FROM lsh l JOIN exact e
                 ON l.v1 = e.v1 AND l.v2 = e.v2) AS BIGINT) AS n_common
"""


@register("audit_emb_lsh_recall", oracle=_EMB_LSH_AUDIT_SQL, tags=("audit", "dedup"))
def audit_emb_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the hyperplane-LSH near-dup path: one row of
    (n_exact, n_lsh, n_common) pair counts, where recall = n_common /
    n_exact and precision = n_common / n_lsh (structurally 1 — LSH
    candidates are exact-verified, so its pairs are a subset).

    Scale: ONE full-outer join of the two pair sets feeds a single
    3-count aggregate, so each pair pipeline (the expensive part —
    bucketed LSH join and the O(n^2) exact anchor, see dedup.py) is
    evaluated exactly once; separate per-count aggregates would re-run
    both lineages (Spark has no cross-consumer subtree reuse here). The
    exact side exists only at audit scale; at 100 TB the LSH path runs
    alone and this audit runs on a sampled slice."""
    exact = dedup_emb_cosine(spark, sf_dir).select(
        "v1", "v2", F.lit(1).alias("e")
    )
    lsh = dedup_emb_lsh(spark, sf_dir).select(
        "v1", "v2", F.lit(1).alias("l")
    )
    return exact.join(lsh, ["v1", "v2"], "full_outer").agg(
        F.count("e").cast("long").alias("n_exact"),
        F.count("l").cast("long").alias("n_lsh"),
        F.count(F.when(F.col("e").isNotNull() & F.col("l").isNotNull(), 1))
        .cast("long")
        .alias("n_common"),
    )


# --------------------------------------------------------------------------
# 2. sim_ivf_topk vs sim_cosine_topk — per-query overlap, fully re-derived
# --------------------------------------------------------------------------


_IVF_AUDIT_SQL = f"""
    WITH {SIM_CORPUS_SQL},
    {IVF_STAGES_SQL},
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT cd.query_id, co.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY cd.query_id
                       ORDER BY {H.sql_dot('q.q_emb', 'co.embedding', EMB_DIM)}
                                / (q.q_nrm * co.nrm) DESC,
                                co.vec_id ASC
                   ) AS rnk
            FROM cand cd
            JOIN corpus co ON co.vec_id = cd.vec_id
            JOIN queries q ON q.query_id = cd.query_id
        ) WHERE rnk <= {TOP_K}
    )
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_overlap
    FROM exact e LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
"""


@register("audit_ivf_recall", oracle=_IVF_AUDIT_SQL, tags=("audit", "similarity"))
def audit_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the IVF index: per query, |exact top-k| and
    |IVF top-k ∩ exact top-k| as exact integers. The oracle re-derives
    the ENTIRE IVF pipeline (affine-hash codebook -> redundant
    assignment -> nprobe cells -> in-cell exact search) in SQL, so both
    engines compute the overlap independently — a change in codebook,
    probing, or scoring on either side goes hash-red.

    Scale: the audit is two top-k queries plus a left join on the
    (query_id, neighbor_id) key and a per-query count — negligible next
    to the index queries themselves (whose plans are the scale story,
    see similarity.py)."""
    exact = sim_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = (
        sim_ivf_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("hit").cast("long").alias("n_overlap"),
        )
    )


# --------------------------------------------------------------------------
# 3. sim_cosine_topk_np vs sim_cosine_topk — exact-set parity per query
# --------------------------------------------------------------------------

_NP_PARITY_SQL = f"""
    WITH {SIM_CORPUS_SQL}
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(*) AS BIGINT) AS n_np,
           CAST(COUNT(*) AS BIGINT) AS n_match
    FROM exact GROUP BY query_id
"""


@register("audit_np_parity", oracle=_NP_PARITY_SQL, tags=("audit", "similarity"))
def audit_np_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parity audit of the Arrow/numpy blocked-matmul top-k: per query,
    the exact JVM top-k size, the numpy path's top-k size, and the size
    of their (query, neighbor) intersection. The oracle asserts all
    three are equal — i.e. the numpy path returns the IDENTICAL neighbor
    set (its cos_sim values differ in final ulps from the left-to-right
    JVM/DuckDB reduction, which is exactly why the raw query can't be
    hash-compared but the neighbor SET can).

    Scale: both sides are one-corpus-scan top-k plans (see
    similarity_ext.py); the audit adds a broadcast-size join of two
    |Q| x k frames."""
    exact = sim_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    np_res = (
        sim_cosine_topk_np(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    n_np = np_res.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_np")
    )
    return (
        exact.join(np_res, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("hit").cast("long").alias("n_match"),
        )
        .join(n_np, "query_id")
        .select("query_id", "n_exact", "n_np", "n_match")
    )


# --------------------------------------------------------------------------
# 4. evt_value_quantiles_approx — GK rank-error bound flags
# --------------------------------------------------------------------------

# Rank-fraction tolerance for the GK sketch: accuracy 10_000 guarantees
# rank error <= n/10_000; 0.005 is the same generous envelope the local
# invariant test uses (tests/test_extensions.py).
_RANK_TOL = 0.005

_QUANTILE_PS = ((0.5, "p50_cents"), (0.9, "p90_cents"), (0.99, "p99_cents"))


@register(
    "audit_quantiles_rank",
    oracle=f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST({len(_QUANTILE_PS)} AS BIGINT) AS n_in_bounds
        FROM events GROUP BY event_type
    """,
    tags=("audit", "events"),
)
def audit_quantiles_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-error audit of the GK quantile sketch: for each event type,
    compute the EXACT rank interval of every approximate quantile (count
    of values strictly below / at-or-below it) in one distributed pass,
    and flag it in-bounds when [lo/n - tol, hi/n + tol] covers the target
    percentile. Output: (event_type, n_events, n_in_bounds) with
    n_in_bounds == 3 expected — the oracle asserts the bound (sketch
    state is Spark-internal, so no SQL can re-derive the approximate
    values; the exact n_events column is re-derived from data).

    Scale: ONE scan of events joined against the broadcast (tiny:
    |event types| rows) sketch output, aggregated map-side — no sort, no
    window; this is exactly the audit you can afford at 100 TB, unlike
    the exact-quantile twin whose per-group sort is the thing the sketch
    replaces."""
    approx = evt_value_quantiles_approx(spark, sf_dir).select(
        "event_type", *[col for _, col in _QUANTILE_PS]
    )
    cents = table(spark, sf_dir, "events").select(
        "event_type", cents_col().alias("cents")
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for p, col in _QUANTILE_PS:
        aggs.append(
            F.sum((F.col("cents") < F.col(col)).cast("long")).alias(f"lt_{col}")
        )
        aggs.append(
            F.sum((F.col("cents") <= F.col(col)).cast("long")).alias(f"le_{col}")
        )
    counted = (
        cents.join(F.broadcast(approx), "event_type")
        .groupBy("event_type")
        .agg(*aggs)
    )
    n = F.col("n").cast("double")
    in_bounds = [
        (
            (F.col(f"lt_{col}") / n - F.lit(_RANK_TOL) <= F.lit(p))
            & (F.lit(p) <= F.col(f"le_{col}") / n + F.lit(_RANK_TOL))
        ).cast("long")
        for p, col in _QUANTILE_PS
    ]
    total = in_bounds[0]
    for flag in in_bounds[1:]:
        total = total + flag
    return counted.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        total.cast("long").alias("n_in_bounds"),
    )


# --------------------------------------------------------------------------
# 5. text_vocab_approx — HLL++ error bound flags vs exact distinct counts
# --------------------------------------------------------------------------


@register(
    "audit_vocab_error",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang, unnest({H.sql_tokens('text')}) AS term
            FROM documents
        )
        SELECT lang,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS total_tokens,
               CAST(COUNT(DISTINCT term) AS BIGINT) AS distinct_terms,
               CAST(3 AS BIGINT) AS n_in_bounds
        FROM toks GROUP BY lang
    """,
    tags=("audit", "text"),
)
def audit_vocab_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-error audit of the HLL++ vocabulary sketch: per language,
    the EXACT n_docs / total_tokens / distinct_terms (re-derived by the
    oracle from the documents table) plus n_in_bounds — how many of the
    three approx columns land inside their error envelope (both HLL
    distinct counts within max(5, 5%) of exact — ~5 sigma at rsd 0.01 —
    and total_tokens, which is not sketched, exactly equal). Expected 3;
    any register-level regression in the sketch path flips the flag and
    the driver's value hash goes red.

    Scale: the exact COUNT(DISTINCT) side exists at audit scale only; at
    100 TB you audit a sampled partition slice. The join is |languages|
    rows on both sides."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(H.tokens(F.col("text"))).alias("term")
    )
    exact = toks.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_tokens"),
        F.countDistinct("term").alias("distinct_terms"),
    )
    approx = text_vocab_approx(spark, sf_dir).select(
        "lang",
        F.col("n_docs_approx"),
        F.col("total_tokens").alias("total_tokens_approx"),
        F.col("distinct_terms_approx"),
    )

    def hll_ok(a_col: str, e_col: str):
        err = F.abs(F.col(a_col).cast("double") - F.col(e_col).cast("double"))
        return err <= F.greatest(F.lit(5.0), F.lit(0.05) * F.col(e_col).cast("double"))

    flags = (
        hll_ok("n_docs_approx", "n_docs").cast("long")
        + hll_ok("distinct_terms_approx", "distinct_terms").cast("long")
        + (F.col("total_tokens_approx") == F.col("total_tokens")).cast("long")
    )
    return (
        exact.join(approx, "lang")
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.col("distinct_terms").cast("long").alias("distinct_terms"),
            flags.alias("n_in_bounds"),
        )
    )


# ---------------------------------------------------------------------------
# Landed-asset-table accounting under the driver's hash gate (round 9,
# VERDICT r8 #5) — the binaryFile ingest + parquet landing
# (sources/binary_files.py) was proven only by unit tests; this registers
# a query that SYNTHESIZES a deterministic asset directory from a bounded
# documents slice, runs the real ingest path (binaryFile scan ->
# asset_id/modality derivation -> hash-repartitioned parquet landing),
# and reports per-modality accounting read back from the LANDED table,
# with a DuckDB twin over the documents table.  md5 digests ride along
# (Spark md5(payload bytes) == DuckDB md5(text) == md5 of the UTF-8
# encoding), so a payload corrupted anywhere in scan->land->read fails
# the value-hash compare, not just a length check.
#
# The fixture-synthesis collect is BOUNDED (the 1-in-10 doc_id slice at
# test scale) and exists only to manufacture files for the gate — a real
# ingest reads an existing directory; what this query measures is the
# Spark plumbing from listing to landed scan.  In-query assertion: the
# landing step must compact to exactly its target partition count (the
# small-file story binaryFile landing exists for); violation raises ->
# errored driver row.
#
# No analog in the reference (SURVEY §2.1); multimodal/storage extension
# surface.  O(write) verification query, excluded from the bench
# headline set like corpus_version_diff.
# ---------------------------------------------------------------------------


_SLICE_MOD, _SLICE_REM = 10, 7
_LAND_PARTITIONS = 2
#: hard ceiling on the fixture-synthesis collect (VERDICT r9 watch #3):
#: the 1-in-_SLICE_MOD slice is ~200 docs at the sf0.01 gate and ~2k at
#: bench SF; if a future SF pushes the slice past this, fail loudly
#: instead of silently materializing an unbounded driver-side fixture —
#: a real ingest reads an existing directory and never runs this step.
_FIXTURE_CAP = 5_000

ASSET_ORACLE_SQL = f"""
    WITH sliced AS (
        SELECT doc_id, text, lang,
               CASE WHEN (doc_id // {_SLICE_MOD}) % 2 = 0
                    THEN 'image' ELSE 'blob' END AS modality
        FROM documents
        WHERE doc_id % {_SLICE_MOD} = {_SLICE_REM}
    )
    SELECT modality,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT)
               AS total_bytes,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_payloads,
           MIN(lang || '/d' || lpad(CAST(doc_id AS VARCHAR), 8, '0'))
               AS first_asset,
           MAX(lang || '/d' || lpad(CAST(doc_id AS VARCHAR), 8, '0'))
               AS last_asset,
           MIN(md5(text)) AS min_digest
    FROM sliced GROUP BY modality
"""


@register(
    "mm_asset_lake_accounting",
    oracle=ASSET_ORACLE_SQL,
    tags=("multimodal", "storage", "agg"),
    side_effects=True,
)
def mm_asset_lake_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per landed modality: asset count, payload byte total, distinct-
    payload count, first/last root-relative asset_id, and the minimum
    payload md5 — computed from the LANDED parquet table after the full
    binaryFile ingest path, so the gate covers listing, root-relative
    id derivation (lang subdirectories exercise the dir part),
    extension->modality classification (.png vs .bin by quotient
    parity),
    payload byte fidelity, and the compaction write."""
    import shutil
    import tempfile
    from pathlib import Path

    from bigbugdata_spark.sources.binary_files import land_assets, read_assets

    base = tempfile.mkdtemp(prefix="bigbugdata-assets-")
    try:
        src = Path(base) / "raw"
        # bounded fixture synthesis (1-in-_SLICE_MOD docs at test SF):
        # files named <lang>/d<doc_id padded to 8>.<png|bin>, payload =
        # the UTF-8 text bytes
        sliced = (
            table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % _SLICE_MOD == _SLICE_REM)
            .select("doc_id", "text", "lang")
        )
        n_slice = sliced.count()
        if n_slice > _FIXTURE_CAP:
            raise RuntimeError(
                f"asset fixture slice is {n_slice} docs (> {_FIXTURE_CAP}): "
                "this gate's driver-side synthesis is test-scale-only — "
                "raise _SLICE_MOD or point a real ingest at an existing "
                "directory instead"
            )
        rows = sliced.collect()
        for r in rows:
            # the slice fixes doc_id mod _SLICE_MOD, so parity must come
            # from the quotient or one modality would never occur
            ext = "png" if (r["doc_id"] // _SLICE_MOD) % 2 == 0 else "bin"
            p = src / r["lang"] / f"d{r['doc_id']:08d}.{ext}"
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_bytes(r["text"].encode("utf-8"))
        landed_dir = f"{base}/landed"
        land_assets(
            read_assets(spark, str(src)),
            landed_dir,
            n_partitions=_LAND_PARTITIONS,
        )
        n_files = sum(
            1 for f in Path(landed_dir).iterdir() if f.suffix == ".parquet"
        )
        if n_files != _LAND_PARTITIONS:
            raise RuntimeError(
                f"landing compaction regressed: {n_files} parquet files "
                f"(target {_LAND_PARTITIONS})"
            )
        landed = spark.read.parquet(landed_dir)
        out = landed.groupBy("modality").agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
            F.countDistinct(F.md5("payload")).alias("n_distinct_payloads"),
            F.min("asset_id").alias("first_asset"),
            F.max("asset_id").alias("last_asset"),
            F.min(F.md5("payload")).alias("min_digest"),
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# Z-ordered lake accounting under the driver's hash gate (round 9,
# VERDICT r8 #5) — the Z-order clustering (sources/zorder.py) was proven
# only by row-group-statistics layout tests; this registers a query that
# WRITES the events table Z-ORDERED BY (user_id, cents) and reads the
# accounting back THROUGH the layout, grouped by fixed-width Morton-key
# ranges, with a DuckDB twin that re-derives the identical bit-interleave
# in SQL over the original table.  The hash compare therefore gates BOTH
# halves: the write+read round trip must preserve every row, and the
# Morton arithmetic (range normalization in fp64, 16-bit interleave)
# must agree bit-for-bit across engines.
#
# The non-SQL half of the layout contract — each output file owns a
# contiguous, pairwise-disjoint z-range (what repartitionByRange buys
# over round-robin) — is asserted IN the query over the input_file_name
# read-back (n_files rows, bounded collect), so a regression becomes an
# errored driver row; per-row-group min/max narrowing stays quantified in
# tests/test_zorder.py.
#
# No analog in the reference (SURVEY §2.1); storage extension surface.
# Like corpus_version_diff / evt_partitioned_lake_accounting this is an
# O(write) verification query, excluded from the bench headline set.
# ---------------------------------------------------------------------------


_N_FILES = 4
#: top bits of the 2*MORTON_BITS-wide key -> 64 fixed-width z ranges
_BUCKET_SHIFT = 2 * MORTON_BITS - 6


def _sql_norm(col: str, lo: str, hi: str) -> str:
    """DuckDB twin of zorder._normalize — same fp64 order of ops."""
    top = (1 << MORTON_BITS) - 1
    return (
        f"LEAST(GREATEST(CAST(FLOOR(((CAST({col} AS DOUBLE) - {lo}) * {top})"
        f" / GREATEST({hi} - {lo}, 1.0)) AS BIGINT), 0), {top})"
    )


def _sql_morton(nx: str, ny: str) -> str:
    """DuckDB twin of zorder.morton_key: bit i of nx -> 2i, ny -> 2i+1."""
    terms = []
    for i in range(MORTON_BITS):
        terms.append(f"((({nx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ny} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


ZORDER_ORACLE_SQL = f"""
    WITH src AS (
        SELECT user_id, {CENTS_SQL} AS cents FROM events
    ),
    bounds AS (
        SELECT CAST(MIN(user_id) AS DOUBLE) AS xlo,
               CAST(MAX(user_id) AS DOUBLE) AS xhi,
               CAST(MIN(cents) AS DOUBLE) AS ylo,
               CAST(MAX(cents) AS DOUBLE) AS yhi
        FROM src
    ),
    keyed AS (
        SELECT user_id, cents,
               ({_sql_morton(_sql_norm('user_id', 'xlo', 'xhi'),
                             _sql_norm('cents', 'ylo', 'yhi'))}) AS z
        FROM src, bounds
    )
    SELECT z >> {_BUCKET_SHIFT} AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM keyed GROUP BY z_bucket
"""


@register(
    "evt_zorder_lake_accounting",
    oracle=ZORDER_ORACLE_SQL,
    tags=("events", "storage", "agg"),
    side_effects=True,
)
def evt_zorder_lake_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events Z-ORDERED BY (user_id, cents) and report per
    fixed-width z-range: row count, both columns' min/max, and the cents
    total — READ BACK through the layout, so a row lost or corrupted by
    the z-write fails the value-hash compare, and any engine divergence
    in the Morton arithmetic shifts rows across buckets and fails it
    too.  In-query assertion: the landed files' z-ranges are pairwise
    disjoint (the file-level-pruning property range partitioning pays
    for); violation raises -> errored driver row."""
    import shutil
    import tempfile

    from bigbugdata_spark.sources.zorder import write_zordered

    base = tempfile.mkdtemp(prefix="bigbugdata-zlake-")
    try:
        src = table(spark, sf_dir, "events").select(
            "user_id", cents_col().alias("cents")
        )
        lake = f"{base}/events_z"
        write_zordered(src, lake, "user_id", "cents", n_files=_N_FILES)
        # input_file_name must bind BEFORE with_morton's bounds
        # cross-join makes the plan multi-source
        back = with_morton(
            spark.read.parquet(lake).withColumn("_f", F.input_file_name()),
            "user_id",
            "cents",
        )
        # bounded collect: one row per landed file
        spans = (
            back.groupBy("_f")
            .agg(F.min("_z").alias("zlo"), F.max("_z").alias("zhi"))
            .collect()
        )
        iv = sorted((r["zlo"], r["zhi"]) for r in spans)
        for (_, prev_hi), (lo, _) in zip(iv, iv[1:]):
            if lo <= prev_hi:
                raise RuntimeError(
                    f"z-ranges overlap across files: {iv} — "
                    "range partitioning regressed to interleaved layout"
                )
        out = (
            back.groupBy(
                F.shiftright("_z", _BUCKET_SHIFT).alias("z_bucket")
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("user_id").alias("min_user"),
                F.max("user_id").alias("max_user"),
                F.min("cents").alias("min_cents"),
                F.max("cents").alias("max_cents"),
                F.sum("cents").alias("sum_cents"),
            )
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# N-column Z-order under the driver's hash gate (round 10, VERDICT r9
# #5) — evt_zorder_lake_accounting proves the TWO-column Morton path
# end-to-end; this registers its three-axis sibling over the N-column
# generalization (sources/zorder.py morton_key_n / write_zordered_n,
# previously layout-tested only): WRITE events Z-ORDERED BY (user_id,
# cents, hour) and read the accounting back THROUGH the layout, grouped
# by fixed-width z-ranges, with a DuckDB twin that re-derives the
# round-robin 3-way bit interleave in SQL over the original table.  The
# hash compare gates the write+read round trip AND the N-column Morton
# arithmetic (fp64 range normalization at the n-adjusted bit budget,
# bit i of column j -> i*3+j) bit-for-bit across engines.
#
# The third axis is the event's whole hour (unix_micros // 3.6e9 —
# integer microsecond arithmetic, the dq_fresh-proven engine-exact
# time derivation), so the key covers the who/how-much/when triple a
# real event-lake scan actually filters on.
#
# The non-SQL half of the layout contract — each landed file owns a
# contiguous, pairwise-disjoint z-range — is asserted IN the query over
# the input_file_name read-back (n_files rows, bounded collect);
# three-axis row-group narrowing stays quantified in tests/test_zorder.py.
#
# No analog in the reference (SURVEY §2.1); storage extension surface.
# O(write) verification query, excluded from the bench headline set.
# ---------------------------------------------------------------------------


_COLS = ("user_id", "cents", "hour")
_N = len(_COLS)
#: sources/zorder.with_morton_n's bit budget for n=3
_BITS = min(MORTON_BITS, 62 // _N)
_Z3_N_FILES = 4
#: top bits of the N*_BITS-wide key -> 64 fixed-width z ranges
_Z3_BUCKET_SHIFT = _N * _BITS - 6

_US_PER_HOUR = 3_600_000_000


def _z3_sql_norm(col: str, lo: str, hi: str) -> str:
    """DuckDB twin of with_morton_n's normalization — same fp64 order
    of ops at the n-adjusted bit budget."""
    top = (1 << _BITS) - 1
    return (
        f"LEAST(GREATEST(CAST(FLOOR(((CAST({col} AS DOUBLE) - {lo}) * {top}.0)"
        f" / GREATEST({hi} - {lo}, 1.0)) AS BIGINT), 0), {top})"
    )


def _sql_morton_n(normed: tuple[str, ...]) -> str:
    """DuckDB twin of zorder.morton_key_n: bit i of column j lands at
    i*n + j."""
    n = len(normed)
    terms = []
    for i in range(_BITS):
        for j, c in enumerate(normed):
            terms.append(f"((({c} >> {i}) & 1) << {i * n + j})")
    return " | ".join(terms)


ZORDER3_ORACLE_SQL = f"""
    WITH src AS (
        SELECT user_id, {CENTS_SQL} AS cents,
               epoch_us(ts) // {_US_PER_HOUR} AS hour
        FROM events
    ),
    bounds AS (
        SELECT CAST(MIN(user_id) AS DOUBLE) AS xlo,
               CAST(MAX(user_id) AS DOUBLE) AS xhi,
               CAST(MIN(cents) AS DOUBLE) AS ylo,
               CAST(MAX(cents) AS DOUBLE) AS yhi,
               CAST(MIN(hour) AS DOUBLE) AS tlo,
               CAST(MAX(hour) AS DOUBLE) AS thi
        FROM src
    ),
    keyed AS (
        SELECT user_id, cents, hour,
               ({_sql_morton_n((_z3_sql_norm('user_id', 'xlo', 'xhi'),
                                _z3_sql_norm('cents', 'ylo', 'yhi'),
                                _z3_sql_norm('hour', 'tlo', 'thi')))}) AS z
        FROM src, bounds
    )
    SELECT z >> {_Z3_BUCKET_SHIFT} AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents,
           CAST(MIN(hour) AS BIGINT) AS min_hour,
           CAST(MAX(hour) AS BIGINT) AS max_hour,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM keyed GROUP BY z_bucket
"""


@register(
    "evt_zorder3_lake_accounting",
    oracle=ZORDER3_ORACLE_SQL,
    tags=("events", "storage", "agg"),
    side_effects=True,
)
def evt_zorder3_lake_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write events Z-ORDERED BY (user_id, cents, hour) through the
    N-column generalization and report per fixed-width z-range: row
    count, all three axes' min/max, and the cents total — read back
    through the layout, so a row lost by the z-write or any engine
    divergence in the 3-way interleave fails the value-hash compare.
    In-query assertion: landed files' z-ranges are pairwise disjoint."""
    import shutil
    import tempfile

    from bigbugdata_spark.sources.zorder import with_morton_n, write_zordered_n

    base = tempfile.mkdtemp(prefix="bigbugdata-zlake3-")
    try:
        src = table(spark, sf_dir, "events").select(
            "user_id",
            cents_col().alias("cents"),
            # SQL `div` = exact integer division (dq_fresh's proven
            # twin of DuckDB //) — no fp64 quotient anywhere
            F.expr(
                f"unix_micros(CAST(ts AS TIMESTAMP)) div {_US_PER_HOUR}"
            ).alias("hour"),
        )
        lake = f"{base}/events_z3"
        write_zordered_n(src, lake, list(_COLS), n_files=_Z3_N_FILES)
        # input_file_name must bind BEFORE with_morton_n's bounds
        # cross-join makes the plan multi-source
        back = with_morton_n(
            spark.read.parquet(lake).withColumn("_f", F.input_file_name()),
            list(_COLS),
        )
        spans = (
            back.groupBy("_f")
            .agg(F.min("_z").alias("zlo"), F.max("_z").alias("zhi"))
            .collect()
        )
        iv = sorted((r["zlo"], r["zhi"]) for r in spans)
        for (_, prev_hi), (lo, _) in zip(iv, iv[1:]):
            if lo <= prev_hi:
                raise RuntimeError(
                    f"z-ranges overlap across files: {iv} — "
                    "range partitioning regressed to interleaved layout"
                )
        out = (
            back.groupBy(
                F.shiftright("_z", _Z3_BUCKET_SHIFT).alias("z_bucket")
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("user_id").alias("min_user"),
                F.max("user_id").alias("max_user"),
                F.min("cents").alias("min_cents"),
                F.max("cents").alias("max_cents"),
                F.min("hour").alias("min_hour"),
                F.max("hour").alias("max_hour"),
                F.sum("cents").alias("sum_cents"),
            )
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)
