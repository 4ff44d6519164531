"""Shared constants and DuckDB-oracle SQL fragments used by more than one
operator module.  Everything here is pure — no `register()` calls, no
Spark session use.
"""

from __future__ import annotations

from bigbugdata_spark.functions import hashing as H

# --- dedup family ----------------------------------------------------------

JACCARD_T = 0.5

_SHINGLES_SQL = (
    f"SELECT doc_id, {H.sql_shingle_hashes(H.sql_word_hashes(H.sql_tokens('text')))} "
    "AS grams FROM documents"
)

# ground-truth pairwise Jaccard >= t via the inverted index (exact)
JACCARD_PAIRS_SQL = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    grams AS (
        SELECT doc_id, unnest(grams) AS g FROM sh WHERE len(grams) > 0
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM grams GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS c
        FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2,
           CAST(c AS DOUBLE) / (s1.sz + s2.sz - c) AS jaccard
    FROM common
    JOIN sizes s1 ON common.d1 = s1.doc_id
    JOIN sizes s2 ON common.d2 = s2.doc_id
    WHERE CAST(c AS DOUBLE) / (s1.sz + s2.sz - c) >= {JACCARD_T}
"""

# Shared by the exact and LSH cluster-keep registrations (operators/dedup.py)
# AND the cluster-size histogram (operators/dedup_incr.py):
# connected components over the verified near-dup pair graph, as a DuckDB
# recursive CTE (transitive closure -> min reachable id). Both Spark variants
# produce the identical pair set on this corpus (banding miss probability
# <= 4e-8 at its J >= 0.9 level; tests assert set equality), so one
# ground-truth oracle serves all of them.
#: the keep decision's CTE chain and final keep expression, exported
#: separately (r13 review) so composing oracles (corpus_survivor_quality)
#: derive the identical decision instead of copying it; CLUSTER_KEEP_SQL
#: is rebuilt from these byte-identically (hash-checked on the hoist).
CLUSTER_KEEP_CTES_SQL = f"""pairs AS ({JACCARD_PAIRS_SQL}),
    edges AS (
        SELECT d1 AS a, d2 AS b FROM pairs
        UNION
        SELECT d2 AS a, d1 AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )"""

CLUSTER_KEEP_BODY_SQL = """SELECT doc_id,
           CAST(LEAST(doc_id, COALESCE(MIN(r.b), doc_id)) AS BIGINT)
               AS cluster_rep,
           CAST(doc_id = LEAST(doc_id, COALESCE(MIN(r.b), doc_id)) AS INT)
               AS keep
    FROM documents LEFT JOIN reach r ON doc_id = r.a
    GROUP BY doc_id"""

CLUSTER_KEEP_SQL = f"""
    WITH RECURSIVE {CLUSTER_KEEP_CTES_SQL}
    {CLUSTER_KEEP_BODY_SQL}
"""

# --- text family -----------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in", "it", "on", "for")

CHUNK_SIZE, CHUNK_STRIDE = 32, 24  # 8-token overlap


def sql_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# THE definition of document "quality" (length band, punctuation ratio,
# stopword presence — the C4/Gopher-style rule family), shared by
# operators/text.py (text_quality_score), operators/corpus.py
# (corpus_quality_weighted_sample's acceptance threshold) and
# operators/pipeline.py. One expression tree on both engines so the
# sampler's threshold can never drift from the registered score.
#: the quality base CTE (per-doc integer counts) and the integer
#: DECIPOINT rule sum, exported separately (r12) so the threshold curve
#: derives the identical score definition instead of copying it;
#: QUALITY_SQL is rebuilt from these byte-identically.
QUALITY_BASE_SQL = f"""base AS (
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars_obs,
                   CAST(len({H.sql_tokens('text')}) AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) AS n_punct,
                   CAST(len(list_filter({H.sql_tokens('text')},
                        t -> list_contains({sql_list(STOPWORDS)}, t))) AS BIGINT) AS n_stop
            FROM documents
        )"""

# The decipoint rule's knobs, hoisted (ADVICE r12): the SQL below AND
# every Spark twin (quality_deci_col) build from these, so a threshold
# change cannot leave one engine behind until a parity run reds.
QUALITY_TOK_MIN, QUALITY_TOK_MAX = 10, 1000  # length band (tokens)
QUALITY_PUNCT_MAX = 0.1  # punct chars per observed char, exclusive cap
QUALITY_STOP_MIN = 0.01  # stopword tokens per token, inclusive floor
QUALITY_W_LEN, QUALITY_W_PUNCT, QUALITY_W_STOP = 4, 3, 3  # decipoints

QUALITY_DECI_SQL = f"""CASE WHEN n_tokens >= {QUALITY_TOK_MIN} AND n_tokens <= {QUALITY_TOK_MAX} THEN {QUALITY_W_LEN} ELSE 0 END
                + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars_obs < {QUALITY_PUNCT_MAX} THEN {QUALITY_W_PUNCT} ELSE 0 END
                + CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens >= {QUALITY_STOP_MIN} THEN {QUALITY_W_STOP} ELSE 0 END"""


def quality_base_frame(spark, sf_dir, with_text=False):
    """The Spark twin of QUALITY_BASE_SQL: per-doc integer counts
    (n_chars_obs, n_tokens, n_punct, n_stop — plus doc_id/lang) over
    documents.  ONE definition (r13, extending the ADVICE r12 hoist
    from the rule's knobs to the whole base): text_quality_score, the
    threshold curve, and corpus_survivor_quality all select from this
    frame, so the positive-class n_punct strip and the stopword filter
    can never fork per consumer.  n_punct uses regexp_replace with the
    KEEP class — identical integer to counting '[^a-z0-9 ]', ~12x
    faster (the negated-class JVM regex slow path; r8 note in
    operators/text.py, property-tested).

    with_text=True additionally carries the raw text column (r17):
    consumers that need both the quality counts and the text (the
    release manifest's sha256 dedup) then compute everything in ONE
    documents scan instead of joining this frame back to the table on
    doc_id — a full corpus-by-id shuffle at scale."""
    from pyspark.sql import functions as F

    from bigbugdata_spark.catalog import table
    from bigbugdata_spark.functions import hashing as H

    toks = H.tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        *(["text"] if with_text else []),
        F.length("text").cast("long").alias("n_chars_obs"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.length(F.regexp_replace(F.col("text"), F.lit(r"[a-z0-9 ]"), F.lit("")))
        .cast("long")
        .alias("n_punct"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
        .cast("long")
        .alias("n_stop"),
    )


def quality_deci_col():
    """The Spark twin of QUALITY_DECI_SQL over the base columns
    (n_tokens, n_punct, n_chars_obs, n_stop) — the ONE expression both
    text_quality_score and the threshold curve select from, built from
    the same named knobs as the oracle SQL."""
    from pyspark.sql import functions as F

    punct_ratio = F.col("n_punct").cast("double") / F.col("n_chars_obs")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    return (
        F.when(
            (F.col("n_tokens") >= QUALITY_TOK_MIN)
            & (F.col("n_tokens") <= QUALITY_TOK_MAX),
            F.lit(QUALITY_W_LEN),
        ).otherwise(F.lit(0))
        + F.when(punct_ratio < QUALITY_PUNCT_MAX, F.lit(QUALITY_W_PUNCT))
        .otherwise(F.lit(0))
        + F.when(stop_ratio >= QUALITY_STOP_MIN, F.lit(QUALITY_W_STOP))
        .otherwise(F.lit(0))
    )

QUALITY_SQL = f"""
        WITH {QUALITY_BASE_SQL}
        SELECT doc_id, n_chars_obs, n_tokens,
               CAST(n_chars_obs AS DOUBLE) / n_tokens AS chars_per_token,
               CAST(n_punct AS DOUBLE) / n_chars_obs AS punct_ratio,
               CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
               -- integer decipoints + ONE final IEEE division: bit-exact
               -- across engines (DuckDB's decimal-literal sum was
               -- DECIMAL(4,1), the one non-BIGINT/DOUBLE/VARCHAR oracle
               -- type left after the r10 HUGEINT reds — registry.py:8-12)
               CAST({QUALITY_DECI_SQL}
                AS DOUBLE) / 10.0 AS quality
        FROM base
"""


# --- events family ---------------------------------------------------------

TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"

# exact integer centi-value: both engines round half-away-from-zero for
# positive doubles scaled by 100
CENTS_SQL = "CAST(ROUND(value * 100) AS BIGINT)"


def cents_col():
    from pyspark.sql import functions as F

    return F.round(F.col("value") * 100).cast("long")


# --- similarity family -----------------------------------------------------

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 10

EMB_DIM = 64

# IVF knobs (operators/similarity.py) — here so operators/audits.py can
# build the DuckDB twin of the IVF pipeline without importing (and
# thereby registering) the similarity module at import time.
IVF_K = 16  # codebook-size FLOOR — scaled_ivf_k never goes below this
IVF_ASSIGN = 2  # redundant assignment: each vector lands in its top-2 cells
N_PROBE = 8  # probed cells per query


def scaled_ivf_k(n: int) -> int:
    """Corpus-scaled codebook size: K = max(IVF_K, floor(sqrt(n))) — the
    standard IVF sizing rule (cells of ~sqrt(n) vectors balance probe
    cost against cell-scan cost).  fp64 sqrt + floor deliberately, so
    the SQL twin (sql_scaled_ivf_k) computes the identical K in DuckDB
    for any count below 2^53."""
    import math

    return max(IVF_K, int(math.floor(math.sqrt(n))))


def sql_scaled_ivf_k(src: str) -> str:
    """DuckDB twin of scaled_ivf_k over the CTE/table named `src` —
    usable directly in a LIMIT (DuckDB accepts scalar-subquery limits)."""
    return (
        f"GREATEST({IVF_K}, CAST(FLOOR(SQRT("
        f"(SELECT COUNT(*) FROM {src}))) AS BIGINT))"
    )


def scaled_n_probe(k: int) -> int:
    """Probe width for a K-cell codebook: max(N_PROBE, ceil(K/2)).

    The probe FRACTION, not the probe count, is the recall knob on
    near-isotropic embeddings (this fixture's worst case): the original
    fixed config probed 8/16 = 50% of cells for 0.963 recall@10, and
    holding that fraction holds the recall contract as K scales
    (measured at K=44: 8 probes -> 0.625, 22 probes -> 0.938).  On
    clustered real corpora the fraction can drop far below 1/2 for the
    same recall — that tuning is a deployment knob; the invariant kept
    here is measured-recall-vs-exact, enforced by the floor tests."""
    import math

    return max(N_PROBE, math.ceil(k / 2))


def sql_scaled_n_probe(src: str) -> str:
    """DuckDB twin of scaled_n_probe(scaled_ivf_k(|src|))."""
    return (
        f"GREATEST({N_PROBE}, CAST(CEIL({sql_scaled_ivf_k(src)} / 2.0)"
        f" AS BIGINT))"
    )


# --- hierarchical (two-level) coarse quantizer (r12, VERDICT r11 #1) -------
#
# The flat codebook scan was the scale-killer: assigning n vectors
# against K = sqrt(n) cells is n^1.5 dot products (measured: 10x data ->
# 33.2x build time).  The two-level structure routes every
# vector-against-codebook ranking (assignment AND probe selection)
# through SUP = ceil(sqrt(K)) SUPERCELLS — the first SUP cells of the
# SAME deterministic sampling order (a prefix of the codebook, exactly
# as the codebook is a prefix of the corpus sampling order — one
# ordering definition everywhere):
#
#   1. each CELL maps to its SUP_ASSIGN nearest supercells (K x SUP
#      dots — codebook-sized, negligible);
#   2. a vector scores the SUP supercells, keeps its SUP_PROBE best,
#      and ranks ONLY the cells mapped there (expected
#      SUP_ASSIGN*SUP_PROBE*K/SUP ~ 4*sqrt(K) cells).
#
# Per-vector cost drops from K dots to ~(sqrt(K) + 4*sqrt(K)) — at
# K=10^4 that is ~50x fewer; asymptotically n*sqrt(K) instead of n*K.
# The price is approximation in the ASSIGNMENT itself (a vector whose
# true nearest cell maps only to unprobed supercells mis-assigns) —
# acceptable because IVF assignment is already approximate, the recall
# floors are measured downstream at two scales, and every hash-gated
# oracle re-derives the identical two-level math in SQL.

SUP_ASSIGN = 2  # supercells each CELL registers under
SUP_PROBE = 2  # supercells a vector/query routes through


def sup_count(k: int) -> int:
    """Number of supercells for a K-cell codebook: ceil(sqrt(K))."""
    import math

    return math.ceil(math.sqrt(k))


def sql_sup_count(k_expr: str) -> str:
    """DuckDB twin of sup_count over an integer SQL expression."""
    return f"CAST(CEIL(SQRT({k_expr})) AS BIGINT)"


# --- graph-build cell sizing (r12, VERDICT r11 #1b) ------------------------
#
# The kNN-GRAPH build makes every corpus vector a query, so per-query
# candidate work must be BOUNDED, not sqrt(n)-sized: cells are sized to
# a constant row target instead of the sqrt(n) rule — K = max(IVF_K,
# ceil(n / GRAPH_CELL_ROWS)) keeps expected cell membership at
# ~IVF_ASSIGN*GRAPH_CELL_ROWS vectors regardless of corpus size, so a
# KNN_PROBE-cell probe scores a constant candidate set per query and
# total build cost is ~n*(sqrt(K) routing + constant scoring).
#
# Documented budget (the dedup_incremental_lsh precedent): the 10x
# scale probe must hold sim_knn_graph's build ratio <= 12 (vs 33.2
# measured for the flat sqrt(n) build in r11).  The trade is the probe
# FRACTION shrinking as the corpus grows (4/K of the cells) — recall at
# the test scales is floor-tested (the floors bind at K=IVF_K there);
# production tunes KNN_PROBE upward per the recall it needs, linearly
# trading build time.

GRAPH_CELL_ROWS = 128


def graph_ivf_k(n: int) -> int:
    """Codebook size for the kNN-graph build: constant-size cells."""
    import math

    return max(IVF_K, math.ceil(n / GRAPH_CELL_ROWS))


def sql_graph_ivf_k(src: str) -> str:
    """DuckDB twin of graph_ivf_k over the CTE/table named `src`."""
    return (
        f"GREATEST({IVF_K}, CAST(CEIL((SELECT COUNT(*) FROM {src})"
        f" / {GRAPH_CELL_ROWS}.0) AS BIGINT))"
    )

# Codebook-sampling hash: portable affine hash mod P (NOT xxhash64) so
# the whole IVF pipeline is ANSI-SQL-expressible and audit_ivf_recall
# can re-derive the identical codebook in DuckDB. vec_id reduces mod P
# first so the product stays far below 2^63 for any 64-bit id.
IVF_HASH_A, IVF_HASH_B = 179_424_673, 32_452_843
IVF_CODEBOOK_HASH_SQL = f"((vec_id % {H.P}) * {IVF_HASH_A} + {IVF_HASH_B}) % {H.P}"


# Product-quantization knobs (operators/similarity.py): M subspaces
# of SUBDIM dims each; PQ_K hash-sampled codebook vectors per subspace
# (6-bit codes x 16 subspaces = a 96-bit / 12-byte PQ code, ~21x smaller
# than the 256-byte float vector; the first IVF_K of the sample double
# as the IVF coarse codebook). Config chosen by measured recall sweep at
# sf0.01: (M=8, rerank=40) 0.688, (M=8, 80) 0.863, (M=16, 40) 0.887,
# (M=16, 80) 0.925 — against the 0.963 ceiling the IVF stage allows.
PQ_M = 16
PQ_SUBDIM = EMB_DIM // PQ_M
PQ_K = 64
PQ_RERANK = 8 * TOP_K  # ADC-ranked candidates kept for exact re-rank


def sql_cos(a: str, b: str, dim: int = EMB_DIM) -> str:
    """DuckDB cosine similarity between two embedding columns (same
    left-to-right fp64 reduction as the Spark side's H.dot/H.norm)."""
    return (
        f"{H.sql_dot(a, b, dim)}"
        f" / ({H.sql_norm(a, dim)} * {H.sql_norm(b, dim)})"
    )


# --- dedup embedding-LSH family --------------------------------------------

COSINE_T = 0.4  # the embeddings corpus' near-dup band (max pair cos ~0.51)

EMB_LSH_TABLES, EMB_LSH_BITS = 16, 4  # 16 hash tables x 4 hyperplane bits


def _make_planes() -> list[list[float]]:
    import random

    rng = random.Random(0x91A)  # fixed seed -> reproducible hyperplanes
    return [
        [rng.choice((-1.0, 1.0)) for _ in range(EMB_DIM)]
        for _ in range(EMB_LSH_TABLES * EMB_LSH_BITS)
    ]


EMB_LSH_PLANES = _make_planes()


# --- corpus split (train/val/test) -----------------------------------------
# THE deterministic split definition, shared by corpus_split_stratified,
# pipe_governed_corpus and dq_split_leakage — the same lockstep
# discipline as the hashing primitives: one Spark builder, one SQL
# builder, so the split scheme cannot silently diverge between the
# accounting queries and the leakage audit.

SPLIT_A, SPLIT_B = 69_621, 32_027  # affine split hash (independent of mix)
TRAIN_PM, VAL_PM = 980, 990  # <980 train, <990 val, else test (permille)


def split_col(doc_id):
    """Column: 'train'/'val'/'test' assignment of a doc_id Column."""
    from pyspark.sql import functions as F

    h = (F.lit(SPLIT_A) * doc_id + F.lit(SPLIT_B)) % F.lit(H.P) % 1000
    return (
        F.when(h < TRAIN_PM, "train").when(h < VAL_PM, "val").otherwise("test")
    )


def sql_split_case(doc_id: str = "doc_id") -> str:
    """DuckDB twin of split_col (identical hash + cut points)."""
    return (
        f"CASE WHEN ({SPLIT_A} * {doc_id} + {SPLIT_B}) % {H.P} % 1000"
        f" < {TRAIN_PM} THEN 'train'"
        f" WHEN ({SPLIT_A} * {doc_id} + {SPLIT_B}) % {H.P} % 1000"
        f" < {VAL_PM} THEN 'val' ELSE 'test' END"
    )
