"""Text round-3 additions — sketch-based scale twins (see
operators/events_ext.py for the registration-order rationale; rows-only
checks with error-bound tests against exact baselines)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import STOPWORDS
from bigbugdata_spark.registry import register

HLL_RSD = 0.01  # HyperLogLog++ target relative standard deviation


# Rows-only by design (HLL++ estimates are engine-specific): verified
# through its oracle'd twin audit_vocab_error.
@register("text_vocab_approx", tags=("text", "agg"))
def text_vocab_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics with HyperLogLog++ distinct counts —
    the 100 TB twin of text_token_stats: exact COUNT(DISTINCT term) plans
    an Expand (one input row per distinct aggregate) plus a shuffle of
    every distinct (lang, term) pair, while HLL++ is a fixed-size (~
    kilobytes at rsd=0.01) mergeable register set per group — map-side
    partial agg, one shuffle of sketches, no expand.

    Rows-only by design: HLL register contents are engine-specific. The
    error contract (|approx - exact| / exact within a few rsd for both
    distinct columns) is asserted against text_token_stats in
    tests/test_extensions.py, and driver-hash-verified through the
    oracle'd audit twin `audit_vocab_error` (operators/audits.py)."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(H.tokens(F.col("text"))).alias("term")
    )
    return toks.groupBy("lang").agg(
        F.approx_count_distinct("doc_id", HLL_RSD).alias("n_docs_approx"),
        F.count(F.lit(1)).alias("total_tokens"),
        F.approx_count_distinct("term", HLL_RSD).alias("distinct_terms_approx"),
    )


# BM25 constants: k1/b are the standard defaults; the idf is the
# rational Robertson form WITHOUT the log so both engines compute it as
# a ratio of exact integers (the log is monotone, so ranking order is
# unchanged; the substitution is documented in the docstring).
_BM25_TERMS = ("spark", "join", "window")
_BM25_TERMS_SQL = "('spark', 'join', 'window')"


@register(
    "text_bm25_rank",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({H.sql_tokens('text')}) AS term
            FROM documents
        ), dl AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
            FROM toks GROUP BY doc_id
        ), corpus AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS BIGINT) AS total_tokens
            FROM dl
        ), tf AS (
            SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks WHERE term IN {_BM25_TERMS_SQL}
            GROUP BY term, doc_id
        ), dfreq AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY term
        )
        SELECT term, doc_id, tf, dl,
               (CAST(2*n_docs - 2*df + 1 AS DOUBLE)
                  / CAST(2*df + 1 AS DOUBLE))
               * ((CAST(tf AS DOUBLE) * 2.2)
                  / (CAST(tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
                         / (CAST(total_tokens AS DOUBLE)
                            / CAST(n_docs AS DOUBLE))))))
                   AS bm25_score
        FROM tf
        JOIN dl USING (doc_id)
        CROSS JOIN corpus
        JOIN dfreq USING (term)
    """,
    tags=("text", "join", "agg"),
)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed query-term set —
    the classic search-scoring operator over the documents table
    (k1=1.2, b=0.75). The idf uses the rational Robertson form
    (2N-2df+1)/(2df+1) INSTEAD of its logarithm: log differs in final
    ulps across math libraries, while the rational form is a ratio of
    exact integers — bit-identical cross-engine and monotone in the
    same direction, so ranking order is preserved.

    Every input to the score is an exact integer (tf, dl, df, N, token
    totals); the score expression is the same parenthesized tree on both
    engines, so fp64 evaluation is bit-identical.

    Plan: one explode feeds BOTH aggregates (per-doc length and
    term-filtered tf); the term filter cuts the tf shuffle to the query
    vocabulary; df and the one-row corpus stats broadcast back; the only
    full-corpus shuffle is the per-doc length agg (map-side combinable)."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(H.tokens(F.col("text"))).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
    )
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")
    idf = (2 * F.col("n_docs") - 2 * F.col("df") + 1).cast("double") / (
        2 * F.col("df") + 1
    ).cast("double")
    tf_d = F.col("tf").cast("double")
    score = idf * (
        (tf_d * F.lit(2.2))
        / (tf_d + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (F.col("dl").cast("double") / avgdl)))
    )
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(corpus))
        .join(F.broadcast(dfreq), "term")
        .select("term", "doc_id", "tf", "dl", score.alias("bm25_score"))
    )


# Per-language keep quotas in permille — the "data mixing" knob: a
# training corpus rarely takes every language at its natural rate.
_MIX_PERMILLE = {"en": 800, "de": 500, "fr": 250, "es": 125, "zh": 60}
_MIX_A, _MIX_B = 48_271, 11_213  # fixed affine-hash parameters, mod P


@register(
    "corpus_mix_sample",
    oracle=f"""
        WITH quota(lang, permille) AS (
            VALUES {", ".join(f"('{lang}', {pm})" for lang, pm in sorted(_MIX_PERMILLE.items()))}
        )
        SELECT doc_id, documents.lang AS lang, source, permille
        FROM documents
        JOIN quota ON documents.lang = quota.lang
        WHERE ({_MIX_A} * doc_id + {_MIX_B}) % {H.P} % 1000 < permille
    """,
    tags=("text", "sample"),
)
def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language quota downsampling — the corpus-mixing
    operator: each language keeps its configured permille of documents,
    selected by an affine hash of doc_id (NOT df.sample(): rng-based
    sampling is engine- and partitioning-dependent, while the hash
    condition is a pure row predicate — reproducible across engines,
    re-runs and repartitions, and stable under incremental ingest: a doc
    kept today is kept tomorrow).

    Plan: broadcast the 5-row quota table into one corpus scan; the keep
    predicate is a scan-side filter — no shuffle at all. At 100 TB the
    same predicate runs inside the scan of each partition and composes
    with partition pruning on lang-partitioned layouts
    (sources/jsonl.write_corpus_partitioned)."""
    quota = spark.createDataFrame(
        sorted(_MIX_PERMILLE.items()), "lang string, permille int"
    )
    keep = (
        (F.lit(_MIX_A) * F.col("doc_id") + F.lit(_MIX_B)) % F.lit(H.P) % 1000
        < F.col("permille")
    )
    return (
        table(spark, sf_dir, "documents")
        .join(F.broadcast(quota), "lang")
        .filter(keep)
        .select("doc_id", "lang", "source", "permille")
    )


# --- count-min sketch (r6) --------------------------------------------------
# Unlike HLL/GK, a count-min sketch is FULLY deterministic given its hash
# parameters — so this sketch operator gets an EXACT cross-engine oracle
# (DuckDB re-derives the same D x W counter table from the same rolling
# hash and the same affine bucket functions) instead of a bound check.
CMS_W = 1024  # buckets per row
CMS_D = 4  # hash rows; est = min over rows
# fixed literals (reusing the first 4 seeded MinHash permutation pairs —
# any fixed, engine-portable (a, b) family works; documented reuse)
_CMS_PARAMS = tuple(zip(H.MINHASH_A[:CMS_D], H.MINHASH_B[:CMS_D]))
# probe vocabulary: fixed terms whose frequencies the query estimates
_CMS_PROBE = tuple(sorted(set(STOPWORDS) | set(_BM25_TERMS)))


def _py_word_hash(word: str) -> int:
    """Driver-side twin of hashing.word_hash (probe terms are ASCII, so
    ord == ascii)."""
    h = 0
    for ch in word:
        h = (h * 31 + ord(ch)) % H.P
    return h


_CMS_PARAMS_SQL = ", ".join(
    f"({j}, {a}, {b})" for j, (a, b) in enumerate(_CMS_PARAMS)
)
_CMS_PROBE_SQL = ", ".join(f"('{t}')" for t in _CMS_PROBE)


@register(
    "text_heavy_hitters_cms",
    oracle=f"""
        WITH toks AS (
            SELECT unnest({H.sql_tokens('text')}) AS term FROM documents
        ),
        th AS (SELECT term, {H.sql_word_hash('term')} AS h FROM toks),
        params(j, a, b) AS (VALUES {_CMS_PARAMS_SQL}),
        cms AS (
            SELECT p.j, ((p.a * th.h + p.b) % {H.P}) % {CMS_W} AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM th CROSS JOIN params p GROUP BY 1, 2
        ),
        probe(term) AS (VALUES {_CMS_PROBE_SQL}),
        ph AS (SELECT term, {H.sql_word_hash('term')} AS h FROM probe),
        pb AS (
            SELECT term, p.j,
                   ((p.a * ph.h + p.b) % {H.P}) % {CMS_W} AS bucket
            FROM ph CROSS JOIN params p
        ),
        est AS (
            SELECT term, CAST(MIN(COALESCE(c, 0)) AS BIGINT) AS est_count
            FROM pb LEFT JOIN cms USING (j, bucket) GROUP BY term
        ),
        exact AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_count
            FROM toks GROUP BY term
        )
        SELECT p.term AS term, est.est_count,
               COALESCE(exact.exact_count, 0) AS exact_count
        FROM probe p
        JOIN est ON est.term = p.term
        LEFT JOIN exact ON exact.term = p.term
    """,
    tags=("text", "agg", "sketch"),
)
def text_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch term-frequency estimation over the token stream,
    probed at a fixed vocabulary, with the exact counts alongside:
    (term, est_count, exact_count), est >= exact always (CMS
    one-sided error).

    The 100 TB story: the sketch is a FIXED-SIZE (D x W counters,
    ~4k rows here) mergeable summary of an unbounded token stream —
    one map-side-combinable groupBy on (row, bucket) regardless of
    corpus size, then O(|probe| x D) lookups; the exact twin's
    per-term shuffle exists at audit scale only. Streaming ingest
    aggregates the same (j, bucket) keys incrementally.

    Determinism: bucket functions are affine maps of the base-31
    rolling word hash with fixed literal coefficients — bit-identical
    in DuckDB, so this SKETCH query is hash-verified exactly, not
    bound-checked (contrast text_vocab_approx, whose HLL registers are
    engine-internal)."""
    toks = table(spark, sf_dir, "documents").select(
        F.explode(H.tokens(F.col("text"))).alias("term")
    )
    th = toks.select("term", H.word_hash(F.col("term")).alias("h"))
    buckets = F.array(
        *[
            (F.lit(a) * F.col("h") + F.lit(b)) % F.lit(H.P) % F.lit(CMS_W)
            for a, b in _CMS_PARAMS
        ]
    )
    cms = (
        th.select(F.posexplode(buckets).alias("j", "bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probe_rows = [
        (t, j, (a * _py_word_hash(t) + b) % H.P % CMS_W)
        for t in _CMS_PROBE
        for j, (a, b) in enumerate(_CMS_PARAMS)
    ]
    probe = spark.createDataFrame(probe_rows, "term string, j int, bucket long")
    est = (
        probe.join(F.broadcast(cms), ["j", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0).cast("long"))).alias("est_count"))
    )
    exact = (
        toks.filter(F.col("term").isin(*_CMS_PROBE))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    probe_terms = spark.createDataFrame(
        [(t,) for t in _CMS_PROBE], "term string"
    )
    # r18 (guide §3.1, the plan audit's SMJ-order flag): est and exact
    # are both <= |_CMS_PROBE| rows by construction (the fixed probe
    # vocabulary), but they come out of join/filter+agg chains with no
    # stats, so the planner sort-merge-joined the probe spine against
    # them. Broadcast is bounded by the probe list itself.
    return (
        probe_terms.join(F.broadcast(est), "term")
        .join(F.broadcast(exact), "term", "left")
        .select(
            "term",
            "est_count",
            F.coalesce(F.col("exact_count"), F.lit(0).cast("long")).alias(
                "exact_count"
            ),
        )
    )
