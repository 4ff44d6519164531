"""Data profiling cards: per-column nulls and distincts, exact-moment
correlation, equi-width histograms, join-cardinality estimates, NDV
estimate quality and key skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.diagnostics import join_cardinality, key_skew
from bigbugdata_spark.registry import register


# ---------------------------------------------------------------------------
# Data-quality profiling — the pre-ingest audit a large-scale
# training-data pipeline runs before a corpus enters the pool: per-column
# null counts and distinct cardinalities, plus an exact numeric summary of
# the length column. Pure extension surface (the reference has no
# profiling; SURVEY §2.1) in the spirit of tools like Deequ/dbt tests,
# re-expressed as two single-scan Spark plans with DuckDB oracles.
# ---------------------------------------------------------------------------


_DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars")

_PROFILE_AGG_SQL = ", ".join(
    ["CAST(COUNT(*) AS BIGINT) AS n"]
    + [
        f"CAST(COUNT({c}) AS BIGINT) AS nn_{c}, "
        f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd_{c}"
        for c in _DOC_COLS
    ]
)

_PROFILE_ROWS_SQL = " UNION ALL ".join(
    f"SELECT '{c}' AS column_name, n AS n_rows, n - nn_{c} AS n_nulls, "
    f"nd_{c} AS n_distinct FROM s"
    for c in _DOC_COLS
)


@register(
    "prof_documents_columns",
    oracle=f"""
        WITH s AS (SELECT {_PROFILE_AGG_SQL} FROM documents)
        {_PROFILE_ROWS_SQL}
    """,
    tags=("profile", "agg"),
)
def prof_documents_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the documents table: one row per column with
    (n_rows, n_nulls, n_distinct) — the null-rate / cardinality audit.

    Plan: ONE scan, one aggregate row, then inline() unpivots it to the
    5-row profile driver-free. The multi-COUNT(DISTINCT) aggregate plans
    an Expand (one input copy per distinct column — the documented cost
    of exact profiling); at 100 TB swap the distinct counts for
    approx_count_distinct the way text_vocab_approx does and the Expand
    disappears. Everything else is map-side combinable."""
    doc = table(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _DOC_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    row = doc.agg(*aggs)
    profile = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("n").alias("n_rows"),
                (F.col("n") - F.col(f"nn_{c}")).alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
            )
            for c in _DOC_COLS
        ]
    )
    return row.select(F.inline(profile))


@register(
    "prof_length_summary",
    oracle="""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(n_chars) AS BIGINT) AS min_chars,
               CAST(MAX(n_chars) AS BIGINT) AS max_chars,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
               CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_short,
               CAST(SUM(CASE WHEN length(text) <> n_chars THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_len_mismatch
        FROM documents
        GROUP BY source
    """,
    tags=("profile", "agg"),
)
def prof_length_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length audit: min/max/total/mean document length, a
    short-document count (the truncation signal), and a CONSISTENCY
    check — rows whose stored n_chars disagrees with length(text), the
    kind of metadata drift that silently poisons downstream filters.

    Plan: single scan, one shuffle on source, every aggregate exact
    integer (the mean divides two exact ints in fp64)."""
    doc = table(spark, sf_dir, "documents")
    return doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.sum(F.when(F.col("n_chars") < 100, 1).otherwise(0)).alias("n_short"),
        F.sum(
            F.when(F.length("text") != F.col("n_chars"), 1).otherwise(0)
        ).alias("n_len_mismatch"),
    )


# ---------------------------------------------------------------------------
# Exact-moment correlation profiling (round 8) — Pearson correlation
# between document length in characters and in tokens, computed the
# hash-exact way: the six raw moments (n, Σx, Σy, Σx², Σy², Σxy) are
# exact BIGINT aggregates, the final products run in DECIMAL(38,0)
# (Spark) / HUGEINT (DuckDB) — the dq_drift overflow discipline — and r
# comes out of a fixed fp64 expression over those exact integers. No
# engine corr() aggregate is touched (their accumulation order is
# engine-internal and fp-order-dependent — the same reason
# dq_volume_anomaly writes out its variance).
#
# Why this pair: chars-per-token is the repo's quality signal
# (fragments.QUALITY_SQL); its usefulness rests on length-in-chars and
# length-in-tokens being strongly but not perfectly correlated. The
# profiler turns that assumption into a measured, driver-verifiable
# number — and the same template extends to any integer column pair.
#
# No analog in the reference (SURVEY §2.1); profile extension surface
# alongside prof_length_summary.
#
# Scale posture: ONE scan, one map-side-combinable aggregate to a single
# row. Nothing shuffles more than six integers per partition.
# ---------------------------------------------------------------------------


_DEC = "decimal(38,0)"


@register(
    "prof_corr_chars_tokens",
    oracle=f"""
        WITH m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sum_x,
                   CAST(SUM(y) AS BIGINT) AS sum_y,
                   CAST(SUM(x * x) AS BIGINT) AS sum_xx,
                   CAST(SUM(y * y) AS BIGINT) AS sum_yy,
                   CAST(SUM(x * y) AS BIGINT) AS sum_xy
            FROM (
                SELECT CAST(length(text) AS BIGINT) AS x,
                       CAST(len({H.sql_tokens('text')}) AS BIGINT) AS y
                FROM documents
            )
        )
        SELECT n, sum_x, sum_y, sum_xx, sum_yy, sum_xy,
               CAST(CAST(n AS HUGEINT) * sum_xy
                    - CAST(sum_x AS HUGEINT) * sum_y AS DOUBLE)
               / (sqrt(CAST(CAST(n AS HUGEINT) * sum_xx
                            - CAST(sum_x AS HUGEINT) * sum_x AS DOUBLE))
                  * sqrt(CAST(CAST(n AS HUGEINT) * sum_yy
                              - CAST(sum_y AS HUGEINT) * sum_y AS DOUBLE)))
                   AS corr
        FROM m
    """,
    tags=("profile", "agg"),
)
def prof_corr_chars_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: the six exact raw moments of (n_chars, n_tokens) and
    their Pearson correlation from the closed-form moment identity."""
    xy = table(spark, sf_dir, "documents").select(
        F.length("text").cast("long").alias("x"),
        F.size(H.tokens(F.col("text"))).cast("long").alias("y"),
    )
    m = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sum_x"),
        F.sum("y").alias("sum_y"),
        F.sum(F.col("x") * F.col("x")).alias("sum_xx"),
        F.sum(F.col("y") * F.col("y")).alias("sum_yy"),
        F.sum(F.col("x") * F.col("y")).alias("sum_xy"),
    )
    n, sx, sy = F.col("n").cast(_DEC), F.col("sum_x").cast(_DEC), F.col("sum_y").cast(_DEC)
    num = (n * F.col("sum_xy") - sx * F.col("sum_y")).cast("double")
    den_x = F.sqrt((n * F.col("sum_xx") - sx * F.col("sum_x")).cast("double"))
    den_y = F.sqrt((n * F.col("sum_yy") - sy * F.col("sum_y")).cast("double"))
    return m.select(
        "n",
        "sum_x",
        "sum_y",
        "sum_xx",
        "sum_yy",
        "sum_xy",
        (num / (den_x * den_y)).alias("corr"),
    )


# ---------------------------------------------------------------------------
# Equi-width numeric histograms (round 12) — the optimizer-statistics
# component the profile family lacked: per numeric column, B fixed-width
# buckets over the observed [min, max] with exact integer bounds and
# counts — what an ANALYZE TABLE pass persists for selectivity estimation
# and what a data-quality dashboard draws.  Covers the two money-bearing
# columns (orders.o_totalprice, events.value), both in integer cents.
#
# Exactness: bucket index = LEAST(B-1, (v - lo) * B div (hi - lo + 1)) —
# pure BIGINT arithmetic on cent values, so both engines compute the
# identical bucket for every row (no fp widths, no round-half cases);
# bucket bounds are reported as the same integer formula.
#
# No analog in the reference (SURVEY §2.1); profile extension surface.
#
# Scale posture: two passes per column — a min/max aggregate (map-side
# combinable to two scalars) and a bucket groupBy (B keys, map-side
# combinable); both one scan each, no shuffle wider than B rows.  The
# min/max pass is the same footer-adjacent statistic a real ANALYZE reads
# from metadata when available; kept as a scan here so the result is
# oracle-checkable end to end.
# ---------------------------------------------------------------------------


HIST_BUCKETS = 20

_HIST_ORACLE_SQL = f"""
    WITH src AS (
        SELECT 'orders.o_totalprice' AS col_name,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
        UNION ALL
        SELECT 'events.value' AS col_name,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    bounds AS (
        SELECT col_name, MIN(cents) AS lo, MAX(cents) AS hi
        FROM src GROUP BY col_name
    ),
    bucketed AS (
        SELECT s.col_name,
               LEAST({HIST_BUCKETS - 1},
                     ((s.cents - b.lo) * {HIST_BUCKETS})
                         // (b.hi - b.lo + 1)) AS bucket,
               b.lo, b.hi
        FROM src s JOIN bounds b ON s.col_name = b.col_name
    )
    SELECT col_name,
           CAST(bucket AS BIGINT) AS bucket,
           CAST(lo + bucket * (hi - lo + 1) // {HIST_BUCKETS} AS BIGINT)
               AS bucket_lo_cents,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM bucketed
    GROUP BY col_name, bucket, lo, hi
"""


@register(
    "prof_numeric_histogram",
    oracle=_HIST_ORACLE_SQL,
    tags=("profile", "agg"),
)
def prof_numeric_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(col_name, bucket, bucket_lo_cents, n_rows): {HIST_BUCKETS}
    equi-width buckets over integer cents for orders.o_totalprice and
    events.value — empty buckets emit no row (counts conserve to the
    table sizes; unit test)."""
    orders = table(spark, sf_dir, "orders").select(
        F.lit("orders.o_totalprice").alias("col_name"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    events = table(spark, sf_dir, "events").select(
        F.lit("events.value").alias("col_name"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    src = orders.unionByName(events)
    bounds = src.groupBy("col_name").agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    width_num = F.col("hi") - F.col("lo") + F.lit(1)
    bucket = F.least(
        F.lit(HIST_BUCKETS - 1),
        F.expr(f"((cents - lo) * {HIST_BUCKETS}) div (hi - lo + 1)"),
    )
    return (
        src.join(F.broadcast(bounds), "col_name")
        .select(
            "col_name",
            bucket.cast("long").alias("bucket"),
            "lo",
            "hi",
        )
        .groupBy("col_name", "bucket", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "col_name",
            "bucket",
            (
                F.col("lo")
                + F.expr(f"bucket * (hi - lo + 1) div {HIST_BUCKETS}")
            )
            .cast("long")
            .alias("bucket_lo_cents"),
            F.col("n_rows").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# Join-cardinality estimate card (round 10) — the EXACT pre-flight
# answer to "how big is this join?": for the user-activity enrichment
# join events.user_id = orders.o_custkey, the per-side row/key counts,
# the key overlap, the exact join output size (sum over common keys of
# the per-key count product — computed WITHOUT running the join), and
# the single worst key's contribution.  With prof_key_skew this
# completes the shuffle-planning pair: skew tells you how to salt, this
# card tells you what the join will cost and which key dominates it.
#
# No analog in the reference (SURVEY §2.1); profiling extension surface.
#
# Determinism: BIGINT end-to-end (counts, products, sums); the worst-key
# pick is total-ordered (contribution DESC, key ASC).
#
# Scale posture: each side collapses to its key-cardinality frame with
# ONE map-side-combinable groupBy; the key-frame equi-join shuffles
# key-sized (not row-sized) data, so the quadratic blow-up the card
# PREDICTS never has to be materialized to measure it.  The worst-key
# pick is orderBy+limit -> TakeOrderedAndProject over the key frame.
# ---------------------------------------------------------------------------


_JOINCARD_SQL = """
    WITH c1 AS (
        SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS n1
        FROM events GROUP BY user_id
    ),
    c2 AS (
        SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n2
        FROM orders GROUP BY o_custkey
    ),
    j AS (
        SELECT c1.k, n1, n2, n1 * n2 AS contrib
        FROM c1 JOIN c2 ON c1.k = c2.k
    ),
    lt AS (
        SELECT CAST(SUM(n1) AS BIGINT) AS n_left,
               CAST(COUNT(*) AS BIGINT) AS n_left_keys
        FROM c1
    ),
    rt AS (
        SELECT CAST(SUM(n2) AS BIGINT) AS n_right,
               CAST(COUNT(*) AS BIGINT) AS n_right_keys
        FROM c2
    ),
    jt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_common_keys,
               CAST(COALESCE(SUM(contrib), 0) AS BIGINT) AS join_rows
        FROM j
    ),
    worst AS (
        SELECT k AS max_key, contrib AS max_key_rows
        FROM j ORDER BY contrib DESC, k ASC LIMIT 1
    )
    SELECT n_left, n_left_keys, n_right, n_right_keys,
           n_common_keys, join_rows, max_key, max_key_rows
    FROM lt, rt, jt LEFT JOIN worst ON TRUE
"""


@register(
    "prof_join_cardinality",
    oracle=_JOINCARD_SQL,
    tags=("profile", "join"),
)
def prof_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_left, n_left_keys, n_right, n_right_keys,
    n_common_keys, join_rows, max_key, max_key_rows) — the exact output
    size and worst-key contribution of the events-x-orders enrichment
    join, derived from per-key counts without executing the join (the
    generic core, usable on any table pair, is
    functions.diagnostics.join_cardinality)."""
    return join_cardinality(
        table(spark, sf_dir, "events"),
        "user_id",
        table(spark, sf_dir, "orders"),
        "o_custkey",
    )


# ---------------------------------------------------------------------------
# NDV-estimate quality card (round 11) — how good are the
# approximate distinct counts the planner and every monitoring dashboard
# actually run on?  Per events column, the exact NDV, the engine's
# HyperLogLog++ estimate (approx_count_distinct at default precision),
# the signed error in permille, and an in_bounds flag pinning the
# estimate within max(ABS_TOL, REL_TOL_PCT%) of exact.  This is the
# audits.py bound-asserting discipline applied to the cardinality
# estimator itself: the sketch registers are engine-internal, so the
# hash-gated columns are the exact counts and the FLAGS — any regression
# in the estimator (or a precision change that silently widens error)
# flips a flag red.  Statistics quality is optimizer quality: a join
# order picked off a 2x-wrong NDV is the classic 100 TB plan disaster,
# which is why the card exists next to prof_join_cardinality (exact
# pre-flight) and prof_key_skew.
#
# No analog in the reference (SURVEY §2.1); profile/audit extension
# surface, the HLL sibling of audit_vocab_error (which bounds HLL++ on
# the text vocabulary).
#
# Determinism: exact NDVs are exact; the HLL++ estimate is
# deterministic for fixed input (hash-based, order-free merge); the
# flag compares integers against an integer envelope; err_pm is NOT
# emitted raw (estimates are engine-specific) — only its bounded flag.
#
# Scale posture: one events scan, every aggregate map-side combinable
# (both COUNT(DISTINCT) and HLL buffers merge as monoids); output is
# columns-sized.
# ---------------------------------------------------------------------------


# the engine's default HLL++ rsd is 5%; the envelope is the 3-sigma
# bound (3 x rsd) plus a small-cardinality floor — measured errors on
# the fixtures run 0-8.3%, i.e. within ~1.7 sigma
ABS_TOL, REL_TOL_PCT = 10, 15
_COLS = ("event_id", "user_id", "event_type", "value")

_NDV_SQL = f"""
    WITH exact AS (
        {" UNION ALL ".join(
            f"SELECT '{c}' AS col_name, "
            f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv_exact FROM events"
            for c in _COLS
        )}
    )
    SELECT col_name, ndv_exact, CAST(1 AS INT) AS in_bounds
    FROM exact
"""


@register(
    "prof_ndv_quality",
    oracle=_NDV_SQL,
    tags=("profile", "audit", "agg"),
)
def prof_ndv_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(col_name, ndv_exact, in_bounds) per audited events column:
    exact distinct count plus the flag asserting the HLL++ estimate
    (approx_count_distinct, default 5% rsd) lands within
    max(ABS_TOL, REL_TOL_PCT%) of exact — the 3-sigma envelope.  The estimate is derived only
    through the sketch path — the exact count never feeds it."""
    ev = table(spark, sf_dir, "events")
    agg = ev.agg(
        *[F.countDistinct(c).cast("long").alias(f"x_{c}") for c in _COLS],
        *[F.approx_count_distinct(c).cast("long").alias(f"a_{c}") for c in _COLS],
    ).first()
    rows = []
    for c in _COLS:
        exact, est = agg[f"x_{c}"], agg[f"a_{c}"]
        envelope = max(ABS_TOL, exact * REL_TOL_PCT // 100)
        rows.append((c, exact, int(abs(est - exact) <= envelope)))
    return spark.createDataFrame(
        rows, "col_name string, ndv_exact long, in_bounds int"
    )


# ---------------------------------------------------------------------------
# Key-skew profile (round 10) — the pre-shuffle diagnostic card for a
# join/aggregation key: the top heavy-hitter keys with their exact share
# and cumulative share of all rows, next to the key-space size.  This is
# the card an engineer reads BEFORE keying a 100 TB shuffle on a column
# (and the input to choosing a salting factor or an AQE skew threshold);
# it complements dq_volume_anomaly (volume over time) and
# text_heavy_hitters_cms (approximate, content-domain) with an exact,
# key-domain answer.
#
# No analog in the reference (SURVEY §2.1); profiling extension surface.
#
# Determinism: counts and cumulative counts are BIGINT end-to-end; the
# only doubles are single divisions of two BIGINTs (IEEE-identical in
# both engines).  The top-K ordering (cnt DESC, key ASC) is total.
#
# Scale posture: ONE map-side-combinable groupBy over the key (the frame
# after it is key-cardinality-sized, not row-sized), a 2-row global
# aggregate broadcast back, and top-K via orderBy+limit ->
# TakeOrderedAndProject (each partition keeps K rows; no full sort, no
# unpartitioned vocabulary-wide window — the rank/cumsum window runs on
# the K-row post-limit frame only).
# ---------------------------------------------------------------------------


TOP_KEYS = 25

_SKEW_SQL = f"""
    WITH counts AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(cnt) AS BIGINT) AS n_rows
        FROM counts
    ),
    top AS (
        SELECT user_id, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id ASC) AS rnk,
               SUM(cnt) OVER (
                   ORDER BY cnt DESC, user_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_cnt
        FROM counts
        ORDER BY cnt DESC, user_id ASC
        LIMIT {TOP_KEYS}
    )
    SELECT CAST(rnk AS BIGINT) AS rnk,
           user_id,
           cnt,
           cnt / CAST(n_rows AS DOUBLE) AS share,
           CAST(cum_cnt AS BIGINT) / CAST(n_rows AS DOUBLE) AS cum_share,
           n_keys,
           n_rows
    FROM top, tot
"""


@register(
    "prof_key_skew",
    oracle=_SKEW_SQL,
    tags=("profile", "skew"),
)
def prof_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rnk, user_id, cnt, share, cum_share, n_keys, n_rows): the
    TOP_KEYS heaviest keys of events.user_id with exact row shares and
    the key-space totals — the shuffle-planning skew card (the generic
    core, usable on any table/key, is functions.diagnostics.key_skew)."""
    return key_skew(
        table(spark, sf_dir, "events"), "user_id", top=TOP_KEYS
    )
