"""Data-quality audits: the ingest-gate and monitoring checks.

Referential integrity and content audits, k-anonymity, categorical drift
(batch and streaming twin), embedding coverage, volume anomaly and PK
uniqueness, freshness (batch and streaming twin), null profiles,
header/detail reconciliation, schema contracts and sequence gaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from bigbugdata_spark.caching import pin
from bigbugdata_spark.catalog import TABLES, table
from bigbugdata_spark.functions.diagnostics import null_profile
from bigbugdata_spark.functions.fragments import (
    CENTS_SQL,
    EMB_DIM,
    JACCARD_PAIRS_SQL,
    TS_FMT,
    TS_FMT_DUCK,
    split_col,
    sql_split_case,
)
from bigbugdata_spark.operators.dedup import dedup_minhash_lsh, dedup_ngram_jaccard
from bigbugdata_spark.registry import register
from bigbugdata_spark.streaming.core import _run_to_memory, stream_events


# ---------------------------------------------------------------------------
# Data-quality audit operators (round 6) — the ingest-gate checks a
# production lakehouse runs before letting a batch into the serving
# tables: referential integrity across the star schema and per-rule
# constraint violation counts. No analog in the reference (its only
# validation is crashing on a malformed row, SURVEY §2.1); this is
# pipeline-governance extension surface alongside corpus.py.
#
# Both queries return COUNTS, not violating rows: the audit result is a
# bounded dataset-card-sized table whatever the corpus size. On this
# driver-generated corpus every n_orphans / n_violations is 0 (the data
# is clean — verified independently by the DuckDB twins); the hash
# compare still pins the whole counting machinery through the non-trivial
# n_rows / n_distinct_fk / n_checked columns, and
# tests/test_extensions.py proves every rule actually FIRES on a
# deliberately corrupted fixture.
#
# Scale posture: referential integrity scans each CHILD TABLE ONCE —
# its FK columns stack into (fk, key) pairs whose single map-side-
# combinable aggregate produces every FK's distinct-key frame, then one
# labeled anti-join per child against the union of its parents' key
# sets (dimension parents broadcast; lineitem->orders shuffles on the
# key the child side already aggregated by). Constraint checks are ONE
# conditional aggregate per table — a single scan computing every rule
# with map-side partials, the cheapest possible audit shape at 100 TB.
# ---------------------------------------------------------------------------


# (relation label, child table, fk col, parent table, pk col)
RI_RELATIONS = (
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("events->customer", "events", "user_id", "customer", "c_custkey"),
)

_RI_SQL = "\nUNION ALL\n".join(
    f"""
    SELECT '{label}' AS relation,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS n_rows,
           (SELECT CAST(COUNT(DISTINCT {fk}) AS BIGINT) FROM {child})
               AS n_distinct_fk,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
               (SELECT DISTINCT {fk} FROM {child}) c
               LEFT JOIN {parent} p ON c.{fk} = p.{pk}
               WHERE p.{pk} IS NULL) AS n_orphans
    """
    for label, child, fk, parent, pk in RI_RELATIONS
)


@register(
    "dq_referential_integrity",
    oracle=_RI_SQL,
    tags=("dq", "join", "agg"),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit over every relationship in the star
    schema (plus the events->customer weak reference): per relation, the
    child row count, its distinct-key count, and how many distinct child
    keys have no parent. A non-zero n_orphans means a broken ingest
    (partial parent load, key-type drift) and gates promotion.

    Plan — ONE SCAN PER CHILD TABLE (VERDICT r6 #3; the per-relation
    form scanned lineitem ~6x): each child reads its FK columns once and
    `stack`s them into (fk, k) pairs, so one map-side-combinable
    aggregate on (fk, k) yields every FK's distinct-key frame at once —
    per-key counts roll up to n_rows, key rows count to n_distinct_fk.
    Orphans come from ONE left-anti join per child against the union of
    its parents' key sets labeled by fk (parents project to key columns;
    dimension parents broadcast, the lineitem->orders big-big pair
    shuffles on the (fk, k) key the child side is already partitioned by
    from its aggregate). The stack triples lineitem's row stream, but
    partial aggregation collapses it to key cardinality before any
    exchange — at 100 TB that beats re-scanning the fact table per
    relation by the number of relations. Keys cast to BIGINT on both
    sides (dimension keys are int32, fact keys int64 — exactly the
    key-type drift this audit exists to catch, made explicit)."""
    by_child: dict[str, list[tuple[str, str, str, str]]] = {}
    for label, child, fk, parent, pk in RI_RELATIONS:
        by_child.setdefault(child, []).append((label, fk, parent, pk))
    frames = []
    for child, rels in by_child.items():
        c = table(spark, sf_dir, child)
        stack = ", ".join(
            f"'{fk}', CAST({fk} AS BIGINT)" for _, fk, _, _ in rels
        )
        # pinned: keys feeds BOTH the totals aggregate and the anti-join
        # — without it each consumer re-scans the child (the exact ~6x
        # lineitem re-scan this rewrite removes); the cached frame is
        # key-cardinality sized, not child-sized
        keys = pin(
            c.select(F.expr(f"stack({len(rels)}, {stack}) AS (fk, k)"))
            .groupBy("fk", "k")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        totals = keys.groupBy("fk").agg(
            F.sum("n").cast("long").alias("n_rows"),
            # NOT count(*): a NULL FK contributes a keys-frame row, but
            # COUNT(DISTINCT fk) excludes NULL on both engines — count
            # only non-null keys so the audit stays oracle-exact when a
            # dirty batch carries NULL foreign keys (the anti-join below
            # still reports the NULL-key row as an orphan, also on both
            # engines)
            F.sum(F.col("k").isNotNull().cast("long")).alias("n_distinct_fk"),
        )
        parents = None
        for _, fk, parent, pk in rels:
            p = table(spark, sf_dir, parent).select(
                F.lit(fk).alias("fk"), F.col(pk).cast("long").alias("k")
            )
            parents = p if parents is None else parents.unionByName(p)
        orph = (
            keys.join(parents, ["fk", "k"], "left_anti")
            .groupBy("fk")
            .agg(F.count(F.lit(1)).alias("n_orph"))
        )
        # anchor on a literal relations frame: an EMPTY child table has
        # no (fk, k) groups, so totals/orph carry no row for it — but
        # the audit must still report the relation (n_rows=0 is exactly
        # the total-outage signal a gate exists for), as the oracle's
        # scalar-subquery form always does
        anchor = spark.createDataFrame(
            [(fk, label) for label, fk, _, _ in rels],
            "fk string, relation string",
        )
        frames.append(
            anchor.join(totals, "fk", "left")
            .join(orph, "fk", "left")
            .select(
                "relation",
                F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias(
                    "n_rows"
                ),
                F.coalesce(F.col("n_distinct_fk"), F.lit(0)).cast("long").alias(
                    "n_distinct_fk"
                ),
                F.coalesce(F.col("n_orph"), F.lit(0)).cast("long").alias(
                    "n_orphans"
                ),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


# (rule label, table, SQL boolean violation predicate — identical text
# runs on both engines; columns only, no engine-specific functions)
DQ_RULES = (
    ("lineitem.quantity_nonpositive", "lineitem", "l_quantity <= 0"),
    ("lineitem.price_nonpositive", "lineitem", "l_extendedprice <= 0"),
    ("lineitem.discount_out_of_range", "lineitem", "l_discount < 0 OR l_discount > 1"),
    ("lineitem.tax_negative", "lineitem", "l_tax < 0"),
    ("orders.totalprice_nonpositive", "orders", "o_totalprice <= 0"),
    ("orders.orderdate_null", "orders", "o_orderdate IS NULL"),
    ("events.ts_null", "events", "ts IS NULL"),
    ("events.value_negative", "events", "value < 0"),
    ("documents.text_blank", "documents", "length(trim(text)) = 0"),
    ("documents.nchars_drift", "documents", "n_chars <> length(text)"),
)

_DQ_SQL = "\nUNION ALL\n".join(
    f"""
    SELECT '{label}' AS rule,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations
    FROM {tbl}
    """
    for label, tbl, pred in DQ_RULES
)


@register(
    "dq_constraint_violations",
    oracle=_DQ_SQL,
    tags=("dq", "agg"),
)
def dq_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-rule audit: for every declared rule, how many rows were
    checked and how many violate it (nonpositive measures, out-of-range
    discounts, null event times, blank documents, n_chars metadata
    drift). The rule predicates are plain SQL boolean expressions shared
    verbatim with the oracle, so adding a rule is one tuple.

    Plan: rules GROUP BY TABLE into one conditional aggregate per table
    — a single scan per table computes all its rules as SUM(CASE...)
    columns with map-side partials, then the per-rule rows unpivot from
    that one row. No joins, no shuffle beyond the 1-row aggregates."""
    by_table: dict[str, list[tuple[str, str]]] = {}
    for label, tbl, pred in DQ_RULES:
        by_table.setdefault(tbl, []).append((label, pred))
    frames = []
    for tbl, rules in by_table.items():
        t = table(spark, sf_dir, tbl)
        aggs = [F.count(F.lit(1)).alias("n_checked")] + [
            F.sum(F.when(F.expr(pred), 1).otherwise(0)).alias(f"v{i}")
            for i, (_, pred) in enumerate(rules)
        ]
        one = t.agg(*aggs)
        stack = ", ".join(
            f"'{label}', v{i}" for i, (label, _) in enumerate(rules)
        )
        frames.append(
            one.select(
                F.expr(f"stack({len(rules)}, {stack}) as (rule, n_violations)"),
                "n_checked",
            ).select("rule", "n_checked", "n_violations")
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


# --- split leakage ---------------------------------------------------------

_LEAKAGE_SQL = f"""
    WITH pairs AS ({JACCARD_PAIRS_SQL}),
    splits AS (
        SELECT doc_id, {sql_split_case("doc_id")} AS split
        FROM documents
    )
    SELECT LEAST(s1.split, s2.split) AS split_a,
           GREATEST(s1.split, s2.split) AS split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs
    JOIN splits s1 ON s1.doc_id = pairs.d1
    JOIN splits s2 ON s2.doc_id = pairs.d2
    GROUP BY split_a, split_b
"""


def _leakage_from_pairs(
    spark: SparkSession, sf_dir: str, pairs: DataFrame
) -> DataFrame:
    """Shared body of both leakage audits: label each near-dup pair with
    its documents' splits and count per unordered split pair. The split
    join sides are id-equi-joins against the scan-side hash expression
    (no shuffle added beyond the pair source), and the final aggregate
    key space is bounded (3x3 splits)."""
    splits = table(spark, sf_dir, "documents").select(
        "doc_id", split_col(F.col("doc_id")).alias("split")
    )
    j = (
        pairs.join(
            splits.withColumnRenamed("split", "_s1"),
            pairs.d1 == splits.doc_id,
        )
        .drop("doc_id")
        .join(
            splits.withColumnRenamed("split", "_s2").withColumnRenamed(
                "doc_id", "_d2"
            ),
            F.col("d2") == F.col("_d2"),
        )
    )
    return (
        j.select(
            F.least("_s1", "_s2").alias("split_a"),
            F.greatest("_s1", "_s2").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "dq_split_leakage",
    oracle=_LEAKAGE_SQL,
    tags=("dq", "dedup", "join"),
)
def dq_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit — the governance check corpus_split_stratified
    makes possible and near-dup detection makes necessary: count
    near-duplicate pairs (exact word-3-gram Jaccard >= 0.5) per
    unordered split pair. Off-diagonal rows (train x val, train x test)
    are EVAL LEAKAGE — a test document whose near-twin sits in train
    inflates benchmark scores without any verbatim decontamination-gram
    overlap, which is why this runs on the near-dup relation rather
    than the n-gram containment one. The diagonal rows are the baseline
    duplication rate inside each split.

    Pair source here is the exact inverted-index join (the correctness
    anchor); dq_split_leakage_lsh below is the registered 100 TB twin
    off dedup_minhash_lsh's bucketed pairs."""
    return _leakage_from_pairs(
        spark, sf_dir, dedup_ngram_jaccard(spark, sf_dir).select("d1", "d2")
    )


@register(
    "dq_split_leakage_lsh",
    oracle=_LEAKAGE_SQL,
    tags=("dq", "dedup", "join"),
)
def dq_split_leakage_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-PATH split-leakage audit (VERDICT r6 #4, completing the
    promise in dq_split_leakage's docstring): identical (split_a,
    split_b, n_pairs) contract, pair source swapped to
    dedup_minhash_lsh's band-bucketed candidates — at 100 TB the exact
    inverted-index join is the corpus-sized cost, while MinHash banding
    touches only bucket-colliding candidates.

    This twin carries the SAME hash-exact oracle as the exact-path
    audit, not a rows-only check: dedup_minhash_lsh's own oracle is the
    exact Jaccard pair relation (every true pair in this corpus sits at
    J >= 0.9, where 16x4 banding misses with probability <= 4e-8, and
    the seeded permutations make the result deterministic), so the
    leakage rollup over those pairs is oracle-identical too. The
    exact-vs-LSH agreement is additionally asserted as a frame-level
    invariant in tests/test_extensions.py."""
    return _leakage_from_pairs(
        spark, sf_dir, dedup_minhash_lsh(spark, sf_dir).select("d1", "d2")
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (round 10) — the privacy-governance check the dq
# family lacked: before events (or any interaction log) feed a training
# corpus, how identifying are the quasi-identifier combinations?  A
# (event_type, day, value-band) cell that only one or two users occupy
# re-identifies them by simple lookup; the standard release gate demands
# every occupied QI cell hold at least K_ANON rows, and the remediation
# (suppress or coarsen the small cells) needs exactly this accounting:
# per event_type, how many QI cells exist, how many are below k, how
# many rows they expose, and the worst cell's size.
#
# No analog in the reference (SURVEY §2.1); dq/governance extension
# surface next to text_scrub (redaction) and the decontamination gates.
#
# Determinism: group sizes, counts, minima — exact integers; the value
# band is exact-cents integer division.
#
# Scale posture: one map-side-combinable groupBy over the QI key (the
# shuffle spreads across the full QI space), then a |cells|-sized rollup
# to |event_type| rows.  At 100 TB the QI cell count, not the row count,
# bounds everything after the first aggregate.
# ---------------------------------------------------------------------------


K_ANON = 5
BAND_CENTS = 1000  # value coarsening: 10-currency-unit bands

_ANON_SQL = f"""
    WITH cells AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
               {CENTS_SQL} // {BAND_CENTS} AS band,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
        GROUP BY event_type, day, band
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CASE WHEN n < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_small_cells,
           CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
           CAST(MIN(n) AS BIGINT) AS min_cell_size,
           CAST(SUM(n) AS BIGINT) AS n_rows
    FROM cells GROUP BY event_type
"""


@register(
    "dq_k_anonymity",
    oracle=_ANON_SQL,
    tags=("dq", "agg"),
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: occupied (day, value-band) QI cells, cells below
    K_ANON, rows those small cells expose, the worst cell's size, and
    total rows — the privacy release gate's remediation accounting."""
    cells = (
        table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            # SQL `div` = exact integer division (the dq_fresh-proven
            # twin of DuckDB //), no fp64 quotient anywhere
            F.expr(
                f"CAST(ROUND(value * 100) AS BIGINT) div {BAND_CENTS}"
            ).alias("band"),
        )
        .groupBy("event_type", "day", "band")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    small = F.col("n") < K_ANON
    return cells.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(small.cast("long")).alias("n_small_cells"),
        F.sum(F.when(small, F.col("n")).otherwise(0)).alias("n_rows_at_risk"),
        F.min("n").alias("min_cell_size"),
        F.sum("n").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Categorical distribution-drift monitor (round 8) — the third leg of
# the dq time-series family (dq_ext: volume anomaly, PK uniqueness): does
# the MIX of event types in the current window differ from the reference
# window, even when total volume looks fine? The production shape is
# "clicks still arrive, but the error share doubled" — a feed can pass
# volume checks while its composition silently shifts.
#
# No analog in the reference (SURVEY §2.1); dq extension surface.
#
# Determinism discipline: the drift FLAG is decided entirely in integer
# arithmetic — |c_cur*n_ref - c_ref*n_cur| * 1000 > THRESHOLD_PM *
# n_ref * n_cur — i.e. the permille share delta compared exactly by
# cross-multiplication, no floating point anywhere near the decision.
# The products run in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): the
# cross-multiplication squares the window totals, so BIGINT would wrap
# at ~1e8 events per window — far below a 100 TB feed. 38 digits carry
# the comparison exactly to ~1e17 events per window; only the 0/1 flag
# leaves the wide type, so cross-engine hashing never sees it. The
# reported delta_pm is a fixed fp64 expression over exact BIGINTs
# (identical in both engines). Counts are conditional sums in ONE scan
# (no per-window scans + outer join), so a category absent from either
# window still gets a row with an exact zero.
#
# The streaming twin (operators/dq.py) composes the two builders
# below — `window_counts` and `finish_drift` — so the live monitor and
# this batch audit share one expression tree and cannot drift apart.
#
# Scale posture: one map-side-combinable aggregate on event_type
# (|event_type| rows out of 100 TB); window totals roll up the tiny
# result frame, not the source. At 100 TB with the date-partitioned lake
# the two-window filter is partition pruning, not a full scan.
# ---------------------------------------------------------------------------


# window boundary: [data start, CUTOFF) = reference, [CUTOFF, end) = current
DRIFT_CUTOFF = "2024-01-16 00:00:00"
# share shift that trips the flag, in permille of the window total
DRIFT_THRESHOLD_PM = 10

DRIFT_ORACLE_SQL = f"""
    WITH counts AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN ts < TIMESTAMP '{DRIFT_CUTOFF}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
               CAST(SUM(CASE WHEN ts >= TIMESTAMP '{DRIFT_CUTOFF}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
        FROM events GROUP BY event_type
    ),
    tot AS (
        SELECT event_type, c_ref, c_cur,
               CAST(SUM(c_ref) OVER () AS BIGINT) AS n_ref,
               CAST(SUM(c_cur) OVER () AS BIGINT) AS n_cur
        FROM counts
    )
    SELECT event_type, c_ref, c_cur, n_ref, n_cur,
           CASE WHEN n_ref > 0 AND n_cur > 0 THEN
               (CAST(c_cur AS DOUBLE) / n_cur - CAST(c_ref AS DOUBLE) / n_ref)
                   * 1000
           END AS delta_pm,
           CAST(abs(CAST(c_cur AS HUGEINT) * n_ref
                    - CAST(c_ref AS HUGEINT) * n_cur) * 1000
                > CAST({DRIFT_THRESHOLD_PM} AS HUGEINT) * n_ref * n_cur
                AS INT) AS drift
    FROM tot
"""

_DEC = "decimal(38,0)"  # Spark's HUGEINT stand-in for the flag products


def window_counts(ev: DataFrame) -> DataFrame:
    """Per event_type, conditional counts on each side of the cutoff —
    one pass, map-side combinable, streaming-safe (shared with the live
    monitor in streaming/drift.py)."""
    cutoff = F.lit(DRIFT_CUTOFF).cast("timestamp")
    return ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("ts") < cutoff, 1).otherwise(0)).alias("c_ref"),
        F.sum(F.when(F.col("ts") >= cutoff, 1).otherwise(0)).alias("c_cur"),
    )


def finish_drift(counts: DataFrame) -> DataFrame:
    """Totals + permille delta + exact-integer flag over the tiny
    per-category frame (batch tail of both the batch and streaming
    drift queries)."""
    w = Window.partitionBy()  # |event_type|-row frame: totals roll up in place
    counts = counts.select(
        "event_type",
        "c_ref",
        "c_cur",
        F.sum("c_ref").over(w).alias("n_ref"),
        F.sum("c_cur").over(w).alias("n_cur"),
    )
    # NULL (not NaN/Infinity) when either window is still empty — the
    # live streaming monitor hits n_cur = 0 before any current-window
    # event arrives, and engines canonicalize the degenerate division
    # differently (r8 advisory); the integer flag stays 0 either way.
    delta_pm = F.when(
        (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
        (
            F.col("c_cur").cast("double") / F.col("n_cur")
            - F.col("c_ref").cast("double") / F.col("n_ref")
        )
        * 1000,
    )
    drift = (
        F.abs(
            F.col("c_cur").cast(_DEC) * F.col("n_ref")
            - F.col("c_ref").cast(_DEC) * F.col("n_cur")
        )
        * 1000
        > F.lit(DRIFT_THRESHOLD_PM).cast(_DEC) * F.col("n_ref") * F.col("n_cur")
    )
    return counts.select(
        "event_type",
        "c_ref",
        "c_cur",
        "n_ref",
        "n_cur",
        delta_pm.alias("delta_pm"),
        drift.cast("int").alias("drift"),
    )


@register(
    "dq_distribution_drift",
    oracle=DRIFT_ORACLE_SQL,
    tags=("dq", "events", "agg"),
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: reference- and current-window counts, window
    totals, the share delta in permille, and an exact-integer drift flag
    (share moved by more than DRIFT_THRESHOLD_PM permille)."""
    return finish_drift(window_counts(table(spark, sf_dir, "events")))


# ---------------------------------------------------------------------------
# Streaming distribution-drift monitor (round 8) — the continuous twin
# of operators/dq.dq_distribution_drift: the categorical-mix check
# runs as a complete-mode streaming aggregate so the dataset-card table
# is live while the feed ingests, instead of a nightly batch audit.
#
# Topology: the events STREAM feeds the batch query's `window_counts`
# builder VERBATIM (per event_type, counts on each side of the cutoff —
# a streaming-safe grouped aggregate); its `finish_drift` builder then
# derives totals and the exact-integer flag over the |event_type|-row
# complete-mode table (post-sink, batch-side — a streaming query cannot
# nest an unpartitioned window, and the final roll-up is over a
# dataset-card-sized frame anyway). One expression tree for both
# queries, so the live monitor cannot drift from the batch audit; with
# availableNow over the fixture the final table equals the batch
# derivation, and the SAME oracle SQL gates both.
#
# Scale posture: state is |event_type| rows of two BIGINT sums —
# constant-size streaming state, no watermark needed (the aggregate never
# drops keys); the production variant swaps the memory sink for a
# foreachBatch overwrite of the dataset-card-sized table (complete-mode
# counts REPLACE per trigger; overwrite of a 5-row table is trivially
# idempotent under replay).
# tests/test_round8_ops.py proves that path through the engine.
# ---------------------------------------------------------------------------


@register(
    "dq_stream_distribution_drift",
    # the batch query's oracle verbatim — stream == batch is the claim
    oracle=DRIFT_ORACLE_SQL,
    tags=("streaming", "dq", "events", "agg"),
    side_effects=True,
)
def dq_stream_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift monitor as a live streaming aggregate: ingest the
    events fixture with availableNow, keep per-category window counts
    as complete-mode state, and derive totals/flags from the final
    table. Gated by the identical oracle as the batch query."""
    counts = _run_to_memory(
        window_counts(stream_events(spark, sf_dir)), "complete"
    )
    return finish_drift(counts)


# ---------------------------------------------------------------------------
# Embedding-coverage audit (round 8) — the dq gate in front of every
# ANN/dedup consumer of the embeddings table: is the corpus fully and
# cleanly embedded? Docs without a vector silently vanish from
# embedding-based dedup and retrieval; malformed vectors (wrong dim,
# NaN/Inf components, all-zero) poison similarity math downstream (the
# zero-vector quantization guard exists because exactly this class
# reached it). One table answers both before anything consumes the
# column.
#
# No analog in the reference (SURVEY §2.1); dq extension surface, the
# embedding-side sibling of dq_referential_integrity.
#
# Determinism discipline: every column is an exact count; the vector
# defect predicates (dim mismatch, non-finite component, all-zero) are
# boolean folds both engines evaluate identically. NaN detection avoids
# NaN literals on either side: a component is non-finite iff
# x - x != 0 on doubles — NaN - NaN = NaN and Inf - Inf = NaN, and
# NaN != 0 is true in both engines. (An x != x disjunct would be dead
# code: Spark SQL and DuckDB both order NaN equal to itself.)
#
# Scale posture: ONE embeddings scan and ONE full-outer id join (at
# 100 TB both sides bucket by id — sources/bucketed.py — so it is
# co-located): the embedding column rides through the join and every
# counter folds in a single one-row aggregate on the joined frame —
# coverage and defect counts share the scan instead of reading the
# wide vector column twice.
# ---------------------------------------------------------------------------


@register(
    "dq_emb_coverage",
    oracle=f"""
        WITH defects AS (
            SELECT vec_id,
                   CAST(len(embedding) <> {EMB_DIM} AS INT) AS bad_dim,
                   CAST(len(list_filter(embedding,
                        x -> CAST(x AS DOUBLE) - CAST(x AS DOUBLE) <> 0))
                        > 0 AS INT) AS bad_finite,
                   CAST(len(list_filter(embedding,
                        x -> CAST(x AS DOUBLE) <> 0)) = 0 AS INT) AS all_zero
            FROM embeddings
        ),
        cov AS (
            SELECT CAST(SUM(CASE WHEN e.vec_id IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS docs_without_vec,
                   CAST(SUM(CASE WHEN d.doc_id IS NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS vecs_without_doc,
                   CAST(SUM(CASE WHEN d.doc_id IS NOT NULL
                                  AND e.vec_id IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS matched
            FROM documents d FULL OUTER JOIN embeddings e
              ON d.doc_id = e.vec_id
        )
        SELECT matched, docs_without_vec, vecs_without_doc,
               (SELECT CAST(SUM(bad_dim) AS BIGINT) FROM defects)
                   AS n_bad_dim,
               (SELECT CAST(SUM(bad_finite) AS BIGINT) FROM defects)
                   AS n_nonfinite,
               (SELECT CAST(SUM(all_zero) AS BIGINT) FROM defects)
                   AS n_all_zero
        FROM cov
    """,
    tags=("dq", "similarity", "join", "agg"),
)
def dq_emb_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit: matched doc/vector pairs, docs missing a vector,
    orphan vectors, and vector defect counts (wrong dimension,
    non-finite components, all-zero)."""
    return emb_coverage(
        table(spark, sf_dir, "documents").select("doc_id"),
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
    )


def emb_coverage(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """The audit plan over any (documents, embeddings) pair — split out
    because the clean fixture leaves every defect counter at zero; the
    corrupted-fixture test plants each defect class and asserts the
    exact counts."""
    joined = docs.join(emb, docs.doc_id == emb.vec_id, "full")
    has_vec = F.col("vec_id").isNotNull()
    # non-finite iff x - x != 0 (NaN-NaN and Inf-Inf are NaN; NaN != 0)
    nonfinite_components = F.size(
        F.filter("embedding", lambda c: c.cast("double") - c.cast("double") != 0)
    )
    zero_components = F.size(
        F.filter("embedding", lambda c: c.cast("double") != 0)
    )

    def flag(cond):
        # defect flags only apply to rows that carry a vector
        return F.sum(F.when(has_vec & cond, 1).otherwise(0))

    return joined.agg(
        F.sum(
            F.when(F.col("doc_id").isNotNull() & has_vec, 1).otherwise(0)
        ).alias("matched"),
        F.sum(F.when(~has_vec, 1).otherwise(0)).alias("docs_without_vec"),
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0)).alias(
            "vecs_without_doc"
        ),
        flag(F.size("embedding") != EMB_DIM).alias("n_bad_dim"),
        flag(nonfinite_components > 0).alias("n_nonfinite"),
        flag(zero_components == 0).alias("n_all_zero"),
    )


# ---------------------------------------------------------------------------
# Data-quality monitoring extensions (round 7) — the TIME-SERIES side
# of the dq family: operators/dq.py audits a batch's content (referential
# integrity, constraint rules, split leakage); this module audits the
# PIPELINE's behavior over time, starting with daily-volume anomaly
# detection — the "did ingest silently halve on Tuesday" check every
# production feed monitors. No analog in the reference (SURVEY §2.1).
#
# Scale posture: the daily rollup is one map-side-combinable aggregate on
# the date key (at 100 TB the date-partitioned layout makes it a
# partition-metadata-sized job); the global moments reduce 31 day-rows to
# one broadcast row. Output is days-sized — a dataset-card table.
# ---------------------------------------------------------------------------


Z_THRESHOLD = 2.0


@register(
    "dq_volume_anomaly",
    oracle=f"""
        WITH daily AS (
            SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY day
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS c,
                   CAST(SUM(n_events) AS BIGINT) AS s,
                   CAST(SUM(n_events * n_events) AS BIGINT) AS ssq
            FROM daily
        )
        SELECT day, n_events,
               CASE WHEN (CAST(ssq AS DOUBLE) / c)
                         - (CAST(s AS DOUBLE) / c) * (CAST(s AS DOUBLE) / c) > 0
                    THEN (n_events - CAST(s AS DOUBLE) / c)
                         / sqrt((CAST(ssq AS DOUBLE) / c)
                                - (CAST(s AS DOUBLE) / c) * (CAST(s AS DOUBLE) / c))
               END AS z,
               CAST(COALESCE(abs(
                   CASE WHEN (CAST(ssq AS DOUBLE) / c)
                             - (CAST(s AS DOUBLE) / c) * (CAST(s AS DOUBLE) / c) > 0
                        THEN (n_events - CAST(s AS DOUBLE) / c)
                             / sqrt((CAST(ssq AS DOUBLE) / c)
                                    - (CAST(s AS DOUBLE) / c) * (CAST(s AS DOUBLE) / c))
                   END) > {Z_THRESHOLD}, FALSE) AS INT) AS is_anomaly
        FROM daily CROSS JOIN mom
    """,
    tags=("dq", "events", "agg"),
)
def dq_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily ingest-volume anomaly flags: per calendar day, the event
    count, its z-score against all days' population moments, and an
    |z| > 2 anomaly flag. A feed that silently halves (upstream outage)
    or doubles (replay/duplication) trips the flag without anyone
    defining per-feed thresholds.

    Determinism discipline: the moments are EXACT integer sums (count,
    sum, sum-of-squares — all BIGINT), so mean and variance are fixed
    fp64 expressions over exact integers, identical in both engines;
    the population-variance form (ssq/c - mean^2) is written out
    literally on both sides rather than relying on either engine's
    stddev aggregate (whose accumulation order is engine-internal). A
    zero/negative variance (fp guard) yields NULL z and a 0 flag."""
    # pinned: the days-sized rollup feeds both the moments aggregate and
    # the final join — without it each consumer re-scans events
    daily = pin(
        table(spark, sf_dir, "events")
        .select(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    mom = daily.agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("n_events").alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("ssq"),
    )
    mean = F.col("s").cast("double") / F.col("c")
    var = F.col("ssq").cast("double") / F.col("c") - mean * mean
    z = F.when(var > 0, (F.col("n_events") - mean) / F.sqrt(var))
    return daily.crossJoin(F.broadcast(mom)).select(
        "day",
        "n_events",
        z.alias("z"),
        F.coalesce(F.abs(z) > Z_THRESHOLD, F.lit(False)).cast("int").alias(
            "is_anomaly"
        ),
    )


# (table, primary-key column) — every base table's uniqueness contract
PK_COLUMNS = (
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"),
    ("events", "event_id"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
)

_PK_SQL = "\nUNION ALL\n".join(
    f"""
    SELECT '{tbl}' AS tbl,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {pk}) AS BIGINT) AS n_distinct,
           CAST(COUNT({pk}) - COUNT(DISTINCT {pk}) AS BIGINT) AS n_extra_rows,
           CAST(SUM(CASE WHEN {pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_keys
    FROM {tbl}
    """
    for tbl, pk in PK_COLUMNS
)


@register(
    "dq_pk_uniqueness",
    oracle=_PK_SQL,
    tags=("dq", "agg"),
)
def dq_pk_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit — the third leg of the canonical
    ingest-gate trio (referential integrity, constraint rules, PK
    uniqueness): per base table, row count, distinct key count, how many
    EXTRA rows duplicate keys account for (counted over NON-NULL keys:
    COUNT(pk) - COUNT(DISTINCT pk), so a table of N null keys and no
    true duplicates reports 0 — advisor r7 fix), and how many NULL keys
    exist (a NULL key is its own defect class, not a duplicate).
    A replayed ingest or a bad merge shows up here before any downstream
    join silently fans out.

    Plan: ONE conditional aggregate per table (count + distinct-count +
    null-count in a single scan with map-side partials) — the same
    cheapest-audit shape as dq_constraint_violations; output is
    table-count-sized."""
    frames = []
    for tbl, pk in PK_COLUMNS:
        t = table(spark, sf_dir, tbl)
        frames.append(
            t.agg(
                F.lit(tbl).alias("tbl"),
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(pk).alias("n_distinct"),
                (F.count(pk) - F.countDistinct(pk)).alias("n_extra_rows"),
                F.sum(F.col(pk).isNull().cast("long")).alias("n_null_keys"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


# ---------------------------------------------------------------------------
# Data-freshness audit (round 8) — the last leg of the dq monitoring
# family (volume anomaly, mix drift, PK uniqueness, referential
# integrity): is each time-bearing feed STALE? Every production pipeline
# pages on exactly this table — "events last landed 47 hours ago".
#
# No analog in the reference (SURVEY §2.1); dq extension surface.
#
# Both time-bearing tables are audited against fixed per-feed anchors
# (the fixture's "now"), with per-feed staleness SLAs. The fixture
# exercises BOTH flag values live: events' max ts sits within a day of
# its anchor (fresh), while the orders feed is a month behind its
# anchor (stale) — no planted fixture needed.
#
# Determinism discipline: lag is integer microseconds -> integer-divided
# to whole hours (both engines' integer div truncates toward zero on
# positive values); the flag compares BIGINTs. max-timestamp strings
# format through the repo's pinned TS_FMT.
#
# Scale posture: one MAX aggregate per feed — at 100 TB over the
# date-partitioned lake this is partition-metadata-sized work (the max
# lives in the newest partition), and the output is feeds-sized.
#
# The feed table, the per-feed SQL fragment and the finish tail are shared
# with the live monitor, operators/dq.py.
# ---------------------------------------------------------------------------


US_PER_HOUR = 3_600_000_000

# (feed, ts column, anchor "now", staleness SLA in hours)
FRESHNESS_FEEDS = (
    ("events", "ts", "2024-01-31 00:00:00", 24),
    ("orders", "o_orderdate", "2001-09-01 00:00:00", 168),
)


def feed_sql(tbl: str, col: str, anchor: str, sla: int) -> str:
    """One feed's freshness row as DuckDB SQL (shared between the batch
    audit's oracle and the live monitor's)."""
    return f"""
    SELECT '{tbl}' AS feed,
           strftime(MAX({col}), '{TS_FMT_DUCK}') AS max_ts,
           (epoch_us(TIMESTAMP '{anchor}') - epoch_us(MAX({col})))
               // {US_PER_HOUR} AS lag_hours,
           CAST((epoch_us(TIMESTAMP '{anchor}') - epoch_us(MAX({col})))
               // {US_PER_HOUR} > {sla} AS INT) AS is_stale
    FROM {tbl}
    """


def finish_freshness(
    agg: "DataFrame", tbl: str, anchor: str, sla: int
) -> "DataFrame":
    """Freshness card row from a one-row MAX aggregate (column
    max_ts_raw) — the shared tail of the batch audit and the live
    streaming monitor, so the two cannot drift."""
    lag_hours = F.expr(
        f"(unix_micros(TIMESTAMP '{anchor}') - unix_micros(max_ts_raw))"
        f" div {US_PER_HOUR}"
    )
    return agg.select(
        F.lit(tbl).alias("feed"),
        F.date_format("max_ts_raw", TS_FMT).alias("max_ts"),
        lag_hours.alias("lag_hours"),
        (lag_hours > sla).cast("int").alias("is_stale"),
    )


_FRESH_SQL = "\nUNION ALL\n".join(
    feed_sql(tbl, col, anchor, sla)
    for tbl, col, anchor, sla in FRESHNESS_FEEDS
)


@register(
    "dq_freshness",
    oracle=_FRESH_SQL,
    tags=("dq", "agg"),
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per time-bearing feed: newest record timestamp, whole-hour lag
    behind the feed's anchor, and the SLA staleness flag."""
    parts = []
    for tbl, col, anchor, sla in FRESHNESS_FEEDS:
        # SQL `div` (in finish_freshness) = integer division
        # (truncating), matching DuckDB //
        agg = (
            table(spark, sf_dir, tbl)
            # orders' o_orderdate lands as TIMESTAMP_NTZ; under the
            # pinned UTC session zone the cast is instant-preserving
            # (events come pre-normalized by catalog.table)
            .agg(F.max(F.col(col).cast("timestamp")).alias("max_ts_raw"))
        )
        parts.append(finish_freshness(agg, tbl, anchor, sla))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Streaming freshness monitor (round 9) — the continuous twin of
# operators/dq.dq_freshness for the one feed that actually streams:
# the events ingest keeps MAX(ts) as complete-mode state (one row, the
# smallest streaming state there is), and the staleness card row derives
# from it post-sink through the SAME finish_freshness tail the batch
# audit uses — one expression tree, so the pager and the nightly audit
# cannot disagree about what "stale" means.
#
# With availableNow over the fixture the final state equals the batch
# MAX, so the events branch of the batch oracle gates the stream
# verbatim (the dq_stream_distribution_drift pattern).
#
# Scale posture: state is ONE timestamp; no watermark (a global MAX
# never drops anything); production swaps the memory sink for a
# foreachBatch overwrite of the one-row card (trivially idempotent under
# replay).
# ---------------------------------------------------------------------------


_EVENTS_FEED = FRESHNESS_FEEDS[0]  # ("events", "ts", anchor, sla)


@register(
    "dq_stream_freshness",
    # the batch audit's events branch verbatim — stream == batch
    oracle=feed_sql(*_EVENTS_FEED),
    tags=("streaming", "dq", "agg"),
    side_effects=True,
)
def dq_stream_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The freshness pager live: ingest the events fixture with
    availableNow, hold MAX(ts) as one-row complete-mode state, derive
    lag/SLA-flag through the shared batch tail."""
    tbl, col, anchor, sla = _EVENTS_FEED
    mx = _run_to_memory(
        stream_events(spark, sf_dir).agg(
            F.max(F.col(col).cast("timestamp")).alias("max_ts_raw")
        ),
        "complete",
    )
    return finish_freshness(mx, tbl, anchor, sla)


# ---------------------------------------------------------------------------
# Per-column completeness profile (round 10) — the one-pass DQ card
# every ingest lands on first: for EVERY column of a table, how many
# rows, nulls, blank strings, and exact distinct values.  This is the
# column-wise completeness sweep that precedes the targeted checks the
# dq family already has (dq_constraint_violations pins specific rules,
# dq_pk_uniqueness one key, prof_documents_columns types/widths); here
# the whole table is profiled uniformly with no per-column configuration.
#
# No analog in the reference (SURVEY §2.1); data-quality extension
# surface.
#
# Determinism: BIGINT counts only; values are profiled through their
# canonical string cast so one schema-independent code path covers every
# column type identically in both engines.
#
# Scale posture: ONE table scan — columns unpivot map-side into
# (col_name, value) pairs (a generate, no shuffle), then a single
# groupBy(col_name) with a distinct-aggregate whose shuffle key is
# (col_name, value): per-column cardinality-sized, spread over the value
# domain, never a single-task column.  At 100 TB each column's distinct
# count shuffles its vocabulary, not its row count.
# ---------------------------------------------------------------------------


_DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def _one_col_sql(c: str) -> str:
    return f"""
        SELECT '{c}' AS col_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COALESCE(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END),
                             0) AS BIGINT) AS n_null,
               CAST(COALESCE(SUM(CASE WHEN {c} IS NOT NULL
                                      AND TRIM(CAST({c} AS VARCHAR)) = ''
                                 THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_blank,
               CAST(COUNT(DISTINCT CAST({c} AS VARCHAR)) AS BIGINT)
                   AS n_distinct
        FROM documents"""


_NULLS_SQL = "\nUNION ALL\n".join(_one_col_sql(c) for c in _DOC_COLS)


@register(
    "dq_null_profile",
    oracle=_NULLS_SQL,
    tags=("dq", "profile"),
)
def dq_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(col_name, n_rows, n_null, n_blank, n_distinct) for every column
    of documents — the uniform one-scan completeness card (the oracle
    spells it as one UNION ALL branch per column; the Spark plan
    unpivots map-side and profiles all columns in a single pass; the
    generic core, usable on any table, is
    functions.diagnostics.null_profile)."""
    return null_profile(table(spark, sf_dir, "documents"), list(_DOC_COLS))


# ---------------------------------------------------------------------------
# Header/detail monetary reconciliation (round 12) — the bread-and-
# butter ETL validation the dq family lacked: does the order header's
# total equal the sum of its lines' extended amounts?  Per order status:
# how many orders, how many have NO lines at all (orphan headers — the
# referential gap dq_ri counts globally, here broken out by status), how
# many reconcile to the cent, and the signed/absolute cent-delta
# aggregates that size the discrepancy.
#
# Exactness: each LINE's amount is rounded to cents first
# (ROUND(ext * (1-disc) * (1+tax) * 100) — one deterministic fp
# expression per row, identical trees both engines), then summed as
# BIGINT — so the per-order delta is exact integer cents, never an
# fp-accumulation artifact.  On this fixture headers and lines are
# independently generated, so every joined order mismatches (the
# realistic broken-feed picture) and 257 headers are orphans at sf0.01;
# the planted-fixture test builds a consistent book to keep the
# n_matched branch live.
#
# No analog in the reference (SURVEY §2.1); dq extension surface.
#
# Scale posture: one lineitem scan -> per-order BIGINT sum (map-side
# combinable on l_orderkey), one orders scan, one equi-join on the order
# key (co-partitioned after the aggregate), |status|-keyed rollup.
# ---------------------------------------------------------------------------


_LINE_CENTS_SQL = (
    "CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)"
    " AS BIGINT)"
)

_RECON_ORACLE_SQL = f"""
    WITH line_sums AS (
        SELECT l_orderkey, SUM({_LINE_CENTS_SQL}) AS line_cents
        FROM lineitem GROUP BY l_orderkey
    ),
    joined AS (
        SELECT o.o_orderstatus,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS header_cents,
               ls.line_cents
        FROM orders o LEFT JOIN line_sums ls
          ON o.o_orderkey = ls.l_orderkey
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (line_cents IS NULL) AS BIGINT)
               AS n_orphan_headers,
           CAST(COUNT(*) FILTER (line_cents = header_cents) AS BIGINT)
               AS n_matched,
           CAST(COALESCE(SUM(header_cents - line_cents)
                    FILTER (line_cents IS NOT NULL), 0) AS BIGINT)
               AS sum_delta_cents,
           CAST(COALESCE(MAX(ABS(header_cents - line_cents))
                    FILTER (line_cents IS NOT NULL), 0) AS BIGINT)
               AS max_abs_delta_cents
    FROM joined GROUP BY o_orderstatus
"""


@register(
    "dq_order_reconciliation",
    oracle=_RECON_ORACLE_SQL,
    tags=("dq", "join", "agg"),
)
def dq_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderstatus, n_orders, n_orphan_headers, n_matched,
    sum_delta_cents, max_abs_delta_cents): header-vs-lines monetary
    reconciliation in exact integer cents, orphan headers broken out
    per status."""
    line_cents = F.round(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 100
    ).cast("long")
    line_sums = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", line_cents.alias("lc"))
        .groupBy("l_orderkey")
        .agg(F.sum("lc").alias("line_cents"))
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("header_cents"),
    )
    joined = orders.join(
        line_sums, orders.o_orderkey == line_sums.l_orderkey, "left"
    )
    delta = F.col("header_cents") - F.col("line_cents")
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("line_cents").isNull(), 1))
        .cast("long")
        .alias("n_orphan_headers"),
        F.count(F.when(F.col("line_cents") == F.col("header_cents"), 1))
        .cast("long")
        .alias("n_matched"),
        F.coalesce(F.sum(delta), F.lit(0)).cast("long").alias("sum_delta_cents"),
        F.coalesce(F.max(F.abs(delta)), F.lit(0))
        .cast("long")
        .alias("max_abs_delta_cents"),
    )


# ---------------------------------------------------------------------------
# Schema-contract conformance gate (round 11) — the declared-schema
# check every ingest boundary runs before anything else: each source
# table's columns and logical kinds, compared against the pipeline's
# DECLARED contract.  A renamed column, a widened int, a float that
# became a string — the drift classes that silently poison downstream
# casts — each flips a row red here before any query consumes the table.
#
# No analog in the reference (SURVEY §2.1); dq extension surface next to
# dq_null_profile (value-level completeness) — this is the METADATA
# level of the same gate.
#
# Oracle contract (declared-expectation form, like the dq rule
# constants): the DuckDB twin IS the contract — a constant VALUES table
# of (table, column, kind) with ok=1 — while the Spark side reports the
# ACTUAL kinds of the catalog's read surface (catalog.table, i.e. the
# normalized schema the engine's queries really see, events-ts
# normalization included) and compares.  Spark drifting from the
# contract breaks the hash; both drifting together is a deliberate
# contract change, edited here.
#
# Scale posture: pure metadata — one parquet footer read per table,
# driver-side; zero data motion at any corpus size (the schema of a
# 100 TB table is as small as the schema of a 100 MB one).
# ---------------------------------------------------------------------------


#: the declared contract: (table, column, logical kind) — kinds are the
#: engine-neutral vocabulary _kind() maps Spark types onto
CONTRACT: tuple[tuple[str, str, str], ...] = (
    ("region", "r_regionkey", "int32"),
    ("region", "r_name", "string"),
    ("nation", "n_nationkey", "int32"),
    ("nation", "n_name", "string"),
    ("nation", "n_regionkey", "int32"),
    ("customer", "c_custkey", "int64"),
    ("customer", "c_name", "string"),
    ("customer", "c_nationkey", "int32"),
    ("customer", "c_acctbal", "float64"),
    ("customer", "c_mktsegment", "string"),
    ("supplier", "s_suppkey", "int64"),
    ("supplier", "s_name", "string"),
    ("supplier", "s_nationkey", "int32"),
    ("supplier", "s_acctbal", "float64"),
    ("part", "p_partkey", "int64"),
    ("part", "p_name", "string"),
    ("part", "p_brand", "string"),
    ("part", "p_type", "string"),
    ("part", "p_size", "int32"),
    ("part", "p_retailprice", "float64"),
    ("orders", "o_orderkey", "int64"),
    ("orders", "o_custkey", "int64"),
    ("orders", "o_orderstatus", "string"),
    ("orders", "o_totalprice", "float64"),
    ("orders", "o_orderdate", "timestamp"),
    ("orders", "o_orderpriority", "string"),
    ("lineitem", "l_orderkey", "int64"),
    ("lineitem", "l_partkey", "int64"),
    ("lineitem", "l_suppkey", "int64"),
    ("lineitem", "l_linenumber", "int32"),
    ("lineitem", "l_quantity", "float64"),
    ("lineitem", "l_extendedprice", "float64"),
    ("lineitem", "l_discount", "float64"),
    ("lineitem", "l_tax", "float64"),
    ("lineitem", "l_returnflag", "string"),
    ("lineitem", "l_linestatus", "string"),
    ("lineitem", "l_shipdate", "timestamp"),
    ("events", "event_id", "int64"),
    ("events", "ts", "timestamp"),
    ("events", "user_id", "int64"),
    ("events", "event_type", "string"),
    ("events", "value", "float64"),
    ("events", "props", "string"),
    ("documents", "doc_id", "int64"),
    ("documents", "text", "string"),
    ("documents", "lang", "string"),
    ("documents", "source", "string"),
    ("documents", "n_chars", "int64"),
    ("embeddings", "vec_id", "int64"),
    ("embeddings", "embedding", "array<float32>"),
    ("embeddings", "label", "int32"),
)

_CONTRACT_VALUES = ",\n            ".join(
    f"('{t}', '{c}', '{k}')" for t, c, k in CONTRACT
)

_SCHEMA_SQL = f"""
    SELECT table_name, col_name, expected_kind,
           expected_kind AS actual_kind,
           CAST(1 AS INT) AS ok
    FROM (VALUES
            {_CONTRACT_VALUES}
         ) AS contract(table_name, col_name, expected_kind)
"""


def _kind(dt: T.DataType) -> str:
    """Engine-neutral logical kind of a Spark type (nested arrays one
    level deep — the contract's vocabulary)."""
    mapping = {
        T.LongType: "int64",
        T.IntegerType: "int32",
        T.ShortType: "int16",
        T.ByteType: "int8",
        T.DoubleType: "float64",
        T.FloatType: "float32",
        T.StringType: "string",
        T.BooleanType: "bool",
        T.DateType: "date",
        T.TimestampType: "timestamp",
        T.TimestampNTZType: "timestamp",
        T.BinaryType: "binary",
    }
    if isinstance(dt, T.ArrayType):
        return f"array<{_kind(dt.elementType)}>"
    for cls, name in mapping.items():
        if isinstance(dt, cls):
            return name
    return dt.simpleString()


@register(
    "dq_schema_contract",
    oracle=_SCHEMA_SQL,
    tags=("dq", "storage"),
    side_effects=True,
)
def dq_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(table_name, col_name, expected_kind, actual_kind, ok) for every
    contract column plus any UNDECLARED column found (expected_kind
    'missing', ok=0): the actual kinds come from the catalog's
    normalized read surface — the schema the engine's queries really
    consume."""
    expected = {(t, c): k for t, c, k in CONTRACT}
    rows = []
    for t in TABLES:
        actual = {f.name: _kind(f.dataType) for f in table(spark, sf_dir, t).schema.fields}
        for (ct, cc), k in expected.items():
            if ct != t:
                continue
            act = actual.pop(cc, "missing")
            rows.append((t, cc, k, act, int(act == k)))
        for cc, act in actual.items():  # undeclared leftovers
            rows.append((t, cc, "missing", act, 0))
    return spark.createDataFrame(
        rows,
        "table_name string, col_name string, expected_kind string, "
        "actual_kind string, ok int",
    )


# ---------------------------------------------------------------------------
# Sequence-completeness audit (round 10) — the ingest-integrity check
# the dq family still lacked: for each id-bearing feed, did every row of
# the upstream sequence actually land, and did any land twice?  One card
# row per feed: row count, distinct ids, observed id range, the range's
# span, and the two defect counters (missing = span - distinct ids,
# duplicated = rows - distinct ids).  This is the first question asked
# when a backfill or a replayed ingest is suspected of dropping or
# double-delivering data.
#
# On this synthetic fixture both feeds are dense and duplicate-free, so
# both cards read all-clear (0 missing / 0 dupes) — the correct answer
# for healthy data; the defect counters themselves are exercised by a
# planted-gap/planted-replay corpus in tests/test_round10_ops.py, the
# fires-when-it-should half of the contract.
#
# No analog in the reference (SURVEY §2.1); dq extension surface.
#
# Determinism: counts, distinct counts, min/max — all exact integers.
#
# Scale posture: one pass per feed — COUNT/MIN/MAX are map-side
# partials, COUNT(DISTINCT id) is one hash-agg shuffle keyed on the id
# (Spark expands it to a two-stage partial distinct); output is
# feeds-sized.  At 100 TB over a date-partitioned lake the same audit
# runs per partition and the cards roll up.
# ---------------------------------------------------------------------------


# (feed, table, id column)
SEQ_FEEDS = (
    ("events", "events", "event_id"),
    ("orders", "orders", "o_orderkey"),
)


def _feed_sql(feed: str, tbl: str, col: str) -> str:
    return f"""
    SELECT '{feed}' AS feed,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_ids,
           CAST(MIN({col}) AS BIGINT) AS min_id,
           CAST(MAX({col}) AS BIGINT) AS max_id,
           CAST(MAX({col}) - MIN({col}) + 1 AS BIGINT) AS span,
           CAST(MAX({col}) - MIN({col}) + 1
                - COUNT(DISTINCT {col}) AS BIGINT) AS n_missing,
           CAST(COUNT(*) - COUNT(DISTINCT {col}) AS BIGINT) AS n_dupes
    FROM {tbl}
    """


_SEQ_SQL = "\nUNION ALL\n".join(
    _feed_sql(feed, tbl, col) for feed, tbl, col in SEQ_FEEDS
)


@register(
    "dq_id_completeness",
    oracle=_SEQ_SQL,
    tags=("dq", "agg"),
)
def dq_id_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per id-bearing feed: rows, distinct ids, observed id range and
    span, missing-id count (span - distinct) and duplicate-row count
    (rows - distinct) — the replay/backfill integrity card."""
    parts = []
    for feed, tbl, col in SEQ_FEEDS:
        t = table(spark, sf_dir, tbl).select(F.col(col).alias("id"))
        agg = t.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("id").alias("n_ids"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        span = F.col("max_id") - F.col("min_id") + 1
        parts.append(
            agg.select(
                F.lit(feed).alias("feed"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("n_ids").cast("long").alias("n_ids"),
                F.col("min_id").cast("long").alias("min_id"),
                F.col("max_id").cast("long").alias("max_id"),
                span.cast("long").alias("span"),
                (span - F.col("n_ids")).cast("long").alias("n_missing"),
                (F.col("n_rows") - F.col("n_ids"))
                .cast("long")
                .alias("n_dupes"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
