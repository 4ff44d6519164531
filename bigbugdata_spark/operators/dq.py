"""Data-quality audit operators (round 6) — the ingest-gate checks a
production lakehouse runs before letting a batch into the serving
tables: referential integrity across the star schema and per-rule
constraint violation counts. No analog in the reference (its only
validation is crashing on a malformed row, SURVEY §2.1); this is
pipeline-governance extension surface alongside corpus.py.

Both queries return COUNTS, not violating rows: the audit result is a
bounded dataset-card-sized table whatever the corpus size. On this
driver-generated corpus every n_orphans / n_violations is 0 (the data
is clean — verified independently by the DuckDB twins); the hash
compare still pins the whole counting machinery through the non-trivial
n_rows / n_distinct_fk / n_checked columns, and
tests/test_extensions.py proves every rule actually FIRES on a
deliberately corrupted fixture.

Scale posture: referential integrity scans each CHILD TABLE ONCE —
its FK columns stack into (fk, key) pairs whose single map-side-
combinable aggregate produces every FK's distinct-key frame, then one
labeled anti-join per child against the union of its parents' key
sets (dimension parents broadcast; lineitem->orders shuffles on the
key the child side already aggregated by). Constraint checks are ONE
conditional aggregate per table — a single scan computing every rule
with map-side partials, the cheapest possible audit shape at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.caching import pin
from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions.fragments import (
    JACCARD_PAIRS_SQL as _JACCARD_PAIRS_SQL,
    split_col as _split_col,
    sql_split_case as _sql_split_case,
)
from bigbugdata_spark.operators.dedup import dedup_minhash_lsh, dedup_ngram_jaccard
from bigbugdata_spark.registry import register

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
    WITH pairs AS ({_JACCARD_PAIRS_SQL}),
    splits AS (
        SELECT doc_id, {_sql_split_case("doc_id")} AS split
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
        "doc_id", _split_col(F.col("doc_id")).alias("split")
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
