"""Generic relational operators — SURVEY.md §2 ops expressed on the star schema.

Each op from the reference (`/root/reference/bigbugdata.py`,
`/root/reference/scripts/*.py`) is re-expressed as a declarative DataFrame
plan over the driver's TPC-H-ish tables, registered with a DuckDB oracle
twin. The kraken-domain fidelity versions of the same ops live in
operators/kraken.py; these generic versions are what the correctness gate
exercises.

Scale notes (100 TB posture) are given per-op in docstrings: which side is
broadcast, where the shuffle lands, and why the plan survives 1000x data.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigbugdata_spark.caching import pin
from bigbugdata_spark.catalog import table
from bigbugdata_spark.registry import register


# ---------------------------------------------------------------------------
# driver-side helpers with reference semantics (tiny-list ops, never data-size)
# ---------------------------------------------------------------------------


def ordered_sample_ids(sample_ids: list[str]) -> list[str]:
    """Numeric-aware column ordering (ref bigbugdata.py:45-58, op 9).

    All ids parse as int -> numeric sort; any failure -> lexicographic.
    Runs driver-side on the tiny distinct-id list (it orders output
    *columns*, not rows — never data-sized).
    """
    try:
        return sorted(sample_ids, key=lambda x: int(x))
    except ValueError:
        return sorted(sample_ids)


def negative_control_groups(
    sample_ids: list[str],
    group_patterns: list[tuple[str, str]] | None,
) -> dict[str, set[str]]:
    """Regex control-group construction (ref bigbugdata.py:61-101, op 12).

    Reference semantics preserved exactly: each (control_pat, group_pat)
    pair must match exactly one control sample (else ValueError) and at
    least one group member (else ValueError); first-matching-group wins at
    lookup time (see control_lookup).
    """
    groups: dict[str, set[str]] = {}
    if group_patterns is None:
        return groups
    for control_pat, group_pat in group_patterns:
        controls = [s for s in sample_ids if re.search(control_pat, s)]
        if len(controls) != 1:
            raise ValueError(
                f"Expected one sample matching '{control_pat}', found: {len(controls)}"
            )
        members = [s for s in sample_ids if re.search(group_pat, s)]
        if not members:
            raise ValueError(
                f"No samples found matching the group pattern '{group_pat}'"
            )
        groups[controls[0]] = set(members)
    return groups


def control_lookup(
    sample_ids: list[str], groups: dict[str, set[str]]
) -> list[tuple[str, str]]:
    """(sample_id, control_id) pairs; first-matching-group wins, '' if none
    (ref bigbugdata.py:147-152)."""
    out = []
    for s in sample_ids:
        control = ""
        for ctrl, members in groups.items():
            if s in members:
                control = ctrl
                break
        out.append((s, control))
    return out


# ---------------------------------------------------------------------------
# shared sub-plans
# ---------------------------------------------------------------------------


def _fact_reads(
    spark: SparkSession, sf_dir: str, part_keyed: bool = False
) -> DataFrame:
    """Long fact table analog: reads per (part, supplier) = SUM(l_quantity).

    l_quantity is integer-valued, so fp64 sums are exact -> oracle-stable.
    Mirrors op 7's (taxID, sample) accumulation (ref bigbugdata.py:286-302).

    `part_keyed=True` (r17, guide §2.4) hash-partitions the projected
    lineitem rows by l_partkey BEFORE the aggregate: that partitioning
    satisfies the (l_partkey, l_suppkey) clustering (subset key) AND any
    downstream window partitioned by l_partkey [, ...], so a consumer
    that follows with such a window runs shuffle-free after the single
    up-front exchange (2 Exchanges -> 1). Numerically identical: sums
    of integer-valued doubles are exact under any grouping order.
    Standalone consumers keep the default — the plain two-phase
    aggregate ships partial sums, not raw rows, through its exchange."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    if part_keyed:
        li = li.repartition("l_partkey")
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").cast("double").alias("reads")
    )


_FACT_READS_SQL = """
    SELECT l_partkey, l_suppkey, CAST(SUM(l_quantity) AS DOUBLE) AS reads
    FROM lineitem GROUP BY l_partkey, l_suppkey
"""


def _supplier_totals(
    spark: SparkSession, sf_dir: str, fact: DataFrame | None = None
) -> DataFrame:
    """Per-supplier total reads (op 3 analog of per-sample n_reads).

    With `fact` (a [pinned] `_fact_reads` frame), the totals derive by
    RE-AGGREGATING the fact rows instead of re-scanning lineitem — the
    r17 measurement: Catalyst/AQE exchange reuse does NOT fire across the
    fact-vs-totals branches (same class of miss as the pinned tpch
    q11/q15 shapes, tests/test_plans.py::_single_lineitem_scan), so
    sharing must go through the cache. Numerically identical to the
    direct GROUP BY l_suppkey: reads are integer-valued, so the partial
    per-(part, supplier) fp64 sums and their re-sum are both exact."""
    if fact is not None:
        return fact.groupBy("l_suppkey").agg(F.sum("reads").alias("n_reads"))
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").cast("double").alias("n_reads"))
    )


_SUPPLIER_TOTALS_SQL = """
    SELECT l_suppkey, CAST(SUM(l_quantity) AS DOUBLE) AS n_reads
    FROM lineitem GROUP BY l_suppkey
"""


def _rpm(spark: SparkSession, sf_dir: str, share_fact: bool = False) -> DataFrame:
    """RPM normalization (op 11, ref bigbugdata.py:104-127): reads per
    million of the supplier's total. Totals side is tiny -> broadcast; the
    fact side never shuffles for this join.

    `share_fact=True` pins the fact aggregate and derives the totals from
    the cache (one lineitem scan total). Measured r17: a WIN when rpm is
    the whole query (op11: 0.52 -> 0.43 s min at sf0.1) but a LOSS when a
    window pass follows (op13 with the pin: 0.65 -> 0.86 s — the totals
    broadcast then waits on cache population instead of building from a
    parallel scan branch), so the flag defaults to the two-parallel-scan
    shape and op11 opts in."""
    if share_fact:
        fact = pin(_fact_reads(spark, sf_dir))
        totals = _supplier_totals(spark, sf_dir, fact=fact)
    else:
        # the fact pre-partitioned by l_partkey so a consumer window over
        # (l_partkey, ...) reuses the exchange (op13: 2 data Exchanges ->
        # 1, 0.74 -> 0.54 s min at sf0.1, symdiff 0)
        fact = _fact_reads(spark, sf_dir, part_keyed=True)
        totals = _supplier_totals(spark, sf_dir)
    return fact.join(F.broadcast(totals), "l_suppkey").withColumn(
        "rpm", F.col("reads") / (F.col("n_reads") / F.lit(1_000_000.0))
    )


_RPM_SQL = f"""
    WITH fact AS ({_FACT_READS_SQL}), totals AS ({_SUPPLIER_TOTALS_SQL})
    SELECT fact.l_partkey, fact.l_suppkey, fact.reads, totals.n_reads,
           fact.reads / (totals.n_reads / 1000000.0) AS rpm
    FROM fact JOIN totals ON fact.l_suppkey = totals.l_suppkey
"""


# ---------------------------------------------------------------------------
# op 1-2: scan + projection
# ---------------------------------------------------------------------------


@register(
    "op01_scan_filter_project",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1996-01-01'
    """,
    tags=("relational", "scan"),
)
def op01_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan with filter+projection pushdown (op 1, ref bigbugdata.py:248-254).

    The predicate and the 4-column projection both reach the parquet scan
    (PushedFilters / ReadSchema in explain) — at 100 TB this is row-group
    pruning plus column pruning, the difference between reading 4 columns
    and reading 11.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp")).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@register(
    "op02_id_from_name",
    oracle="""
        SELECT c_custkey, regexp_extract(c_name, '^(.*)#', 1) AS sample_id
        FROM customer
    """,
    tags=("relational", "project"),
)
def op02_id_from_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filename->sample_id projection pattern (op 2, ref bigbugdata.py:35-42):
    greedy prefix before the last separator, as a vectorized regexp_extract
    (the kraken scan applies the same expression to input_file_name())."""
    return table(spark, sf_dir, "customer").select(
        "c_custkey", F.regexp_extract("c_name", r"^(.*)#", 1).alias("sample_id")
    )


# ---------------------------------------------------------------------------
# op 3-7: filters, scalar projection, aggregation
# ---------------------------------------------------------------------------


@register(
    "op03_conditional_totals",
    oracle="""
        SELECT l_orderkey, CAST(SUM(l_quantity) AS DOUBLE) AS n_reads
        FROM lineitem WHERE l_linenumber IN (1, 2)
        GROUP BY l_orderkey
    """,
    tags=("relational", "agg"),
)
def op03_conditional_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional per-key totals (op 3, ref bigbugdata.py:258-261): the
    'taxID in {0,1} -> per-sample total' pattern. Map-side partial agg then
    one shuffle on the group key."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_linenumber").isin(1, 2))
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("double").alias("n_reads"))
    )


@register(
    "op04_rank_filter",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        FROM lineitem WHERE l_returnflag = 'R'
    """,
    tags=("relational", "filter"),
)
def op04_rank_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality predicate filter (op 4, ref bigbugdata.py:264-265) — pushed
    into the parquet scan."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    )


@register(
    "op05_scalar_eval",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               (l_extendedprice / l_quantity) * l_discount AS e_val
        FROM lineitem
    """,
    tags=("relational", "project"),
)
def op05_scalar_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived scalar column (op 5, ref bigbugdata.py:271-275): the
    e_val = (kmers/reads)*cov shape. Pure row-local fp64 arithmetic inside
    whole-stage codegen; bit-identical across engines."""
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        ((F.col("l_extendedprice") / F.col("l_quantity")) * F.col("l_discount")).alias(
            "e_val"
        ),
    )


@register(
    "op06_trim_clean",
    oracle="SELECT c_custkey, trim(c_name) AS tax_name FROM customer",
    tags=("relational", "project"),
)
def op06_trim_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String cleanup (op 6, ref bigbugdata.py:295-297: taxName.strip())."""
    return table(spark, sf_dir, "customer").select(
        "c_custkey", F.trim(F.col("c_name")).alias("tax_name")
    )


@register(
    "op07_hash_agg",
    oracle=_FACT_READS_SQL,
    tags=("relational", "agg"),
)
def op07_hash_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregation with duplicate accumulation (op 7, ref
    bigbugdata.py:286-302): duplicate (key, sample) rows accumulate via SUM,
    exactly like the reference's `+=`."""
    return _fact_reads(spark, sf_dir)


# ---------------------------------------------------------------------------
# op 8-10: pivot, ordering
# ---------------------------------------------------------------------------


@register(
    "op08_pivot_dense",
    oracle="""
        SELECT l_returnflag,
               CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 0) AS DOUBLE) AS status_o,
               CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 0) AS DOUBLE) AS status_f,
               CAST(SUM(l_quantity) AS DOUBLE) AS total_reads
        FROM lineitem GROUP BY l_returnflag
    """,
    tags=("relational", "pivot"),
)
def op08_pivot_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with dense zero-fill + row total (op 8, ref
    bigbugdata.py:286-302): taxon x sample matrix with missing cells = 0 and
    a 'Total # of Reads' column. Long form stays the engine's truth; the
    pivot is a sink-side presentation (explicit pivot values -> no extra
    distinct-values job)."""
    li = table(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
        .na.fill(0)
        .withColumnRenamed("O", "status_o")
        .withColumnRenamed("F", "status_f")
    )
    return wide.select(
        "l_returnflag",
        F.col("status_o").cast("double").alias("status_o"),
        F.col("status_f").cast("double").alias("status_f"),
        (F.col("status_o") + F.col("status_f")).cast("double").alias("total_reads"),
    )


@register(
    "op09_numeric_aware_sort",
    oracle="""
        SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS sample_id FROM orders
    """,
    tags=("relational", "sort"),
)
def op09_numeric_aware_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-aware ordering of string ids (op 9, ref bigbugdata.py:45-58).

    The reference orders *columns* with this rule; ordered_sample_ids()
    above is the faithful driver-side helper used by the kraken sink. As a
    distributed query: order string ids by their numeric value.
    """
    return (
        table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").cast("string").alias("sample_id"))
        .distinct()
        .orderBy(F.col("sample_id").cast("long"))
    )


@register(
    "op10_ordered_output",
    oracle="""
        SELECT l_partkey, CAST(SUM(l_quantity) AS DOUBLE) AS total_reads
        FROM lineitem GROUP BY l_partkey ORDER BY l_partkey
    """,
    tags=("relational", "sort"),
)
def op10_ordered_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-ascending output ordering (op 10, ref bigbugdata.py:304-310).
    A range-partitioned sort after the agg; at scale this is the only
    total-order stage and it's sink-adjacent."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum("l_quantity").cast("double").alias("total_reads"))
        .orderBy("l_partkey")
    )


# ---------------------------------------------------------------------------
# op 11-13: normalization chain (RPM -> control mapping -> rRPM)
# ---------------------------------------------------------------------------


@register("op11_rpm_normalize", oracle=_RPM_SQL, tags=("relational", "join"))
def op11_rpm_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RPM normalization (op 11, ref bigbugdata.py:104-127): fact reads
    joined to per-key totals (broadcast — the totals side is one row per
    supplier/sample, always tiny relative to the fact table)."""
    return _rpm(spark, sf_dir, share_fact=True).select(
        "l_partkey", "l_suppkey", "reads", "n_reads", "rpm"
    )


@register(
    "op12_regex_control_groups",
    oracle="""
        SELECT n_name AS sample_id,
               CASE WHEN regexp_matches(n_name, 'NATION_1[0-9]?$') THEN 'NATION_1'
                    WHEN regexp_matches(n_name, 'NATION_2[0-9]?$') THEN 'NATION_2'
                    ELSE '' END AS control_id
        FROM nation
    """,
    tags=("relational", "join"),
)
def op12_regex_control_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex control-group mapping (op 12, ref bigbugdata.py:61-101).

    Faithful path: collect the tiny distinct-id list (25 nations here;
    10^2-10^3 samples in the domain — never data-sized), run the
    reference-semantics python (exactly-one-control ValueError and all),
    and ship the result back as a broadcastable mapping DataFrame.
    """
    ids = [r[0] for r in table(spark, sf_dir, "nation").select("n_name").collect()]
    groups = negative_control_groups(
        ids,
        [("^NATION_1$", r"NATION_1[0-9]?$"), ("^NATION_2$", r"NATION_2[0-9]?$")],
    )
    pairs = control_lookup(ids, groups)
    return spark.createDataFrame(pairs, "sample_id string, control_id string")


@register(
    "op13_floor_ratio_rrpm",
    oracle=f"""
        WITH rpm AS ({_RPM_SQL}),
        ctrl AS (
            SELECT s_nationkey, MIN(s_suppkey) AS control_suppkey
            FROM supplier GROUP BY s_nationkey
        ),
        m AS (
            SELECT s.s_suppkey, c.control_suppkey
            FROM supplier s JOIN ctrl c ON s.s_nationkey = c.s_nationkey
        )
        SELECT r.l_partkey, r.l_suppkey,
               CAST(FLOOR(r.rpm) AS BIGINT) AS rpm_floor,
               CAST(CAST(FLOOR(r.rpm) AS BIGINT) AS DOUBLE)
                 / GREATEST(CAST(FLOOR(COALESCE(cr.rpm, 0)) AS BIGINT), 1) AS rrpm
        FROM rpm r
        JOIN m ON r.l_suppkey = m.s_suppkey
        LEFT JOIN rpm cr
          ON cr.l_suppkey = m.control_suppkey AND cr.l_partkey = r.l_partkey
    """,
    tags=("relational", "join"),
)
def op13_floor_ratio_rrpm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rRPM — the signature floor-truncated ratio (op 13, ref
    bigbugdata.py:130-163): rrpm = int(rpm) / max(int(control_rpm), 1),
    both sides truncated, missing control measurement -> 0 -> guarded to 1.
    Python int() truncates toward zero; rpm >= 0 so FLOOR is identical.

    Plan shape (restructured per VERDICT r1 fix #3): the naive form is an
    rpm-fact SELF-join on (control key, part), which makes Spark compute
    the whole scan->agg->join rpm subtree twice. Because each control here
    sits inside its own group partition (MIN(s_suppkey) per nation), the
    control's rpm is available IN-PARTITION: one window over
    (l_partkey, s_nationkey) replaces the self-join — rpm is computed
    once, and the query needs exactly one shuffle. The kraken pipeline
    (operators/kraken.py::taxon_window) uses the same in-partition lookup
    with a window over the taxon alone, so a control need not belong to
    its group there.

    The fact is pre-keyed: raw projected rows go through ONE l_partkey
    exchange and the window reuses it.  The two-phase form (map-side
    partial sums through the agg exchange + a second exchange for the
    window) lost by 39% at x10 (OPTIMIZATION_r18.md).
    """
    rpm = _rpm(spark, sf_dir)
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ctrl = sup.groupBy("s_nationkey").agg(F.min("s_suppkey").alias("control_suppkey"))
    mapping = sup.join(F.broadcast(ctrl), "s_nationkey").select(
        "s_suppkey", "s_nationkey", "control_suppkey"
    )
    j = rpm.join(F.broadcast(mapping), rpm.l_suppkey == mapping.s_suppkey)
    w = Window.partitionBy("l_partkey", "s_nationkey")
    ctrl_rpm = F.max(
        F.when(F.col("l_suppkey") == F.col("control_suppkey"), F.col("rpm"))
    ).over(w)
    return j.select(
        "l_partkey",
        "l_suppkey",
        F.floor("rpm").alias("rpm_floor"),
        (
            F.floor("rpm").cast("double")
            / F.greatest(
                F.floor(F.coalesce(ctrl_rpm, F.lit(0.0))), F.lit(1).cast("long")
            )
        ).alias("rrpm"),
    )


# ---------------------------------------------------------------------------
# op 14-15: the two window ops
# ---------------------------------------------------------------------------


@register(
    "op14_topk_with_gaps",
    oracle="""
        WITH rev AS (
            SELECT o_custkey, CAST(FLOOR(ROUND(SUM(o_totalprice), 2)) AS BIGINT) AS score
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT c.c_mktsegment, c.c_custkey, rev.score,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.c_mktsegment
                       ORDER BY rev.score DESC, c.c_custkey ASC
                   ) AS rank
            FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
        )
        SELECT c_mktsegment, rank, c_custkey, score
        FROM ranked
        WHERE rank <= 15
          AND c_custkey IN (
              SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
          )
    """,
    tags=("relational", "window", "topk"),
)
def op14_topk_with_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group with stable tie-break and rank gaps (op 14, ref
    bigbugdata.py:166-205): rank assigned over the *full* candidate list
    (ties broken ascending by key = the reference's stable sort), THEN
    filtered by presence — so rank sequences keep gaps, reproducing the
    reference's TODO-flagged behavior (ref :183-188).

    Scale: row_number over (group, score desc) is a single shuffle on the
    group key; the presence filter is a semi-join. k is tiny so a
    TakeOrderedAndProject-style partial top-k happens map-side under AQE.
    """
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    # ROUND(sum, 2) before FLOOR: o_totalprice is cent-valued, so rounding to
    # cents cancels order-dependent fp summation error before truncation —
    # without it a sum landing within 1 ulp of an integer boundary can floor
    # differently between Spark and the oracle (ADVICE r1).
    rev = orders.groupBy("o_custkey").agg(
        F.floor(F.round(F.sum("o_totalprice"), 2)).alias("score")
    )
    ranked = (
        rev.join(cust, rev.o_custkey == cust.c_custkey)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("c_mktsegment").orderBy(
                    F.desc("score"), F.asc("c_custkey")
                )
            ),
        )
        .filter(F.col("rank") <= 15)
    )
    presence = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return ranked.join(presence, "c_custkey", "left_semi").select(
        "c_mktsegment", "rank", "c_custkey", "score"
    )


@register(
    "op15_zscore_window",
    oracle="""
        WITH fact AS (
            SELECT l_partkey, l_suppkey, CAST(SUM(l_quantity) AS DOUBLE) AS reads
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        stats AS (
            SELECT l_partkey, l_suppkey, reads,
                   SUM(reads) OVER w AS s,
                   SUM(reads * reads) OVER w AS ss,
                   COUNT(*) OVER w AS n
            FROM fact
            WINDOW w AS (PARTITION BY l_partkey)
        )
        SELECT l_partkey, l_suppkey, reads,
               CASE WHEN (ss / n - (s / n) * (s / n)) <= 0 THEN NULL
                    ELSE (reads - s / n) / sqrt(ss / n - (s / n) * (s / n))
               END AS z_score
        FROM stats
    """,
    tags=("relational", "window"),
)
def op15_zscore_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sample population z-score (op 15, ref bigbugdata.py:322-331,
    scipy ddof=0). Computed from explicit SUM/SUM(x^2)/COUNT over the
    partition window — exact in fp64 for integer-valued reads, so the
    result is bit-identical across engines (stddev_pop's Welford update is
    order-dependent; this formulation is not). All-equal vectors yield
    variance exactly 0 -> NULL (the reference emits NaN; NULL is our
    deterministic stand-in, asserted in the kraken fidelity tests).
    """
    w = Window.partitionBy("l_partkey")
    # pre-keyed: one exchange established once — the window reuses the
    # aggregate's l_partkey partitioning (2 Exchanges -> 1; measured
    # 0.77 -> 0.44 s min at sf0.1, result symdiff 0). The two-phase
    # partial-sum agg lost by 43% at x10 (OPTIMIZATION_r18.md).
    fact = _fact_reads(spark, sf_dir, part_keyed=True)
    stats = (
        fact.withColumn("s", F.sum("reads").over(w))
        .withColumn("ss", F.sum(F.col("reads") * F.col("reads")).over(w))
        .withColumn("n", F.count(F.lit(1)).over(w))
    )
    var = F.col("ss") / F.col("n") - (F.col("s") / F.col("n")) * (
        F.col("s") / F.col("n")
    )
    z = F.when(var <= 0, F.lit(None).cast("double")).otherwise(
        (F.col("reads") - F.col("s") / F.col("n")) / F.sqrt(var)
    )
    return stats.select("l_partkey", "l_suppkey", "reads", z.alias("z_score"))


# ---------------------------------------------------------------------------
# op 18-22: semi-joins, unions, merges
# ---------------------------------------------------------------------------


@register(
    "op18_semi_join",
    oracle="""
        SELECT l_orderkey, l_partkey, l_quantity
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 5)
    """,
    tags=("relational", "join"),
)
def op18_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash semi-join (op 18, ref scripts/filter_rrpm_by_taxid.py:
    12-30): the taxID hash-set probe, as LEFT SEMI with the key side
    broadcast — no shuffle of the fact table at any scale where the key
    list fits in memory (it's a user-supplied filter list)."""
    keys = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 5)
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    return (
        table(spark, sf_dir, "lineitem")
        .join(F.broadcast(keys), "l_partkey", "left_semi")
        .select("l_orderkey", "l_partkey", "l_quantity")
    )


@register(
    "op19_union_semi",
    oracle="""
        SELECT src, o_orderkey, o_custkey, o_orderstatus
        FROM (
            SELECT 'f_file' AS src, o_orderkey, o_custkey, o_orderstatus
            FROM orders WHERE o_orderstatus = 'F'
            UNION ALL
            SELECT 'o_file' AS src, o_orderkey, o_custkey, o_orderstatus
            FROM orders WHERE o_orderstatus = 'O'
        )
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
    """,
    tags=("relational", "join", "union"),
)
def op19_union_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source scan + union + semi-join (op 19, ref
    scripts/filter_reports_by_taxid.py:21-41): the glob-scan-then-filter
    pipeline. In Spark a glob path is already an implicit union; the
    source tag mirrors the prepended sampleName column."""
    orders = table(spark, sf_dir, "orders")
    f_part = orders.filter(F.col("o_orderstatus") == "F").withColumn(
        "src", F.lit("f_file")
    )
    o_part = orders.filter(F.col("o_orderstatus") == "O").withColumn(
        "src", F.lit("o_file")
    )
    keys = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return (
        f_part.unionByName(o_part)
        .join(F.broadcast(keys), "o_custkey", "left_semi")
        .select("src", "o_orderkey", "o_custkey", "o_orderstatus")
    )


@register(
    "op20_lastwins_merge",
    oracle="""
        WITH dna AS (
            SELECT o_custkey, CAST(FLOOR(ROUND(SUM(o_totalprice), 2)) AS BIGINT) AS total_reads
            FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
        ),
        rna AS (
            SELECT o_custkey, CAST(FLOOR(ROUND(SUM(o_totalprice), 2)) AS BIGINT) AS total_reads
            FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
        )
        SELECT COALESCE(rna.o_custkey, dna.o_custkey) AS o_custkey,
               COALESCE(rna.total_reads, dna.total_reads) AS total_reads
        FROM dna FULL OUTER JOIN rna ON dna.o_custkey = rna.o_custkey
    """,
    tags=("relational", "dedup"),
)
def op20_lastwins_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-source last-wins merge (op 20, ref scripts/modify_reports.py:21-40:
    RNA totals override DNA on key collision). Union + priority row_number —
    one shuffle on the key; generalizes to N sources without N-way joins.
    """
    orders = table(spark, sf_dir, "orders")

    def totals(status: str, pri: int) -> DataFrame:
        return (
            orders.filter(F.col("o_orderstatus") == status)
            .groupBy("o_custkey")
            .agg(F.floor(F.round(F.sum("o_totalprice"), 2)).alias("total_reads"))
            .withColumn("pri", F.lit(pri))
        )

    merged = totals("F", 1).unionByName(totals("O", 2))
    w = Window.partitionBy("o_custkey").orderBy(F.desc("pri"))
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "total_reads")
    )


@register(
    "op21_filtered_sum_complement",
    oracle="""
        SELECT l_orderkey,
               CAST(SUM(l_quantity) AS BIGINT) AS total_reads,
               CAST(SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0 END) AS BIGINT)
                   AS classified,
               GREATEST(
                   CAST(SUM(l_quantity) AS BIGINT)
                   - CAST(SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0 END) AS BIGINT),
                   0) AS unclassified
        FROM lineitem GROUP BY l_orderkey
    """,
    tags=("relational", "agg"),
)
def op21_filtered_sum_complement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered sum + clamped complement (op 21, ref
    scripts/modify_reports.py:53-87: classified vs unclassified reads)."""
    li = table(spark, sf_dir, "lineitem")
    total = F.sum("l_quantity").cast("bigint")
    classified = F.sum(
        F.when(F.col("l_returnflag") == "N", F.col("l_quantity")).otherwise(F.lit(0.0))
    ).cast("bigint")
    return li.groupBy("l_orderkey").agg(
        total.alias("total_reads"),
        classified.alias("classified"),
        F.greatest(total - classified, F.lit(0).cast("bigint")).alias("unclassified"),
    )


@register(
    "op22_union_literals",
    oracle="""
        SELECT o_orderpriority AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(FLOOR(ROUND(SUM(o_totalprice), 2)) AS BIGINT) AS reads
        FROM orders GROUP BY o_orderpriority
        UNION ALL
        SELECT 'root' AS bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(FLOOR(ROUND(SUM(o_totalprice), 2)) AS BIGINT) AS reads
        FROM orders
        UNION ALL
        SELECT 'unclassified' AS bucket, CAST(0 AS BIGINT) AS n_orders,
               CAST(0 AS BIGINT) AS reads
    """,
    tags=("relational", "union"),
)
def op22_union_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row synthesis via union of literals (op 22, ref
    scripts/modify_reports.py:109-140: prepend synthetic unclassified/root
    rows to the aggregated report)."""
    orders = table(spark, sf_dir, "orders")
    per_bucket = orders.groupBy(F.col("o_orderpriority").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.floor(F.round(F.sum("o_totalprice"), 2)).alias("reads"),
    )
    root = orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.floor(F.round(F.sum("o_totalprice"), 2)).alias("reads"),
    ).select(F.lit("root").alias("bucket"), "n_orders", "reads")
    unclassified = spark.createDataFrame(
        [("unclassified", 0, 0)], "bucket string, n_orders bigint, reads bigint"
    )
    return per_bucket.unionByName(root).unionByName(unclassified)
