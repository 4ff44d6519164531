"""Lake storage accounting and advisors under the hash gate: partitioned
lake accounting, small-file compaction, column-encoding advice,
versioned-lake retention (GC) plans and partition-granularity advice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions.diagnostics import encoding_profile
from bigbugdata_spark.functions.fragments import CENTS_SQL, cents_col
from bigbugdata_spark.registry import register


# ---------------------------------------------------------------------------
# Partitioned-lake accounting under the driver's hash gate (round 8,
# VERDICT r7 #5) — the partitioned/clustered layout (sources/partitioned.py)
# was proven only by layout tests; this registers a query that WRITES the
# date-partitioned, row-group-clustered events lake and reads the
# accounting back THROUGH the layout, with a DuckDB twin over the original
# events table. A lost partition, a day routed to the wrong directory, a
# partition column corrupted by the salt repartition — any of it shifts
# the per-day counts and fails the value-hash compare. The file-count
# budget itself is not SQL-expressible, so it is enforced IN the query
# (a violated budget raises, which the driver records as an errored row)
# and measured precisely by tests/test_storage.py.
#
# No analog in the reference (SURVEY §2.1 — its output is three CSVs);
# storage extension surface.
# ---------------------------------------------------------------------------


_FILES_PER_PARTITION = 2


@register(
    "evt_partitioned_lake_accounting",
    oracle=f"""
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM({CENTS_SQL}) AS BIGINT) AS total_cents
        FROM events GROUP BY day
    """,
    tags=("events", "storage", "agg"),
    side_effects=True,
)
def evt_partitioned_lake_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the events table as a date-partitioned, user-clustered
    parquet lake (file budget {budget}/partition, sources/partitioned.py)
    and report per-partition row/user/value accounting READ BACK through
    the layout — the dataset-card table a lake publishes per partition,
    and the hash gate for the storage path: the DuckDB twin aggregates
    the ORIGINAL table, so the write+read round trip must preserve every
    row into the correct day partition.

    The non-SQL half of the layout contract — the file budget — is
    asserted in-query: any partition exceeding {budget} files raises,
    turning a layout regression into a red driver row.

    Scale: the write is partitioned.py's single (day, salt) shuffle;
    the read-back aggregate is partition-parallel with the day key
    taken from directory metadata (no ts re-parse); scratch tree is
    deleted after an eager checkpoint, as in corpus_version_diff."""
    import os
    import shutil
    import tempfile

    from bigbugdata_spark.sources.partitioned import (
        DAY_COL,
        write_partitioned,
    )

    base = tempfile.mkdtemp(prefix="bigbugdata-lake-")
    try:
        lake = f"{base}/events_lake"
        write_partitioned(
            table(spark, sf_dir, "events"),
            lake,
            files_per_partition=_FILES_PER_PARTITION,
            cluster_by=("user_id",),
        )
        for d in os.listdir(lake):
            if not d.startswith(f"{DAY_COL}="):
                continue
            n = sum(
                1 for f in os.listdir(os.path.join(lake, d))
                if f.endswith(".parquet")
            )
            if n > _FILES_PER_PARTITION:
                raise RuntimeError(
                    f"file budget violated: {d} holds {n} files "
                    f"(budget {_FILES_PER_PARTITION})"
                )
        out = (
            spark.read.parquet(lake)
            .groupBy(F.date_format(DAY_COL, "yyyy-MM-dd").alias("day"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum(cents_col()).alias("total_cents"),
            )
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(base, ignore_errors=True)


evt_partitioned_lake_accounting.__doc__ = (
    evt_partitioned_lake_accounting.__doc__.format(budget=_FILES_PER_PARTITION)
)


# ---------------------------------------------------------------------------
# Small-file compaction planning + execution under the hash gate
# (round 11) — the lakehouse maintenance job the storage family still
# lacked: a streaming ingest leaves each day partition as dozens of tiny
# files (one per micro-batch/task), and scan throughput dies on open
# overhead long before data volume matters.  This query builds exactly
# that pathology (a day-partitioned events lake written FRAG_FILES ways
# per day), plans compaction as row-count bin-packing (target =
# ceil(rows / ROWS_PER_FILE) files per day), EXECUTES the rewrite, and
# reads both sides back through Spark so the plan and the execution are
# hash-gated: per day the row count, the planned file count, the ACTUAL
# post-compaction file count (from a filesystem listing), and a
# row-preservation flag — a compactor that loses rows, skips a
# partition, or writes off-plan file counts goes hash-red or trips the
# in-query assertions.
#
# No analog in the reference (SURVEY §2.1); storage extension surface
# next to store_gc_plan / the z-order lake audits — an O(write)
# verification query, excluded from the bench headline set.
#
# Determinism: every output column derives from the events table's
# content (day row counts and integer arithmetic) or equals it by
# assertion (the executed layout).  The fragmented layout itself is
# deterministic too (event_id % FRAG_FILES bucketing), and asserted.
#
# Scale posture: the compactor is the real pattern — one hash
# repartition on the partition column co-locates each day in a single
# task (AQE may merge small days into one task, never split one), and
# the writer's maxRecordsPerFile option does the bin-packing natively.  At 100 TB the
# plan is manifest arithmetic per partition and only rewritten
# partitions move; a production compactor would also skip days already
# at target (planned here: days with files_before == target).
# ---------------------------------------------------------------------------


FRAG_FILES = 6  # fragmented ingest: files per day before compaction
ROWS_PER_FILE = 128  # compaction bin size (row-count proxy for bytes;
# sized so the sf0.01 fixture's ~300-360-row days pack into 3 files —
# the multi-file branch of the plan is exercised, not just merge-to-1)

_COMPACT_SQL = f"""
    WITH daily AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events GROUP BY day
    )
    SELECT day, n_rows,
           CAST((n_rows + {ROWS_PER_FILE} - 1) // {ROWS_PER_FILE} AS BIGINT)
               AS target_files,
           CAST((n_rows + {ROWS_PER_FILE} - 1) // {ROWS_PER_FILE} AS BIGINT)
               AS files_after,
           CAST(1 AS INT) AS rows_match
    FROM daily
"""


def _day_file_counts(root: str) -> dict[str, int]:
    from pathlib import Path

    out: dict[str, int] = {}
    for d in Path(root).glob("day=*"):
        if d.is_dir():
            out[d.name.split("=", 1)[1]] = sum(
                1 for f in d.glob("*.parquet") if f.is_file()
            )
    return out


@register(
    "store_compaction_plan",
    oracle=_COMPACT_SQL,
    tags=("storage", "events", "agg"),
    side_effects=True,
)
def store_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, n_rows, target_files, files_after, rows_match) per day:
    the compaction plan (ceil(rows/ROWS_PER_FILE) target files) and its
    executed outcome — files_after is the real post-rewrite filesystem
    count and rows_match compares per-day row counts across the
    rewrite; in-query assertions pin the fragmented before-state."""
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="bigbugdata-compact-")
    try:
        frag_path = f"{base}/frag"
        compact_path = f"{base}/compact"
        ev = table(spark, sf_dir, "events").select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_id",
            "user_id",
            "event_type",
        )
        # the pathology: FRAG_FILES-way fragmented ingest per day,
        # built as FRAG_FILES sequential micro-batch APPENDS (each
        # coalesce(1) batch writes exactly one file into every day dir
        # it touches) — the real streaming-ingest layout, and
        # deterministic where a single repartition("day","bucket")
        # write is not (AQE coalesces the tiny exchange into one task
        # -> one file per day, erasing the pathology; measured)
        for b in range(FRAG_FILES):
            (
                ev.filter(F.col("event_id") % FRAG_FILES == b)
                .coalesce(1)
                .write.partitionBy("day")
                .mode("append" if b else "overwrite")
                .parquet(frag_path)
            )
        before = _day_file_counts(frag_path)
        # per-day expectation = the day's count of NON-EMPTY residue
        # classes (ADVICE r11: a sparse day with fewer events than
        # FRAG_FILES residues legitimately writes fewer files — the
        # old all-days-have-all-residues assertion hard-failed there)
        expected = {
            r["day"]: r["n_files"]
            for r in ev.select(
                "day", (F.col("event_id") % FRAG_FILES).alias("residue")
            )
            .distinct()
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_files"))
            .collect()
        }
        expected = {str(d): n for d, n in expected.items()}
        got = {str(d): n for d, n in before.items()}
        if not got or got != expected or any(
            n > FRAG_FILES for n in got.values()
        ):
            raise AssertionError(
                f"fragmented layout off-spec (want per-day non-empty "
                f"residue counts {expected}): {got}"
            )
        # the compactor: co-locate each day in one task (hash
        # repartition on the partition column — AQE may merge several
        # days into a task but never splits one), then let the writer's
        # maxRecordsPerFile do the bin-packing — Spark's native
        # compaction primitive, yielding exactly
        # ceil(day_rows / ROWS_PER_FILE) files per day directory
        frag = spark.read.parquet(frag_path)
        (
            frag.repartition("day")
            .write.option("maxRecordsPerFile", ROWS_PER_FILE)
            .partitionBy("day")
            .mode("overwrite")
            .parquet(compact_path)
        )
        after = _day_file_counts(compact_path)
        plan = (
            ev.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .withColumn(
                "target_files",
                F.expr(f"(n_rows + {ROWS_PER_FILE} - 1) div {ROWS_PER_FILE}"),
            )
        )
        post = (
            spark.read.parquet(compact_path)
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("rows_after"))
        )
        after_df = spark.createDataFrame(
            [(d, n) for d, n in sorted(after.items())],
            "day string, files_after long",
        )
        return (
            plan.join(post, "day")
            .join(F.broadcast(after_df), "day")
            .select(
                "day",
                "n_rows",
                "target_files",
                "files_after",
                (F.col("rows_after") == F.col("n_rows"))
                .cast("int")
                .alias("rows_match"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# Column-encoding advisor (round 10) — the storage-design card a
# columnar writer reads before laying out a 100 TB table: for each
# column, the exact byte cost of PLAIN encoding (raw payload) vs
# DICTIONARY encoding (vocabulary + minimal-width codes), and which wins.
# Low-cardinality columns (returnflag, linestatus, shipmode-alikes)
# dictionary-encode at a fraction of plain; key-like columns
# (l_orderkey) don't — the card quantifies the cliff instead of assuming
# it.  Complements the existing storage family: the partitioned/Z-order
# ops decide FILE layout, this decides WITHIN-FILE encoding.
#
# No analog in the reference (SURVEY §2.1); storage extension surface.
#
# Determinism: every column is pre-projected to a deterministic string
# (dates via an explicit format, numerics through integral casts — never
# a raw double->string cast, whose scientific-notation thresholds differ
# across engines); all byte accounting is BIGINT.
#
# Scale posture: one table scan, map-side unpivot (a generate, no
# shuffle), one shuffle keyed (col_name, value) — each column's
# VOCABULARY, not its row count — then a columns-sized rollup.  Same
# plan family as dq_null_profile; the generic core is
# functions.diagnostics.encoding_profile.
# ---------------------------------------------------------------------------


#: (card column, Spark SQL expr, DuckDB expr) — deterministic strings
#: only (expression STRINGS, not Columns: building a Column needs an
#: active SparkContext, and this tuple is evaluated at import time)
_COLS = (
    ("l_returnflag", "l_returnflag", "l_returnflag"),
    ("l_linestatus", "l_linestatus", "l_linestatus"),
    (
        "l_linenumber",
        "CAST(l_linenumber AS STRING)",
        "CAST(l_linenumber AS VARCHAR)",
    ),
    (
        "l_quantity",
        "CAST(CAST(l_quantity AS BIGINT) AS STRING)",
        "CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)",
    ),
    (
        "l_orderkey",
        "CAST(l_orderkey AS STRING)",
        "CAST(l_orderkey AS VARCHAR)",
    ),
    (
        "l_shipdate",
        "date_format(l_shipdate, 'yyyy-MM-dd')",
        "strftime(l_shipdate, '%Y-%m-%d')",
    ),
)

_CODE_SQL = """CASE WHEN n_distinct <= 256 THEN 1
                    WHEN n_distinct <= 65536 THEN 2
                    WHEN n_distinct <= 16777216 THEN 3
                    ELSE 4 END"""


def _one_col_sql(name: str, expr: str) -> str:
    return f"""
        SELECT '{name}' AS col_name, n_values, n_distinct, plain_bytes,
               CAST(entry_bytes + n_values * {_CODE_SQL} AS BIGINT)
                   AS dict_bytes,
               CASE WHEN entry_bytes + n_values * {_CODE_SQL} < plain_bytes
                    THEN 'dict' ELSE 'plain' END AS encoding
        FROM (
            SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_values,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct,
                   CAST(COALESCE(SUM(LENGTH(v) * cnt), 0) AS BIGINT)
                       AS plain_bytes,
                   CAST(COALESCE(SUM(LENGTH(v)), 0) AS BIGINT)
                       AS entry_bytes
            FROM (
                SELECT v, COUNT(*) AS cnt
                FROM (SELECT {expr} AS v FROM lineitem)
                WHERE v IS NOT NULL GROUP BY v
            )
        )"""


_ENCODING_SQL = "\nUNION ALL\n".join(
    _one_col_sql(name, sql) for name, _, sql in _COLS
)


@register(
    "store_encoding_plan",
    oracle=_ENCODING_SQL,
    tags=("storage", "profile"),
    side_effects=True,
)
def store_encoding_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(col_name, n_values, n_distinct, plain_bytes, dict_bytes,
    encoding) for six lineitem columns spanning the cardinality range —
    exact plain-vs-dictionary byte accounting in one scan (the oracle
    spells one UNION ALL branch per column; the Spark plan unpivots
    map-side and profiles all columns in a single pass via
    functions.diagnostics.encoding_profile)."""
    src = table(spark, sf_dir, "lineitem").select(
        *[F.expr(expr).alias(name) for name, expr, _ in _COLS]
    )
    return encoding_profile(src, [name for name, _, _ in _COLS])


# ---------------------------------------------------------------------------
# Versioned-lake retention planning under the driver's hash gate
# (round 10) — sources/versioned.py gained a VACUUM DRY RUN (gc_plan):
# before destructive retention runs, the operator reads which data files
# retention would delete and what is still readable afterwards.  This
# query commits a three-version lifecycle (append-all, REPLACE with the
# long-document slice, append the tiny-document re-admits), plans
# retention of everything but the last two versions, then READS BOTH
# SIDES OF THE PLAN back through Spark:
#
#   * `live`        — the corpus as the retained head reads it;
#   * `reclaimable` — the rows inside the files the plan marks deletable
#                     (the expired v0 append's files, i.e. the FULL
#                     original corpus, now only reachable pre-vacuum).
#
# After the accounting is computed the plan is EXECUTED (expire_versions)
# and the query asserts the head still reads exactly the live row count —
# a wrong classification (a live file deleted, a dead file kept) either
# shifts the aggregates (hash mismatch) or trips the assertion (errored
# driver row).
#
# No analog in the reference (SURVEY §2.1); storage extension surface.
# Like corpus_version_diff / evt_zorder_lake_accounting this is an
# O(write) verification query, excluded from the bench headline set.
#
# Scale posture: the plan itself is manifest-arithmetic — file-count-
# sized, no data motion; the reads are ordinary pruned parquet scans over
# explicit file lists.  At 100 TB the dry run costs a manifest-directory
# listing; only the verification reads here are corpus-sized, and they
# exist to put the classification under the hash gate.
# ---------------------------------------------------------------------------


#: replacement keeps long documents; the re-admit batch brings back tiny
#: ones — two disjoint slices so live vs reclaimable aggregates differ.
_LONG_CHARS = 500
_TINY_CHARS = 100

_GC_SQL = f"""
    SELECT 'live' AS status,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE n_chars >= {_LONG_CHARS} OR n_chars < {_TINY_CHARS}
    UNION ALL
    SELECT 'reclaimable',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_chars) AS BIGINT)
    FROM documents
"""


@register(
    "store_gc_plan",
    oracle=_GC_SQL,
    tags=("storage", "agg"),
    side_effects=True,
)
def store_gc_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-row retention card (status, n_docs, total_chars): `live` =
    what the retained head reads after vacuum (the replace slice plus
    the re-admit batch), `reclaimable` = the rows in the files the dry
    run marks deletable (the expired original append = the full
    corpus).  In-query assertions: the reclaimable file list is exactly
    the v0 stage plus one planted commit-tmp debris file (the r16
    manifest-tmp classification, proven under the gate), and executing
    the plan deletes exactly those files while the head re-reads the
    live count."""
    import shutil
    import tempfile

    from bigbugdata_spark.sources.versioned import (
        expire_versions,
        gc_plan,
        read_versioned,
        write_versioned,
        replace_versioned,
    )

    base = tempfile.mkdtemp(prefix="bigbugdata-gc-")
    try:
        path = f"{base}/corpus"
        docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
        write_versioned(docs, path)  # v0: the full original corpus
        replace_versioned(
            docs.filter(F.col("n_chars") >= _LONG_CHARS), path
        )  # v1: curation rewrote the table to the long slice
        write_versioned(
            docs.filter(F.col("n_chars") < _TINY_CHARS), path
        )  # v2: the tiny-document re-admit append
        # min_age_s=0: this scratch table is single-writer by
        # construction (freshly built in this query body), so the
        # in-flight gate that protects concurrent writers' uncommitted
        # stages (versioned.py r15) would misread the seconds-old
        # fixture files; 0 skips the gate entirely — classification is
        # byte-identical to the pre-gate behavior
        # plant a dead writer's commit-tmp debris (r16: gc_plan also
        # classifies '_manifests/.v*.json.tmp-*'; min_age_s=0 sends it
        # straight to reclaimable) so the sweep accounting below runs
        # with BOTH reclaimable kinds present under the hash gate
        from pathlib import Path

        debris_rel = "_manifests/.v99.json.tmp-fixture"
        (Path(path) / debris_rel).write_text("{}")
        plan = gc_plan(path, retain_last=2, min_age_s=0.0)
        if plan["retained"] != [1, 2] or plan["expired"] != [0]:
            raise AssertionError(f"unexpected retention split: {plan}")
        reclaim_paths = [f["path"] for f in plan["reclaimable_files"]]
        if not reclaim_paths or any(p in plan["live_files"] for p in reclaim_paths):
            raise AssertionError("reclaimable overlaps live file set")
        # only data files hold rows — manifest-tmp debris is swept by
        # the same plan but must never reach a parquet read
        data_paths = [p for p in reclaim_paths if p.startswith("data/")]
        if debris_rel not in reclaim_paths:
            raise AssertionError("commit-tmp debris missed by the plan")
        if set(reclaim_paths) != set(data_paths) | {debris_rel}:
            raise AssertionError(f"off-plan reclaimables: {reclaim_paths}")
        reclaim = spark.read.parquet(
            *[f"{path}/{p}" for p in data_paths]
        )
        live = read_versioned(spark, path)  # head (v2) = replace + re-admit
        out = (
            live.select(F.lit("live").alias("status"), "n_chars")
            .unionByName(
                reclaim.select(
                    F.lit("reclaimable").alias("status"), "n_chars"
                )
            )
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
            )
        )
        result = out.localCheckpoint()
        live_rows = next(
            r.n_docs for r in result.collect() if r.status == "live"
        )
        acct = expire_versions(path, retain_last=2, min_age_s=0.0)
        if acct["deleted_files"] != len(reclaim_paths):
            raise AssertionError(f"vacuum deleted off-plan: {acct}")
        if read_versioned(spark, path).count() != live_rows:
            raise AssertionError("post-vacuum head diverged from plan")
        return result
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# Partition-granularity advisor (round 12) — the lake-DESIGN
# component next to the lake-MAINTENANCE ones (compaction plan, encoding
# advisor, GC plan): given the events table's time distribution, evaluate
# day / week / month partitioning and recommend the FINEST granularity
# whose smallest partition still clears a minimum-rows floor — the
# standard small-files guard (a partition below the floor produces files
# under the efficient scan size no matter how well the writer packs).
#
# Output is one row per granularity with the stats a reviewer needs
# (partition count, min/max/total rows, rows-per-partition floor check)
# plus the chosen flag, so the recommendation is auditable, not oracular.
#
# Exactness: pure counts over date_trunc buckets; the chosen flag is
# integer comparisons only.  Week truncation differs between engines
# (Spark date_trunc('week') is Monday-anchored, DuckDB's likewise), so
# both sides use their native date_trunc — pinned equal by the hash
# compare itself.
#
# No analog in the reference (SURVEY §2.1); storage extension surface.
#
# Scale posture: three aggregates over one events scan (union of three
# date_trunc projections — Catalyst reuses the scan), each map-side
# combinable to |partitions| rows; the advisor's decision join is over
# three rows.  At 100 TB this runs off partition-level row counts from
# the metastore instead of a scan; the scan form keeps it
# oracle-checkable.
# ---------------------------------------------------------------------------


#: a partition below this many rows flags the granularity as too fine
#: (would produce sub-efficient files); sized for the test fixture the
#: same way GRAPH_CELL_ROWS is — production overrides per target file
#: size / row width
MIN_PART_ROWS = 2_000

_PART_ORACLE_SQL = f"""
    WITH per_gran AS (
        SELECT gran, bucket, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM (
            SELECT 'day' AS gran, date_trunc('day', ts) AS bucket FROM events
            UNION ALL
            SELECT 'week', date_trunc('week', ts) FROM events
            UNION ALL
            SELECT 'month', date_trunc('month', ts) FROM events
        )
        GROUP BY gran, bucket
    ),
    stats AS (
        SELECT gran,
               CAST(COUNT(*) AS BIGINT) AS n_partitions,
               CAST(MIN(n_rows) AS BIGINT) AS min_rows,
               CAST(MAX(n_rows) AS BIGINT) AS max_rows,
               CAST(SUM(n_rows) AS BIGINT) AS total_rows,
               CASE WHEN MIN(n_rows) >= {MIN_PART_ROWS} THEN 1 ELSE 0 END
                   AS meets_floor
        FROM per_gran GROUP BY gran
    ),
    ranked AS (
        SELECT *,
               CASE gran WHEN 'day' THEN 1 WHEN 'week' THEN 2 ELSE 3 END
                   AS coarseness
        FROM stats
    )
    SELECT gran,
           n_partitions, min_rows, max_rows, total_rows,
           CAST(meets_floor AS BIGINT) AS meets_floor,
           CAST(CASE WHEN meets_floor = 1 AND coarseness = (
                    SELECT MIN(coarseness) FROM ranked WHERE meets_floor = 1
                ) THEN 1 ELSE 0 END AS BIGINT) AS chosen
    FROM ranked
"""


@register(
    "store_partition_advisor",
    oracle=_PART_ORACLE_SQL,
    tags=("storage", "agg"),
    side_effects=False,  # pure analysis — no lake lifecycle runs here
)
def store_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(gran, n_partitions, min_rows, max_rows, total_rows, meets_floor,
    chosen): day/week/month partition stats for events with the finest
    floor-clearing granularity flagged chosen (exactly one row chosen
    whenever any granularity clears the floor; unit test)."""
    ev = table(spark, sf_dir, "events")
    # one scan, not a 3-way self-union: each row explodes into its three
    # (gran, bucket) memberships map-side
    grans = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(g).alias("gran"),
                        F.date_trunc(g, "ts").alias("bucket"),
                    )
                    for g in ("day", "week", "month")
                ]
            )
        ).alias("g")
    ).select("g.gran", "g.bucket")
    per_gran = grans.groupBy("gran", "bucket").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    stats = per_gran.groupBy("gran").agg(
        F.count(F.lit(1)).alias("n_partitions"),
        F.min("n_rows").alias("min_rows"),
        F.max("n_rows").alias("max_rows"),
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.when(F.min("n_rows") >= MIN_PART_ROWS, F.lit(1))
        .otherwise(F.lit(0))
        .alias("meets_floor"),
    )
    coarseness = (
        F.when(F.col("gran") == "day", 1)
        .when(F.col("gran") == "week", 2)
        .otherwise(3)
    )
    ranked = stats.withColumn("coarseness", coarseness)
    best = (
        ranked.filter(F.col("meets_floor") == 1)
        .agg(F.min("coarseness").alias("best_coarseness"))
    )
    return (
        ranked.join(F.broadcast(best), F.lit(True))
        .select(
            "gran",
            "n_partitions",
            "min_rows",
            "max_rows",
            "total_rows",
            F.col("meets_floor").cast("long").alias("meets_floor"),
            F.when(
                (F.col("meets_floor") == 1)
                & (F.col("coarseness") == F.col("best_coarseness")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("chosen"),
        )
    )
