"""The kraken-report analytics pipeline — quirk-faithful Spark reimplementation
of the reference's `run()` (ref bigbugdata.py:225-366).

The engine's truth is ONE long/tidy DataFrame with a row per present
(sample_id, taxID) cell; pivoting to the taxon x sample presentation matrix
happens only at the sink. `run_pipeline` builds it with one pass per
grouping key and no joins:

1. a per-sample totals collect — the fail-fast check, and the job that
   materializes the persisted parse, which is unpersisted once step 3 has
   run;
2. one (sample_id, taxID) aggregate for the cell's reads, name and side
   stats (`cell_stats`), with rpm read from a per-sample map literal;
3. one window over taxID for the taxon's name, total, z moments and
   control rpm (`taxon_window`), checkpointed;
4. one collect of the sparse per-sample top-k of that frame, re-ranked
   to the reference's dense ranking on the driver (`tophits`).

Everything after the checkpoint is driver-sized, one Spark action per
artefact: the top-k rows are a list, and the fidelity sink formats both
matrices from one Arrow collect of the long frame itself. Only the scale
sink aggregates per taxon, and it writes through Spark's distributed CSV
writer.

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
* a report whose header lacks a canonical field makes the reference
  KeyError (ref :250-254, fields read by name in each file's own header);
  we raise ValueError naming the file and the fields before any output;
* a sample with no taxID-0/1 rows makes the reference silently drop it
  from RPM and later KeyError (ref :121); we raise ValueError at once;
* reads == 0 makes the reference crash with ZeroDivisionError (ref :275);
  we emit NULL e_val (via try_divide — ANSI mode would otherwise throw);
* a sample whose taxID-0/1 rows sum to 0 (or NULL) reads makes the
  reference crash with ZeroDivisionError in RPM (ref :104-127); we raise
  ValueError at once;
* two report files resolving to one sample_id make the reference silently
  keep only the last file (dict overwrite, ref :35-42); we raise ValueError;
* taxName for a taxID is the first-seen name in the reference (ref :295);
  we take MIN(trim(taxName)) — identical whenever names are consistent.
"""

from __future__ import annotations

from bisect import bisect_left
from collections.abc import Iterator
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from bigbugdata_spark.operators.relational import (
    control_lookup,
    negative_control_groups,
    ordered_sample_ids,
)
from bigbugdata_spark.sources.kraken_reports import (
    output_paths,
    read_lines_ordered,
    read_reports,
    require_fields,
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


def _rpm_expr(n_reads: dict[str, int]) -> str:
    """RPM = reads / (n_reads / 1e6) (op 11, ref :104-127) as one SQL
    expression: the per-sample totals travel as a map literal, so no
    join. run_pipeline has already rejected a zero or NULL total (the
    reference's ZeroDivisionError), so rpm, and with it rRPM, is never
    NULL."""
    entries = ", ".join(f"{_slit(s)}, {n}L" for s, n in n_reads.items())
    return f"reads / (map({entries})[sample_id] / 1000000.0D) as rpm"


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
    # partitioned. Both projections are SQL strings: built from Column
    # objects they took ~6x the driver time, in py4j round-trips.
    w = (
        "OVER (PARTITION BY taxID ORDER BY sample_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    )
    members: dict[str, list[str]] = {}
    for s, c in mapping:
        if c:
            members.setdefault(c, []).append(s)
    ctrl_cols = [f"_c{i}" for i in range(len(members))]
    n = f"{float(len(samples))!r}D"
    side = ["rpm", "kmers", "dup_raw", "sample_reads", "cov_raw", "e_val"]
    moments = cells.selectExpr(
        "sample_id",
        "taxID",
        f"min(taxName) {w} AS taxName",
        "reads",
        f"sum(reads) {w} AS total_reads",
        *side,
        f"sum(rpm) {w} / {n} AS _mean",
        f"sum(rpm * rpm) {w} / {n} AS _ss_n",
        *[
            f"max(CASE WHEN sample_id = {_slit(c)} THEN rpm END) {w} AS {col}"
            for c, col in zip(members, ctrl_cols)
        ],
    )
    var = "(_ss_n - _mean * _mean)"
    z = (
        f"CASE WHEN {var} <= 1.0E-18D * _mean * _mean THEN CAST('NaN' AS DOUBLE) "
        f"ELSE (rpm - _mean) / sqrt({var}) END"
    )
    den = "1L"
    for (c, group), col in zip(members.items(), ctrl_cols):
        den = (
            f"CASE WHEN sample_id IN ({', '.join(map(_slit, group))}) "
            f"THEN greatest(floor(coalesce({col}, 0.0D)), 1L) ELSE {den} END"
        )
    return moments.selectExpr(
        "sample_id", "taxID", "taxName", "reads", "total_reads", *side,
        f"{z} AS z_score",
        f"CAST(floor(rpm) AS DOUBLE) / {den} AS rrpm",
    )


#: the tophits columns in output order, with their types
TOP_SCHEMA = (
    "sampleName string, taxID long, taxName string, rank int, rRPM double, "
    "kmers long, dup string, reads long, cov string, e_val double, z_score double"
)
TOP_FIELDS = [c.split()[0] for c in TOP_SCHEMA.split(", ")]


def repair_dense_ranks(
    sparse: list[Row], k: int, samples: list[str], first_k: list[int]
) -> list[Row]:
    """The dense top-k (op 14, ref :166-205) from the SPARSE one, in output
    order: samples in column order, then rank ascending.

    `sparse` holds each sample's present rows ranked by (rRPM desc, taxID
    asc) with rank <= k; `first_k` is the k smallest taxIDs of the dense
    taxon list (only read when some sparse row has rRPM 0). The dense
    list adds a zero for every absent (sample, taxon) cell, and zeros rank
    after every positive row, so a sample with >= k positive rows keeps
    its sparse ranks. A sample with npos < k positive rows has all of them
    in `sparse`; its dense ranks after npos go to the non-positive taxa in
    taxID order, and the first k - npos of those lie among `first_k`. A
    present zero row t therefore has dense rank npos + 1 + |{u in first_k:
    u < t, u not positive}| — exact when t is among `first_k`, and > k
    otherwise. Rows ranked past k are dropped; absent cells are never
    emitted, so the rank gaps stay (ref :183-188). A zero row in the dense
    top-k is in the sparse one too: its sparse rank is <= its dense rank."""
    by_sample: dict[str, list[Row]] = {}
    for r in sparse:
        by_sample.setdefault(r["sampleName"], []).append(r)
    out = []
    for s in samples:
        rows = sorted(by_sample.get(s, ()), key=lambda r: r["rank"])
        positive = {r["taxID"] for r in rows if r["rRPM"] > 0}
        zero_taxa = [u for u in first_k if u not in positive]
        for r in rows:
            if r["rRPM"] > 0:
                out.append(r)
                continue
            rank = len(positive) + 1 + bisect_left(zero_taxa, r["taxID"])
            if rank <= k:
                out.append(Row(**{**r.asDict(), "rank": rank}))
    return out


def tophits(taxon_cells: DataFrame, k: int, samples: list[str]) -> list[Row]:
    """Top-k per sample by rRPM with stable tie-break and rank gaps (op 14,
    ref :166-205), as TOP_FIELDS rows in output order.

    The reference ranks the full DENSE taxon list (ties -> taxID
    ascending, its stable-sort order), THEN drops the absent (sample,
    taxon) pairs. Here one window ranks the sparse rows and ONE collect
    brings the <= k*|samples| top rows to the driver, with the side stats
    and z_score riding along. Samples short of k positive rows get their
    dense ranks there (repair_dense_ranks); that needs the k smallest
    taxIDs, collected only when some top row has rRPM 0."""
    w = Window.partitionBy("sample_id").orderBy(F.desc("rrpm"), F.asc("taxID"))
    sparse = (
        taxon_cells.select(
            F.col("sample_id").alias("sampleName"),
            "taxID",
            "taxName",
            F.row_number().over(w).alias("rank"),
            F.col("rrpm").alias("rRPM"),
            "kmers",
            F.col("dup_raw").alias("dup"),
            F.col("sample_reads").alias("reads"),
            F.col("cov_raw").alias("cov"),
            "e_val",
            "z_score",
        )
        .filter(F.col("rank") <= k)
        .collect()
    )
    first_k = []
    if any(r["rRPM"] == 0 for r in sparse):
        taxa = taxon_cells.select("taxID").distinct().orderBy("taxID").limit(k)
        first_k = [r["taxID"] for r in taxa.collect()]
    return repair_dense_ranks(sparse, k, samples, first_k)


# ---------------------------------------------------------------------------
# end-to-end pipeline + sinks
# ---------------------------------------------------------------------------


@dataclass
class KrakenResult:
    samples: list[str]
    # long: taxID, taxName, total_reads, sample_id, reads, rpm, z_score,
    # rrpm and the tophits side stats
    rrpm: DataFrame
    tophits: list[Row]  # TOP_FIELDS rows in output order


def run_pipeline(
    spark: SparkSession,
    report_paths: list[str],
    rank: str = "species",
    n_tophits: int = 15,
    group_patterns: list[tuple[str, str]] | None = None,
) -> KrakenResult:
    """The reference's run() (ref bigbugdata.py:225-366): validates the
    inputs, materializes the per-cell frame and ranks the top-k; the
    returned frame is that checkpoint."""
    # Fail fast when two input files resolve to one sample_id: the reference
    # dict silently keeps only the last file (ref bigbugdata.py:35-42) while
    # a multi-file scan would union their rows — an undocumented divergence
    # unless rejected here (ADVICE r1). sample_id is a pure function of the
    # file path (ref :35-42), so the check runs driver-side over the input
    # path list — one string op per file, no Spark job.
    by_sample: dict[str, list[str]] = {}
    for p in report_paths:
        sid = Path(p).name.rpartition("_")[0]
        by_sample.setdefault(sid, []).append(p)
    collisions = {s: ps for s, ps in by_sample.items() if len(ps) > 1}
    if collisions:
        raise ValueError(
            f"multiple report files resolve to the same sample_id: {collisions}"
        )
    samples = ordered_sample_ids(sorted(by_sample))

    # Persist the parsed scan: the totals collect materializes it, and the
    # cell aggregate reads it back. The ordered parse (wholetext +
    # posexplode) is the single most expensive subtree in the pipeline —
    # one parse, read from cache after. Project to the columns the
    # pipeline consumes before persisting (pct/taxReads/path are dead
    # downstream — pruning them shrinks the cached blocks). Nothing reads
    # the parse after the eager checkpoint below, so its blocks are freed
    # as soon as the checkpoint has run, or a check before it has failed.
    reports = read_reports(spark, report_paths, with_row_order=True).select(
        "sample_id", "taxID", "reads", "kmers", "dup", "cov",
        "rank", "taxName", "row_order",
    ).persist()
    try:
        # The first job: one row per sample, and the fail-fast check. A
        # sample with no taxID-0/1 rows makes the reference silently drop it
        # and later KeyError (ref bigbugdata.py:121); one whose taxID-0/1
        # rows hold 0 (or no parsable) reads makes it raise
        # ZeroDivisionError. We raise before any other job runs, so every
        # rpm and rRPM below is a number.
        n_reads = {r["sample_id"]: r["n_reads"] for r in sample_totals(reports).collect()}
        missing = [s for s in samples if not n_reads.get(s)]
        if missing:
            # a report whose header lacks a canonical field parses to
            # NULLs, so it has no total either: name its fields first
            heads = read_lines_ordered(spark, [by_sample[s][0] for s in missing])
            for r in heads.filter("row_order = header_order").collect():
                require_fields(r["path"], r["header"])
            raise ValueError(
                f"samples with no taxID 0/1 reads (cannot compute RPM): {missing}"
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
    finally:
        reports.unpersist()

    top = tophits(rrpm_df, n_tophits, samples)
    return KrakenResult(samples=samples, rrpm=rrpm_df, tophits=top)


def _taxon_entries(rrpm: DataFrame) -> DataFrame:
    """One row per taxon for the scale sink's matrices: taxID, taxName,
    total_reads and `_m`, a map sample_id -> (r: reads, m: rrpm) of its
    present cells. Combined (reads) and rrpm share the same (taxID x
    sample) grid, so one shuffle feeds both matrices; absent cells are
    the zeros the sink fills in. (The fidelity sink reads the long frame
    itself, see _fidelity_matrices.)

    One collect_list of (sample_id -> (reads, rrpm)) entries per taxon
    appends a single element per row (r17); a PivotFirst aggregate
    updated two interpreted slots per sample for every input row.
    collect_list plans as ObjectHashAggregate, no sort."""
    entry = F.struct(
        F.col("sample_id"),
        F.struct(F.col("reads").alias("r"), F.col("rrpm").alias("m")),
    )
    return rrpm.groupBy("taxID", "taxName", "total_reads").agg(
        F.map_from_entries(F.collect_list(entry)).alias("_m")
    )


def _scale_matrix_frames(
    by_taxon: DataFrame, samples: list[str]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(wide, combined_wide, rrpm_wide) for the scale sink: `wide` is the
    per-taxon entries of _taxon_entries spread into one column per
    sample, persisted once, and each matrix projects from its cache with
    its zero fill. The caller unpersists `wide` after its writes.

    selectExpr, not Column-object loops (r17): building 96
    getItem/getField/alias Column objects plus 2x48 coalesce projections
    cost 1.2-1.8 s of py4j round-trips per run on the 48-sample fixture;
    the same projections as SQL strings parse in one call each."""
    wide = by_taxon.selectExpr(
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
    ).persist()
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


def _pylist(values: pa.ChunkedArray) -> list:
    """The Python objects of an Arrow column. numpy's tolist() builds them
    ~10x faster than to_pylist(), which stays for a column with nulls
    (numpy would turn those into NaN)."""
    return values.to_pylist() if values.null_count else values.to_numpy().tolist()


def _fidelity_matrices(
    rrpm: DataFrame, samples: list[str]
) -> tuple[Iterator[list], Iterator[list]]:
    """(combined, rrpm) body rows for the fidelity sink, in taxID order
    with every sample cell formatted, from ONE Arrow collect of the long
    frame: no shuffle, and no Row objects (unpickling ~1M nested map
    entries dominated the sink at 48 x 20k taxa).

    The dense taxon x sample grid of each matrix is one flat string list
    pre-filled with the absent cells' "0" or "0.0"; a present cell's
    flat index is its taxon's position in taxID order times the sample
    count plus its sample's column. Only present values go through str(),
    as Python objects: Python's repr is the reference's float text, and
    numpy scalars must not reach str(). A row whose sample_id is not
    among `samples` fills no cell. The rows are built as the sink writes
    them, so they never all live at once."""
    t = rrpm.select(
        "taxID", "taxName", "total_reads", "sample_id", "reads", "rrpm"
    ).toArrow()
    n = len(samples)
    taxa, first, taxon = np.unique(
        t["taxID"].to_numpy(), return_index=True, return_inverse=True
    )
    column = pc.index_in(
        t["sample_id"], value_set=pa.array(samples, t["sample_id"].type)
    ).fill_null(-1).to_numpy()
    cells = (taxon * n + column)[column >= 0].tolist()
    present = pa.array(column >= 0)
    heads = list(
        zip(
            taxa.tolist(),
            t["taxName"].take(first).to_pylist(),
            t["total_reads"].take(first).to_pylist(),
        )
    )

    def rows(values: pa.ChunkedArray, zero: str) -> Iterator[list]:
        grid = [zero] * (len(heads) * n)
        for i, v in zip(cells, map(str, _pylist(values.filter(present)))):
            grid[i] = v
        return ([*h, *grid[i * n : (i + 1) * n]] for i, h in enumerate(heads))

    return rows(t["reads"], "0"), rows(t["rrpm"], "0.0")


def _tophits_frame(spark: SparkSession, rows: list[Row]) -> DataFrame:
    """The tophits rows as a TOP_SCHEMA frame for the scale sink. An Arrow
    table plans as a LocalRelation; a Row list would plan as a Python-RDD
    scan, whose evaluation forks pyspark.daemon and its workers."""
    schema = StructType.fromDDL(TOP_SCHEMA)
    table = pa.Table.from_pylist(
        [r.asDict() for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def write_outputs(
    result: KrakenResult,
    results_dir: str,
    rank: str,
    mode: str = "fidelity",
) -> tuple[str, str, str]:
    """CSV sinks with the reference's exact headers and column order
    (ops 16-17, ref bigbugdata.py:312-366).

    mode='fidelity': byte-exact reference CSVs via driver-side str()
    formatting. ONE Arrow collect of the long frame feeds both matrices,
    sorted by taxID and zero-filled on the driver (_fidelity_matrices);
    the tophits rows are written as run_pipeline returned them.
    mode='scale': the three CSVs go through Spark's distributed CSV
    writer, one after another, one ordered part file each: the matrices
    from one persisted wide frame of the per-taxon entries, unpersisted
    after the writes — no collect; the 100 TB path (VERDICT r1 fix
    #2/#7) — and the driver-sized tophits rows from a local Arrow
    relation."""
    combined_path, rrpm_path, tophits_path = output_paths(results_dir, rank)
    samples = result.samples

    if mode == "scale":
        wide, combined_wide, rrpm_wide = _scale_matrix_frames(
            _taxon_entries(result.rrpm), samples
        )
        top_df = _tophits_frame(result.rrpm.sparkSession, result.tophits)
        # the combined write materializes the persisted `wide` frame as a
        # side effect of its own evaluation; the rrpm write reads it back
        try:
            write_csv_scale(combined_wide, str(combined_path), sort_cols=["taxID"])
            write_csv_scale(rrpm_wide, str(rrpm_path), sort_cols=["taxID"])
            write_csv_scale(top_df, str(tophits_path))
        finally:
            wide.unpersist()
        return str(combined_path), str(rrpm_path), str(tophits_path)

    header = ["taxID", "taxName", "Total # of Reads", *samples]
    combined_rows, rrpm_rows = _fidelity_matrices(result.rrpm, samples)
    write_csv_fidelity(combined_path, header, combined_rows)
    write_csv_fidelity(rrpm_path, header, rrpm_rows)
    write_csv_fidelity(
        tophits_path, TOP_FIELDS, ([r[f] for f in TOP_FIELDS] for r in result.tophits)
    )
    return str(combined_path), str(rrpm_path), str(tophits_path)
