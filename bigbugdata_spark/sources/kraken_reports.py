"""KrakenUniq/Kraken2 report source + CSV/TSV sinks.

Scan (SURVEY §2 ops 1-2; ref bigbugdata.py:248-254, 35-42): one TSV file per
sample — two '#' comment lines, a header row, then tab-separated data rows.
All files load as ONE DataFrame (Spark's multi-file scan is the distributed
analog of the reference's per-file loop); file identity is recovered as a
`sample_id` column from input_file_name().

Sinks (ops 16-17, 23; ref bigbugdata.py:208-222, scripts/modify_reports.py:
95-107): the pivoted presentation tables are O(taxa x samples) — bounded,
sink-only — so fidelity mode formats them driver-side with python str()
exactly like the reference's csv.DictWriter; scale mode writes the same
values via Spark's distributed CSV writer.
"""

from __future__ import annotations

import csv
from collections.abc import Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ref scripts/modify_reports.py:59-73 — the canonical 9-column report schema.
# '%' is named pct; dup/cov keep raw string copies so sinks can echo the
# input text byte-for-byte (the reference never casts dup: bigbugdata.py:196).
REPORT_SCHEMA = T.StructType(
    [
        T.StructField("pct", T.StringType()),
        T.StructField("reads", T.LongType()),
        T.StructField("taxReads", T.LongType()),
        T.StructField("kmers", T.LongType()),
        T.StructField("dup", T.StringType()),
        T.StructField("cov", T.StringType()),
        T.StructField("taxID", T.LongType()),
        T.StructField("rank", T.StringType()),
        T.StructField("taxName", T.StringType()),
    ]
)


def sample_id_sql(col: str) -> str:
    """basename(path).rpartition('_')[0] (ref bigbugdata.py:35-42) of the
    path column `col`, as SQL: greedy prefix before the LAST underscore;
    '' when no underscore — matching str.rpartition."""
    return f"regexp_extract(element_at(split({col}, '/'), -1), '^(.*)_', 1)"


def read_reports(
    spark: SparkSession, paths: list[str] | str, *, with_row_order: bool = False
) -> DataFrame:
    """Multi-file TSV scan with comment skip + header (op 1).

    `with_row_order` adds a per-file line index so last-row-wins semantics
    for duplicate taxID rows within one report (ref bigbugdata.py:278-284
    overwrites; :301-302 accumulates) stay reproducible. The index comes
    from a wholetext read (one record per file, contractually unsplittable)
    + posexplode — NOT monotonically_increasing_id, whose cross-split
    ordering stops matching file order once a file spans multiple scan
    splits (ADVICE r1). Scale bound: wholetext holds one report in one task
    (KrakenUniq reports are per-sample taxonomy summaries, <=10^5 rows /
    a few MB — bounded by taxonomy size, not by corpus size); the
    splittable fast path below serves order-free scans of any file size.
    """
    if with_row_order:
        return _read_reports_ordered(spark, paths)
    # `path` is materialized at the scan (input_file_name is only valid
    # before the first exchange) so callers can audit file<->sample mapping.
    return (
        spark.read.option("sep", "\t")
        .option("header", True)
        .option("comment", "#")
        .schema(REPORT_SCHEMA)
        .csv(paths)
        .withColumn("path", F.input_file_name())
        .withColumn("sample_id", F.expr(sample_id_sql("path")))
    )


def read_lines_ordered(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """(path, row_order, line): every file's lines with their physical
    line index, order-stable at any split configuration (wholetext: one
    record per file). The fidelity primitive under every order-sensitive
    text scan; empty lines are dropped."""
    return (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(paths)
        .select(
            F.input_file_name().alias("path"),
            F.posexplode(F.split(F.col("value"), "\n")).alias("row_order", "_raw"),
        )
        # universal-newline semantics (python text mode / csv module):
        # \r\n-terminated rows lose the trailing \r
        .select(
            "path",
            "row_order",
            F.regexp_replace(F.col("_raw"), "\r$", "").alias("line"),
        )
        .filter(F.col("line") != "")
    )


def _read_reports_ordered(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Wholetext + posexplode fidelity reader: row_order == physical line
    index within the file, at any split/partition configuration.

    ONE pass, no shuffle: while the file is still a single wholetext
    record, the header position (first non-comment, non-empty line) is
    computed over the lines ARRAY with higher-order functions; the rows
    then posexplode carrying that per-file scalar along, so the header
    skip is a plain filter — no row_number window over every data row,
    no second scan to aggregate header positions, no join."""
    header_order = F.expr(
        "array_min(filter(transform(_lines, (x, i) -> "
        "CASE WHEN x NOT LIKE '#%' AND x != '' THEN i END), v -> v IS NOT NULL))"
    )
    body = (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(paths)
        .select(
            F.input_file_name().alias("_path"),
            # universal-newline split (python text mode / csv module
            # semantics): \r\n and lone \r terminate lines too
            F.split(F.col("value"), "\r\n|\r|\n").alias("_lines"),
        )
        .withColumn("_header_order", header_order)
        .select(
            "_path",
            "_header_order",
            F.posexplode(F.col("_lines")).alias("row_order", "_line"),
        )
        .filter(
            (F.col("row_order") > F.col("_header_order"))
            & (F.col("_line") != "")
            & ~F.col("_line").startswith("#")
        )
        .withColumn("_f", F.split(F.col("_line"), "\t"))
    )
    # one selectExpr: as getItem/cast/alias Column objects the same
    # columns cost four py4j round-trips each
    return body.selectExpr(
        *[
            f"CAST(_f[{i}] AS {field.dataType.simpleString()}) AS {field.name}"
            for i, field in enumerate(REPORT_SCHEMA.fields)
        ],
        "_path AS path",
        f"{sample_id_sql('_path')} AS sample_id",
        "row_order",
    )


def output_paths(results_dir: str, rank: str) -> tuple[Path, Path, Path]:
    """Output path derivation (op 17, ref bigbugdata.py:19-32)."""
    Path(results_dir).mkdir(parents=True, exist_ok=True)
    d = Path(results_dir)
    return (
        d / f"combined_{rank}.csv",
        d / f"rrpm_{rank}.csv",
        d / f"tophits_{rank}.csv",
    )


def write_csv_fidelity(file_path: Path, header: list[str], rows: Iterable[list]) -> None:
    """Reference-exact CSV sink (op 16, ref bigbugdata.py:208-222): the
    header row, then each row's values in header order, every value
    written as its str() (None as 'None', floats as Python's repr). The
    csv module's default dialect quotes minimally, as the reference's
    csv.DictWriter does. Driver-side by design: inputs are the
    presentation tables, never the fact table."""
    with open(file_path, "w") as fh:
        writer = csv.writer(fh)
        writer.writerow(header)
        writer.writerows(map(str, row) for row in rows)


def write_csv_scale(
    df: DataFrame,
    directory: str,
    single_file: bool = False,
    sort_cols: list[str] | None = None,
) -> None:
    """Scale-path CSV sink: distributed write, optional coalesce(1) when a
    single ordered file is required (a physical-layout choice, not a plan
    change).

    When both single_file and sort_cols are given, ordering is
    sortWithinPartitions AFTER the coalesce: one partition sorted is a
    total order, without the range-boundary sampling job and extra
    exchange a global orderBy would run just to feed a single writer."""
    out = df.coalesce(1) if single_file else df
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols) if single_file else out.orderBy(*sort_cols)
    out.write.option("header", True).mode("overwrite").csv(directory)


def write_tsv_with_preamble(
    file_path: Path,
    preamble: list[str],
    header: str,
    body_lines: list[str],
) -> None:
    """TSV sink with '#' comment preamble (op 23, ref
    scripts/modify_reports.py:95-107): preamble lines end with \\n, the
    header and every body row with \\r\\n (the csv-module terminator the
    reference's DictWriter emits). Timestamp lines come from the caller
    for determinism; body rows are pre-rendered tab-joined lines (the
    completion pipeline echoes raw input bytes). Used by
    operators/modify_reports.complete_reports."""
    with open(file_path, "w") as fh:
        for line in preamble:
            fh.write(line.rstrip("\n") + "\n")
        fh.write(header + "\r\n")
        for line in body_lines:
            fh.write(line + "\r\n")
