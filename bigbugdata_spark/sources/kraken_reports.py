"""KrakenUniq/Kraken2 report source + CSV/TSV sinks.

Scan (SURVEY §2 ops 1-2; ref bigbugdata.py:248-254, 35-42): one TSV file per
sample — two '#' comment lines, a header row, then tab-separated data rows.
Every kraken command reads its text inputs through one ordered reader,
read_lines_ordered: a wholetext scan (one record and one task per file)
split into lines where Python's text mode splits them, each line carrying
its file's path, sample_id, header index and header fields, and its own
physical index. read_reports is that reader filtered to the data rows and
parsed. All files load as ONE DataFrame (Spark's multi-file scan is the
distributed analog of the reference's per-file loop); file identity is
each file's path, decoded once from input_file_name().

Header rule (ref bigbugdata.py:250-254, scripts/modify_reports.py:59-73):
every command finds a report's columns by name in that file's own header,
as csv.DictReader does; `run` and `modify-reports` reject a header that
lacks one of REPORT_FIELDS (require_fields).

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

# ref scripts/modify_reports.py:59-73 — the canonical report fields, in
# KrakenUniq's column order, each with the type read_reports parses it to
# ('%' is named pct there). dup/cov stay strings so sinks can echo the
# input text byte-for-byte (the reference never casts dup: bigbugdata.py:196).
REPORT_FIELDS = {
    "%": "string",
    "reads": "bigint",
    "taxReads": "bigint",
    "kmers": "bigint",
    "dup": "string",
    "cov": "string",
    "taxID": "bigint",
    "rank": "string",
    "taxName": "string",
}


def require_fields(path: str, header: list[str]) -> None:
    """Raise ValueError, naming the file and the fields, when a report's
    header lacks canonical fields."""
    missing = [f for f in REPORT_FIELDS if f not in header]
    if missing:
        raise ValueError(f"report header in {path!r} lacks canonical fields {missing}")


def read_lines_ordered(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """(path, sample_id, header_order, header, field_at, row_order, line):
    every non-empty line of every file with its physical line index,
    order-stable at any split configuration (wholetext: one record and
    one task per file; an id taken over a splittable scan stops matching
    file order once a file spans splits).

    `path` is the file's absolute path: input_file_name() is a
    percent-encoded URI, decoded here exactly ('+' is escaped first, which
    url_decode would read as a space) and without a file: scheme.
    `sample_id` is basename(path).rpartition('_')[0] (ref
    bigbugdata.py:35-42): the greedy prefix before the LAST underscore, ''
    when there is none.

    Lines end at \\r\\n, a lone \\r or \\n, where Python's text mode ends
    them: the reference reads every report and script input in text mode.
    `header_order` is the index of the file's first line that is neither
    empty nor a '#' comment, -1 when there is none, and `header` is that
    line's tab-separated fields, empty when there is none: a command finds
    a column by its name in its own file's header. `field_at` holds the
    1-based position of each REPORT_FIELDS field in that header, and is
    NULL when the header lacks one of them. Every per-file column
    is computed while the file is still one record, and posexplode
    carries it along: a header skip is a plain filter, with no window over
    the lines and no shuffle. The header index is never null, so the
    optimizer infers no null filter that would evaluate its lambda a
    second time."""
    uri = "replace(input_file_name(), '+', '%2B')"
    at = "array(" + ", ".join(f"array_position(header, '{f}')" for f in REPORT_FIELDS) + ")"
    return (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(paths)
        .select(
            F.expr(f"regexp_replace(url_decode({uri}), '^file:(//)?', '')").alias("path"),
            F.split(F.col("value"), "\r\n|\r|\n").alias("_lines"),
        )
        .selectExpr(
            "path",
            "regexp_extract(element_at(split(path, '/'), -1), '^(.*)_', 1) AS sample_id",
            "_lines",
            "CAST(coalesce(array_position(transform(_lines, x -> "
            "x NOT LIKE '#%' AND x != ''), true), 0) - 1 AS INT) AS header_order",
        )
        # Projects of their own, which read header_order and header more
        # than once, so the optimizer inlines neither into the next one
        .selectExpr(
            "*", "coalesce(split(get(_lines, header_order), '\t'), array()) AS header"
        )
        .selectExpr("*", f"IF(array_contains({at}, 0), NULL, {at}) AS field_at")
        .select(
            "path",
            "sample_id",
            "header_order",
            "header",
            "field_at",
            F.posexplode(F.col("_lines")).alias("row_order", "line"),
        )
        .filter(F.col("line") != "")
    )


def data_lines(lines: DataFrame) -> DataFrame:
    """The lines of read_lines_ordered after each file's header that are
    not '#' comments: a report's data rows."""
    return lines.filter(
        (F.col("row_order") > F.col("header_order")) & ~F.col("line").startswith("#")
    )


def read_reports(
    spark: SparkSession, paths: list[str] | str, *, with_row_order: bool = False
) -> DataFrame:
    """The report scan (op 1): the data rows after each file's header,
    '#' lines skipped, parsed to REPORT_FIELDS plus `path` and `sample_id`.

    Each field is read at its position in its own file's header
    (`field_at`; ref bigbugdata.py:250-254, csv.DictReader). A report
    whose header lacks a canonical field parses every field to NULL, so it
    has no taxID 0/1 rows and run_pipeline names the missing fields.

    `with_row_order` keeps each row's physical line index, so last-row-wins
    semantics for duplicate taxID rows within one report (ref
    bigbugdata.py:278-284 overwrites; :301-302 accumulates) stay
    reproducible. Scale bound: the reader holds one report in one task
    (KrakenUniq reports are per-sample taxonomy summaries, <=10^5 rows / a
    few MB — bounded by taxonomy size, not by corpus size)."""
    body = data_lines(read_lines_ordered(spark, paths)).withColumn(
        "_f", F.split(F.col("line"), "\t")
    )
    # one selectExpr: as getItem/cast/alias Column objects the same
    # columns cost four py4j round-trips each
    return body.selectExpr(
        *[
            f"CAST(get(_f, field_at[{i}] - 1) AS {t}) AS {'pct' if f == '%' else f}"
            for i, (f, t) in enumerate(REPORT_FIELDS.items())
        ],
        "path",
        "sample_id",
        *(["row_order"] if with_row_order else []),
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
    df: DataFrame, directory: str, sort_cols: list[str] | None = None
) -> None:
    """Scale-path CSV sink: Spark's distributed writer, coalesced to one
    part file (a physical-layout choice, not a plan change). `sort_cols`
    order it with sortWithinPartitions after the coalesce: one sorted
    partition is a total order, without the range-boundary sampling job
    and extra exchange a global orderBy would run to feed one writer."""
    out = df.coalesce(1)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
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
