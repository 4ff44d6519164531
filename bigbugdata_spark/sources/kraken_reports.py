"""KrakenUniq/Kraken2 report source + CSV/TSV sinks.

Scan (SURVEY §2 ops 1-2; ref bigbugdata.py:248-254, 35-42): one TSV file per
sample — two '#' comment lines, a header row, then tab-separated data rows.
Every kraken command reads its text inputs through one ordered reader,
read_lines_ordered: a wholetext scan (one record and one task per file)
split into lines where Python's text mode splits them, each line carrying
its physical index and its file's header index. read_reports is that
reader filtered to the data rows and parsed. All files load as ONE
DataFrame (Spark's multi-file scan is the distributed analog of the
reference's per-file loop); file identity is recovered as a `sample_id`
column from input_file_name().

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


def read_lines_ordered(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """(path, row_order, line, header_order): every non-empty line of every
    file with its physical line index, order-stable at any split
    configuration (wholetext: one record and one task per file; an id
    taken over a splittable scan stops matching file order once a file
    spans splits).

    Lines end at \\r\\n, a lone \\r or \\n, where Python's text mode ends
    them: the reference reads every report and script input in text mode.
    `header_order` is the index of the file's first line that is neither
    empty nor a '#' comment, null when there is none. It is computed over
    the file's line array with higher-order functions while the file is
    still one record, and posexplode carries it along: a header skip is a
    plain filter, with no window over the lines and no shuffle."""
    header_order = F.expr(
        "array_min(filter(transform(_lines, (x, i) -> "
        "CASE WHEN x NOT LIKE '#%' AND x != '' THEN i END), v -> v IS NOT NULL))"
    )
    return (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(paths)
        .select(
            F.input_file_name().alias("path"),
            F.split(F.col("value"), "\r\n|\r|\n").alias("_lines"),
        )
        .withColumn("header_order", header_order)
        .select(
            "path",
            F.posexplode(F.col("_lines")).alias("row_order", "line"),
            "header_order",
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
    '#' lines skipped, parsed to REPORT_SCHEMA plus `path` and `sample_id`.

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
            f"CAST(_f[{i}] AS {field.dataType.simpleString()}) AS {field.name}"
            for i, field in enumerate(REPORT_SCHEMA.fields)
        ],
        "path",
        f"{sample_id_sql('path')} AS sample_id",
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
