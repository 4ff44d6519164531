"""The report-completion preprocessor — Spark port of the reference's
`create_complete_reports` (ref scripts/modify_reports.py:8-146): merge
DNA/RNA total-read tables (RNA overrides, op 20), compute per-sample
classified sums (op 21), synthesize `unclassified`/`root` rows (op 22),
and write completed per-sample TSV reports with the kraken preamble
(op 23 sink).

Spark does the data work — ordered multi-file scan, last-wins merge,
classified/kmers aggregation — distributed; the driver formats the TWO
synthesized rows per report and writes the per-report files. The echoed
species rows DO transit the driver (collected per file to be written
into local per-sample TSVs — the sink the reference defines), so driver
memory is bounded by reports x report size: KrakenUniq reports are
taxonomy-bounded (<=10^5 rows / a few MB each), the same bound the
ordered line reader assumes. Echoed rows are the raw input
line bytes, which is exactly what the reference's DictWriter re-emits
for tab-free fields.

Fidelity notes:
* reports are processed PER FILE in input order, exactly like the
  reference's loop (ref :42-146): two inputs resolving to the same
  sample_name each get processed and the later one overwrites the
  earlier one's output file — no cross-file merging (ADVICE r2 #5);
* each file is parsed BY ITS OWN header row, as the reference's
  csv.DictReader does (ref :59-73), and the output carries that header's
  column order. A header missing one of the nine canonical fields
  raises — the reference's DictWriter would raise the same way when
  writing the synthesized rows (csv 'dict contains fields not in
  fieldnames'), we just say so before doing the work — and so does a '#'
  line before the header, which DictReader would take as the header;
* per-report summary stats print to stdout exactly like the reference
  (ref :141-146): Created complete report / Total / Classified /
  Unclassified, plus the negative-unclassified and missing-totals
  warnings (ref :47-49, :84-88);
* the preamble timestamp is injectable for determinism (the reference
  stamps datetime.now(), ref :101); None keeps wall-clock behavior.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.sources.kraken_reports import (
    REPORT_FIELDS,
    read_lines_ordered,
    require_fields,
    write_tsv_with_preamble,
)


def read_totalreads(spark: SparkSession, path: str, priority: int) -> DataFrame:
    """One totals TSV (sample, _, total_reads — ref :24-37): rows keyed by
    sample.rpartition('_')[0] with a merge priority."""
    lines = read_lines_ordered(spark, path)
    f = F.split(F.col("line"), "\t")
    return lines.select(
        F.regexp_extract(f.getItem(0), r"^(.*)_", 1).alias("sample_name"),
        f.getItem(2).cast("long").alias("total_reads"),
        F.lit(priority).alias("pri"),
        F.col("row_order"),
    )


def merged_totals(
    spark: SparkSession, dna_path: str, rna_path: str
) -> DataFrame:
    """DNA then RNA totals, RNA overriding on collision (op 20 last-wins;
    within one file, later rows override earlier — dict semantics)."""
    both = read_totalreads(spark, dna_path, 1).unionByName(
        read_totalreads(spark, rna_path, 2)
    )
    return both.groupBy("sample_name").agg(
        F.max_by("total_reads", F.struct("pri", "row_order")).alias("total_reads")
    )


def complete_reports(
    spark: SparkSession,
    species_reports: list[str],
    dna_totalreads: str,
    rna_totalreads: str,
    output_dir: str,
    timestamp: str | None = None,
) -> tuple[list[str], list[str]]:
    """Run the completion pipeline; returns (written paths, skipped
    samples). See module docstring for the division of labor."""
    from datetime import datetime

    out_dir = Path(output_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    if timestamp is None:
        timestamp = datetime.now().strftime("%a %b %d %H:%M:%S %Y")

    lines = read_lines_ordered(spark, species_reports)
    # each file's header row, and any '#' line before it: the reference's
    # DictReader takes a file's first line as its header, so it cannot
    # parse a report with a preamble
    head_rows = lines.filter(
        (F.col("header_order") < 0) | (F.col("row_order") <= F.col("header_order"))
    ).collect()

    # per-file fieldnames, mirroring DictReader (ref :58-73)
    fields_by_path: dict[str, list[str]] = {}
    for r in head_rows:
        if r["row_order"] != r["header_order"]:
            raise ValueError(f"'#' line before the report header in: [{r['path']!r}]")
        require_fields(r["path"], r["header"])
        fields_by_path[r["path"]] = r["header"]

    # each field at its position in its own file's header
    rows = lines.filter(F.col("row_order") > F.col("header_order")).selectExpr(
        "path",
        "row_order",
        "line",
        *[
            f"CAST(get(split(line, '\t'), field_at[{i}] - 1) AS {t}) AS {f}"
            for i, (f, t) in enumerate(REPORT_FIELDS.items())
            if f in ("reads", "kmers", "rank")
        ],
    )
    species = rows.filter(F.col("rank") == "species")
    # per-FILE aggregates (op 21) + the ordered raw lines to echo; keyed
    # by path, not sample, so duplicate samples stay independent (ref
    # processes each file and last-wins on the output path)
    agg = species.groupBy("path").agg(
        F.sum("reads").alias("classified"),
        F.sum("kmers").alias("sum_kmers"),
        F.array_sort(F.collect_list(F.struct("row_order", "line"))).alias("pw"),
    )
    totals = {
        r["sample_name"]: r["total_reads"]
        for r in merged_totals(spark, dna_totalreads, rna_totalreads).collect()
    }

    agg_by_path = {r["path"]: r for r in agg.collect()}

    # driver side: O(files) formatting of the two synthesized rows
    written: list[str] = []
    skipped: list[str] = []
    for report in species_reports:
        report_path = os.path.abspath(report)
        sample = os.path.basename(report).rpartition("_")[0]
        if sample not in totals:
            print(f"Warning: No total reads data found for sample {sample}")
            skipped.append(sample)
            continue
        r = agg_by_path.get(report_path)  # None -> report had no species rows
        fields = fields_by_path.get(report_path, list(REPORT_FIELDS))  # default: empty file
        total = totals[sample]
        classified = r["classified"] if r is not None else 0
        sum_kmers = r["sum_kmers"] if r is not None else 0
        echo = r["pw"] if r is not None else []
        unclassified = total - classified
        if unclassified < 0:
            print(
                f"Warning: Sample {sample} has more classified reads than total reads!"
            )
            unclassified = 0
        path = out_dir / f"{sample}_species-level-report.tsv"

        def synthesized(reads: int, kmers: int, tax_id: str, name: str) -> str:
            """A synthesized row (op 22) in this report's column order: the
            REPORT_FIELDS values, with dup and cov 0."""
            pct = f"{(reads / total) * 100:.4f}"
            values = (pct, str(reads), str(reads), str(kmers), "0", "0", tax_id, name, name)
            entry = dict(zip(REPORT_FIELDS, values))
            return "\t".join(entry.get(f_, "") for f_ in fields)

        body_lines: list[str] = []
        if unclassified > 0:
            body_lines.append(synthesized(unclassified, 0, "0", "unclassified"))
        body_lines.append(synthesized(classified, sum_kmers, "1", "root"))
        body_lines.extend(s["line"] for s in echo)
        write_tsv_with_preamble(
            path,
            preamble=[
                f"# kraken2 --db /path/to/krakendb --threads 8 --paired "
                f"--output {sample}_kraken.out --report "
                f"{sample}_species-level-report.tsv",
                f"# {timestamp}",
            ],
            header="\t".join(fields),
            body_lines=body_lines,
        )
        written.append(str(path))
        print(f"Created complete report: {path}")
        print(f"  Total reads: {total:,}")
        print(f"  Classified reads: {classified:,}")
        print(f"  Unclassified reads: {unclassified:,}")
        print()
    return written, skipped
