"""Golden tests for the modify_reports domain pipeline and the filter
CLIs: byte-for-byte against the actual reference scripts, plus the full
two-step e2e (completion -> main pipeline). The line-reading commands are
also checked without the reference, against plain-Python text-mode
witnesses, on inputs with each of the three line endings."""

from __future__ import annotations

import contextlib
import csv
import importlib.util
import io
import random
import sys

import pytest

from bigbugdata_spark.operators.kraken import run_pipeline, write_outputs
from bigbugdata_spark.operators.modify_reports import complete_reports
from tests.kraken_fixtures import load_reference
from tests.test_kraken_golden import _assert_rows_match, _read_csv

HEADER = "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName"
FROZEN_TS = "Fri Aug 13 00:00:00 2026"


def _load_ref_script(name: str):
    spec = importlib.util.spec_from_file_location(
        f"reference_{name}", f"/root/reference/scripts/{name}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _FrozenDatetime:
    @staticmethod
    def now():
        class _T:
            @staticmethod
            def strftime(_fmt):
                return FROZEN_TS

        return _T()


def _gen_species_reports(base, n_samples=6, n_taxa=120, seed=7):
    """Species-level inputs for the completion step: header + species rows
    (no preamble, no taxID-0/1 — that's what modify_reports synthesizes),
    plus DNA/RNA totalreads TSVs with an overlapping sample for the
    last-wins merge."""
    base.mkdir(parents=True, exist_ok=True)
    rng = random.Random(seed)
    samples = [f"CF_DNA_S{i:03d}" for i in range(1, n_samples + 1)]
    report_paths = []
    totals = {}
    for s in samples:
        lines = [HEADER]
        classified = 0
        for t in range(n_taxa):
            if rng.random() < 0.7:
                reads = rng.randint(1, 50_000)
                classified += reads
                kmers = rng.randint(1, 5 * reads)
                lines.append(
                    f"0.01\t{reads}\t{reads}\t{kmers}\t{rng.uniform(1, 9):.4f}"
                    f"\t{rng.uniform(0, 1):.6f}\t{2000 + t}\tspecies"
                    f"\t  Species sp. {2000 + t}"
                )
        # genus distractor rows are excluded from classified sums
        lines.append(
            f"0.01\t{rng.randint(1, 9999)}\t0\t{rng.randint(1, 999)}\t1.0\t0.1"
            f"\t900\tgenus\t  Genus g."
        )
        p = base / f"{s}_report.tsv"
        p.write_text("\n".join(lines) + "\n")
        report_paths.append(str(p))
        totals[s] = classified * 2 + rng.randint(0, 10_000)

    dna = base / "dna_totalreads.tsv"
    dna.write_text(
        "".join(f"{s}_L001\tx\t{totals[s]}\n" for s in samples)
    )
    # RNA overrides the first two samples (last-wins) and adds nothing new
    rna = base / "rna_totalreads.tsv"
    rna.write_text(
        "".join(f"{s}_L001\tx\t{totals[s] + 777}\n" for s in samples[:2])
    )
    return report_paths, str(dna), str(rna)


@pytest.fixture(scope="module")
def completed(tmp_path_factory, spark):
    base = tmp_path_factory.mktemp("modify")
    report_paths, dna, rna = _gen_species_reports(base / "inputs")

    ref_mod = _load_ref_script("modify_reports")
    ref_mod.datetime = _FrozenDatetime  # pin the preamble timestamp
    ref_mod.create_complete_reports(
        species_reports=report_paths,
        dna_totalreads=dna,
        rna_totalreads=rna,
        output_dir=str(base / "ref_out"),
    )

    ours, skipped = complete_reports(
        spark,
        species_reports=report_paths,
        dna_totalreads=dna,
        rna_totalreads=rna,
        output_dir=str(base / "our_out"),
        timestamp=FROZEN_TS,
    )
    assert skipped == []
    return base, ours


def test_complete_reports_byte_identical(completed):
    base, ours = completed
    ref_files = sorted((base / "ref_out").glob("*.tsv"))
    our_files = sorted((base / "our_out").glob("*.tsv"))
    assert [p.name for p in ref_files] == [p.name for p in our_files]
    for rf, of in zip(ref_files, our_files):
        assert of.read_bytes() == rf.read_bytes(), of.name


def test_two_step_e2e_matches_reference(completed, spark):
    """completion -> main pipeline == the reference's two-step run, on
    every output CSV (op 23's sink feeding ops 1-17)."""
    base, ours = completed
    ref = load_reference()
    ref.run(
        report_paths=sorted(
            str(p) for p in (base / "ref_out").glob("*_species-level-report.tsv")
        ),
        results_path=str(base / "ref_results"),
        rank="species",
        n_tophits=15,
        group_patterns=None,
    )
    result = run_pipeline(
        spark,
        sorted(str(p) for p in (base / "our_out").glob("*_species-level-report.tsv")),
        rank="species",
        n_tophits=15,
        group_patterns=None,
    )
    write_outputs(result, str(base / "our_results"), "species")
    for name in ("combined_species", "rrpm_species", "tophits_species"):
        ref_rows = _read_csv(base / "ref_results" / f"{name}.csv")
        our_rows = _read_csv(base / "our_results" / f"{name}.csv")
        float_cols = (
            {"rRPM", "e_val", "z_score"}
            if name.startswith("tophits")
            else {k for k in ref_rows[0] if k not in ("taxID", "taxName")}
        )
        _assert_rows_match(ref_rows, our_rows, float_cols=float_cols, where=name)


REORDERED_HEADER = "taxID\trank\treads\tkmers\ttaxReads\tdup\tcov\t%\ttaxName"


def _gen_reordered_report(base, sample, n_taxa=40, seed=23):
    """A report whose header (and row layout) is a permutation of the
    canonical columns — the older-KrakenUniq shape the reference absorbs
    via DictReader (ref scripts/modify_reports.py:59-73)."""
    base.mkdir(parents=True, exist_ok=True)
    rng = random.Random(seed)
    lines = [REORDERED_HEADER]
    classified = 0
    for t in range(n_taxa):
        reads = rng.randint(1, 10_000)
        classified += reads
        lines.append(
            f"{3000 + t}\tspecies\t{reads}\t{rng.randint(1, 99)}\t{reads}"
            f"\t1.0\t0.5\t0.01\t  Sp {3000 + t}"
        )
    p = base / f"{sample}_report.tsv"
    p.write_text("\n".join(lines) + "\n")
    totals = classified * 2 + 123
    dna = base / "dna_totalreads.tsv"
    dna.write_text(f"{sample}_L001\tx\t{totals}\n")
    rna = base / "rna_totalreads.tsv"
    rna.write_text("")
    return str(p), str(dna), str(rna)


def test_adapt_headers_matches_reference(tmp_path, spark, capsys):
    """Reordered-header report: reference parses/writes by the file's own
    header; ours must be byte-identical under adapt_headers=True — and
    the per-report summary stdout must match line for line."""
    report, dna, rna = _gen_reordered_report(tmp_path / "in", "CF_RNA_S900")

    ref_mod = _load_ref_script("modify_reports")
    ref_mod.datetime = _FrozenDatetime
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ref_mod.create_complete_reports(
            species_reports=[report],
            dna_totalreads=dna,
            rna_totalreads=rna,
            output_dir=str(tmp_path / "ref_out"),
        )
    ref_stdout = buf.getvalue()

    capsys.readouterr()  # drain
    ours, skipped = complete_reports(
        spark,
        species_reports=[report],
        dna_totalreads=dna,
        rna_totalreads=rna,
        output_dir=str(tmp_path / "our_out"),
        timestamp=FROZEN_TS,
        adapt_headers=True,
    )
    our_stdout = capsys.readouterr().out
    assert skipped == []
    ref_file = tmp_path / "ref_out" / "CF_RNA_S900_species-level-report.tsv"
    our_file = tmp_path / "our_out" / "CF_RNA_S900_species-level-report.tsv"
    assert our_file.read_bytes() == ref_file.read_bytes()
    # stdout parity modulo the differing output directories
    norm = lambda s, d: s.replace(str(d) + "/", "")
    assert norm(our_stdout, tmp_path / "our_out") == norm(
        ref_stdout, tmp_path / "ref_out"
    )


def test_reordered_header_fails_fast_by_default(tmp_path, spark):
    report, dna, rna = _gen_reordered_report(tmp_path / "in", "CF_RNA_S901")
    with pytest.raises(ValueError, match="non-canonical report header"):
        complete_reports(
            spark,
            species_reports=[report],
            dna_totalreads=dna,
            rna_totalreads=rna,
            output_dir=str(tmp_path / "out"),
            timestamp=FROZEN_TS,
        )


def test_duplicate_sample_last_file_wins(tmp_path, spark):
    """Two inputs resolving to the same sample: the reference processes
    each independently and the later file overwrites the earlier one's
    output — no cross-file merging (ADVICE r2 #5)."""
    rng = random.Random(31)
    paths = []
    for d, reads0 in (("one", 100), ("two", 555)):
        sub = tmp_path / d
        sub.mkdir()
        lines = [HEADER]
        for t in range(5):
            reads = reads0 + t
            lines.append(
                f"0.01\t{reads}\t{reads}\t{rng.randint(1, 99)}\t1.0\t0.5"
                f"\t{4000 + t}\tspecies\t  Sp {4000 + t}"
            )
        p = sub / "CF_DNA_S777_report.tsv"
        p.write_text("\n".join(lines) + "\n")
        paths.append(str(p))
    dna = tmp_path / "dna.tsv"
    dna.write_text("CF_DNA_S777_L001\tx\t99999\n")
    rna = tmp_path / "rna.tsv"
    rna.write_text("")

    ref_mod = _load_ref_script("modify_reports")
    ref_mod.datetime = _FrozenDatetime
    with contextlib.redirect_stdout(io.StringIO()):
        ref_mod.create_complete_reports(
            species_reports=paths,
            dna_totalreads=str(dna),
            rna_totalreads=str(rna),
            output_dir=str(tmp_path / "ref_out"),
        )
    ours, skipped = complete_reports(
        spark,
        species_reports=paths,
        dna_totalreads=str(dna),
        rna_totalreads=str(rna),
        output_dir=str(tmp_path / "our_out"),
        timestamp=FROZEN_TS,
    )
    assert skipped == [] and len(ours) == 2  # both processed, same path
    ref_file = tmp_path / "ref_out" / "CF_DNA_S777_species-level-report.tsv"
    our_file = tmp_path / "our_out" / "CF_DNA_S777_species-level-report.tsv"
    assert our_file.read_bytes() == ref_file.read_bytes()
    # the surviving content is the SECOND file's (classified sum 555..559)
    assert "2785" in our_file.read_text()  # 555+556+557+558+559


def _capture_stdout(fn, argv):
    buf = io.StringIO()
    old = sys.argv
    try:
        sys.argv = argv
        with contextlib.redirect_stdout(buf):
            fn()
    finally:
        sys.argv = old
    return buf.getvalue()


def test_filter_rrpm_matches_reference(tmp_path, spark):
    rng = random.Random(11)
    rrpm = tmp_path / "rrpm.csv"
    with open(rrpm, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["taxID", "taxName", "S1", "S2"])
        for t in range(50):
            w.writerow([2000 + t, f"Sp {t}", rng.randint(0, 9), rng.randint(0, 9)])
    taxids = tmp_path / "taxids.csv"
    with open(taxids, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["taxID"])
        for t in rng.sample(range(2000, 2050), 12):
            w.writerow([t])

    # quoted field containing a comma: csv.DictWriter quotes it; both the
    # reference's DictReader and our quote-aware parse must keep columns
    # aligned (a naive split(',') would misindex taxID)
    with open(rrpm, "a", newline="") as fh:
        w = csv.writer(fh)
        w.writerow([2050, "Severe virus, strain B", 3, 4])
    with open(taxids, "a", newline="") as fh:
        csv.writer(fh).writerow([2050])

    ref_mod = _load_ref_script("filter_rrpm_by_taxid")
    want = _capture_stdout(
        ref_mod.main, ["x", "--rrpm", str(rrpm), "--taxids", str(taxids)]
    )
    from bigbugdata_spark.cli import main as cli_main

    got = _capture_stdout(
        lambda: cli_main(["filter-rrpm", "--rrpm", str(rrpm), "--taxids", str(taxids)]),
        ["x"],
    )
    assert got == want
    assert len(want) > 0


def test_filter_reports_matches_reference(tmp_path, spark):
    """Preamble-less completed reports (the only input the reference's
    DictReader parses — see cli.py divergence note)."""
    rng = random.Random(13)
    folder = tmp_path / "reports"
    folder.mkdir()
    for s in ("A01", "B02"):
        lines = [HEADER]
        for t in range(30):
            lines.append(
                f"0.01\t{rng.randint(1, 999)}\t0\t{rng.randint(1, 99)}\t1.0\t0.5"
                f"\t{2000 + t}\tspecies\t  Sp {2000 + t}"
            )
        (folder / f"{s}_species-level-report.tsv").write_text(
            "\n".join(lines) + "\n"
        )
    taxids = tmp_path / "taxids.csv"
    with open(taxids, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["taxID"])
        for t in rng.sample(range(2000, 2030), 9):
            w.writerow([t])

    ref_mod = _load_ref_script("filter_reports_by_taxid")
    want = _capture_stdout(
        ref_mod.main, ["x", "--folder", str(folder), "--taxids", str(taxids)]
    )
    from bigbugdata_spark.cli import main as cli_main

    got = _capture_stdout(
        lambda: cli_main(
            ["filter-reports", "--folder", str(folder), "--taxids", str(taxids)]
        ),
        ["x"],
    )
    assert got == want
    assert len(want) > 0


# --- reference-free: the line-reading commands against text mode ----------
#
# The reference reads every input in Python's text mode, where "\r\n" and a
# lone "\r" end a line as "\n" does. Each test writes the same input with
# each of the three line endings and checks the command against a plain-
# Python witness that reads it the reference's way.

LINE_ENDINGS = pytest.mark.parametrize(
    "ending", ["\n", "\r\n", "\r"], ids=["lf", "crlf", "cr"]
)


def _write_lines(path, lines, ending):
    path.write_bytes("".join(line + ending for line in lines).encode())
    return str(path)


def _taxid_set(taxids):
    with open(taxids) as fh:
        return {row["taxID"] for row in csv.DictReader(fh)}


def _stdout_csv(rows, fieldnames):
    out = io.StringIO()
    if rows:
        writer = csv.DictWriter(out, fieldnames=fieldnames)
        writer.writeheader()
        writer.writerows(rows)
    return out.getvalue()


def _filter_rrpm_witness(rrpm, taxids):
    keep = _taxid_set(taxids)
    with open(rrpm) as fh:
        reader = csv.DictReader(fh)
        rows = [row for row in reader if row["taxID"] in keep]
        return _stdout_csv(rows, reader.fieldnames)


def _filter_reports_witness(folder, taxids):
    """Text-mode DictReader per report, with the port's one documented
    divergence: '#' preamble lines are skipped (cli.py docstring)."""
    keep = _taxid_set(taxids)
    rows, fields = [], None
    for path in sorted(folder.glob("*_species-level-report.tsv")):
        with open(path) as fh:
            reader = csv.DictReader(
                (line for line in fh if not line.startswith("#")), delimiter="\t"
            )
            for row in reader:
                if row["taxID"] in keep:
                    rows.append({"sampleName": path.name.split("_")[0], **row})
            fields = reader.fieldnames
    return _stdout_csv(rows, ["sampleName", *fields])


@LINE_ENDINGS
def test_filter_rrpm_matches_text_mode(tmp_path, spark, ending):
    rng = random.Random(41)
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(["taxID", "taxName", "S1", "S2"])
    for t in range(30):
        w.writerow([2000 + t, f"Sp {t}", rng.randint(0, 9), rng.randint(0, 9)])
    w.writerow([2030, "Severe virus, strain B", 3, 4])  # a quoted comma
    rrpm = _write_lines(tmp_path / "rrpm.csv", buf.getvalue().splitlines(), ending)
    picked = [str(t) for t in rng.sample(range(2000, 2030), 8)] + ["2030"]
    taxids = _write_lines(tmp_path / "taxids.csv", ["taxID", *picked], "\n")

    want = _filter_rrpm_witness(rrpm, taxids)
    from bigbugdata_spark.cli import main as cli_main

    got = _capture_stdout(
        lambda: cli_main(["filter-rrpm", "--rrpm", rrpm, "--taxids", taxids]), ["x"]
    )
    assert want.count("\r\n") == 10  # header + 9 rows
    assert got == want


@LINE_ENDINGS
def test_filter_reports_matches_text_mode(tmp_path, spark, ending):
    rng = random.Random(43)
    folder = tmp_path / "reports"
    folder.mkdir()
    for s in ("A01", "B02", "C03"):
        lines = ["# kraken2 --report x", "# Fri Aug 13 00:00:00 2026", HEADER]
        for t in range(20):
            lines.append(
                f"0.01\t{rng.randint(1, 999)}\t0\t{rng.randint(1, 99)}\t1.0\t0.5"
                f"\t{2000 + t}\tspecies\t  Sp {2000 + t}"
            )
        _write_lines(folder / f"{s}_species-level-report.tsv", lines, ending)
    picked = [str(t) for t in rng.sample(range(2000, 2020), 6)]
    taxids = _write_lines(tmp_path / "taxids.csv", ["taxID", *picked], "\n")

    want = _filter_reports_witness(folder, taxids)
    from bigbugdata_spark.cli import main as cli_main

    got = _capture_stdout(
        lambda: cli_main(["filter-reports", "--folder", str(folder), "--taxids", taxids]),
        ["x"],
    )
    assert want.count("\r\n") == 1 + 3 * 6
    assert got == want


def _modify_header_witness(report):
    """The reference's header rule: DictReader takes the file's first line
    as its fieldnames. (fields, species rows), or None when a canonical
    field is missing, where the reference cannot write its synthesized
    rows."""
    with open(report) as fh:
        reader = csv.DictReader(fh, delimiter="\t")
        rows = list(reader)
        fields = reader.fieldnames
    if any(f not in fields for f in HEADER.split("\t")):
        return None
    return fields, [r for r in rows if r["rank"] == "species"]


@LINE_ENDINGS
@pytest.mark.parametrize("layout", ["canonical", "reordered", "preamble"])
def test_modify_reports_header_rule_matches_text_mode(tmp_path, spark, ending, layout):
    rng = random.Random(47)
    header = REORDERED_HEADER if layout == "reordered" else HEADER
    fields = header.split("\t")
    lines = ["# kraken2 --report x", "# Fri Aug 13"] if layout == "preamble" else []
    lines.append(header)
    classified = 0
    for t in range(25):
        reads = rng.randint(1, 9999)
        rank = "species" if t % 5 else "genus"
        classified += reads if rank == "species" else 0
        row = {
            "%": "0.01", "reads": str(reads), "taxReads": str(reads),
            "kmers": str(rng.randint(1, 99)), "dup": "1.0", "cov": "0.5",
            "taxID": str(5000 + t), "rank": rank, "taxName": f"  Sp {5000 + t}",
        }
        lines.append("\t".join(row[f] for f in fields))
    sample = "CF_DNA_S042"
    report = _write_lines(tmp_path / f"{sample}_report.tsv", lines, ending)
    dna = _write_lines(tmp_path / "dna.tsv", [f"{sample}_L001\tx\t{3 * classified}"], ending)
    rna = _write_lines(tmp_path / "rna.tsv", [], ending)
    out_dir = tmp_path / "out"

    def complete():
        return complete_reports(
            spark, species_reports=[report], dna_totalreads=dna, rna_totalreads=rna,
            output_dir=str(out_dir), timestamp=FROZEN_TS, adapt_headers=True,
        )

    witness = _modify_header_witness(report)
    if witness is None:
        assert layout == "preamble"
        with pytest.raises(ValueError):
            complete()
        return
    want_fields, want_species = witness
    written, skipped = complete()
    assert skipped == [] and len(written) == 1
    out = (out_dir / f"{sample}_species-level-report.tsv").read_text().split("\n")
    assert out[2] == "\t".join(want_fields)
    body = [dict(zip(want_fields, line.split("\t"))) for line in out[3:-1]]
    root = [r for r in body if r["rank"] == "root"]
    assert [r["reads"] for r in root] == [str(classified)]
    assert [r for r in body if r["rank"] == "species"] == want_species
