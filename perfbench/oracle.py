"""Expected kraken outputs, computed in plain Python from the report files.

This is an independent model of the reference pipeline's semantics (the
ones `bigbugdata_spark.operators.kraken` documents), so every benchmark run
can check the program's CSVs for any generated fixture without the
reference implementation:

* reads of duplicate taxID rows accumulate into the combined matrix, while
  the tophits side fields (kmers, dup, reads, cov) take the last row;
* RPM is reads / (sample total / 1e6), the sample total being the reads of
  its taxID 0/1 rows; absent (sample, taxon) cells are exact zeros;
* rRPM = floor(rpm) / max(floor(control rpm), 1), or floor(rpm) / 1 for a
  sample in no control group;
* tophits rank every taxon of the dense list by (rRPM desc, taxID asc),
  keep ranks <= k, then drop taxa absent from the sample (rank gaps stay);
* z-scores are population z-scores of a taxon's dense RPM vector, NaN when
  the vector is constant.

`check_outputs` compares a result directory with the expectation. Integer
and rRPM cells must be equal, fidelity-mode combined/rRPM files must match
byte for byte, and only z-scores (whose summation order differs between
engines) are compared with a relative tolerance.
"""

from __future__ import annotations

import csv
import io
import math
import re
from dataclasses import dataclass
from pathlib import Path

RANK = "species"
TOP_FIELDS = [
    "sampleName", "taxID", "taxName", "rank", "rRPM",
    "kmers", "dup", "reads", "cov", "e_val", "z_score",
]
Z_REL_TOL = 1e-9


@dataclass
class Expected:
    report_rows: int  # data rows below the header, over all reports
    samples: list[str]
    combined: list[list]  # [taxID, taxName, total, reads per sample...]
    rrpm: list[list]  # [taxID, taxName, total, rRPM per sample...]
    tophits: list[list]  # TOP_FIELDS order; dup/cov are the raw strings


def _data_rows(path: str):
    """Yield the split data rows of one report: '#' comments and blank
    lines are skipped, and the first remaining line is the header."""
    with open(path) as fh:
        seen_header = False
        for line in fh:
            line = line.rstrip("\r\n")
            if not line or line.startswith("#"):
                continue
            if not seen_header:
                seen_header = True
                continue
            yield line.split("\t")


def _ordered_samples(ids: list[str]) -> list[str]:
    try:
        return sorted(ids, key=int)
    except ValueError:
        return sorted(ids)


def expected_outputs(
    paths: list[str], k: int, group_patterns: list[tuple[str, str]]
) -> Expected:
    report_rows = 0
    totals: dict[str, int] = {}
    fact: dict[str, dict[int, int]] = {}
    side: dict[str, dict[int, tuple[int, str, int, str]]] = {}
    names: dict[int, str] = {}
    taxon_reads: dict[int, int] = {}
    for path in paths:
        sample = Path(path).name.rpartition("_")[0]
        totals[sample] = 0
        reads_of = fact.setdefault(sample, {})
        side_of = side.setdefault(sample, {})
        for f in _data_rows(path):
            report_rows += 1
            reads, tax, rank = int(f[1]), int(f[6]), f[7]
            if tax in (0, 1):
                totals[sample] += reads
                continue
            if rank != RANK:
                continue
            reads_of[tax] = reads_of.get(tax, 0) + reads
            side_of[tax] = (int(f[3]), f[4], reads, f[5])
            name = f[8].strip()
            names[tax] = min(names.get(tax, name), name)
            taxon_reads[tax] = taxon_reads.get(tax, 0) + reads

    samples = _ordered_samples(list(fact))
    taxa = sorted(names)
    rpm = {
        s: {t: r / (totals[s] / 1_000_000.0) for t, r in fact[s].items()}
        for s in samples
    }

    controls: list[tuple[str, set[str]]] = []
    for control_pat, group_pat in group_patterns:
        (control,) = [s for s in samples if re.search(control_pat, s)]
        controls.append((control, {s for s in samples if re.search(group_pat, s)}))
    rrpm: dict[str, dict[int, float]] = {}
    for s in samples:
        c = next((c for c, members in controls if s in members), "")
        rrpm[s] = {
            t: float(math.floor(rpm[s].get(t, 0.0)))
            / (1 if c == "" else max(math.floor(rpm[c].get(t, 0.0)), 1))
            for t in taxa
        }

    combined = [
        [t, names[t], taxon_reads[t], *(fact[s].get(t, 0) for s in samples)]
        for t in taxa
    ]
    rrpm_rows = [
        [t, names[t], taxon_reads[t], *(rrpm[s][t] for s in samples)] for t in taxa
    ]

    moments: dict[int, tuple[float, float]] = {}

    def z_score(s: str, t: int) -> float:
        if t not in moments:
            vec = [rpm[x].get(t, 0.0) for x in samples]
            mean = sum(vec) / len(vec)
            moments[t] = (mean, sum((x - mean) ** 2 for x in vec) / len(vec))
        mean, var = moments[t]
        if var <= 1e-18 * mean * mean:
            return math.nan
        return (rpm[s][t] - mean) / math.sqrt(var)

    tophits = []
    for s in samples:
        ranked = sorted(taxa, key=lambda t: (-rrpm[s][t], t))[:k]
        for rank, t in enumerate(ranked, start=1):
            if t not in side[s]:
                continue  # absent from the sample: the rank gap stays
            kmers, dup, reads, cov = side[s][t]
            tophits.append([
                s, t, names[t], rank, rrpm[s][t], kmers, dup, reads, cov,
                kmers / reads * float(cov), z_score(s, t),
            ])
    return Expected(report_rows, samples, combined, rrpm_rows, tophits)


def _fidelity_text(header: list[str], rows: list[list]) -> str:
    """The CSV the reference's DictWriter writes: every value str()-ed."""
    buf = io.StringIO()
    writer = csv.writer(buf)
    writer.writerow(header)
    for row in rows:
        writer.writerow([str(v) for v in row])
    return buf.getvalue()


def _read_csv(path: Path) -> list[list[str]]:
    with open(path, newline="") as fh:
        return list(csv.reader(fh))


def _output_file(path: Path, mode: str) -> Path:
    """The CSV itself: a file in fidelity mode, the single part file of
    Spark's output directory in scale mode."""
    if mode == "fidelity":
        return path
    (part,) = sorted(path.glob("part-*.csv"))
    return part


def _same_z(want: float, got: float) -> bool:
    if math.isnan(want):
        return math.isnan(got)
    return math.isclose(want, got, rel_tol=Z_REL_TOL, abs_tol=Z_REL_TOL)


def _check_matrix(
    what: str, rows: list[list[str]], header: list[str], want: list[list], cast
) -> list[str]:
    if rows[:1] != [header]:
        return [f"{what}: header differs"]
    body = rows[1:]
    if len(body) != len(want):
        return [f"{what}: {len(body)} rows, expected {len(want)}"]
    for i, (got, exp) in enumerate(zip(body, want)):
        parsed = [int(got[0]), got[1], int(got[2]), *(cast(v) for v in got[3:])]
        if parsed != exp:
            return [f"{what}: row {i} (taxID {exp[0]}) differs"]
    return []


def _check_tophits(rows: list[list[str]], want: list[list]) -> list[str]:
    if rows[:1] != [TOP_FIELDS]:
        return ["tophits: header differs"]
    body = rows[1:]
    if len(body) != len(want):
        return [f"tophits: {len(body)} rows, expected {len(want)}"]
    for i, (got, exp) in enumerate(zip(body, want)):
        parsed = [
            got[0], int(got[1]), got[2], int(got[3]), float(got[4]),
            int(got[5]), got[6], int(got[7]), got[8], float(got[9]),
        ]
        if parsed != exp[:10] or not _same_z(exp[10], float(got[10])):
            return [f"tophits: row {i} ({exp[0]}, taxID {exp[1]}) differs"]
    return []


def check_outputs(expected: Expected, out_dir: Path, mode: str) -> list[str]:
    """Problems found in one result directory; empty when it is correct."""
    header = ["taxID", "taxName", "Total # of Reads", *expected.samples]
    files = {
        name: _output_file(out_dir / f"{name}_{RANK}.csv", mode)
        for name in ("combined", "rrpm", "tophits")
    }
    problems = []
    if mode == "fidelity":
        for name, want in (("combined", expected.combined), ("rrpm", expected.rrpm)):
            if files[name].read_bytes() != _fidelity_text(header, want).encode():
                problems.append(f"{name}: bytes differ from the expected CSV")
    else:
        problems += _check_matrix(
            "combined", _read_csv(files["combined"]), header, expected.combined, int
        )
        problems += _check_matrix(
            "rrpm", _read_csv(files["rrpm"]), header, expected.rrpm, float
        )
    problems += _check_tophits(_read_csv(files["tophits"]), expected.tophits)
    return problems
