"""Unit fixtures for kraken edge cases the goldens cannot carry (the
reference crashes on some of them): reads==0 e_val, physical row order
under the wholetext reader, and sample_id collision fail-fast. Also the
reference-free end-to-end gate (both sinks checked against the benchmark's
plain-Python oracle) and the pin that a repeated run reuses its compiled
code."""

from __future__ import annotations

import importlib.util
import math
import sys
from pathlib import Path

import pytest

from bigbugdata_spark.operators.kraken import run_pipeline, side_stats, write_outputs
from bigbugdata_spark.sources.kraken_reports import read_reports
from tests.kraken_fixtures import generate_reports

HEADER = "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName"


def _write_report(path, rows):
    lines = ["# kraken2 fake", "# Fri Aug 13 00:00:00 2026", HEADER, *rows]
    path.write_text("\n".join(lines) + "\n")


def test_e_val_null_on_zero_reads(spark, tmp_path):
    """reads == 0 -> NULL e_val (documented divergence: the reference
    raises ZeroDivisionError at bigbugdata.py:275; ANSI `/` would throw)."""
    p = tmp_path / "S1_report.txt"
    _write_report(
        p,
        [
            "50.0\t100\t100\t0\t0\t0\t0\tunclassified\tunclassified",
            "50.0\t100\t0\t10\t1.0\t0.5\t1\troot\t  root",
            "1.0\t0\t0\t5\t1.5\t0.25\t1234\tspecies\t  Zero sp.",
            "1.0\t10\t0\t5\t1.5\t0.5\t1235\tspecies\t  Ok sp.",
        ],
    )
    rows = read_reports(spark, [str(p)], with_row_order=True)
    out = {r["taxID"]: r for r in side_stats(rows).collect()}
    assert out[1234]["e_val"] is None
    assert out[1235]["e_val"] == pytest.approx((5 / 10) * 0.5)


def test_row_order_is_physical_line_order(spark, tmp_path):
    """Duplicate taxID rows: last physical row wins in side stats
    (ref bigbugdata.py:278-284), independent of scan partitioning —
    row_order is the file's line index, not a partition artifact."""
    p = tmp_path / "S1_report.txt"
    _write_report(
        p,
        [
            "50.0\t100\t100\t0\t0\t0\t0\tunclassified\tunclassified",
            "50.0\t100\t0\t10\t1.0\t0.5\t1\troot\t  root",
            "1.0\t7\t0\t111\t1.1\t0.1\t1234\tspecies\t  Dup sp.",
            "1.0\t9\t0\t222\t2.2\t0.2\t1234\tspecies\t  Dup sp.",
        ],
    )
    rows = read_reports(spark, [str(p)], with_row_order=True)
    got = {(r["taxID"], r["row_order"]) for r in rows.collect()}
    # line index: comment+comment+header occupy 0-2 in the raw file; the
    # posexplode index counts raw lines, so data rows start at 3
    assert got == {(0, 3), (1, 4), (1234, 5), (1234, 6)}
    side = {r["taxID"]: r for r in side_stats(rows).collect()}
    assert side[1234]["kmers"] == 222  # the physically-last duplicate
    assert side[1234]["sample_reads"] == 9


def test_sample_id_collision_fails_fast(spark, tmp_path):
    """Two files resolving to one sample_id must raise (the reference's
    dict silently keeps the last file — ADVICE r1)."""
    rows = [
        "50.0\t100\t100\t0\t0\t0\t0\tunclassified\tunclassified",
        "50.0\t100\t0\t10\t1.0\t0.5\t1\troot\t  root",
        "1.0\t10\t0\t5\t1.5\t0.5\t1235\tspecies\t  Ok sp.",
    ]
    p1 = tmp_path / "S1_report.txt"
    p2 = tmp_path / "S1_extra.txt"  # rpartition('_')[0] == 'S1' for both
    _write_report(p1, rows)
    _write_report(p2, rows)
    with pytest.raises(ValueError, match="same sample_id"):
        run_pipeline(spark, [str(p1), str(p2)])


def test_zscore_all_equal_is_nan(spark, tmp_path):
    """All-equal dense RPM vector -> NaN z (scipy ddof=0 semantics), via
    the relative-epsilon variance guard (ADVICE r1)."""
    paths = []
    for s in ("A_report.txt", "B_report.txt"):
        p = tmp_path / s
        _write_report(
            p,
            [
                "50.0\t1000\t1000\t0\t0\t0\t0\tunclassified\tunclassified",
                "50.0\t1000\t0\t10\t1.0\t0.5\t1\troot\t  root",
                # same reads + same totals -> identical rpm in both samples
                "1.0\t30\t0\t5\t1.5\t0.5\t1235\tspecies\t  Same sp.",
                "1.0\t40\t0\t5\t1.5\t0.5\t1236\tspecies\t  Diff sp."
                if s == "A_report.txt"
                else "1.0\t50\t0\t5\t1.5\t0.5\t1236\tspecies\t  Diff sp.",
            ],
        )
        paths.append(str(p))
    result = run_pipeline(spark, paths)
    z = {
        (r["sample_id"], r["taxID"]): r["z_score"]
        for r in result.rrpm.select("sample_id", "taxID", "z_score").collect()
    }
    assert all(math.isnan(z[(s, 1235)]) for s in ("A", "B"))
    assert not any(math.isnan(z[(s, 1236)]) for s in ("A", "B"))


# --- end to end, against the benchmark's oracle -----------------------------

GROUP_PATTERNS = [("CF_DNA_Negative$", "^CF_DNA"), ("CF_RNA_Negative$", "^CF_RNA")]
TOP_K = 15


def _load_oracle():
    """perfbench/oracle.py, loaded by path: perfbench is a script
    directory, not a package."""
    path = Path(__file__).resolve().parent.parent / "perfbench" / "oracle.py"
    spec = importlib.util.spec_from_file_location("perfbench_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses resolve through it
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def oracle_reports(tmp_path_factory):
    return sorted(generate_reports(tmp_path_factory.mktemp("reports")))


def _run_unit(spark, paths, out_dir, mode):
    result = run_pipeline(
        spark, paths, rank="species", n_tophits=TOP_K,
        group_patterns=GROUP_PATTERNS,
    )
    write_outputs(result, str(out_dir), "species", mode=mode)


@pytest.mark.parametrize("mode", ["fidelity", "scale"])
def test_outputs_match_oracle(spark, oracle_reports, tmp_path, mode):
    """Both sinks against an independent model of the reference: the
    fidelity combined/rrpm CSVs byte for byte, every other cell exact
    except z-scores (relative 1e-9). Needs no reference checkout."""
    oracle = _load_oracle()
    _run_unit(spark, oracle_reports, tmp_path, mode)
    expected = oracle.expected_outputs(oracle_reports, TOP_K, GROUP_PATTERNS)
    assert oracle.check_outputs(expected, tmp_path, mode) == []


#: Janino compiles a warm kraken unit may run. A unit generates ~170
#: distinct classes; with the session's code cache sized for that working
#: set a repeat run on this fixture compiled 0-16, while under Spark's
#: default of 100 entries it recompiled 171.
MAX_WARM_COMPILES = 40


def test_repeated_run_reuses_generated_code(spark, oracle_reports, tmp_path):
    """The second identical run_pipeline + write_outputs in one session
    must be served by the generated-code cache instead of recompiling
    (session.CODEGEN_CACHE_ENTRIES)."""
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    _run_unit(spark, oracle_reports, tmp_path / "first", "fidelity")
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    _run_unit(spark, oracle_reports, tmp_path / "second", "fidelity")
    n = compiles.METRIC_COMPILATION_TIME().getCount() - before
    assert n <= MAX_WARM_COMPILES, f"warm run compiled {n} classes"
