"""Unit fixtures for kraken edge cases the goldens cannot carry (the
reference crashes on some of them): reads==0 e_val, physical row order
under the wholetext reader, the reader's one evaluation of each file's
header index, and the sample_id collision, missing-total, missing header
field and zero-total fail-fasts. Also the reference-free end-to-end gate
(both sinks checked against the benchmark's plain-Python oracle, report
names with URI escapes among the inputs), that permuted report columns
give the same outputs, alone and after modify-reports, that a unit leaves
no frame in the session's cache, the fidelity sink's CSV quoting, the
scale tophits frame's local plan, the scale pivot's hash aggregate, and
the pins that a repeated run reuses its compiled code and stays within
its Spark job budget."""

from __future__ import annotations

import csv
import importlib.util
import io
import math
import sys
from pathlib import Path

import pytest
from pyspark.sql import Row

from bigbugdata_spark.operators.kraken import (
    TOP_FIELDS,
    _tophits_frame,
    cell_stats,
    run_pipeline,
    write_outputs,
)
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
    out = {r["taxID"]: r for r in cell_stats(rows).collect()}
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
    side = {r["taxID"]: r for r in cell_stats(rows).collect()}
    assert side[1234]["kmers"] == 222  # the physically-last duplicate
    assert side[1234]["sample_reads"] == 9


def test_header_index_evaluated_once(spark, tmp_path):
    """The reader's header index walks each file's line array once: a
    nullable index let the optimizer infer an isnotnull filter from
    `row_order > header_order` and push it below the Project that defines
    the index, so the optimized plan held the lambda twice."""
    p = tmp_path / "S1_report.txt"
    _write_report(p, ["50.0\t100\t100\t0\t0\t0\t0\tunclassified\tunclassified"])
    df = read_reports(spark, [str(p)], with_row_order=True)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("lambdafunction") == 1, plan


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


def test_missing_totals_fail_fast(spark, tmp_path):
    """A sample with no taxID 0/1 rows has no RPM denominator: the
    reference silently drops it and later KeyErrors (ref
    bigbugdata.py:121); run_pipeline must raise instead."""
    ok = tmp_path / "A_report.txt"
    _write_report(
        ok,
        [
            "50.0\t100\t100\t0\t0\t0\t0\tunclassified\tunclassified",
            "50.0\t100\t0\t10\t1.0\t0.5\t1\troot\t  root",
            "1.0\t10\t0\t5\t1.5\t0.5\t1235\tspecies\t  Ok sp.",
        ],
    )
    bad = tmp_path / "B_report.txt"
    _write_report(bad, ["1.0\t10\t0\t5\t1.5\t0.5\t1235\tspecies\t  Ok sp."])
    with pytest.raises(ValueError, match=r"cannot compute RPM\): \['B'\]"):
        run_pipeline(spark, [str(ok), str(bad)])


def test_missing_header_field_fails_fast(spark, tmp_path):
    """A report whose header lacks a canonical field: the reference's dict
    lookup raises KeyError (ref bigbugdata.py:250-254). `run` must raise
    ValueError naming the file and the field before it writes anything,
    not read NULLs into empty outputs."""
    from bigbugdata_spark.cli import main as cli_main

    ok = tmp_path / "A_report.txt"
    _write_report(
        ok,
        [
            "50.0\t100\t100\t0\t0\t0\t0\tunclassified\tunclassified",
            "50.0\t100\t0\t10\t1.0\t0.5\t1\troot\t  root",
            "1.0\t10\t0\t5\t1.5\t0.5\t1235\tspecies\t  Ok sp.",
        ],
    )
    bad = tmp_path / "B_report.txt"  # no cov column
    bad.write_text(
        "\n".join(
            [
                "# kraken2 fake",
                HEADER.replace("\tcov", ""),
                "50.0\t100\t100\t0\t0\t0\tunclassified\tunclassified",
                "50.0\t100\t0\t10\t1.0\t1\troot\t  root",
                "1.0\t10\t0\t5\t1.5\t1235\tspecies\t  Ok sp.",
            ]
        )
        + "\n"
    )
    out = tmp_path / "out"
    with pytest.raises(ValueError, match=r"B_report\.txt.*\['cov'\]"):
        cli_main(["run", "-r", str(ok), str(bad), "-o", str(out)])
    assert not out.exists()


def test_zero_totals_fail_fast(spark, tmp_path):
    """A sample whose taxID 0/1 rows sum to 0 reads has no RPM: the
    reference raises ZeroDivisionError (ref bigbugdata.py:104-127);
    run_pipeline must raise ValueError instead of emitting NULL rRPM."""
    ok = tmp_path / "A_report.txt"
    _write_report(
        ok,
        [
            "50.0\t100\t100\t0\t0\t0\t0\tunclassified\tunclassified",
            "50.0\t100\t0\t10\t1.0\t0.5\t1\troot\t  root",
            "1.0\t10\t0\t5\t1.5\t0.5\t1235\tspecies\t  Ok sp.",
        ],
    )
    bad = tmp_path / "B_report.txt"
    _write_report(
        bad,
        [
            "50.0\t0\t0\t0\t0\t0\t0\tunclassified\tunclassified",
            "50.0\t0\t0\t10\t1.0\t0.5\t1\troot\t  root",
            "1.0\t10\t0\t5\t1.5\t0.5\t1235\tspecies\t  Ok sp.",
        ],
    )
    with pytest.raises(ValueError, match=r"cannot compute RPM\): \['B'\]"):
        run_pipeline(spark, [str(ok), str(bad)])


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


def test_zscores_independent_of_partitioning(spark, tmp_path):
    """The z moments sum each taxon's rpm in sample order, so the z-scores
    come out bit-identical whatever the shuffle partitioning."""
    paths = sorted(generate_reports(tmp_path, n_samples=8, n_taxa=40))
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    saved = [spark.conf.get(k) for k in keys]
    got = []
    try:
        spark.conf.set(keys[1], "false")
        for parts in ("3", "16"):
            spark.conf.set(keys[0], parts)
            result = run_pipeline(spark, paths)
            rows = result.rrpm.select("sample_id", "taxID", "z_score").collect()
            got.append({(r["sample_id"], r["taxID"]): repr(r["z_score"]) for r in rows})
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)
    assert got[0] == got[1]


def test_fidelity_sink_quotes_like_dictwriter(spark, tmp_path):
    """A taxName holding a comma and a double quote is quoted in the
    fidelity matrices exactly as the reference's csv.DictWriter quotes
    it over str() of the same values. The generated oracle fixtures hold
    no such name."""
    name = 'Odd, "quoted" sp.'
    paths = []
    for s in ("A", "B"):
        p = tmp_path / f"{s}_report.txt"
        rows = [
            "50.0\t100\t100\t0\t0\t0\t0\tunclassified\tunclassified",
            "50.0\t100\t0\t10\t1.0\t0.5\t1\troot\t  root",
            f"1.0\t7\t0\t5\t1.5\t0.5\t1235\tspecies\t  {name}",
        ]
        if s == "A":  # B's cell of this taxon is an absent zero
            rows.append("1.0\t10\t0\t5\t1.5\t0.5\t1234\tspecies\t  Plain sp.")
        _write_report(p, rows)
        paths.append(str(p))
    result = run_pipeline(spark, paths)
    combined, rrpm, _ = write_outputs(result, str(tmp_path / "out"), "species")

    cells = result.rrpm.collect()
    fields = ["taxID", "taxName", "Total # of Reads", *result.samples]
    for path, value, zero in ((combined, "reads", 0), (rrpm, "rrpm", 0.0)):
        rows = {}
        for c in cells:
            head = {"taxID": c["taxID"], "taxName": c["taxName"],
                    "Total # of Reads": c["total_reads"]}
            row = rows.setdefault(c["taxID"], head | dict.fromkeys(result.samples, zero))
            row[c["sample_id"]] = c[value]
        buf = io.StringIO()
        writer = csv.DictWriter(buf, fieldnames=fields)
        writer.writeheader()
        for t in sorted(rows):
            writer.writerow({k: str(v) for k, v in rows[t].items()})
        assert f'"Odd, ""quoted"" sp."' in buf.getvalue()
        assert Path(path).read_bytes() == buf.getvalue().encode()


def test_scale_tophits_frame_is_local_relation(spark):
    """The scale sink's tophits frame plans as local data: a Python-RDD
    scan would fork pyspark.daemon and its workers to evaluate it."""
    row = Row(**dict(zip(TOP_FIELDS, ("A", 1, "x", 1, 1.0, 2, "1.0", 3, "0.5", None, 0.5))))
    df = _tophits_frame(spark, [row])
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert df.collect() == [row]


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


@pytest.fixture(scope="module")
def escaped_reports(tmp_path_factory, oracle_reports):
    """The oracle reports under sample names that input_file_name()
    percent-encodes or that a plain url_decode misreads: a space, '+', a
    literal '%20' and a non-ASCII letter, in a directory whose name has a
    space too."""
    out = tmp_path_factory.mktemp("escaped") / "report dir"
    out.mkdir()
    renames = {
        "CF_DNA_S001": "CF_DNA_S 001",
        "CF_DNA_S002": "CF_DNA_S+002",
        "CF_RNA_S001": "CF_RNA_S%20001",
        "CF_RNA_S002": "CF_RNA_S\u00e9002",
    }
    paths = []
    for src in map(Path, oracle_reports):
        sample = src.name.rpartition("_")[0]
        dst = out / f"{renames.get(sample, sample)}_report.txt"
        dst.write_bytes(src.read_bytes())
        paths.append(str(dst))
    return sorted(paths)


@pytest.fixture(scope="module")
def needy_reports(tmp_path_factory):
    """Every sample has fewer than TOP_K positive taxa, so every tophits
    ranking needs the dense-rank repair and keeps rank gaps."""
    return sorted(
        generate_reports(
            tmp_path_factory.mktemp("needy"), n_samples=8, n_taxa=12, p_present=0.6
        )
    )


def _run_unit(spark, paths, out_dir, mode):
    result = run_pipeline(
        spark, paths, rank="species", n_tophits=TOP_K,
        group_patterns=GROUP_PATTERNS,
    )
    write_outputs(result, str(out_dir), "species", mode=mode)


@pytest.mark.parametrize(
    "reports, mode",
    [
        pytest.param("oracle_reports", "fidelity", id="fidelity"),
        pytest.param("oracle_reports", "scale", id="scale"),
        pytest.param("needy_reports", "fidelity", id="needy-fidelity"),
        pytest.param("needy_reports", "scale", id="needy-scale"),
        pytest.param("escaped_reports", "fidelity", id="escaped-fidelity"),
        pytest.param("escaped_reports", "scale", id="escaped-scale"),
    ],
)
def test_outputs_match_oracle(spark, request, tmp_path, reports, mode):
    """Both sinks against an independent model of the reference: the
    fidelity combined/rrpm CSVs byte for byte, every other cell exact
    except z-scores (relative 1e-9). Needs no reference checkout."""
    oracle = _load_oracle()
    paths = request.getfixturevalue(reports)
    _run_unit(spark, paths, tmp_path, mode)
    expected = oracle.expected_outputs(paths, TOP_K, GROUP_PATTERNS)
    assert oracle.check_outputs(expected, tmp_path, mode) == []


#: the canonical columns permuted: reads<->taxReads, dup<->cov, taxID moved
PERMUTED = ["%", "taxReads", "reads", "taxID", "kmers", "cov", "dup", "rank", "taxName"]


def _permute(src: Path, dst: Path) -> str:
    """`src` rewritten with its header and every data row in PERMUTED
    column order; '#' lines stay as they are."""
    lines = []
    for line in src.read_text().splitlines():
        if not line.startswith("#"):
            row = dict(zip(HEADER.split("\t"), line.split("\t")))
            line = "\t".join(row[f] for f in PERMUTED)
        lines.append(line)
    dst.write_text("\n".join(lines) + "\n")
    return str(dst)


@pytest.fixture(scope="module")
def permuted_reports(tmp_path_factory, oracle_reports):
    out = tmp_path_factory.mktemp("permuted")
    return sorted(_permute(Path(p), out / Path(p).name) for p in oracle_reports)


def _outputs(out_dir: Path) -> dict[str, bytes]:
    """Each output's bytes: the fidelity sink's CSV, or the scale sink's
    part files in name order."""
    got = {}
    for p in sorted(out_dir.iterdir()):
        parts = sorted(p.glob("part-*")) if p.is_dir() else [p]
        got[p.name] = b"".join(f.read_bytes() for f in parts)
    assert len(got) == 3 and all(got.values())
    return got


@pytest.mark.parametrize("mode", ["fidelity", "scale"])
def test_run_reads_reports_by_their_headers(
    spark, oracle_reports, permuted_reports, tmp_path, mode
):
    """Each field is read by its name in its own file's header, as the
    reference's DictReader reads it (ref bigbugdata.py:250-254): the
    oracle reports with their columns permuted give the same bytes."""
    _run_unit(spark, oracle_reports, tmp_path / "canonical", mode)
    _run_unit(spark, permuted_reports, tmp_path / "permuted", mode)
    assert _outputs(tmp_path / "permuted") == _outputs(tmp_path / "canonical")


def test_completed_reordered_report_runs_alike(
    spark, oracle_reports, permuted_reports, tmp_path
):
    """modify-reports writes a report in its input's column order, and
    that output is what `run` reads next: the chain gives the same bytes
    from permuted reports as from canonical ones. modify-reports takes
    reports without the '#' preamble, as the reference's DictReader does."""
    from bigbugdata_spark.operators.modify_reports import complete_reports

    got = {}
    for name, reports in (("canonical", oracle_reports), ("permuted", permuted_reports)):
        d = tmp_path / name
        (d / "in").mkdir(parents=True)
        paths = []
        for src in map(Path, reports):
            body = [x for x in src.read_text().splitlines() if not x.startswith("#")]
            paths.append(d / "in" / src.name)
            paths[-1].write_text("\n".join(body) + "\n")
        dna = d / "dna.tsv"
        dna.write_text(
            "".join(f"{Path(p).name.rpartition('_')[0]}_L001\tx\t90000000\n" for p in paths)
        )
        rna = d / "rna.tsv"
        rna.write_text("")
        written, skipped = complete_reports(
            spark, list(map(str, paths)), str(dna), str(rna), str(d / "complete"),
            timestamp="Fri Aug 13 00:00:00 2026",
        )
        assert skipped == [] and len(written) == len(paths)
        _run_unit(spark, sorted(written), d / "out", "fidelity")
        got[name] = _outputs(d / "out")
    assert got["permuted"] == got["canonical"]


@pytest.mark.parametrize("mode", ["fidelity", "scale"])
def test_unit_leaves_no_cached_frame(spark, oracle_reports, tmp_path, mode):
    """run_pipeline and write_outputs unpersist what they persist: the
    session's CacheManager is empty after a unit, with nothing released
    by the caller."""
    spark.catalog.clearCache()
    _run_unit(spark, oracle_reports, tmp_path, mode)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


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


#: Spark jobs a warm unit may submit on this fixture, per sink mode. With
#: the top-k repaired on the driver and the fidelity matrices from one
#: Arrow collect of the long frame, a unit submitted 10 (fidelity) and 14
#: (scale). Collecting a per-taxon aggregate instead cost the fidelity
#: sink a second job (11); with the repair as a Spark subtree the units
#: submitted 25 and 19.
MAX_WARM_JOBS = {"fidelity": 12, "scale": 17}


def _last_job_id(spark) -> int:
    """The newest job id in the status store. Ids are sequential, so a
    difference of two readings counts the jobs submitted in between even
    when the store has evicted old jobs (spark.ui.retainedJobs)."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


@pytest.mark.parametrize("mode", ["fidelity", "scale"])
def test_repeated_run_job_budget(spark, oracle_reports, tmp_path, mode):
    """A warm run_pipeline + write_outputs stays within its job budget:
    every extra plan is driver time (analysis, AQE stages, JIT warm-up)
    that the data work at these sizes does not need."""
    _run_unit(spark, oracle_reports, tmp_path / "first", mode)
    before = _last_job_id(spark)
    _run_unit(spark, oracle_reports, tmp_path / "second", mode)
    n = _last_job_id(spark) - before
    assert n <= MAX_WARM_JOBS[mode], f"warm {mode} run submitted {n} jobs"


# --- kraken matrix-sink pivot stays HashAggregate (r13) --------------------


def test_kraken_scale_pivot_is_hash_aggregate(spark, tmp_path):
    """The scale sink's per-taxon aggregate must HashAggregate: the r12
    struct-valued PivotFirst silently fell to SortAggregate (two full
    sorts of the long fact — measured 0.5-1.1 s on the bench fixture);
    the r13 dual-scalar form keeps primitive slot buffers.  Pinned
    here so a future 'tidy it into one struct agg' change is a red X,
    not a silent regression."""
    from bigbugdata_spark.operators.kraken import _taxon_entries, run_pipeline

    rows = [
        "50.0\t100\t100\t0\t0\t0\t0\tunclassified\tunclassified",
        "50.0\t100\t0\t10\t1.0\t0.5\t1\troot\t  root",
        "1.0\t10\t0\t5\t1.5\t0.5\t1235\tspecies\t  Ok sp.",
    ]
    paths = []
    for s in ("A_report.txt", "B_report.txt"):
        p = tmp_path / s
        _write_report(p, rows)
        paths.append(str(p))
    result = run_pipeline(spark, paths)
    by_taxon = _taxon_entries(result.rrpm)
    plan = by_taxon._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan
