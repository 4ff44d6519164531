#!/usr/bin/env python3
"""Benchmark of the kraken pipeline: report TSVs -> combined/rrpm/tophits CSVs.

Run from the repository root:

    python3 perfbench/run.py --workload kraken_fidelity_48x1000 --seed 1 \\
        --seconds 5 --trace 0

One process is one closed-loop client on `local[<cores>]`: it generates the
workload's reports from the seed, starts Spark (`setup_s`), runs one cold
unit (`first_s`), then warm units back to back until `--seconds` of warm
time is measured, one at least. A unit is `run_pipeline` + `write_outputs`.
Every unit's CSVs are checked against `oracle.py` outside the timed window,
and a wrong or failed unit counts in `failed`.

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones
(see README.md). The last line of stdout is the JSON result; the line
before it records the run's seed, cores, versions and commit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent

import layers  # noqa: E402  (this directory is sys.path[0])
import oracle  # noqa: E402


@dataclass(frozen=True)
class Workload:
    samples: int
    taxa: int
    mode: str  # write_outputs mode


WORKLOADS = {
    "kraken_fidelity_48x1000": Workload(samples=48, taxa=1_000, mode="fidelity"),
    "kraken_scale_192x250": Workload(samples=192, taxa=250, mode="scale"),
}
GROUP_PATTERNS = [("CF_DNA_Negative$", "^CF_DNA"), ("CF_RNA_Negative$", "^CF_RNA")]
TOP_K = 15
#: the driver JVM's fixed heap size. Under the session's 8g cap the heap
#: grows by a different amount in each run, and the peak RSS with it.
DRIVER_MEMORY = "2g"
#: past the minimum unit count, no new unit starts after this many
#: seconds of the run, so a slow host still exits inside three minutes
START_DEADLINE_S = 120.0


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def require_repo() -> None:
    """Exit non-zero unless the program under test sits next to us."""
    for rel in ("bigbugdata_spark/operators/kraken.py", "tests/kraken_fixtures.py"):
        if not (ROOT / rel).is_file():
            sys.exit(f"perfbench: {ROOT / rel} not found; run from a checkout")


def isolate(work: Path) -> int:
    """Keep every file Spark, the JVM and Python write under `work`, and
    size Spark to the cores this process may use. Returns that count."""
    cores = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # the JVM's temp files and its hsperfdata file default to /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, str(ROOT))
    return cores


def git_commit() -> str | None:
    """HEAD of the checkout, read without running git; None outside git."""
    git = ROOT / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if (git / ref).is_file():
            return (git / ref).read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    return None


class Bench:
    """One benchmark process: set-up, units, checks and the trace."""

    def __init__(self, args: argparse.Namespace, work: Path):
        self.args = args
        self.work = work
        self.workload = WORKLOADS[args.workload]
        self.traced = bool(args.trace)
        self.units: list[dict] = []
        self.failed = 0

    # -- set-up -----------------------------------------------------------

    def make_inputs(self) -> None:
        t0 = time.perf_counter()
        from tests.kraken_fixtures import generate_reports

        wl = self.workload
        self.paths = sorted(
            generate_reports(
                self.work / "reports", n_samples=wl.samples, n_taxa=wl.taxa,
                seed=self.args.seed,
            )
        )
        self.expected = oracle.expected_outputs(self.paths, TOP_K, GROUP_PATTERNS)
        self.rows = self.expected.report_rows
        self.inputs_s = time.perf_counter() - t0

    def set_up(self) -> None:
        t0 = time.perf_counter()
        from bigbugdata_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.defaultJavaOptions": f"-Xms{DRIVER_MEMORY}",
            },
        )
        t1 = time.perf_counter()
        from bigbugdata_spark.registry import load_all

        load_all()
        from bigbugdata_spark import caching
        from bigbugdata_spark.operators import kraken

        self.kraken, self.caching = kraken, caching
        t2 = time.perf_counter()
        self.setup = {"setup_s": t2 - t0, "get_spark_s": t1 - t0, "load_all_s": t2 - t1}

    # -- units --------------------------------------------------------------

    def run_unit(self, traced: bool) -> dict:
        """One timed unit, then its check and clean-up (untimed)."""
        out = self.work / f"out{len(self.units)}"
        spans = {n: layers.Span(n) for n in ("unit", "run_pipeline", "write_outputs")}
        unit: dict = {"traced": traced, "spans": spans, "problems": []}
        jvm0 = layers.jvm_counters(self.spark) if traced else None
        cpu0 = layers.tree_cpu_s(os.getpid())
        with spans["unit"]:
            try:
                self.call_layers(spans, out)
            except Exception as exc:  # noqa: BLE001 — a failed unit is counted
                unit["problems"].append(f"{type(exc).__name__}: {exc}")
        unit["cpu_s"] = layers.tree_cpu_s(os.getpid()) - cpu0
        unit["wall_s"] = spans["unit"].wall_s
        if traced:
            unit["jvm"] = {
                k: v - jvm0[k] for k, v in layers.jvm_counters(self.spark).items()
            }
            unit["cached_bytes"] = layers.cached_bytes(self.spark)
            unit["output_bytes"] = sum(
                f.stat().st_size for f in out.rglob("*") if f.is_file()
            )
        if not unit["problems"]:
            unit["problems"] = oracle.check_outputs(self.expected, out, self.workload.mode)
        self.failed += bool(unit["problems"])
        self.clean_up(unit, out)
        self.units.append(unit)
        return unit

    def call_layers(self, spans: dict[str, layers.Span], out: Path) -> None:
        """The unit's two calls. The pipeline's result is dropped on return,
        so `clean_up` can collect it."""
        with spans["run_pipeline"]:
            result = self.kraken.run_pipeline(
                self.spark, self.paths, rank=oracle.RANK, n_tophits=TOP_K,
                group_patterns=GROUP_PATTERNS,
            )
        with spans["write_outputs"]:
            self.kraken.write_outputs(result, str(out), oracle.RANK, mode=self.workload.mode)

    def clean_up(self, unit: dict, out: Path) -> None:
        """Return the session to the state the unit found it in. The
        pipeline's pinned frames are tracked weakly, so by now most have
        been collected and `release_pinned` misses their blocks;
        `clearCache` drops those too, so every unit scans its input. The
        garbage of one unit is collected before the next starts, Python's
        first, because a collected py4j proxy frees its JVM object."""
        unit["pinned"] = self.caching.release_pinned(self.spark)
        self.spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)
        gc.collect()
        self.spark.sparkContext._gateway.jvm.java.lang.System.gc()

    def run_units(self, started: float) -> None:
        """The cold unit, then warm units until `--seconds` of warm time is
        measured, at least one. A traced run's warm units go untraced,
        traced, untraced, ..., so a traced unit's overhead is read against
        neighbours on both sides."""
        self.run_unit(self.traced)  # cold
        min_warm = 3 if self.traced else 1
        warm, warm_s = 0, 0.0
        while warm < min_warm or (
            warm_s < self.args.seconds
            and time.perf_counter() - started < START_DEADLINE_S
        ):
            warm_s += self.run_unit(self.traced and warm % 2 == 1)["wall_s"]
            warm += 1

    def scan_probe(self) -> layers.Span:
        """Time the report scan alone: a noop write of the ordered reader,
        run twice; the second, warm pass is reported."""
        from bigbugdata_spark.sources.kraken_reports import read_reports

        for _ in range(2):
            with layers.Span("scan") as span:
                read_reports(self.spark, self.paths, with_row_order=True).write.format(
                    "noop"
                ).mode("overwrite").save()
        return span

    # -- results ------------------------------------------------------------

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        warm = self.units[1:]
        return {
            "setup_s": (self.setup["setup_s"], "s"),
            "first_s": (self.units[0]["wall_s"], "s"),
            "rows_per_s": (self.rows / median([u["wall_s"] for u in warm]), "rows/s"),
            "cpu_s": (median([u["cpu_s"] for u in warm]), "s"),
            "peak_rss_mb": (layers.tree_peak_rss_mb(os.getpid()), "MB"),
        }

    def per_layer(self, scan: layers.Span) -> dict[str, tuple[float, str]]:
        jobs = layers.spark_jobs(self.spark)
        stages = layers.spark_stages(self.spark)

        def call_metrics(unit: dict) -> dict[str, float]:
            spans = unit["spans"]
            u_stages = layers.within(spans["unit"], stages)
            busy = layers.busy_s(spans["unit"], jobs)
            m = {
                "unit_s": unit["wall_s"],
                "driver_s": unit["wall_s"] - busy,
                "process.cpu_s": unit["cpu_s"],
                "spark.jobs": len(layers.within(spans["unit"], jobs)),
                "spark.stages": len(u_stages),
                "spark.tasks": sum(s.tasks for s in u_stages),
                "spark.executor_run_s": sum(s.run_s for s in u_stages),
                "spark.executor_cpu_s": sum(s.cpu_s for s in u_stages),
                "spark.shuffle_read_bytes": sum(s.shuffle_read_bytes for s in u_stages),
                "spark.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in u_stages),
                "spark.spill_bytes": sum(s.spill_bytes for s in u_stages),
                "spark.input_bytes": sum(s.input_bytes for s in u_stages),
                "spark.job_busy_s": busy,
                **{f"jvm.{k}": v for k, v in unit["jvm"].items()},
                "caching.pinned": unit["pinned"],
                "caching.cached_bytes": unit["cached_bytes"],
                "kraken.output_bytes": unit["output_bytes"],
                # the coverage check: what the two calls leave unexplained
                "kraken.unaccounted_s": unit["wall_s"]
                - spans["run_pipeline"].wall_s - spans["write_outputs"].wall_s,
            }
            for call in ("run_pipeline", "write_outputs"):
                span = spans[call]
                m[f"kraken.{call}_s"] = span.wall_s
                m[f"kraken.{call}_driver_s"] = span.wall_s - layers.busy_s(span, jobs)
                m[f"kraken.{call}_jobs"] = len(layers.within(span, jobs))
                m[f"kraken.{call}_shuffle_write_bytes"] = sum(
                    s.shuffle_write_bytes for s in layers.within(span, stages)
                )
            return m

        cold, warm = self.units[0], self.units[1:]
        traced = [call_metrics(u) for u in warm if u["traced"]]
        untraced_s = [u["wall_s"] for u in warm if not u["traced"]]
        out = {name: median([m[name] for m in traced]) for name in traced[0]}
        out["trace_overhead_frac"] = out["unit_s"] / median(untraced_s)
        out["kraken.first.run_pipeline_s"] = cold["spans"]["run_pipeline"].wall_s
        out["kraken.first.write_outputs_s"] = cold["spans"]["write_outputs"].wall_s
        out["session.get_spark_s"] = self.setup["get_spark_s"]
        out["registry.load_all_s"] = self.setup["load_all_s"]
        out["sources.scan_s"] = scan.wall_s
        out["sources.scan_tasks"] = sum(s.tasks for s in layers.within(scan, stages))
        return {name: (value, PER_LAYER_UNITS[name]) for name, value in out.items()}

    def shut_down(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait(timeout=30)

    def run_info(self, cores: int) -> dict:
        import pyspark

        jvm = self.spark.sparkContext._gateway.jvm
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "nproc": cores,
            "pyspark": pyspark.__version__,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "commit": git_commit(),
            "report_rows": self.rows,
            "unit_wall_s": [u["wall_s"] for u in self.units],
            "problems": [p for u in self.units for p in u["problems"]],
            "inputs_s": self.inputs_s,
        }


PER_LAYER_UNITS = {
    "unit_s": "s",
    "driver_s": "s",
    "process.cpu_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.job_busy_s": "s",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "jvm.classes_loaded": "count",
    "caching.pinned": "count",
    "caching.cached_bytes": "bytes",
    "kraken.output_bytes": "bytes",
    "kraken.unaccounted_s": "s",
    "kraken.run_pipeline_s": "s",
    "kraken.run_pipeline_driver_s": "s",
    "kraken.run_pipeline_jobs": "count",
    "kraken.run_pipeline_shuffle_write_bytes": "bytes",
    "kraken.write_outputs_s": "s",
    "kraken.write_outputs_driver_s": "s",
    "kraken.write_outputs_jobs": "count",
    "kraken.write_outputs_shuffle_write_bytes": "bytes",
    "trace_overhead_frac": "ratio",
    "kraken.first.run_pipeline_s": "s",
    "kraken.first.write_outputs_s": "s",
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "sources.scan_s": "s",
    "sources.scan_tasks": "count",
}


def main(argv: list[str]) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    require_repo()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    cores = isolate(work)
    bench = Bench(args, work)
    try:
        bench.make_inputs()
        bench.set_up()
        try:
            bench.run_units(started)
            if bench.traced:
                metrics = bench.per_layer(bench.scan_probe())
            else:
                metrics = bench.end_to_end()
            info = bench.run_info(cores)
        finally:
            bench.shut_down()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run still uses it
    info["total_s"] = time.perf_counter() - started
    print("perfbench run: " + json.dumps(info), flush=True)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": len(bench.units),
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
