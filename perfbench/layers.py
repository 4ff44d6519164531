"""Layer measurements taken from outside the program.

* Process-tree CPU time and peak RSS, read from /proc for the benchmark's
  Python process and every descendant (the Spark JVM).
* Spark jobs and stages, read from the driver's status store
  (`AppStatusStore.jobsList` / `stageList`), which is populated with
  `spark.ui.enabled=false` too.
* Attribution of jobs and stages to the benchmark's timed calls by time
  interval. Job groups cannot do it: jobs submitted from a worker thread,
  as `write_outputs(mode="scale")` does from its thread pool, carry no job
  group on pyspark 4.1.2.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:  # the process ended between listing and reading
        return None
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """`root` and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds consumed so far by the live tree."""
    ticks = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += int(fields[11]) + int(fields[12])
    return ticks / _CLK_TCK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of each live process's peak resident set (VmHWM), in MiB."""
    kib = 0
    for pid in process_tree(root):
        try:
            status = Path(f"/proc/{pid}/status").read_text()
        except OSError:
            continue
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                kib += int(line.split()[1])
    return kib / 1024


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit_s: float  # epoch seconds
    end_s: float
    group: str | None


@dataclass
class Stage:
    stage_id: int
    submit_s: float
    tasks: int
    run_s: float
    cpu_s: float
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


def _epoch_s(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def spark_jobs(spark) -> list[Job]:
    """Every finished job the status store still holds."""
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    jobs = []
    for i in range(seq.size()):
        j = seq.apply(i)
        submit, end = _epoch_s(j.submissionTime()), _epoch_s(j.completionTime())
        if submit is None or end is None:
            continue
        group = j.jobGroup().get() if j.jobGroup().isDefined() else None
        jobs.append(Job(j.jobId(), submit, end, group))
    return jobs


def spark_stages(spark) -> list[Stage]:
    """Every stage attempt that ran. Skipped stages were never submitted
    and are left out, so a stage whose output a later job reuses is
    counted once, under the job that ran it."""
    sc = spark.sparkContext
    gw = sc._gateway
    seq = sc._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), None
    )
    stages = []
    for i in range(seq.size()):
        s = seq.apply(i)
        submit = _epoch_s(s.submissionTime())
        if submit is None:
            continue
        stages.append(
            Stage(
                stage_id=s.stageId(),
                submit_s=submit,
                tasks=s.numTasks(),
                run_s=s.executorRunTime() / 1e3,
                cpu_s=s.executorCpuTime() / 1e9,
                input_bytes=s.inputBytes(),
                shuffle_read_bytes=s.shuffleReadBytes(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                spill_bytes=s.diskBytesSpilled(),
            )
        )
    return stages


def cached_bytes(spark) -> int:
    """Memory plus disk held by cached RDD and DataFrame blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(r.memSize() + r.diskSize() for r in infos)


def jvm_counters(spark) -> dict[str, float]:
    """Cumulative counters of the driver JVM: garbage-collection time, JIT
    compilation time and classes loaded (Spark's generated code included)."""
    mf = spark.sparkContext._gateway.jvm.java.lang.management.ManagementFactory
    return {
        "gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3,
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "classes_loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
    }


# ---------------------------------------------------------------------------
# attribution by interval
# ---------------------------------------------------------------------------

#: the status store keeps millisecond timestamps, truncated
_CLOCK_SLACK_S = 0.001


@dataclass
class Span:
    """One timed call. `with span:` records its bounds in epoch seconds,
    the status store's clock, and its wall time on the monotonic clock."""

    name: str
    start_s: float = 0.0
    end_s: float = 0.0
    wall_s: float = 0.0

    def __enter__(self) -> "Span":
        self.start_s, self._t0 = time.time(), time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.end_s, self.wall_s = time.time(), time.perf_counter() - self._t0


def within(span: Span, records: list) -> list:
    """Records (jobs or stages) submitted while `span` ran. Whichever
    thread submitted them, a job submitted inside the call belongs to it."""
    return [
        r for r in records
        if span.start_s - _CLOCK_SLACK_S <= r.submit_s <= span.end_s + _CLOCK_SLACK_S
    ]


def busy_s(span: Span, jobs: list[Job]) -> float:
    """Length of the union of the job intervals inside `span`: the time
    at least one job of the call was running."""
    total, reach = 0.0, span.start_s
    for job in sorted(within(span, jobs), key=lambda j: j.submit_s):
        start, end = max(job.submit_s, reach), min(job.end_s, span.end_s)
        if end > start:
            total += end - start
            reach = end
    return total
