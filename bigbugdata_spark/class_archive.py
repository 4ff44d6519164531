"""Builds the driver JVM's class archive, in a process of its own.

``session.get_spark`` starts this module when a process whose session found
no archive exits (``session.start_build``), so no user-facing run pays for
the build. It starts a session whose JVM dumps the classes it loaded when it
exits (``-XX:ArchiveClassesAtExit``) to a per-pid partial file, runs the
CLI's kraken pipeline through both sinks on four small reports, stops the
JVM, and renames the dump into place only after the JVM exited with status 0
(``ArchiveFiles.publish``). The lock that ``start_build`` took names this
process; it is released either way.

Run as: python -m bigbugdata_spark.class_archive <cds dir> <key> <conf dir>
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile

from pyspark.sql import SparkSession

from bigbugdata_spark.operators.kraken import run_pipeline, write_outputs
from bigbugdata_spark.session import (
    CDS_LOG,
    DERBY_HOME,
    ArchiveFiles,
    collector_options,
    get_spark,
)

#: seconds to wait for the JVM's exit, which writes the dump (~150 MB;
#: about 16 s on a busy 4-vCPU host, longer on one idle-priority core)
JVM_EXIT_WAIT_S = 300
#: the builder's JVM: small, since what it loads does not depend on size
_BUILD_CONF = {"spark.driver.memory": "1g", "spark.master": "local[1]"}
_HEADER = "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName"
_GROUPS = [("A_Negative$", "^A_"), ("B_Negative$", "^B_")]


def write_reports(out_dir: str) -> list[str]:
    """Four KrakenUniq reports (a negative control and a sample per group)
    of a few species each, with the preamble, header and root rows."""
    paths = []
    for g, group in enumerate("AB"):
        for s, sample in enumerate((f"{group}_Negative", f"{group}_S001")):
            lines = [
                f"# kraken2 --report {sample}_report.txt", "# class archive", _HEADER,
                "50.0\t5000\t5000\t0\t0\t0\t0\tunclassified\tunclassified",
                "50.0\t5000\t0\t100\t1.0\t0.5\t1\troot\t  root",
            ]
            for t in range(6):
                reads = 10 + 7 * t + 3 * s + g
                lines.append(
                    f"0.01\t{reads}\t{reads}\t{2 * reads}\t1.5\t0.25\t{1000 + t}"
                    f"\tspecies\t  Organism sp. {1000 + t}"
                )
            path = os.path.join(out_dir, f"{sample}_report.txt")
            with open(path, "w") as f:
                f.write("\n".join(lines) + "\n")
            paths.append(path)
    return paths


def exercise(spark: SparkSession, work: str) -> None:
    """Load the classes a CLI run loads: the kraken pipeline, written by the
    fidelity sink and by the scale sink."""
    paths = write_reports(work)
    for mode in ("fidelity", "scale"):
        result = run_pipeline(spark, paths, n_tophits=3, group_patterns=_GROUPS)
        write_outputs(result, os.path.join(work, mode), "species", mode=mode)


def _stop_jvm(spark: SparkSession) -> int | None:
    """Stop the session and wait for the driver JVM to exit; its exit
    status, or None when it had to be killed."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on EOF, dumping first
    try:
        return gateway.proc.wait(timeout=JVM_EXIT_WAIT_S)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
        return None


def build(files: ArchiveFiles, conf_dir: str, cpus: int) -> bool:
    """Dump and publish ``files``' archive; whether it was published. The
    JVM runs on the collector ``get_spark`` gives the JVMs that will map the
    archive (sessions with the default heap), and is told it has ``cpus``
    cores, however many it may use, so that it makes their ergonomic choices
    (thread counts) too. The archive holds classes, not compiled code, so the
    JVM compiles with C1 alone: on one core a build took 58 s of CPU, against
    101 s with both compilers, and archived the same classes."""
    partial = files.partial(os.getpid())
    work = tempfile.mkdtemp(prefix="class-archive-")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    options = " ".join(filter(None, (
        f"-Dderby.system.home={DERBY_HOME}",
        collector_options({}, conf_dir),
        f"-XX:ActiveProcessorCount={cpus} -XX:TieredStopAtLevel=1",
        f"-XX:ArchiveClassesAtExit={partial} {CDS_LOG}",
    )))
    status = None
    try:
        spark = get_spark(
            "class-archive", extra_conf={**_BUILD_CONF, "spark.driver.extraJavaOptions": options}
        )
        try:
            exercise(spark, work)
        finally:
            status = _stop_jvm(spark)
    finally:
        published = files.publish(partial, status)
        shutil.rmtree(work, ignore_errors=True)
    return published


def main(argv: list[str]) -> int:
    cds, key, conf_dir = argv
    # the build runs beside whatever runs next (often the same command
    # again): it takes one core, and only while that core is idle. The JVM
    # and its threads inherit both.
    cpus = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {max(cpus)})
    try:
        os.sched_setscheduler(0, os.SCHED_IDLE, os.sched_param(0))
    except PermissionError:
        os.nice(19)
    return 0 if build(ArchiveFiles(cds, key), conf_dir, len(cpus)) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
