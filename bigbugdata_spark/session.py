"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores); the
same config block is what we would ship as cluster defaults: AQE on (runtime
re-planning, skew-join handling, partition coalescing), Arrow for any
Python<->JVM exchange, shuffle partitions sized to the parallelism at
hand rather than the 200 default, and a generated-code cache large enough
that one long-lived session compiles each plan shape once (a repeated
kraken run or the many-query test session reuses its compiled classes
instead of recompiling them on every run).

The driver JVM starts from a per-user class-data-sharing archive
(``CACHE_DIR``), so it maps the classes a session loads instead of loading
and verifying them again. A session that finds no archive runs without one
and, when its process exits, starts a detached process that builds it
(``bigbugdata_spark.class_archive``); see ``plan_class_archive``.

That JVM, the driver and in local mode every executor, runs on the parallel
collector with a 512 MB young generation (``COLLECTOR_OPTIONS``), unless the
caller chose a collector or the heap is 1.5 GB or less; see
``collector_options``.
"""

from __future__ import annotations

import atexit
import getpass
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
from dataclasses import dataclass

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

#: per-user session storage (advisory r9, same hazard as the dedup index
#: root): a world-shared /tmp warehouse lets concurrent users collide on
#: managed-table locations, and a shared derby home means the SECOND
#: session on the machine fails derby's single-owner lock outright.
_USER = getpass.getuser()
WAREHOUSE_DIR = os.path.join(
    tempfile.gettempdir(), f"bigbugdata-spark-warehouse-{_USER}"
)
DERBY_HOME = os.path.join(tempfile.gettempdir(), f"bigbugdata-derby-{_USER}")

#: entries in Spark's generated-code cache (spark.sql.codegen.cache.maxEntries,
#: a static conf: it only takes effect when the session is first built). One
#: kraken unit (run_pipeline + write_outputs) generates 160-190 distinct
#: classes (counted with CodegenMetrics on the 48- and 192-sample bench
#: fixtures), so under the default of 100 the LRU evicts every class before
#: the next run asks for it again: each warm run recompiled 155-185 of them
#: and loaded ~300 new classes into the JVM. With several units' worth of
#: entries a warm run compiles a handful.
CODEGEN_CACHE_ENTRIES = 1000

#: per-user cache of the driver JVM's class archives, the empty conf
#: directory they are dumped and used with, and the builder's scratch space.
#: Not under tempfile.gettempdir(): a caller may point TMPDIR at a per-run
#: directory it deletes (perfbench does), which would throw the archive away
#: after every run.
CACHE_DIR = os.path.join(
    os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache"),
    "bigbugdata-spark",
)
#: builds started per key. A build whose dump fails, or whose process is
#: killed, still counts, so an install that cannot dump stops trying.
MAX_BUILDS = 2
#: archives kept, the most recently used first: installs that share the
#: cache (two environments, two JDKs) each keep theirs
KEEP_ARCHIVES = 3
#: environment variables through which the launcher puts user directories on
#: the driver's classpath; JDK 17 refuses to dump an archive when a
#: non-empty directory is on it
_CLASSPATH_ENV = (
    "SPARK_CLASSPATH",
    "SPARK_DIST_CLASSPATH",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
)
#: the caller's environment the builder does not inherit: directories that
#: may be deleted when the caller exits (perfbench points all three at its
#: per-run directory), and the caller's own gateway
_CALLER_ENV = (
    "TMPDIR",
    "SPARK_LOCAL_DIRS",
    "JAVA_TOOL_OPTIONS",
    "PYSPARK_GATEWAY_PORT",
    "PYSPARK_GATEWAY_SECRET",
)
#: the JVM logs CDS warnings to stdout, where the CLI writes its CSVs; a dump
#: logs hundreds (classes it skips), a stale archive one. Errors go to stderr.
CDS_LOG = "-Xlog:cds*=off -Xlog:cds*=error:stderr"
#: the first bytes of a JDK 17 dynamic archive (its header's magic,
#: 0xf00baba8, in native order). A JVM handed a file without them drops
#: class sharing altogether, the JDK's own base archive included.
_DYNAMIC_MAGIC = (0xF00BABA8).to_bytes(4, sys.byteorder)
#: the driver's heap when neither SPARK_DRIVER_MEMORY nor the caller sets it
DRIVER_MEMORY = "8g"
#: the driver JVM's collector when the caller chose none and the heap is
#: larger than three times the young-generation cap. Under JDK 17's default,
#: G1, the CLI's 8 GB-heap driver peaked at 2.2-3.5 GB of RSS on the 48x20k
#: kraken fixture; under the parallel collector at 1.54-1.61 GB, in the same
#: or less wall time. The cap is part of that: without it the parallel
#: collector grows eden toward a third of the heap (its default young
#: generation), and the same run peaked at 2.8-3.7 GB. A smaller heap keeps
#: G1: there the cap caps nothing, and the parallel collector reports the
#: heap less a survivor space as the JVM's memory, which at 512-600 MB heaps
#: is under the 450 MB a Spark driver needs to start.
YOUNG_CAP_MB = 512
COLLECTOR_OPTIONS = f"-XX:+UseParallelGC -XX:MaxNewSize={YOUNG_CAP_MB}m"
#: a caller's choice of collector; the JVM refuses to start with two
_COLLECTOR_FLAG = re.compile(r"-XX:\+Use(?:Serial|Parallel|G1|Z|Shenandoah|Epsilon)GC\b")
#: environment variables whose options reach the driver JVM: read by the JVM
#: itself, by the java launcher, and by pyspark's spark-submit
_JAVA_OPTIONS_ENV = (
    "JAVA_TOOL_OPTIONS",
    "_JAVA_OPTIONS",
    "JDK_JAVA_OPTIONS",
    "SPARK_SUBMIT_OPTS",
    "PYSPARK_SUBMIT_ARGS",
)
_JAVA_OPTIONS_CONF = ("spark.driver.defaultJavaOptions", "spark.driver.extraJavaOptions")
#: a JVM memory size, as spark.driver.memory takes it (no unit: MB)
_MEMORY = re.compile(r"\s*(\d+)\s*([kmgt]?)b?\s*")
_MEMORY_UNIT_MB = {"k": 1 / 1024, "": 1, "m": 1, "g": 1024, "t": 1024 * 1024}
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass(frozen=True)
class ArchiveFiles:
    """The files of one archive key in the cache's ``cds`` directory: the
    published archive, the live builder's lock (its pid), the count of
    builds started, and a builder's dump while it is written. JDK 17
    crashes with SIGBUS when it maps a truncated archive, so a dump is
    written under a name no session reads and renamed into place whole."""

    cds: str
    key: str

    @property
    def archive(self) -> str:
        return os.path.join(self.cds, f"{self.key}.jsa")

    @property
    def lock(self) -> str:
        return os.path.join(self.cds, f"{self.key}.lock")

    @property
    def tries(self) -> str:
        return os.path.join(self.cds, f"{self.key}.tries")

    def partial(self, pid: int) -> str:
        return os.path.join(self.cds, f"{self.key}.{pid}.partial")

    def publish(self, partial: str, exit_status: int | None) -> bool:
        """Rename the builder's dump into place if its JVM exited with
        status 0 and the dump is an archive, otherwise delete it; release
        the lock either way. Returns whether it published."""
        try:
            if exit_status != 0 or not _is_dynamic_archive(partial):
                return False
            os.replace(partial, self.archive)
            _unlink(self.tries)
            _prune(self.cds)
            return True
        finally:
            _unlink(partial)
            _unlink(self.lock)


@dataclass(frozen=True)
class ArchivePlan:
    """How to launch the driver JVM: extra options for
    ``spark.driver.extraJavaOptions`` (empty without an archive), the
    ``SPARK_CONF_DIR`` to launch with, and whether to start a build when
    the process exits."""

    java_options: str
    conf_dir: str
    files: ArchiveFiles
    build: bool


def archive_key(spark_home: str, java: str) -> str:
    """Hash of what a dumped archive depends on: the java binary and its
    mtime, the pyspark version, and the name, size and mtime of every jar on
    the launcher's classpath. A stale archive is rejected by the JVM anyway
    (``-Xshare:auto``); the key keeps a new install from loading it at all."""
    h = hashlib.sha256()
    h.update(f"{java}\0{os.stat(java).st_mtime_ns}\0{pyspark.__version__}".encode())
    jars = os.scandir(os.path.join(spark_home, "jars"))
    for jar in sorted((e for e in jars if e.name.endswith(".jar")), key=lambda e: e.name):
        st = jar.stat()
        h.update(f"\0{jar.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:24]


def plan_class_archive(cache_dir: str, spark_home: str, java: str) -> ArchivePlan | None:
    """Map the published archive for this install. Without one, launch the
    JVM as it is and build the archive at exit, unless a live process is
    building it or ``MAX_BUILDS`` builds have been started already. A file
    at the published path that is not a dynamic archive is deleted and
    rebuilt. None launches the JVM untouched.

    pyspark puts ``$SPARK_CONF_DIR`` on the classpath, and JDK 17 dumps no
    archive while a non-empty directory is on it. When the user has not set
    it and the default ``$SPARK_HOME/conf`` holds only templates, the JVM is
    launched with an empty per-user conf directory instead, with or without
    an archive, so that the builder and its users share one classpath. A
    user-set conf directory, or any other classpath directory, leaves the
    JVM as it is: no build could succeed.
    """
    if "SPARK_CONF_DIR" in os.environ or any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    default_conf = os.path.join(spark_home, "conf")
    if os.path.isdir(default_conf) and any(
        not name.endswith(".template") for name in os.listdir(default_conf)
    ):
        return None
    conf_dir = os.path.join(cache_dir, "conf")
    cds = os.path.join(cache_dir, "cds")
    os.makedirs(conf_dir, exist_ok=True)
    os.makedirs(cds, exist_ok=True)
    if os.listdir(conf_dir):
        return None
    files = ArchiveFiles(cds, archive_key(spark_home, java))
    if _is_dynamic_archive(files.archive):
        os.utime(files.archive)  # most recently used, for the pruning
        options = f"-XX:SharedArchiveFile={files.archive} -Xshare:auto {CDS_LOG}"
        return ArchivePlan(options, conf_dir, files, build=False)
    _unlink(files.archive)
    build = _read_int(files.tries) < MAX_BUILDS and not _pid_alive(_read_int(files.lock))
    return ArchivePlan("", conf_dir, files, build)


def _is_dynamic_archive(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(len(_DYNAMIC_MAGIC)) == _DYNAMIC_MAGIC
    except FileNotFoundError:
        return False


def start_build(plan: ArchivePlan) -> int | None:
    """Start the detached process that builds ``plan``'s archive, under the
    key's lock; its pid, or None when the archive was published or the
    builds used up since ``plan`` was made, or another live process holds
    the lock.

    The builder runs in its own session, with a temporary directory in the
    cache, and logs to ``build.log`` there; it lowers its own CPU priority
    (``class_archive.main``).
    """
    files = plan.files
    if _is_dynamic_archive(files.archive) or _read_int(files.tries) >= MAX_BUILDS:
        return None
    if not _take_lock(files.lock):
        return None
    cache_dir = os.path.dirname(files.cds)
    tmp = os.path.join(cache_dir, "build")
    shutil.rmtree(tmp, ignore_errors=True)  # a killed builder's leftovers
    os.makedirs(tmp)
    _write_int(files.tries, _read_int(files.tries) + 1)
    env = {k: v for k, v in os.environ.items() if k not in _CALLER_ENV}
    env["TMPDIR"] = tmp
    env["PYTHONPATH"] = os.pathsep.join(filter(None, (_PACKAGE_ROOT, env.get("PYTHONPATH"))))
    with open(os.path.join(cache_dir, "build.log"), "wb") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "bigbugdata_spark.class_archive",
             files.cds, files.key, plan.conf_dir],
            env=env, cwd=tmp, stdin=subprocess.DEVNULL, stdout=log, stderr=log,
            start_new_session=True,
        )
    _write_int(files.lock, proc.pid)
    return proc.pid


def _take_lock(lock: str) -> bool:
    """Create ``lock`` naming this pid, reclaiming it from a dead pid. Two
    processes that race here both build, each into its own partial file,
    and the later rename wins: the lock only spares a second build."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        except FileExistsError:
            if _pid_alive(_read_int(lock)):
                return False
            _unlink(lock)
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def _read_int(path: str) -> int:
    """The number in a lock or tries file; 0 when there is none."""
    try:
        with open(path) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return 0


def _write_int(path: str, value: int) -> None:
    """Replace ``path`` with ``value`` in one rename, so a reader sees the
    old number or the new one."""
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        f.write(str(value))
    os.replace(tmp, path)


def _pid_alive(pid: int) -> bool:
    if pid <= 0:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # alive, owned by another user
    return True


def _unlink(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def _java() -> str | None:
    """The java binary the launcher runs (bin/spark-class's choice)."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _prune(cds: str) -> None:
    """Keep the ``KEEP_ARCHIVES`` most recently used archives, and delete the
    partial dumps of dead processes."""
    archives = []
    for entry in os.scandir(cds):
        if entry.name.endswith(".jsa"):
            archives.append((entry.stat().st_mtime_ns, entry.path))
        elif entry.name.endswith(".partial"):
            pid = entry.name.rsplit(".", 2)[-2]
            if not (pid.isdigit() and _pid_alive(int(pid))):
                _unlink(entry.path)
    for _, path in sorted(archives, reverse=True)[KEEP_ARCHIVES:]:
        _unlink(path)


def _driver_memory(extra_conf: dict[str, str]) -> str:
    """The driver's heap size for a session built with ``extra_conf``."""
    return extra_conf.get("spark.driver.memory") or os.environ.get(
        "SPARK_DRIVER_MEMORY", DRIVER_MEMORY
    )


def collector_options(extra_conf: dict[str, str], conf_dir: str) -> str:
    """``COLLECTOR_OPTIONS`` for the driver JVM of a session built with
    ``extra_conf``, or "" (the JVM's default) when its heap is
    ``3 * YOUNG_CAP_MB`` or less, or when the caller chose its collector: a
    ``-XX:+Use<Name>GC`` flag in an environment variable the JVM or its
    launcher reads, in ``extra_conf``'s driver Java options, or in the
    ``spark-defaults.conf`` or ``java-opts`` of ``conf_dir``, the conf
    directory the launcher reads."""
    m = _MEMORY.fullmatch(_driver_memory(extra_conf).lower())
    if m is None or int(m[1]) * _MEMORY_UNIT_MB[m[2]] <= 3 * YOUNG_CAP_MB:
        return ""
    sources = [os.environ.get(v, "") for v in _JAVA_OPTIONS_ENV]
    sources += [extra_conf.get(k, "") for k in _JAVA_OPTIONS_CONF]
    sources += _conf_java_options(conf_dir)
    if any(_COLLECTOR_FLAG.search(s) for s in sources):
        return ""
    return COLLECTOR_OPTIONS


def _conf_java_options(conf_dir: str) -> list[str]:
    """The lines of a conf directory's files that can give the launcher
    driver Java options, less comments."""
    found = []
    for name in ("spark-defaults.conf", "java-opts"):
        try:
            with open(os.path.join(conf_dir, name)) as f:
                found += [line for line in f if not line.lstrip().startswith(("#", "!"))]
        except OSError:
            pass
    return found


def _launch_plan(extra_conf: dict[str, str]) -> ArchivePlan | None:
    """The archive plan for a session that launches its own driver JVM; None
    when the JVM already runs, or the caller sets the driver's options or
    classpath itself."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    own = {"spark.driver.extraJavaOptions", "spark.driver.extraClassPath"}
    if own & extra_conf.keys():
        return None
    java = _java()
    if java is None:
        return None
    try:
        return plan_class_archive(CACHE_DIR, _find_spark_home(), java)
    except OSError:
        return None  # no writable cache: start without an archive


def _start_build_at_exit(plan: ArchivePlan) -> None:
    try:
        start_build(plan)
    except OSError:
        pass  # no writable cache or no process to spare: the next run tries


def get_spark(
    app_name: str = "bigbugdata_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's default config.

    Shuffles run one partition per local core (32 when SPARK_GRAFT_CPUS is
    unset). At 100 TB scale the same knobs apply, with
    `spark.sql.shuffle.partitions` sized to ~2-3x total executor cores
    (through `extra_conf`) and `spark.sql.files.maxPartitionBytes` left at
    128 MB so scan tasks stay memory-bounded.

    A session that launches the driver JVM starts it from the class
    archive, or has the archive built when the process exits (see
    ``plan_class_archive``), and on the parallel collector unless the caller
    chose a collector or the heap is small (see ``collector_options``).
    """
    extra_conf = extra_conf or {}
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # events.parquet's ts physical layout varies by generator round
        # (TIMESTAMP(NANOS) / timestamp[us] NTZ / timestamp[us] UTC);
        # nanosAsLong lets the NANOS layout load at all, and
        # catalog.normalize_events_ts is the single point that maps every
        # layout to a plain TIMESTAMP
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # multi-file scans list paths driver-side up to this count; the
        # default (32) launches a distributed listing JOB for the 48-file
        # kraken report sets — pure overhead when listing 48 local files.
        # At a 100 TB site with millions of objects, lower this back so
        # listing distributes.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
        .config("spark.driver.memory", _driver_memory(extra_conf))
        .config("spark.ui.enabled", "false")
        # catalog tables (bucketed-layout support) live outside the repo,
        # scoped per-user (see WAREHOUSE_DIR/DERBY_HOME above)
        .config("spark.sql.warehouse.dir", WAREHOUSE_DIR)
    )
    plan = _launch_plan(extra_conf)
    conf_dir = plan.conf_dir if plan is not None else (
        os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    )
    java_options = " ".join(filter(None, (
        f"-Dderby.system.home={DERBY_HOME}",
        collector_options(extra_conf, conf_dir),
        plan and plan.java_options,
    )))
    if plan is not None:
        # the launcher reads it from the environment it inherits; restored
        # below so that child processes judge their own launch
        os.environ["SPARK_CONF_DIR"] = plan.conf_dir
        if plan.build:
            atexit.register(_start_build_at_exit, plan)
    builder = builder.config("spark.driver.extraJavaOptions", java_options)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    try:
        spark = builder.getOrCreate()
    finally:
        if plan is not None:
            del os.environ["SPARK_CONF_DIR"]
    spark.sparkContext.setLogLevel("WARN")
    return spark
