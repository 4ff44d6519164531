"""The driver JVM's class archive (session.plan_class_archive, the builder in
bigbugdata_spark.class_archive) and its collector (session.collector_options).

The unit tests build fake installs under tmp_path and start no JVM. The
subprocess tests start real sessions and builders, each with its cache
directory under tmp_path, and check the archive's life cycle: a session that
finds no archive (or junk in its place) runs without one and leaves a build
behind that publishes exactly one archive, a later session maps it, and a
builder killed mid-dump publishes nothing. Both run on the parallel
collector, and a session whose caller chose another collector runs on that.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import textwrap
import time
from pathlib import Path

import pyspark
import pytest

from bigbugdata_spark import session as S

REPO = str(Path(__file__).resolve().parents[1])
_POPEN = subprocess.Popen  # fake_builder patches the module's


@pytest.fixture
def install(tmp_path):
    """A fake spark home (two jars, a template-only conf directory) and a
    fake java binary."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    (home / "jars" / "a.jar").write_bytes(b"a" * 10)
    (home / "jars" / "b.jar").write_bytes(b"b" * 20)
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    java = tmp_path / "java"
    java.write_bytes(b"")
    return str(home), str(java)


@pytest.fixture
def clean_env(monkeypatch):
    for var in ("SPARK_CONF_DIR", *S._CLASSPATH_ENV):
        monkeypatch.delenv(var, raising=False)


class _FakeBuilder:
    """Stands in for subprocess.Popen in start_build: records the command
    and environment, and is a process that has already ended."""

    calls: list[tuple[list[str], dict[str, str]]] = []

    def __init__(self, cmd, env, **kwargs):
        _FakeBuilder.calls.append((cmd, env))
        self.pid = _dead_pid()


@pytest.fixture
def fake_builder(monkeypatch):
    _FakeBuilder.calls = []
    monkeypatch.setattr(S.subprocess, "Popen", _FakeBuilder)
    return _FakeBuilder.calls


def _dead_pid() -> int:
    proc = _POPEN(["true"])
    proc.wait()
    return proc.pid


def _plan(tmp_path, install):
    return S.plan_class_archive(str(tmp_path / "cache"), *install)


def _archive_bytes(size: int = 4096) -> bytes:
    return S._DYNAMIC_MAGIC + b"\0" * (size - len(S._DYNAMIC_MAGIC))


def test_partial_and_dead_lock_are_never_mapped(tmp_path, install, clean_env):
    files = S.ArchiveFiles(str(tmp_path / "cache" / "cds"), S.archive_key(*install))
    Path(files.cds).mkdir(parents=True)
    dead = _dead_pid()
    Path(files.partial(dead)).write_bytes(_archive_bytes())
    Path(files.lock).write_text(str(dead))

    plan = _plan(tmp_path, install)

    assert plan.java_options == ""
    assert plan.build
    assert plan.files == files
    assert plan.conf_dir == str(tmp_path / "cache" / "conf")


def test_live_lock_yields_no_flag_and_no_build(tmp_path, install, clean_env):
    cds = tmp_path / "cache" / "cds"
    cds.mkdir(parents=True)
    (cds / f"{S.archive_key(*install)}.lock").write_text(str(os.getpid()))

    plan = _plan(tmp_path, install)

    assert plan.java_options == ""
    assert not plan.build


def test_published_archive_is_mapped_and_marked_used(tmp_path, install, clean_env):
    archive = tmp_path / "cache" / "cds" / f"{S.archive_key(*install)}.jsa"
    archive.parent.mkdir(parents=True)
    archive.write_bytes(_archive_bytes())
    os.utime(archive, (1, 1))

    plan = _plan(tmp_path, install)

    assert not plan.build
    opts = plan.java_options.split()
    assert f"-XX:SharedArchiveFile={archive}" in opts and "-Xshare:auto" in opts
    assert not any(o.startswith("-XX:ArchiveClassesAtExit") for o in opts)
    assert archive.stat().st_mtime > 1


def test_junk_at_the_published_path_is_deleted_and_rebuilt(tmp_path, install, clean_env):
    archive = tmp_path / "cache" / "cds" / f"{S.archive_key(*install)}.jsa"
    archive.parent.mkdir(parents=True)
    archive.write_bytes(b"\x01\x02\x03\x04" + os.urandom(4092))

    plan = _plan(tmp_path, install)

    assert plan.java_options == ""
    assert plan.build
    assert not archive.exists()


def test_key_follows_pyspark_version_and_jar_listing(install, monkeypatch):
    home, java = install
    key = S.archive_key(home, java)
    assert S.archive_key(home, java) == key

    monkeypatch.setattr(pyspark, "__version__", pyspark.__version__ + ".post1")
    assert S.archive_key(home, java) != key
    monkeypatch.undo()
    assert S.archive_key(home, java) == key

    jar = Path(home) / "jars" / "b.jar"
    jar.write_bytes(b"b" * 21)
    resized = S.archive_key(home, java)
    assert resized != key
    (Path(home) / "jars" / "c.jar").write_bytes(b"c")
    assert S.archive_key(home, java) not in (key, resized)


def test_user_conf_dir_is_left_alone(tmp_path, install, clean_env, monkeypatch):
    conf = tmp_path / "my-conf"
    conf.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))

    assert _plan(tmp_path, install) is None
    assert os.environ["SPARK_CONF_DIR"] == str(conf)


def test_real_file_in_default_conf_dir_yields_no_flag(tmp_path, install, clean_env):
    (Path(install[0]) / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")

    assert _plan(tmp_path, install) is None


def test_classpath_dir_from_environment_yields_no_flag(
    tmp_path, install, clean_env, monkeypatch
):
    monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))

    assert _plan(tmp_path, install) is None


def test_start_build_hands_the_lock_to_a_detached_builder(
    tmp_path, install, clean_env, fake_builder, monkeypatch
):
    monkeypatch.setenv("TMPDIR", str(tmp_path / "run-tmp"))
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", f"-Djava.io.tmpdir={tmp_path / 'run-tmp'}")
    plan = _plan(tmp_path, install)

    pid = S.start_build(plan)

    [(cmd, env)] = fake_builder
    assert cmd[1:] == ["-m", "bigbugdata_spark.class_archive",
                       plan.files.cds, plan.files.key, plan.conf_dir]
    assert env["TMPDIR"] == str(tmp_path / "cache" / "build")
    assert "JAVA_TOOL_OPTIONS" not in env
    assert env["PYTHONPATH"].split(os.pathsep)[0] == REPO
    assert S._read_int(plan.files.lock) == pid
    assert S._read_int(plan.files.tries) == 1


def test_start_build_skips_an_archive_published_since_the_plan(
    tmp_path, install, clean_env, fake_builder
):
    plan = _plan(tmp_path, install)
    Path(plan.files.archive).write_bytes(_archive_bytes())

    assert S.start_build(plan) is None
    assert fake_builder == []
    assert not Path(plan.files.lock).exists()


def test_failed_builds_stop_after_max_builds(tmp_path, install, clean_env, fake_builder):
    """A build that fails or is killed is counted; after MAX_BUILDS of them
    the key is left alone until the cache is deleted."""
    for status in (-9, None)[: S.MAX_BUILDS]:
        plan = _plan(tmp_path, install)
        assert plan.build
        pid = S.start_build(plan)
        partial = Path(plan.files.partial(pid))
        partial.write_bytes(_archive_bytes())
        assert not plan.files.publish(str(partial), status)
        assert not partial.exists() and not Path(plan.files.lock).exists()

    plan = _plan(tmp_path, install)
    assert plan.java_options == ""
    assert not plan.build
    assert len(fake_builder) == S.MAX_BUILDS


def test_publish_takes_only_a_clean_exit_of_a_whole_archive(tmp_path, install, clean_env):
    files = _plan(tmp_path, install).files
    for status, dump in ((1, _archive_bytes()), (-9, _archive_bytes()),
                         (None, _archive_bytes()), (0, b"not an archive")):
        Path(files.lock).write_text(str(os.getpid()))
        partial = Path(files.partial(os.getpid()))
        partial.write_bytes(dump)
        assert not files.publish(str(partial), status)
        assert sorted(os.listdir(files.cds)) == []

    Path(files.tries).write_text("1")
    partial = Path(files.partial(os.getpid()))
    partial.write_bytes(_archive_bytes())
    assert files.publish(str(partial), 0)
    assert os.listdir(files.cds) == [os.path.basename(files.archive)]
    assert Path(files.archive).read_bytes() == _archive_bytes()


def test_publish_keeps_the_most_recently_used_archives(tmp_path, install, clean_env):
    files = _plan(tmp_path, install).files
    cds = Path(files.cds)
    others = [cds / f"other{i}.jsa" for i in range(S.KEEP_ARCHIVES + 1)]
    for age, path in enumerate(others):  # other0 is the most recently used
        path.write_bytes(_archive_bytes())
        os.utime(path, (1000 - age, 1000 - age))
    orphan = cds / f"other0.{_dead_pid()}.partial"
    orphan.write_bytes(b"killed builder")
    partial = Path(files.partial(os.getpid()))
    partial.write_bytes(_archive_bytes())

    assert files.publish(str(partial), 0)

    kept = [os.path.basename(files.archive)] + [p.name for p in others[: S.KEEP_ARCHIVES - 1]]
    assert sorted(os.listdir(cds)) == sorted(kept)


@pytest.fixture
def no_java_options(monkeypatch):
    for var in ("SPARK_DRIVER_MEMORY", *S._JAVA_OPTIONS_ENV):
        monkeypatch.delenv(var, raising=False)


@pytest.mark.parametrize(
    "where",
    [
        *(f"env:{var}" for var in S._JAVA_OPTIONS_ENV),
        *(f"extra_conf:{key}" for key in S._JAVA_OPTIONS_CONF),
        *(f"spark-defaults.conf:{key}" for key in S._JAVA_OPTIONS_CONF),
        "java-opts",
    ],
)
def test_a_chosen_collector_yields_neither_flag(where, tmp_path, monkeypatch, no_java_options):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    extra_conf = {"spark.driver.defaultJavaOptions": "-Xms2g"}
    chosen = "-Xss4m -XX:+UseG1GC -XX:-UsePerfData"
    kind, _, name = where.partition(":")
    if kind == "env":
        monkeypatch.setenv(name, chosen)
    elif kind == "extra_conf":
        extra_conf[name] = chosen
    elif kind == "spark-defaults.conf":
        (conf_dir / kind).write_text(f"# defaults\nspark.driver.memory 2g\n{name}  {chosen}\n")
    else:
        (conf_dir / kind).write_text(chosen + "\n")

    assert S.collector_options(extra_conf, str(conf_dir)) == ""


def test_default_collector_is_parallel_with_a_capped_young_generation(
    tmp_path, monkeypatch, no_java_options
):
    """perfbench's JAVA_TOOL_OPTIONS and heap size, and a commented-out
    choice, choose no collector."""
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", f"-Djava.io.tmpdir={tmp_path} -XX:-UsePerfData")
    (tmp_path / "spark-defaults.conf").write_text(
        "# spark.driver.extraJavaOptions -XX:+UseG1GC\nspark.driver.memory 2g\n"
    )

    options = S.collector_options({"spark.driver.defaultJavaOptions": "-Xms2g"}, str(tmp_path))

    assert options.split() == ["-XX:+UseParallelGC", "-XX:MaxNewSize=512m"]
    assert S.collector_options({}, str(tmp_path / "missing")) == options


@pytest.mark.parametrize(
    "memory, parallel",
    [("8g", True), ("2g", True), ("1537m", True), ("1536m", False), ("1g", False),
     ("512m", False), ("512", False), ("lots", False)],
)
def test_a_heap_the_young_cap_would_not_cap_keeps_the_default_collector(
    memory, parallel, tmp_path, monkeypatch, no_java_options
):
    """The parallel collector's young generation is a third of the heap by
    default; at 512-600 MB heaps it leaves a Spark driver too little memory
    to start."""
    expected = S.COLLECTOR_OPTIONS if parallel else ""
    assert S.collector_options({"spark.driver.memory": memory}, str(tmp_path)) == expected
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", memory)
    assert S.collector_options({}, str(tmp_path)) == expected


# -- subprocess tests: real sessions and builders ----------------------------

_CHILD = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from bigbugdata_spark.session import get_spark

    spark = get_spark("class-archive-child")
    jvm = spark.sparkContext._jvm
    print("SUM", spark.range(100).selectExpr("sum(id)").first()[0], flush=True)
    management = jvm.java.lang.management.ManagementFactory
    print("ARGS", " ".join(management.getRuntimeMXBean().getInputArguments()), flush=True)
    print("GC", ",".join(sorted(b.getName() for b in management.getGarbageCollectorMXBeans())),
          flush=True)
    """
)


def _child_env(cache: Path, **extra: str) -> dict[str, str]:
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_DRIVER_MEMORY="2g",
               SPARK_GRAFT_CPUS="2", **extra)
    for var in ("SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS", *S._CLASSPATH_ENV):
        if var not in extra:
            env.pop(var, None)
    return env


def _run_child(cache: Path, **extra: str) -> dict[str, str]:
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, REPO], env=_child_env(cache, **extra),
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return dict(line.split(" ", 1) for line in proc.stdout.splitlines())


def _files(cache: Path) -> S.ArchiveFiles:
    key = S.archive_key(S._find_spark_home(), S._java())
    return S.ArchiveFiles(str(cache / "bigbugdata-spark" / "cds"), key)


def _gone(pid: int) -> bool:
    """The process has exited (a zombie counts: whoever adopted it may
    never reap it)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except FileNotFoundError:
        return True


def _wait_gone(pid: int, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while not _gone(pid):
        assert time.monotonic() < deadline, f"process {pid} still runs"
        time.sleep(0.1)


def _reap(pid: int) -> None:
    """Wait for our child `pid`, so that its pid stops looking alive."""
    try:
        os.waitpid(pid, 0)
    except ChildProcessError:
        pass  # subprocess reaped it already


def _children(pid: int) -> list[int]:
    found = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        found.append(int(entry))
            except (FileNotFoundError, ProcessLookupError):
                pass
    return found


def _holds(pid: int, target: str) -> bool:
    """Some open fd of the process points at `target`."""
    for fd in os.listdir(f"/proc/{pid}/fd"):
        try:
            if os.readlink(f"/proc/{pid}/fd/{fd}") == target:
                return True
        except FileNotFoundError:
            pass  # closed while we looked
    return False


def test_junk_is_replaced_by_one_built_archive_that_the_next_session_maps(tmp_path):
    cache = tmp_path / "cache"
    files = _files(cache)
    Path(files.cds).mkdir(parents=True)
    Path(files.archive).write_bytes(os.urandom(4096))

    first = _run_child(cache)

    # the session ran without the junk and without a dump flag; the build
    # it left behind runs in its own process
    assert first["SUM"] == "4950"
    assert "SharedArchiveFile" not in first["ARGS"]
    assert "ArchiveClassesAtExit" not in first["ARGS"]
    builder = S._read_int(files.lock)
    assert builder > 0
    _wait_gone(builder, timeout=300)
    assert os.listdir(files.cds) == [os.path.basename(files.archive)]
    assert S._is_dynamic_archive(files.archive)

    log = tmp_path / "class-load.log"
    second = _run_child(cache, JAVA_TOOL_OPTIONS=f"-Xlog:class+load=info:file={log}")

    assert second["SUM"] == "4950"
    assert f"-XX:SharedArchiveFile={files.archive}" in second["ARGS"].split()
    assert "org.apache.spark.SparkContext source: shared objects file (top)" in log.read_text()
    assert os.listdir(files.cds) == [os.path.basename(files.archive)]
    assert second["GC"] == "PS MarkSweep,PS Scavenge"


def test_a_session_whose_caller_chose_a_collector_runs_on_it(tmp_path):
    cache = tmp_path / "cache"
    files = _files(cache)
    Path(files.cds).mkdir(parents=True)
    Path(files.tries).write_text(str(S.MAX_BUILDS))  # start no builder at exit

    child = _run_child(cache, JAVA_TOOL_OPTIONS="-XX:+UseG1GC")

    assert child["SUM"] == "4950"
    assert child["GC"] == "G1 Old Generation,G1 Young Generation"
    assert "-XX:+UseParallelGC" not in child["ARGS"].split()


def test_builder_killed_while_dumping_publishes_nothing(tmp_path, monkeypatch):
    cache = tmp_path / "cache"
    for var in ("SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS", *S._CLASSPATH_ENV):
        monkeypatch.delenv(var, raising=False)
    plan = S.plan_class_archive(str(cache / "bigbugdata-spark"), S._find_spark_home(), S._java())
    builder = S.start_build(plan)
    jvm = None
    try:
        deadline = time.monotonic() + 120
        while jvm is None:
            assert time.monotonic() < deadline, "the builder started no JVM"
            assert not _gone(builder), (cache / "bigbugdata-spark" / "build.log").read_text()
            jvm = next(iter(_children(builder)), None)
            time.sleep(0.1)
        # the builder has stopped its session once it closed the JVM's stdin
        # pipe; from then on the JVM is exiting, and dumps before it ends
        stdin_pipe = os.readlink(f"/proc/{jvm}/fd/0")
        deadline = time.monotonic() + 240
        while _holds(builder, stdin_pipe):
            assert time.monotonic() < deadline, "the builder never closed the JVM's stdin"
            time.sleep(0.02)
        assert not _gone(jvm), "the JVM ended before the builder was killed"
        os.kill(builder, signal.SIGKILL)
        _wait_gone(jvm, timeout=180)
    finally:
        if not _gone(builder):
            os.kill(builder, signal.SIGKILL)
        _reap(builder)
        if jvm is not None and not _gone(jvm):
            os.kill(jvm, signal.SIGKILL)

    assert not list(Path(plan.files.cds).glob("*.jsa"))
    # the dead builder's lock and dump are passed over, never mapped; the
    # killed build counts against MAX_BUILDS
    again = S.plan_class_archive(str(cache / "bigbugdata-spark"), S._find_spark_home(), S._java())
    assert again.java_options == ""
    assert again.build == (S.MAX_BUILDS > 1)
    assert S._read_int(plan.files.tries) == 1
