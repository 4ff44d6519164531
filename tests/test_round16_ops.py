"""Round-16 engine-level properties (VERDICT r15 #4, #6 and #1).

1) Crash fault injection for the versioned-table COMMIT protocol
(sources/versioned.py) — the exact window the r15 in-flight age gate
protects.  r15 race-tested it (a vacuum racing a live writer) but
never crash-tested it, and the r15 streaming campaign showed this
style finds real bugs (the bucketed-upsert stale-file-index leak).
The same campaign covers the compaction path's write-to-commit window.

2) Session-restart resume proofs for ALL FIVE persisted warm-path
artifact families — the path-read generations (kNN spine, IVF
codebook+counts pair) and the catalog-attach tables (gram index, LSH
band+set pair, rollup partial store): a fresh process must ADOPT, with
zero rebuild I/O, pinned by file-inventory identity across two real
interpreter+JVM runs.

3) Cross-process commit contention: six real processes released at the
same instant race _commit_manifest; os-level exclusive-create is the
only arbiter, and no writer's rows are ever lost or doubled.

4) The vacuum-vs-time-travel loudness contract: an in-flight DataFrame
whose version expires fails with an exception at its next action,
never a silent zero-row answer (ignoreMissingFiles stays false).

Versioned-commit kill points:

1) AFTER the data-file stage write, BEFORE _commit_manifest runs —
   the writer dies holding a fully-written but unreferenced stage.
   Prove: (a) the table head still reads byte-identical, (b) the
   orphaned stage is reported in_flight until the TTL and reclaimed
   after, (c) a writer retry converges to a clean new version.

2) INSIDE _commit_manifest, between the tmp-manifest write and the
   exclusive-create os.link — a REAL process kill (os._exit mid-link
   in a subprocess), which leaves '.v{N}.json.tmp-*' debris that no
   `finally` can clean.  The campaign's find: no sweep ever reclaimed
   that debris (readers never see it — the version glob skips
   dotfiles — but it accumulates forever).  gc_plan/expire_versions
   now classify manifest-tmp debris with the same age gate as data
   files; this test pins head integrity, the TTL lifecycle, and
   retry convergence across the kill.

No analog in the reference (three CSV outputs, no storage layer —
SURVEY §2.1); storage extension surface.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F


class _InjectedCrash(RuntimeError):
    pass


def _head_snapshot(spark, path):
    """(manifest bytes, sorted rows) of the current head — byte-level
    plus value-level identity for 'the head still reads the same'."""
    from bigbugdata_spark.sources.versioned import (
        _manifest_path,
        latest_version,
        read_versioned,
    )

    v = latest_version(path)
    manifest = _manifest_path(path, v).read_bytes()
    rows = sorted(map(tuple, read_versioned(spark, path).collect()))
    return v, manifest, rows


def _age_tree(base: Path, seconds: float = 7200.0) -> None:
    old = time.time() - seconds
    for p in base.rglob("*"):
        if p.is_file():
            os.utime(p, (old, old))


def test_writer_crash_between_stage_and_commit(
    spark, tmp_path, monkeypatch
):
    """Kill point 1: write_versioned dies after staging its parquet
    files, before any manifest work.  The real writer code path runs
    up to the boundary (injection replaces _commit_manifest itself),
    so the on-disk state is exactly what a crashed writer leaves."""
    from bigbugdata_spark.sources import versioned
    from bigbugdata_spark.sources.versioned import (
        expire_versions,
        gc_plan,
        read_versioned,
        write_versioned,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "n_chars")
        .limit(20)
    )
    path = str(tmp_path / "corpus")
    write_versioned(docs, path)  # v0
    v_before, manifest_before, rows_before = _head_snapshot(spark, path)

    def _crash(*a, **kw):
        raise _InjectedCrash("injected crash before manifest commit")

    monkeypatch.setattr(versioned, "_commit_manifest", _crash)
    with pytest.raises(_InjectedCrash):
        write_versioned(docs.limit(7), path)
    monkeypatch.undo()

    # (a) the head reads byte-identical — same manifest bytes, same rows
    v, manifest, rows = _head_snapshot(spark, path)
    assert (v, manifest, rows) == (v_before, manifest_before, rows_before)

    # the crashed writer's stage is on disk and unreferenced
    base = tmp_path / "corpus"
    plan = gc_plan(path, retain_last=1)  # default TTL gate
    assert plan["reclaimable_files"] == []
    orphan = [f["path"] for f in plan["in_flight_files"]]
    assert orphan and all(p.startswith("data/") for p in orphan)
    assert not any(p in plan["live_files"] for p in orphan)

    # (b) pre-TTL the sweep deletes nothing; post-TTL it reclaims
    # exactly the orphaned stage and the head still reads intact
    acct = expire_versions(path, retain_last=1)
    assert acct["deleted_files"] == 0
    for p in orphan:
        assert (base / p).exists()
    _age_tree(base)
    acct2 = expire_versions(path, retain_last=1)
    assert acct2["deleted_files"] == len(orphan)
    for p in orphan:
        assert not (base / p).exists()
    assert _head_snapshot(spark, path)[2] == rows_before

    # (c) a writer retry converges: a fresh attempt commits v1 cleanly
    v1 = write_versioned(docs.limit(7), path)
    assert v1 == v_before + 1
    assert read_versioned(spark, path, v1).count() == 20 + 7
    assert read_versioned(spark, path, v_before).count() == 20


_KILL_MID_LINK = """
import os, sys
sys.path.insert(0, sys.argv[2])
from bigbugdata_spark.sources import versioned

path = sys.argv[1]
_real_link = os.link

def _killed_mid_link(src, dst, *a, **kw):
    # the process dies INSIDE the commit syscall window: the tmp
    # manifest is written, the exclusive-create link never lands, no
    # finally/except runs — exactly a SIGKILL at the worst moment
    os._exit(9)

os.link = _killed_mid_link
versioned._commit_manifest(path, lambda prev: {"files": list(prev)})
"""


def test_writer_killed_mid_manifest_link_tmp_reclaimed(spark, tmp_path):
    """Kill point 2 (real process death, no cleanup): the commit dies
    between the tmp-manifest write and os.link.  The head must stay
    byte-identical, the '.v{N}.json.tmp-*' debris must be invisible to
    readers, age-gated in_flight -> reclaimable in the vacuum
    accounting, and gone after the post-TTL sweep; a retry converges."""
    from bigbugdata_spark.sources.versioned import (
        _commit_manifest,
        expire_versions,
        gc_plan,
        latest_version,
        read_versioned,
        write_versioned,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "n_chars")
        .limit(20)
    )
    path = str(tmp_path / "corpus")
    write_versioned(docs, path)  # v0
    v_before, manifest_before, rows_before = _head_snapshot(spark, path)

    repo = str(Path(__file__).resolve().parents[1])
    proc = subprocess.run(
        [sys.executable, "-c", _KILL_MID_LINK, path, repo],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 9, proc.stderr

    base = tmp_path / "corpus"
    debris = sorted(
        f"_manifests/{p.name}"
        for p in (base / "_manifests").glob(".v*.json.tmp-*")
    )
    assert debris, "kill must leave the tmp manifest behind"
    # the debris is a COMPLETE manifest body (the write finished) —
    # only the link was lost; readers must not see it as a version
    assert latest_version(path) == v_before
    assert json.loads((base / debris[0]).read_text())["version"] == 1
    assert _head_snapshot(spark, path) == (
        v_before, manifest_before, rows_before,
    )

    # young debris: in_flight (a live commit's window is micro-seconds,
    # but the gate errs safe), never deleted by the pre-TTL sweep
    plan = gc_plan(path, retain_last=1)
    assert debris == sorted(
        f["path"] for f in plan["in_flight_files"]
    )
    acct = expire_versions(path, retain_last=1)
    assert acct["deleted_files"] == 0 and (base / debris[0]).exists()

    # aged debris: reclaimable, swept, head intact
    _age_tree(base / "_manifests")
    plan2 = gc_plan(path, retain_last=1)
    assert debris == sorted(
        f["path"] for f in plan2["reclaimable_files"]
    )
    acct2 = expire_versions(path, retain_last=1)
    assert acct2["deleted_files"] == len(debris)
    assert not (base / debris[0]).exists()
    assert _head_snapshot(spark, path) == (
        v_before, manifest_before, rows_before,
    )

    # retry converges: the re-driven commit takes the version the dead
    # writer never claimed
    v1 = _commit_manifest(path, lambda prev: {"files": list(prev)})
    assert v1 == v_before + 1
    assert sorted(map(tuple, read_versioned(spark, path, v1).collect())) \
        == rows_before


def test_single_writer_zero_ttl_reclaims_commit_debris_immediately(
    spark, tmp_path
):
    """min_age_s=0.0 (the single-writer contract store_gc_plan uses)
    must classify manifest-tmp debris straight to reclaimable — no
    aging dance for scratch tables that cannot have concurrent
    writers."""
    from bigbugdata_spark.sources.versioned import (
        expire_versions,
        gc_plan,
        write_versioned,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id")
        .limit(5)
    )
    path = str(tmp_path / "corpus")
    write_versioned(docs, path)
    base = tmp_path / "corpus"
    fake = base / "_manifests" / ".v1.json.tmp-deadbeef"
    fake.write_text('{"files": [], "version": 1, "parent": 0}')

    plan = gc_plan(path, retain_last=1, min_age_s=0.0)
    assert ["_manifests/.v1.json.tmp-deadbeef"] == [
        f["path"] for f in plan["reclaimable_files"]
    ]
    assert plan["in_flight_files"] == []
    acct = expire_versions(path, retain_last=1, min_age_s=0.0)
    assert acct["deleted_files"] == 1 and not fake.exists()


# --- session-restart resume for the memoized iterative spine ----------------

_SPINE_RUN = """
import hashlib, json, sys
sys.path.insert(0, sys.argv[1])
from bigbugdata_spark.session import get_spark
from bigbugdata_spark.operators import similarity_graph as G

sf_dir = sys.argv[2]
spark = get_spark(app_name="r16-spine-restart")
rows = sorted(map(tuple, G.knn_edges(spark, sf_dir).collect()))
digest = hashlib.sha256(repr(rows).encode()).hexdigest()
print(json.dumps({"n": len(rows), "digest": digest}))
spark.stop()
"""


@pytest.mark.slow_tier
def test_spine_survives_session_restart_without_rebuild(sf_small):
    """VERDICT r15 #6's restart/resume property for the
    driver-controlled iterative family, proven at the artifact every
    consumer (pagerank / triangles / exemplars / clusters / MMR) rides:
    a FRESH PROCESS with a cold memo must serve the kNN spine from the
    persisted generation with ZERO rebuild I/O — same bytes, untouched
    files.  Two separate interpreter+JVM runs: run 1 builds (generation
    dir removed first), run 2 restarts and adopts.  Adoption is proven
    by inventory (name, size, mtime) of the generation dir being
    IDENTICAL around run 2 — any rebuild rewrites files — and identity
    by the sha256 of the full sorted edge set matching (same parquet
    bytes served, floats included)."""
    import shutil

    from bigbugdata_spark.operators import similarity_graph as G

    loc = Path(G.index_path(f"{G._EDGES_PREFIX}{G.generation_fp(sf_small)}"))
    shutil.rmtree(loc, ignore_errors=True)
    repo = str(Path(__file__).resolve().parents[1])

    def _run():
        proc = subprocess.run(
            [sys.executable, "-c", _SPINE_RUN, repo, sf_small],
            capture_output=True,
            text=True,
            timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    r1 = _run()
    assert (loc / "_SUCCESS").exists()
    inventory = sorted(
        (p.name, p.stat().st_size, p.stat().st_mtime_ns)
        for p in loc.iterdir()
    )
    r2 = _run()
    inventory2 = sorted(
        (p.name, p.stat().st_size, p.stat().st_mtime_ns)
        for p in loc.iterdir()
    )
    assert inventory2 == inventory, "restarted session rewrote the generation"
    assert r2 == r1
    assert r1["n"] > 0


def test_compactor_crash_before_commit_leaves_layout_and_data_intact(
    spark, tmp_path, monkeypatch
):
    """Kill point 1 applied to the COMPACTION path: compact_versioned
    dies after rewriting the merged files, before the manifest swap.
    The table must keep reading the original small-file layout
    byte-identically, the orphaned merged stage must age through
    in_flight -> reclaimable, and a compaction retry must converge —
    with the pre-crash versions still readable (compaction changes
    layout, never visible data)."""
    from bigbugdata_spark.sources import versioned
    from bigbugdata_spark.sources.versioned import (
        compact_versioned,
        expire_versions,
        gc_plan,
        read_versioned,
        write_versioned,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "n_chars")
        .limit(24)
    )
    path = str(tmp_path / "corpus")
    write_versioned(docs.repartition(6), path)  # v0: six small files
    v_before, manifest_before, rows_before = _head_snapshot(spark, path)

    def _crash(*a, **kw):
        raise _InjectedCrash("injected crash before manifest swap")

    monkeypatch.setattr(versioned, "_commit_manifest", _crash)
    with pytest.raises(_InjectedCrash):
        compact_versioned(spark, path)
    monkeypatch.undo()

    assert _head_snapshot(spark, path) == (
        v_before, manifest_before, rows_before,
    )
    base = tmp_path / "corpus"
    plan = gc_plan(path, retain_last=1)
    orphan = [f["path"] for f in plan["in_flight_files"]]
    assert orphan, "the dead compactor's merged stage must be visible"
    _age_tree(base)
    acct = expire_versions(path, retain_last=1)
    assert acct["deleted_files"] == len(orphan)
    assert _head_snapshot(spark, path)[2] == rows_before

    # retry converges: the re-run compaction commits, the head reads
    # the same rows from the merged layout, and v0 still serves the
    # original files
    v_c = compact_versioned(spark, path)
    assert v_c == v_before + 1
    assert sorted(
        map(tuple, read_versioned(spark, path, v_c).collect())
    ) == rows_before
    assert sorted(
        map(tuple, read_versioned(spark, path, v_before).collect())
    ) == rows_before


_IVF_RUN = """
import hashlib, json, sys
sys.path.insert(0, sys.argv[1])
from bigbugdata_spark.session import get_spark
from bigbugdata_spark.operators.similarity import ivf_index_generation

sf_dir = sys.argv[2]
spark = get_spark(app_name="r16-ivf-restart")
cb, cnt = ivf_index_generation(spark, sf_dir)
rows = sorted(
    (r["cell_id"], r["n_before"]) for r in cnt.collect()
)
digest = hashlib.sha256(repr(rows).encode()).hexdigest()
print(json.dumps({"k": cb.count(), "n": len(rows), "digest": digest}))
spark.stop()
"""


@pytest.mark.slow_tier
def test_ivf_generation_survives_session_restart_without_rebuild(sf_small):
    """The same restart/resume property for the OTHER warm-path
    artifact with a wall budget (sim_ivf_incremental_assign's 1.5 s
    gate rests on adopting this generation, never rebuilding): a fresh
    process must adopt BOTH persisted locations (codebook + inverted-
    file counts) with zero rebuild I/O.  Torn-pair recovery (one
    location renamed, gate fails, rebuild) is already pinned in-session
    by test_round13_ops; this is the cross-process adoption half."""
    import shutil

    from bigbugdata_spark.operators import similarity as SI
    from bigbugdata_spark.operators.dedup_incr import index_path

    fp = SI.ivf_generation_fp(sf_small)
    locs = [
        Path(index_path(f"{SI._IVF_CB_PREFIX}{fp}")),
        Path(index_path(f"{SI._IVF_CNT_PREFIX}{fp}")),
    ]
    for loc in locs:
        shutil.rmtree(loc, ignore_errors=True)
    repo = str(Path(__file__).resolve().parents[1])

    def _run():
        proc = subprocess.run(
            [sys.executable, "-c", _IVF_RUN, repo, sf_small],
            capture_output=True,
            text=True,
            timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    def _inventory():
        return sorted(
            (loc.name, p.name, p.stat().st_size, p.stat().st_mtime_ns)
            for loc in locs
            for p in loc.iterdir()
        )

    r1 = _run()
    for loc in locs:
        assert (loc / "_SUCCESS").exists()
    inv1 = _inventory()
    r2 = _run()
    assert _inventory() == inv1, "restarted session rewrote the generation"
    assert r2 == r1
    assert r1["k"] > 0 and r1["n"] > 0


_ATTACH_RUN = """
import json, sys
sys.path.insert(0, sys.argv[1])
from importlib import import_module
from bigbugdata_spark.session import get_spark

mod = import_module(sys.argv[2])
fn = getattr(mod, sys.argv[3])
spark = get_spark(app_name="r16-attach-restart")
out = fn(spark, sys.argv[4])
frames = out if isinstance(out, tuple) else (out,)
print(json.dumps([f.count() for f in frames]))
spark.stop()
"""


@pytest.mark.slow_tier
def test_attach_family_indexes_survive_session_restart(spark, sf_small):
    """The catalog-ATTACH half of the restart matrix: the three
    saveAsTable-published warm-path artifacts (gram index, LSH
    band+set pair, rollup partial store) must be adopted by a truly
    fresh interpreter+JVM — whose catalog is empty by construction —
    via attach_index_tables, with zero rebuild I/O.  Together with the
    spine/IVF path-read proofs above, every persisted artifact family
    the wall gates rest on is restart-proven cross-process (the r9
    in-session DROP-TABLE simulation covered attach logic; this covers
    the cold metastore).  Counts must match between the building and
    the adopting run; the parquet inventory must be untouched."""
    import shutil
    from importlib import import_module

    from bigbugdata_spark.operators.dedup_incr import index_path

    di = import_module("bigbugdata_spark.operators.dedup_incr")
    er = import_module("bigbugdata_spark.operators.events")
    specs = [
        (
            "bigbugdata_spark.operators.dedup_incr",
            "gram_index",
            di._index_names(di._corpus_fingerprint(sf_small)),
        ),
        (
            "bigbugdata_spark.operators.dedup_incr",
            "lsh_index",
            di._lsh_index_names(di._corpus_fingerprint(sf_small)),
        ),
        (
            "bigbugdata_spark.operators.events",
            "rollup_store",
            (f"{er._PREFIX}{er._corpus_fingerprint(sf_small, 'events.parquet')}",),
        ),
    ]
    repo = str(Path(__file__).resolve().parents[1])

    def _run(mod, fn):
        proc = subprocess.run(
            [sys.executable, "-c", _ATTACH_RUN, repo, mod, fn, sf_small],
            capture_output=True,
            text=True,
            timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    for mod, fn, names in specs:
        # cold start: this session's catalog entries dropped (external
        # tables — files persist) and the generations removed so run 1
        # must BUILD
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")
            shutil.rmtree(index_path(n), ignore_errors=True)
        counts1 = _run(mod, fn)
        inv1 = sorted(
            (n, p.name, p.stat().st_size, p.stat().st_mtime_ns)
            for n in names
            for p in Path(index_path(n)).glob("*.parquet")
        )
        assert inv1, f"{fn}: run 1 must build the generation"
        counts2 = _run(mod, fn)
        inv2 = sorted(
            (n, p.name, p.stat().st_size, p.stat().st_mtime_ns)
            for n in names
            for p in Path(index_path(n)).glob("*.parquet")
        )
        assert inv2 == inv1, f"{fn}: restarted session rewrote the index"
        assert counts2 == counts1 and all(c > 0 for c in counts1), fn


# --- cross-process writer contention on the commit protocol ------------------

_CONTEND_RUN = r"""
import json, os, sys, time, uuid
sys.path.insert(0, sys.argv[1])
table, writer_id, start_at, n_rows = (
    sys.argv[2], int(sys.argv[3]), float(sys.argv[4]), int(sys.argv[5])
)
import pyarrow as pa
import pyarrow.parquet as pq
from pathlib import Path
from bigbugdata_spark.sources.versioned import _commit_manifest

base = Path(table)
stage = f"data/{uuid.uuid4().hex}"
(base / stage).mkdir(parents=True)
tbl = pa.table({
    "writer": pa.array([writer_id] * n_rows, pa.int64()),
    "row": pa.array(list(range(n_rows)), pa.int64()),
})
pq.write_table(tbl, base / stage / "part-0.parquet")
entries = [
    {"path": f"{stage}/{p.name}", "bytes": p.stat().st_size}
    for p in sorted((base / stage).glob("*.parquet"))
]
# all writers release at the same wall instant so the commit loops
# genuinely collide instead of serializing on process startup.  A
# startup that already blew past the deadline would leave the test
# passing while silently NOT exercising the os.link race it exists to
# prove — fail loudly instead (ADVICE r16).
assert time.time() < start_at, (
    f"writer {writer_id} started {time.time() - start_at:.2f}s past the "
    "release instant — the collision this test exists to prove did not "
    "happen; widen the start margin"
)
time.sleep(max(0.0, start_at - time.time()))
v = _commit_manifest(table, lambda prev: {"files": prev + entries})
print(json.dumps({"writer": writer_id, "version": v, "stage": stage}))
"""


def test_commit_protocol_cross_process_writer_contention(spark, tmp_path):
    """The optimistic-concurrency claim the docstrings make — 'os.link
    fails with EEXIST if another writer committed N first; this writer
    rebases and retries' — proven with SIX REAL PROCESSES released at
    the same instant, not threads sharing a GIL (the in-process test is
    test_versioned_compaction_concurrent_append_survives).  os-level
    exclusive-create is the only arbiter here: no lock file, no
    coordinator.  Pin: (a) every writer commits a DISTINCT contiguous
    version, (b) the head manifest carries every writer's stage exactly
    once (no lost update), (c) each intermediate version = its parent's
    files + exactly one stage (the rebase chain never skips or
    duplicates), (d) a Spark read of the head sees every writer's rows
    exactly once.  Data files are staged with pyarrow so the writers
    stay JVM-free — the contention under test lives entirely in
    _commit_manifest."""
    from bigbugdata_spark.sources.versioned import (
        _read_manifest,
        latest_version,
        read_versioned,
    )

    repo = str(Path(__file__).resolve().parents[1])
    table = str(tmp_path / "contended")
    n_writers, n_rows = 6, 25
    # 7 s margin: interpreter + pyarrow startup exceeded 2 s on loaded
    # hosts, which degenerated the race into serialized commits; the
    # children now assert they made the deadline (ADVICE r16)
    start_at = time.time() + 7.0
    procs = [
        subprocess.Popen(
            [
                sys.executable,
                "-c",
                _CONTEND_RUN,
                repo,
                table,
                str(i),
                repr(start_at),
                str(n_rows),
            ],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for i in range(n_writers)
    ]
    results = []
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err[-2000:]
        results.append(json.loads(out.strip().splitlines()[-1]))

    # (a) six distinct, contiguous versions 0..5
    versions_won = sorted(r["version"] for r in results)
    assert versions_won == list(range(n_writers))
    assert latest_version(table) == n_writers - 1

    # (b)+(c) every manifest rebased cleanly: each version's file set is
    # its parent's plus exactly one whole stage, and the head holds all
    # six stages exactly once
    stage_of = {r["stage"]: r["writer"] for r in results}
    prev_files: list = []
    for v in range(n_writers):
        m = _read_manifest(table, v)
        assert m["version"] == v
        assert m["parent"] == (None if v == 0 else v - 1)
        added = [f["path"] for f in m["files"][len(prev_files):]]
        assert m["files"][: len(prev_files)] == prev_files, (
            f"v{v} rewrote its parent's entries"
        )
        added_stages = {p.rsplit("/", 1)[0] for p in added}
        assert len(added_stages) == 1 and added_stages < set(stage_of), (
            f"v{v} added {added_stages}, not exactly one known stage"
        )
        prev_files = m["files"]
    assert {f["path"].rsplit("/", 1)[0] for f in prev_files} == set(stage_of)

    # (d) the head reads every writer's rows exactly once
    head = read_versioned(spark, table)
    counts = {
        r["writer"]: r["n"]
        for r in head.groupBy("writer").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert counts == {i: n_rows for i in range(n_writers)}


def test_expired_version_inflight_dataframe_fails_loud_never_silent(
    spark, tmp_path
):
    """The vacuum-vs-time-travel hazard every manifest table format
    carries (Iceberg/Delta document the same contract): a DataFrame
    built against version N whose files a later expire_versions
    reclaims must FAIL LOUDLY at its next action — never return zero
    or partial rows as if the corpus were empty.  Spark's
    ignoreMissingFiles=false default is the mechanism; this pins that
    the engine never flips it and that the failure is an exception,
    not a silent wrong answer.  The head keeps reading through the
    same expiry, and a plan-time re-read of the expired version raises
    the engine's own FileNotFoundError."""
    from py4j.protocol import Py4JJavaError

    from bigbugdata_spark.sources.versioned import (
        compact_versioned,
        expire_versions,
        read_versioned,
        write_versioned,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "n_chars")
        .limit(30)
        .repartition(4)
    )
    path = str(tmp_path / "corpus")
    write_versioned(docs, path)  # v0
    compact_versioned(spark, path)  # v1: v0's files now serve only v0

    pinned = read_versioned(spark, path, 0)  # lazy plan over v0's files
    assert pinned.count() == 30  # readable before expiry
    spark.catalog.clearCache()

    acct = expire_versions(path, retain_last=1, min_age_s=0.0)
    assert acct["expired"] == [0] and acct["deleted_files"] > 0

    # the in-flight plan fails LOUDLY at its next action
    with pytest.raises(Exception) as excinfo:
        pinned.count()
    assert isinstance(
        excinfo.value, Py4JJavaError
    ) or "FileNotFound" in str(excinfo.value) or "does not exist" in str(
        excinfo.value
    ), f"expected a loud file-level failure, got: {excinfo.value!r}"
    # never the silent-empty failure mode
    assert "0" != str(excinfo.value).strip()

    # the engine never enables the silencing escape hatch
    assert (
        spark.conf.get("spark.sql.files.ignoreMissingFiles", "false")
        == "false"
    )

    # the head still reads, and a fresh v0 read raises at plan time
    assert read_versioned(spark, path).count() == 30
    with pytest.raises(FileNotFoundError):
        read_versioned(spark, path, 0)
