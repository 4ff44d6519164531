"""Manifest-versioned table (sources/versioned.py): snapshot isolation,
time travel, the reproducible-training-run contract, retention (GC and
vacuum) plans, and the commit protocol under writer crashes, kills and
cross-process contention."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.registry import load_all
from bigbugdata_spark.sources.versioned import (
    latest_version,
    read_versioned,
    versions,
    write_versioned,
)

SPECS = load_all()


def _sig(df):
    """Order-free content signature: row count + xor/sum of row hashes."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.hash(*df.columns).cast("long")).alias("s"),
    ).first()
    return (row["n"], row["s"])


def test_versioned_time_travel_and_isolation(tmp_path, spark, sf_oracle):
    docs = table(spark, sf_oracle, "documents")
    first = docs.filter(F.col("doc_id") < 300)
    second = docs.filter(F.col("doc_id") >= 300)
    path = str(tmp_path / "corpus")

    v0 = write_versioned(first, path)
    assert v0 == 0 and latest_version(path) == 0
    sig_v0 = _sig(read_versioned(spark, path, 0))
    assert sig_v0 == _sig(first)

    v1 = write_versioned(second, path)
    assert v1 == 1 and latest_version(path) == 1
    # latest sees the union; the pinned v0 read is UNCHANGED by the
    # commit that happened after it — snapshot isolation
    assert _sig(read_versioned(spark, path)) == _sig(docs)
    assert _sig(read_versioned(spark, path, 0)) == sig_v0

    audit = versions(path)
    assert [a["version"] for a in audit] == [0, 1]
    assert audit[1]["n_files"] > audit[0]["n_files"]
    assert audit[1]["n_bytes"] > audit[0]["n_bytes"]
    assert audit[0]["parent"] is None and audit[1]["parent"] == 0


def test_versioned_unknown_version_fails_loudly(tmp_path, spark, sf_oracle):
    path = str(tmp_path / "corpus")
    with pytest.raises(FileNotFoundError):
        read_versioned(spark, path)
    write_versioned(
        table(spark, sf_oracle, "documents").limit(10), path
    )
    with pytest.raises(FileNotFoundError):
        read_versioned(spark, path, 5)


def test_versioned_reproducible_training_read(tmp_path, spark, sf_oracle):
    """The governance contract: a training job pins the version it read;
    later commits (new data arriving) never change what that pin
    returns."""
    docs = table(spark, sf_oracle, "documents")
    path = str(tmp_path / "corpus")
    pinned = write_versioned(docs.filter(F.col("lang") == "en"), path)
    sig_before = _sig(read_versioned(spark, path, pinned))
    for i in range(3):  # three more ingest cycles
        write_versioned(docs.filter(F.col("doc_id") % 7 == i), path)
    assert latest_version(path) == pinned + 3
    assert _sig(read_versioned(spark, path, pinned)) == sig_before


def test_versioned_concurrent_commits_lose_nothing(tmp_path, spark):
    """The optimistic-concurrency claim behind write_versioned's
    exclusive-create commit: N writers racing on the same table must all
    commit (distinct versions, every row visible at the final head) —
    with a blind os.replace rename, a losing writer's files silently
    vanish from every manifest."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "corpus")
    frames = [
        spark.createDataFrame([(i, f"writer {i}")], "id long, who string")
        for i in range(8)
    ]
    with ThreadPoolExecutor(max_workers=8) as ex:
        got = list(ex.map(lambda df: write_versioned(df, path), frames))
    assert sorted(got) == list(range(8))  # every writer got a distinct commit
    assert latest_version(path) == 7
    head = read_versioned(spark, path)
    assert head.count() == 8
    assert {r["id"] for r in head.collect()} == set(range(8))
    # every intermediate version is readable and monotone in size
    sizes = [read_versioned(spark, path, v).count() for v in range(8)]
    assert sizes == sorted(sizes) and sizes[-1] == 8


def test_versioned_additive_schema_evolution(tmp_path, spark):
    """Additive evolution: a later commit adds a column; the merged read
    of the head sees it null-extended over old files, while a PINNED
    read of the old version keeps exactly the old schema (a reproducing
    training job must not suddenly see new columns)."""
    path = str(tmp_path / "corpus")
    write_versioned(
        spark.createDataFrame([(1, "a")], "doc_id long, text string"), path
    )
    write_versioned(
        spark.createDataFrame(
            [(2, "b", 0.9)], "doc_id long, text string, quality double"
        ),
        path,
    )
    head = read_versioned(spark, path, merge_schema=True)
    assert set(head.columns) == {"doc_id", "text", "quality"}
    rows = {r["doc_id"]: r["quality"] for r in head.collect()}
    assert rows == {1: None, 2: 0.9}
    pinned = read_versioned(spark, path, 0)
    assert set(pinned.columns) == {"doc_id", "text"}
    assert pinned.count() == 1


def test_versioned_compaction_preserves_data_and_shrinks_files(
    tmp_path, spark, sf_oracle
):
    """compact_versioned (round 8): merged files, swapped manifest, zero
    visible-data change — and the PRE-compaction version keeps reading
    the original immutable files byte-identically until expiry."""
    from bigbugdata_spark.sources.versioned import _read_manifest, compact_versioned

    docs = table(spark, sf_oracle, "documents")
    path = str(tmp_path / "corpus")
    for i in range(4):  # 4 commits x 6 files = a fragmented table
        write_versioned(docs.filter(F.col("doc_id") % 4 == i).repartition(6), path)
    head = latest_version(path)
    sig_head = _sig(read_versioned(spark, path))
    pre_manifest = _read_manifest(path, head)
    assert len(pre_manifest["files"]) == 24

    v_c = compact_versioned(spark, path)
    assert v_c == head + 1
    post = _read_manifest(path, v_c)
    assert len(post["files"]) == 1  # well under target_file_bytes
    assert post["compaction_of"] == head
    # visible data unchanged, at the compacted head AND at the old pin
    assert _sig(read_versioned(spark, path)) == sig_head
    assert _sig(read_versioned(spark, path, head)) == sig_head
    # the old version's file list is untouched and every file still has
    # its original bytes on disk — byte-identity, not just row-equality
    import os

    assert _read_manifest(path, head)["files"] == pre_manifest["files"]
    for f in pre_manifest["files"]:
        assert os.path.getsize(os.path.join(path, f["path"])) == f["bytes"]


def test_versioned_compaction_concurrent_append_survives(tmp_path, spark):
    """A compaction commit must rebase over appends that land while it
    rewrites files — the swap replaces only the SNAPSHOT's files, so a
    concurrent writer's rows appear at the final head regardless of
    commit order."""
    from concurrent.futures import ThreadPoolExecutor

    from bigbugdata_spark.sources.versioned import compact_versioned

    path = str(tmp_path / "corpus")
    write_versioned(
        spark.createDataFrame([(i, "base") for i in range(50)], "id long, who string")
        .repartition(8),
        path,
    )
    appends = [
        spark.createDataFrame([(100 + i, f"late {i}")], "id long, who string")
        for i in range(4)
    ]
    with ThreadPoolExecutor(max_workers=5) as ex:
        futs = [ex.submit(compact_versioned, spark, path)]
        futs += [ex.submit(write_versioned, df, path) for df in appends]
        for f in futs:
            f.result()
    head = read_versioned(spark, path)
    ids = {r["id"] for r in head.collect()}
    assert ids == set(range(50)) | {100, 101, 102, 103}


def test_versioned_expiry_respects_pins_and_fails_loudly_after(
    tmp_path, spark, sf_oracle
):
    """expire_versions (round 8): old manifests and their orphaned data
    files go away (freed bytes accounted), a PINNED version survives
    retention with byte-identical reads, an expired version read raises,
    and unpinning makes the version expirable."""
    from bigbugdata_spark.sources.versioned import (
        compact_versioned,
        expire_versions,
        pin_version,
        pinned_versions,
        unpin_version,
    )

    docs = table(spark, sf_oracle, "documents")
    path = str(tmp_path / "corpus")
    for i in range(4):
        write_versioned(docs.filter(F.col("doc_id") % 4 == i), path)
    pin_version(path, 1, "run-alpha")
    assert pinned_versions(path) == {"run-alpha": 1}
    with pytest.raises(FileNotFoundError):
        pin_version(path, 99, "bogus")
    sig_v1 = _sig(read_versioned(spark, path, 1))
    sig_head = _sig(read_versioned(spark, path))

    compact_versioned(spark, path)  # v4: old files now only serve v0-v3
    acct = expire_versions(path, retain_last=1, min_age_s=0.0)
    assert acct["expired"] == [0, 2, 3]
    assert acct["retained"] == [1, 4]
    assert acct["deleted_files"] > 0 and acct["freed_bytes"] > 0
    assert [a["version"] for a in versions(path)] == [1, 4]
    # the pin still reads exactly what the training run saw; the head is
    # intact; expired versions fail loudly
    assert _sig(read_versioned(spark, path, 1)) == sig_v1
    assert _sig(read_versioned(spark, path)) == sig_head
    for gone in (0, 2, 3):
        with pytest.raises(FileNotFoundError):
            read_versioned(spark, path, gone)

    unpin_version(path, "run-alpha")
    acct2 = expire_versions(path, retain_last=1, min_age_s=0.0)
    assert acct2["expired"] == [1]
    with pytest.raises(FileNotFoundError):
        read_versioned(spark, path, 1)
    assert _sig(read_versioned(spark, path)) == sig_head
    with pytest.raises(ValueError):
        expire_versions(path, retain_last=0)


def test_corpus_version_diff_same_result_through_compacted_table(
    tmp_path, spark, sf_oracle
):
    """VERDICT r7 #3 'done' criterion: the registered corpus_version_diff
    derivation yields the same accounting when the table has been
    compacted between commit and read — layout changes must be invisible
    to the hash-gated query shape."""
    from bigbugdata_spark.sources.versioned import compact_versioned

    docs = table(spark, sf_oracle, "documents")
    path = str(tmp_path / "corpus")
    v0 = write_versioned(docs.filter(F.col("lang") == "en"), path)
    v1 = write_versioned(docs.filter(F.col("lang") != "en"), path)

    def acct(version, tag):
        return {
            (tag, r["lang"]): (r["n_docs"], r["total_chars"])
            for r in read_versioned(spark, path, version)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
            )
            .collect()
        }

    before = {**acct(v0, 0), **acct(v1, 1)}
    compact_versioned(spark, path)
    after = {**acct(v0, 0), **acct(v1, 1)}
    assert after == before


@pytest.mark.slow_tier
def test_backfill_through_versioned_table_lifecycle(tmp_path, spark, sf_oracle):
    """r8 verdict item 7: compose the versioned table with the SCD2
    repair path. A training run pins the pre-repair snapshot; an
    out-of-order slice lands via repair_user_runs and publishes a new
    REPLACEMENT version; the pinned pre-repair read stays byte-identical
    through the repair, a compaction, and an expiry sweep (which refuses
    to drop the pinned version); the post-repair version equals the
    batch derivation that carries the registered oracle."""
    import pytest

    from bigbugdata_spark.sources.versioned import (
        compact_versioned,
        expire_versions,
        pin_version,
        read_versioned,
        replace_versioned,
        unpin_version,
    )
    from bigbugdata_spark.operators.scd import (
        OutOfOrderSliceError,
        read_state_history,
        repair_user_runs,
        upsert_state_runs,
    )

    ev = table(spark, sf_oracle, "events")
    t = lambda s: F.lit(s).cast("timestamp")  # noqa: E731
    s0 = ev.filter(F.col("ts") < t("2024-01-08"))
    s1 = ev.filter(
        (F.col("ts") >= t("2024-01-08")) & (F.col("ts") < t("2024-01-16"))
    )
    s2 = ev.filter(F.col("ts") >= t("2024-01-16"))
    work = str(tmp_path / "run_table")  # the maintained working dir
    vpath = str(tmp_path / "published")  # the versioned publish target

    def rows_of(df):
        return sorted(
            (r["user_id"], r["state"], r["valid_from"], r["valid_to"],
             r["n_events"], r["is_current"])
            for r in df.collect()
        )

    upsert_state_runs(spark, s0, work)
    upsert_state_runs(spark, s2, work)  # slice 1 missing: table runs ahead
    v_pre = replace_versioned(read_state_history(spark, work), vpath)
    pin_version(vpath, v_pre, "training-run-x")
    pre_rows = rows_of(read_versioned(spark, vpath, v_pre))

    with pytest.raises(OutOfOrderSliceError):
        upsert_state_runs(spark, s1, work)  # the backfill slice arrives
    late_users = sorted(
        r[0] for r in s1.select("user_id").distinct().collect()
    )
    repair_user_runs(spark, ev, work, late_users)
    v_post = replace_versioned(read_state_history(spark, work), vpath)
    assert v_post == v_pre + 1

    # post-repair snapshot == the batch derivation (the oracle carrier)
    batch = rows_of(SPECS["evt_user_state_history"].fn(spark, sf_oracle))
    assert rows_of(read_versioned(spark, vpath, v_post)) == batch
    assert batch != pre_rows  # the backfill genuinely changed history

    # pinned pre-repair read: byte-identical through repair...
    assert rows_of(read_versioned(spark, vpath, v_pre)) == pre_rows
    # ...through compaction of the head...
    v_comp = compact_versioned(spark, vpath)
    assert rows_of(read_versioned(spark, vpath, v_pre)) == pre_rows
    assert rows_of(read_versioned(spark, vpath, v_comp)) == batch
    # ...and through an expiry sweep that must refuse the pinned version
    acc = expire_versions(vpath, retain_last=1, min_age_s=0.0)
    assert v_pre in acc["retained"] and v_post in acc["expired"]
    assert rows_of(read_versioned(spark, vpath, v_pre)) == pre_rows
    # released pin -> the next sweep may expire it, and reads fail loudly
    unpin_version(vpath, "training-run-x")
    acc2 = expire_versions(vpath, retain_last=1, min_age_s=0.0)
    assert v_pre in acc2["expired"]
    with pytest.raises(FileNotFoundError):
        read_versioned(spark, vpath, v_pre)
    assert rows_of(read_versioned(spark, vpath, v_comp)) == batch


# --- versioned-table vacuum: the in-flight gate (r15 race find) -------------


def test_vacuum_spares_concurrent_writers_uncommitted_stage(
    spark, tmp_path, sf_small
):
    """The r15 race find in the versioned table's retention: the write
    protocol is data-first / manifest-second, so a vacuum running
    inside a concurrent writer's write-to-commit window sees the
    winner's staged files as unreferenced and — without the age gate —
    deletes them, leaving the subsequent commit referencing missing
    files.  With the default gate: the young stage is reported
    in_flight and survives, the late commit then reads back intact;
    after aging past the TTL a genuinely-orphaned stage is reclaimed
    by the next sweep."""
    import os
    import time

    from bigbugdata_spark.sources.versioned import (
        expire_versions,
        gc_plan,
        read_versioned,
        replace_versioned,
        write_versioned,
    )

    docs = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .select("doc_id", "n_chars")
        .limit(20)
    )
    path = str(tmp_path / "corpus")
    write_versioned(docs, path)  # v0
    replace_versioned(docs.limit(5), path)  # v1: v0's files now orphaned

    # a concurrent writer mid-window: data staged, manifest NOT yet
    # committed — indistinguishable from an orphan by reference alone
    base = tmp_path / "corpus"
    stage = "data/deadbeefcafe"
    docs.limit(3).write.parquet(str(base / stage))
    staged = sorted(
        f"{stage}/{p.name}" for p in (base / stage).glob("*.parquet")
    )
    assert staged

    # vacuum with the DEFAULT gate: v0's manifest expires (crash-safe
    # order: manifests first), but every young unreferenced file —
    # v0's orphans AND the writer's stage — is in_flight, not deleted
    acct = expire_versions(path, retain_last=1)
    assert acct["expired"] == [0] and acct["deleted_files"] == 0
    # in-flight entries carry the same {path, bytes} accounting shape
    # as reclaimable ones (ADVICE r15)
    in_flight = {f["path"]: f["bytes"] for f in acct["in_flight_files"]}
    assert set(staged) <= set(in_flight)
    for f in staged:
        assert in_flight[f] == (base / f).stat().st_size
    for f in staged:
        assert (base / f).exists(), f"vacuum deleted in-flight {f}"

    # the late winner commits its manifest and must read back intact
    from bigbugdata_spark.sources.versioned import _commit_manifest

    entries = [
        {"path": f, "bytes": (base / f).stat().st_size} for f in staged
    ]
    v2 = _commit_manifest(
        path, lambda prev: {"files": list(prev) + entries}
    )
    assert read_versioned(spark, path, v2).count() == 5 + 3

    # age everything; now-orphaned files (none referenced by v1/v2)
    # become reclaimable and the sweep deletes exactly those
    old = time.time() - 7200
    for stage_dir in (base / "data").iterdir():
        for p in stage_dir.glob("*.parquet"):
            os.utime(p, (old, old))
    plan = gc_plan(path, retain_last=2)  # v1 and v2 both retained
    assert plan["in_flight_files"] == []
    assert plan["reclaimable_files"], "aged orphans must be reclaimable"
    live_before = read_versioned(spark, path, v2).count()
    acct2 = expire_versions(path, retain_last=2)
    assert acct2["deleted_files"] == len(plan["reclaimable_files"])
    assert read_versioned(spark, path, v2).count() == live_before


def test_gc_ttl_env_parse_survives_garbage(monkeypatch):
    """Same warn-and-fallback contract as the dedup TTL (ADVICE r15):
    a malformed SPARK_GRAFT_GC_TTL_S must not raise at import.  r16
    folded both per-site parsers into env_cfg.parse_ttl_env (VERDICT
    r15 #5) — the float cast keeps fractional seconds valid here."""
    import warnings

    from bigbugdata_spark.env_cfg import parse_ttl_env

    def _parse():
        return parse_ttl_env("SPARK_GRAFT_GC_TTL_S", 1800.0, float)

    monkeypatch.setenv("SPARK_GRAFT_GC_TTL_S", "1h")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _parse() == 1800.0
    assert any("SPARK_GRAFT_GC_TTL_S" in str(x.message) for x in w)
    monkeypatch.setenv("SPARK_GRAFT_GC_TTL_S", "90.5")
    assert _parse() == 90.5


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
