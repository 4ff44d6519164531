"""Manifest-versioned table (sources/versioned.py): snapshot isolation,
time travel, and the reproducible-training-run contract."""

from __future__ import annotations

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
