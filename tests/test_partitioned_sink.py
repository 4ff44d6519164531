"""Partitioned-layout file-count budget + compaction invariants.

The small-files failure mode is invisible to row-level correctness tests
(the data is identical however it is splintered), so these tests assert
the FILE layout: budgeted counts after a write, splinter growth under
repeated appends, and restoration of the budget by an incremental
compaction pass that leaves untouched partitions' bytes alone.  The
storage advisors (operators/storage.py) that plan compaction and pick
the partition granularity are checked here too."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bigbugdata_spark.registry import load_all
from bigbugdata_spark.sources.partitioned import (
    DAY_COL,
    compact_partitions,
    write_partitioned,
)

SPECS = load_all()


def _events(spark, sf_oracle):
    from bigbugdata_spark.catalog import table

    return table(spark, sf_oracle, "events")


def _parquet_files_by_partition(path: str) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for d in sorted(os.listdir(path)):
        if not d.startswith(f"{DAY_COL}="):
            continue
        out[d] = [
            f
            for f in os.listdir(os.path.join(path, d))
            if f.endswith(".parquet")
        ]
    return out


def test_write_budgets_files_per_partition(tmp_path, spark, sf_oracle):
    """The budget is an upper bound enforced by construction. Baseline
    first: a naive partitionBy write from a 32-way-parallel upstream
    splinters every day into ~32 files (each task writes one file per
    day it holds — THE small-files failure). The budgeted write from
    the identical upstream stays at <= files_per_partition."""
    from bigbugdata_spark.sources.partitioned import with_day

    src = _events(spark, sf_oracle)
    naive_path = str(tmp_path / "naive_lake")
    (
        with_day(src)
        .repartition(32)  # whatever parallelism the upstream job had
        .write.partitionBy(DAY_COL)
        .parquet(naive_path)
    )
    naive = _parquet_files_by_partition(naive_path)
    assert max(len(f) for f in naive.values()) > 2  # the failure exists

    path = str(tmp_path / "events_lake")
    write_partitioned(src.repartition(32), path, files_per_partition=2)
    by_part = _parquet_files_by_partition(path)
    assert len(by_part) > 1  # multiple days -> partition pruning matters
    assert all(1 <= len(files) <= 2 for files in by_part.values()), {
        k: len(v) for k, v in by_part.items()
    }
    # roundtrip: layout changes, rows don't
    back = spark.read.parquet(path)
    assert back.count() == src.count()
    assert back.select(F.sum("event_id")).first()[0] == (
        src.select(F.sum("event_id")).first()[0]
    )


def test_compaction_restores_budget_only_where_asked(tmp_path, spark, sf_oracle):
    """Three appends splinter every partition to 3 files; an incremental
    compaction pass scoped by predicate to a suffix of the days restores
    those partitions to 1 file each and must NOT rewrite the others
    (dynamic partition overwrite replaces only partitions present in the
    rewritten frame). Values survive byte-for-byte."""
    path = str(tmp_path / "events_lake")
    ev = _events(spark, sf_oracle)
    write_partitioned(ev, path, files_per_partition=1)
    for _ in range(2):
        write_partitioned(ev, path, files_per_partition=1, mode="append")
    splintered = _parquet_files_by_partition(path)
    assert all(len(files) == 3 for files in splintered.values())

    days = sorted(splintered)
    cut = days[len(days) // 2].split("=", 1)[1]
    before_untouched = {
        d: set(files) for d, files in splintered.items()
        if d.split("=", 1)[1] < cut
    }
    total_before = spark.read.parquet(path).count()
    sum_before = spark.read.parquet(path).select(F.sum("value")).first()[0]

    compact_partitions(
        spark, path, files_per_partition=1,
        predicate=f"{DAY_COL} >= '{cut}'",
    )

    after = _parquet_files_by_partition(path)
    for d, files in after.items():
        if d.split("=", 1)[1] >= cut:
            assert len(files) == 1, (d, files)  # budget restored
        else:
            assert set(files) == before_untouched[d]  # bytes untouched
    assert spark.read.parquet(path).count() == total_before
    assert abs(
        spark.read.parquet(path).select(F.sum("value")).first()[0] - sum_before
    ) < 1e-6


def test_cluster_by_yields_skippable_row_groups(tmp_path, spark, sf_oracle):
    """cluster_by sorts within each write task, so every parquet file's
    row groups carry DISJOINT value ranges of the cluster column — the
    property row-group statistics skipping needs. Contrast with the
    unclustered write, where ingest-ordered values overlap across row
    groups and a selective predicate must read them all. Row groups are
    forced small (parquet.block.size) so files carry several."""
    import pyarrow.parquet as pq

    def ranges(root):
        out = []
        for d in sorted(os.listdir(root)):
            if not d.startswith(f"{DAY_COL}="):
                continue
            for f in os.listdir(os.path.join(root, d)):
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, d, f)).metadata
                idx = md.schema.names.index("user_id")
                rgs = [
                    (
                        md.row_group(i).column(idx).statistics.min,
                        md.row_group(i).column(idx).statistics.max,
                    )
                    for i in range(md.num_row_groups)
                ]
                if len(rgs) > 1:
                    out.append(rgs)
        return out

    from bigbugdata_spark.sources.partitioned import write_partitioned

    ev = _events(spark, sf_oracle)
    opts = {"parquet.block.size": 16 * 1024}

    clustered = str(tmp_path / "clustered")
    write_partitioned(
        ev, clustered, cluster_by=("user_id",), writer_options=opts
    )
    c_ranges = ranges(clustered)
    assert c_ranges, "no multi-row-group file — shrink block size"
    for rgs in c_ranges:
        for (lo1, hi1), (lo2, hi2) in zip(rgs, rgs[1:]):
            assert hi1 <= lo2, rgs  # sorted => consecutive groups disjoint

    plain = str(tmp_path / "plain")
    write_partitioned(ev, plain, writer_options=opts)
    p_ranges = ranges(plain)
    assert p_ranges
    overlapping = sum(
        1
        for rgs in p_ranges
        for (lo1, hi1), (lo2, hi2) in zip(rgs, rgs[1:])
        if hi1 > lo2
    )
    assert overlapping > 0  # ingest order: stats skip nothing

    # clustering changes layout only, never content (exact int checksum)
    assert (
        spark.read.parquet(clustered).select(F.sum("event_id")).first()[0]
        == spark.read.parquet(plain).select(F.sum("event_id")).first()[0]
    )


def test_partition_advisor_picks_finest_clearing_granularity(spark, sf_oracle):
    """total_rows is identical for all granularities (same events),
    partition counts are monotone day >= week >= month, and exactly one
    granularity is chosen whenever any clears the floor — the finest."""
    rows = {r["gran"]: r for r in SPECS["store_partition_advisor"].fn(spark, sf_oracle).collect()}
    assert set(rows) == {"day", "week", "month"}
    totals = {r["total_rows"] for r in rows.values()}
    assert len(totals) == 1
    assert (
        rows["day"]["n_partitions"]
        >= rows["week"]["n_partitions"]
        >= rows["month"]["n_partitions"]
    )
    clearing = [g for g in ("day", "week", "month") if rows[g]["meets_floor"] == 1]
    chosen = [g for g, r in rows.items() if r["chosen"] == 1]
    if clearing:
        assert chosen == [clearing[0]]
    else:
        assert chosen == []
