"""Storage-layout guarantees: bucketed co-located joins drop both
exchanges, and a date-partitioned layout prunes to the filtered day."""

from __future__ import annotations

import pytest

from bigbugdata_spark.catalog import table
from bigbugdata_spark.plans import inspect as I
from bigbugdata_spark.sources.bucketed import bucketed, write_bucketed

from pyspark.sql import functions as F


@pytest.fixture()
def no_broadcast(spark):
    """Force the non-broadcast path so the bucketed SMJ is observable."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_is_shuffle_free(spark, sf_oracle, no_broadcast):
    import shutil

    from bigbugdata_spark.session import WAREHOUSE_DIR

    # a fresh derby metastore can forget tables whose warehouse dirs
    # survived a previous session — clear both sides
    for t in ("bb_fact_bucketed", "bb_dim_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{WAREHOUSE_DIR}/{t}", ignore_errors=True)

    li = table(spark, sf_oracle, "lineitem")
    fact = li.groupBy("l_partkey").agg(F.sum("l_quantity").alias("qty"))
    dim = li.groupBy("l_partkey").agg(F.sum("l_extendedprice").alias("price"))
    write_bucketed(fact, "bb_fact_bucketed", "l_partkey", 8)
    write_bucketed(dim, "bb_dim_bucketed", "l_partkey", 8)

    j = bucketed(spark, "bb_fact_bucketed").join(
        bucketed(spark, "bb_dim_bucketed"), "l_partkey"
    )
    # both sides pre-hashed at rest on the join key: zero Exchange
    assert I.shuffle_count(j) == 0, I.plan_string(j, "simple")
    assert "SortMergeJoin" in I.join_kinds(j)
    # and the result is right
    assert j.count() == fact.count()


def test_date_partitioned_layout_prunes(spark, sf_oracle, tmp_path):
    """The at-rest layout for a 100 TB events table: partition by date;
    a day-filtered query must hit only that day's files (PartitionFilters
    at the scan, and file listing bounded by the partition)."""
    ev = table(spark, sf_oracle, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    out = str(tmp_path / "events_by_date")
    ev.write.partitionBy("event_date").mode("overwrite").parquet(out)

    got = (
        spark.read.parquet(out)
        .filter(F.col("event_date") == "2024-01-05")
        .select("event_id", "event_type")
    )
    scans = I.scan_info(got)
    assert len(scans) == 1
    assert "event_date" in scans[0]["partition_filters"]
    # correctness of the pruned read
    want = ev.filter(F.to_date("ts") == "2024-01-05").count()
    assert got.count() == want
    assert want > 0


