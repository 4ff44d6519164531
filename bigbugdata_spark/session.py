"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores); the
same config block is what we would ship as cluster defaults: AQE on (runtime
re-planning, skew-join handling, partition coalescing), Arrow for any
Python<->JVM exchange, shuffle partitions sized to the parallelism at
hand rather than the 200 default, and a generated-code cache large enough
that one long-lived session compiles each plan shape once (a repeated
kraken run or the many-query test session reuses its compiled classes
instead of recompiling them on every run).
"""

from __future__ import annotations

import getpass
import os
import tempfile

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


def get_spark(
    app_name: str = "bigbugdata_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's default config.

    At 100 TB scale the same knobs apply, with shuffle_partitions sized to
    ~2-3x total executor cores and `spark.sql.files.maxPartitionBytes`
    left at 128 MB so scan tasks stay memory-bounded.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # catalog tables (bucketed-layout support) live outside the repo,
        # scoped per-user (see WAREHOUSE_DIR/DERBY_HOME above)
        .config("spark.sql.warehouse.dir", WAREHOUSE_DIR)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={DERBY_HOME}",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
