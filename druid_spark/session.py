"""SparkSession factory tuned for the engine.

Defaults follow the scale guidance: AQE on (runtime re-plan + skew-join
handling), shuffle partitions sized to cores locally (on a real cluster
this should be ~2-3x total executor cores or left to AQE), Arrow on for
any pandas-UDF path, UTC session timezone (Druid's default; reference
processing/.../granularity/PeriodGranularity.java handles tz per-query).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# SQL confs the engine's semantics depend on. All of these are
# runtime-settable (`spark.conf.set`) so they can be applied to a
# session the engine did NOT create — e.g. the correctness driver's
# vanilla `SparkSession` (round-1 lesson: the driver's fixtures use
# parquet TIMESTAMP(NANOS) and every query errored before execution
# because nanosAsLong was only set in this factory).
RUNTIME_CONFS: dict[str, str] = {
    # read parquet TIMESTAMP(NANOS) as long; Catalog converts to timestamp
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # never infer TIMESTAMP_NTZ from parquet isAdjustedToUTC=false columns:
    # the engine models all instants as TIMESTAMP (UTC), and NTZ breaks
    # unix_millis()/session_window and type-string parity with the oracle
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Druid reports instants in UTC; granularity tz is applied per-query
    "spark.sql.session.timeZone": "UTC",
    # Druid expression semantics: integer arithmetic wraps, bad casts
    # yield null — Java/legacy behavior, not ANSI errors
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # list a table directory on the driver, never in a Spark job: past
    # 32 paths Spark lists in a parallel job, which an append's commit
    # paid on every re-read. Re-reading an hour table (medians of 5,
    # 4 cores), job vs driver: 35 partitions 377 vs 26 ms, 200
    # partitions 887 vs 49 ms, 800 partitions 2673 vs 160 ms
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(1 << 30),
    # Spark's default 10 MB. A higher threshold looked attractive for
    # dim tables, but size ESTIMATES for filtered+column-pruned fact
    # scans scale only by column fraction (no filter selectivity
    # without CBO stats), so 64 MB let a 12M-row filtered lineitem
    # "fit" and get broadcast in TPC-H q3 at 20x — a driver-side
    # collect of a fact table, which at cluster scale is an OOM. True
    # dimension tables (region/nation/supplier/part, lookups) are all
    # comfortably under 10 MB.
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
}


def harden_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's required SQL confs to an externally-created
    session. Safe to call repeatedly; never throws on a conf the running
    Spark build doesn't know."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


def get_spark(app_name: str = "druid_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return harden_session(spark)
