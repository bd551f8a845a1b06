"""SparkSession factory.

Defaults are chosen for the driver's local[32] test box but are
cluster-honest: AQE on (runtime shuffle-partition coalescing, skew-join
splitting), broadcast threshold high enough to broadcast every dimension
table in the star schema, Arrow enabled for the few pandas-UDF paths.

At 100 TB the same config holds: AQE re-plans per-stage from runtime
statistics, so the static ``shuffle.partitions`` value is only an upper
bound before coalescing; partition sizing is governed by
``files.maxPartitionBytes`` (128 MB splits of the parquet scan).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def default_driver_mem() -> str:
    """About half of physical memory, capped at 32g (32g without
    /proc/meminfo): local[N] runs every executor thread in the driver
    JVM, and a heap near the host's size gets the JVM OOM-killed."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(f.readline().split()[1])  # MemTotal
    except OSError:
        return "32g"
    return f"{min(32 << 10, max(1 << 10, kb // 2048))}m"


def get_spark(app_name: str = "sap-data-pipeline-spark", *, cpus: str | int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or get) a SparkSession with scale-honest defaults.

    Parameters mirror the knobs the bench driver controls: core count via
    $SPARK_GRAFT_CPUS, everything else fixed.
    """
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing of shuffle partitions, skew-join handling.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Don't let AQE coalesce CPU-heavy small-data stages to 1 task:
        # keep partitions down to 64 KB before merging.  At cluster scale
        # shuffle partitions are MBs+, so this floor never binds there.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # Upper bound pre-AQE; AQE coalesces down from here.
        .config("spark.sql.shuffle.partitions", cpus)
        # Dims in this schema are KB-MB; broadcast them all.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for pandas_udf / toPandas boundaries.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark 4's DataFrame debugging decorates EVERY Python DataFrame/
        # Column op with error-context capture: a conf RPC, a JVM
        # PySparkCurrentOrigin set/clear (two extra py4j round-trips) and
        # a Python stack inspection per call — measured 2-3x on every
        # driver-side op (select 17->10 ms, when/otherwise 4.6->1.4 ms),
        # ~5 s across the headline catalog's query construction.  The
        # feature only enriches error messages with Python line numbers;
        # plan-building throughput is the production concern at any
        # cluster size (the driver builds plans identically on 100 TB).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Timestamps in testdata are wall-clock; avoid TZ surprises vs DuckDB.
        .config("spark.sql.session.timeZone", "UTC")
        # Testdata parquet carries TIMESTAMP(NANOS) which the Spark reader
        # rejects; read as long and convert in load_star (integer DIV — ns
        # since epoch exceeds double's 2^53 mantissa).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[N] runs all executor threads inside the driver JVM — size
        # the heap for N concurrent tasks, not for a thin coordinator.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
