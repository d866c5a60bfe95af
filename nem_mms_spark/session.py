"""SparkSession factory with scale-aware defaults.

Local-mode sandbox stands in for a multi-executor cluster: partitioning,
AQE and Arrow settings are chosen as they would be on a 1000-executor
deployment (shuffle partitions ~ cores, AQE coalescing + skew-join on,
Arrow batches bounded so encode UDF memory stays flat).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "nem_mms_spark",
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 16384,
    extra_conf: dict | None = None,
) -> SparkSession:
    # glibc malloc tuning inherited by the JVM and every python worker
    # (must be set before the JVM spawns): keep large numpy temporaries on
    # the reused heap instead of mmap/munmap churn — fresh-page faults
    # under virtualization stall erratically and kill kernel scaling
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 31))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 31))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    n_threads = _parallelism_of(master, cpus)
    shuffle_partitions = shuffle_partitions or max(n_threads, 4)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n_threads))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash over sort-merge when the
        # per-partition build side fits (guide §3.1): the TPC-H-style
        # fact/dim joins here hash-build the smaller side instead of
        # sorting both (measured on q3/q5; results join-order invariant)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # scan-parallelism floor (r7, guide §6): the testdata tables are
        # single parquet files (lineitem sf1.0 = 126 MB), and the 128 MB
        # maxPartitionBytes default turns every scan+aggregate into ONE
        # task on a 32-core session.  minPartitionNum is the
        # SCALE-ADAPTIVE knob: Spark derives the split size from
        # input_bytes / cores (floored by openCostInBytes, capped by
        # maxPartitionBytes), so small tables fan out across the session
        # while terabyte scans keep their 128 MB splits — no constant
        # tuned to either scale
        .config(
            "spark.sql.files.minPartitionNum",
            os.environ.get("NEM_MMS_MIN_PARTITION_NUM", str(n_threads)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _parallelism_of(master: str, default: int) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or default
        try:
            return int(inner)
        except ValueError:
            return default
    return default
