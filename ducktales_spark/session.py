"""SparkSession factory tuned for the test harness (local[N]) while keeping
settings that scale to a real cluster (AQE, adaptive coalesce/skew-join,
Arrow transfers). Locally it sizes itself from the host: every core the
process may run on and a quarter of RAM as driver heap, unless
``$SPARK_GRAFT_CPUS`` / ``$SPARK_DRIVER_MEM`` say otherwise.

On a 1000-executor cluster the same builder applies — only ``master`` and the
memory sizing change; every query in this repo is declarative DataFrame/SQL so
Catalyst/AQE pick physical strategies per deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


MEMINFO = "/proc/meminfo"
# the directory holding the ducktales_spark package
PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)


def session_size() -> tuple:
    """(cores, driver heap) for the local session: ``$SPARK_GRAFT_CPUS``
    and ``$SPARK_DRIVER_MEM`` when set, else every core this process may
    run on and a quarter of the host's RAM."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
    )
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if not mem:
        with open(MEMINFO) as f:
            kib = next(
                int(line.split()[1]) for line in f
                if line.startswith("MemTotal:")
            )
        mem = f"{max(1, kib * 1024 // 4 >> 30)}g"
    return cpus, mem


def get_spark(app_name: str = "ducktales-spark") -> SparkSession:
    cpus, mem = session_size()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # One shuffle partition per core locally; on a cluster AQE coalesces
        # from a larger initial number, so this is a floor not a tuning crutch.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", mem)
        # Python workers import the package (mapInPandas / mapInArrow
        # kernels) whatever the driver's working directory
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The default 100-entry generated-class cache thrashes on a mixed
        # workload: a dozen distinct queries produce >100 codegen units, so
        # re-running any of them recompiles its classes from scratch
        # (measured: the 97-aggregate sketch query runs 2.5x slower when
        # rotated with 11 other queries than alone). A long-lived cluster
        # serving many plans wants this sized to the working set.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Split large parquet files into 16 MB scan tasks: the test corpus is
        # ONE file per table, so the default 128 MB split would scan a
        # 175 MB fact table with 2 tasks on 32 cores (measured -14% on the
        # sf10 headline total). Only affects files >16 MB; a real cluster
        # reading many files would size this up with executor count.
        .config("spark.sql.files.maxPartitionBytes", "16m")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as a count. Some deployments set it
    to ``auto`` (the platform picks per stage), which has no count to
    size a repartition with: fall back to ``defaultParallelism``, the
    cluster's task slots."""
    v = spark.conf.get("spark.sql.shuffle.partitions")
    if v.strip().lower() == "auto":
        return spark.sparkContext.defaultParallelism
    return int(v)
