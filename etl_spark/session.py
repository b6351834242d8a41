"""SparkSession factory.

Local-mode testbed for a design that targets multi-executor clusters:
every knob here (AQE, shuffle partitions, Arrow) is the same one that
matters at 1000 executors; only master/memory differ.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: int N -> local[N]; "*" -> local[*]; None -> $SPARK_GRAFT_CPUS or 32.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cores) if str(cores).isdigit() else 32

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # $SPARK_DRIVER_JAVA_OPTS: extra driver JVM flags (local mode =
        # the whole JVM). Known need: -XX:GCLockerRetryAllocationCount=64
        # (preceded by -XX:+UnlockDiagnosticVMOptions) — the JDK default of 2 lets Arrow/netty JNI critical sections
        # starve a wide-row shuffle's humongous allocations and KILL the
        # JVM ("Retried waiting for GCLocker too often"), observed on a
        # 16-thread compact of ~1GB deltas under the default G1.
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_DRIVER_JAVA_OPTS", ""))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # list up to 1024 paths on the driver instead of in a Spark
        # job. A table read passes one path per bucket dir (n_buckets x
        # (1 + deltas): a few hundred for 64 buckets under the replay
        # job's maintenance defaults), a stream micro-batch one per new
        # WAL file. Past the default threshold of 32, each such read
        # launched a listing job of one task per path, whose scheduling
        # cost far exceeded the directory listings it ran
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
