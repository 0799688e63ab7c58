"""SparkSession factory tuned for this engine.

Local-mode defaults match the test/bench harness (local[N], AQE on, Arrow on).
On a real cluster the same builder applies — only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "tachyon_spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(min(int(cpus) if cpus.isdigit() else 32, 64)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # runtime skew-join splitting: oversized post-shuffle partitions are
        # subdivided; pairs with salted_stats (agg-side skew) at 100 TB
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # driver testdata writes TIMESTAMP(NANOS) parquet; read as long nanos
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # list the samples tree on the driver: the default threshold of 32
        # paths sends the hash layout's 64 bucket dirs to a listing job on
        # every relation rebuild, i.e. the read after each ingest batch
        # (64 dirs / 640 files on 4 cores: 0.35-0.45 s as a job, 0.07 s on
        # the driver); fan-outs wider than 1024 dirs (legacy
        # one-dir-per-stream dbs with thousands of streams) keep Spark's
        # distributed listing
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    return builder.getOrCreate()
