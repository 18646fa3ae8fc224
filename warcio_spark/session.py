"""SparkSession factory with the engine's recommended configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "warcio_spark", cpus: str | int | None = None,
              shuffle_partitions: int | None = None, memory: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """local[N] session tuned for this engine.

    On a real cluster replace master/memory with spark-submit settings; the
    SQL confs (AQE, UTC, arrow batching, runtime bloom filters) carry over.
    ``cleanCheckpoints`` lets the context cleaner delete a reliable
    checkpoint's files once its RDD is garbage-collected on the driver
    (the iterative graph operators write one per round when a checkpoint
    dir is set); it is read when the SparkContext starts.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "*"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or (32 if cpus == "*" else max(8, int(cpus)))),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", memory or os.environ.get("SPARK_GRAFT_MEM", "32g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
