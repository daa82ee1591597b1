"""SparkSession factory with scale-appropriate defaults.

Tuned for a multi-executor cluster (AQE, skew-join splitting, Arrow transport)
but runs on local[N] in this sandbox. Every knob here is a standard public
Spark conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "raptor-service-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    At cluster scale the same confs apply; only ``master`` changes
    (spark-submit supplies it). AQE handles post-shuffle coalescing and
    skew-join splitting at runtime so ``shuffle_partitions`` is an upper
    bound, not a tuning cliff.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = SparkSession.builder.appName(app_name)
    # Under spark-submit the JVM starts first and hands Python its gateway;
    # the master it was given then stays in force unless one is passed here.
    if master or "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(master or f"local[{cpus}]")
    builder = (
        builder
        # Arrow transport for every pandas UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # AQE: runtime re-plan, partition coalescing, skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce the partitions of persisted plans too. A cached
        # frame's partitioning is fixed when it is built, and nothing here
        # relies on it, while a small cached level (a tree level of a few
        # rows behind a pandas UDF) would otherwise run one task per shuffle
        # partition.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Keep small dims broadcastable (default 10MB is fine; explicit for clarity).
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
