"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "spider_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    return (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size-based coalescing only: the default parallelismFirst=true
        # floors the coalesce target at defaultParallelism, so on a
        # 32-core session the round's tiny bookkeeping shuffles (frontier
        # select window, admission stats — a few MB) stay at 32 tasks of
        # pure scheduling overhead.  Deciding from measured bytes alone
        # collapses them; stages that are CPU-heavy but byte-light (the
        # Arrow tokenize hop) pin their partitioning explicitly
        # (parse.exploded_spans) and are not affected.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Unix-domain sockets for the executor<->Python-worker Arrow
        # bridge (Spark 4): strictly fewer kernel round-trips than
        # loopback TCP on any host, and on THIS sandbox it sidesteps a
        # guest-kernel pathology where the TCP path intermittently
        # degrades ~10x under Spark concurrency (high sys%, idle cores,
        # zero steal — see BENCH.md forensics)
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
