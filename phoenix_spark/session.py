"""SparkSession factory tuned for the engine.

Scale notes (designed for a 1000-executor cluster, tested on local[N]):
  - AQE on: runtime shuffle-partition coalescing + skew-join splitting mean
    the static ``spark.sql.shuffle.partitions`` only needs to be an upper
    bound; at 100 TB you raise it (e.g. 2000-8000) and AQE coalesces down.
  - Broadcast threshold stays at a conservative 64 MB: the dimension tables
    here (region/nation/supplier/part/customer) remain broadcast-able even
    at 1000x scale factors, which keeps the big fact-table joins shuffle-free
    on the fact side.
  - Session timezone pinned to UTC so event-time semantics are stable across
    driver/executor locales (and match the DuckDB oracle, which reads parquet
    timestamps as naive UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "phoenix_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # no HTTP server: stage, job and task numbers are read in-process
        # from the status store (perfbench.tracer.SparkProbe)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # deep-path BSON update expressions nest one lambda per path level
        # per op (bson._deep_set_json); the analyzer resolves one lambda
        # nesting level per fixed-point pass, so a Bson2IT-sized update
        # (9 ops over 4-level paths) legitimately needs > 100 passes
        .config("spark.sql.analyzer.maxIterations", "1000")
    )
    return builder.getOrCreate()
