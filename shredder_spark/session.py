"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the same conf block is what we would
ship to a 1000-executor cluster job (AQE, skew-join handling, UTC,
Arrow). Partition counts are sized by ``spark.sql.shuffle.partitions``
here for local mode; on a real cluster AQE coalesces/splits them at
runtime from the same initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the cores this process may
    run on: the core count every session, reader and kernel defaults
    to."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "shredder-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Scale posture:
    - AQE on: runtime coalescing of shuffle partitions, skew-join
      splitting, and dynamic join-strategy switching — the knobs that
      keep a fixed plan healthy at 100× the data.
    - UTC session timezone everywhere (reference parses timestamps in
      UTC; DuckDB oracle compares naive-UTC values).
    - Arrow enabled so any pandas_udf / mapInPandas operator moves
      columnar batches, not pickled rows.
    """
    if cpus is None:
        cpus = default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
    )
    return builder.getOrCreate()
