"""SparkSession factory.

Single place where engine-wide configuration is set so every entry point
(tests, bench, driver smoke) runs with the same tuned session.

Scale posture (designed for a 1000-executor cluster, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion replace the reference's hand-tuned
  paging/batching constants (BASELINE.md "pagination as memory control").
- UTC session timezone: event timestamps are naive-UTC in the reference
  (ES epoch-ms, metricsreader.py:334); pinning UTC makes results
  reproducible across machines and matches the DuckDB oracle.
- Arrow enabled: every Python-side operator (multimodal decode, exact
  sessionization fidelity) uses Arrow-batched pandas UDFs, never
  row-at-a-time Python UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Local core count: SPARK_GRAFT_CPUS, else the cores this process
    may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "metrics-service-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    shuffle_partitions defaults to the local core count; on a real
    cluster this is overridden upward (rule of thumb: 2-3x total cores,
    then let AQE coalesce) via SPARK_GRAFT_SHUFFLE_PARTITIONS or
    extra_conf.
    """
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
