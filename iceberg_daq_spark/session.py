"""SparkSession builder tuned for the engine.

Local-mode defaults mirror what a 1000-executor cluster deployment would
set per-executor: AQE on (runtime coalesce + skew-join handling), Arrow
for the pandas-UDF edges, UTC session time so timestamp semantics match
the DuckDB oracle, and shuffle partitions sized to the parallelism at
hand rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "iceberg_daq_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Settings that matter at 100 TB scale and cost nothing locally:
      - AQE + coalesce + skew join: runtime re-planning replaces manual
        partition-count tuning and handles skewed trigger/agg keys.
      - Arrow execution for the pandas-UDF decode edges (adler32, frame
        decode) - batch transfer instead of per-row pickling.
      - UTC session timezone: tick/timestamp arithmetic is exact and
        matches the oracle engine.
      - parquet filter pushdown / column pruning are on by default; we
        keep them explicit here as documentation of the contract that
        every scan in queries/ relies on.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
        # timestamp type, so read as long and convert in tables.load
        # (values are whole microseconds - lossless).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
