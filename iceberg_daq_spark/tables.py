"""Test-table loading.

The driver materializes deterministic TPC-H-ish parquet at
/root/testdata/sf{0.001,0.01,0.1}/ (TESTDATA.md).  Every query in
queries/ takes (spark, sf_dir) and loads through here so scans stay
uniform: plain ``spark.read.parquet`` - Catalyst handles predicate
pushdown and column pruning, so no manual projection is done here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame.

    events.ts is physically TIMESTAMP(NANOS); with
    spark.sql.legacy.parquet.nanosAsLong it scans as a long and is
    converted here to TimestampType (micros).  The driver data is
    whole-microsecond, so `div 1000` is exact - same discipline as the
    reference's canonical tick-longs (SURVEY section 4.3: store ticks
    as LongType, convert at the edges).

    The confs are set here (runtime-settable) rather than only at
    session build so queries stay correct when the CALLER owns the
    SparkSession - e.g. the verify driver passes a vanilla session.

    Timestamps: the driver data stores tz-naive micros
    (isAdjustedToUTC=false), which Spark 4 would infer as
    TIMESTAMP_NTZ - a type unix_micros/window() reject.  Disabling NTZ
    inference reads them as TIMESTAMP(LTZ); with the session clock
    pinned to UTC the wall values are bit-identical to the oracle's
    naive reading, and every tick/epoch conversion downstream stays
    exact.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def table_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count of a table from parquet FOOTER metadata - no
    Spark job, no data pages read.  This is the cheap size signal the
    size-aware operators (``grouped_exact_percentile``) use to pick a
    plan: both of their branches are exact, so an upper bound from
    table metadata is enough and costs nothing at any scale (a real
    lakehouse catalog serves the same number from table stats).
    Returns None when the footprint isn't local parquet (remote FS,
    renamed layout) - callers then fall back to their exact probe."""
    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isfile(path):
            return pq.ParquetFile(path).metadata.num_rows
        if os.path.isdir(path):
            return sum(
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
    except Exception:
        pass
    return None


def write_bucketed(
    df: DataFrame, table_name: str, bucket_col: str, n_buckets: int = 16
) -> None:
    """Materialize a DataFrame as a bucketed+sorted managed table - the
    co-located-join layout for repeated large-large joins on a stable
    key (SURVEY 4.2): two tables bucketed on their join keys with the
    same bucket count join with NO exchange on either side (and no
    sort, when sortBy matches), because bucket files ARE the shuffle
    output, computed once at write time.  At 100 TB this converts every
    recurring fact-fact join on the bucketed key from a full shuffle
    into a per-bucket merge - the batch analog of the reference's
    statically-routed per-stream queues (A3).  Plan-asserted in
    tests/test_plans.py."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table_name)
    )
