"""Q25-Q30: time-window semantics, batch-checked (SURVEY section 2B).

These are the batch-equivalence checks for the streaming data plane:
the same window definitions run under Structured Streaming in
iceberg_daq_spark.streaming; batch `window()` / `session_window()` and
the DuckDB gaps-and-islands SQL pin the semantics.

Reference parallels: A25 (1 s TP accumulation windows + inactivity
flush, iceberg_daq_eth.json:79-80), A26 (TA window_length,
`:266-285`), A16 (prescale 100, `:278`), A19 (readout-window interval
join with the asymmetric -1000/+1001 tick window, `:255-256`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_daq_spark.operators.intervals import bucketed_interval_join
from iceberg_daq_spark.registry import register
from iceberg_daq_spark.tables import load


@register(
    "q25_tumbling_window",
    oracle="""
    SELECT event_type,
           CAST(time_bucket(INTERVAL '1 minute', ts) AS TIMESTAMP) AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
    FROM events
    GROUP BY event_type, window_start
    ORDER BY event_type, window_start
    """,
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-minute window count/sum per event type (A25 analog)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.window("ts", "1 minute").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select("event_type", F.col("w.start").alias("window_start"), "n_events", "sum_value")
        .orderBy("event_type", "window_start")
    )


@register(
    "q26_sliding_window",
    oracle="""
    WITH cand AS (
      SELECT e.ts, e.value, tb.window_start
      FROM events e,
           LATERAL UNNEST([
             time_bucket(INTERVAL '5 minutes', e.ts),
             time_bucket(INTERVAL '5 minutes', e.ts) - INTERVAL 5 MINUTE
           ]) AS tb(window_start)
      WHERE e.ts >= tb.window_start
        AND e.ts <  tb.window_start + INTERVAL 10 MINUTE
    )
    SELECT CAST(window_start AS TIMESTAMP) AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
    FROM cand
    GROUP BY window_start
    ORDER BY window_start
    """,
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10 min, slide 5 min) counts (A26 analog)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
        .orderBy("window_start")
    )


@register(
    "q27_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                    OR lag(ts) OVER w IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM flagged
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window, 30-minute inactivity gap per stream.

    The A25 inactivity-flush semantic (tp_accumulation_inactivity_time,
    iceberg_daq_eth.json:80): a session closes when no event arrives
    within the gap; session end = last event + gap, matching Spark's
    ``session_window`` definition (checked against the DuckDB
    gaps-and-islands formulation, which has no native session windows).
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "q28_prescale",
    oracle="""
    SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id
    FROM (
      SELECT event_type, event_id,
             row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
      FROM events
    )
    WHERE rn % 100 = 1
    ORDER BY event_type, rn
    """,
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prescale sampler: pass 1 of every 100 records per stream (A16,
    prescale=100 in iceberg_daq_eth.json:278)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return (
        e.select("event_type", "event_id", F.row_number().over(w).cast("long").alias("rn"))
        .filter(F.col("rn") % 100 == 1)
        .select("event_type", "rn", "event_id")
        .orderBy("event_type", "rn")
    )


@register("q29_watermark_late_data", oracle=None)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q29 golden: watermark/late-data correctness (A43), end to end.

    Runs the streaming TA pipeline twice over the SAME deterministic
    emulated frames - once in event-time order, once with arrival order
    scrambled inside a 40 ms jitter bound - with a 100 ms watermark
    (>= 2x jitter, the A43 contract scaled from tpset_min_latency_ticks
    3,125,000 = 50 ms, iceberg_daq_eth.json:210).  Returns one row per
    window emitted by BOTH replays with each side's aggregates and a
    `match` flag; every row must carry match=true (asserted in
    tests/test_streaming.py; the driver records a rows-only count since
    DuckDB has no watermark semantics).

    ``sf_dir`` is unused: the input is the seeded frame emulator, not a
    synthetic table - the same frames regardless of scale factor.
    """
    import os
    import shutil
    import tempfile

    from iceberg_daq_spark.streaming import pipeline
    from iceberg_daq_spark.streaming.emulator import write_frame_chunks
    from iceberg_daq_spark.tablestore import MergeTable, append_stream_to_table

    # stable scratch dir, cleaned at the START of the next invocation:
    # the returned DataFrame stays a lazy parquet read (no driver-side
    # row materialization in a registered query), so the sink files
    # must outlive this function call.
    work = os.path.join(tempfile.gettempdir(), "iceberg_daq_spark_q29")
    shutil.rmtree(work, ignore_errors=True)
    kw = dict(
        n_frames=1500, src_ids=[0, 1, 2, 3], n_chunks=6,
        ticks_per_frame=12_500, hit_gate=60,
    )
    results = {}
    for name, jitter in (("ord", None), ("late", 40)):
        frames_dir = f"{work}/frames_{name}"
        write_frame_chunks(spark, frames_dir, shuffle_within_ms=jitter, **kw)
        table = MergeTable(f"{work}/{name}_out", key_cols=("src_id", "window_start"))
        append_stream_to_table(
            pipeline.ta_stream(spark, frames_dir, watermark="100 milliseconds"),
            table,
            f"{work}/{name}_ckpt",
        )
        results[name] = table.read(spark)
    o, l = results["ord"].alias("o"), results["late"].alias("l")
    joined = o.join(l, ["src_id", "window_start"]).select(
        "src_id",
        "window_start",
        F.col("o.n_tps").alias("n_tps_ord"),
        F.col("l.n_tps").alias("n_tps_late"),
        F.col("o.sum_adc").alias("sum_adc_ord"),
        F.col("l.sum_adc").alias("sum_adc_late"),
        (
            (F.col("o.n_tps") == F.col("l.n_tps"))
            & (F.col("o.n_channels") == F.col("l.n_channels"))
            & (F.col("o.sum_adc") == F.col("l.sum_adc"))
        ).alias("match"),
    )
    # persist the comparison itself so downstream consumers read one
    # compact table instead of re-running both replay joins
    cmp_dir = f"{work}/compare"
    joined.write.mode("overwrite").parquet(cmp_dir)
    return spark.read.parquet(cmp_dir).orderBy("src_id", "window_start")


@register(
    "q30_interval_join_readout",
    oracle="""
    SELECT t.event_id AS trigger_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           round(CAST(sum(f.value) AS DOUBLE), 2) AS sum_value
    FROM events t JOIN events f
      ON f.ts >= t.ts - INTERVAL 1 SECOND
     AND f.ts <= t.ts + INTERVAL 1001 MILLISECOND
    WHERE t.event_type = 'error'
    GROUP BY t.event_id
    ORDER BY trigger_id
    """,
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readout-window interval join: each trigger decision collects every
    frame (across ALL streams - no equi key) in the asymmetric window
    [t - 1000 ticks, t + 1001 ticks] of A19
    (iceberg_daq_eth.json:255-256), scaled to [-1 s, +1.001 s].

    Scale plan: time bucketization (operators.intervals) - each
    trigger explodes into the <=2 buckets covering its window and the
    join is a plain equi hash join on the bucket plus a residual range
    filter.  A naive broadcast-nested-loop theta join is O(frames x
    triggers) and took 237 s at sf0.1 where this takes ~1 s; at 100 TB
    only the bucketed form survives.  The streaming twin lives in
    iceberg_daq_spark.streaming (stream-stream join with watermarks).
    """
    e = load(spark, sf_dir, "events")
    trig = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("trigger_id"), F.col("ts").alias("t_ts")
    )
    frames = e.select(F.col("ts").alias("f_ts"), F.col("value"))
    return (
        bucketed_interval_join(
            frames,
            trig,
            frame_ts="f_ts",
            trigger_ts="t_ts",
            before_us=1_000_000,
            after_us=1_001_000,
        )
        .groupBy("trigger_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("trigger_id")
    )


@register(
    "q103_metric_anomalies",
    oracle="""
    WITH w AS (
      SELECT event_id, event_type, value,
             avg(value) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING) AS mu,
             stddev_samp(value) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING) AS sd,
             count(*) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING) AS n_prev
      FROM events
    ), z AS (
      SELECT event_id, event_type, value,
             round((value - mu) / sd, 2) AS zscore
      FROM w
      WHERE n_prev >= 30 AND sd > 0
    )
    SELECT event_id, event_type, round(value, 2) AS value, zscore
    FROM z WHERE abs(zscore) >= 3.0
    ORDER BY event_type, event_id
    """,
)
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric anomaly flagging: each event's value z-scored against
    the TRAILING 100 events of its type (frame excludes the current
    row, warm-up gated at 30 observations), |z| >= 3 flagged - the
    opmon-style outlier detector a pipeline runs over its own metric
    stream (reference analog: the monitoring plane's alarm rules,
    A44).

    The filter compares the ROUNDED z on both engines, so libm/fold
    ulp differences in the rolling stddev cannot flip membership
    except exactly at the quantized boundary the hash itself checks.

    Scale: the registered plan is SIZE-AWARE.  A partition-by-type
    window puts each event type in ONE task - fine below
    Q103_GIANT_GROUP_ROWS rows per type (and oracle-comparable, so
    the sf0.01 driver check exercises this branch), but a 5-type
    metric stream at 100 TB would run on 5 cores forever.  Above the
    threshold the plan switches to
    :func:`operators.rolling.rolling_stats` - rank-chunked frames
    with window-sized context replication, parallelism = rows/chunk
    independent of group count - whose window-equivalence (including
    NULL handling) is test-asserted, so the switch cannot change the
    answer.  The probe is one partial-agg scan collecting a single
    scalar (max rows per type)."""
    e = load(spark, sf_dir, "events")
    return _q103_impl(e)


Q103_GIANT_GROUP_ROWS = 15_000


def _q103_impl(e: DataFrame) -> DataFrame:
    """q103 core over an arbitrary events DataFrame (factored out so
    tests can drive the giant-group branch with synthetic input)."""
    max_group = (
        e.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("m"))
        .collect()[0]["m"]
    ) or 0
    if max_group > Q103_GIANT_GROUP_ROWS:
        from iceberg_daq_spark.operators.rolling import rolling_stats

        z = rolling_stats(
            e.select("event_id", "event_type", "ts", "value"),
            ["event_type"],
            ["ts", "event_id"],
            "value",
            window=100,
        )
    else:
        w = (
            Window.partitionBy("event_type")
            .orderBy("ts", "event_id")
            .rowsBetween(-100, -1)
        )
        z = e.select(
            "event_id",
            "event_type",
            "value",
            F.avg("value").over(w).alias("mu"),
            F.stddev_samp("value").over(w).alias("sd"),
            F.count("*").over(w).alias("n_prev"),
        )
    z = (
        z.filter((F.col("n_prev") >= 30) & (F.col("sd") > 0))
        .withColumn("zscore", F.round((F.col("value") - F.col("mu")) / F.col("sd"), 2))
    )
    return (
        z.filter(F.abs(F.col("zscore")) >= 3.0)
        .select("event_id", "event_type", F.round("value", 2).alias("value"), "zscore")
        .orderBy("event_type", "event_id")
    )
