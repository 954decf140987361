"""Deterministic WIB-frame emulator (reference A2/A3).

The reference replays a binary frame file as a live fixed-rate stream
(emulator_mode + default_data_file, iceberg_daq_eth.json:114-116,155)
and can synthesize periodic ADC patterns (:159).  Here frames are
synthesized from pure hash expressions - fully deterministic in
(src_id, seq), no RNG state - written as ordered parquet chunks, and
replayed either as a batch DataFrame or via readStream with
maxFilesPerTrigger for reproducible micro-batches.

Frame model (envelope per SURVEY section 1.1.2):
  - one frame = one time sample of N_CHANNELS channels of one stream
  - frame period = 125 ticks of the 62.5 MHz clock = exactly 2 us
    (kept tick-exact so tick->us conversion is lossless)
  - payload = N_CHANNELS big-endian uint16 ADC counts (binary column),
    decoded by streaming/decode.py
  - ADC = pedestal-ish hash noise in [0, 40]; sparse hits add a large
    pulse (hash-gated), mirroring threshold-crossing physics
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TICKS_PER_FRAME = 125  # 2 us at 62.5 MHz
N_CHANNELS = 64
NOISE_CEIL = 40  # == tpg threshold default, iceberg_daq_eth.json:195
HIT_GATE = 499  # 1-in-499 samples carry a pulse
T0_TICKS = 106_250_000_000_000  # 2024-01-01-ish epoch in ticks (mult of 125)


def frame_plan(
    spark: SparkSession,
    n_frames: int,
    src_ids: list[int],
    seed: int = 42,
    ticks_per_frame: int = TICKS_PER_FRAME,
    hit_gate: int = HIT_GATE,
) -> DataFrame:
    """Lazy frame table: (src_id, seq, ts_ticks, ts, adc array<int>).

    All columns derive from xxhash64(seed, src_id, seq, channel) -
    deterministic, partition-parallel, no driver loop.

    ticks_per_frame / hit_gate let tests stretch the simulated
    timescale (so watermark-delayed windows actually close within a
    small frame count) without touching the reference-default rates.
    """
    frames = (
        spark.range(n_frames)
        .withColumnRenamed("id", "seq")
        .crossJoin(
            spark.createDataFrame([(s,) for s in src_ids], T.StructType([T.StructField("src_id", T.IntegerType(), False)]))
        )
    )
    ch = F.sequence(F.lit(0), F.lit(N_CHANNELS - 1))
    noise = lambda c: F.pmod(F.xxhash64(F.lit(seed), F.col("src_id"), F.col("seq"), c), F.lit(NOISE_CEIL))
    pulse = lambda c: F.when(
        F.pmod(F.xxhash64(F.lit(seed + 1), F.col("src_id"), F.col("seq"), c), F.lit(hit_gate)) == 0,
        F.lit(500) + F.pmod(F.xxhash64(F.lit(seed + 2), F.col("src_id"), F.col("seq"), c), F.lit(1500)),
    ).otherwise(F.lit(0))
    ts_ticks = F.lit(T0_TICKS) + F.col("seq") * ticks_per_frame
    return frames.select(
        "src_id",
        "seq",
        ts_ticks.alias("ts_ticks"),
        F.timestamp_micros((ts_ticks / 62.5).cast("long")).alias("ts"),
        F.transform(ch, lambda c: (noise(c) + pulse(c)).cast("int")).alias("adc"),
    )


_pack_schema = T.StructType(
    [
        T.StructField("src_id", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("ts_ticks", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def with_packed_payload(frames: DataFrame) -> DataFrame:
    """Pack the adc array into the binary frame payload (big-endian
    uint16) - the emulator's stand-in for the external frame format.
    Arrow-batched mapInPandas; numpy does the packing per batch."""

    def pack(batches):
        for pdf in batches:
            adc = np.stack(pdf["adc"].to_numpy())
            payload = [a.astype(">u2").tobytes() for a in adc]
            yield pd.DataFrame(
                {
                    "src_id": pdf["src_id"],
                    "seq": pdf["seq"],
                    "ts_ticks": pdf["ts_ticks"],
                    "ts": pdf["ts"],
                    "payload": payload,
                }
            )

    return frames.mapInPandas(pack, _pack_schema)


def write_frame_chunks(
    spark: SparkSession,
    out_dir: str,
    n_frames: int = 2000,
    src_ids: list[int] | None = None,
    n_chunks: int = 8,
    seed: int = 42,
    shuffle_within_ms: int | None = None,
    ticks_per_frame: int = TICKS_PER_FRAME,
    hit_gate: int = HIT_GATE,
) -> None:
    """Materialize the emulated stream as time-ordered parquet chunks
    (one chunk per micro-batch under maxFilesPerTrigger=1).

    shuffle_within_ms scrambles arrival order within a bounded jitter
    (for watermark/late-data tests, A43): events stay within
    `shuffle_within_ms` of their true time but arrive out of order.
    """
    src_ids = src_ids if src_ids is not None else list(range(8))
    df = with_packed_payload(
        frame_plan(spark, n_frames, src_ids, seed, ticks_per_frame=ticks_per_frame, hit_gate=hit_gate)
    )
    if shuffle_within_ms is not None:
        jitter_ticks = shuffle_within_ms * 62500
        arrival = F.col("ts_ticks") + F.pmod(
            F.xxhash64(F.lit(seed + 3), F.col("src_id"), F.col("seq")), F.lit(2 * jitter_ticks)
        ) - jitter_ticks
        df = df.withColumn("_arrival", arrival)
    else:
        df = df.withColumn("_arrival", F.col("ts_ticks"))
    (
        df.repartitionByRange(n_chunks, "_arrival")
        .sortWithinPartitions("_arrival")
        .drop("_arrival")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    # Spark's file stream source replays files in modification-time
    # order; the parallel write above stamps near-identical mtimes, so
    # replay order (and hence watermark advance) would be arbitrary.
    stamp_replay_order(out_dir)


def stamp_replay_order(out_dir: str) -> None:
    """Stamp strictly increasing mtimes on part files in name order so a
    readStream replay visits them in that order (part-file index ==
    arrival-range index under repartitionByRange)."""
    import glob as _glob
    import os as _os

    t0 = _os.path.getmtime(out_dir)
    for i, p in enumerate(sorted(_glob.glob(_os.path.join(out_dir, "part-*.parquet")))):
        _os.utime(p, (t0 + i, t0 + i))


def read_frame_stream(spark: SparkSession, dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """Replay the chunks as a stream with deterministic micro-batches.
    The schema is the one :func:`with_packed_payload` writes, so the
    stream starts with no inference job."""
    return (
        spark.readStream.schema(_pack_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(dir)
    )
