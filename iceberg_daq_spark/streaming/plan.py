"""The data-plane transforms, batch/streaming agnostic.

Each function is DataFrame -> DataFrame and carries the reference
semantics it implements.  Batch golden tests apply them to a plain
DataFrame; pipeline.py applies the same functions to a readStream
DataFrame with watermarks - identical Catalyst plans either way.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_daq_spark.streaming.emulator import N_CHANNELS, TICKS_PER_FRAME

# reference thresholds (iceberg_daq_eth.json)
TPG_THRESHOLD = 40  # :195 tpg_threshold_default
TA_ADC_THRESHOLD = 10000  # :268 adc_threshold
TA_N_CHANNELS = 8  # :277 number_of_channels
TA_WINDOW_TICKS = 625_000  # 10 ms windows (window_length analog, :283)
PRESCALE = 100  # :278
MLT_MAX_TD_TICKS = 62_500_000  # 1000 ms max TD length, :241

_decode_schema = T.StructType(
    [
        T.StructField("src_id", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("ts_ticks", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("channel", T.IntegerType()),
        T.StructField("adc", T.IntegerType()),
    ]
)


def decode_frames(frames: DataFrame) -> DataFrame:
    """Binary frame payload -> per-channel samples (reference A2's
    decode edge; the only pandas stage in the plane).

    Arrow-batched mapInPandas: numpy unpacks the big-endian uint16
    payload for a whole batch at once.  Output channel id is globally
    unique: src_id * N_CHANNELS + lane (A21 channel-map analog).
    """

    def unpack(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # payloads are fixed-width (N_CHANNELS big-endian uint16):
            # one join + one frombuffer per Arrow batch instead of one
            # frombuffer per frame (the per-row loop was the plane's
            # hot spot at 500k frames/s)
            adc = (
                np.frombuffer(b"".join(pdf["payload"]), dtype=">u2")
                .reshape(len(pdf), -1)
                .astype(np.int32)
            )
            n, width = adc.shape
            yield pd.DataFrame(
                {
                    "src_id": np.repeat(pdf["src_id"].to_numpy(), width),
                    "seq": np.repeat(pdf["seq"].to_numpy(), width),
                    "ts_ticks": np.repeat(pdf["ts_ticks"].to_numpy(), width),
                    "ts": np.repeat(pdf["ts"].to_numpy(), width),
                    "channel": (
                        np.repeat(pdf["src_id"].to_numpy(), width) * N_CHANNELS
                        + np.tile(np.arange(width, dtype=np.int32), n)
                    ).astype(np.int32),
                    "adc": adc.reshape(-1),
                }
            )

    return frames.mapInPandas(unpack, _decode_schema)


def decode_hits(
    frames: DataFrame,
    threshold: int = TPG_THRESHOLD,
    channel_mask: list[int] | None = None,
) -> DataFrame:
    """Fused decode + TPG (A2+A14): unpack payloads and threshold-filter
    INSIDE the numpy stage, so only hits (~0.2% of samples at the
    reference's noise/threshold ratio) cross the Arrow boundary.
    Provably equal to find_hits(decode_frames(...)) - asserted in
    tests - but ~10x the throughput: the reference makes the same move
    by generating TPs inside the readout process rather than shipping
    raw samples to the trigger (SURVEY A14).

    mapInArrow, not mapInPandas: an Arrow->pandas conversion would
    materialize one Python ``bytes`` object per frame for the payload
    column; reading the Arrow binary array's data buffer directly is a
    single zero-copy ``frombuffer`` per batch, and every other column
    crosses as a numpy view."""
    import pyarrow as pa

    mask_arr = np.array(sorted(channel_mask), dtype=np.int64) if channel_mask else None

    def unpack_hits(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            pay = cols["payload"]
            # fixed-width payloads laid out back-to-back in the Arrow
            # data buffer; the offsets buffer gives the batch's slice
            off_dtype = (
                np.int64 if pa.types.is_large_binary(pay.type) else np.int32
            )
            offsets = np.frombuffer(pay.buffers()[1], dtype=off_dtype)
            lo, hi = offsets[pay.offset], offsets[pay.offset + n]
            # the zero-copy reshape assumes every payload is present
            # and identically sized; a NULL or short payload would
            # either crash the reshape or - if widths happen to offset -
            # silently shift every later frame's samples to the wrong
            # channels.  Guard loudly (numpy-cheap, once per batch).
            if pay.null_count:
                raise ValueError(
                    f"decode_hits: {pay.null_count} NULL payload(s) in batch"
                )
            widths = np.diff(offsets[pay.offset : pay.offset + n + 1])
            if n and widths.min() != widths.max():
                raise ValueError(
                    "decode_hits: variable payload widths "
                    f"[{widths.min()}, {widths.max()}] - frame format violated"
                )
            adc = np.frombuffer(
                pay.buffers()[2], dtype=">u2", count=(hi - lo) // 2, offset=lo
            ).reshape(n, -1)
            ri, ci = np.nonzero(adc > threshold)
            src = cols["src_id"].to_numpy(zero_copy_only=False)[ri]
            channel = (src * N_CHANNELS + ci).astype(np.int32)
            if mask_arr is not None:
                keep = ~np.isin(channel, mask_arr)
                ri, ci, src, channel = ri[keep], ci[keep], src[keep], channel[keep]
            if len(ri) == 0:
                continue
            idx = pa.array(ri, type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(src.astype(np.int32), type=pa.int32()),
                    cols["seq"].take(idx),
                    cols["ts_ticks"].take(idx),
                    cols["ts"].take(idx),
                    pa.array(channel, type=pa.int32()),
                    pa.array(adc[ri, ci].astype(np.int32), type=pa.int32()),
                ],
                names=["src_id", "seq", "ts_ticks", "ts", "channel", "adc"],
            )

    return frames.mapInArrow(unpack_hits, _decode_schema)


def find_hits(samples: DataFrame, threshold: int = TPG_THRESHOLD, channel_mask: list[int] | None = None) -> DataFrame:
    """TPG hit finder (A14): per-channel threshold crossing with an
    optional disabled-channel mask (tpg_channel_mask,
    iceberg_daq_eth.json:196-209).  Pure filter - runs map-side, no
    shuffle; only hits (sparse) flow downstream, mirroring the
    reference's in-readout TP generation."""
    hits = samples.filter(F.col("adc") > threshold)
    if channel_mask:
        hits = hits.filter(~F.col("channel").isin(channel_mask))
    return hits


def ta_windows(hits: DataFrame, window_ticks: int = TA_WINDOW_TICKS) -> DataFrame:
    """Trigger-activity formation (A26): tumbling windows over hits,
    emitted when enough distinct channels fire or summed ADC crosses
    threshold.  Window key is tick-exact (window_start_ticks =
    floor(ts_ticks / W) * W); the timestamp twin is carried for
    streaming watermarks."""
    # lossless tick->microsecond conversion only (62.5 ticks/us): a
    # truncated window length would silently desynchronize the time
    # windows from the tick-exact semantics AND understate the flush
    # horizon merge_decisions_stream derives from window_ticks
    if (window_ticks * 2) % 125:
        raise ValueError(
            f"window_ticks={window_ticks} is not a whole number of "
            "microseconds (must be a multiple of 62.5 ticks)"
        )
    win_us = (window_ticks * 2) // 125
    w = F.window("ts", f"{win_us} microseconds")
    return (
        hits.groupBy(F.col("src_id"), w.alias("w"))
        .agg(
            F.count("*").alias("n_tps"),
            # size(collect_set) not countDistinct: distinct aggregates
            # are unsupported in streaming aggregations, this form runs
            # identically in both modes (channel fanout per stream is
            # bounded at N_CHANNELS, so the set stays small)
            F.size(F.collect_set("channel")).alias("n_channels"),
            F.sum("adc").alias("sum_adc"),
            F.min("ts_ticks").alias("first_tick"),
            F.max("ts_ticks").alias("last_tick"),
        )
        .filter(
            (F.col("n_channels") >= TA_N_CHANNELS) | (F.col("sum_adc") >= TA_ADC_THRESHOLD)
        )
        .select(
            "src_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_tps",
            "n_channels",
            "sum_adc",
            "first_tick",
            "last_tick",
        )
    )


def ta_sessions(hits: DataFrame, gap: str = "1 second") -> DataFrame:
    """TP accumulation with inactivity flush (A25: 1 s accumulation
    interval + 1.0 s inactivity flush, iceberg_daq_eth.json:79-80):
    per-stream session windows that close after ``gap`` of silence -
    the session twin of the tumbling ta_windows, batch/stream agnostic
    (streaming needs a watermark on ts upstream; sessions emit once the
    watermark passes session_end + gap)."""
    return (
        hits.groupBy(F.col("src_id"), F.session_window("ts", gap).alias("w"))
        .agg(
            F.count("*").alias("n_tps"),
            F.size(F.collect_set("channel")).alias("n_channels"),
            F.sum("adc").alias("sum_adc"),
            F.min("ts_ticks").alias("first_tick"),
            F.max("ts_ticks").alias("last_tick"),
        )
        .select(
            "src_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_tps",
            "n_channels",
            "sum_adc",
            "first_tick",
            "last_tick",
        )
    )


def prescale_hash(df: DataFrame, n: int = PRESCALE, key_cols: tuple[str, ...] = ("src_id", "seq")) -> DataFrame:
    """Streaming-safe prescale (A16): deterministic 1-in-n hash gate.

    The reference's plugin passes every Nth record - inherently
    stateful and order-dependent; the streaming-correct equivalent is
    a content-hash gate with the same 1/n pass rate, stateless and
    replay-stable.  (Batch q28 implements the exact every-Nth form.)
    """
    return df.filter(F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n)) == 0)


TD_SCHEMA = T.StructType(
    [
        T.StructField("src_id", T.IntegerType()),
        T.StructField("td_start_tick", T.LongType()),
        T.StructField("td_end_tick", T.LongType()),
        T.StructField("n_tps", T.LongType()),
        T.StructField("n_tas", T.LongType()),
    ]
)


def fold_decisions(
    tas: pd.DataFrame,
    max_gap_ticks: int,
    max_td_ticks: int = MLT_MAX_TD_TICKS,
    open_td: tuple | None = None,
) -> list[list]:
    """The trigger-decision extend rule (A27), the one fold the batch
    merge and the streaming state machine share.

    In ``(first_tick, last_tick)`` order, a TA extends the open
    decision while it starts within ``max_gap_ticks`` of the
    decision's end and would not stretch it past ``max_td_ticks`` from
    its start (the mlt_max_td_length cap - it ties each decision to its
    own running start, which makes the merge non-associative, so it
    cannot be a window function).  ``open_td`` - ``(start, end, n_tps,
    n_tas)``, the decision a stream carries in state - folds in at its
    sorted position like one more TA.  Returns the decisions in order
    as ``[start, end, n_tps, n_tas, holds_open_td]``."""
    items = [
        (r.first_tick, r.last_tick, r.n_tps, 1, False)
        for r in tas.itertuples(index=False)
    ]
    if open_td is not None:
        items.append((*open_td, True))
    out: list[list] = []
    cur = None
    for first, last, tps, n, is_open in sorted(items, key=lambda t: (t[0], t[1])):
        if (
            cur is not None
            and first <= cur[1] + max_gap_ticks
            and last - cur[0] <= max_td_ticks
        ):
            cur[1] = max(cur[1], last)
            cur[2] += tps
            cur[3] += n
            cur[4] = cur[4] or is_open
        else:
            cur = [first, last, tps, n, is_open]
            out.append(cur)
    return out


def td_frame(src_id: int, decisions) -> pd.DataFrame:
    """One stream's decisions ``(first, last, n_tps, n_tas, ...)`` as
    :data:`TD_SCHEMA` rows."""
    return pd.DataFrame(
        [
            {
                "src_id": src_id,
                "td_start_tick": d[0],
                "td_end_tick": d[1],
                "n_tps": d[2],
                "n_tas": d[3],
            }
            for d in decisions
        ]
    )


def merge_decisions(
    tas: DataFrame, max_gap_ticks: int, max_td_ticks: int = MLT_MAX_TD_TICKS
) -> DataFrame:
    """Trigger-decision interval merge (A27, mlt_* keys
    iceberg_daq_eth.json:239-258): overlapping/adjacent TA windows
    coalesce into one trigger decision per src_id, capped at
    ``max_td_ticks`` - the same :func:`fold_decisions` the streaming
    state machine (pipeline.merge_decisions_stream) applies, so
    streamed + tail == batch even on unbroken activity.  A sequential
    fold per src_id via applyInPandas; post-TA decision rates are Hz
    per stream, so each group is tiny at any scale."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        return td_frame(
            int(pdf["src_id"].iloc[0]),
            fold_decisions(pdf, max_gap_ticks, max_td_ticks),
        )

    return (
        tas.select("src_id", "first_tick", "last_tick", "n_tps")
        .groupBy("src_id")
        .applyInPandas(fold, TD_SCHEMA)
    )
