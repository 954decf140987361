"""Streaming pipeline assembly: sources + watermarks + stateful ops +
sinks around the batch-identical transforms in plan.py.

Reference mapping (SURVEY section 3.2):
  - watermark 50 ms ~ tpset_min_latency_ticks 3,125,000
    (iceberg_daq_eth.json:210) - the reference's bound on how late a
    TP may arrive before it is "tardy"
  - TD merge buffer timeout 100 ms = mlt_buffer_timeout (:239), max TD
    length 1000 ms = mlt_max_td_length_ms (:241)
  - readout window -1000/+1001 ticks = mlt_td_readout_map (:255-256)
  - dual raw/trigprim sinks (:62-82) -> two MergeTables written by
    the append-once stream sink (tablestore.append_stream_to_table)
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from iceberg_daq_spark.streaming import plan
from iceberg_daq_spark.streaming.emulator import read_frame_stream
from iceberg_daq_spark.tablestore import MergeTable

WATERMARK = "50 milliseconds"  # tpset_min_latency analog (A43)
MLT_BUFFER_TIMEOUT_MS = 100  # iceberg_daq_eth.json:239
READOUT_BEFORE_TICKS = 1000  # :255
READOUT_AFTER_TICKS = 1001  # :256 (asymmetric)


def hits_stream(spark: SparkSession, frames_dir: str, **kw) -> DataFrame:
    """frames -> fused decode+TPG hits, as a stream (only hits cross
    the Python/JVM boundary - see plan.decode_hits)."""
    frames = read_frame_stream(spark, frames_dir, **kw)
    return plan.decode_hits(frames)


def ta_stream(
    spark: SparkSession,
    frames_dir: str,
    watermark: str = WATERMARK,
    window_ticks: int = plan.TA_WINDOW_TICKS,
    **kw,
) -> DataFrame:
    """Windowed trigger-activity stream with the 50 ms lateness bound.

    Append output mode: a window emits once its watermark passes -
    the streaming twin of batch ta_windows (equality asserted in
    tests/test_streaming.py for in-bound data)."""
    hits = hits_stream(spark, frames_dir, **kw).withWatermark("ts", watermark)
    return plan.ta_windows(hits, window_ticks=window_ticks)


def _merge_td_func(
    max_gap_ticks: int,
    flush_horizon_ticks: int,
    max_td_ticks: int = plan.MLT_MAX_TD_TICKS,
):
    """State machine per src_id: extend the open decision while TAs
    overlap (within gap), emit it when a gap appears or the max-TD-length
    cap is hit (A27); the open decision flushes when the event-time
    watermark passes its end + flush horizon (no TA can extend it any
    more - the deterministic analog of the mlt buffer timeout).

    Cross-batch disorder: the batch's TAs and the OPEN island from
    state fold together in ONE :func:`plan.fold_decisions` pass (the
    open island participates at its sorted position, exactly where the
    batch-twin fold would have its running island), so a group of
    stragglers that only CONNECTS to the open island through each
    other still merges - a row-by-row test against the island would
    drop the early rows of the group before the connecting row arrived
    (found in review).  The cap splits at the batch twin's points for
    the same reason (it makes merging non-associative, so folding the
    batch separately first would diverge).

    Two rules are the stream's own.  Islands that complete entirely
    BEFORE the open island belong to ALREADY-EMITTED decisions: append
    mode cannot retract, so they are dropped rather than emitted as
    overlapping fragments (flush_tail's batch complement is the
    documented repair).  The last island is the new open decision and
    stays in state."""

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (src_id,) = key
        if state.hasTimedOut:
            if state.exists:
                open_td = state.get
                state.remove()
                yield plan.td_frame(src_id, [open_td])
            return

        open_td = state.get if state.exists else None
        islands = plan.fold_decisions(
            pd.concat(list(pdfs), ignore_index=True),
            max_gap_ticks,
            max_td_ticks,
            open_td,
        )
        if open_td is not None:
            # drop the straggler islands that close before the open one
            islands = islands[next(i for i, isl in enumerate(islands) if isl[4]):]
        *closed, open_td = islands
        state.update(tuple(open_td[:4]))
        # flush once the watermark proves no TA can extend this
        # decision; ticks are epoch-based (T0_TICKS), /62500 -> ms
        timeout_ms = (open_td[1] + flush_horizon_ticks) // 62_500 + 1
        state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))
        if closed:
            yield plan.td_frame(src_id, closed)

    return fn


def merge_decisions_stream(
    tas: DataFrame,
    max_gap_ticks: int,
    window_ticks: int = plan.TA_WINDOW_TICKS,
    watermark: str = WATERMARK,
    time_col: str = "window_end",
    max_td_ticks: int = plan.MLT_MAX_TD_TICKS,
) -> DataFrame:
    """Streaming trigger-decision merge: applyInPandasWithState keyed
    by src_id with an EVENT-time timeout.

    Why not the reference's wall-clock mlt_buffer_timeout: a
    processing-time flush makes output depend on replay speed (and
    Spark's availableNow trigger never quiesces while wall-clock
    timeouts are pending - it spins empty micro-batches).  The
    event-time horizon `end + max_gap + window_len` is the earliest
    point at which no in-watermark TA can still extend the decision, so
    the streamed result equals the batch gaps-and-islands merge.

    Scale note: post-TA rates are Hz per stream (six orders below the
    sample rate), so per-src_id state is a single open interval - the
    state store stays O(streams)."""
    return (
        tas.withWatermark(time_col, watermark)
        .groupBy("src_id")
        .applyInPandasWithState(
            _merge_td_func(
                max_gap_ticks, max_gap_ticks + window_ticks, max_td_ticks
            ),
            outputStructType=plan.TD_SCHEMA,
            # the open decision: TD_SCHEMA without its src_id key
            stateStructType=T.StructType(plan.TD_SCHEMA.fields[1:]),
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def readout_assembly_stream(spark: SparkSession, frames_dir: str, prescale: int = plan.PRESCALE, **kw) -> DataFrame:
    """Trigger-record assembly (A19): stream-stream interval join of
    the frame stream with the (prescaled-hit) trigger stream on
    src_id + the asymmetric readout window.

    Both sides carry watermarks so Spark bounds the join state (the
    latency-buffer analog A42: eviction by watermark instead of the
    499,712-frame ring).
    """
    frames = (
        read_frame_stream(spark, frames_dir, **kw)
        .select("src_id", "seq", "ts_ticks", "ts")
        .withWatermark("ts", WATERMARK)
    )
    triggers = (
        plan.prescale_hash(
            plan.decode_hits(read_frame_stream(spark, frames_dir, **kw)),
            n=prescale,
            key_cols=("src_id", "seq", "channel"),
        )
        .select(
            F.col("src_id").alias("t_src_id"),
            F.col("ts").alias("t_ts"),
            F.col("ts_ticks").alias("t_ticks"),
            F.col("channel").alias("t_channel"),
        )
        .withWatermark("t_ts", WATERMARK)
    )
    before_us = int(READOUT_BEFORE_TICKS / 62.5) + 1
    after_us = int(READOUT_AFTER_TICKS / 62.5) + 1
    return frames.join(
        triggers,
        F.expr(
            f"""
            src_id = t_src_id AND
            ts >= t_ts - INTERVAL {before_us} MICROSECONDS AND
            ts <= t_ts + INTERVAL {after_us} MICROSECONDS
            """
        ),
    ).filter(
        # exact tick-level asymmetric window on top of the us-level join
        (F.col("ts_ticks") >= F.col("t_ticks") - READOUT_BEFORE_TICKS)
        & (F.col("ts_ticks") <= F.col("t_ticks") + READOUT_AFTER_TICKS)
    )


def dedup_stream(frames: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Streaming exact dedup (the dropDuplicates leg of A43): drop
    re-delivered frames by (src_id, seq) - e.g. an at-least-once source
    replaying a chunk - keeping state only within the watermark horizon,
    so the state store stays bounded by (rate x watermark) instead of
    growing with the stream.  The streaming analog of exact_dedup's
    content-hash groupBy."""
    return frames.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["src_id", "seq"]
    )


def flush_tail(
    table: MergeTable,
    batch_twin: DataFrame,
    key_cols: list[str],
    strict: bool = False,
) -> int:
    """Emit the residual state an availableNow drain leaves behind.

    Append-mode windowed aggregations and event-time-timeout state
    machines flush on watermark advance - but the watermark stops at
    the max event time when a bounded replay drains, so the final open
    window(s)/decision per key never emit (ADVICE round 1).  Because
    every streaming transform here is batch-equivalent by construction
    (plan.py is shared), the missing rows are exactly the batch twin's
    rows whose keys the stream never wrote.  This appends that
    left-anti complement to the sink ``table`` as one commit, so run
    outputs equal the batch plan end to end PROVIDED the replay was
    in-watermark lossless: a key the stream wrote with
    watermark-dropped late data keeps its streamed value (the
    complement is key-granular; it repairs MISSING keys, not diverged
    ones).  A re-flush finds an empty complement and commits nothing.
    ``strict=True`` additionally full-row-compares EVERY table row
    against the batch twin (multiset semantics) and raises if any is
    absent from it - value divergence, phantom/shifted keys the twin
    never produced, and double emission all fail - the assertion to
    run when the replay is supposed to be lossless.

    Returns the number of tail rows appended.  One bounded batch job
    per run stop - the "final batch merge over the unflushed tail"
    shape, deterministic at any scale (no sentinel rows in the data
    path)."""
    streamed = table.read(batch_twin.sparkSession)
    tail = batch_twin
    if streamed is not None:
        tail = batch_twin.join(streamed.select(*key_cols), key_cols, "left_anti")
        if strict:
            # every table row must appear in the twin (multiset): a
            # key-intersected compare would let phantom keys the twin
            # never produced pass the "lossless" assertion
            diverged = (
                streamed.select(*batch_twin.columns).exceptAll(batch_twin).count()
            )
            if diverged:
                raise ValueError(
                    f"flush_tail(strict): {diverged} streamed row(s) "
                    "diverge from the batch twin - the replay was not "
                    "in-watermark lossless"
                )
    tail = tail.localCheckpoint()  # one computation, counted and appended
    n = tail.count()
    if n:
        table.append(tail)
    return n
