"""Run lifecycle: allocation, FSM audit, and the data-taking entry point.

Spark re-design of the reference's run-control path (SURVEY section
3.2, run/run_iceberg_daq.sh):

  reference                          here
  ---------                          ----
  run floor 16091 (main) / 21        RUN_FLOORS (run_iceberg_daq.sh:116,
    (hermes), probe log dirs          125); first-free probe as an
    upward to first free (:111-131)   anti-join over the runs table
  nanorc FSM: boot conf start_run    start the streaming queries,
    N wait T stop_run scrap           awaitTermination, stop; each
    terminate (:154-176)              transition appended to the runs
                                      audit (A45)
  log-dir harvest (:133-147)         the runs row carries the row
                                      counts of the run's sink tables

The reference's directory-probe allocation is race-prone by design
(SURVEY 3.2 step 2); here allocation reads a single runs table whose
writes go through :class:`~iceberg_daq_spark.tablestore.MergeTable` -
a keyed MERGE-upsert with atomic versioned commits (tablestore.py
documents the one-line swap to Iceberg ``MERGE INTO`` on a cluster).
Re-executing a run's bookkeeping merges the same (mode, run) key and
changes nothing - the lock-free idempotency the reference approximates
with its flock'd probe loop (A46).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_daq_spark.streaming import pipeline, plan
from iceberg_daq_spark.tablestore import MergeTable, append_stream_to_table

# run/run_iceberg_daq.sh:116 (main), :125 (hermes)
RUN_FLOORS = {"main": 16091, "hermes": 21}

RUNS_SCHEMA = T.StructType(
    [
        T.StructField("run", T.LongType()),
        T.StructField("subrun", T.LongType()),
        T.StructField("mode", T.StringType()),
        T.StructField("config_name", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("wall_time_s", T.DoubleType()),
        T.StructField("raw_rows", T.LongType()),
        T.StructField("tp_rows", T.LongType()),
    ]
)


def runs_table(runs_dir: str) -> MergeTable:
    """The runs catalog: MERGE-keyed on (mode, run)."""
    return MergeTable(runs_dir, key_cols=("mode", "run"))


def existing_runs(spark: SparkSession, runs_dir: str) -> DataFrame:
    df = runs_table(runs_dir).read(spark)
    return df if df is not None else spark.createDataFrame([], RUNS_SCHEMA)


def allocate_run(spark: SparkSession, runs_dir: str, mode: str = "main") -> int:
    """First unused run number >= the mode floor (A28).

    Same anti-join shape as q35_run_allocator: candidates are the floor
    plus every existing run + 1; the minimum candidate not already used
    is the allocation.  No driver loop, no directory probe."""
    floor = RUN_FLOORS[mode]
    runs = (
        existing_runs(spark, runs_dir)
        .filter(F.col("mode") == mode)
        .select("run")
        .distinct()
    )
    cands = runs.select((F.col("run") + 1).alias("cand")).union(
        spark.range(1).select(F.lit(floor).cast("long").alias("cand"))
    ).distinct().filter(F.col("cand") >= floor)
    row = cands.join(runs, cands.cand == runs.run, "left_anti").agg(
        F.min("cand").alias("next_run")
    ).collect()[0]
    return int(row["next_run"])


@dataclass
class DaqRun:
    """One data-taking run: the FSM verbs of run_iceberg_daq.sh:158-160
    mapped onto streaming-query lifecycle, with an audit trail."""

    spark: SparkSession
    config_name: str
    frames_dir: str
    out_dir: str
    mode: str = "main"
    transitions: list[tuple[str, float]] = field(default_factory=list)

    def _mark(self, state: str) -> None:
        self.transitions.append((state, time.time()))

    def execute(self) -> dict:
        """boot -> conf -> start_run N -> (stream drained) -> stop_run.

        Three MergeTable sinks written by the append-once stream sink,
        mirroring the raw/trigprim split (A4/A5,
        iceberg_daq_eth.json:62-82): trigger-record assembly (readout
        interval join) to raw/, windowed TAs to trigprim/, trigger
        decisions to trigdec/.  availableNow triggers drain the
        emulated stream deterministically - the batch-duration analog
        of `wait T`."""
        self._mark("boot")
        run = allocate_run(self.spark, os.path.join(self.out_dir, "runs"), self.mode)
        run_dir = os.path.join(self.out_dir, f"run_{run}")
        raw = MergeTable(os.path.join(run_dir, "raw"), key_cols=())
        tp = MergeTable(
            os.path.join(run_dir, "trigprim"), key_cols=("src_id", "window_start")
        )
        td = MergeTable(
            os.path.join(run_dir, "trigdec"), key_cols=("src_id", "td_start_tick")
        )
        ckpt = os.path.join(run_dir, "ckpt")
        self._mark("conf")

        from iceberg_daq_spark.streaming.monitor import OpmonMonitor

        t0 = time.time()
        self._mark("start_run")
        # A9: every micro-batch of both sinks lands in the opmon table
        # (the reference's CERN Kafka opmon stream analog)
        mon = OpmonMonitor(self.spark, os.path.join(self.out_dir, "opmon")).attach()
        try:
            append_stream_to_table(
                pipeline.readout_assembly_stream(self.spark, self.frames_dir),
                raw,
                ckpt + "_raw",
            )
            append_stream_to_table(
                pipeline.ta_stream(self.spark, self.frames_dir), tp, ckpt + "_tp"
            )
            # stop_run flushes the windows still open when the
            # watermark froze at drain (the mlt buffer-timeout flush,
            # A27): one batch job over the shared batch-equivalent plan
            batch_tas = plan.ta_windows(
                plan.decode_hits(self.spark.read.parquet(self.frames_dir))
            )
            pipeline.flush_tail(tp, batch_tas, ["src_id", "window_start"])
            # A27: trigger decisions.  The TD merge consumes the
            # persisted TA table through a queue boundary (exactly how
            # the reference's MLT consumes the TC queue), then the same
            # stop_run tail flush emits the still-open decision per
            # stream so the TD table equals the batch interval merge.
            gap = plan.TA_WINDOW_TICKS
            tas_read = tp.read(self.spark)
            ta_stage = os.path.join(run_dir, "ta_stage")
            tas_read.write.mode("overwrite").parquet(ta_stage)
            tas_stream = self.spark.readStream.schema(tas_read.schema).parquet(ta_stage)
            append_stream_to_table(
                pipeline.merge_decisions_stream(tas_stream, max_gap_ticks=gap),
                td,
                ckpt + "_td",
            )
            batch_tds = plan.merge_decisions(
                self.spark.read.parquet(ta_stage).drop("window_end"),
                max_gap_ticks=gap,
            )
            pipeline.flush_tail(td, batch_tds, ["src_id", "td_start_tick"])
        finally:
            mon.flush()
            mon.detach()
        self._mark("stop_run")
        wall = time.time() - t0

        raw_rows, tp_rows = (t.read(self.spark).count() for t in (raw, tp))
        row = {
            "run": run,
            "subrun": run * 100000 + 1,  # createMetadatafiles...sh:132
            "mode": self.mode,
            "config_name": self.config_name,
            "state": "stopped",
            "wall_time_s": float(wall),
            "raw_rows": raw_rows,
            "tp_rows": tp_rows,
        }
        runs_table(os.path.join(self.out_dir, "runs")).merge(
            self.spark.createDataFrame([row], RUNS_SCHEMA)
        )
        self._mark("terminate")
        return row
