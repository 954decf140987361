"""Streaming data-plane tests (SURVEY section 5.2 item 2): batch
equivalence of every streaming stage on deterministic emulated frames,
the Q29 watermark/late-data golden test, and the Q30 stream-stream
readout join."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from iceberg_daq_spark.streaming import pipeline, plan
from iceberg_daq_spark.streaming.emulator import (
    frame_plan,
    read_frame_stream,
    stamp_replay_order,
    with_packed_payload,
    write_frame_chunks,
)
from iceberg_daq_spark.tablestore import MergeTable, append_stream_to_table

N_FRAMES = 1500
SRC_IDS = [0, 1, 2, 3]
# Stretch the simulated timescale so the 300 ms stream span dwarfs the
# 50 ms watermark and 10 ms TA windows: 12,500 ticks = 200 us per frame
# (the reference's 2 us frame period would need 150k frames per stream
# to close a single watermarked window).  hit_gate 60 ~= one hit per
# frame so every TA window clears the n_channels >= 8 threshold.
TEST_TICKS_PER_FRAME = 12_500
TEST_HIT_GATE = 60
STREAM_SPAN_MS = N_FRAMES * TEST_TICKS_PER_FRAME // 62_500  # 300 ms
WINDOW_MS = pipeline.plan.TA_WINDOW_TICKS // 62_500  # 10 ms


@pytest.fixture(scope="module")
def frames_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("frames"))
    write_frame_chunks(
        spark, d, n_frames=N_FRAMES, src_ids=SRC_IDS, n_chunks=6,
        ticks_per_frame=TEST_TICKS_PER_FRAME, hit_gate=TEST_HIT_GATE,
    )
    return d


@pytest.fixture(scope="module")
def late_frames_dir(spark, tmp_path_factory):
    """Same frames, arrival order scrambled within a 40 ms bound (A43)."""
    d = str(tmp_path_factory.mktemp("frames_late"))
    write_frame_chunks(
        spark, d, n_frames=N_FRAMES, src_ids=SRC_IDS, n_chunks=6, shuffle_within_ms=40,
        ticks_per_frame=TEST_TICKS_PER_FRAME, hit_gate=TEST_HIT_GATE,
    )
    return d


def _run_stream(df, tmp_path, name):
    """Drain ``df`` into a fresh append sink; its rows (None when no
    micro-batch committed)."""
    table = MergeTable(str(tmp_path / f"{name}_out"), key_cols=())
    append_stream_to_table(df, table, str(tmp_path / f"{name}_ckpt"))
    return table.read(df.sparkSession)


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_decode_roundtrip(spark):
    """pack -> decode reproduces the generated per-channel samples."""
    frames = frame_plan(spark, 50, SRC_IDS).cache()
    direct = frames.select(
        "src_id", "seq", F.posexplode("adc").alias("lane", "adc")
    ).select(
        "src_id", "seq", (F.col("src_id") * 64 + F.col("lane")).alias("channel"), "adc"
    )
    decoded = plan.decode_frames(with_packed_payload(frames)).select(
        "src_id", "seq", "channel", "adc"
    )
    cols = ["src_id", "seq", "channel", "adc"]
    assert _rows(decoded, cols) == _rows(direct, cols)


def test_streaming_ta_equals_batch(spark, frames_dir, tmp_path):
    """Windowed TA formation: streaming (append mode, watermark) must
    equal the batch plan for every window the stream emitted, and emit
    all but at most the trailing un-closed window per stream."""
    batch_tas = plan.ta_windows(
        plan.find_hits(plan.decode_frames(spark.read.parquet(frames_dir)))
    )
    stream_tas = _run_stream(
        pipeline.ta_stream(spark, frames_dir), tmp_path, "tas"
    )
    cols = ["src_id", "window_start", "n_tps", "n_channels", "sum_adc"]
    b = _rows(batch_tas, cols)
    s = _rows(stream_tas, cols)
    assert len(s) > 0
    assert set(s) <= set(b), "stream emitted a window batch never produced"
    missing = set(b) - set(s)
    # only windows not yet closed by the final watermark (the trailing
    # watermark-delay's worth of windows per stream) may be missing
    allowed = len(SRC_IDS) * (50 // WINDOW_MS + 2)
    assert len(missing) <= allowed, f"{len(missing)} windows never emitted"


def test_q29_late_data_within_watermark(spark, frames_dir, late_frames_dir, tmp_path):
    """Q29 golden: replaying the same frames out-of-order within a
    40 ms jitter bound yields the same emitted windows (watermark
    correctness, A43).  Watermark delay 100 ms >= 2x jitter: worst-case
    lateness vs the advancing max-event-time is twice the jitter."""
    wm = "100 milliseconds"
    ordered = _run_stream(pipeline.ta_stream(spark, frames_dir, watermark=wm), tmp_path, "ord")
    late = _run_stream(pipeline.ta_stream(spark, late_frames_dir, watermark=wm), tmp_path, "late")
    cols = ["src_id", "window_start", "n_tps", "n_channels", "sum_adc"]
    o, l = _rows(ordered, cols), _rows(late, cols)
    # the late replay may close fewer trailing windows, but every
    # window both emitted must agree exactly
    common_keys = {r[:2] for r in o} & {r[:2] for r in l}
    assert len(common_keys) > 0
    assert {r for r in o if r[:2] in common_keys} == {r for r in l if r[:2] in common_keys}


def test_streaming_dedup_drops_redelivered_frames(spark, frames_dir, tmp_path):
    """A union of the frame stream with itself (an at-least-once source
    redelivering every chunk) must collapse back to exactly the
    distinct frame set under dropDuplicatesWithinWatermark."""
    doubled = read_frame_stream(spark, frames_dir).unionByName(
        read_frame_stream(spark, frames_dir)
    )
    deduped = _run_stream(
        pipeline.dedup_stream(doubled).select("src_id", "seq", "ts_ticks"),
        tmp_path,
        "dedup",
    )
    batch = spark.read.parquet(frames_dir).select("src_id", "seq", "ts_ticks").distinct()
    cols = ["src_id", "seq", "ts_ticks"]
    assert _rows(deduped, cols) == _rows(batch, cols)


def test_streaming_session_windows_equal_batch(spark, tmp_path):
    """A25's inactivity flush as session windows: hits with designed
    silence gaps must form the same sessions in streaming (watermark +
    availableNow) as in batch.  A far-future sentinel hit pushes the
    final watermark so every real session closes; the sentinel's own
    session is the only one allowed to be missing."""
    from pyspark.sql import types as T

    gap_ms = 100
    # two streams; hit bursts at 0-20ms, 200-210ms, 500ms (3 sessions
    # per stream at a 100ms gap), sentinel at 10s
    rows = []
    for src in (0, 1):
        for base in (0, 5, 20, 200, 210, 500):
            rows.append((src, base * 62_500, src * 64 + base % 7, 50 + base % 10))
        rows.append((src, 10_000 * 62_500, src * 64, 50))  # sentinel
    schema = T.StructType(
        [
            T.StructField("src_id", T.IntegerType()),
            T.StructField("ts_ticks", T.LongType()),
            T.StructField("channel", T.IntegerType()),
            T.StructField("adc", T.IntegerType()),
        ]
    )
    hits_dir = str(tmp_path / "hits")
    base_df = spark.createDataFrame(rows, schema).withColumn(
        "ts", F.timestamp_micros((F.col("ts_ticks") / 62.5).cast("long"))
    )
    base_df.write.parquet(hits_dir)

    batch = plan.ta_sessions(spark.read.parquet(hits_dir), gap=f"{gap_ms} milliseconds")
    stream_hits = (
        spark.readStream.schema(base_df.schema).parquet(hits_dir)
        .withWatermark("ts", "10 milliseconds")
    )
    streamed = _run_stream(
        plan.ta_sessions(stream_hits, gap=f"{gap_ms} milliseconds"), tmp_path, "sess"
    )
    cols = ["src_id", "session_start", "session_end", "n_tps", "n_channels", "sum_adc"]
    b, s = _rows(batch, cols), _rows(streamed, cols)
    sentinel_sessions = {r for r in b if r[1].timestamp() >= 9.0}
    assert set(s) == set(b) - sentinel_sessions
    assert len(s) == 6  # 3 closed sessions x 2 streams


def test_rerun_with_checkpoint_is_idempotent(spark, frames_dir, tmp_path):
    """SURVEY 5.2 item 4: re-running the sink job against the same
    checkpoint must not duplicate rows - the checkpoint's committed
    batch ids leave nothing to re-deliver (a re-delivered batch is
    test_append_sink_skips_a_redelivered_batch)."""
    cols = ["src_id", "window_start", "n_tps"]
    first = _run_stream(pipeline.ta_stream(spark, frames_dir), tmp_path, "idem")
    rows1 = _rows(first, cols)
    second = _run_stream(pipeline.ta_stream(spark, frames_dir), tmp_path, "idem")
    assert _rows(second, cols) == rows1


def test_run_allocation_monotone_and_gap_filling(spark, tmp_path):
    """SURVEY 5.2 item 4: sequential allocations are unique; a gap in
    the runs table is filled first (the reference's upward probe from
    the floor, run_iceberg_daq.sh:111-131)."""
    from iceberg_daq_spark.runs import RUNS_SCHEMA, allocate_run, runs_table

    runs_dir = str(tmp_path / "runs")
    assert allocate_run(spark, runs_dir) == 16091

    def add(run):
        row = {"run": run, "subrun": run * 100000 + 1, "mode": "main",
               "config_name": "c", "state": "stopped", "wall_time_s": 0.0,
               "raw_rows": 0, "tp_rows": 0}
        runs_table(runs_dir).merge(spark.createDataFrame([row], RUNS_SCHEMA))

    add(16091)
    assert allocate_run(spark, runs_dir) == 16092
    add(16095)  # gap 16092-16094
    assert allocate_run(spark, runs_dir) == 16092
    assert allocate_run(spark, runs_dir, "hermes") == 21  # independent floor


def test_run_output_equals_batch_after_tail_flush(spark, frames_dir, tmp_path):
    """A27's buffer-timeout flush at stop_run: streamed TA windows plus
    the flush_tail complement must equal the batch plan EXACTLY - no
    trailing-window allowance, no sentinel rows."""
    table = MergeTable(str(tmp_path / "ta_out"), key_cols=("src_id", "window_start"))
    append_stream_to_table(
        pipeline.ta_stream(spark, frames_dir), table, str(tmp_path / "ckpt")
    )
    batch_tas = plan.ta_windows(plan.decode_hits(spark.read.parquet(frames_dir)))
    assert pipeline.flush_tail(table, batch_tas, ["src_id", "window_start"]) > 0
    cols = ["src_id", "window_start", "n_tps", "n_channels", "sum_adc"]
    merged = _rows(table.read(spark), cols)
    assert merged == _rows(batch_tas, cols)
    # a re-flush finds an empty complement: nothing added, no commit
    v = table.current_version()
    assert pipeline.flush_tail(table, batch_tas, ["src_id", "window_start"]) == 0
    assert table.current_version() == v
    assert _rows(table.read(spark), cols) == merged


def test_append_sink_skips_a_redelivered_batch(spark, frames_dir, tmp_path):
    """Exactly-once by epoch: Spark re-delivers the last micro-batch
    when its checkpoint commit is lost after the table commit; the
    sink finds that batch id recorded for the query and commits
    nothing, so the table keeps its version and rows."""
    table = MergeTable(str(tmp_path / "tas"), key_cols=("src_id", "window_start"))
    ckpt = str(tmp_path / "ckpt")
    q = append_stream_to_table(pipeline.ta_stream(spark, frames_dir), table, ckpt)
    cols = ["src_id", "window_start", "n_tps", "n_channels", "sum_adc"]
    v, rows = table.current_version(), _rows(table.read(spark), cols)
    last = max(p["batchId"] for p in q.recentProgress)
    epochs = table._load_manifest(v)["stream_epochs"]
    assert epochs == {str(q.id): last}
    for name in (str(last), f".{last}.crc"):
        os.remove(os.path.join(ckpt, "commits", name))

    again = append_stream_to_table(pipeline.ta_stream(spark, frames_dir), table, ckpt)
    assert str(again.id) == str(q.id)
    # the batch did run again, and Spark recommitted it
    replayed = [p for p in again.recentProgress if p["batchId"] == last]
    assert replayed and os.path.exists(os.path.join(ckpt, "commits", str(last)))
    assert table.current_version() == v
    assert _rows(table.read(spark), cols) == rows


def test_append_sink_keeps_duplicate_rows(spark, tmp_path):
    """The sink never deduplicates: a micro-batch holding two
    identical rows lands both, so a double emission stays visible."""
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "a"), (1, "a")], "k int, v string").coalesce(
        1
    ).write.parquet(src)
    stream = spark.readStream.schema("k int, v string").parquet(src)
    got = _run_stream(stream, tmp_path, "dups")
    assert sorted(tuple(r) for r in got.collect()) == [(1, "a"), (1, "a")]


def test_opmon_listener_records_batches(spark, frames_dir, tmp_path):
    """A9: the opmon listener must capture every micro-batch's progress
    (input rows, rates, duration) into the monitoring table, keyed so a
    redelivered progress event cannot duplicate."""
    from iceberg_daq_spark.streaming.monitor import OpmonMonitor

    mon = OpmonMonitor(spark, str(tmp_path / "opmon")).attach()
    try:
        _run_stream(pipeline.ta_stream(spark, frames_dir), tmp_path, "mon")
    finally:
        out = mon.flush()
        mon.detach()
    rows = out.collect()
    assert len(rows) >= 1
    assert sum(r["num_input_rows"] for r in rows) > 0
    assert all(r["batch_duration_ms"] >= 0 and r["query_id"] for r in rows)
    # the merge key forbids duplicates even if progress events straggle
    # in between flushes (the listener bus is async)
    again = mon.flush()
    assert again.count() == again.dropDuplicates(
        ["query_id", "run_id", "batch_id"]
    ).count()
    assert again.count() >= len(rows)


def test_streaming_td_merge_equals_batch(spark, tmp_path):
    """TD interval merge: applyInPandasWithState output must equal the
    batch gaps-and-islands merge, up to the still-open trailing
    decision per stream (flushed only once the watermark passes its
    event-time horizon)."""
    W = plan.TA_WINDOW_TICKS
    gap = 2 * W
    t0 = 106_250_000_000_000
    # synthetic gappy TAs: islands of 5 consecutive windows separated by
    # 10-window gaps, 60 TAs per src -> 12 islands each (dense
    # frame-derived TAs would merge into one island - no test signal)
    tas = (
        spark.range(60)
        .withColumnRenamed("id", "k")
        .crossJoin(spark.createDataFrame([(s,) for s in SRC_IDS], "src_id int"))
        .select(
            "src_id",
            (F.lit(t0) + (F.col("k") + (F.col("k") / 5).cast("long") * 10) * W).alias("first_tick"),
        )
        .withColumn("last_tick", F.col("first_tick") + W - 1)
        .withColumn("window_end", F.timestamp_micros(((F.col("last_tick") + 1) / 62.5).cast("long")))
        .withColumn("n_tps", F.lit(10).cast("long"))
    )
    batch_tds = plan.merge_decisions(tas.drop("window_end"), max_gap_ticks=gap)

    # stage TAs to parquet and re-stream them (the reference also hands
    # TAs between apps through a queue boundary); 4 chunks = 4
    # micro-batches so the watermark advances across batches
    tas_dir = str(tmp_path / "tas_staged")
    tas.repartitionByRange(4, "first_tick").write.parquet(tas_dir)
    stamp_replay_order(tas_dir)
    ta_schema = spark.read.parquet(tas_dir).schema
    tas_stream = (
        spark.readStream.schema(ta_schema).option("maxFilesPerTrigger", 1).parquet(tas_dir)
    )
    tds_stream = _run_stream(
        pipeline.merge_decisions_stream(tas_stream, max_gap_ticks=gap, watermark="1 millisecond"),
        tmp_path,
        "tds",
    )
    cols = ["src_id", "td_start_tick", "td_end_tick", "n_tps", "n_tas"]
    b = _rows(batch_tds, cols)
    s = _rows(tds_stream, cols) if tds_stream is not None else []
    assert len(s) > 0
    assert set(s) <= set(b)
    assert len(b) - len(s) <= len(SRC_IDS), f"emitted {len(s)} of {len(b)} decisions"


def test_q30_streaming_readout_join_equals_batch(spark, frames_dir, tmp_path):
    """Q30 golden: the stream-stream interval join (readout assembly)
    must reproduce the batch join for the asymmetric readout window."""
    joined_stream = _run_stream(
        pipeline.readout_assembly_stream(spark, frames_dir), tmp_path, "readout"
    )
    frames_b = spark.read.parquet(frames_dir).select("src_id", "seq", "ts_ticks")
    trig_b = plan.prescale_hash(
        plan.find_hits(plan.decode_frames(spark.read.parquet(frames_dir))),
        n=plan.PRESCALE,
        key_cols=("src_id", "seq", "channel"),
    ).select(
        F.col("src_id").alias("t_src_id"),
        F.col("ts_ticks").alias("t_ticks"),
        F.col("channel").alias("t_channel"),
    )
    batch_join = frames_b.join(
        trig_b,
        (F.col("src_id") == F.col("t_src_id"))
        & (F.col("ts_ticks") >= F.col("t_ticks") - pipeline.READOUT_BEFORE_TICKS)
        & (F.col("ts_ticks") <= F.col("t_ticks") + pipeline.READOUT_AFTER_TICKS),
    )
    cols = ["src_id", "seq", "ts_ticks", "t_ticks", "t_channel"]
    b = _rows(batch_join, cols)
    s = _rows(joined_stream, cols)
    # stream-stream join may withhold pairs near end-of-stream watermark
    assert set(s) <= set(b)
    assert len(s) >= int(0.9 * len(b)), f"stream join emitted {len(s)} of {len(b)}"


def test_daq_run_lifecycle(spark, frames_dir, tmp_path):
    """A45/A28: two consecutive runs allocate consecutive run numbers
    from the floor, walk the FSM in order, and land rows in both sinks
    plus the runs table."""
    from iceberg_daq_spark.runs import RUN_FLOORS, DaqRun, existing_runs

    out = str(tmp_path / "daq_out")
    r1 = DaqRun(spark, "iceberg_daq_eth", frames_dir, out).execute()
    r2 = DaqRun(spark, "iceberg_daq_eth", frames_dir, out).execute()
    assert r1["run"] == RUN_FLOORS["main"]
    assert r2["run"] == RUN_FLOORS["main"] + 1
    assert r1["subrun"] == r1["run"] * 100000 + 1
    assert r1["raw_rows"] > 0 and r1["tp_rows"] > 0
    # the trigger-decision sink equals the batch interval merge exactly
    # (streamed decisions + stop_run tail flush)
    run_dir = os.path.join(out, f"run_{r1['run']}")
    for sink, n in (("raw", r1["raw_rows"]), ("trigprim", r1["tp_rows"])):
        assert MergeTable(os.path.join(run_dir, sink), key_cols=()).read(spark).count() == n
    tds = MergeTable(os.path.join(run_dir, "trigdec"), key_cols=()).read(spark)
    batch_tds = plan.merge_decisions(
        spark.read.parquet(os.path.join(run_dir, "ta_stage")).drop("window_end"),
        max_gap_ticks=plan.TA_WINDOW_TICKS,
    )
    cols = ["src_id", "td_start_tick", "td_end_tick", "n_tps", "n_tas"]
    assert _rows(tds, cols) == _rows(batch_tds, cols)
    assert tds.count() > 0
    runs = existing_runs(spark, out + "/runs")
    assert runs.count() == 2
    states = [s for s, _ in DaqRun(spark, "x", frames_dir, out).transitions]
    assert states == []  # fresh instance, no transitions yet


def test_decode_hits_equals_unfused(spark, frames_dir):
    """The fused decode+TPG stage must equal filter-after-decode exactly
    (same rows, same values), including with a channel mask."""
    frames = spark.read.parquet(frames_dir)
    cols = ["src_id", "seq", "ts_ticks", "channel", "adc"]
    mask = [0, 65, 130]
    for kw in ({}, {"channel_mask": mask}):
        fused = plan.decode_hits(frames, **kw)
        unfused = plan.find_hits(plan.decode_frames(frames), **kw)
        assert _rows(fused, cols) == _rows(unfused, cols)


def test_opmon_socket_push_feed(spark, frames_dir, tmp_path):
    """A9 transport parity: with push_addr set, every progress row is
    ALSO streamed live over TCP as newline-delimited JSON (the Kafka
    producer analog) while the table keeps the queryable store role."""
    import json
    import socket
    import threading

    from iceberg_daq_spark.streaming.monitor import OpmonMonitor

    lines: list[str] = []
    srv = socket.create_server(("127.0.0.1", 0))
    srv.settimeout(30)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        buf = b""
        # read until EOF: the emitter's close() (run by mon.detach()
        # below) drains its queue then closes the socket, so EOF is
        # guaranteed and races with slow listener-bus delivery on a
        # loaded host can't truncate the feed (an inactivity-timeout
        # drain here flaked under full-suite load)
        conn.settimeout(60)
        try:
            while True:
                chunk = conn.recv(65536)
                if not chunk:
                    break
                buf += chunk
        except TimeoutError:
            pass
        finally:
            conn.close()
        lines.extend(l for l in buf.decode().splitlines() if l.strip())

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    mon = OpmonMonitor(
        spark, str(tmp_path / "opmon"), push_addr=("127.0.0.1", port)
    ).attach()
    try:
        _run_stream(pipeline.ta_stream(spark, frames_dir), tmp_path, "monsock")
    finally:
        table = mon.flush()
        mon.detach()
        srv.close()
    t.join(timeout=30)

    assert mon._emitter is not None and mon._emitter.dropped == 0
    assert len(lines) >= 1
    pushed = [json.loads(l) for l in lines]
    stored = {(r["query_id"], r["run_id"], r["batch_id"]) for r in table.collect()}
    for p in pushed:
        assert set(p) == set(OPMON_SCHEMA := {
            "query_id", "run_id", "query_name", "batch_id", "event_ts",
            "num_input_rows", "input_rows_per_sec", "processed_rows_per_sec",
            "watermark", "state_rows", "batch_duration_ms",
        })
    # every event the table stored was also pushed (the socket feed can
    # additionally carry stragglers that arrived after the flush - the
    # listener bus is async, same caveat the table test documents)
    pushed_keys = {(p["query_id"], p["run_id"], p["batch_id"]) for p in pushed}
    assert stored <= pushed_keys


def test_opmon_kafka_branch_selection(spark, tmp_path):
    """A9 transport parity: a configured broker URL selects the Kafka
    emitter (writeStream.format('kafka') path) over the TCP analog;
    without one the socket / no-op branches apply.  No broker or Kafka
    connector jar ships in this container, so only selection and
    buffering are exercised here; on a cluster ship() is the one
    Kafka write call."""
    from iceberg_daq_spark.streaming.monitor import (
        OpmonMonitor,
        _KafkaEmitter,
        _SocketEmitter,
    )

    kafka_mon = OpmonMonitor(
        spark,
        str(tmp_path / "op_k"),
        push_addr=("127.0.0.1", 1),  # broker wins even with both set
        kafka_brokers="broker1:9092,broker2:9092",
        kafka_topic="opmon.metrics",
    )
    assert isinstance(kafka_mon._emitter, _KafkaEmitter)
    assert kafka_mon._emitter.brokers == "broker1:9092,broker2:9092"
    assert kafka_mon._emitter.topic == "opmon.metrics"
    # buffered rows survive until ship(); nothing to ship -> 0
    assert kafka_mon._emitter.ship() == 0
    kafka_mon._emitter.emit({"query_id": "q", "run_id": "r", "batch_id": 1})
    assert len(kafka_mon._emitter._rows) == 1

    sock_mon = OpmonMonitor(spark, str(tmp_path / "op_s"), push_addr=("127.0.0.1", 1))
    assert isinstance(sock_mon._emitter, _SocketEmitter)
    sock_mon._emitter.close()
    assert OpmonMonitor(spark, str(tmp_path / "op_n"))._emitter is None


def test_opmon_kafka_payload_shape(spark, tmp_path):
    """Dry-run of the Kafka sink contract: the DataFrame ship() feeds
    to format('kafka') must be exactly (key string, value string) with
    key = query_id/run_id/batch_id (per-query ordering under default
    hash partitioning) and value = the full progress row as JSON -
    asserted here because the write itself needs a broker."""
    import json

    from iceberg_daq_spark.streaming.monitor import OpmonMonitor, _KafkaEmitter

    mon = OpmonMonitor(
        spark, str(tmp_path / "op_k2"), kafka_brokers="broker1:9092"
    )
    em = mon._emitter
    assert isinstance(em, _KafkaEmitter)
    row = {
        "query_id": "qid-1",
        "run_id": "rid-9",
        "query_name": "tp_stream",
        "batch_id": 42,
        "event_ts": "2026-08-14T00:00:00.000Z",
        "num_input_rows": 1000,
        "input_rows_per_sec": 5.5,
        "processed_rows_per_sec": 6.5,
        "watermark": "2026-08-14T00:00:00.000Z",
        "state_rows": 3,
        "batch_duration_ms": 120,
    }
    df = em.payload_df([row])
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("key", "string"),
        ("value", "string"),
    ]
    out = df.collect()
    assert len(out) == 1
    assert out[0]["key"] == "qid-1/rid-9/42"
    decoded = json.loads(out[0]["value"])
    assert decoded["query_name"] == "tp_stream"
    assert decoded["num_input_rows"] == 1000
    assert decoded["batch_duration_ms"] == 120
    # every OPMON column survives into the JSON payload
    assert set(decoded) == set(row)


def test_opmon_kafka_ship_drains_through_write_seam(spark, tmp_path):
    """The emitter's full code path - concurrent emit() buffering,
    ship()'s lock-guarded drain, payload framing - executes here by
    capturing the terminal connector call at the _write seam (the one
    line that needs the Kafka jar + broker, absent in this
    container).  Redelivery semantics: ship() drains exactly once;
    rows emitted DURING a ship land in the next batch, never lost."""
    import json
    import threading

    from iceberg_daq_spark.streaming.monitor import OpmonMonitor, _KafkaEmitter

    mon = OpmonMonitor(
        spark, str(tmp_path / "op_k3"), kafka_brokers="broker1:9092"
    )
    em = mon._emitter
    assert isinstance(em, _KafkaEmitter)
    shipped = []
    em._write = lambda payload: shipped.append(payload.collect())

    def row(i: int) -> dict:
        return {
            "query_id": f"q{i % 3}",
            "run_id": "r",
            "query_name": "tp_stream",
            "batch_id": i,
            "event_ts": "2026-08-14T00:00:00.000Z",
            "num_input_rows": i,
            "input_rows_per_sec": 1.0,
            "processed_rows_per_sec": 1.0,
            "watermark": "2026-08-14T00:00:00.000Z",
            "state_rows": 0,
            "batch_duration_ms": 10,
        }

    # emit from several threads (the listener bus is not the owning
    # thread): the lock must keep every row
    threads = [
        threading.Thread(target=lambda lo: [em.emit(row(i)) for i in range(lo, lo + 8)], args=(lo,))
        for lo in (0, 8, 16)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert em.ship() == 24
    assert em.ship() == 0  # drained: nothing redelivers
    assert len(shipped) == 1 and len(shipped[0]) == 24
    keys = {r["key"] for r in shipped[0]}
    assert "q0/r/0" in keys and "q2/r/23" in keys
    payload = json.loads(next(r for r in shipped[0] if r["key"] == "q1/r/1")["value"])
    assert payload["num_input_rows"] == 1
    # a row emitted after the drain ships in the NEXT batch
    em.emit(row(99))
    assert em.ship() == 1
    assert len(shipped) == 2


def test_streaming_jsonl_ingest_quarantine_merge(spark, tmp_path):
    """The document-feed ingestion leg end to end: a JSONL drop dir
    streams through the quarantine split, good rows MERGE into a
    doc_id-keyed table (redelivered/duplicate ids upsert, never
    double-count), malformed lines land in the quarantine sink with
    their raw bytes - nothing silently lost."""
    import os as _os

    from pyspark.sql import types as T

    from iceberg_daq_spark.sources import split_jsonl
    from iceberg_daq_spark.tablestore import MergeTable, run_stream_to_table

    feed = str(tmp_path / "feed")
    _os.makedirs(feed)
    (tmp_path / "feed" / "a.jsonl").write_text(
        "\n".join(
            [
                '{"doc_id": 1, "text": "alpha"}',
                '{"doc_id": 2, "text": "beta"}',
                "{broken line",
            ]
        )
    )
    (tmp_path / "feed" / "b.jsonl").write_text(
        "\n".join(
            [
                '{"doc_id": 2, "text": "beta-redelivered"}',  # same key: upsert
                '{"doc_id": 3, "text": "gamma"}',
                '"just a string"',
            ]
        )
    )
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    lines = spark.readStream.text(feed)
    good, quar = split_jsonl(lines, schema)

    table = MergeTable(str(tmp_path / "docs_tbl"), key_cols=("doc_id",))
    run_stream_to_table(good, table, str(tmp_path / "ck_good"), available_now=True)
    qq = (
        quar.writeStream.format("parquet")
        .option("path", str(tmp_path / "quar"))
        .option("checkpointLocation", str(tmp_path / "ck_quar"))
        .trigger(availableNow=True)
        .start()
    )
    qq.awaitTermination(120)

    docs = {r["doc_id"]: r["text"] for r in table.read(spark).collect()}
    assert set(docs) == {1, 2, 3}
    assert docs[1] == "alpha" and docs[3] == "gamma"
    assert docs[2] in ("beta", "beta-redelivered")  # one row, either version
    q = sorted(r["raw_line"] for r in spark.read.parquet(str(tmp_path / "quar")).collect())
    assert q == sorted(["{broken line", '"just a string"'])


class _FakeState:
    """Minimal GroupState stand-in for driving _merge_td_func
    directly: just the attributes/methods the state fn touches."""

    def __init__(self, value=None, watermark_ms=0):
        self._v = value
        self.hasTimedOut = False
        self._wm = watermark_ms
        self.timeout_set = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_set = ms

    def getCurrentWatermarkMs(self):
        return self._wm


def _drive_merge(fn, state, rows):
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["first_tick", "last_tick", "n_tps"])
    return [
        r
        for out in fn((7,), iter([pdf]), state)
        for r in out.to_dict("records")
    ]


def test_merge_td_cross_batch_straggler_semantics():
    """Regression: an in-watermark straggler TA (a) extends the OPEN
    island downward when it belongs to it (batch parity while
    unemitted), and (b) is DROPPED - never merged or island-split -
    when it precedes the open island by more than the gap (it belongs
    to an already-emitted decision)."""
    from iceberg_daq_spark.streaming.pipeline import _merge_td_func

    fn = _merge_td_func(max_gap_ticks=100, flush_horizon_ticks=200)
    # batch 1: open island [1000, 1100]
    st = _FakeState()
    out = _drive_merge(fn, st, [(1000, 1100, 5)])
    assert out == [] and st.get == (1000, 1100, 5, 1)
    # batch 2a: straggler overlapping the open island's start-side gap
    # -> downward extension, batch-equivalent while unemitted
    out = _drive_merge(fn, st, [(950, 990, 2)])
    assert out == [] and st.get == (950, 1100, 7, 2)
    # batch 2b: straggler entirely before (island - gap) -> dropped,
    # the open island is untouched and NOT prematurely emitted
    out = _drive_merge(fn, st, [(100, 200, 9)])
    assert out == [] and st.get == (950, 1100, 7, 2)


def test_merge_td_straggler_group_reconnects_open_island():
    """Regression (review): stragglers that connect to the open island
    only THROUGH EACH OTHER must merge - a row-by-row test against the
    island dropped (700,750) before the bridging (740,950) arrived,
    emitting a shifted island with lost counts."""
    from iceberg_daq_spark.streaming.pipeline import _merge_td_func

    fn = _merge_td_func(max_gap_ticks=100, flush_horizon_ticks=200)
    st = _FakeState(value=(1000, 1100, 5, 1))
    out = _drive_merge(fn, st, [(700, 750, 2), (740, 950, 3)])
    assert out == []  # the island is still open (nothing emitted)
    assert st.get == (700, 1100, 10, 3)  # = the batch twin's island


def test_merge_td_pre_island_group_drops_whole():
    """Stragglers that merge with each other but stay before the open
    island belong to an already-emitted decision: the GROUP is dropped
    (append mode cannot retract), never emitted as an overlapping
    fragment, and the open island is untouched."""
    from iceberg_daq_spark.streaming.pipeline import _merge_td_func

    fn = _merge_td_func(max_gap_ticks=100, flush_horizon_ticks=200)
    st = _FakeState(value=(1000, 1100, 5, 1))
    out = _drive_merge(fn, st, [(100, 150, 2), (180, 220, 3)])
    assert out == [] and st.get == (1000, 1100, 5, 1)


def test_merge_td_cap_split_matches_batch_fold_with_state():
    """The max-TD cap must split at the same point the batch twin's
    global fold would: the open island folds at its sorted position,
    so (0,100)+(150,200) merge first and the cap then splits before
    (250,300) - folding the batch rows separately would split
    differently (the cap makes merging non-associative)."""
    from iceberg_daq_spark.streaming.pipeline import _merge_td_func

    fn = _merge_td_func(
        max_gap_ticks=60, flush_horizon_ticks=200, max_td_ticks=250
    )
    st = _FakeState(value=(0, 100, 1, 1))
    out = _drive_merge(fn, st, [(150, 200, 1), (250, 300, 1)])
    assert [(r["td_start_tick"], r["td_end_tick"], r["n_tps"]) for r in out] == [
        (0, 200, 2)
    ]
    assert st.get == (250, 300, 1, 1)


def test_merge_td_property_streamed_equals_batch_fold():
    """Property: over random TA interval sets delivered across random
    micro-batch boundaries (globally ordered delivery, arbitrary
    shuffle WITHIN each batch - the in-watermark contract), streamed
    emissions + the final open state must equal the batch twin's
    sequential gaps-and-islands fold exactly, including max-TD cap
    split points and n_tps/n_tas counts."""
    import random

    from iceberg_daq_spark.streaming.pipeline import _merge_td_func

    def batch_fold(rows, gap, cap):
        islands, cur = [], None
        for f, l, t in sorted(rows, key=lambda r: (r[0], r[1])):
            if cur is None:
                cur = [f, l, t, 1]
            elif f <= cur[1] + gap and l - cur[0] <= cap:
                cur[0] = min(cur[0], f)
                cur[1] = max(cur[1], l)
                cur[2] += t
                cur[3] += 1
            else:
                islands.append(tuple(cur))
                cur = [f, l, t, 1]
        if cur is not None:
            islands.append(tuple(cur))
        return islands

    rng = random.Random(20260816)
    for trial in range(25):
        gap = rng.choice([1, 10, 100])
        cap = rng.choice([50, 300, 10**9])
        n = rng.randrange(1, 60)
        rows, tick = [], 0
        for _ in range(n):
            tick += rng.randrange(0, 3 * gap + 2)
            length = rng.randrange(0, 2 * gap + 2)
            rows.append((tick, tick + length, rng.randrange(1, 5)))
        want = batch_fold(rows, gap, cap)

        fn = _merge_td_func(
            max_gap_ticks=gap, flush_horizon_ticks=10, max_td_ticks=cap
        )
        st = _FakeState()
        got = []
        i = 0
        ordered = sorted(rows, key=lambda r: (r[0], r[1]))
        while i < len(ordered):
            j = rng.randrange(i + 1, len(ordered) + 1)
            batch = ordered[i:j]
            rng.shuffle(batch)  # disorder inside the batch only
            got.extend(
                (r["td_start_tick"], r["td_end_tick"], r["n_tps"], r["n_tas"])
                for r in _drive_merge(fn, st, batch)
            )
            i = j
        assert st.exists, trial
        got.append(tuple(int(x) for x in st.get))
        assert got == [tuple(map(int, w)) for w in want], (
            trial, gap, cap, rows,
        )


def test_merge_td_cap_parameter_threads():
    """Regression: the max-TD-length cap is a parameter (it was a
    hardcoded constant the batch twin could diverge from)."""
    from iceberg_daq_spark.streaming.pipeline import _merge_td_func

    fn = _merge_td_func(max_gap_ticks=100, flush_horizon_ticks=200, max_td_ticks=500)
    st = _FakeState()
    # second TA is within gap but would stretch the island past the cap
    out = _drive_merge(fn, st, [(0, 400, 1), (450, 600, 1)])
    assert [(r["td_start_tick"], r["td_end_tick"]) for r in out] == [(0, 400)]
    assert st.get == (450, 600, 1, 1)


def test_ta_windows_rejects_lossy_tick_conversion(spark):
    """Regression: a window_ticks that is not a whole number of
    microseconds silently truncated the time window (int(100/62.5) =
    1 us for a 1.6 us window); it must gate loudly."""
    from iceberg_daq_spark.streaming import plan

    hits = spark.createDataFrame(
        [(0, 1, 10, 100)], "src_id int, channel int, adc int, ts_ticks long"
    ).withColumn("ts", F.timestamp_micros((F.col("ts_ticks") / 62.5).cast("long")))
    with pytest.raises(ValueError, match="62.5"):
        plan.ta_windows(hits, window_ticks=100)


def test_flush_tail_strict_detects_divergence(spark, tmp_path):
    """Regression: flush_tail's key-granular complement silently kept
    streamed rows that diverged from the batch twin; strict=True must
    surface them (and default stays repair-only)."""
    from iceberg_daq_spark.streaming.pipeline import flush_tail

    out = MergeTable(str(tmp_path / "sink"), key_cols=("k",))
    out.append(spark.createDataFrame([(1, 10), (2, 99)], "k int, v int"))
    batch_twin = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k int, v int"
    )
    # default: repairs the missing key only, diverged k=2 kept as-is
    n = flush_tail(out, batch_twin, ["k"])
    assert n == 1
    with pytest.raises(ValueError, match="diverge"):
        flush_tail(out, batch_twin, ["k"], strict=True)


def test_flush_tail_strict_detects_phantom_keys(spark, tmp_path):
    """Regression (review): a streamed key ABSENT from the batch twin
    (e.g. a shifted island the twin never produced) passed the old
    key-intersected strict check; the multiset compare must raise."""
    from iceberg_daq_spark.streaming.pipeline import flush_tail

    out = MergeTable(str(tmp_path / "sink"), key_cols=("k",))
    # k=9 is a phantom: value-correct rows otherwise
    out.append(spark.createDataFrame([(1, 10), (9, 90)], "k int, v int"))
    batch_twin = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    with pytest.raises(ValueError, match="diverge"):
        flush_tail(out, batch_twin, ["k"], strict=True)
    # repair-only mode still lands the missing k=2 complement
    assert flush_tail(out, batch_twin, ["k"]) == 1
