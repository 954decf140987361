"""The three benchmark workloads, one per surface users touch.

Each workload is one closed-loop client on one SparkSession: it sends
its next call only after the previous one returned.  A workload has a
``setup`` (builds its inputs from the seed, once per run, cold: the
first Spark jobs of the process count in it) and a ``run`` (warm-up
and output check, then timed repetitions of one unit of work: as many
as ``seconds`` holds at the unit's nominal time).

- ``query_mix``: a frozen list of registered queries over generated
  star-schema tables; the seed shuffles the order.
- ``daq_stream``: a backlog of emulated WIB-frame chunks drained by the
  streaming TA query into a MERGE sink with periodic compaction.
- ``catalog_etl``: the metadata ETL draining a dropbox into a fresh
  catalog table, then point lookups and an idempotent rerun.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from collections import Counter
from contextlib import ExitStack
from dataclasses import dataclass, field

import datagen
from spans import Tracer, wrap_attr

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "workloads.json")) as _fh:
    SPEC = json.load(_fh)


def p90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def units(seconds: float, nominal_s: float) -> int:
    """How many units of work a run measures: as many as fit in
    ``seconds`` at the nominal unit time recorded in workloads.json, and
    at least one.  The count depends only on ``seconds``, so every run
    of a given length measures the same work, however fast it goes."""
    return max(1, round(seconds / nominal_s))


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> dict[str, float]:
    """CPU seconds (user + system) of this process and its live
    descendants, each with the children it has reaped, split into the
    JVM (``jvm``) and the Python driver and workers (``python``).  The
    kernel leaves time stolen by the hypervisor out of these counters,
    so on a shared host they move far less than wall time."""
    kids: dict[int, list[int]] = {}
    procs: dict[int, tuple[str, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended meanwhile
            continue
        comm, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
        f = rest.split()
        kids.setdefault(int(f[1]), []).append(int(name))
        procs[int(name)] = (comm, sum(int(x) for x in f[11:15]))
    out = {"jvm": 0.0, "python": 0.0}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            comm, ticks = procs[pid]
            out["jvm" if comm == "java" else "python"] += ticks / CLK_TCK
        todo.extend(kids.get(pid, []))
    return out


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    counters: "SparkCounters | None"  # set on traced runs only
    cpus: int

    @property
    def trace(self) -> bool:
        return self.counters is not None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Outcome:
    """What a workload reports: the contract metrics (``e2e``), the
    workload's own names for them (``named``), per-layer numbers, the
    operation counts and details for the record (``info``)."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    named: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def boundaries(tracer: Tracer) -> ExitStack:
    """Spans around every call into the layers the workloads reach:
    ``tables.load`` as each ``queries.*`` module imported it, the
    ``MergeTable`` commit and read paths, and ``etl.metadata_etl``."""
    from iceberg_daq_spark import etl, queries, tables
    from iceberg_daq_spark.tablestore import MergeTable

    def table_attr(table, *_a, **_kw):
        return {"table": table.path}

    def etl_attrs(_spark, dropbox, catalog, *_a, **_kw):
        return {"dropbox": dropbox, "table": catalog.path}

    stack = ExitStack()
    for mod in vars(queries).values():
        if getattr(mod, "load", None) is tables.load:
            stack.enter_context(wrap_attr(tracer, mod, "load", "tables.load"))
    for meth in ("merge", "compact", "append", "read"):
        stack.enter_context(
            wrap_attr(tracer, MergeTable, meth, f"tablestore.{meth}", table_attr)
        )
    stack.enter_context(
        wrap_attr(tracer, etl, "metadata_etl", "etl.metadata_etl", etl_attrs)
    )
    return stack


# Per-layer metrics (by prefix) of layers a workload never enters.  The
# layer did no work there, so they read 0; any other metric a traced run
# leaves unset reads null, which shows as a missing measurement.
UNREACHED = {
    "query_mix": ("plan.", "stream."),
    "daq_stream": ("queries.", "etl.scan_s", "etl.passes"),
    "catalog_etl": ("queries.", "plan.", "stream."),
}


def fill_unreached(workload: str, names: list[str], layers: dict) -> None:
    for name in names:
        if name not in layers and name.startswith(UNREACHED[workload]):
            layers[name] = 0


def boundary_layers(tracer: Tracer, since: float, n_units: int) -> dict[str, float]:
    """Calls and seconds per measured unit at each wrapped boundary (0
    for a boundary the units never called), and seconds per read."""
    out = {}
    for name in ("tables.load", "tablestore.merge", "tablestore.compact",
                 "tablestore.append", "etl.metadata_etl"):
        calls, secs = tracer.totals(name, since)
        out[f"{name}_calls"] = calls / n_units
        out[f"{name}_s"] = secs / n_units
    calls, secs = tracer.totals("tablestore.read", since)
    out["tablestore.read_calls"] = calls / n_units
    out["tablestore.read_plan_s"] = secs / calls if calls else 0.0
    return out


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(root) for f in fs
    )


def table_layers(table, read_jobs: int) -> dict[str, float]:
    """A MergeTable at its current snapshot: the Spark jobs that planning
    one read of it launched, its data dirs and live files, and the bytes
    on disk per byte of live data."""
    snap = table.snapshots()[-1]
    live_bytes = sum(_dir_bytes(os.path.join(table.path, d)) for d in snap["data_dirs"])
    return {
        "tablestore.read_plan_jobs": read_jobs,
        "tablestore.data_dirs": len(snap["data_dirs"]),
        "tablestore.live_files": snap["n_files"] or 0,
        "tablestore.bytes_per_user_byte": _dir_bytes(table.path) / live_bytes if live_bytes else 0.0,
    }


def etl_layers(ctx: Ctx, dropbox: str, passes: int) -> dict[str, float]:
    """The manifest scan of ``dropbox`` on its own, and the ETL passes."""
    from iceberg_daq_spark import etl

    with ctx.tracer.span("etl.scan") as s_scan:
        noop(etl.scan_dropbox(ctx.spark, dropbox))
    return {"etl.scan_s": s_scan.duration, "etl.passes": passes}


def wall_layers(pass_s: float, items: int, op_s: list[float]) -> dict[str, float]:
    """Wall-clock figures of the measured units: seconds per unit, items
    per second, and the median and p90 of one operation."""
    return {
        "wall.pass_s": pass_s,
        "wall.items_per_s": items / pass_s,
        "wall.op_p50_s": statistics.median(op_s),
        "wall.op_p90_s": p90(op_s),
    }


def measure(ctx: Ctx, out: Outcome, nominal_s: float, unit) -> list:
    """Run ``unit(i)`` for the run's share of units and return the
    results.  Records the CPU seconds per unit (``cpu_s``, and its JVM
    and Python parts); on traced runs also the window's Spark stage
    totals and the per-unit boundary numbers."""
    n = units(ctx.seconds, nominal_s)
    snap0 = ctx.counters.snapshot() if ctx.trace else None
    cpu0 = tree_cpu_s()
    t_start = time.perf_counter()
    results, marks = [], [cpu0]
    for i in range(1, n + 1):
        results.append(unit(i))
        marks.append(tree_cpu_s())
    wall = time.perf_counter() - t_start
    cpu = {k: (v - cpu0[k]) / n for k, v in marks[-1].items()}
    out.e2e["cpu_s"] = sum(cpu.values())
    out.layers.update({f"cpu.{k}_s": v for k, v in cpu.items()})
    out.info.update(measured_s=wall, units=n, unit_cpu_s=[
        sum(b.values()) - sum(a.values()) for a, b in zip(marks, marks[1:])
    ])
    if ctx.trace:
        out.layers.update(
            ctx.counters.window_layers(snap0, ctx.counters.snapshot(), wall, ctx.cpus)
        )
        out.layers.update(boundary_layers(ctx.tracer, t_start, n))
    return results


class SparkCounters:
    """Job, task and status-store readings for traced runs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    def new_group(self) -> str:
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def jobs(self, gid: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(gid))

    def count_jobs(self, fn):
        """``fn()`` and the number of Spark jobs it launched."""
        gid = self.new_group()
        result = fn()
        return result, len(self.jobs(gid))

    def tasks(self, job_ids: list[int]) -> int:
        st = self.sc.statusTracker()
        n = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = st.getStageInfo(s)
                n += si.numTasks if si else 0
        return n

    def snapshot(self) -> dict[tuple[int, int], tuple[int, int, int]]:
        """(stage, attempt) -> (task run ms, shuffle write bytes, spill
        bytes) for every stage the status store holds."""
        jvm = self.sc._jvm
        stages = self.sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        out = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            out[(s.stageId(), s.attemptId())] = (
                s.executorRunTime(),
                s.shuffleWriteBytes(),
                s.memoryBytesSpilled() + s.diskBytesSpilled(),
            )
        return out

    def window_layers(self, before: dict, after: dict, wall: float, cpus: int) -> dict:
        """Sums over the stages that ran between two snapshots."""
        new = [v for k, v in after.items() if k not in before]
        task_s = sum(v[0] for v in new) / 1000.0
        return {
            "spark.task_s": task_s,
            "spark.core_util": task_s / (wall * cpus) if wall > 0 else 0.0,
            "spark.shuffle_bytes": sum(v[1] for v in new),
            "spark.spill_bytes": sum(v[2] for v in new),
        }


# ---------------------------------------------------------------- query_mix


def query_mix_setup(ctx: Ctx) -> dict:
    cfg = SPEC["query_mix"]
    d = ctx.path("query_mix", "data")
    rows = datagen.write(d, cfg["sf"], cfg["data_seed"])
    return {"dir": d, "rows": rows}


def query_mix_run(ctx: Ctx, inputs: dict, out: Outcome) -> None:
    from iceberg_daq_spark.registry import all_queries
    from tests.oracle_harness import compare, duckdb_connect

    spark, d, tr, counters = ctx.spark, inputs["dir"], ctx.tracer, ctx.counters
    cfg = SPEC["query_mix"]
    specs = all_queries()
    names = list(cfg["queries"])
    out.info = {"queries": len(names), "rows": inputs["rows"]}
    rng = random.Random(ctx.seed)
    order = names[:]

    # warm-up, outside every metric: one collected run per query,
    # checked against its DuckDB oracle
    t_warm = time.perf_counter()
    con = duckdb_connect(d)
    rng.shuffle(order)
    for name in order:
        try:
            ok, msg = compare(specs[name].fn(spark, d), con, specs[name].oracle)
        except Exception as exc:  # noqa: BLE001 - counted, run continues
            ok, msg = False, repr(exc)[:300]
        out.check(ok, f"{name}: {msg}")
        spark.catalog.clearCache()
    con.close()
    out.info["warmup_s"] = time.perf_counter() - t_warm

    def one_pass(_i: int) -> dict[str, tuple]:
        """name -> (build s, action s, (build jobs, action jobs, action tasks))"""
        rng.shuffle(order)
        rec = {}
        for name in order:
            try:
                g_build = counters.new_group() if counters else None
                with tr.span("queries.fn", query=name) as s_build:
                    df = specs[name].fn(spark, d)
                g_exec = counters.new_group() if counters else None
                with tr.span("queries.action", query=name) as s_exec:
                    noop(df)
                jobs = None
                if counters:
                    ej = counters.jobs(g_exec)
                    jobs = (len(counters.jobs(g_build)), len(ej), counters.tasks(ej))
                rec[name] = (s_build.duration, s_exec.duration, jobs)
                out.check(True, name)
            except Exception as exc:  # noqa: BLE001 - counted, run continues
                out.check(False, f"{name}: {exc!r}"[:300])
            spark.catalog.clearCache()
        return rec

    passes = measure(ctx, out, cfg["nominal_pass_s"], one_pass)
    runs = {n: [p[n] for p in passes if n in p] for n in names}
    med = {n: statistics.median(b + e for b, e, _ in r) for n, r in runs.items() if r}
    per_query = list(med.values())
    pass_s = sum(per_query)
    out.layers.update(wall_layers(pass_s, len(per_query), per_query))
    out.named = {
        "query_mix_s": pass_s,
        "query_p50_s": out.layers["wall.op_p50_s"],
        "query_p90_s": out.layers["wall.op_p90_s"],
    }
    out.info["pass_sums_s"] = [sum(b + e for b, e, _ in p.values()) for p in passes]
    out.info["query_s"] = med
    if ctx.trace:
        last = [r[-1][2] for r in runs.values() if r]
        out.layers.update(
            {
                "queries.build_s": sum(statistics.median(b for b, _, _ in r) for r in runs.values() if r),
                "queries.exec_s": sum(statistics.median(e for _, e, _ in r) for r in runs.values() if r),
                "queries.build_jobs": sum(j[0] for j in last),
                "queries.exec_jobs": sum(j[1] for j in last),
                "queries.exec_tasks": sum(j[2] for j in last),
            }
        )
        # the catalog and dropbox of the last ETL call (q37's); each of
        # its passes ends in one fast-append commit
        from iceberg_daq_spark.tablestore import MergeTable

        etl_span = [s for s in tr.spans if s.name == "etl.metadata_etl"][-1]
        passes = sum(1 for s in tr.spans if s.name == "tablestore.append" and s.parent == etl_span.id)
        catalog = MergeTable(etl_span.attrs["table"], key_cols=("file_name",))
        _, read_jobs = counters.count_jobs(lambda: catalog.read(spark))
        out.layers.update(table_layers(catalog, read_jobs))
        out.layers.update(etl_layers(ctx, etl_span.attrs["dropbox"], passes))


# --------------------------------------------------------------- daq_stream


def daq_stream_setup(ctx: Ctx) -> dict:
    from iceberg_daq_spark.streaming.emulator import write_frame_chunks

    cfg = SPEC["daq_stream"]
    d = ctx.path("daq_stream", "frames")
    write_frame_chunks(
        ctx.spark,
        d,
        n_frames=cfg["frames_per_stream"],
        src_ids=list(range(cfg["streams"])),
        n_chunks=cfg["chunks"],
        seed=ctx.seed,
        ticks_per_frame=cfg["ticks_per_frame"],
    )
    return {"dir": d}


def _progress_field(p, *keys, default=0):
    cur = p
    for k in keys:
        try:
            cur = cur[k]
        except (KeyError, IndexError, TypeError):
            return default
        if cur is None:
            return default
    return cur


def daq_stream_run(ctx: Ctx, inputs: dict, out: Outcome) -> None:
    from pyspark.sql import functions as F

    from iceberg_daq_spark.streaming import plan
    from iceberg_daq_spark.streaming.pipeline import WATERMARK, ta_stream
    from iceberg_daq_spark.tablestore import MergeTable, run_stream_to_table

    spark, d, tr = ctx.spark, inputs["dir"], ctx.tracer
    cfg = SPEC["daq_stream"]
    frames = spark.read.parquet(d)
    n_frames, max_ts = frames.agg(F.count("*"), F.max("ts")).first()
    n_chunks = len([f for f in os.listdir(d) if f.endswith(".parquet")])
    out.info = {"frames": n_frames, "chunks": n_chunks, "streams": cfg["streams"]}

    # expected sink: the batch twin minus the windows the watermark
    # cannot flush before the backlog ends (the soak_stream check)
    twin = plan.ta_windows(plan.decode_hits(frames))
    wm_ms = int(WATERMARK.split()[0])
    flushed = twin.filter(
        F.col("window_end") <= F.expr(f"timestamp'{max_ts}' - interval {wm_ms} milliseconds")
    )
    cols = twin.columns
    expected = Counter(tuple(r) for r in flushed.collect())
    out.info["expected_rows"] = sum(expected.values())

    def drain(i: int) -> tuple[float, list, str]:
        base = ctx.path("daq_stream", f"drain{i}")
        shutil.rmtree(base, ignore_errors=True)
        table = MergeTable(os.path.join(base, "sink"), key_cols=("src_id", "window_start"))
        tas = ta_stream(spark, d, max_files_per_trigger=1)
        with tr.span("streaming.run") as s:
            q = run_stream_to_table(
                tas, table, os.path.join(base, "ckpt"),
                available_now=True, compact_every=cfg["compact_every"],
            )
        if ctx.trace:
            sink, read_jobs = ctx.counters.count_jobs(lambda: table.read(spark))
        else:
            sink = table.read(spark)
        got = Counter(tuple(r) for r in sink.select(*cols).collect())
        # multiset equality == exceptAll is empty in both directions
        missing = sum((expected - got).values())
        extra = sum((got - expected).values())
        out.check(missing == 0 and extra == 0,
                  f"drain {i}: {missing} twin rows missing, {extra} extra rows")
        progress = [p for p in (q.recentProgress or []) if p]
        if ctx.trace:
            sink_layers.update(table_layers(table, read_jobs))
        shutil.rmtree(base, ignore_errors=True)
        return s.duration, progress, str(q.runId)

    sink_layers: dict[str, float] = {}  # the sink of the last drain

    # warm-up (JIT, Python workers, state store, MERGE and compaction):
    # one drain exactly like the measured ones, checked like them
    drain(0)

    results = measure(ctx, out, cfg["nominal_drain_s"], drain)
    drains = [r[0] for r in results]
    batches = [p for r in results for p in r[1] if _progress_field(p, "numInputRows") > 0]
    batch_s = [_progress_field(p, "batchDuration") / 1000.0 for p in batches]
    for _ in batch_s:
        out.check(True, "micro-batch")
    pass_s = statistics.median(drains)
    out.layers.update(wall_layers(pass_s, n_frames, batch_s))
    out.named = {
        "ingest_frames_per_s": out.layers["wall.items_per_s"],
        "microbatch_p50_s": out.layers["wall.op_p50_s"],
        "microbatch_p90_s": out.layers["wall.op_p90_s"],
    }
    out.info.update(drains=len(drains), drain_s=drains, batch_s=batch_s)
    if not ctx.trace:
        return

    # progress-event totals per drain
    def per_drain(*keys):
        return sum(_progress_field(p, *keys) for p in batches) / len(results)

    def state_ops(p) -> list:
        return _progress_field(p, "stateOperators", default=[])

    def state_max(key):
        return max((sum(_progress_field(op, key) for op in state_ops(p)) for p in batches), default=0)

    n_tasks = sum(ctx.counters.tasks(ctx.counters.jobs(r[2])) for r in results)
    out.layers.update(sink_layers)
    out.layers.update(
        {
            "stream.add_batch_ms": per_drain("durationMs", "addBatch"),
            "stream.query_planning_ms": per_drain("durationMs", "queryPlanning"),
            "stream.wal_commit_ms": per_drain("durationMs", "walCommit"),
            "stream.latest_offset_ms": per_drain("durationMs", "latestOffset"),
            "stream.tasks": n_tasks / len(results),
            "stream.state_rows_max": state_max("numRowsTotal"),
            "stream.state_bytes_max": state_max("memoryUsedBytes"),
            "stream.rows_dropped_by_watermark": sum(
                _progress_field(op, "numRowsDroppedByWatermark")
                for p in batches
                for op in state_ops(p)
            ) / len(results),
        }
    )

    # marginal batch-twin timings over the same frames
    hits = plan.decode_hits(frames)
    with tr.span("plan.decode_hits") as s_dec:
        noop(hits)
    with tr.span("plan.ta_windows") as s_ta:
        noop(plan.ta_windows(plan.decode_hits(frames)))
    out.layers.update(
        {
            "plan.decode_hits_s": s_dec.duration,
            "plan.ta_windows_s": max(s_ta.duration - s_dec.duration, 0.0),
            "plan.hits": hits.count(),
        }
    )


# -------------------------------------------------------------- catalog_etl


def catalog_etl_setup(ctx: Ctx) -> dict:
    from iceberg_daq_spark.etl import build_dropbox

    cfg = SPEC["catalog_etl"]
    src = ctx.path("catalog_etl", "src")
    rows = datagen.write(src, cfg["sf"], ctx.seed, names=("events",))
    dropbox = ctx.path("catalog_etl", "dropbox")
    build_dropbox(ctx.spark, src, dropbox)
    return {"src": src, "dropbox": dropbox, "rows": rows}


def catalog_etl_run(ctx: Ctx, inputs: dict, out: Outcome) -> None:
    import duckdb

    from iceberg_daq_spark import etl
    from iceberg_daq_spark.registry import all_queries
    from iceberg_daq_spark.tablestore import MergeTable
    from tests.oracle_harness import canon_rows

    spark, tr = ctx.spark, ctx.tracer
    cfg = SPEC["catalog_etl"]
    limit = cfg["batch_limit"]
    dropbox = inputs["dropbox"]

    # the catalog must equal q37's oracle at this batch limit
    q37 = all_queries()["q37_metadata_etl_e2e"].oracle
    sql = q37.replace("(rk - 1) / 1024", f"(rk - 1) / {limit}")
    if sql == q37:
        raise ValueError("q37 oracle no longer carries its pass_id batch size")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{os.path.join(inputs['src'], 'events.parquet')}')"
    )
    res = con.execute(sql)
    o_cols = [c[0].lower() for c in res.description]
    o_rows = res.fetchall()
    con.close()
    expected = canon_rows(o_cols, o_rows)
    by_name = {r[o_cols.index("file_name")]: r for r in o_rows}
    n_files = len(o_rows)
    lookups = random.Random(ctx.seed).sample(sorted(by_name), cfg["lookups"])
    out.info = {"files": n_files, "events": inputs["rows"]["events"],
                 "batch_limit": limit, "lookups": cfg["lookups"]}

    def cycle(i: int) -> dict:
        path = ctx.path("catalog_etl", f"catalog{i}")
        shutil.rmtree(path, ignore_errors=True)
        catalog = MergeTable(path, key_cols=("file_name",))
        with tr.span("catalog.drain") as s_drain:
            cat_df, passes = etl.metadata_etl(spark, dropbox, catalog, batch_limit=limit)
        got = [tuple(r) for r in cat_df.collect()]
        out.check(canon_rows(cat_df.columns, got) == expected,
                  f"cycle {i}: catalog differs from the q37 oracle")
        lookup_s, read_jobs = [], []
        for name in lookups:
            with tr.span("catalog.lookup") as s_look:
                if ctx.trace:
                    df, jobs = ctx.counters.count_jobs(
                        lambda: catalog.read(spark, where=f"file_name = '{name}'"))
                    read_jobs.append(jobs)
                else:
                    df = catalog.read(spark, where=f"file_name = '{name}'")
                rows = df.collect()
            lookup_s.append(s_look.duration)
            ok = len(rows) == 1 and canon_rows(df.columns, [tuple(rows[0])]) == canon_rows(
                o_cols, [by_name[name]]
            )
            out.check(ok, f"lookup {name}: {len(rows)} rows")
        with tr.span("catalog.rerun") as s_rerun:
            cat2, passes2 = etl.metadata_etl(spark, dropbox, catalog, batch_limit=limit)
        new_rows = cat2.count() - n_files
        out.check(new_rows == 0 and passes2 == 0, f"cycle {i}: rerun added {new_rows} rows")
        layers = table_layers(catalog, statistics.median(read_jobs)) if ctx.trace else {}
        shutil.rmtree(path, ignore_errors=True)
        return {
            "drain_s": s_drain.duration,
            "passes": passes,
            "appends": tr.durations("etl.pass", s_drain.start),
            "lookup_s": lookup_s,
            "rerun_s": s_rerun.duration,
            "layers": layers,
        }

    # an ETL pass ends in the fast-append commit that runs its aggregation
    with wrap_attr(tr, MergeTable, "append", "etl.pass"):
        cycle(0)  # warm-up: the cold drain is far slower than the warm one
        cycles = measure(ctx, out, cfg["nominal_cycle_s"], cycle)

    drains = [c["drain_s"] for c in cycles]
    appends = [a for c in cycles for a in c["appends"]]
    lookup_s = [x for c in cycles for x in c["lookup_s"]]
    pass_s = statistics.median(drains)
    out.layers.update(wall_layers(pass_s, n_files, appends))
    out.named = {
        "etl_files_per_s": out.layers["wall.items_per_s"],
        "etl_pass_p50_s": out.layers["wall.op_p50_s"],
        "lookup_p50_s": statistics.median(lookup_s),
        "rerun_s": statistics.median(c["rerun_s"] for c in cycles),
    }
    out.info.update(cycles=len(cycles), drain_s=drains, passes=cycles[-1]["passes"])
    if not ctx.trace:
        return
    out.layers.update(cycles[-1]["layers"])
    out.layers.update(etl_layers(ctx, dropbox, cycles[-1]["passes"]))


WORKLOADS = {
    "query_mix": (query_mix_setup, query_mix_run),
    "daq_stream": (daq_stream_setup, daq_stream_run),
    "catalog_etl": (catalog_etl_setup, catalog_etl_run),
}
