#!/usr/bin/env python3
"""Benchmark of the three surfaces users touch: ``query_mix`` (batch
analytics), ``daq_stream`` (streaming ingest into a MERGE sink) and
``catalog_etl`` (the file-metadata catalog).

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run it from anywhere; it finds the package one directory up.  Inputs are
generated from ``--seed`` under ``.perfbench/`` at the checkout root, and
nothing is read or written outside the checkout.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` adds spans around the benchmark's calls into each module
and prints the per-layer metrics.  Every run also prints, before the
result line, each workload's metrics under their descriptive names
with units, and the host state (cores, steal, load), and writes the
full record (and, when traced, the spans) to ``.perfbench/results/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Any wrong
output or error makes ``correct`` false and the exit code 1.  Without
the package next to ``perfbench/`` the command exits 2 and prints no
result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import ExitStack

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_HEAP = "1g"
WORKLOAD_NAMES = ("query_mix", "daq_stream", "catalog_etl")


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def load_spec() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- host state


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """user nice system idle iowait irq softirq steal, summed over CPUs."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    total = sum(after) - sum(before)
    return 100.0 * (after[7] - before[7]) / total if total > 0 else 0.0


def vm_hwm_kb(pid: int | str = "self") -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


# ------------------------------------------------------------------ results


def _values(group: list[dict], outcome: dict | None, key: str, prefix: str = "") -> dict:
    """``{prefix+name: {value, unit}}`` for every metric of ``group``.
    Every metric of a workload that failed to finish reads null."""
    ok = outcome is not None and not outcome["crashed"]
    return {
        prefix + m["name"]: {
            "value": outcome[key].get(m["name"]) if ok else None,
            "unit": m["unit"],
        }
        for m in group
    }


def result_line(contract: dict, trace: bool, outcomes: dict, crashed: bool,
                spec: dict | None = None) -> dict:
    """The last line of output.  With one workload its metrics are the
    contract's traced or untraced set; with ``all`` they are every
    workload's descriptive metrics (or per-layer ones), prefixed by the
    workload.  Every metric is named with its unit even when a workload
    failed; ``correct`` is then false, as it is when any metric is
    missing."""
    key = "layers" if trace else "e2e"
    if spec is None:
        (outcome,) = outcomes.values() if outcomes else (None,)
        metrics = _values(contract["per_layer" if trace else "end_to_end"], outcome, key)
    else:
        metrics = {}
        for w in WORKLOAD_NAMES:
            group = contract["per_layer"] if trace else [
                {"name": n, "unit": u} for n, u in named_units(spec, w).items()
            ]
            metrics.update(_values(group, outcomes.get(w), key if trace else "named", f"{w}."))
    attempted = sum(o["attempted"] for o in outcomes.values())
    failed = sum(o["failed"] for o in outcomes.values())
    complete = all(m["value"] is not None for m in metrics.values())
    return {
        "correct": not crashed and complete and attempted > 0 and failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": metrics,
    }


def named_units(spec: dict, workload: str) -> dict[str, str]:
    return {**spec["named_metrics"]["all"], **spec["named_metrics"][workload]}


def report_lines(spec: dict, outcomes: dict) -> list[str]:
    lines = []
    for w, o in outcomes.items():
        h = o["host"]
        lines.append(
            f"# {w} host: cpus={h['cpus']} steal_pct={h['steal_pct']:.2f} "
            f"loadavg_start={h['loadavg_start']:.2f}"
        )
        for name, unit in named_units(spec, w).items():
            v = o["named"].get(name) if not o["crashed"] else None
            shown = "n/a" if v is None else f"{v:.6g}"
            lines.append(f"# {w} {name} = {shown} {unit}")
        for err in o["errors"][:5]:
            lines.append(f"# {w} error: {err}")
    return lines


# ------------------------------------------------------------------ running


def prepare_env(cpus: int) -> None:
    """Inputs, temp files and Spark's scratch space live under WORK; Python
    workers import the package from ROOT whatever the working directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_spark(cpus: int):
    from iceberg_daq_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # a fixed-size heap: peak RSS then tracks the footprint, not
            # when the collector happened to grow the heap
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP}",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_workload(name: str, spark, args, cpus: int, session_s: float,
                 layer_names: list[str]) -> dict:
    import workloads
    from spans import Tracer

    tracer = Tracer()
    counters = workloads.SparkCounters(spark) if args.trace else None
    ctx = workloads.Ctx(spark, os.path.join(WORK, "run"), args.seed, args.seconds,
                        tracer, counters, cpus)
    out = workloads.Outcome()
    host0, load0 = cpu_times(), os.getloadavg()[0]
    crashed = False
    setup_run_s = None
    try:
        with workloads.boundaries(tracer) if args.trace else ExitStack():
            shutil.rmtree(ctx.path(name), ignore_errors=True)
            setup_fn, run_fn = workloads.WORKLOADS[name]
            t0 = time.perf_counter()
            inputs = setup_fn(ctx)
            setup_run_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            run_fn(ctx, inputs, out)
            out.info["run_phase_s"] = time.perf_counter() - t0
    except Exception:  # noqa: BLE001 - the result must still name every metric
        crashed = True
        out.attempted += 1
        out.failed += 1
        out.errors.append(traceback.format_exc(limit=4).strip().replace("\n", " | ")[-600:])
        traceback.print_exc()
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    peak_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb()) / 1024.0
    host = {
        "cpus": cpus,
        "steal_pct": steal_pct(host0, cpu_times()),
        "loadavg_start": load0,
    }
    setup_s = session_s + setup_run_s if setup_run_s is not None else None
    e2e = dict(out.e2e, setup_s=setup_s, peak_rss_mb=peak_mb)
    named = dict(out.named, setup_s=setup_s, peak_rss_mb=peak_mb, cpu_s=out.e2e.get("cpu_s"),
                 failed_ratio=out.failed / max(out.attempted, 1))
    layers = dict(out.layers)
    layers.update({f"host.{k}": v for k, v in host.items()})
    layers["session.start_s"] = session_s
    if args.trace and not crashed:
        workloads.fill_unreached(name, layer_names, layers)
    return {
        "crashed": crashed,
        "attempted": out.attempted,
        "failed": out.failed,
        "errors": out.errors,
        "e2e": e2e,
        "named": named,
        "layers": layers,
        "info": out.info,
        "host": host,
        "setup_run_s": setup_run_s,
        "tracer": tracer,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [
        p for p in ("iceberg_daq_spark/__init__.py", "tests/oracle_harness.py", "BENCHMARK.json")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: not inside the project checkout (missing {missing})", file=sys.stderr)
        return 2

    contract, spec = load_contract(), load_spec()
    cpus = cpu_count()
    prepare_env(cpus)
    names = list(WORKLOAD_NAMES) if args.workload == "all" else [args.workload]
    outcomes: dict[str, dict] = {}
    crashed = False
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(cpus)
        session_s = time.perf_counter() - t0
        for w in names:
            outcomes[w] = run_workload(w, spark, args, cpus, session_s,
                                       [m["name"] for m in contract["per_layer"]])
    except Exception:  # noqa: BLE001 - report what was measured, then fail
        crashed = True
        traceback.print_exc()
    finally:
        if spark is not None:
            stop_spark(spark)

    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    for w, o in outcomes.items():
        tracer = o.pop("tracer")
        if args.trace:
            tracer.dump(os.path.join(results, f"spans-{w}-seed{args.seed}.json"))
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump({"args": vars(args), "workloads": outcomes}, fh, indent=1, default=str)

    for line in report_lines(spec, outcomes):
        print(line)
    line = result_line(contract, bool(args.trace), outcomes, crashed,
                       spec if args.workload == "all" else None)
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
