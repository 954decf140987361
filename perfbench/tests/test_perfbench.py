"""Self-tests of the benchmark harness (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import run  # noqa: E402
import workloads  # noqa: E402
from spans import Span, Tracer, self_times, wrap_attr  # noqa: E402


def _outcome(crashed: bool) -> dict:
    return {
        "crashed": crashed,
        "attempted": 3,
        "failed": 1 if crashed else 0,
        "errors": ["boom"] if crashed else [],
        "e2e": {} if crashed else {"setup_s": 1.0, "pass_s": 2.0},
        "named": {} if crashed else {"setup_s": 1.0, "query_mix_s": 2.0},
        "layers": {} if crashed else {"session.start_s": 0.5},
        "info": {},
        "host": {"cpus": 4, "steal_pct": 0.0, "loadavg_start": 0.1},
    }


@pytest.mark.parametrize("trace", [False, True])
def test_failed_workload_still_names_every_metric_with_unit(trace):
    contract = run.load_contract()
    line = run.result_line(contract, trace, {"daq_stream": _outcome(True)}, crashed=False)
    group = contract["per_layer"] if trace else contract["end_to_end"]
    assert line["metrics"] == {
        m["name"]: {"value": None, "unit": m["unit"]} for m in group
    }
    assert line["correct"] is False and line["failed"] >= 1 and line["attempted"] >= 1
    assert set(line) == {"correct", "attempted", "failed", "metrics"}


def test_unreached_layer_reads_zero_and_a_missing_metric_fails_the_run():
    contract = run.load_contract()
    names = [m["name"] for m in contract["per_layer"]]
    outcome = _outcome(False)
    workloads.fill_unreached("query_mix", names, outcome["layers"])
    assert outcome["layers"]["stream.add_batch_ms"] == 0
    assert outcome["layers"]["plan.decode_hits_s"] == 0
    line = run.result_line(contract, True, {"query_mix": outcome}, crashed=False)
    assert line["metrics"]["session.start_s"] == {"value": 0.5, "unit": "s"}
    # query_mix reaches the tablestore (through q37): unset, it is missing
    assert line["metrics"]["tablestore.data_dirs"]["value"] is None
    assert line["correct"] is False
    outcome["layers"].update({n: 1.0 for n in names if n not in outcome["layers"]})
    line = run.result_line(contract, True, {"query_mix": outcome}, crashed=False)
    assert all(isinstance(m["value"], (int, float)) for m in line["metrics"].values())
    assert line["correct"] is True


def test_all_workloads_line_names_every_metric_when_one_fails():
    contract, spec = run.load_contract(), run.load_spec()
    outcomes = {"query_mix": _outcome(False), "daq_stream": _outcome(True)}
    line = run.result_line(contract, False, outcomes, crashed=False, spec=spec)
    want = {
        f"{w}.{name}": unit
        for w in run.WORKLOAD_NAMES
        for name, unit in run.named_units(spec, w).items()
    }
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    assert line["metrics"]["query_mix.query_mix_s"]["value"] == 2.0
    assert line["metrics"]["daq_stream.ingest_frames_per_s"]["value"] is None
    assert line["metrics"]["catalog_etl.lookup_p50_s"]["value"] is None
    assert line["correct"] is False
    # the human-readable report names them too, failed workload included
    text = "\n".join(run.report_lines(spec, outcomes))
    assert "daq_stream microbatch_p90_s = n/a s" in text


def test_tree_cpu_counts_this_process():
    before = workloads.tree_cpu_s()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    after = workloads.tree_cpu_s()
    assert set(after) == {"jvm", "python"}
    assert after["python"] - before["python"] >= 0.2
    assert after["jvm"] == before["jvm"]  # no JVM under this process


def test_self_time_is_parent_minus_children():
    spans = [
        Span(0, "root", 0.0, 10.0, None),
        Span(1, "a", 1.0, 3.0, 0),
        Span(2, "b", 4.0, 7.0, 0),
        Span(3, "b.child", 5.0, 6.5, 2),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - (2.0 + 3.0))
    assert own[2] == pytest.approx(3.0 - 1.5)
    assert own[1] == pytest.approx(2.0)
    assert own[3] == pytest.approx(1.5)
    # every instant of the root is counted exactly once across the tree
    assert sum(own.values()) == pytest.approx(10.0)


def test_overlapping_children_count_once():
    spans = [
        Span(0, "root", 0.0, 10.0, None),
        Span(1, "x", 2.0, 6.0, 0),
        Span(2, "y", 4.0, 8.0, 0),
        Span(3, "z", 9.0, 12.0, 0),  # clipped at the parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tracer_nests_and_wraps():
    tr = Tracer()

    class Box:
        def work(self):
            return 7

    with tr.span("outer"):
        with wrap_attr(tr, Box, "work", "box.work"):
            assert Box().work() == 7
    assert Box.work.__name__ == "work" and tr.totals("box.work")[0] == 1
    outer, inner = tr.spans
    assert inner.parent == outer.id and outer.parent is None


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    for line in proc.stdout.splitlines():
        with pytest.raises(ValueError):
            json.loads(line)
