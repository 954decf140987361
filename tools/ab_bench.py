#!/usr/bin/env python
"""Interleaved paired A/B benchmark (the round-13 protocol): variants
alternate inside ONE session, one execution each per round, so host
drift cancels in the pairing; report per-round pairs and the min per
variant.  Each execution is one ``bench.run_query``: the noop sink, with
the DataFrame cache cleared after it, exactly like bench.py.

Usage:
    python tools/ab_bench.py ROUNDS label_a=mod.path:fn label_b=mod.path:fn ...

Each callable takes (spark, sf_dir) -> DataFrame.  Data dir comes from
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), master from
$SPARK_GRAFT_CPUS - the bench contract.
"""

from __future__ import annotations

import importlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SparkCounters, run_query, wall  # noqa: E402
from iceberg_daq_spark.session import get_spark  # noqa: E402


def resolve(spec: str):
    label, ref = spec.split("=", 1)
    mod, fn = ref.split(":")
    return label, getattr(importlib.import_module(mod), fn)


def main() -> None:
    rounds = int(sys.argv[1])
    variants = [resolve(s) for s in sys.argv[2:]]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ab_bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm JVM + parquet footers once, outside timing (bench.py protocol)
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    counters = SparkCounters(spark)
    times: dict[str, list[float]] = {lab: [] for lab, _ in variants}
    for r in range(rounds):
        for label, fn in variants:
            times[label].append(wall(run_query(spark, counters, lambda: fn(spark, sf_dir))))
        print(
            f"round {r}: "
            + "  ".join(f"{lab}={times[lab][-1]:.3f}s" for lab, _ in variants),
            flush=True,
        )
    print("---")
    for lab, _ in variants:
        print(f"{lab}: min={min(times[lab]):.3f}s  all={[round(t, 3) for t in times[lab]]}")


if __name__ == "__main__":
    main()
