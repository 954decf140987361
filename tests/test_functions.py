"""Tick/timestamp conversions (SURVEY section 4.3): Column API and SQL
UDF forms agree, round-trip exactly on whole-us ticks, and the SQL form
inlines into codegen (no python UDF node)."""

from __future__ import annotations

from pyspark.sql import functions as F

from iceberg_daq_spark.functions import (
    register_sql_functions,
    ticks_to_ts,
    ts_to_ticks,
)
from tests.plan_shape import plan_of

# whole-us tick values around the emulator epoch + odd sub-us stragglers
TICKS = [0, 125, 62_500, 106_250_000_000_000, 106_250_000_012_500, 63, 187]


def test_column_and_sql_forms_agree(spark):
    register_sql_functions(spark)
    df = spark.createDataFrame([(t,) for t in TICKS], "t long")
    df.createOrReplaceTempView("tick_vals")
    col_rows = df.select(
        "t",
        ticks_to_ts(F.col("t")).alias("ts"),
        ts_to_ticks(ticks_to_ts(F.col("t"))).alias("back"),
    ).collect()
    sql_rows = spark.sql(
        "SELECT t, ticks_to_ts(t) AS ts, ts_to_ticks(ticks_to_ts(t)) AS back "
        "FROM tick_vals"
    ).collect()
    assert sorted(map(tuple, col_rows)) == sorted(map(tuple, sql_rows))
    for r in col_rows:
        if r["t"] % 125 == 0:  # whole-us ticks round-trip exactly
            assert r["back"] == r["t"], r
        else:  # sub-us ticks truncate down to the us boundary
            assert r["back"] <= r["t"] and r["t"] - r["back"] <= 62, r


def test_sql_form_stays_in_codegen(spark):
    """The SQL UDF must be inlined by Catalyst - the plan contains no
    python-eval node, and literal inputs constant-fold away."""
    register_sql_functions(spark)
    plan = plan_of(spark.sql("SELECT ticks_to_ts(id * 62500) AS ts FROM range(10)"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # formatted explain marks codegen'd operators with a leading '*',
    # and the UDF body must appear inlined as the div expression
    assert "* Project" in plan and "div 125" in plan


def test_text_sql_functions_match_column_api(spark, sf_dir):
    """The SQL-facade text functions must equal the Column builders
    row for row (same stopword list, same formulas), and stay
    declarative - no PythonUDF node in the plan."""
    from iceberg_daq_spark.functions import register_text_sql_functions
    from iceberg_daq_spark.operators import text as T
    from iceberg_daq_spark.tables import load

    register_text_sql_functions(spark)
    d = load(spark, sf_dir, "documents")
    d.createOrReplaceTempView("docs_sqlfn")
    via_sql = spark.sql(
        "SELECT doc_id, round(stop_ratio(text), 4) AS sr, langid(text) AS lid, "
        "quality_score(text) AS q, flesch(text) AS fl FROM docs_sqlfn ORDER BY doc_id"
    ).collect()
    w = T.words(F.col("text"))
    via_col = (
        d.select(
            "doc_id",
            F.round(T.stopword_ratio(w), 4).alias("sr"),
            T.langid(w).alias("lid"),
            T.quality_score(F.col("text"), w).alias("q"),
            F.round(
                F.lit(206.835)
                - F.lit(1.015)
                * F.size(w)
                / F.greatest(F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1))
                - F.lit(84.6)
                * F.greatest(
                    F.regexp_count(F.col("text"), F.lit(r"[aeiou]+")), F.lit(1)
                )
                / F.size(w),
                2,
            ).alias("fl"),
        )
        .orderBy("doc_id")
        .collect()
    )
    assert [tuple(r) for r in via_sql] == [tuple(r) for r in via_col]
    plan = spark.sql(
        "SELECT quality_score(text) FROM docs_sqlfn"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def _load_script(name: str):
    """The repo-root script ``name``.py as a module."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        name, os.path.join(os.path.dirname(__file__), "..", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_regression_tripwire():
    """The per-query >2x tripwire fires on a real slowdown, skips
    noise-band priors (<50 ms), new queries, and improvements - and
    compares nothing against a record from another (or an unstated)
    core count."""
    bench = _load_script("bench")

    queries = {"q_slow": 1.0, "q_noise": 0.01, "q_fast": 2.0, "q_same": 0.5}
    now = {"q_slow": 2.5, "q_noise": 0.4, "q_fast": 0.3, "q_same": 0.6, "q_new": 9.0}
    got = bench.find_regressions({"cpus": 8, "queries": queries}, now, cpus=8)
    assert got == {"q_slow": [1.0, 2.5]}
    assert bench.find_regressions({"cpus": 8, "queries": queries}, now, cpus=32) == {}
    assert bench.find_regressions({"queries": queries}, now, cpus=8) == {}


def test_run_query_splits_build_and_exec(spark):
    """bench.run_query, the one timed run of every harness: a lazy
    build launches no job and the noop action at least one; peak_rows
    is the most rows any plan node output (the range, ahead of its
    filter); an eager count() inside the build is one build job (one
    partition, so no shuffle: under AQE the count of a multi-partition
    frame runs its shuffle stage as a job of its own)."""
    bench = _load_script("bench")
    counters = bench.SparkCounters(spark)

    lazy = bench.run_query(spark, counters, lambda: spark.range(1000).filter("id % 3 = 0"))
    assert lazy["build_jobs"] == 0 and lazy["exec_jobs"] >= 1
    assert lazy["peak_rows"] == 1000
    assert lazy["build_s"] >= 0 and lazy["exec_s"] > 0

    def eager():
        df = spark.range(0, 1000, 1, 1).filter("id % 3 = 0")
        assert df.count() == 334
        return df

    assert bench.run_query(spark, counters, eager)["build_jobs"] == 1


def test_stress_gate_scope():
    """The MAX_RATIO gate: a BY_DESIGN cell never fails; growth excuses
    an OUTPUT_BOUND cell whose ratio is within its rows_growth, and no
    other cell."""
    stress = _load_script("stress_bench")
    over = {"ratio": stress.MAX_RATIO + 10, "rows_growth": 100.0}
    by_design = next(iter(stress.BY_DESIGN))
    output_bound = next(iter(stress.OUTPUT_BOUND))
    assert stress.superlinear({by_design: dict(over, rows_growth=1.0)}) == []
    assert stress.superlinear({output_bound: over}) == []
    assert stress.superlinear({output_bound: dict(over, rows_growth=10.0)}) == [output_bound]
    assert stress.superlinear({"q41_dedup_ngram_jaccard": over}) == ["q41_dedup_ngram_jaccard"]
    assert stress.superlinear({"q41_dedup_ngram_jaccard": dict(over, ratio=4.0)}) == []


def test_stress_cell_records_cpus():
    """Every stress cell names the core count it was timed on, so cells
    a STRESS_ONLY re-measure merges beside earlier ones stay apart."""
    stress = _load_script("stress_bench")
    run = {"build_s": 0.1, "exec_s": 0.9, "peak_rows": 10}
    cell = stress.stress_cell([[run, dict(run, exec_s=1.9, peak_rows=100)]], "screen", 4)
    assert cell["cpus"] == 4
    assert cell["ratio"] == 2.0 and cell["rows_growth"] == 10.0


def test_bench_emit_line_keeps_per_query_timings():
    """A full suite with a long regression list (r14: 262 queries, 59
    regressions) still emits per-query timings inside the tail window:
    the regression list shrinks before any timing does."""
    import json

    bench = _load_script("bench")
    queries = {f"q{i:03d}_some_query_family_name": 1.0 + i / 1000 for i in range(1, 263)}
    regressions = {n: [0.5 + i / 100, 1.0 + i / 10] for i, n in enumerate(list(queries)[:60])}
    out = {
        "metric": "query_suite_wall_clock",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "cpus": 32,
        "streaming": {"frames": 3840000, "frames_per_sec": 2000000},
        "regressions": regressions,
    }
    line = bench.emit_line(out)
    assert len(line) <= bench._TAIL_WINDOW
    got = json.loads(line)
    assert got["queries"], "per-query timings must survive"
    assert got["value"] == out["value"]

    # a small suite keeps every timing at full precision; only the
    # regression list gives way, top ratios first
    small = dict(out, queries=dict(list(queries.items())[:20]))
    got = json.loads(bench.emit_line(small))
    assert got["queries"] == small["queries"]
    assert len(got.get("regressions", {})) <= 10
    assert got["regressions_elided"] == 60 - len(got.get("regressions", {}))
