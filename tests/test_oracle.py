"""Differential tests: every registered query with an oracle must match
DuckDB on the same parquet tables (the driver's t2 gate, run locally at
sf0.001 for speed; the driver runs sf0.01)."""

from __future__ import annotations

import pytest

from iceberg_daq_spark.registry import all_queries
from tests.oracle_harness import compare, duckdb_connect

SPECS = all_queries()
ORACLE_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is not None)
ROWS_ONLY_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is None)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connect(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(spark, sf_dir, con, name):
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    ok, msg = compare(df, con, spec.oracle)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_runs(spark, sf_dir, name):
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    n = df.count()
    assert n >= 0
    assert len(df.columns) > 0
