"""Second-dataset differential pass: every oracle-backed query must
ALSO match DuckDB on a deterministically perturbed copy of the sf0.001
tables (every 7th row dropped, per table).  Both engines read the same
perturbed files, so a query that merely memorized the driver fixture's
values - a hardcoded count, a result fitted to specific rows - fails
here while the honest implementation keeps matching.  This is the
robustness check a second generator seed would give, built from the
driver's own data because the generator lives driver-side.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_daq_spark.registry import all_queries
from tests.oracle_harness import compare, duckdb_connect

SPECS = all_queries()
ORACLE_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is not None)

_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def alt_sf_dir(sf_dir, tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("alt_sf"))
    for t in _TABLES:
        tbl = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        keep = pa.array([i for i in range(tbl.num_rows) if i % 7 != 3])
        pq.write_table(tbl.take(keep), os.path.join(out, f"{t}.parquet"))
    return out


@pytest.fixture(scope="module")
def alt_con(alt_sf_dir):
    c = duckdb_connect(alt_sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match_perturbed(spark, alt_sf_dir, alt_con, name):
    spec = SPECS[name]
    df = spec.fn(spark, alt_sf_dir)
    ok, msg = compare(df, alt_con, spec.oracle)
    assert ok, f"{name} (perturbed dataset): {msg}"
