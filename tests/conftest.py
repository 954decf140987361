from __future__ import annotations

import os

import pytest

from iceberg_daq_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The test corpus is sf0.001 (hundreds of KB): wall time per test is
# dominated by the task-scheduling floor, not compute, and the round-13
# driver measurement showed 8 cores >= 32 cores on EVERY query even at
# sf0.1 (BENCH_r13_c8.json).  Tests therefore run on a small local
# master by default - this is the test harness only; bench.py keeps the
# SPARK_GRAFT_CPUS contract untouched.
TEST_CPUS = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))


def pytest_report_header(config):
    from tests.oracle_harness import FULL_TESTS

    profile = (
        "FULL (SPARK_GRAFT_FULL_TESTS=1): every oracle-backed query, both datasets"
        if FULL_TESTS
        else "FAST (default): stratified oracle sample + every query whose code moved; "
        "set SPARK_GRAFT_FULL_TESTS=1 for the full battery"
    )
    return [f"iceberg_daq_spark test profile: {profile}; master=local[{TEST_CPUS}]"]


def make_session():
    """The test session; ``python -m tests.plan_shape`` plans on the same."""
    return get_spark(
        app_name="iceberg_daq_spark_tests",
        master=f"local[{TEST_CPUS}]",
        shuffle_partitions=8,
    )


@pytest.fixture(scope="session")
def spark():
    yield make_session()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
