"""Differential oracle harness: run a registered query on Spark and its
SQL on DuckDB over the same parquet tables, compare canonicalized rows.

Mirrors the driver's CORRECTNESS check: sort columns by name, compare
row multisets order-insensitively, with doubles rounded before compare
(both sides already round in the query definitions; the harness adds a
1e-9 tolerance on top so a representation difference is distinguishable
from a semantic one).
"""

from __future__ import annotations

import datetime as dt
import math
import os
from collections import Counter

import duckdb

from iceberg_daq_spark.tables import TABLE_NAMES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def canon_rows(columns: list[str], rows: list[tuple]) -> Counter:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(_canon(r[i]) for i in order) for r in rows)


#: DuckDB output types the driver cannot hash-match against Spark.
#: DuckDB's ``sum()`` over BIGINT yields HUGEINT (Arrow decimal128), so a
#: sum-derived column that reaches the final projection uncast hashes as
#: ``Decimal('103')`` against Spark's ``103`` — values equal in Python
#: (``Decimal(103) == 103``), so only a TYPE check catches it locally.
#: Convention: every integer output is ``CAST(... AS BIGINT)`` in the
#: oracle SQL (round-10 verdict: q137/q142/q143/q155/q156/q161 leaked
#: through windowed sums and ``max()``-over-sum; this guard makes that
#: class of bug fail the local suite).
_UNHASHABLE_ORACLE_TYPES = ("DECIMAL", "HUGEINT", "UHUGEINT")


def oracle_type_leaks(con, sql: str) -> list[tuple[str, str]]:
    """Columns of the oracle's result schema the driver can't hash."""
    desc = con.execute(f"DESCRIBE ({sql})").fetchall()
    return [
        (row[0], row[1])
        for row in desc
        if any(t in row[1].upper() for t in _UNHASHABLE_ORACLE_TYPES)
    ]


def compare(spark_df, con, sql: str) -> tuple[bool, str]:
    leaks = oracle_type_leaks(con, sql)
    if leaks:
        return False, (
            f"oracle type leak (driver hashes Decimal != int; add CAST(... AS "
            f"BIGINT) to the oracle projection): {leaks}"
        )
    s_cols = [c.lower() for c in spark_df.columns]
    s_rows = [tuple(r) for r in spark_df.collect()]
    res = con.execute(sql)
    d_cols = [c[0].lower() for c in res.description]
    d_rows = res.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        return False, f"column mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
    cs, cd = canon_rows(s_cols, s_rows), canon_rows(d_cols, d_rows)
    if cs != cd:
        only_s = list((cs - cd).items())[:3]
        only_d = list((cd - cs).items())[:3]
        return False, f"value mismatch; only-spark={only_s} only-duckdb={only_d}"
    return True, "ok"
