"""Seeded synthetic tables in the layout ``iceberg_daq_spark.tables``
reads: one ``<name>.parquet`` file per table in ``tables.TABLE_NAMES``,
with the column names, types and value domains of the star schema plus
``events``, ``documents`` and ``embeddings``.

Row counts scale with ``sf`` the way the reference data does (sf 0.01:
60,000 lineitem rows, 10,000 events over 150 users).  The same
``(sf, seed)`` always writes the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from iceberg_daq_spark.tables import TABLE_NAMES

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _days(rng, n: int, lo_days: int, span_days: int) -> np.ndarray:
    return _EPOCH_1995 + (lo_days + rng.integers(0, span_days, n)) * np.timedelta64(1, "D")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def sizes(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (plus ``users`` for events)."""
    return {
        "supplier": max(10, int(10_000 * sf)),
        "customer": max(150, int(150_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "users": max(15, int(15_000 * sf)),
        "documents": max(100, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def table(name: str, sf: float, seed: int) -> pa.Table:
    """One table.  Each table draws from its own generator, so writing a
    subset of the tables gives the same rows as writing all of them."""
    rng = np.random.default_rng([seed, TABLE_NAMES.index(name)])
    n = sizes(sf)
    n_supp, n_cust, n_part, n_ord = n["supplier"], n["customer"], n["part"], n["orders"]
    if name == "region":
        return pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        )
    if name == "nation":
        return pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        )
    if name == "supplier":
        return pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        )
    if name == "customer":
        return pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        )
    if name == "part":
        pk = np.arange(n_part, dtype=np.int64)
        return pa.table(
            {
                "p_partkey": pk,
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
            }
        )
    if name == "orders":
        return pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
                "o_orderdate": _days(rng, n_ord, 0, 2404),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        )
    if name == "lineitem":
        n_line = 4 * n_ord
        return pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
                "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
                "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                "l_shipdate": _days(rng, n_line, 1, 2499),
            }
        )
    if name == "events":
        # time-ordered over 30 days with whole-microsecond stamps
        n_ev = n["events"]
        gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64) + 1
        ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
        return pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": ts,
                "user_id": rng.integers(0, n["users"], n_ev).astype(np.int64),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
                "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        )
    if name == "documents":
        # bags of words; one in twenty re-posts an earlier text
        n_docs = n["documents"]
        texts: list[str] = []
        for i in range(n_docs):
            if i and rng.random() < 0.05:
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            else:
                k = int(rng.integers(10, 101))
                texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
        return pa.table(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": np.array(LANGS)[
                    rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
                ],
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        )
    if name == "embeddings":
        # unit vectors around one centroid per label
        n_vecs = n["embeddings"]
        labels = rng.integers(0, 10, n_vecs)
        centroids = rng.normal(0.0, 1.0, (10, 64))
        vecs = centroids[labels] + rng.normal(0.0, 1.5, (n_vecs, 64))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        return pa.table(
            {
                "vec_id": np.arange(n_vecs, dtype=np.int64),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": labels.astype(np.int32),
            }
        )
    raise ValueError(f"unknown table {name!r}")


def write(
    out_dir: str, sf: float, seed: int, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, int]:
    """Write the named tables under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in names:
        t = table(name, sf, seed)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
