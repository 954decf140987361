"""Source/sink format breadth: the engine's queries are format-agnostic
(everything flows through DataFrames), so any Spark-supported columnar/
text source round-trips losslessly.  Parquet is the native test format;
this proves ORC, JSON-lines, and CSV carry the same rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_daq_spark.tables import load
from tests.plan_shape import plan_of

CANON = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]


@pytest.mark.parametrize("fmt", ["orc", "json", "csv"])
def test_orders_roundtrip_format(spark, sf_dir, tmp_path, fmt):
    src = load(spark, sf_dir, "orders").select(*CANON)
    out = str(tmp_path / f"orders_{fmt}")
    w = src.write.format(fmt).mode("overwrite")
    if fmt == "csv":
        w = w.option("header", True)
    w.save(out)
    r = spark.read.format(fmt)
    # text formats need the schema pinned (no parquet-style embedded types)
    if fmt in ("json", "csv"):
        r = r.schema(src.schema)
    if fmt == "csv":
        r = r.option("header", True)
    back = r.load(out)
    assert back.schema == src.schema
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_orc_scan_pushes_down(spark, sf_dir, tmp_path):
    """Predicate pushdown is not parquet-specific: the ORC scan must
    carry PushedFilters too."""
    out = str(tmp_path / "orders_orc")
    load(spark, sf_dir, "orders").select(*CANON).write.format("orc").save(out)
    df = spark.read.format("orc").load(out).filter(F.col("o_totalprice") > 1000.0)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "o_totalprice" in plan.split("PushedFilters")[1].split("]")[0]


def test_minihdf5_roundtrip_and_gates():
    """The pure-numpy HDF5 subset codec: write -> read is exact for
    every supported dtype/rank (incl. empty datasets), and files
    outside the subset raise NotImplementedError naming the feature -
    loud, never a silent fake."""
    import numpy as np

    from iceberg_daq_spark import minihdf5 as m

    groups = {
        "events": {
            "event_id": np.arange(10, 15, dtype=np.int64),
            "ts_us": np.arange(10, 15, dtype=np.int64) * 1_000_000 + 42,
        },
        "extra": {
            "f64": np.array([[1.5, -2.25], [3.0, 4.125]]),
            "f32": np.linspace(0, 1, 5, dtype=np.float32),
            "u16": np.arange(7, dtype=np.uint16),
            "i32": np.array([-5, 0, 5], dtype=np.int32),
            "empty": np.array([], dtype=np.int64),
        },
    }
    blob = m.write_hdf5(None, groups)
    back = m.read_hdf5(blob)
    for g, dsets in groups.items():
        for name, arr in dsets.items():
            got = back[g][name]
            assert got.dtype == arr.dtype and got.shape == arr.shape, (g, name)
            assert np.array_equal(got, arr), (g, name)
    # gates: bad signature, unsupported superblock, chunked layout
    with pytest.raises(ValueError, match="signature"):
        m.read_hdf5(b"not an hdf5 file" + bytes(80))
    v2 = bytearray(blob)
    v2[8] = 2
    with pytest.raises(NotImplementedError, match="superblock version 2"):
        m.read_hdf5(bytes(v2))
    # flip the first dataset layout message to class 0 (compact): the
    # layout body is version(1)=3, class(1)=1 right after the message
    # header; find its unique byte pattern and patch the class byte
    sig = bytes([m.MSG_LAYOUT, 0]) + b"\x18\x00\x00\x00\x00\x00\x03\x01"
    pos = blob.index(sig)
    compact = bytearray(blob)
    compact[pos + len(sig) - 1] = 0
    with pytest.raises(NotImplementedError, match="compact"):
        m.read_hdf5(bytes(compact))


def test_minihdf5_chunked_layouts():
    """Chunked datasets (type-1 raw-data B-tree) roundtrip exactly,
    with and without the deflate filter, incl. padded edge chunks and
    rank-2 grids; unsupported filters raise naming the id."""
    import struct

    import numpy as np

    from iceberg_daq_spark import minihdf5 as m

    a = np.arange(1000, dtype=np.int64)
    b = (np.arange(35, dtype=np.float64) * 1.5).reshape(5, 7)
    blob = m.write_hdf5(
        None,
        {
            "g": {
                "a": {"data": a, "chunks": (128,), "gzip": 6},
                "b": {"data": b, "chunks": (2, 3), "gzip": 4},
                "c": {"data": a[:10], "chunks": (4,)},
                "d": a[:5],  # contiguous alongside chunked siblings
            }
        },
    )
    back = m.read_hdf5(blob)
    assert np.array_equal(back["g"]["a"], a)
    assert np.array_equal(back["g"]["b"], b)
    assert np.array_equal(back["g"]["c"], a[:10])
    assert np.array_equal(back["g"]["d"], a[:5])
    # gzip compresses the arange: chunked+deflate file beats raw size
    assert len(blob) < a.nbytes + b.nbytes
    # unknown filter id gates loudly (patch deflate -> zstd's id)
    pos = blob.index(struct.pack("<HHHHI", m.FILTER_DEFLATE, 0, 0, 1, 6))
    bad = bytearray(blob)
    bad[pos : pos + 2] = struct.pack("<H", 32015)
    with pytest.raises(NotImplementedError, match="32015"):
        m.read_hdf5(bytes(bad))


def test_minihdf5_multileaf_chunk_btree():
    """Datasets with more than 2*ISTORE_K (=64) chunks split the
    type-1 B-tree across leaves (libhdf5 bounds leaf entries by 2k
    under a v0 superblock, so a single fat leaf would break the
    bit-compat claim); 4096+ chunks stack a second internal level.
    Both roundtrip exactly, and returned arrays are owned/writable
    in BOTH storage layouts."""
    import numpy as np

    from iceberg_daq_spark import minihdf5 as m

    # 625 chunks -> 10 leaves + 1 root (level 1)
    a = np.arange(10_000, dtype=np.int64)
    # 4101 chunks -> 65 leaves -> 2 internal nodes -> root (level 2)
    b = np.arange(8_202, dtype=np.int32)
    # rank-2 with edge padding across many leaves
    c = (np.arange(99 * 13, dtype=np.float64) * 0.5).reshape(99, 13)
    blob = m.write_hdf5(
        None,
        {
            "g": {
                "a": {"data": a, "chunks": (16,), "gzip": 6},
                "b": {"data": b, "chunks": (2,)},
                "c": {"data": c, "chunks": (7, 4), "gzip": 1},
                "d": a[:5],  # contiguous
            }
        },
    )
    back = m.read_hdf5(blob)
    assert np.array_equal(back["g"]["a"], a)
    assert np.array_equal(back["g"]["b"], b)
    assert np.array_equal(back["g"]["c"], c)
    # every returned array is writable regardless of layout
    for name in ("a", "b", "c", "d"):
        arr = back["g"][name]
        assert arr.flags.writeable, name
        arr[tuple(0 for _ in arr.shape)] = 0  # must not raise


def test_hdf5_reader_roundtrip(spark, tmp_path):
    """HDF5 event files decode through the binaryFile + mapInArrow
    plumbing in EVERY container: fixtures written by the in-repo
    pure-numpy writer, decoded by h5py when installed (cross-codec:
    libhdf5 must accept the mini writer's files) and by the subset
    reader otherwise."""
    import numpy as np

    from iceberg_daq_spark import hdf5, minihdf5

    truth = {}
    for run in (1, 2):
        name = f"iceberghd_raw_run{run:06d}_0000.hdf5"
        ids = np.arange(run * 10, run * 10 + 5, dtype=np.int64)
        ts = ids * 1_000_000 + 42
        minihdf5.write_hdf5(
            str(tmp_path / name), {"events": {"event_id": ids, "ts_us": ts}}
        )
        truth[name] = set(ids.tolist())
    out = hdf5.read_hdf5_events(spark, str(tmp_path))
    got = {}
    ts_by_id = {}
    for r in out.collect():
        got.setdefault(r["file_name"], set()).add(r["event_id"])
        ts_by_id[r["event_id"]] = r["ts"]
    assert got == truth
    # timestamp decode: epoch micros -> tz-naive UTC timestamp
    import datetime as dt

    assert ts_by_id[10] == dt.datetime.utcfromtimestamp(10.000042)


def test_hdf5_h5py_cross_codec(tmp_path):
    """With h5py present, files written by libhdf5 parse through the
    mini reader and vice versa (skips in h5py-free containers - the
    mini<->mini path above already runs everywhere)."""
    import numpy as np
    import pytest as _pytest

    h5py = _pytest.importorskip("h5py")

    from iceberg_daq_spark import minihdf5 as m

    ids = np.arange(5, dtype=np.int64)
    big = np.arange(1000, dtype=np.int64)
    deep_lib = np.arange(9_000, dtype=np.int32)  # 4500 chunks at (2,)
    with h5py.File(tmp_path / "lib.hdf5", "w", libver="earliest") as f:
        g = f.create_group("events")
        g.create_dataset("event_id", data=ids)
        g.create_dataset(
            "chunky", data=big, chunks=(128,), compression="gzip", shuffle=True
        )
        # >4096 chunks: libhdf5 stacks a second internal B-tree level -
        # the mini reader must walk internal-node keys, not just leaves
        g.create_dataset("deep", data=deep_lib, chunks=(2,))
    lib_blob = (tmp_path / "lib.hdf5").read_bytes()
    got = m.read_hdf5(lib_blob)["events"]
    assert np.array_equal(got["event_id"], ids)
    assert np.array_equal(got["chunky"], big)
    assert np.array_equal(got["deep"], deep_lib)
    many = np.arange(10_000, dtype=np.int64)  # 625 chunks: multi-leaf
    deep = np.arange(8_202, dtype=np.int32)  # 4101 chunks: level-2 tree
    mini_blob = m.write_hdf5(
        str(tmp_path / "mini.hdf5"),
        {
            "events": {
                "event_id": ids,
                "chunky": {"data": big, "chunks": (128,), "gzip": 6},
                "many": {"data": many, "chunks": (16,)},
                # the level-2 internal-node writer path: libhdf5 must
                # accept our internal keys + sibling links, not just
                # the in-repo reader (round-12 advice)
                "deep": {"data": deep, "chunks": (2,)},
            }
        },
    )
    with h5py.File(tmp_path / "mini.hdf5", "r") as f:
        assert np.array_equal(np.asarray(f["events"]["event_id"]), ids)
        assert np.array_equal(np.asarray(f["events"]["chunky"]), big)
        assert np.array_equal(np.asarray(f["events"]["many"]), many)
        assert np.array_equal(np.asarray(f["events"]["deep"]), deep)


def test_jsonl_quarantine_split(spark, tmp_path):
    """Malformed JSONL lines land in quarantine with their raw bytes;
    parseable lines come back typed; blank lines are dropped; nothing
    is silently lost (good + quarantine == non-blank input)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from iceberg_daq_spark.sources import read_jsonl_quarantine

    lines = [
        '{"doc_id": 1, "text": "alpha"}',
        '{"doc_id": 2, "text": "beta"}',
        "{not json at all",
        '{"wrong_fields": true}',
        "",
        '["an", "array"]',
        '{"doc_id": 3, "text": null}',  # partial but has a schema field
    ]
    p = tmp_path / "docs.jsonl"
    p.write_text("\n".join(lines))
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    good, quar = read_jsonl_quarantine(spark, str(p), schema)
    g = sorted((r["doc_id"], r["text"]) for r in good.collect())
    assert g == [(1, "alpha"), (2, "beta"), (3, None)]
    q = sorted(r["raw_line"] for r in quar.collect())
    assert q == sorted(["{not json at all", '{"wrong_fields": true}', '["an", "array"]'])
    assert all(r["input_file"].endswith("docs.jsonl") for r in quar.collect())
