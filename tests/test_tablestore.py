"""MergeTable under concurrent writers (A46; SURVEY 5.2 item 4's
ACID clause).

Two OS processes - each with its own SparkSession, i.e. two
independent "cron" writers like the reference's per-host metadata
dumpers (createMetadatafiles_iceberg_dropbox.sh:45-47) - merge
disjoint key ranges into the same MergeTable concurrently.  The flock
around the whole read-modify-write must serialize them so that BOTH
writers' rows survive and versions advance monotonically; a
commit-only lock would exhibit the lost-update anomaly (both base on
v0, the later commit erases the earlier one's rows).
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

from tests.plan_shape import plan_of

_CHILD = """
import os, sys, time
sys.path.insert(0, {repo!r})
from iceberg_daq_spark.session import get_spark
from iceberg_daq_spark.tablestore import MergeTable

table_path, writer, n_merges, barrier_dir = (
    sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4]
)
spark = get_spark(
    app_name=f"mergetable_writer_{{writer}}",
    master="local[2]",
    shuffle_partitions=2,
)
table = MergeTable(table_path, key_cols=("k",))

# barrier: both sessions fully up before the first merge, so the
# merge loops genuinely overlap
open(os.path.join(barrier_dir, f"ready_{{writer}}"), "w").close()
deadline = time.time() + 120
while len([f for f in os.listdir(barrier_dir) if f.startswith("ready_")]) < 2:
    if time.time() > deadline:
        raise SystemExit("barrier timeout")
    time.sleep(0.05)

for i in range(n_merges):
    df = spark.createDataFrame(
        [(f"{{writer}}-{{i}}", writer, i)], "k string, writer string, seq int"
    )
    table.merge(df)
print("DONE", writer, table.current_version())
"""


def test_schema_evolution_metadata_only(spark, tmp_path):
    """Iceberg ALTER TABLE parity: add_column / rename_column are
    metadata-only commits (no data rewrite), old snapshots keep their
    own schema under time travel, MERGE fills added-column defaults
    for old-shaped writers, and evolve_schema=True admits new columns
    (the reference's own evolution event: checksums fields appended
    after initial emission, insert_extra_fields.py:34-37)."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "evo"), key_cols=("k",), keep_versions=4)
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))

    def data_dirs():
        return sorted(
            d
            for d in os.listdir(t.path)
            if d.startswith("d") and os.path.isdir(os.path.join(t.path, d))
        )

    before = data_dirs()
    assert t.add_column("score", "double", default=0.5) == 2
    assert data_dirs() == before  # metadata-only: no new data dir
    got = {r["k"]: (r["v"], r["score"]) for r in t.read(spark).collect()}
    assert got == {1: ("a", 0.5), 2: ("b", 0.5)}
    # pre-evolution snapshot keeps the pre-evolution schema
    assert t.read(spark, version=1).columns == ["k", "v"]

    # new-shaped MERGE: updates carry the added column
    t.merge(spark.createDataFrame([(2, "B", 2.0), (3, "c", 3.0)], ["k", "v", "score"]))
    got = {r["k"]: (r["v"], r["score"]) for r in t.read(spark).collect()}
    assert got == {1: ("a", 0.5), 2: ("B", 2.0), 3: ("c", 3.0)}

    after_merge = data_dirs()
    assert t.rename_column("v", "val") == 4
    assert data_dirs() == after_merge  # still no rewrite
    assert set(t.read(spark).columns) == {"k", "val", "score"}
    assert t.read(spark, version=3).columns == ["k", "v", "score"]  # time travel
    got = {r["k"]: r["val"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}

    # old-shaped MERGE after evolution: missing column -> its default
    t.merge(spark.createDataFrame([(4, "d")], ["k", "val"]))
    got = {r["k"]: (r["val"], r["score"]) for r in t.read(spark).collect()}
    assert got[4] == ("d", 0.5)

    # implicit evolution requires the explicit flag (mergeSchema analog)
    new_shape = spark.createDataFrame([(5, "e", "en")], ["k", "val", "lang"])
    with pytest.raises(ValueError, match="evolve_schema"):
        t.merge(new_shape)
    t.merge(new_shape, evolve_schema=True)
    got = {r["k"]: (r["val"], r["lang"]) for r in t.read(spark).collect()}
    assert got[5] == ("e", "en") and got[1] == ("a", None)

    # compaction materializes the evolved schema physically
    t.compact(spark)
    assert {r["k"] for r in t.read(spark).collect()} == {1, 2, 3, 4, 5}

    # drop column: metadata-only, reads stop projecting it; key and
    # unknown columns are protected; appends continue without it
    before_drop = data_dirs()
    t.drop_column("lang")
    # metadata-only: no new data dir (retention may expire old ones)
    assert set(data_dirs()) <= set(before_drop)
    assert set(t.read(spark).columns) == {"k", "val", "score"}
    with pytest.raises(ValueError, match="key column"):
        t.drop_column("k")
    with pytest.raises(ValueError, match="no column"):
        t.drop_column("nope")
    t.append(spark.createDataFrame([(9, "z", 9.0)], ["k", "val", "score"]))
    got = {r["k"]: r["val"] for r in t.read(spark).collect()}
    assert got[9] == "z" and set(got) == {1, 2, 3, 4, 5, 9}


def test_partition_spec_and_evolution(spark, tmp_path):
    """Iceberg partition-spec parity: a partitioned table writes
    partitionBy(spec) data dirs and reads prune on the partition
    filter; set_partition_spec is metadata-only and applies to FUTURE
    data commits only, so a mixed-era snapshot unions per-dir scans
    (old layout intact) and still returns exact contents; time travel
    keeps each snapshot's own layout."""
    import os as _os

    from pyspark.sql import functions as F

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(
        str(tmp_path / "pt"), key_cols=("k",), keep_versions=4,
        partition_spec=("tier",),
    )
    t.merge(
        spark.createDataFrame(
            [(1, "raw", 10), (2, "raw", 20), (3, "tp", 30)], ["k", "tier", "v"]
        )
    )
    # physical layout: tier=... partition dirs inside d000001
    d1 = _os.path.join(t.path, "d000001")
    assert sorted(e for e in _os.listdir(d1) if e.startswith("tier=")) == [
        "tier=raw", "tier=tp",
    ]
    # partition pruning reaches the scan
    pruned = t.read(spark).filter(F.col("tier") == "raw")
    plan = plan_of(pruned)
    assert "PartitionFilters: [" in plan and "tier" in plan.split("PartitionFilters")[1].split("]")[0]
    assert {r["k"] for r in pruned.collect()} == {1, 2}

    # fast-append under the same spec
    t.append(spark.createDataFrame([(4, "tp", 40)], ["k", "tier", "v"]))
    assert {(r["k"], r["tier"]) for r in t.read(spark).collect()} == {
        (1, "raw"), (2, "raw"), (3, "tp"), (4, "tp"),
    }

    # spec evolution: metadata-only; next data commit uses the new spec
    v_evo = t.set_partition_spec()  # drop partitioning going forward
    # the pre-evolution append dir keeps its partitioned layout
    assert any(
        e.startswith("tier=") for e in _os.listdir(_os.path.join(t.path, "d000002"))
    )
    t.append(spark.createDataFrame([(5, "raw", 50)], ["k", "tier", "v"]))
    d_new = _os.path.join(t.path, f"d{v_evo + 1:06d}")
    assert not any(e.startswith("tier=") for e in _os.listdir(d_new))
    got = {r["k"]: (r["tier"], r["v"]) for r in t.read(spark).collect()}
    assert got == {1: ("raw", 10), 2: ("raw", 20), 3: ("tp", 30),
                   4: ("tp", 40), 5: ("raw", 50)}
    # time travel to the pre-evolution snapshot
    assert {r["k"] for r in t.read(spark, version=2).collect()} == {1, 2, 3, 4}

    # rewrite materializes everything under the current (empty) spec
    t.compact(spark)
    got2 = {r["k"]: (r["tier"], r["v"]) for r in t.read(spark).collect()}
    assert got2 == got


def test_delete_where(spark, tmp_path):
    """DELETE FROM ... WHERE (copy-on-write): matching rows vanish in a
    new snapshot, NULL-predicate rows are kept (SQL delete semantics),
    the prior snapshot remains time-travelable, and deleted keys can
    re-merge afterwards."""
    from pyspark.sql import functions as F

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "dw"), key_cols=("k",), keep_versions=3)
    t.merge(
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 30)], "k int, v int"
        )
    )
    v = t.delete_where(spark, F.col("v") > 15)
    got = {r["k"] for r in t.read(spark).collect()}
    assert got == {1, 2}  # k=3 deleted; k=2 (NULL predicate) kept
    assert {r["k"] for r in t.read(spark, version=v - 1).collect()} == {1, 2, 3}
    # SQL-string condition form + re-merge of a deleted key
    t.delete_where(spark, "k = 1")
    t.merge(spark.createDataFrame([(3, 33)], "k int, v int"))
    assert {r["k"]: r["v"] for r in t.read(spark).collect()} == {2: None, 3: 33}


def test_read_changes_incremental(spark, tmp_path):
    """Incremental scan: append-only intervals read ONLY the new data
    dirs (no diff work); intervals containing a rewrite fall back to an
    exact full-row anti-join; updated rows surface as changes."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "inc"), key_cols=("k",), keep_versions=10)
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))  # v1
    t.append(spark.createDataFrame([(3, "c")], ["k", "v"]))  # v2
    t.append(spark.createDataFrame([(4, "d")], ["k", "v"]))  # v3

    # append-only interval: delta = the appended rows
    delta = {(r["k"], r["v"]) for r in t.read_changes(spark, 1).collect()}
    assert delta == {(3, "c"), (4, "d")}
    assert {(r["k"], r["v"]) for r in t.read_changes(spark, 2, 3).collect()} == {
        (4, "d")
    }
    # the fast path really scanned only the new dirs: the physical plan
    # must reference d000003 but not d000001
    df = t.read_changes(spark, 2, 3)
    plan = plan_of(df)
    assert "d000003" in plan and "d000001" not in plan

    # a rewrite in the interval -> exact anti-join fallback, updated
    # rows count as changes
    t.merge(spark.createDataFrame([(1, "A2")], ["k", "v"]))  # v4 rewrite
    delta2 = {(r["k"], r["v"]) for r in t.read_changes(spark, 3).collect()}
    assert delta2 == {(1, "A2")}
    assert t.read_changes(spark, 4).count() == 0

    # fast path over PARTITIONED delta dirs (per-dir scans: a single
    # multi-path scan would fail partition discovery)
    tp = MergeTable(
        str(tmp_path / "inc_p"), key_cols=("k",), keep_versions=10,
        partition_spec=("tier",),
    )
    tp.merge(spark.createDataFrame([(1, "raw", 10)], ["k", "tier", "v"]))
    tp.append(spark.createDataFrame([(2, "tp", 20), (3, "raw", 30)], ["k", "tier", "v"]))
    dp = {(r["k"], r["tier"], r["v"]) for r in tp.read_changes(spark, 1).collect()}
    assert dp == {(2, "tp", 20), (3, "raw", 30)}

    # the fast path maps the delta through the snapshot's schema, as
    # read() does: a column added after the delta was written reads as
    # its default
    tc = MergeTable(str(tmp_path / "inc_c"), key_cols=("k",), keep_versions=10)
    tc.merge(spark.createDataFrame([(1, 10, 5)], "k int, v int, c int"))  # v1
    tc.drop_column("c")  # v2
    tc.append(spark.createDataFrame([(2, 20)], "k int, v int"))  # v3
    tc.add_column("c", "int", default=7)  # v4: v1's columns again
    rows = tc.read_changes(spark, 1).collect()
    assert [r.asDict() for r in rows] == [{"k": 2, "v": 20, "c": 7}]


def test_update_where(spark, tmp_path):
    """UPDATE ... SET ... WHERE (copy-on-write): assignments apply only
    to matching rows (expressions may reference the row), NULL
    predicates leave rows untouched, unknown columns raise."""
    from pyspark.sql import functions as F

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "uw"), key_cols=("k",), keep_versions=3)
    t.merge(spark.createDataFrame([(1, 10), (2, None), (3, 30)], "k int, v int"))
    t.update_where(spark, F.col("v") >= 10, {"v": "v * 2 + k"})
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: 21, 2: None, 3: 63}
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where(spark, "k = 1", {"nope": "1"})
    # Column-valued assignment + string condition
    t.update_where(spark, "k = 2", {"v": F.lit(0)})
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: 21, 2: 0, 3: 63}


def test_snapshots_and_rollback(spark, tmp_path):
    """Iceberg snapshots/rollback parity: snapshots() lists retained
    versions; rollback(v) restores a prior snapshot's contents via a
    new metadata-only commit (monotonic versions, no data rewrite)."""
    import os as _os

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "rb"), key_cols=("k",), keep_versions=3)
    t.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))
    t.merge(spark.createDataFrame([(1, "CORRUPTED"), (2, "b")], ["k", "v"]))
    snaps = t.snapshots()
    assert [s["version"] for s in snaps] == [1, 2]
    assert snaps[-1]["current"] and not snaps[0]["current"]

    before = sorted(_os.listdir(t.path))
    v = t.rollback(1)
    assert v == 3
    # metadata-only: no new data dir appeared
    added = set(_os.listdir(t.path)) - set(before)
    assert added == {"v000003.json"}
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a"}
    # the bad snapshot is still retained (ages out, not erased)
    assert {r["k"] for r in t.read(spark, version=2).collect()} == {1, 2}
    with pytest.raises(ValueError):
        t.rollback(99)
    # writes continue normally on the restored lineage
    t.merge(spark.createDataFrame([(3, "c")], ["k", "v"]))
    assert {r["k"]: r["v"] for r in t.read(spark).collect()} == {1: "a", 3: "c"}


def _fifty_version_chain(spark, path):
    """One data commit, then 49 metadata-only commits: a 50-manifest
    parent chain, all of it inside ``keep_versions``."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(path, key_cols=("k",), keep_versions=50)
    t.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))
    for i in range(49):
        t.set_sort_order(*(("k",) if i % 2 == 0 else ()))
    assert t.current_version() == 50
    return t


def _count_calls(monkeypatch, obj, name: str) -> list:
    calls: list = []
    real = getattr(obj, name)

    def counted(*args):
        calls.append(args)
        return real(*args)

    monkeypatch.setattr(obj, name, counted)
    return calls


def test_expiry_loads_each_retained_manifest_once(spark, tmp_path, monkeypatch):
    """Expiry + orphan GC reads each retained manifest once: the
    ancestry walk's reads serve the rollback links and the sweep."""
    t = _fifty_version_chain(spark, str(tmp_path / "gcload"))
    loads = _count_calls(monkeypatch, t, "_load_manifest")
    assert t.remove_orphans() == []
    assert len(loads) <= 51


def test_snapshots_and_history_read_each_file_once(spark, tmp_path, monkeypatch):
    """snapshots() reads the head pointer once; history() builds on the
    manifests snapshots() read, loading none twice."""
    t = _fifty_version_chain(spark, str(tmp_path / "hist"))
    pointer = _count_calls(monkeypatch, t, "current_version")
    loads = _count_calls(monkeypatch, t, "_load_manifest")
    snaps = t.snapshots()
    assert len(snaps) == 50 and len(pointer) == 1
    assert [s["version"] for s in snaps if s["current"]] == [50]

    del pointer[:], loads[:]
    h = t.history(spark).collect()
    assert len(loads) == 50 and len(pointer) <= 2
    assert all(r.is_current_ancestor for r in h)
    assert [r.parent for r in h] == [None] + list(range(1, 50))


def test_orphan_gc_after_crashed_commit(spark, tmp_path):
    """Crash-mid-commit cleanup (Iceberg expire_snapshots +
    remove_orphan_files): a data dir written without a manifest, and a
    manifest written without the pointer flip, are both reclaimed by
    GC; the table stays readable and version numbering continues."""
    import json

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "gc"), key_cols=("k",), keep_versions=2)
    t.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))
    t.merge(spark.createDataFrame([(2, "b")], ["k", "v"]))

    # crash A: data written, no manifest, no pointer flip
    orphan_data = os.path.join(t.path, "d000003")
    os.makedirs(orphan_data)
    open(os.path.join(orphan_data, "part-junk.parquet"), "wb").close()
    # crash B: manifest written for the same attempt, pointer not flipped
    with open(os.path.join(t.path, "v000003.json"), "w") as f:
        json.dump({"version": 3, "data_dirs": ["d000003"], "schema": []}, f)

    assert t.current_version() == 2  # pointer never moved
    removed = t.remove_orphans()
    assert "d000003" in removed and "v000003.json" in removed
    assert not os.path.exists(orphan_data)

    # table unaffected; next commit reuses the freed version number
    assert {r["k"] for r in t.read(spark).collect()} == {1, 2}
    v = t.merge(spark.createDataFrame([(3, "c")], ["k", "v"]))
    assert v == 3
    assert {r["k"] for r in t.read(spark).collect()} == {1, 2, 3}


def test_concurrent_disjoint_writers(spark, tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    table_path = str(tmp_path / "table")
    barrier = str(tmp_path / "barrier")
    os.makedirs(barrier)
    script = _CHILD.format(repo=repo)
    n_merges = 4

    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, table_path, w, str(n_merges), barrier],
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            cwd=repo,
        )
        for w in ("a", "b")
    ]
    outs = [p.communicate(timeout=300)[0].decode() for p in procs]
    for p, out in zip(procs, outs):
        assert p.returncode == 0, out[-2000:]

    from iceberg_daq_spark.tablestore import MergeTable

    table = MergeTable(table_path, key_cols=("k",))
    rows = {r["k"]: r["writer"] for r in table.read(spark).collect()}
    # every merge from BOTH writers survived: no lost updates
    expect = {f"{w}-{i}": w for w in ("a", "b") for i in range(n_merges)}
    assert rows == expect
    # one version per committed merge, monotonic from 1
    assert table.current_version() == 2 * n_merges


def test_read_changes_null_rows_not_rereported(spark, tmp_path):
    """The anti-join fallback must be NULL-safe: rows holding NULL
    (the default add_column gives existing rows) are identical across
    snapshots and must NOT surface as changes on every incremental
    read (plain column equality never matches NULL = NULL)."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "nullinc"), key_cols=("k",), keep_versions=10)
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))  # v1
    t.add_column("extra", "string")  # v2: rows 1,2 read extra=NULL
    # v3: a rewrite (merge) -> read_changes falls back to the anti-join
    t.merge(spark.createDataFrame([(3, "c")], ["k", "v"]))
    delta = {(r["k"], r["v"], r["extra"]) for r in t.read_changes(spark, 2, 3).collect()}
    assert delta == {(3, "c", None)}
    # and a no-op interval reports nothing even with NULL-laden rows
    t.merge(spark.createDataFrame([(4, "d")], ["k", "v"]))  # v4
    assert t.read_changes(spark, 4, 4).count() == 0


def test_key_cols_persist_across_rename(spark, tmp_path):
    """rename_column persists the renamed MERGE keys in the manifest:
    a MergeTable constructed later with the PRE-rename constructor
    seed still merges on the current (renamed) key column."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "keys"), key_cols=("k",), keep_versions=10)
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    t.rename_column("k", "kk")
    # fresh instance, stale constructor keys - manifest keys must win
    t2 = MergeTable(str(tmp_path / "keys"), key_cols=("k",))
    assert t2._effective_keys() == ("kk",)
    t2.merge(spark.createDataFrame([(2, "B"), (3, "c")], ["kk", "v"]))
    rows = {r["kk"]: r["v"] for r in t2.read(spark).collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}


def _pf_lines(df):
    plan = plan_of(df)
    return [ln.strip() for ln in plan.splitlines() if "PartitionFilters" in ln]


def test_hidden_partitioning_hours_prunes(spark, tmp_path):
    """SURVEY 1.3's declared layout - (run, hours(ts)) - as an Iceberg
    hidden-partitioning transform: the write derives _p_ts_hours into
    the directory layout, and read(where=...) projects a ts range
    predicate onto it so the scan's PartitionFilters prune hour
    directories the query never opens."""
    import datetime

    from iceberg_daq_spark.tablestore import MergeTable

    base = datetime.datetime(2024, 5, 1, 0, 0, 0)
    rows = [
        (i, base + datetime.timedelta(minutes=15 * i), i % 3, f"v{i}")
        for i in range(48)
    ]
    t = MergeTable(
        str(tmp_path / "hp"), key_cols=("k",), keep_versions=10,
        partition_spec=("run", "hours(ts)"),
    )
    t.merge(spark.createDataFrame(rows, "k int, ts timestamp, run int, v string"))
    # the data files carry only logical columns; the transform value
    # lives in the directory names
    run_dir = tmp_path / "hp" / "d000001" / "run=0"
    assert any(e.name.startswith("_p_ts_hours=") for e in run_dir.iterdir())

    w = ("ts >= TIMESTAMP '2024-05-01 01:00:00' "
         "AND ts < TIMESTAMP '2024-05-01 03:00:00'")
    pruned = t.read(spark, where=w)
    # correctness: identical to the unpruned row filter
    expect = {tuple(r) for r in t.read(spark).filter(w).collect()}
    assert {tuple(r) for r in pruned.collect()} == expect
    assert len(expect) == 8
    # the hidden column never leaks into the logical schema
    assert "_p_ts_hours" not in pruned.columns
    # pruning really engaged: constant-folded range on _p_ts_hours
    pf = _pf_lines(pruned)
    assert pf and "_p_ts_hours" in pf[0] and ">=" in pf[0]


def test_hidden_partitioning_bucket_truncate(spark, tmp_path):
    """bucket(8, k) (SURVEY 7's (run, bucket(src_id)) layout) prunes
    on equality/IN; truncate(2, name) prunes string ranges."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(
        str(tmp_path / "bk"), key_cols=("k",), keep_versions=10,
        partition_spec=("bucket(8, k)",),
    )
    t.merge(spark.createDataFrame([(i, f"x{i}") for i in range(100)], "k int, v string"))
    one = t.read(spark, where="k = 17")
    assert [(r["k"], r["v"]) for r in one.collect()] == [(17, "x17")]
    pf = _pf_lines(one)
    assert pf and "_p_k_bucket8" in pf[0]
    many = t.read(spark, where="k IN (1, 2, 63)")
    assert {r["k"] for r in many.collect()} == {1, 2, 63}
    assert "_p_k_bucket8" in _pf_lines(many)[0]

    ts = MergeTable(
        str(tmp_path / "tr"), key_cols=("name",), keep_versions=10,
        partition_spec=("truncate(2, name)",),
    )
    ts.merge(
        spark.createDataFrame(
            [("aa1", 1), ("ab2", 2), ("ba3", 3), ("bb4", 4)], "name string, n int"
        )
    )
    got = ts.read(spark, where="name >= 'ab' AND name < 'b'")
    assert {r["name"] for r in got.collect()} == {"ab2"}
    assert "_p_name_truncate2" in _pf_lines(got)[0]


def test_hidden_partitioning_spec_evolution_and_rename(spark, tmp_path):
    """Transform specs evolve like plain ones (metadata-only; future
    commits only) and follow a source-column rename; mixed-era reads
    stay correct and old-era dirs still prune through the physical
    name mapping."""
    import datetime

    from iceberg_daq_spark.tablestore import MergeTable

    base = datetime.datetime(2024, 5, 1, 0, 0, 0)

    def mk(lo, hi):
        return spark.createDataFrame(
            [(i, base + datetime.timedelta(hours=i), i) for i in range(lo, hi)],
            "k int, ts timestamp, v int",
        )

    t = MergeTable(str(tmp_path / "ev"), key_cols=("k",), keep_versions=10)
    t.merge(mk(0, 4))  # v1: unpartitioned
    t.set_partition_spec("hours(ts)")  # v2: metadata-only
    t.append(mk(4, 8))  # v3: new dir under the transform layout
    assert any(
        e.name.startswith("_p_ts_hours=")
        for e in (tmp_path / "ev" / "d000003").iterdir()
    )
    w = "ts >= TIMESTAMP '2024-05-01 05:00:00'"
    got = t.read(spark, where=w)
    assert {r["k"] for r in got.collect()} == {5, 6, 7}

    # rename the source: the spec follows (hours(event_ts)); reads and
    # pruning keep working against the old physical layout
    t.rename_column("ts", "event_ts")
    m = t._load_manifest(t.current_version())
    assert m["partition_spec"] == ["hours(event_ts)"]
    got2 = t.read(spark, where="event_ts >= TIMESTAMP '2024-05-01 05:00:00'")
    assert {r["k"] for r in got2.collect()} == {5, 6, 7}
    assert "_p_ts_hours" in _pf_lines(got2)[0]

    # validation: unknown source / dropping a transform source rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.set_partition_spec("hours(nope)")
    with _pytest.raises(ValueError):
        t.drop_column("event_ts")


def test_append_data_write_outside_lock(spark, tmp_path):
    """Optimistic appends stage their data WITHOUT the commit lock:
    with the flock held by someone else, an append's (expensive) data
    write still proceeds - a _staged_* dir appears - and only the
    final rename+pointer flip waits for the lock."""
    import fcntl
    import threading

    from iceberg_daq_spark.tablestore import MergeTable

    path = str(tmp_path / "opt")
    t = MergeTable(path, key_cols=("k",), keep_versions=10)
    t.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))  # v1 bootstrap

    fd = os.open(os.path.join(path, ".commit.lock"), os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    done = threading.Event()
    err: list[BaseException] = []

    def run():
        try:
            t.append(spark.createDataFrame([(2, "b")], ["k", "v"]))
        except BaseException as e:  # surfaced by the main thread
            err.append(e)
        finally:
            done.set()

    th = threading.Thread(target=run, daemon=True)
    th.start()
    # the staged dir must appear WHILE the lock is held
    deadline = time.time() + 60
    staged_seen = False
    while time.time() < deadline:
        if any(e.startswith("_staged_") for e in os.listdir(path)):
            staged_seen = True
            break
        time.sleep(0.05)
    assert staged_seen, "append did not stage its data while the lock was held"
    assert not done.is_set() or err, "append committed despite the held lock"
    fcntl.flock(fd, fcntl.LOCK_UN)
    os.close(fd)
    th.join(timeout=60)
    assert not err, err
    assert t.current_version() == 2
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows == {1: "a", 2: "b"}
    # the staged dir was promoted, not leaked
    assert not any(e.startswith("_staged_") for e in os.listdir(path))


_APPEND_CHILD = """
import os, sys, time
sys.path.insert(0, {repo!r})
from iceberg_daq_spark.session import get_spark
from iceberg_daq_spark.tablestore import MergeTable

table_path, writer, n_rows, barrier_dir = (
    sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4]
)
spark = get_spark(
    app_name=f"append_writer_{{writer}}",
    master="local[2]",
    shuffle_partitions=2,
)
table = MergeTable(table_path, key_cols=("k",))
open(os.path.join(barrier_dir, f"ready_{{writer}}"), "w").close()
deadline = time.time() + 120
while len([f for f in os.listdir(barrier_dir) if f.startswith("ready_")]) < 2:
    if time.time() > deadline:
        raise SystemExit("barrier timeout")
    time.sleep(0.05)
df = spark.createDataFrame(
    [(f"{{writer}}-{{i}}", writer) for i in range(n_rows)], "k string, writer string"
)
table.append(df)
print("DONE", writer, table.current_version())
"""


def test_concurrent_appenders_cross_process(spark, tmp_path):
    """Two OS-process appenders commit concurrently: appends never
    conflict with appends (Iceberg's rule), both data dirs land, and
    no rows are lost - without serializing on the data write."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    table_path = str(tmp_path / "table")
    barrier = str(tmp_path / "barrier")
    os.makedirs(barrier)

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(table_path, key_cols=("k",), keep_versions=10)
    t.merge(spark.createDataFrame([("seed", "s")], "k string, writer string"))

    script = _APPEND_CHILD.format(repo=repo)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, table_path, w, "5", barrier],
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            cwd=repo,
        )
        for w in ("a", "b")
    ]
    outs = [p.communicate(timeout=300)[0].decode() for p in procs]
    for p, out in zip(procs, outs):
        assert p.returncode == 0, out[-2000:]

    rows = {r["k"]: r["writer"] for r in t.read(spark).collect()}
    expect = {"seed": "s"}
    expect.update({f"{w}-{i}": w for w in ("a", "b") for i in range(5)})
    assert rows == expect
    assert t.current_version() == 3  # bootstrap + one commit per appender
    assert not any(e.startswith("_staged_") for e in os.listdir(table_path))


def test_predicate_projection_never_overprunes(spark, tmp_path):
    """Predicate projection is a sound superset or nothing: a
    conjunct-free OR predicate, expression comparands, or unsupported
    operators must NOT produce a partition predicate (pruning on one
    OR branch would drop the other branch's rows) - the row filter
    alone applies."""
    import datetime

    from iceberg_daq_spark.tablestore import MergeTable, _parse_conjuncts

    # parser: only simple-literal comparisons project
    assert _parse_conjuncts("a = 1 OR b = 2") == []
    assert _parse_conjuncts("(a = 1 OR b = 2) AND k >= 5") == [("k", ">=", ["5"])]
    assert _parse_conjuncts("a <> 1") == []
    assert _parse_conjuncts("NOT a = 1") == []
    assert _parse_conjuncts("a = b") == []  # column comparand
    assert _parse_conjuncts("a > now()") == []  # function comparand
    assert _parse_conjuncts("name = 'x AND y'") == [("name", "=", ["'x AND y'"])]
    assert _parse_conjuncts("ts BETWEEN 1 AND 2 OR k = 3") == []

    base = datetime.datetime(2024, 5, 1, 0, 0, 0)
    t = MergeTable(
        str(tmp_path / "orp"), key_cols=("k",), keep_versions=10,
        partition_spec=("hours(ts)",),
    )
    t.merge(
        spark.createDataFrame(
            [(i, base + datetime.timedelta(hours=i), i % 2) for i in range(6)],
            "k int, ts timestamp, flag int",
        )
    )
    # OR across the partition source and another column: every
    # matching row from BOTH branches must survive
    w = "ts >= TIMESTAMP '2024-05-01 04:00:00' OR flag = 1"
    got = {r["k"] for r in t.read(spark, where=w).collect()}
    assert got == {1, 3, 4, 5}

    # OR at top level with a trailing AND: precedence makes the whole
    # expression a disjunction (X OR (Y AND Z)) - the ts conjunct is
    # NOT required, so it must not project (regression: the splitter
    # used to emit ['flag = 1 OR k = 0', 'ts >= ...'] and prune away
    # flag=1 rows in early-hour directories)
    assert (
        _parse_conjuncts(
            "flag = 1 OR k = 0 AND ts >= TIMESTAMP '2024-05-01 04:00:00'"
        )
        == []
    )
    w2 = "flag = 1 OR k = 0 AND ts >= TIMESTAMP '2024-05-01 04:00:00'"
    got2 = {r["k"] for r in t.read(spark, where=w2).collect()}
    assert got2 == {1, 3, 5}
    # parenthesized OR on one side of a top-level AND still projects
    assert _parse_conjuncts(
        "(flag = 1 OR k = 0) AND ts >= TIMESTAMP '2024-05-01 04:00:00'"
    ) == [("ts", ">=", ["TIMESTAMP '2024-05-01 04:00:00'"])]


def test_bucket_pruning_literal_type_matches_column(spark, tmp_path):
    """bucket(N, k) pruning must hash the literal AS THE COLUMN'S TYPE:
    xxhash64 is type-sensitive, so an int-parsed literal against a
    bigint column picks a different bucket and silently prunes away
    the matching directory (regression)."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(
        str(tmp_path / "bkl"), key_cols=("k",), keep_versions=10,
        partition_spec=("bucket(8, k)",),
    )
    t.merge(
        spark.createDataFrame(
            [(i, f"x{i}") for i in range(100)], "k bigint, v string"
        )
    )
    one = t.read(spark, where="k = 17")
    assert [(r["k"], r["v"]) for r in one.collect()] == [(17, "x17")]
    many = t.read(spark, where="k IN (1, 2, 63)")
    assert {r["k"] for r in many.collect()} == {1, 2, 63}
    # string-typed bucket source: quoted literal must hash as string
    s = MergeTable(
        str(tmp_path / "bks"), key_cols=("name",), keep_versions=10,
        partition_spec=("bucket(8, name)",),
    )
    s.merge(
        spark.createDataFrame(
            [(f"n{i}", i) for i in range(50)], "name string, n int"
        )
    )
    assert [r["n"] for r in s.read(spark, where="name = 'n7'").collect()] == [7]


def test_timestamp_as_of_read(spark, tmp_path):
    """TIMESTAMP AS OF time travel: read(as_of=ts) resolves the
    newest snapshot committed at or before ts on the ref's own
    history; pre-history timestamps raise, mid-interval timestamps
    pick the earlier snapshot, and current-time reads see the head."""
    import datetime as dt

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "asof"), key_cols=("k",), keep_versions=10)
    before_all = dt.datetime.now(dt.timezone.utc)
    t.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))  # v1
    after_v1 = dt.datetime.now(dt.timezone.utc)
    t.merge(spark.createDataFrame([(2, "b")], ["k", "v"]))  # v2
    after_v2 = dt.datetime.now(dt.timezone.utc)

    assert t.version_as_of(after_v1) == 1
    assert t.version_as_of(after_v2.isoformat()) == 2  # ISO string form
    assert {r["k"] for r in t.read(spark, as_of=after_v1).collect()} == {1}
    assert {r["k"] for r in t.read(spark, as_of=after_v2).collect()} == {1, 2}
    with pytest.raises(ValueError, match="no retained snapshot"):
        t.version_as_of(before_all)
    with pytest.raises(ValueError, match="at most one"):
        t.read(spark, version=1, as_of=after_v1)


def test_rollback_across_key_rename_restores_keys(spark, tmp_path):
    """Rolling back past a key-column rename restores that snapshot's
    keys along with its schema - a subsequent merge targets the
    restored column name, not the renamed one."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "rbk"), key_cols=("k",), keep_versions=10)
    t.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))  # v1
    t.rename_column("k", "kk")  # v2
    t.rollback(1)  # v3 = v1's schema and keys
    assert t._effective_keys() == ("k",)
    t.merge(spark.createDataFrame([(1, "A"), (2, "b")], ["k", "v"]))
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows == {1: "A", 2: "b"}


# the per-commit fields of a manifest; every other field is a table
# property a rollback must restore
_LINEAGE = ("version", "operation", "parent", "abandoned_head", "committed_at")


def manifest_properties(t, v: int) -> dict:
    """Snapshot ``v``'s manifest without its lineage fields."""
    return {k: x for k, x in t._load_manifest(v).items() if k not in _LINEAGE}


_PROPERTY_OPS = {
    "set_partition_spec": lambda t, spark: t.set_partition_spec("tier"),
    "set_sort_order": lambda t, spark: t.set_sort_order("v"),
    "set_bloom_filters": lambda t, spark: t.set_bloom_filters("k"),
    "rename_column": lambda t, spark: t.rename_column("k", "kk"),
    "add_column": lambda t, spark: t.add_column("extra", "int", default=7),
    "delete_where_mor": lambda t, spark: t.delete_where(
        spark, "k = 1", mode="merge-on-read"
    ),
}


@pytest.mark.parametrize("op", sorted(_PROPERTY_OPS))
def test_rollback_restores_every_property(spark, tmp_path, op):
    """A rollback over ``op`` leaves a head manifest equal to the
    target's apart from the lineage fields: every table property
    (spec, sort order, bloom columns, keys, schema, pending deletes,
    stats) is the target's, so later data commits are laid out by
    it.  The rollback's own lineage points at the target and records
    the abandoned head."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "rbp"), key_cols=("k",), keep_versions=10)
    schema = "k int, tier string, v int"
    t.merge(spark.createDataFrame([(1, "raw", 10), (2, "tp", 20)], schema))  # v1
    _PROPERTY_OPS[op](t, spark)  # v2
    assert manifest_properties(t, 2) != manifest_properties(t, 1)
    v = t.rollback(1)
    assert manifest_properties(t, v) == manifest_properties(t, 1)
    head = t._load_manifest(v)
    assert (head["parent"], head["abandoned_head"]) == (1, 2)


def test_tags_pin_snapshots_past_retention(spark, tmp_path):
    """Iceberg tags: a named ref pins its snapshot (manifest + data
    dirs) past the retention window until dropped - the dataset-release
    workflow; read(tag=...) works at any age, drop_tag makes the
    snapshot expirable again."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "tags"), key_cols=("k",), keep_versions=2)
    t.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))  # v1
    assert t.create_tag("release-1") == 1
    t.merge(spark.createDataFrame([(2, "b")], ["k", "v"]))  # v2
    t.merge(spark.createDataFrame([(3, "c")], ["k", "v"]))  # v3
    t.merge(spark.createDataFrame([(4, "d")], ["k", "v"]))  # v4

    # untagged v2 aged out of keep_versions=2...
    with pytest.raises(ValueError):
        t.read(spark, 2)
    # ...but the tagged v1 survives and reads whole
    assert {r["k"] for r in t.read(spark, tag="release-1").collect()} == {1}
    assert {s["version"]: s["tags"] for s in t.snapshots()}[1] == ["release-1"]

    # drop -> next commit's GC reclaims it
    t.drop_tag("release-1")
    t.merge(spark.createDataFrame([(5, "e")], ["k", "v"]))  # v5
    with pytest.raises(ValueError):
        t.read(spark, 1)
    with pytest.raises(ValueError):
        t.read(spark, tag="release-1")

    # validation: bad names, unretained targets, duplicates, both-args
    with pytest.raises(ValueError):
        t.create_tag("bad name!")
    with pytest.raises(ValueError):
        t.create_tag("gone", version=1)
    t.create_tag("cur")
    with pytest.raises(ValueError):
        t.create_tag("cur")
    with pytest.raises(ValueError):
        t.read(spark, version=5, tag="cur")


def test_merge_rebases_over_concurrent_append(spark, tmp_path, monkeypatch):
    """The lost-append anomaly: an append lands between a merge's base
    read and its commit.  The merge must detect the moved pointer at
    the lock, discard its stale stage, and rebase - the appended rows
    survive in the final snapshot.  Deterministic interleaving: the
    first _stage call fires the append before staging."""
    from iceberg_daq_spark.tablestore import MergeTable

    path = str(tmp_path / "race")
    t = MergeTable(path, key_cols=("k",), keep_versions=10)
    t.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))  # v1

    other = MergeTable(path, key_cols=("k",))
    orig_stage = MergeTable._stage
    fired = {"done": False}

    def racing_stage(self, df, spec, *args, **kw):
        if not fired["done"]:
            fired["done"] = True
            # a concurrent writer fast-appends while the merge computes
            other.append(spark.createDataFrame([(99, "z")], ["k", "v"]))  # v2
        return orig_stage(self, df, spec, *args, **kw)

    monkeypatch.setattr(MergeTable, "_stage", racing_stage)
    t.merge(spark.createDataFrame([(2, "b")], ["k", "v"]))  # rebases -> v3
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows == {1: "a", 2: "b", 99: "z"}  # nothing lost
    assert t.current_version() == 3
    assert not any(e.startswith("_staged_") for e in os.listdir(path))


def test_transforms_independent_of_session_timezone(spark):
    """months()/years() (like hours()/days()) must derive the same
    partition value in ANY session timezone - a reader session
    configured differently from the writer would otherwise prune
    boundary-month rows inconsistently (regression: they used
    session-tz F.year/F.month)."""
    from pyspark.sql import functions as F

    from iceberg_daq_spark.tablestore import PartField, _transform_col

    def values(tz):
        saved = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            cols = [
                _transform_col(
                    PartField(f"{tr}(ts)", tr, "ts", None),
                    # a FIXED instant (2024-03-01 00:30:00 UTC): a
                    # TIMESTAMP '...' literal would itself re-parse in
                    # each session tz and denote different instants
                    F.timestamp_seconds(F.lit(1709253000)),
                    "timestamp",
                ).alias(tr)
                for tr in ("hours", "days", "months", "years")
            ]
            return spark.range(1).select(*cols).collect()[0].asDict()
        finally:
            spark.conf.set("spark.sql.session.timeZone", saved)

    utc = values("UTC")
    ny = values("America/New_York")
    tokyo = values("Asia/Tokyo")
    assert utc == ny == tokyo
    assert utc["months"] == (2024 - 1970) * 12 + 2  # March 2024, UTC
    assert utc["years"] == 54


# -- manifest file-stats skipping (Iceberg min/max data skipping) -----


def _n_input_files(df) -> int:
    return len(df.inputFiles())


def test_file_stats_prune_numeric(spark, tmp_path):
    """A range predicate reads only the part files whose [min, max]
    span it - the manifest-stats analog of Iceberg data skipping."""
    from pyspark.sql import functions as F

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "fs"), key_cols=("id",), keep_versions=5)
    df = (
        spark.range(0, 1000)
        .withColumn("v", F.col("id") * 2)
        .repartitionByRange(4, "id")
    )
    t.overwrite(df)
    m = t._load_manifest(t.current_version())
    assert m["file_stats"], "commit must record file stats"
    (dstats,) = m["file_stats"].values()
    assert len(dstats) == 4
    assert all("id" in cs for cs in dstats.values())

    r = t.read(spark, where="id >= 750")
    assert r.count() == 250
    assert _n_input_files(r) < 4
    # the skipped files really are excluded, not just filtered
    full = t.read(spark)
    assert _n_input_files(full) == 4


def test_file_stats_prune_to_empty(spark, tmp_path):
    """A predicate outside every file's bounds collapses the scan to
    an empty local relation - zero file reads, schema preserved."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "fse"), key_cols=("id",))
    t.overwrite(spark.range(0, 100).repartitionByRange(2, "id"))
    r = t.read(spark, where="id > 100000")
    assert r.count() == 0
    assert r.columns == ["id"]
    plan = r._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan or "Scan parquet" not in plan


def test_file_stats_prune_strings(spark, tmp_path):
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "fss"), key_cols=("k",))
    df = spark.createDataFrame(
        [(i, chr(ord("a") + i // 25) * 3) for i in range(100)], ["k", "s"]
    ).repartitionByRange(4, "k")
    t.overwrite(df)
    r = t.read(spark, where="s = 'ddd'")
    assert r.count() == 25
    assert _n_input_files(r) < 4


def test_file_stats_carry_forward_on_append(spark, tmp_path):
    """Fast-append computes stats only for its new dir and carries the
    old dirs' entries forward; pruning then spans both dirs."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "fsa"), key_cols=("id",), keep_versions=5)
    t.overwrite(spark.range(0, 400).repartitionByRange(2, "id"))
    m1 = t._load_manifest(t.current_version())
    t.append(spark.range(400, 800).repartitionByRange(2, "id"))
    m2 = t._load_manifest(t.current_version())
    assert len(m2["file_stats"]) == 2
    (d1,) = m1["file_stats"].keys()
    assert m2["file_stats"][d1] == m1["file_stats"][d1]  # carried, not redone
    r = t.read(spark, where="id BETWEEN 600 AND 799")
    assert r.count() == 200
    assert _n_input_files(r) == 1  # one file of one dir; three skipped


def test_file_stats_null_column_sound(spark, tmp_path):
    """A file whose filter column is all-NULL has no min/max for it
    and is kept; rows with NULLs elsewhere never disappear."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "fsn"), key_cols=("k",))
    df = spark.createDataFrame(
        [(1, None, "x"), (2, None, "y")], "k int, v int, s string"
    ).union(
        spark.createDataFrame([(3, 30, "z"), (4, 40, "w")], "k int, v int, s string")
    ).repartition(2, "k")
    t.overwrite(df)
    assert t.read(spark, where="v = 30").count() == 1
    assert t.read(spark, where="k >= 1").count() == 4


def test_file_stats_compose_with_partition_pruning(spark, tmp_path):
    """Identity-partitioned table: the partition predicate prunes
    directories, the file stats prune within the kept directory."""
    from pyspark.sql import functions as F

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(
        str(tmp_path / "fsp"),
        key_cols=("id",),
        partition_spec=("cat",),
        keep_versions=5,
    )
    df = (
        spark.range(0, 800)
        .withColumn("cat", (F.col("id") % 2).cast("string"))
        .repartitionByRange(4, "id")
    )
    t.overwrite(df)
    full = t.read(spark)
    n_all = _n_input_files(full)
    r = t.read(spark, where="cat = '1' AND id < 100")
    got = sorted(x.id for x in r.collect())
    assert got == list(range(1, 100, 2))
    assert _n_input_files(r) < n_all // 2  # dir pruning AND file skipping


def test_sort_order_clusters_files_for_skipping(spark, tmp_path):
    """With a declared sort order, an UNSORTED incoming commit is
    range-clustered at write, so every file covers a narrow key slice
    and a point/range predicate reads O(1) files."""
    from pyspark.sql import functions as F

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(
        str(tmp_path / "so"), key_cols=("id",), sort_order=("id",), keep_versions=5
    )
    # adversarial layout: round-robin partitions, every partition
    # spans the whole key range - unclustered, stats would overlap
    df = (
        spark.range(0, 2000)
        .withColumn("v", F.col("id") % 97)
        .repartition(8)
    )
    t.overwrite(df)
    m = t._load_manifest(t.current_version())
    assert m["sort_order"] == ["id"]
    (dstats,) = m["file_stats"].values()
    ranges = sorted((cs["id"][0], cs["id"][1]) for cs in dstats.values())
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo  # disjoint slices: clustering really happened
    r = t.read(spark, where="id BETWEEN 100 AND 120")
    assert r.count() == 21
    assert len(r.inputFiles()) == 1


def test_sort_order_evolution_and_merge_path(spark, tmp_path):
    """set_sort_order engages at the next data commit (including the
    optimistic merge path) and persists across reconstruction."""
    from iceberg_daq_spark.tablestore import MergeTable

    path = str(tmp_path / "soe")
    t = MergeTable(path, key_cols=("id",), keep_versions=10)
    t.overwrite(spark.range(0, 500).repartition(4))
    assert t._load_manifest(t.current_version())["sort_order"] == []
    t.set_sort_order("id")
    # a NEW instance without the constructor seed picks the manifest up
    t2 = MergeTable(path, key_cols=("id",), keep_versions=10)
    t2.merge(spark.range(500, 1000).repartition(4).withColumnRenamed("id", "id"))
    m = t2._load_manifest(t2.current_version())
    assert m["sort_order"] == ["id"]
    (dstats,) = [m["file_stats"][d] for d in m["data_dirs"]]
    ranges = sorted((cs["id"][0], cs["id"][1]) for cs in dstats.values())
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo
    assert t2.read(spark).count() == 1000


def test_compact_sorted_table_keeps_clustering(spark, tmp_path):
    """Compaction of a sort-ordered table is a sort-rewrite: exactly
    target_files range-clustered files with disjoint [min, max] - the
    stats get tighter, not destroyed."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(
        str(tmp_path / "cs"), key_cols=("id",), sort_order=("id",), keep_versions=5
    )
    t.overwrite(spark.range(0, 300).repartition(3))
    t.append(spark.range(300, 600).repartition(3))
    t.compact(spark, target_files=2)
    m = t._load_manifest(t.current_version())
    assert len(m["data_dirs"]) == 1
    (dstats,) = [m["file_stats"][d] for d in m["data_dirs"]]
    assert len(dstats) == 2
    ranges = sorted((cs["id"][0], cs["id"][1]) for cs in dstats.values())
    assert ranges[0][1] < ranges[1][0]  # disjoint after compaction
    assert t.read(spark).count() == 600
    assert len(t.read(spark, where="id < 10").inputFiles()) == 1


def test_compact_target_mb_sizing(spark, tmp_path):
    """target_mb picks the file count from the table's byte size."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "cmb"), key_cols=("id",), keep_versions=5)
    t.overwrite(spark.range(0, 10000).repartition(8))
    total = t._data_bytes()
    assert total > 0
    # absurdly large target -> one file; tiny target -> several
    t.compact(spark, target_mb=10_000)
    m = t._load_manifest(t.current_version())
    assert len(next(iter(m["file_stats"].values()))) == 1
    assert t.read(spark).count() == 10000


def test_create_view_sql_and_time_travel(spark, tmp_path):
    """spark.sql over a MergeTable snapshot via the view facade,
    including VERSION AS OF semantics through the version arg."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "cv"), key_cols=("k",), keep_versions=5)
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    t.merge(spark.createDataFrame([(2, "B2"), (3, "c")], ["k", "v"]))
    t.create_view(spark, "cv_now")
    t.create_view(spark, "cv_v1", version=1)
    now = {r.k: r.v for r in spark.sql("SELECT k, v FROM cv_now").collect()}
    old = {r.k: r.v for r in spark.sql("SELECT k, v FROM cv_v1").collect()}
    assert now == {1: "a", 2: "B2", 3: "c"}
    assert old == {1: "a", 2: "b"}
    n = spark.sql("SELECT count(*) AS n FROM cv_now WHERE k >= 2").collect()[0].n
    assert n == 2


def test_snapshot_summaries(spark, tmp_path):
    """snapshots() reports the Iceberg-style summary: the operation
    that produced each snapshot, its commit timestamp, and the
    data-file count."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "sum"), key_cols=("k",), keep_versions=10)
    t.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))      # bootstrap
    t.append(spark.createDataFrame([(2, "b")], ["k", "v"]))     # fast-append
    t.merge(spark.createDataFrame([(1, "A")], ["k", "v"]))      # rewrite
    t.add_column("s", "int", default=7)                          # evolution
    t.set_sort_order("k")
    t.compact(spark, target_files=1)
    t.rollback(5)
    ops = [s["operation"] for s in t.snapshots()]
    assert ops == [
        "overwrite", "append", "merge", "add-column", "set-sort-order",
        "compact", "rollback",
    ]
    for s in t.snapshots():
        assert s["committed_at"] is not None
        assert s["n_files"] is None or s["n_files"] >= 1
    assert t.snapshots()[-1]["current"]


# -- branches (writable refs; write-audit-publish) --------------------


def test_branch_write_audit_publish(spark, tmp_path):
    """The WAP flow: stage writes on an audit branch (main untouched),
    validate, fast-forward main to the branch head."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "wap"), key_cols=("k",), keep_versions=4)
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    main_v = t.current_version()

    t.create_branch("audit")
    b = t.for_branch("audit")
    b.merge(spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]))
    b.append(spark.createDataFrame([(4, "d")], ["k", "v"]))

    # main is untouched while the branch advances
    assert t.current_version() == main_v
    assert {r.k for r in t.read(spark).collect()} == {1, 2}
    got_b = {r.k: r.v for r in b.read(spark).collect()}
    assert got_b == {1: "a", 2: "B", 3: "c", 4: "d"}
    assert t.branches() == {"audit": b.current_version()}

    # audit passed: publish
    t.fast_forward("audit")
    assert t.current_version() == b.current_version()
    assert {r.k: r.v for r in t.read(spark).collect()} == got_b
    # branch ops recorded in lineage
    ops = [s["operation"] for s in t.snapshots()]
    assert "merge" in ops and "append" in ops


def test_branch_divergence_rejected(spark, tmp_path):
    """fast_forward refuses when this ref has commits the branch does
    not contain (non-ancestor), instead of silently dropping them."""
    import pytest as _pytest

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "div"), key_cols=("k",), keep_versions=6)
    t.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))
    t.create_branch("exp")
    b = t.for_branch("exp")
    b.merge(spark.createDataFrame([(2, "b")], ["k", "v"]))
    t.merge(spark.createDataFrame([(3, "c")], ["k", "v"]))  # main diverges
    with _pytest.raises(ValueError, match="diverged"):
        t.fast_forward("exp")
    # both histories remain intact and independently readable
    assert {r.k for r in t.read(spark).collect()} == {1, 3}
    assert {r.k for r in b.read(spark).collect()} == {1, 2}


def test_branch_gc_isolation_and_drop(spark, tmp_path):
    """Retention is per ref: main churn cannot reclaim a live branch's
    history; drop_branch makes it reclaimable at the next GC."""
    import os as _os

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "bgc"), key_cols=("k",), keep_versions=2)
    t.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))
    t.create_branch("keepme")
    b = t.for_branch("keepme")
    b.merge(spark.createDataFrame([(9, "z")], ["k", "v"]))
    bv = b.current_version()
    # churn main far past the retention window
    for i in range(4):
        t.merge(spark.createDataFrame([(10 + i, "m")], ["k", "v"]))
    # the branch head still reads exactly (GC kept its ancestry)
    assert {r.k for r in b.read(spark).collect()} == {1, 9}
    t.drop_branch("keepme")
    t.merge(spark.createDataFrame([(99, "q")], ["k", "v"]))  # triggers GC
    assert not _os.path.exists(_os.path.join(t.path, f"v{bv:06d}.json"))
    assert t.branches() == {}


def test_branch_versions_interleave_uniquely(spark, tmp_path):
    """Alternating main/branch commits allocate globally-unique
    versions (no manifest or data-dir collisions)."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "bint"), key_cols=("k",), keep_versions=10)
    t.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))
    t.create_branch("x")
    b = t.for_branch("x")
    seen = [t.current_version()]
    for i in range(2):
        b.merge(spark.createDataFrame([(100 + i, "b")], ["k", "v"]))
        seen.append(b.current_version())
        t.merge(spark.createDataFrame([(200 + i, "m")], ["k", "v"]))
        seen.append(t.current_version())
    assert len(seen) == len(set(seen))  # no version reuse
    assert {r.k for r in t.read(spark).collect()} == {1, 200, 201}
    assert {r.k for r in b.read(spark).collect()} == {1, 100, 101}


def test_branch_read_sugar(spark, tmp_path):
    """read(branch=...) equals a branch-bound instance's read."""
    import pytest as _pytest

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "brs"), key_cols=("k",), keep_versions=4)
    t.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))
    t.create_branch("side")
    t.for_branch("side").merge(spark.createDataFrame([(2, "b")], ["k", "v"]))
    assert {r.k for r in t.read(spark, branch="side").collect()} == {1, 2}
    assert {r.k for r in t.read(spark).collect()} == {1}
    with _pytest.raises(ValueError, match="no branch"):
        t.read(spark, branch="nope")


# -- merge-on-read equality deletes (Iceberg v2 row-level deletes) ----


def _dirs_of(t):
    return sorted(
        d
        for d in os.listdir(t.path)
        if d[0] in "dv" and os.path.isdir(os.path.join(t.path, d))
    )


def test_mor_delete_no_rewrite(spark, tmp_path):
    """delete_where(mode='merge-on-read') commits ONLY a delete file:
    the data dirs are untouched (O(deleted), not O(table)), reads
    anti-join the keys out, and time travel before the delete still
    shows the rows."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "mor"), key_cols=("k",), keep_versions=4)
    t.merge(spark.createDataFrame([(i, f"r{i}") for i in range(10)], ["k", "v"]))
    m1 = t._load_manifest(t.current_version())
    before_data = m1["data_dirs"]

    t.delete_where(spark, "k < 3", mode="merge-on-read")
    m2 = t._load_manifest(t.current_version())
    # same data dirs, one new delete entry pinned to them
    assert m2["data_dirs"] == before_data
    assert len(m2["deletes"]) == 1
    assert m2["deletes"][0]["applies_to"] == before_data
    assert m2["operation"] == "delete-mor"

    assert {r.k for r in t.read(spark).collect()} == set(range(3, 10))
    # time travel: the pre-delete snapshot still has every row
    assert {r.k for r in t.read(spark, version=1).collect()} == set(range(10))
    # where= pushdown composes with the anti-join
    assert {r.k for r in t.read(spark, where="k < 5").collect()} == {3, 4}


def test_mor_delete_sequence_semantics_on_append(spark, tmp_path):
    """A key appended AFTER a merge-on-read delete is NOT deleted
    (applies_to pins the delete to the dirs existing at delete time -
    the dir-granularity analog of Iceberg sequence numbers), while a
    second delete covers both eras."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "seq"), key_cols=("k",), keep_versions=6)
    t.merge(spark.createDataFrame([(1, "old1"), (2, "old2")], ["k", "v"]))
    t.delete_where(spark, "k = 1", mode="merge-on-read")
    # re-append the deleted key: new era, delete must not apply
    t.append(spark.createDataFrame([(1, "new1"), (3, "new3")], ["k", "v"]))
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {1: "new1", 2: "old2", 3: "new3"}

    # a later delete sees (and pins) both eras
    t.delete_where(spark, "k = 1", mode="merge-on-read")
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {2: "old2", 3: "new3"}


def test_mor_deletes_materialized_by_rewrites(spark, tmp_path):
    """compact()/merge() read through the pending deletes and commit
    with an empty delete list (rewrite_position_delete_files analog);
    the delete dirs age out of retention afterwards."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "purge"), key_cols=("k",), keep_versions=1)
    t.merge(spark.createDataFrame([(i, i * 10) for i in range(8)], ["k", "n"]))
    t.delete_where(spark, "k >= 6", mode="merge-on-read")
    ddir = t._load_manifest(t.current_version())["deletes"][0]["dir"]
    assert os.path.isdir(os.path.join(t.path, ddir))

    t.compact(spark)
    m = t._load_manifest(t.current_version())
    assert m["deletes"] == []
    assert {r.k for r in t.read(spark).collect()} == set(range(6))
    # one more commit pushes the delete-era manifests out of
    # retention; the delete dir must then be GC'd as unreferenced
    t.append(spark.createDataFrame([(100, 0)], ["k", "n"]))
    assert not os.path.isdir(os.path.join(t.path, ddir))


def test_mor_delete_survives_key_rename(spark, tmp_path):
    """rename_column over a key with pending deletes: the delete file
    keeps its physical column, the manifest maps it to the new logical
    name, and reads keep deleting the right rows."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "ren"), key_cols=("k",), keep_versions=4)
    t.merge(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"]))
    t.delete_where(spark, "k = 2", mode="merge-on-read")
    t.rename_column("k", "key_id")
    m = t._load_manifest(t.current_version())
    assert m["deletes"][0]["cols"] == [{"name": "key_id", "physical": "k"}]
    got = {r.key_id for r in t.read(spark).collect()}
    assert got == {1, 3}
    # rollback to the pre-rename, pre-delete snapshot restores both
    t.rollback(1)
    assert {r.k for r in t.read(spark).collect()} == {1, 2, 3}


def test_mor_delete_rebases_over_concurrent_commit(spark, tmp_path, monkeypatch):
    """An append landing between the MOR delete's base pin and its
    commit forces a rebase: the retry recomputes against the new
    current version, so applies_to covers the appended dir too."""
    from iceberg_daq_spark import tablestore as ts

    t = ts.MergeTable(str(tmp_path / "race"), key_cols=("k",), keep_versions=6)
    t.merge(spark.createDataFrame([(1, "a"), (2, "x")], ["k", "v"]))

    real_stage = ts.MergeTable._stage
    fired = {"done": False}

    def stage_with_interloper(self, df, spec, *args, **kw):
        name = real_stage(self, df, spec, *args, **kw)
        if not fired["done"]:
            fired["done"] = True
            other = ts.MergeTable(self.path, key_cols=("k",), keep_versions=6)
            other.append(spark.createDataFrame([(9, "x")], ["k", "v"]))
        return name

    monkeypatch.setattr(ts.MergeTable, "_stage", stage_with_interloper)
    t.delete_where(spark, "v = 'x'", mode="merge-on-read")
    monkeypatch.setattr(ts.MergeTable, "_stage", real_stage)
    got = {r.k for r in t.read(spark).collect()}
    # both the old 'x' row AND the interloping appended 'x' row are
    # gone: the rebase re-evaluated the predicate on the new base
    assert got == {1}


def _interloping_stage(monkeypatch, on_stage):
    """Patch ``MergeTable._stage`` so every staged write (after its
    data is staged) runs ``on_stage(n)`` - a concurrent commit, n
    counting from 1.  Stages made inside ``on_stage`` run unpatched."""
    from iceberg_daq_spark.tablestore import MergeTable

    real_stage = MergeTable._stage
    state = {"n": 0, "inside": False}

    def stage(self, df, spec, *args, **kw):
        name = real_stage(self, df, spec, *args, **kw)
        if not state["inside"]:
            state["inside"] = True
            try:
                state["n"] += 1
                on_stage(state["n"])
            finally:
                state["inside"] = False
        return name

    monkeypatch.setattr(MergeTable, "_stage", stage)
    return state


_RACE_WRITES = {
    "merge": lambda t, spark: t.merge(
        spark.createDataFrame([(1, "raw", 50)], "k int, tier string, v int")
    ),
    "update_where": lambda t, spark: t.update_where(spark, "k = 1", {"v": "v + 1"}),
    "delete_where_cow": lambda t, spark: t.delete_where(spark, "k = 1"),
    "delete_where_mor": lambda t, spark: t.delete_where(
        spark, "k = 1", mode="merge-on-read"
    ),
    "delete_keys": lambda t, spark: t.delete_keys(
        spark, spark.createDataFrame([(1,)], "k int")
    ),
    "compact": lambda t, spark: t.compact(spark),
    "compact_where": lambda t, spark: t.compact(spark, where="tier = 'raw'"),
}


@pytest.mark.parametrize("write", sorted(_RACE_WRITES))
def test_lost_races_raise_commit_conflict(spark, tmp_path, monkeypatch, write):
    """Every optimistic data write gives up after a fixed number of
    lost races: a concurrent commit lands while each attempt stages,
    so every attempt's check fails.  The write raises CommitConflict,
    the head stays the interloper's last commit, and no staged dir is
    left behind."""
    from iceberg_daq_spark.tablestore import CommitConflict, MergeTable

    path = str(tmp_path / "lost")
    schema = "k int, tier string, v int"
    t = MergeTable(path, key_cols=("k",), keep_versions=20, partition_spec=("tier",))
    t.merge(spark.createDataFrame([(1, "raw", 10), (2, "tp", 20)], schema))
    other = MergeTable(path, key_cols=("k",), keep_versions=20)
    heads = []

    def interloper(n):
        heads.append(
            other.append(spark.createDataFrame([(100 + n, "raw", n)], schema))
        )

    state = _interloping_stage(monkeypatch, interloper)
    with pytest.raises(CommitConflict):
        _RACE_WRITES[write](t, spark)
    monkeypatch.undo()
    assert state["n"] == 6
    assert t.current_version() == heads[-1]
    assert t._load_manifest(heads[-1])["operation"] == "append"
    assert {r.k for r in t.read(spark).collect()} == {1, 2} | {
        100 + n for n in range(1, 7)
    }
    assert not any(e.startswith("_staged_") for e in os.listdir(path))


def test_append_racing_schema_change_raises(spark, tmp_path, monkeypatch):
    """A rename_column landing while an append stages invalidates the
    staged files' physical schema: the append raises CommitConflict
    and leaves the renamed head and no staged dir."""
    from iceberg_daq_spark.tablestore import CommitConflict, MergeTable

    path = str(tmp_path / "ren")
    t = MergeTable(path, key_cols=("k",), keep_versions=10)
    t.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))
    other = MergeTable(path, key_cols=("k",), keep_versions=10)
    _interloping_stage(monkeypatch, lambda n: other.rename_column("v", "w"))
    with pytest.raises(CommitConflict):
        t.append(spark.createDataFrame([(2, "b")], ["k", "v"]))
    monkeypatch.undo()
    assert t._load_manifest(t.current_version())["operation"] == "rename-column"
    assert {(r.k, r.w) for r in t.read(spark).collect()} == {(1, "a")}
    assert not any(e.startswith("_staged_") for e in os.listdir(path))


def test_append_commits_on_top_of_concurrent_merge(spark, tmp_path, monkeypatch):
    """Appends never conflict with other data commits: a merge that
    lands while the append stages does not fail the append - the
    append commits on top of the merge and both writes are visible."""
    from iceberg_daq_spark.tablestore import MergeTable

    path = str(tmp_path / "app")
    t = MergeTable(path, key_cols=("k",), keep_versions=10)
    t.merge(spark.createDataFrame([(1, "a")], ["k", "v"]))  # v1
    other = MergeTable(path, key_cols=("k",), keep_versions=10)
    state = _interloping_stage(
        monkeypatch,
        lambda n: other.merge(spark.createDataFrame([(1, "A"), (2, "b")], ["k", "v"])),
    )
    v = t.append(spark.createDataFrame([(3, "c")], ["k", "v"]))
    monkeypatch.undo()
    assert state["n"] == 1  # one attempt: the merge was no conflict
    assert v == 3 and t._load_manifest(2)["operation"] == "merge"
    assert t._load_manifest(3)["operation"] == "append"
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {1: "A", 2: "b", 3: "c"}
    assert not any(e.startswith("_staged_") for e in os.listdir(path))


def test_scoped_compact_rebases_over_concurrent_commit(spark, tmp_path, monkeypatch):
    """compact(where=...) that loses one race rebases: the retry
    classifies the new head's dirs, the concurrent append's rows
    survive, and the table contents are unchanged by the rewrite."""
    from iceberg_daq_spark.tablestore import MergeTable

    path = str(tmp_path / "scr")
    schema = "k int, tier string, v int"
    t = MergeTable(path, key_cols=("k",), keep_versions=10, partition_spec=("tier",))
    t.merge(
        spark.createDataFrame([(i, "raw" if i % 2 else "tp", i) for i in range(10)], schema)
    )
    t.append(spark.createDataFrame([(10, "tp", 10)], schema))
    other = MergeTable(path, key_cols=("k",), keep_versions=10)

    def interloper(n):
        if n == 1:
            other.append(spark.createDataFrame([(11, "raw", 11), (12, "tp", 12)], schema))

    state = _interloping_stage(monkeypatch, interloper)
    v = t.compact(spark, where="tier = 'raw'")
    monkeypatch.undo()
    assert state["n"] == 2  # one lost race, one commit
    m = t._load_manifest(v)
    assert v == t.current_version() and m["operation"] == "compact"
    assert len(m["data_dirs"]) == 1
    got = sorted(map(tuple, t.read(spark).collect()))
    assert got == [(i, "raw" if i % 2 else "tp", i) for i in range(13)]
    assert not any(e.startswith("_staged_") for e in os.listdir(path))


def test_mor_delete_incremental_read_falls_back(spark, tmp_path):
    """read_changes across an interval containing a MOR delete must
    not use the dir-lineage fast path (the delete removes rows from
    dirs the lineage check would call unchanged)."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "inc"), key_cols=("k",), keep_versions=6)
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    v1 = t.current_version()
    t.append(spark.createDataFrame([(3, "c"), (4, "d")], ["k", "v"]))
    t.delete_where(spark, "k = 3", mode="merge-on-read")
    # delta vs v1: row 4 appears; row 3 was appended AND deleted in
    # the interval, so it must NOT be reported
    got = {r.k for r in t.read_changes(spark, v1).collect()}
    assert got == {4}


# -- metadata tables (Iceberg files/partitions/refs/history) ----------


def test_metadata_tables(spark, tmp_path):
    """files()/partitions()/refs()/history() mirror Iceberg's metadata
    tables over the manifest + directory layout."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(
        str(tmp_path / "meta"),
        key_cols=("k",),
        keep_versions=8,
        partition_spec=("lang",),
    )
    t.merge(
        spark.createDataFrame(
            [(1, "en", 10), (2, "de", 20), (3, "en", 30)], ["k", "lang", "n"]
        )
    )
    t.delete_where(spark, "k = 3", mode="merge-on-read")

    f = t.files(spark).collect()
    kinds = {r.content for r in f}
    assert kinds == {"data", "equality-deletes"}
    data_rows = sum(r.record_count for r in f if r.content == "data")
    assert data_rows == 3  # footer row counts, pre-delete (physical)
    assert all(r.file_size_bytes > 0 for r in f)
    # data files carry manifest stats JSON; in a partitioned layout the
    # partition column lives in the path, not the footer stats
    st = [r.stats for r in f if r.content == "data"]
    assert any(s is not None for s in st)

    p = t.partitions(spark).collect()
    parts = {r.partition: r.record_count for r in p}
    assert parts == {"lang=de": 1, "lang=en": 2}
    assert all(r.spec == "lang" and r.file_count >= 1 for r in p)

    t.create_tag("rel1")
    t.create_branch("dev")
    refs = {(r.name, r.type): r.version for r in t.refs(spark).collect()}
    assert ("main", "main") in refs
    assert ("rel1", "tag") in refs and ("dev", "branch") in refs

    t.rollback(1)
    h = {r.version: r for r in t.history(spark).collect()}
    # the rolled-back-over delete snapshot is NOT a current ancestor
    cur = t.current_version()
    assert h[cur].is_current_ancestor and h[cur].operation == "rollback"
    assert not h[2].is_current_ancestor
    assert h[2].parent == 1


def test_mor_position_delete_exact_rows(spark, tmp_path):
    """Position deletes (Iceberg v2 position delete files) remove
    EXACTLY the matched physical rows - correct even when keys are
    duplicated (where equality deletes would remove all copies) - with
    no data rewrite, and rewrites materialize them."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "pos"), key_cols=("k",), keep_versions=6)
    t.merge(spark.createDataFrame([(1, "a"), (2, "del-me"), (3, "c")], ["k", "v"]))
    # append introduces a DUPLICATE key 2 (append never checks keys)
    t.append(spark.createDataFrame([(2, "keep-me")], ["k", "v"]))

    before = t._load_manifest(t.current_version())["data_dirs"]
    t.delete_where(spark, "v = 'del-me'", mode="merge-on-read", form="position")
    m = t._load_manifest(t.current_version())
    assert m["data_dirs"] == before  # no rewrite
    assert m["deletes"][0]["kind"] == "position"
    assert "cols" not in m["deletes"][0]

    got = sorted((r.k, r.v) for r in t.read(spark).collect())
    # the OTHER k=2 row survives: position identity, not key identity
    assert got == [(1, "a"), (2, "keep-me"), (3, "c")]
    # time travel before the delete still shows the row
    assert ("del-me" in {r.v for r in t.read(spark, version=2).collect()})

    # a rewrite materializes and clears the position delete
    t.compact(spark)
    m2 = t._load_manifest(t.current_version())
    assert m2["deletes"] == []
    assert sorted((r.k, r.v) for r in t.read(spark).collect()) == got


def test_mor_position_delete_partitioned_and_mixed(spark, tmp_path):
    """Position deletes compose with partitioned layouts, where=
    pruning, and a LATER equality delete on the same snapshot chain."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(
        str(tmp_path / "posp"),
        key_cols=("k",),
        keep_versions=8,
        partition_spec=("lang",),
    )
    t.merge(
        spark.createDataFrame(
            [(i, "en" if i % 2 == 0 else "de", i * 10) for i in range(8)],
            ["k", "lang", "n"],
        )
    )
    t.delete_where(spark, "n = 30", mode="merge-on-read", form="position")
    assert {r.k for r in t.read(spark).collect()} == set(range(8)) - {3}
    # where= pruning still runs through the anti-join
    assert {r.k for r in t.read(spark, where="lang = 'de'").collect()} == {1, 5, 7}
    # stack an equality delete on top of the position delete
    t.delete_where(spark, "k = 4", mode="merge-on-read")
    assert {r.k for r in t.read(spark).collect()} == {0, 1, 2, 5, 6, 7}
    f = t.files(spark).collect()
    assert {r.content for r in f} == {
        "data", "position-deletes", "equality-deletes"
    }


def test_expire_snapshots_time_based(spark, tmp_path):
    """expire_snapshots(older_than_s): aged-out snapshots leave, the
    last retain_last of the ref's history stay regardless of age, tags
    pin their snapshot past any age, and the table still reads."""
    import datetime as dt
    import json

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "age"), key_cols=("k",), keep_versions=10)
    for i in range(5):
        t.merge(spark.createDataFrame([(i, f"v{i}")], ["k", "v"]))
    t.create_tag("pin", version=2)

    # age versions 1..3 far past any cutoff by rewriting committed_at
    old = (
        dt.datetime.now(dt.timezone.utc) - dt.timedelta(days=30)
    ).isoformat(timespec="seconds")
    for v in (1, 2, 3):
        p = os.path.join(t.path, f"v{v:06d}.json")
        m = json.load(open(p))
        m["committed_at"] = old
        json.dump(m, open(p, "w"))

    removed = t.expire_snapshots(older_than_s=3600, retain_last=1)
    left = sorted(
        int(f[1:7]) for f in os.listdir(t.path) if f.endswith(".json")
    )
    # 4, 5 are fresh; 2 is tag-pinned; 1 and 3 aged out
    assert left == [2, 4, 5]
    assert "v000001.json" in removed and "v000003.json" in removed
    assert {r.k for r in t.read(spark).collect()} == {0, 1, 2, 3, 4}
    assert {r.k for r in t.read(spark, tag="pin").collect()} == {0, 1}


def test_zorder_compaction_prunes_both_dims(spark, tmp_path):
    """compact(zorder=(x, y)): the rewritten files cover small
    hyper-rectangles of (x, y), so a point/range predicate on EITHER
    column stats-prunes to a strict subset of files - the property a
    linear sort order only gives its leading column."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "z"), key_cols=("k",), keep_versions=3)
    # x and y deliberately uncorrelated: row i gets x=i, y=reversed bits
    n = 4096
    rows = [(i, i, int(format(i % 64, "06b")[::-1], 2) * 64 + i // 64) for i in range(n)]
    t.merge(spark.createDataFrame(rows, "k long, x long, y long"))
    t.compact(spark, target_files=8, zorder=("x", "y"))

    m = t._load_manifest(t.current_version())
    stats = m["file_stats"][m["data_dirs"][0]]
    assert len(stats) == 8

    def n_files(where):
        df = t.read(spark, where=where)
        return len({f for f in df.inputFiles()})

    total = len(stats)
    # a z-contiguous eighth of the key space fixes the top interleaved
    # bits - about HALF of each dimension's range (plus one file of
    # range-sampling boundary slop) - so a 1/16-range predicate on
    # EITHER column prunes to a strict subset; a linear sort order
    # would leave its non-leading column at all 8 files every time
    nx = n_files("x >= 0 AND x < 256")
    ny = n_files("y >= 0 AND y < 256")
    assert nx < total and ny < total, (nx, ny, total)
    assert nx + ny <= total + 3, (nx, ny, total)
    # contents unchanged by the rewrite
    assert t.read(spark).count() == n

    # zorder and a linear sort order are mutually exclusive
    t.set_sort_order("x")
    with pytest.raises(ValueError, match="sort order"):
        t.compact(spark, zorder=("x", "y"))


def test_catalog_warehouse(spark, tmp_path):
    """Catalog: named tables under a warehouse root - creation-time
    properties persist in the descriptor, load_table reconstructs the
    same table across 'sessions', list/drop/exists work, and the view
    facade exposes the warehouse to spark.sql."""
    from iceberg_daq_spark.catalog import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    t = cat.create_table(
        "daq.runs_cat", key_cols=("run",), partition_spec=("mode",)
    )
    t.merge(
        spark.createDataFrame(
            [(1, "cosmic", 10), (2, "pulser", 20)], ["run", "mode", "n"]
        )
    )
    # a FRESH catalog instance (new session analog) sees properties
    t2 = Catalog(str(tmp_path / "wh")).load_table("daq.runs_cat")
    assert t2.key_cols == ("run",)
    assert t2._head()["partition_spec"] == ["mode"]
    got = {r.run: r.n for r in t2.read(spark).collect()}
    assert got == {1: 10, 2: 20}

    cat.create_table("llm.docs_cat", key_cols=("doc_id",))
    assert cat.list_tables() == ["daq.runs_cat", "llm.docs_cat"]
    assert cat.list_tables("llm") == ["llm.docs_cat"]
    assert cat.table_exists("daq.runs_cat")
    with pytest.raises(ValueError, match="already exists"):
        cat.create_table("daq.runs_cat", key_cols=("run",))
    # idempotent create with exists_ok keeps the original properties
    same = cat.create_table("daq.runs_cat", key_cols=("other",), exists_ok=True)
    assert same.key_cols == ("run",)

    cat.register_views(spark)
    assert spark.sql(
        "SELECT sum(n) AS s FROM daq_runs_cat"
    ).collect()[0].s == 30

    # default namespace sugar + drop with purge
    cat.create_table("scratch", key_cols=("k",))
    assert "default.scratch" in cat.list_tables()
    cat.drop_table("scratch")
    assert not cat.table_exists("scratch")
    # drop without purge leaves the directory, removes the entry
    cat.drop_table("llm.docs_cat", purge=False)
    assert not cat.table_exists("llm.docs_cat")
    assert os.path.isdir(str(tmp_path / "wh" / "llm" / "docs_cat"))


def test_merge_not_matched_by_source_delete(spark, tmp_path):
    """MERGE ... WHEN NOT MATCHED BY SOURCE THEN DELETE: the table
    mirrors the source's key set after the merge (snapshot-sync),
    while the default keeps unmatched target rows."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "nms"), key_cols=("k",), keep_versions=4)
    t.merge(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"]))
    t.merge(
        spark.createDataFrame([(2, "B"), (4, "d")], ["k", "v"]),
        when_not_matched_by_source="delete",
    )
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {2: "B", 4: "d"}
    # default semantics unchanged
    t.merge(spark.createDataFrame([(5, "e")], ["k", "v"]))
    assert {r.k for r in t.read(spark).collect()} == {2, 4, 5}
    with pytest.raises(ValueError, match="when_not_matched_by_source"):
        t.merge(
            spark.createDataFrame([(9, "x")], ["k", "v"]),
            when_not_matched_by_source="bogus",
        )


def test_read_changelog(spark, tmp_path):
    """Changelog scan: inserts and deletes between snapshots with
    _change_type tags; updates surface as delete+insert; append-only
    intervals report inserts only (fast path)."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "cl"), key_cols=("k",), keep_versions=8)
    t.merge(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"]))
    v1 = t.current_version()
    # append-only interval
    t.append(spark.createDataFrame([(4, "d")], ["k", "v"]))
    v2 = t.current_version()
    got = {(r.k, r.v, r._change_type) for r in t.read_changelog(spark, v1, v2).collect()}
    assert got == {(4, "d", "insert")}
    # update + delete interval
    t.merge(spark.createDataFrame([(2, "B")], ["k", "v"]))
    t.delete_where(spark, "k = 3", mode="merge-on-read")
    got = {(r.k, r.v, r._change_type) for r in t.read_changelog(spark, v2).collect()}
    assert got == {
        (2, "B", "insert"),   # update: new image inserted...
        (2, "b", "delete"),   # ...old image deleted
        (3, "c", "delete"),   # plain delete
    }
    # unchanged rows (1, 4) appear in neither direction
    assert not any(r.k in (1, 4) for r in t.read_changelog(spark, v2).collect())


def test_bloom_filter_property_reaches_files(spark, tmp_path):
    """set_bloom_filters: future data commits write parquet bloom
    filters for the configured columns (observable as a per-file size
    payload the no-bloom twin lacks), the property persists in the
    manifest like a sort order, and unknown columns are rejected."""
    import glob

    from pyspark.sql import functions as F

    from iceberg_daq_spark.tablestore import MergeTable

    rows = spark.range(50_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )

    def table_bytes(t):
        m = t._load_manifest(t.current_version())
        return sum(
            os.path.getsize(f)
            for d in m["data_dirs"]
            for f in glob.glob(os.path.join(t.path, d, "*.parquet"))
        )

    plain = MergeTable(str(tmp_path / "nb"), key_cols=("k",))
    plain.merge(rows)
    plain.compact(spark)

    bloomed = MergeTable(str(tmp_path / "wb"), key_cols=("k",))
    bloomed.merge(rows)
    bloomed.set_bloom_filters("k")
    assert bloomed._head()["bloom_cols"] == ["k"]
    bloomed.compact(spark)  # first data commit under the property

    # the bloom payload is real bytes in the files
    assert table_bytes(bloomed) > table_bytes(plain) * 1.05
    # contents unaffected; property survives reconstruction
    assert bloomed.read(spark).count() == 50_000
    assert MergeTable(bloomed.path, key_cols=("k",))._head()["bloom_cols"] == ["k"]
    with pytest.raises(ValueError, match="unknown columns"):
        bloomed.set_bloom_filters("nope")


def test_stream_sink_auto_compaction(spark, tmp_path):
    """run_stream_to_table(compact_every=1): the maintenance rewrite
    runs in-line with the stream - after the drain the current
    snapshot is compacted (single data dir) with identical contents."""
    from pyspark.sql import functions as F2

    from iceberg_daq_spark.tablestore import MergeTable, run_stream_to_table

    src = str(tmp_path / "src")
    spark.range(50).select(
        F2.col("id").alias("k"), (F2.col("id") * 3).alias("v")
    ).write.parquet(src)
    t = MergeTable(str(tmp_path / "sink"), key_cols=("k",))
    stream = spark.readStream.schema("k long, v long").parquet(src)
    run_stream_to_table(stream, t, str(tmp_path / "ckpt"), compact_every=1)
    m = t._load_manifest(t.current_version())
    assert m["operation"] == "compact"
    assert len(m["data_dirs"]) == 1
    assert t.read(spark).count() == 50


def test_scoped_compact_partition_filter(spark, tmp_path):
    """compact(where=...) - the Iceberg rewrite_data_files(filter)
    analog: only partition dirs the projected predicate may match are
    rewritten; every other leaf carries over as hardlinks (same
    inode), contents and time travel are byte-identical, pending
    equality deletes keep masking, GC of the source snapshot leaves
    the carried files alive, and the preconditions raise instead of
    silently degrading."""
    import datetime as dt
    import os as _os

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(
        str(tmp_path / "sc"), key_cols=("k",), keep_versions=2,
        partition_spec=("tier", "hours(ts)"),
    )
    rows = [
        (i, "raw" if i % 2 else "tp", dt.datetime(2024, 1, 1, i % 3), i * 10)
        for i in range(30)
    ]
    t.merge(spark.createDataFrame(rows, "k int, tier string, ts timestamp, v int"))
    t.delete_keys(spark, spark.createDataFrame([(1,), (3,)], "k int"))  # equality deletes
    before = sorted(map(tuple, t.read(spark).collect()))
    assert len(before) == 28

    v = t.compact(
        spark,
        where="tier = 'raw' AND ts >= TIMESTAMP'2024-01-01 01:00:00' "
        "AND ts < TIMESTAMP'2024-01-01 02:00:00'",
    )
    after = sorted(map(tuple, t.read(spark).collect()))
    assert after == before  # layout-only: contents identical, deletes mask
    nd = _os.path.join(t.path, f"d{v:06d}")
    touched, carried = [], []
    for root, _dirs, files in _os.walk(nd):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            nlink = _os.stat(_os.path.join(root, f)).st_nlink
            # the projected range is a sound SUPERSET: hour 473353 plus
            # the boundary hour 473354 are in scope, tp and hour 473352
            # carry over
            in_scope = "tier=raw" in root and (
                "473353" in root or "473354" in root
            )
            (touched if in_scope else carried).append(nlink)
    assert touched and all(n == 1 for n in touched)  # fresh rewrite
    assert carried and all(n >= 2 for n in carried)  # hardlinked carry

    # predicate out of scope of the spec -> refuse (would touch all dirs)
    with pytest.raises(ValueError):
        t.compact(spark, where="v > 100")
    # nothing in scope -> the snapshot stands
    assert t.compact(spark, where="tier = 'nope'") == v

    # GC: push the pre-compact snapshots out of retention; carried
    # files must survive via their remaining link
    t.merge(
        spark.createDataFrame(
            [(900, "tp", dt.datetime(2024, 1, 1, 0), 1)],
            "k int, tier string, ts timestamp, v int",
        )
    )
    t.merge(
        spark.createDataFrame(
            [(901, "tp", dt.datetime(2024, 1, 1, 0), 1)],
            "k int, tier string, ts timestamp, v int",
        )
    )
    live = sorted(map(tuple, t.read(spark).collect()))
    assert len(live) == 30  # 28 + 2 new; nothing lost to GC

    # unpartitioned table refuses scoped compaction
    u = MergeTable(str(tmp_path / "un"), key_cols=("k",))
    u.merge(spark.createDataFrame([(1, 1)], "k int, v int"))
    with pytest.raises(ValueError):
        u.compact(spark, where="k = 1")


def test_spec_drop_survives_merge(spark, tmp_path):
    """Regression: a merge after set_partition_spec() (drop) must NOT
    resurrect the constructor-seed spec - the rewrite path used a
    falsy `or` fallback that treated the legitimately-empty manifest
    spec as "no spec recorded"."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "t"), key_cols=("k",), partition_spec=("p",))
    df = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k int, p string, v int")
    t.overwrite(df)
    t.set_partition_spec()  # drop partitioning (metadata-only, spec [])
    ups = spark.createDataFrame([(2, "b", 21), (3, "c", 30)], "k int, p string, v int")
    t.merge(ups)
    m = t._load_manifest(t.current_version())
    assert m["partition_spec"] == [], m["partition_spec"]
    got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert got == [(1, 10), (2, 21), (3, 30)]


def test_rename_column_follows_sort_and_bloom(spark, tmp_path):
    """Regression: rename_column must rename sort_order and bloom_cols
    too - left stale they silently stopped clustering new writes and
    blocked zorder compaction on a ghost name."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "t"), key_cols=("k",), sort_order=("ts",))
    df = spark.createDataFrame([(1, 100, 5), (2, 50, 6)], "k int, ts long, v int")
    t.overwrite(df)
    t.set_bloom_filters("ts")
    t.rename_column("ts", "event_ts")
    m = t._load_manifest(t.current_version())
    assert m["sort_order"] == ["event_ts"], m["sort_order"]
    assert m["bloom_cols"] == ["event_ts"], m["bloom_cols"]
    # the renamed order still engages (write path finds the column)
    ups = spark.createDataFrame([(3, 75, 7)], "k int, event_ts long, v int")
    t.merge(ups)
    got = sorted(r["k"] for r in t.read(spark).collect())
    assert got == [1, 2, 3]


def test_merge_casts_updates_to_table_types(spark, tmp_path):
    """Regression: merge() must coerce the updates' shared columns to
    the table's recorded types (append() already did) - otherwise
    unionByName coercion silently rewrote the persisted schema."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "t"), key_cols=("k",))
    t.overwrite(spark.createDataFrame([(1, 10)], "k int, n bigint"))
    # updates carry n as INT (narrower) - must not narrow the table
    t.merge(spark.createDataFrame([(2, 20)], "k int, n int"))
    m = t._load_manifest(t.current_version())
    types = {f["name"]: f["type"] for f in m["schema"]}
    assert types["n"] == "bigint", types
    got = dict((r["k"], r["n"]) for r in t.read(spark).collect())
    assert got == {1: 10, 2: 20}


def test_zorder_rejects_string_columns(spark, tmp_path):
    """Regression: a string zorder column casts to all-NULL doubles
    and silently collapsed the range shuffle to one partition - it
    must gate loudly instead."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "t"), key_cols=("k",))
    t.overwrite(
        spark.createDataFrame([(1, "x", 1.0), (2, "y", 2.0)], "k int, s string, v double")
    )
    with pytest.raises(ValueError, match="zorder supports"):
        t.compact(spark, target_files=2, zorder=("s", "v"))
    # numeric columns still work
    assert t.compact(spark, target_files=2, zorder=("k", "v")) > 0


def test_position_deletes_survive_table_relocation(spark, tmp_path):
    """Regression: the stored position-delete identity must be truly
    table-relative - the old fixed-length URI substring kept stray
    scheme characters, so pending deletes stopped applying whenever
    the table's abspath length changed (the docstring's relocation
    claim)."""
    import shutil as _sh

    from iceberg_daq_spark.tablestore import MergeTable

    src = str(tmp_path / "t")
    t = MergeTable(src, key_cols=("k",))
    t.overwrite(
        spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k int, v int")
    )
    t.delete_where(spark, "k = 2", mode="merge-on-read", form="position")
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1, 3]
    # relocate to a DIFFERENT-LENGTH path and reopen
    dst = str(tmp_path / "relocated_much_longer_name" / "t2")
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    _sh.move(src, dst)
    t2 = MergeTable(dst, key_cols=("k",))
    assert sorted(r["k"] for r in t2.read(spark).collect()) == [1, 3]


def test_ancestors_stop_at_expired_manifest(tmp_path, spark):
    """Regression: _ancestors must STOP at a missing (expired)
    manifest instead of falling back to v-1, which could walk into a
    numerically-adjacent version of another branch's history."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(str(tmp_path / "t"), key_cols=("k",), keep_versions=100)
    for i in range(4):
        t.merge(spark.createDataFrame([(i, i)], "k int, v int"))
    head = t.current_version()
    chain = list(t._ancestors(head, 10))
    assert len(chain) == 4
    # simulate expiry of a mid-chain manifest
    victim = chain[2]
    os.remove(t._manifest_path(victim))
    truncated = list(t._ancestors(head, 10))
    assert truncated == chain[:2], (truncated, chain)
