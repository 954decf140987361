"""Incremental materialized-view maintenance: the maintained summary
must equal a full recompute after ANY op sequence on the source
(appends, upserts, row deletes), with min/max groups re-scoped only
when a delete could have invalidated them."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from iceberg_daq_spark.matview import MaterializedAggView
from iceberg_daq_spark.tablestore import MergeTable


def _mkrows(spark, rows):
    return spark.createDataFrame(rows, "k bigint, g string, v bigint")


def _expected(spark, src):
    return {
        (r.g, r.n, r.total, r.vmin, r.vmax)
        for r in src.read(spark)
        .groupBy("g")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("v").alias("total"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
        )
        .collect()
    }


def _got(spark, mv):
    return {
        (r.g, r.n, r.total, r.vmin, r.vmax)
        for r in mv.read(spark).select("g", "n", "total", "vmin", "vmax").collect()
    }


def test_matview_incremental_equals_recompute(spark, tmp_path):
    src = MergeTable(str(tmp_path / "src"), key_cols=("k",), keep_versions=20)
    src.merge(_mkrows(spark, [(i, f"g{i % 3}", i * 10) for i in range(12)]))

    mv = MaterializedAggView(
        source=src,
        path=str(tmp_path / "mv"),
        group_cols=("g",),
        measures=(
            ("count", "", "n"),
            ("sum", "v", "total"),
            ("min", "v", "vmin"),
            ("max", "v", "vmax"),
        ),
    )
    mv.full_refresh(spark)
    assert _got(spark, mv) == _expected(spark, src)

    # append-only interval (fast changelog path), new group appears
    src.append(_mkrows(spark, [(100 + i, f"g{3 + i % 2}", i) for i in range(6)]))
    mv.refresh(spark)
    assert _got(spark, mv) == _expected(spark, src)

    # updates (delete+insert pairs in the changelog): values move
    src.merge(_mkrows(spark, [(1, "g1", 999), (2, "g2", -5)]))
    mv.refresh(spark)
    assert _got(spark, mv) == _expected(spark, src)

    # delete the stored max of a group -> key-scoped re-aggregation
    src.delete_where(spark, F.col("v") == 999)
    mv.refresh(spark)
    assert _got(spark, mv) == _expected(spark, src)

    # empty out a whole group -> the view row must disappear
    src.delete_where(spark, F.col("g") == "g4")
    mv.refresh(spark)
    assert _got(spark, mv) == _expected(spark, src)
    assert "g4" not in {t[0] for t in _got(spark, mv)}

    # no-op refresh: watermark already current
    v = mv.refreshed_version()
    assert mv.refresh(spark) == v


def test_matview_model_random_ops(spark, tmp_path):
    """Randomized op-sequence model test (seeded): after every refresh
    the view equals the from-scratch aggregate."""
    rng = random.Random(8)
    src = MergeTable(str(tmp_path / "msrc"), key_cols=("k",), keep_versions=50)
    state: dict[int, tuple[str, int]] = {}

    def commit(rows):
        for k, g, v in rows:
            state[k] = (g, v)
        src.merge(_mkrows(spark, rows))

    commit([(i, f"g{i % 4}", rng.randrange(-50, 50)) for i in range(20)])
    mv = MaterializedAggView(
        source=src,
        path=str(tmp_path / "mmv"),
        group_cols=("g",),
        measures=(
            ("count", "", "n"),
            ("sum", "v", "total"),
            ("min", "v", "vmin"),
            ("max", "v", "vmax"),
        ),
    )
    mv.full_refresh(spark)

    next_k = 20
    for _step in range(6):
        op = rng.choice(["append", "update", "delete"])
        if op == "append":
            rows = [
                (next_k + i, f"g{rng.randrange(5)}", rng.randrange(-50, 50))
                for i in range(rng.randrange(1, 6))
            ]
            next_k += len(rows)
            commit(rows)
        elif op == "update" and state:
            ks = rng.sample(sorted(state), min(3, len(state)))
            commit([(k, state[k][0], rng.randrange(-50, 50)) for k in ks])
        elif state:
            ks = rng.sample(sorted(state), min(2, len(state)))
            for k in ks:
                state.pop(k)
            src.delete_keys(
                spark, spark.createDataFrame([(k,) for k in ks], "k bigint")
            )
        mv.refresh(spark)
        assert _got(spark, mv) == _expected(spark, src), f"step {_step} ({op})"


def test_matview_tracks_cdc_stream(spark, tmp_path):
    """End-to-end CDC -> view maintenance: a change stream applied via
    apply_changes_stream (MERGE upserts + equality-delete commits)
    advances the source through rewrite AND merge-on-read-delete
    snapshots; a single incremental refresh afterwards must land the
    view exactly on the recomputed summary."""
    import os as _os

    src = MergeTable(str(tmp_path / "cdc_src"), key_cols=("k",), keep_versions=20)
    src.merge(_mkrows(spark, [(i, f"g{i % 2}", i) for i in range(8)]))

    mv = MaterializedAggView(
        source=src,
        path=str(tmp_path / "cdc_mv"),
        group_cols=("g",),
        measures=(
            ("count", "", "n"),
            ("sum", "v", "total"),
            ("min", "v", "vmin"),
            ("max", "v", "vmax"),
        ),
    )
    mv.full_refresh(spark)

    from iceberg_daq_spark.tablestore import apply_changes_stream

    feed = str(tmp_path / "cdc_feed")
    _os.makedirs(feed)
    spark.createDataFrame(
        [
            (0, "g0", 500, "U", 1),   # moves g0's max
            (7, "g1", 7, "D", 2),     # deletes g1's current max
            (20, "g2", -3, "I", 3),   # new group
        ],
        "k bigint, g string, v bigint, op string, seq bigint",
    ).coalesce(1).write.parquet(feed, mode="append")

    stream = (
        spark.readStream.schema("k bigint, g string, v bigint, op string, seq bigint")
        .parquet(feed)
    )
    apply_changes_stream(
        stream, src, str(tmp_path / "cdc_ck"), op_col="op", seq_col="seq"
    )

    mv.refresh(spark)
    assert _got(spark, mv) == _expected(spark, src)
    got = {t[0]: t for t in _got(spark, mv)}
    assert got["g0"][4] == 500        # new max folded in
    assert got["g2"] == ("g2", 1, -3, -3, -3)
    assert got["g1"][1] == 3          # one row gone from g1


def test_matview_refresh_survives_crash_before_state_write(spark, tmp_path, monkeypatch):
    """A crash after a refresh's view commits but before the state
    write: the state still names the old source version, so folding
    from it again would add the same changelog twice.  The state
    records the view head its fold produced; the next refresh sees a
    different head and recomputes."""
    src = MergeTable(str(tmp_path / "src"), key_cols=("k",), keep_versions=20)
    src.merge(_mkrows(spark, [(i, f"g{i % 3}", i * 10) for i in range(12)]))
    mv = MaterializedAggView(
        source=src,
        path=str(tmp_path / "mv"),
        group_cols=("g",),
        measures=(
            ("count", "", "n"),
            ("sum", "v", "total"),
            ("min", "v", "vmin"),
            ("max", "v", "vmax"),
        ),
    )
    mv.full_refresh(spark)
    src.append(_mkrows(spark, [(100 + i, f"g{i % 2}", i) for i in range(6)]))

    def crash(v):
        raise RuntimeError("crash before the state write")

    monkeypatch.setattr(mv, "_save_state", crash)
    view_head = mv.view.current_version()
    with pytest.raises(RuntimeError, match="crash"):
        mv.refresh(spark)
    assert mv.view.current_version() != view_head  # the fold committed
    monkeypatch.undo()

    mv.refresh(spark)
    assert _got(spark, mv) == _expected(spark, src)
    assert mv.refreshed_version() == src.current_version()
