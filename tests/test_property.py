"""Property-based tests (hypothesis): the batch interval merge and the
MERGE-table semantics checked against straight-line python references
over randomized inputs - the cases hand-written fixtures miss
(adjacent-at-exactly-gap boundaries, single-TA islands, interleaved
src_ids, merge/update orderings).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from iceberg_daq_spark.streaming import plan
from tests.test_tablestore import manifest_properties

# keep each example to one tiny Spark job; suite budget ~30 s
_SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

GAP = 100


def _ref_merge(
    tas: list[tuple[int, int, int]], cap: int | None = None
) -> list[tuple[int, int, int, int]]:
    """Python reference: sort by (first, last), coalesce while the next
    TA starts within GAP of the island's max last_tick and (when capped)
    would not stretch the decision past ``cap`` ticks from its start."""
    out = []
    for first, last, n_tps in sorted(tas):
        if (
            out
            and first <= out[-1][1] + GAP
            and (cap is None or last - out[-1][0] <= cap)
        ):
            s, e, n, c = out[-1]
            out[-1] = (s, max(e, last), n + n_tps, c + 1)
        else:
            out.append((first, last, n_tps, 1))
    return out


ta_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3000),  # first_tick
        st.integers(min_value=0, max_value=500),  # duration
        st.integers(min_value=1, max_value=50),  # n_tps
    ),
    min_size=1,
    max_size=12,
)


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


@given(tas=ta_lists)
@settings(**_SETTINGS)
def test_merge_decisions_matches_python_reference(_spark, tas):
    rows = [(0, f, f + d, int(n)) for f, d, n in tas]
    df = _spark.createDataFrame(
        rows, "src_id int, first_tick long, last_tick long, n_tps long"
    )
    got = sorted(
        (r["td_start_tick"], r["td_end_tick"], r["n_tps"], r["n_tas"])
        for r in plan.merge_decisions(df, max_gap_ticks=GAP).collect()
    )
    want = sorted(_ref_merge([(f, f + d, n) for f, d, n in tas]))
    assert got == want
    # capped form (mlt_max_td_length): same fold with the length cap -
    # cap 400 is small enough that random inputs regularly split on it
    got_cap = sorted(
        (r["td_start_tick"], r["td_end_tick"], r["n_tps"], r["n_tas"])
        for r in plan.merge_decisions(df, max_gap_ticks=GAP, max_td_ticks=400).collect()
    )
    want_cap = sorted(_ref_merge([(f, f + d, n) for f, d, n in tas], cap=400))
    assert got_cap == want_cap


merge_steps = st.lists(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 9)),  # (key, value)
        min_size=1,
        max_size=4,
        unique_by=lambda kv: kv[0],  # MERGE source must be key-unique
    ),
    min_size=1,
    max_size=4,
)


@given(steps=merge_steps)
@settings(**_SETTINGS)
def test_merge_table_matches_dict_semantics(_spark, steps, tmp_path_factory):
    """A sequence of MERGEs must equal last-writer-wins dict updates."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(
        str(tmp_path_factory.mktemp("prop") / "t"), key_cols=("k",), keep_versions=1
    )
    ref: dict[int, int] = {}
    for step in steps:
        t.merge(_spark.createDataFrame(step, "k int, v int"))
        ref.update(dict(step))
    got = {r["k"]: r["v"] for r in t.read(_spark).collect()}
    assert got == ref


# -- MergeTable op-sequence model test --------------------------------
# Ops vocabulary: each entry is (tag, payload); payloads are drawn
# small so every example stays a handful of tiny Spark jobs.
_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("merge"),
            st.lists(
                st.tuples(st.integers(0, 3), st.integers(0, 5)),
                min_size=1, max_size=3,
                unique_by=lambda kv: kv[0],
            ),
        ),
        st.tuples(st.just("append"), st.integers(0, 5)),
        st.tuples(st.just("add_column"), st.integers(0, 3)),
        st.tuples(st.just("rollback"), st.integers(0, 100)),
        st.tuples(st.just("compact"), st.just(0)),
        st.tuples(st.just("delete"), st.integers(0, 5)),
        st.tuples(st.just("delete_mor"), st.integers(0, 5)),
        st.tuples(st.just("delete_pos"), st.integers(0, 5)),
    ),
    min_size=1,
    max_size=6,
)


@given(ops=_ops)
# a merge-on-read delete of every row leaves the add_column pending
@example(ops=[("merge", [(0, 0)]), ("add_column", 0), ("delete_mor", 0), ("append", 0)])
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merge_table_op_sequences_match_model(_spark, ops, tmp_path_factory):
    """Random interleavings of merge / fast-append / add_column /
    rollback / compact must match a straight-line python model:
    merge replaces matched rows (missing columns -> their defaults),
    append inserts new keys (and must REFUSE while a metadata-only
    add_column is pending materialization), rollback restores any
    retained snapshot, compact never changes contents."""
    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(
        str(tmp_path_factory.mktemp("prop_ops") / "t"),
        key_cols=("k",),
        keep_versions=50,
    )
    # model: history[v] = (columns, defaults, data{key: {col: val}},
    # physical_ok); index 0 = empty pre-commit state
    cols = ["k", "v"]
    hist = [(list(cols), {}, {}, True)]
    fresh_key = 100
    fresh_col = 0

    def cur():
        return hist[-1]

    for tag, payload in ops:
        columns, defaults, data, phys_ok = cur()
        if tag == "merge":
            rows = payload
            new = dict(data)
            for k, v in rows:
                new[k] = {c: defaults.get(c) for c in columns}
                new[k].update({"k": k, "v": v})
            t.merge(_spark.createDataFrame(rows, "k int, v int"))
            hist.append((list(columns), dict(defaults), new, True))
        elif tag == "append":
            k, v = fresh_key, payload
            fresh_key += 1
            row_df = _spark.createDataFrame(
                [{c: (k if c == "k" else v if c == "v" else payload)
                  for c in columns}]
            ).select(*columns)
            if not phys_ok:
                # pending even with no live rows: an MoR delete rewrites no data
                with pytest.raises(ValueError, match="physical schema"):
                    t.append(row_df)
                continue
            t.append(row_df)
            new = dict(data)
            new[k] = {c: (k if c == "k" else v if c == "v" else payload)
                      for c in columns}
            hist.append((list(columns), dict(defaults), new, phys_ok))
        elif tag == "add_column":
            if not data:
                continue  # evolution requires a committed table
            name = f"c{fresh_col}"
            fresh_col += 1
            t.add_column(name, "int", default=payload)
            new = {k: {**r, name: payload} for k, r in data.items()}
            hist.append(
                (columns + [name], {**defaults, name: payload}, new, False)
            )
        elif tag == "rollback":
            if len(hist) <= 1:
                continue
            v = payload % (len(hist) - 1) + 1  # a committed version
            t.rollback(v)
            assert manifest_properties(t, t.current_version()) == (
                manifest_properties(t, v)
            )
            hist.append(hist[v])
        elif tag == "compact":
            if not data:
                continue
            t.compact(_spark)
            hist.append((list(columns), dict(defaults), dict(data), True))
        elif tag == "delete":
            if not data:
                continue
            t.delete_where(_spark, f"v >= {payload}")
            new = {
                k: r for k, r in data.items()
                if not (r.get("v") is not None and r["v"] >= payload)
            }
            hist.append((list(columns), dict(defaults), new, True))
        elif tag in ("delete_mor", "delete_pos"):
            # merge-on-read deletes (equality / position files): same
            # visible semantics as copy-on-write delete, but NO data
            # rewrite - so a pending metadata-only add_column stays
            # pending (phys_ok unchanged), unlike the CoW branch
            if not data:
                continue
            t.delete_where(
                _spark,
                f"v >= {payload}",
                mode="merge-on-read",
                form="equality" if tag == "delete_mor" else "position",
            )
            new = {
                k: r for k, r in data.items()
                if not (r.get("v") is not None and r["v"] >= payload)
            }
            hist.append((list(columns), dict(defaults), new, phys_ok))

    columns, defaults, data, _ = cur()
    out = t.read(_spark)
    if not data:
        assert out is None or out.count() == 0
        return
    assert out.columns == columns
    got = {r["k"]: {c: r[c] for c in columns} for r in out.collect()}
    assert got == data


# -- manifest file-stats pruning soundness ----------------------------
#
# The worst failure class of a scan-pruning layer is SILENT row loss:
# a file skipped whose rows the predicate actually wanted.  Fixed
# tables (clustered files, NULLs, strings, a partitioned layout) x
# randomized simple-conjunct predicates; read(where=p) must equal
# read().filter(p) row-for-row.

_lit_int = st.integers(min_value=-50, max_value=1050)
_lit_str = st.sampled_from(["aaa", "ccc", "ddd", "mmm", "zzz", "q''x"])


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


@st.composite
def _conjunct(draw):
    col = draw(st.sampled_from(["id", "v", "s"]))
    if col == "s":
        op = draw(st.sampled_from(["=", "<", ">=", "in"]))
        if op == "in":
            vals = draw(st.lists(_lit_str, min_size=1, max_size=3, unique=True))
            return f"s IN ({', '.join(_sql_str(v) for v in vals)})"
        return f"s {op} {_sql_str(draw(_lit_str))}"
    op = draw(st.sampled_from(["=", "<", "<=", ">", ">=", "between", "in"]))
    if op == "between":
        a, b = sorted((draw(_lit_int), draw(_lit_int)))
        return f"{col} BETWEEN {a} AND {b}"
    if op == "in":
        vals = draw(st.lists(_lit_int, min_size=1, max_size=4, unique=True))
        return f"{col} IN ({', '.join(map(str, vals))})"
    return f"{col} {op} {draw(_lit_int)}"


_predicates = st.lists(_conjunct(), min_size=1, max_size=3).map(" AND ".join)


@pytest.fixture(scope="module")
def _stats_tables(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from iceberg_daq_spark.tablestore import MergeTable

    base = tmp_path_factory.mktemp("statsprop")
    rows = spark.range(0, 1000).select(
        F.col("id"),
        # v: NULL every 7th row; otherwise correlated with id
        F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id") * 2).alias("v"),
        # s: low-cardinality string ladder + quote-bearing value
        F.when(F.col("id") % 97 == 0, "q''x")
        .otherwise(
            F.element_at(
                F.array(F.lit("aaa"), F.lit("ccc"), F.lit("ddd"), F.lit("mmm")),
                (F.col("id") % 4 + 1).cast("int"),
            )
        )
        .alias("s"),
    )
    flat = MergeTable(str(base / "flat"), key_cols=("id",), keep_versions=3)
    flat.overwrite(rows.repartitionByRange(5, "id"))
    parted = MergeTable(
        str(base / "parted"), key_cols=("id",),
        partition_spec=("s",), sort_order=("id",), keep_versions=3,
    )
    parted.overwrite(rows)
    return flat, parted


@settings(**_SETTINGS)
@given(pred=_predicates)
def test_stats_pruning_never_loses_rows(spark, _stats_tables, pred):
    from pyspark.sql import functions as F

    for t in _stats_tables:
        pruned = t.read(spark, where=pred)
        full = t.read(spark).filter(F.expr(pred))
        got = sorted(map(tuple, pruned.collect()))
        want = sorted(map(tuple, full.collect()))
        assert got == want, f"pruning diverged for {pred!r}"


# -- branch op-sequence model test ------------------------------------
# Per-ref model: each ref holds (data dict, commit-id chain).  A
# branch copies main's state at creation; fast_forward is legal iff
# main's chain is a PREFIX of the branch's (the model twin of the
# implementation's manifest-parent ancestry walk).

_kv_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 5)),
    min_size=1, max_size=3, unique_by=lambda kv: kv[0],
)
_branch_ops = st.lists(
    st.one_of(
        st.tuples(st.just("merge"), st.sampled_from(["main", "b"]), _kv_rows),
        st.tuples(
            st.just("delete"), st.sampled_from(["main", "b"]), st.integers(0, 5)
        ),
        st.tuples(st.just("create"), st.just("b"), st.just(0)),
        st.tuples(st.just("drop"), st.just("b"), st.just(0)),
        st.tuples(st.just("ff"), st.just("main"), st.just(0)),
    ),
    min_size=2,
    max_size=7,
)


@given(ops=_branch_ops)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_branch_op_sequences_match_model(_spark, ops, tmp_path_factory):
    """Random interleavings of main/branch merges, deletes, branch
    create/drop, and fast-forward must match the per-ref model; a
    diverged fast-forward must raise and change nothing."""
    import copy

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(
        str(tmp_path_factory.mktemp("prop_br") / "t"),
        key_cols=("k",),
        keep_versions=50,
    )
    t.merge(_spark.createDataFrame([(0, 0)], "k int, v int"))
    model = {"main": {"data": {0: 0}, "chain": [0]}}
    next_id = 1

    def inst(ref):
        return t if ref == "main" else t.for_branch("b")

    for op, ref, payload in ops:
        if op == "create":
            if "b" in model:
                with pytest.raises(ValueError, match="exists"):
                    t.create_branch("b")
            else:
                t.create_branch("b")
                model["b"] = copy.deepcopy(model["main"])
        elif op == "drop":
            if "b" not in model:
                with pytest.raises(ValueError, match="no branch"):
                    t.drop_branch("b")
            else:
                t.drop_branch("b")
                del model["b"]
        elif op == "ff":
            if "b" not in model:
                with pytest.raises(ValueError, match="no branch"):
                    t.fast_forward("b")
                continue
            main_c, b_c = model["main"]["chain"], model["b"]["chain"]
            if main_c == b_c[: len(main_c)]:
                t.fast_forward("b")
                model["main"] = copy.deepcopy(model["b"])
            else:
                with pytest.raises(ValueError, match="diverged"):
                    t.fast_forward("b")
        elif op == "merge":
            if ref == "b" and "b" not in model:
                continue
            inst(ref).merge(_spark.createDataFrame(payload, "k int, v int"))
            model[ref]["data"].update(dict(payload))
            model[ref]["chain"] = model[ref]["chain"] + [next_id]
            next_id += 1
        elif op == "delete":
            if ref == "b" and "b" not in model:
                continue
            inst(ref).delete_where(_spark, f"v >= {payload}")
            model[ref]["data"] = {
                k: v for k, v in model[ref]["data"].items() if v < payload
            }
            model[ref]["chain"] = model[ref]["chain"] + [next_id]
            next_id += 1

    for ref, state in model.items():
        got = {r["k"]: r["v"] for r in inst(ref).read(_spark).collect()}
        assert got == state["data"], f"ref {ref} diverged from model"
