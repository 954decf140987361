"""Incrementally-maintained materialized aggregate views.

A ``MaterializedAggView`` keeps a grouped-aggregate summary of a
:class:`~iceberg_daq_spark.tablestore.MergeTable` up to date WITHOUT
re-scanning the source: ``refresh()`` reads only the source's
changelog since the last refreshed snapshot
(:meth:`MergeTable.read_changelog` - O(delta) for append-only
intervals) and folds it into the stored summary with the classic
self-maintenance rules for distributive aggregates:

  - ``count`` / ``sum``: add inserts, subtract deletes (an update is
    its delete+insert pair, so it nets to the value change),
  - ``min`` / ``max``: inserts fold monotonically
    (``least``/``greatest`` with the stored extreme); a DELETE may
    have removed the current extreme, so only the groups that saw a
    delete are re-aggregated - and only those, via a key-scoped
    semi-join against the source (never a full re-scan),
  - groups whose maintained row count reaches zero are DELETED from
    the view (an O(keys) equality-delete commit, no view scan).

The view itself is a MergeTable keyed on the group columns, so
refreshes are ordinary MERGE commits: atomic, versioned, time-travel-
able, and safe under the optimistic-writer protocol.  The refresh
watermark (last folded source snapshot version) is stored in a
sidecar ``_mv_state.json`` next to the view so any process can resume
maintenance; it also names the view head that fold produced, so a
crash between a view commit and the state write is seen by the next
refresh, which then recomputes instead of folding the delta twice.

Exactness: count/sum over integral columns and all min/max results
are exactly equal to a full recompute (model-tested against random
op sequences in ``tests/test_matview.py``); float sums are subject to
the usual re-association drift that ANY incremental float sum has.

Reference analog: the reference's cron jobs re-derive summary tables
from scratch every pass (full scan per cycle); incremental view
maintenance is the Spark-first replacement - the same summary, kept
current at O(changed-rows) cost per cycle.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_daq_spark.tablestore import MergeTable, _atomic_write

_OPS = ("count", "sum", "min", "max")
_N = "_mv_n"  # maintained group row count (emptied-group detection)


@dataclass
class MaterializedAggView:
    """``SELECT group_cols, aggs FROM source GROUP BY group_cols``,
    materialized and incrementally maintained.

    ``measures`` is a tuple of ``(op, col, out)`` with ``op`` one of
    count/sum/min/max (``col`` is ignored for count).  The stored view
    carries one extra internal column ``_mv_n`` (the group row count)
    so emptied groups can be detected without touching the source.
    """

    source: MergeTable
    path: str
    group_cols: tuple[str, ...]
    measures: tuple[tuple[str, str, str], ...]
    view: MergeTable = field(init=False)

    def __post_init__(self) -> None:
        for op, _col, _out in self.measures:
            if op not in _OPS:
                raise ValueError(f"unsupported aggregate op {op!r}")
        outs = [out for _, _, out in self.measures]
        if len(set(outs)) != len(outs):
            raise ValueError("duplicate output column in measures")
        self.view = MergeTable(self.path, tuple(self.group_cols))

    # -- state sidecar -------------------------------------------------
    @property
    def _state_path(self) -> str:
        return os.path.join(self.path, "_mv_state.json")

    def _state(self) -> dict:
        try:
            with open(self._state_path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def refreshed_version(self) -> int | None:
        """The last source snapshot folded into the view."""
        return self._state().get("source_version")

    def _save_state(self, v: int) -> None:
        """Record the folded source version together with the view head
        it produced: a view commit the state file does not name (a
        crash between the commit and this write) is detectable."""
        _atomic_write(
            self._state_path,
            json.dumps(
                {"source_version": v, "view_version": self.view.current_version()}
            ),
        )

    # -- aggregate expressions ----------------------------------------
    def _full_aggs(self) -> list:
        aggs = [F.count("*").cast("bigint").alias(_N)]
        for op, col, out in self.measures:
            if op == "count":
                aggs.append(F.count("*").cast("bigint").alias(out))
            else:
                aggs.append(getattr(F, op)(col).alias(out))
        return aggs

    def _aggregate(self, rows: DataFrame) -> DataFrame:
        return rows.groupBy(*self.group_cols).agg(*self._full_aggs())

    # -- full compute --------------------------------------------------
    def full_refresh(self, spark: SparkSession) -> int:
        """Compute the summary from a full source scan and make the
        view mirror it exactly (MERGE ... NOT MATCHED BY SOURCE
        DELETE).  Used to seed the view; ``refresh()`` keeps it
        current incrementally afterwards."""
        v = self.source.current_version()
        if v is None:
            raise ValueError(f"source table {self.source.path} is empty")
        # pin the scan to the version recorded as the watermark: a
        # concurrent source commit between current_version() and the
        # read would otherwise bake v->v' rows into the view, and the
        # next refresh() would fold that delta AGAIN (double-apply)
        agg = self._aggregate(self.source.read(spark, v))
        self.view.merge(agg, when_not_matched_by_source="delete")
        self._save_state(v)
        return v

    # -- incremental maintenance --------------------------------------
    def refresh(self, spark: SparkSession) -> int:
        """Fold the source changelog since the last refresh into the
        stored summary.  Cost is O(changed rows) + O(affected groups);
        the only source rows re-read are those of groups whose min/max
        a delete may have invalidated."""
        state = self._state()
        v0 = state.get("source_version")
        if v0 is None or state.get("view_version") != self.view.current_version():
            # never seeded, or the view committed a fold the state does
            # not record: folding from v0 again would double-apply it
            return self.full_refresh(spark)
        v1 = self.source.current_version()
        if v1 == v0:
            return v0

        ch = self.source.read_changelog(spark, v0, v1)
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        ins = F.col("_change_type") == "insert"
        delta_aggs = [
            F.sum(sign).cast("bigint").alias("_dn"),
            F.max(F.when(~ins, F.lit(1)).otherwise(F.lit(0))).alias("_saw_del"),
        ]
        for op, col, out in self.measures:
            if op == "count":
                delta_aggs.append(F.sum(sign).cast("bigint").alias(f"_d_{out}"))
            elif op == "sum":
                delta_aggs.append(F.sum(sign * F.col(col)).alias(f"_d_{out}"))
            else:  # min / max fold inserts only; deletes force recompute
                delta_aggs.append(
                    getattr(F, op)(F.when(ins, F.col(col))).alias(f"_i_{out}")
                )
        delta = ch.groupBy(*self.group_cols).agg(*delta_aggs)

        cur = self.view.read(spark)
        gk = list(self.group_cols)
        # NOTE: group columns must be non-null (the full-outer join and
        # MERGE key semantics both treat NULL keys as non-matching) -
        # same restriction Iceberg MERGE keys have.
        j = cur.join(delta, gk, "full_outer")

        new_n = F.coalesce(F.col(_N), F.lit(0)) + F.coalesce(
            F.col("_dn"), F.lit(0)
        )
        has_extremes = any(op in ("min", "max") for op, _c, _o in self.measures)
        needs_recompute = (
            (F.coalesce(F.col("_saw_del"), F.lit(0)) == 1)
            & (new_n > 0)
            if has_extremes
            else F.lit(False)
        )

        # groups a delete emptied: drop from the view by key (O(keys))
        emptied = j.filter(new_n == 0).select(*gk)

        # groups foldable without touching the source
        inc_cols = [new_n.alias(_N)]
        for op, col, out in self.measures:
            if op in ("count", "sum"):
                inc_cols.append(
                    (
                        F.coalesce(F.col(out), F.lit(0))
                        + F.coalesce(F.col(f"_d_{out}"), F.lit(0))
                    ).alias(out)
                )
            else:
                fold = F.least if op == "min" else F.greatest
                inc_cols.append(fold(F.col(out), F.col(f"_i_{out}")).alias(out))
        incremental = (
            j.filter((new_n > 0) & ~needs_recompute)
            .filter(F.col("_dn").isNotNull())  # untouched groups stay put
            .select(*gk, *inc_cols)
        )

        upserts = incremental
        if has_extremes:
            # delete may have removed a stored extreme: re-aggregate
            # exactly the affected groups, scoped by a key semi-join
            affected = j.filter(needs_recompute).select(*gk)
            # pinned to v1, the snapshot the changelog fold ends at -
            # reading CURRENT here would race a concurrent source
            # commit and double-apply its delta on the next refresh
            rescored = self._aggregate(
                self.source.read(spark, v1).join(affected, gk, "left_semi")
            )
            upserts = incremental.unionByName(rescored)

        if not upserts.isEmpty():
            self.view.merge(upserts)
        if not emptied.isEmpty():
            self.view.delete_keys(spark, emptied)
        self._save_state(v1)
        return v1

    def read(self, spark: SparkSession) -> DataFrame:
        """The maintained summary, without the internal row counter."""
        return self.view.read(spark).drop(_N)
