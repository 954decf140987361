"""Keyed MERGE-upsert tables over parquet with atomic commits.

The declared design (SURVEY section 7) is Iceberg tables with
``MERGE INTO`` idempotent upserts.  This container has no Iceberg
runtime jar, so this module implements the same *contract* on plain
parquet, and documents exactly where Iceberg would take over on a
cluster:

  Iceberg on a cluster              here
  -----------------------          ----
  MERGE INTO t USING u ON keys     :meth:`MergeTable.merge` -
    WHEN MATCHED UPDATE              updates-win anti-join union
    WHEN NOT MATCHED INSERT          (same row-level semantics)
  DELETE FROM t WHERE cond         :meth:`MergeTable.delete_where` -
    (copy-on-write)                  filtered snapshot rewrite
  UPDATE t SET .. WHERE cond       :meth:`MergeTable.update_where` -
    (copy-on-write)                  conditional-projection rewrite
  snapshot commit (atomic           per-version JSON manifests + an
    metadata pointer swap)           atomic ``_CURRENT`` pointer
                                     rename - the same protocol the
                                     reference uses per metadata file
                                     (write ``.tmp`` then ``mv``, A8,
                                     createMetadatafiles_iceberg_
                                     dropbox.sh:144,215)
  ALTER TABLE ADD/RENAME COLUMN    :meth:`add_column` /
    (metadata-only, field-id         :meth:`rename_column` - every
    name mapping, no rewrite;        commit writes its base manifest
    each metadata file a copy        edited: a metadata-only commit
    of the previous, edited)         names only the properties it
                                     changes and reuses the data
                                     dirs; logical->physical name
                                     mapping applied on read
  partition spec + spec            ``partition_spec`` recorded per
    evolution (a new spec            manifest; data commits write
    applies to future data           ``partitionBy(spec)``;
    files only)                      :meth:`set_partition_spec` is a
                                     metadata-only commit - old dirs
                                     keep their layout, mixed-era
                                     reads union per-dir scans each
                                     with its own partition pruning
  optimistic concurrency           one commit loop for every data
    (commit conflict detection       write: stage lock-free from the
    and retry)                       pinned head, then an flock'd
                                     check/rename/flip section.  The
                                     check: rewrites (merge/update/
                                     delete/compact) need the head to
                                     still be their base, else they
                                     rebase; append needs the head's
                                     schema unchanged and commits on
                                     top of any data commit;
                                     overwrite needs nothing (the
                                     reference instead holds a cron
                                     lockfile for the whole pass,
                                     createMetadatafiles...sh:45-47 -
                                     cluster-hostile; the flock here
                                     guards metadata only)
  hidden partitioning              partition-spec entries accept
    (hours/days/months/years/        Iceberg's transform grammar; the
    bucket/truncate transforms       write derives a _p_* directory
    + scan predicate projection)     column, read(where=...) projects
                                     source-column predicates onto it
                                     so the scan prunes directories
  tags (named refs)                :meth:`create_tag`/:meth:`drop_tag`
                                     + ``read(tag=...)``; tagged
                                     snapshots are GC-pinned past any
                                     retention window (the dataset-
                                     release workflow)
  streaming append (the query      :func:`append_stream_to_table` -
    id and epoch in each             each micro-batch a fast append
    snapshot summary; a replayed     whose manifest records the
    epoch is skipped)                query's last batch id
  snapshot expiry +                prune manifests beyond the
    remove_orphan_files              retention window on commit, then
                                     delete data dirs no retained
                                     manifest references (covers dirs
                                     left by a crash mid-commit)

A *manifest* ``v{n}.json`` records ``{version, data_dirs, schema}``
where ``data_dirs`` is the ordered list of data directories making up
the snapshot (one for a rewrite commit; several after
:meth:`MergeTable.append` fast-append commits, Iceberg's append
snapshot that writes only the new rows) and schema is a list of
``{name, type, physical, default}`` fields:
``physical`` is the column's name inside the parquet files (a renamed
column keeps its old physical name, exactly like Iceberg's field-id
mapping) or ``null`` for a column added after the data was written
(read as its default, like Iceberg's identity-partition-free add).
Data commits write a fresh ``d{n}`` directory; metadata-only commits
write no data at all.

Readers always see a complete snapshot: the pointer flips only after
the manifest and data are fully written, and ``os.replace`` is atomic
on POSIX.  Re-merging identical rows is a no-op by construction
(same keys -> same contents), which is what makes every pipeline built
on this layer rerun-idempotent.

The reference itself hit a schema-evolution event: the metadata
documents gained ``checksums.adler32``/``size`` *after* initial
emission and were patched in place (insert_extra_fields.py:34-37);
here the same event is an :meth:`add_column` + :meth:`merge` of the
enriched rows, with time travel back to the pre-evolution snapshot.
"""

from __future__ import annotations

import datetime as _dt
import fcntl
import json
import math
import os
import re
import shutil
import urllib.parse
from contextlib import contextmanager
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_POINTER = "_CURRENT"
_DATA_DIR_RE = re.compile(r"^d\d{6}$")
_STAGED_RE = re.compile(r"^_staged_[0-9a-f]{12}$")
# a data write that loses this many optimistic-commit races in a row
# raises CommitConflict
_COMMIT_ATTEMPTS = 6
# the per-commit fields of a manifest: set by every commit, never
# carried over from its base (every other field is a table property)
_LINEAGE = ("version", "operation", "parent", "abandoned_head", "committed_at")


class CommitConflict(RuntimeError):
    """A concurrent commit invalidated this writer's staged snapshot
    on every attempt (Iceberg's CommitFailedException analog)."""


def _delete_entries(manifest: dict | None) -> list[dict]:
    """The snapshot's equality-delete files (Iceberg v2 row-level
    deletes, merge-on-read form).  Each entry:

      {"dir": "d000007",                 # the delete-file dir
       "applies_to": ["d000003", ...],   # data dirs it deletes from
       "cols": [{"name": k, "physical": p}, ...]}  # key columns

    ``applies_to`` pins the delete to the data dirs that existed when
    it committed - the dir-granularity analog of Iceberg's sequence
    numbers: a later append's rows are never affected by an earlier
    delete."""
    return list((manifest or {}).get("deletes") or [])


def _append_only(m_from: dict | None, m_to: dict | None) -> bool:
    """Whether the interval ``m_from`` -> ``m_to`` only appended data:
    ``m_to``'s data-dir list extends ``m_from``'s, the column names
    match, and the delete entries match (a merge-on-read delete in the
    interval can remove rows from the NEW dirs too - its applies_to
    covers them - so dir lineage alone no longer proves the delta).
    A rewrite in the interval breaks dir lineage."""
    if m_from is None or m_to is None:
        return False
    d_from = m_from["data_dirs"]
    return (
        m_to["data_dirs"][: len(d_from)] == d_from
        and [f["name"] for f in m_from["schema"]]
        == [f["name"] for f in m_to["schema"]]
        and _delete_entries(m_from) == _delete_entries(m_to)
    )


def _require_columns(m: dict, cols, what: str) -> None:
    names = {f["name"] for f in m["schema"]}
    unknown = [c for c in cols if c not in names]
    if unknown:
        raise ValueError(f"{what} references unknown columns {unknown}")


_Z_BITS = 4  # quantile-bucket rank bits per z-order column (16 buckets)


def _zorder_layout(df: DataFrame, cols: list[str], target_files: int) -> DataFrame:
    """Range-cluster ``df`` into ``target_files`` slices of an
    interleaved-bit Z-value over ``cols`` (numeric/timestamp).

    Rank = quantile bucket (one bounded ``approxQuantile`` driver pass
    per rewrite - the same sample-the-distribution move as range
    partitioning itself), so skewed columns still fill all 2^bits
    buckets; the Z-value interleaves each column's rank bits so files
    cover small hyper-rectangles of the combined key space and the
    per-file [min, max] stats prune on ANY of the columns.  NULLs rank
    lowest.  The Z-value is a derived expression - computed for the
    shuffle + sort, never written."""
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"zorder references unknown columns {missing}")
    # the rank is a quantile bucket over cast('double'): anything that
    # casts to NULL (strings, binary, ...) would silently rank every
    # row 0 and collapse the range shuffle to ONE partition - gate
    # loudly instead (the docstring's numeric/timestamp contract).
    # isinstance, not simpleString prefixes: 'interval day to second'
    # startswith 'int' and would sneak past a prefix tuple.
    from pyspark.sql.types import DateType, NumericType, TimestampNTZType, TimestampType

    bad = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in cols
        and not isinstance(
            f.dataType,
            (NumericType, DateType, TimestampType, TimestampNTZType),
        )
    ]
    if bad:
        raise ValueError(
            f"zorder supports numeric/date/timestamp columns only, got {bad}"
        )
    n_buckets = 1 << _Z_BITS
    probs = [i / n_buckets for i in range(1, n_buckets)]
    tmp_names = [f"_z_{i}" for i in range(len(cols))]
    tmp = df.select(
        *[F.col(c).cast("double").alias(t) for c, t in zip(cols, tmp_names)]
    )
    cuts = tmp.stat.approxQuantile(tmp_names, probs, 0.01)
    z = F.lit(0)
    k = len(cols)
    for i, (c, col_cuts) in enumerate(zip(cols, cuts)):
        v = F.col(c).cast("double")
        bucket = F.lit(0)
        for q in col_cuts:
            bucket = bucket + F.when(v > F.lit(q), 1).otherwise(0)
        for b in range(_Z_BITS):
            z = z + F.shiftleft(
                F.shiftright(bucket, b).bitwiseAND(F.lit(1)), b * k + i
            )
    return df.repartitionByRange(target_files, z.alias("_zval")).sortWithinPartitions(
        z.alias("_zval")
    )


@contextmanager
def _commit_lock(path: str):
    """A46: serialize commits the way the reference's cron lockfile
    serializes scan passes (flock, not a pid file - crash-safe)."""
    os.makedirs(path, exist_ok=True)
    fd = os.open(os.path.join(path, ".commit.lock"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _atomic_write(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)  # atomic on POSIX


# -- hidden partitioning (Iceberg partition transforms) ----------------
#
# A partition-spec entry is either a plain column (identity) or a
# transform over a source column, Iceberg's hidden-partitioning grammar
# (SURVEY 1.3 maps the reference's per-(run, hour) dropbox layout to
# ``(run, hours(ts))``; 7 to ``(run, bucket(src_id))``):
#
#   hours(ts) days(ts) months(ts) years(ts)   time grains (epoch-based)
#   bucket(N, col)                            hash bucket in [0, N)
#   truncate(W, col)                          width-W floor / prefix
#
# The transform value is DERIVED at write into a reserved physical
# partition column (``_p_{source}_{transform}{arg}``) that never
# appears in the logical schema - queries filter on the SOURCE column
# and :meth:`MergeTable.read`'s ``where`` projects those predicates
# onto the partition column so the parquet scan prunes directories
# (Iceberg's scan-planning predicate projection).  All transforms here
# are order-preserving (prefix/floor/time-grain monotone), so range
# predicates project soundly to ranges; bucket projects equality/IN
# only.  ``bucket`` uses xxhash64 (Spark-native, seed-stable), not
# Iceberg's murmur3 - same layout properties, different file-level
# hash, documented as a substitute.

_TRANSFORM_RE = re.compile(
    r"^\s*(hours|days|months|years|bucket|truncate)\s*\(\s*"
    r"(?:(\d+)\s*,\s*)?([A-Za-z_]\w*)\s*\)\s*$"
)


@dataclass(frozen=True)
class PartField:
    """One parsed partition-spec entry."""

    spec: str
    transform: str  # identity|hours|days|months|years|bucket|truncate
    source: str
    arg: int | None

    @property
    def name(self) -> str:
        """Physical partition-directory column name."""
        if self.transform == "identity":
            return self.source
        return f"_p_{self.source}_{self.transform}{self.arg if self.arg is not None else ''}"


def parse_partition_spec(spec) -> list[PartField]:
    out = []
    for s in spec:
        m = _TRANSFORM_RE.match(s)
        if m:
            tr, arg, src = m.group(1), m.group(2), m.group(3)
            if tr in ("bucket", "truncate"):
                if arg is None or int(arg) < 1:
                    raise ValueError(f"{tr}() needs a positive width: {s!r}")
                out.append(PartField(s, tr, src, int(arg)))
            else:
                if arg is not None:
                    raise ValueError(f"{tr}() takes only a column: {s!r}")
                out.append(PartField(s, tr, src, None))
        else:
            name = s.strip()
            if not re.match(r"^[A-Za-z_]\w*$", name):
                raise ValueError(f"bad partition-spec entry {s!r}")
            out.append(PartField(s, "identity", name, None))
    return out


def _utc_date(col):
    """The UTC calendar date of a timestamp, independent of the
    session timezone (epoch-seconds -> epoch-days -> DATE)."""
    epoch_days = F.floor(col.cast("timestamp").cast("double") / 86400).cast("int")
    return F.date_add(F.to_date(F.lit("1970-01-01")), epoch_days)


def _transform_col(pf: PartField, col, dtype: str = ""):
    """The transform as a Column expression over ``col`` (a row column
    at write time; a literal expression at predicate-projection time,
    where Catalyst constant-folds it so partition pruning engages)."""
    if pf.transform == "identity":
        return col
    if pf.transform == "hours":
        return F.floor(col.cast("timestamp").cast("double") / 3600).cast("long")
    if pf.transform == "days":
        return F.floor(col.cast("timestamp").cast("double") / 86400).cast("long")
    if pf.transform == "months":
        # via the UTC epoch-day calendar (year/month of a DATE are
        # tz-free), so writer and reader sessions with different
        # spark.sql.session.timeZone derive the SAME partition value -
        # hours/days get this for free from the epoch math above
        d = _utc_date(col)
        return ((F.year(d) - F.lit(1970)) * 12 + F.month(d) - 1).cast("int")
    if pf.transform == "years":
        return (F.year(_utc_date(col)) - F.lit(1970)).cast("int")
    if pf.transform == "bucket":
        return F.pmod(F.xxhash64(col), F.lit(pf.arg)).cast("int")
    if pf.transform == "truncate":
        if dtype.startswith("string") or dtype.startswith("varchar"):
            return F.substring(col, 1, pf.arg)
        # floor-to-width via pmod (negative-safe, Iceberg semantics)
        return col - F.pmod(col, F.lit(pf.arg))
    raise ValueError(f"unknown transform {pf.transform!r}")


def _kw_at(s: str, i: int, n: int) -> bool:
    before_ok = i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_")
    j = i + n
    after_ok = j >= len(s) or not (s[j].isalnum() or s[j] == "_")
    return before_ok and after_ok


def _split_conjuncts(where: str) -> list[str]:
    """Split a predicate on top-level AND - paren-, quote-, and
    BETWEEN-aware (the AND inside BETWEEN..AND is not a conjunction).

    A depth-0 OR makes the WHOLE expression a disjunction (AND binds
    tighter: ``X OR Y AND Z`` is ``X OR (Y AND Z)``), so no part of it
    is a required conjunct and nothing may project to a partition
    predicate - return it unsplit (the _LIT_RE guard then rejects it
    and only the row filter applies)."""
    s, n = where, len(where)
    parts, depth, start, i, pending_between = [], 0, 0, 0, 0
    while i < n:
        ch = s[i]
        if ch == "'":
            i += 1
            while i < n and s[i] != "'":
                i += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and s[i : i + 2].upper() == "OR" and _kw_at(s, i, 2):
            return [where.strip()]
        elif depth == 0 and s[i : i + 7].upper() == "BETWEEN" and _kw_at(s, i, 7):
            pending_between += 1
            i += 6
        elif depth == 0 and s[i : i + 3].upper() == "AND" and _kw_at(s, i, 3):
            if pending_between:
                pending_between -= 1
            else:
                parts.append(s[start:i])
                start = i + 3
            i += 2
        i += 1
    parts.append(s[start:])
    out = []
    for p in parts:
        p = p.strip()
        # strip one layer of fully-enclosing parens
        while p.startswith("(") and p.endswith(")"):
            depth = 0
            closed_early = False
            for j, ch in enumerate(p):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0 and j < len(p) - 1:
                        closed_early = True
                        break
            if closed_early:
                break
            p = p[1:-1].strip()
        if p:
            out.append(p)
    return out


_CMP_RE = re.compile(r"^([A-Za-z_]\w*)\s*(>=|<=|=|<|>)\s*(.+)$", re.S)
_BETWEEN_RE = re.compile(
    r"^([A-Za-z_]\w*)\s+BETWEEN\s+(.+?)\s+AND\s+(.+)$", re.I | re.S
)
_IN_RE = re.compile(r"^([A-Za-z_]\w*)\s+IN\s*\((.+)\)\s*$", re.I | re.S)
# a projectable comparand must be a SIMPLE literal: number, quoted
# string, TIMESTAMP/DATE literal, or boolean.  Anything else - and in
# particular a conjunct-free predicate like "a = 1 OR b = 2", whose
# whole tail would otherwise be swallowed as the "literal" by the
# greedy _CMP_RE - must NOT project to a partition predicate (pruning
# on one OR branch would wrongly drop the other branch's rows); it
# still applies as the ordinary row filter.
_LIT_RE = re.compile(
    r"^(?:[-+]?\d+(?:\.\d+)?"
    r"|'(?:[^']|'')*'"
    r"|(?:TIMESTAMP|DATE)\s*'[^']*'"
    r"|TRUE|FALSE)$",
    re.I,
)


def _split_commas(s: str) -> list[str]:
    """Top-level, quote-aware comma split (IN-list literals)."""
    out, depth, start, i, n = [], 0, 0, 0, len(s)
    while i < n:
        ch = s[i]
        if ch == "'":
            i += 1
            while i < n and s[i] != "'":
                i += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i])
            start = i + 1
        i += 1
    out.append(s[start:])
    return [p.strip() for p in out if p.strip()]


def _parse_conjuncts(where: str) -> list[tuple[str, str, list[str]]]:
    """Best-effort (col, op, literal SQL strings) triples from the
    simple conjuncts of ``where``; unrecognized conjuncts are skipped
    (they still apply as the row filter - only pruning is forgone)."""
    def lits_ok(lits: list[str]) -> bool:
        return all(_LIT_RE.match(v.strip()) for v in lits)

    out = []
    for c in _split_conjuncts(where):
        m = _BETWEEN_RE.match(c)
        if m and lits_ok([m.group(2), m.group(3)]):
            out.append((m.group(1), "between", [m.group(2), m.group(3)]))
            continue
        m = _IN_RE.match(c)
        if m and lits_ok(_split_commas(m.group(2))):
            out.append((m.group(1), "in", _split_commas(m.group(2))))
            continue
        m = _CMP_RE.match(c)
        if m and lits_ok([m.group(3)]):
            out.append((m.group(1), m.group(2), [m.group(3).strip()]))
    return out


def _partition_predicate(
    conjuncts: list[tuple[str, str, list[str]]],
    spec: list[str],
    phys_of: dict[str, str],
    type_of: dict[str, str],
):
    """Project row-filter conjuncts onto a dir's partition columns.
    Returns a Column predicate over the partition-directory columns,
    or None when nothing projects.  Sound superset by transform
    monotonicity: every row satisfying the filter lives in a kept
    directory; the row filter still applies after."""

    fields = parse_partition_spec(spec)
    preds = []
    for col, op, lits in conjuncts:
        phys = phys_of.get(col, col)
        dtype = type_of.get(col, "")
        for pf in fields:
            if pf.source != phys:
                continue
            part = F.col(pf.name)

            def t(lit: str):
                # Cast the literal to the SOURCE column's type first:
                # xxhash64 (bucket) is type-sensitive, so hashing an
                # int literal against a bigint-typed column would pick
                # the wrong bucket and silently prune the matching
                # directory.  Monotone transforms tolerate the cast
                # (no-op for already-typed literals).
                e = F.expr(lit)
                if dtype:
                    e = e.cast(dtype)
                return _transform_col(pf, e, dtype)

            if pf.transform == "bucket":
                if not dtype:
                    # without the column type the hash input type is
                    # unknowable - skip pruning (row filter still runs)
                    continue
                if op == "=":
                    preds.append(part == t(lits[0]))
                elif op == "in":
                    preds.append(
                        reduce(lambda x, y: x | y, [part == t(v) for v in lits])
                    )
            else:
                if op == "=":
                    preds.append(part == t(lits[0]))
                elif op in (">", ">="):
                    preds.append(part >= t(lits[0]))
                elif op in ("<", "<="):
                    preds.append(part <= t(lits[0]))
                elif op == "between":
                    preds.append((part >= t(lits[0])) & (part <= t(lits[1])))
                elif op == "in":
                    preds.append(
                        reduce(lambda x, y: x | y, [part == t(v) for v in lits])
                    )
    if not preds:
        return None
    return reduce(lambda x, y: x & y, preds)


def _leaf_partition_dirs(root: str, depth: int) -> list[str]:
    """Relative ``k=v/k=v`` leaf paths exactly ``depth`` levels under
    ``root`` (the partition directories a Spark partitionBy write
    lays out)."""
    out: list[str] = []

    def walk(cur: str, lvl: int, rel: str) -> None:
        if lvl == depth:
            out.append(rel)
            return
        try:
            entries = sorted(os.listdir(cur))
        except OSError:
            return
        for name in entries:
            p = os.path.join(cur, name)
            if os.path.isdir(p) and "=" in name:
                walk(p, lvl + 1, os.path.join(rel, name) if rel else name)

    walk(root, 0, "")
    return out


def _part_value_type(pf: PartField, type_of: dict[str, str]) -> str:
    """The Spark type a directory-encoded partition VALUE carries -
    mirrors the return types of :func:`_transform_col` so a
    driver-built frame of parsed dir values compares correctly under
    the projected predicate."""
    if pf.transform == "identity":
        return type_of.get(pf.source, "string")
    if pf.transform in ("hours", "days"):
        return "bigint"
    if pf.transform in ("months", "years", "bucket"):
        return "int"
    if pf.transform == "truncate":
        return type_of.get(pf.source, "string")
    return "string"


# -- file-level column statistics (Iceberg manifest min/max skipping) -

def _stat_ok(v) -> bool:
    """JSON-roundtrippable, totally-ordered stat values only: ints,
    finite floats, ASCII strings (parquet string min/max are byte-lex
    bounds, which equals Python str order only for ASCII)."""
    if isinstance(v, bool):
        return False
    if isinstance(v, int):
        return True
    if isinstance(v, float):
        return math.isfinite(v)
    if isinstance(v, str):
        return v.isascii()
    return False


def _collect_dir_stats(root: str) -> dict[str, dict[str, list]]:
    """Per-data-file ``{col: [min, max]}`` from the parquet footers of
    an immutable committed data dir (the Iceberg manifest-stats
    analog; computed once at commit, carried forward by reference
    afterwards).  A column missing stats in ANY row group is dropped
    for that file; a file that cannot be statted at all records ``{}``
    (always kept - stats only ever prune, never exclude by absence).

    Footer reads are driver-side here; on a real cluster the write
    tasks would return these with the commit message (Iceberg's
    DataFile stats), which is a protocol change, not a plan change."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in sorted(files):
            if not fn.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, root)
            cols: dict[str, list] = {}
            try:
                md = pq.ParquetFile(p).metadata
                bad: set[str] = set()
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        cc = g.column(ci)
                        name = cc.path_in_schema
                        if "." in name or name in bad:
                            continue
                        st = cc.statistics
                        if (
                            st is None
                            or not st.has_min_max
                            or not _stat_ok(st.min)
                            or not _stat_ok(st.max)
                        ):
                            bad.add(name)
                            cols.pop(name, None)
                            continue
                        if name in cols:
                            lo, hi = cols[name]
                            cols[name] = [min(lo, st.min), max(hi, st.max)]
                        else:
                            cols[name] = [st.min, st.max]
            except Exception:
                cols = {}
            out[rel] = cols
    return out


def _lit_value(s: str):
    """Python value of a simple SQL literal (''-escaped string or
    number); None = not comparable against file stats (pruning is
    forgone, the row filter still applies)."""
    s = s.strip()
    if len(s) >= 2 and s[0] == "'" and s[-1] == "'":
        return s[1:-1].replace("''", "'")
    try:
        return int(s)
    except ValueError:
        pass
    try:
        v = float(s)
        return v if math.isfinite(v) else None
    except ValueError:
        return None


def _file_may_match(
    colstats: dict[str, list],
    conjuncts: list[tuple[str, str, list[str]]],
    phys_of: dict[str, str],
) -> bool:
    """Can any row of a file with these [min, max] bounds satisfy every
    conjunct?  Sound: bounds cover all non-null values, and every
    supported operator is null-rejecting, so a skipped file provably
    contributes no qualifying row.  Unknown columns / incomparable
    literals keep the file."""
    for col, op, lits in conjuncts:
        rng = colstats.get(phys_of.get(col, col) or col)
        if not rng:
            continue
        lo, hi = rng
        vals = [_lit_value(x) for x in lits]
        if any(v is None for v in vals):
            continue
        if any(isinstance(v, str) != isinstance(lo, str) for v in vals):
            continue
        if op == "=":
            if not (lo <= vals[0] <= hi):
                return False
        elif op == ">":
            if not hi > vals[0]:
                return False
        elif op == ">=":
            if not hi >= vals[0]:
                return False
        elif op == "<":
            if not lo < vals[0]:
                return False
        elif op == "<=":
            if not lo <= vals[0]:
                return False
        elif op == "between":
            if not (hi >= vals[0] and lo <= vals[1]):
                return False
        elif op == "in":
            if not any(lo <= v <= hi for v in vals):
                return False
    return True


@dataclass
class MergeTable:
    """A keyed table with MERGE-upsert writes, atomic versioned
    commits, metadata-only schema evolution, partition specs with
    spec evolution, and orphan-file GC.  ``key_cols`` is the MERGE ON
    clause; ``partition_spec`` seeds a NEW table's layout (an existing
    table's manifest wins - use :meth:`set_partition_spec` to evolve
    it)."""

    path: str
    key_cols: tuple[str, ...]
    keep_versions: int = 2
    partition_spec: tuple[str, ...] = ()
    # seeds a NEW table's sort order (Iceberg SortOrder); the manifest
    # wins for an existing table - evolve with :meth:`set_sort_order`
    sort_order: tuple[str, ...] = ()
    # bind this INSTANCE to a named branch (Iceberg branches): reads
    # resolve the branch head and commits advance the branch pointer,
    # never main - see create_branch()/for_branch()/fast_forward()
    branch: str | None = None
    # staged dirs older than this are crashed writers' leftovers the
    # GC may reclaim; in-flight writers are always younger
    staged_ttl_s: int = 6 * 3600

    # -- pointers and manifests ---------------------------------------
    def _pointer(self) -> str:
        """The pointer this instance's reads and commits resolve: main
        (_CURRENT) or, for a branch-bound instance, the branch's own
        pointer file - the whole branch mechanism is this one
        indirection; every other code path already goes through
        current_version()/_pointer()."""
        if self.branch:
            return os.path.join(self.path, f"_BRANCH_{self.branch}")
        return os.path.join(self.path, _POINTER)

    def current_version(self) -> int | None:
        try:
            with open(self._pointer(), encoding="ascii") as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def _ref_heads(self) -> dict[str, int]:
        """Every live ref head: 'main' plus each branch (GC keeps all
        of them; a branch instance's commit must never reclaim main's
        history and vice versa)."""
        out = {}
        for entry in os.listdir(self.path):
            if entry == _POINTER:
                name = "main"
            elif entry.startswith("_BRANCH_") and not entry.endswith(".tmp"):
                name = entry[len("_BRANCH_"):]
            else:
                continue
            try:
                with open(os.path.join(self.path, entry), encoding="ascii") as f:
                    out[name] = int(f.read().strip())
            except (OSError, ValueError):
                continue
        return out

    def _next_version(self) -> int:
        """Globally-unique next version number across ALL refs (called
        under the commit lock): interleaved main/branch commits must
        never reuse a manifest/data-dir name."""
        vs = [0]
        for entry in os.listdir(self.path):
            mm = re.match(r"^v(\d{6})\.json$", entry)
            if mm:
                vs.append(int(mm.group(1)))
            elif _DATA_DIR_RE.match(entry):
                vs.append(int(entry[1:]))
        vs.extend(self._ref_heads().values())
        return max(vs) + 1

    def _manifest_path(self, v: int) -> str:
        return os.path.join(self.path, f"v{v:06d}.json")

    def _load_manifest(self, v: int) -> dict | None:
        try:
            with open(self._manifest_path(v), encoding="utf-8") as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    # -- named refs (Iceberg tags) --------------------------------------
    def _refs_path(self) -> str:
        return os.path.join(self.path, "_REFS")

    def tags(self) -> dict[str, int]:
        """Named snapshot refs (Iceberg tags): tag name -> version."""
        try:
            with open(self._refs_path(), encoding="utf-8") as f:
                return {k: int(v) for k, v in json.load(f).items()}
        except FileNotFoundError:
            return {}

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin a retained snapshot under ``name`` (Iceberg
        ``create_tag``): the tagged manifest and its data dirs are
        EXEMPT from snapshot expiry until :meth:`drop_tag`, so a tag is
        how a dataset release survives the retention window."""
        if not re.match(r"^[A-Za-z_][\w.-]*$", name):
            raise ValueError(f"bad tag name {name!r}")
        with _commit_lock(self.path):
            cur = self.current_version()
            if cur is None:
                raise ValueError(f"create_tag() on uncommitted table {self.path}")
            v = cur if version is None else version
            m = self._load_manifest(v)
            if m is None or not all(
                os.path.isdir(os.path.join(self.path, d)) for d in m["data_dirs"]
            ):
                raise ValueError(
                    f"version {v} not retained (current {cur}, keep_versions "
                    f"{self.keep_versions})"
                )
            refs = self.tags()
            if name in refs:
                raise ValueError(f"tag {name!r} already exists (at v{refs[name]})")
            refs[name] = v
            _atomic_write(self._refs_path(), json.dumps(refs))
            return v

    def drop_tag(self, name: str) -> int:
        """Remove a tag; its snapshot becomes expirable again at the
        next commit's GC (nothing is deleted here)."""
        with _commit_lock(self.path):
            refs = self.tags()
            if name not in refs:
                raise ValueError(f"no tag {name!r}")
            v = refs.pop(name)
            _atomic_write(self._refs_path(), json.dumps(refs))
            return v

    # -- branches (writable refs; the Iceberg branch / WAP pattern) ----
    def branches(self) -> dict[str, int]:
        """Live branches: name -> head version ('main' excluded)."""
        return {k: v for k, v in self._ref_heads().items() if k != "main"}

    def for_branch(self, name: str) -> "MergeTable":
        """This table bound to ``name``: reads resolve the branch head,
        commits advance the branch pointer (main untouched)."""
        import dataclasses

        return dataclasses.replace(self, branch=name)

    def create_branch(self, name: str, version: int | None = None) -> int:
        """Iceberg ``create_branch``: a WRITABLE ref starting at
        ``version`` (default: this instance's current head).  Branch
        commits allocate globally-unique versions, so main and branch
        histories interleave without colliding; GC retains every ref's
        own ancestry.  The write-audit-publish flow: create_branch ->
        commit via for_branch(...) -> validate -> fast_forward."""
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name) or name == "main":
            raise ValueError(f"bad branch name {name!r}")
        with _commit_lock(self.path):
            if name in self._ref_heads():
                raise ValueError(f"branch {name!r} exists")
            v = version if version is not None else self.current_version()
            if v is None:
                raise ValueError(f"create_branch on uncommitted table {self.path}")
            if self._load_manifest(v) is None:
                raise ValueError(f"version {v} not retained")
            _atomic_write(os.path.join(self.path, f"_BRANCH_{name}"), str(v))
            return v

    def drop_branch(self, name: str) -> int:
        """Remove a branch; its unmerged history becomes expirable at
        the next commit's GC."""
        with _commit_lock(self.path):
            heads = self._ref_heads()
            if name not in heads or name == "main":
                raise ValueError(f"no branch {name!r}")
            os.unlink(os.path.join(self.path, f"_BRANCH_{name}"))
            return heads[name]

    def fast_forward(self, from_branch: str) -> int:
        """Advance THIS instance's ref to ``from_branch``'s head - the
        publish step of write-audit-publish.  Requires this ref's
        current head to be an ancestor of the branch head (walked via
        manifest parent links); a diverged ref raises instead of
        silently dropping commits."""
        with _commit_lock(self.path):
            heads = self._ref_heads()
            if from_branch not in heads:
                raise ValueError(f"no branch {from_branch!r}")
            target = heads[from_branch]
            cur = self.current_version()
            if cur is not None and cur != target:
                chain = self._ancestors(target, 10_000)
                if cur not in chain:
                    raise ValueError(
                        f"cannot fast-forward: head {cur} is not an ancestor "
                        f"of {from_branch!r} head {target} (diverged history)"
                    )
            _atomic_write(self._pointer(), str(target))
            self._expire_and_gc_locked(target)
            return target

    def exists(self) -> bool:
        return self.current_version() is not None

    # -- read path ----------------------------------------------------
    def version_as_of(self, ts) -> int:
        """The newest snapshot on this ref's own history committed at
        or before ``ts`` (Iceberg ``TIMESTAMP AS OF``).  ``ts`` is a
        datetime or ISO-8601 string; naive values are taken as UTC
        (the zone commit timestamps are written in).  Raises if every
        retained ancestor is newer - same contract as Iceberg when the
        timestamp predates the oldest retained snapshot."""

        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"table {self.path} has no commits")
        for v, m in self._ancestors(cur, 10**9).items():  # newest first
            if _dt.datetime.fromisoformat(m["committed_at"]) <= ts:
                return v
        raise ValueError(
            f"no retained snapshot of {self.path} at or before {ts.isoformat()}"
        )

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        where: str | None = None,
        tag: str | None = None,
        branch: str | None = None,
        as_of=None,
        _pos: bool = False,
    ) -> DataFrame | None:
        """A snapshot: the current one, or - time travel - any retained
        prior ``version`` (the Iceberg ``VERSION AS OF`` analog; older
        than the retention window raises).  None before the first
        commit.  The snapshot's own schema applies: reading a
        pre-evolution version shows the pre-evolution columns.

        ``branch`` reads a branch head (sugar for
        ``for_branch(name).read(...)``, Iceberg's branch read).

        ``where`` (a SQL predicate over the LOGICAL columns) is both
        applied as the row filter and - Iceberg scan planning - its
        simple conjuncts are projected through the partition spec's
        transforms onto the hidden partition columns, so a predicate
        like ``ts >= T1 AND ts < T2`` prunes ``hours(ts)`` directories
        the scan never opens.

        ``tag`` reads a named ref (Iceberg ``VERSION AS OF 'tag'``);
        tagged snapshots are GC-pinned, so a tag read works at any
        age.  ``as_of`` (datetime or ISO string) reads the newest
        snapshot committed at or before that time - Iceberg's
        ``TIMESTAMP AS OF`` - resolved via :meth:`version_as_of`.

        ``_pos`` (internal, the position-delete writer's input):
        append each row's physical identity - table-relative file path
        and parquet row index - as ``_pos_file`` / ``_pos_row``."""
        if branch is not None:
            if self.branch is not None and branch != self.branch:
                raise ValueError("instance already bound to a branch")
            heads = self._ref_heads()
            if branch not in heads or branch == "main":
                raise ValueError(f"no branch {branch!r} on table {self.path}")
            return self.for_branch(branch).read(
                spark, version=version, where=where, tag=tag, as_of=as_of
            )
        cur = self.current_version()
        if cur is None:
            return None
        if sum(x is not None for x in (version, tag, as_of)) > 1:
            raise ValueError("pass at most one of version / tag / as_of")
        if tag is not None:
            refs = self.tags()
            if tag not in refs:
                raise ValueError(f"no tag {tag!r} on table {self.path}")
            version = refs[tag]
        if as_of is not None:
            version = self.version_as_of(as_of)
        v = cur if version is None else version
        m = self._load_manifest(v)
        names = m["data_dirs"] if m else []
        dels = _delete_entries(m)
        dirs = [os.path.join(self.path, d) for d in names] + [
            os.path.join(self.path, e["dir"]) for e in dels
        ]
        if m is None or not all(os.path.isdir(d) for d in dirs):
            raise ValueError(
                f"version {v} not retained (current {cur}, keep_versions "
                f"{self.keep_versions})"
            )
        conjs = _parse_conjuncts(where) if where else []
        phys_of = {f["name"]: f["physical"] for f in m["schema"]}
        # manifest min/max file skipping: per dir, either None (scan
        # the whole dir - nothing prunable) or the kept-file subset
        kept_files = (
            {n: self._prune_files(n, conjs, m, phys_of) for n in names}
            if conjs
            else {}
        )
        if not dels:
            out = self._read_subset(
                spark, m, names, conjs, kept_files, phys_of, with_pos=_pos
            )
        else:
            # merge-on-read: group the data dirs by which delete files
            # apply (sequence-number semantics at dir granularity - a
            # dir appended AFTER a delete is outside its applies_to),
            # anti-join each group against its deletes, union groups.
            # The delete side is small by construction, so each
            # anti-join broadcasts; the data plane is never rewritten.

            groups: dict[frozenset, list[str]] = {}
            for n in names:
                gkey = frozenset(e["dir"] for e in dels if n in e["applies_to"])
                groups.setdefault(gkey, []).append(n)
            parts = []
            for gkey in sorted(groups, key=lambda k: groups[k]):
                has_pos_del = any(
                    e.get("kind") == "position"
                    for e in dels
                    if e["dir"] in gkey
                )
                sub = self._read_subset(
                    spark,
                    m,
                    groups[gkey],
                    conjs,
                    kept_files,
                    phys_of,
                    with_pos=_pos or has_pos_del,
                )
                for e in dels:
                    if e["dir"] not in gkey:
                        continue
                    droot = os.path.join(self.path, e["dir"])
                    if e.get("kind") == "position":
                        ddf = spark.read.parquet(droot).select(
                            "_pos_file", "_pos_row"
                        )
                        sub = sub.join(
                            ddf, ["_pos_file", "_pos_row"], "left_anti"
                        )
                    else:
                        ddf = spark.read.parquet(droot).select(
                            *[
                                F.col(c["physical"]).alias(c["name"])
                                for c in e["cols"]
                            ]
                        )
                        sub = sub.join(
                            ddf, [c["name"] for c in e["cols"]], "left_anti"
                        )
                if has_pos_del and not _pos:
                    sub = sub.drop("_pos_file", "_pos_row")
                parts.append(sub)
            out = reduce(DataFrame.unionByName, parts)
        return out.filter(F.expr(where)) if where else out

    def _read_subset(
        self,
        spark: SparkSession,
        m: dict,
        names: list[str],
        conjs: list,
        kept_files: dict,
        phys_of: dict[str, str],
        with_pos: bool = False,
    ) -> DataFrame:
        """The logical frame of a subset of a snapshot's data dirs
        (the whole snapshot in the common case): per-dir scans with
        partition/transform pruning and manifest-stats file skipping,
        unioned, then the physical->logical schema mapping.

        ``with_pos`` threads each row's physical position - the
        table-relative file path and the parquet row index (Spark's
        ``_metadata`` hidden columns) - through as ``_pos_file`` /
        ``_pos_row``: the row identity position deletes key on."""
        dir_specs = m.get("dir_specs") or {}
        dirs = [os.path.join(self.path, d) for d in names]
        raw_pos = (
            [
                F.col("_metadata.file_path").alias("_raw_pos_file"),
                F.col("_metadata.row_index").alias("_pos_row"),
            ]
            if with_pos
            else []
        )
        if not any(dir_specs.get(n) for n in names):
            if not any(v is not None for v in kept_files.values()):
                # unpartitioned snapshot: one multi-path scan
                df = spark.read.parquet(*dirs)
                if with_pos:
                    df = df.select("*", *raw_pos)
            else:

                phys = [
                    f["physical"] for f in m["schema"] if f["physical"] is not None
                ]
                df = reduce(
                    DataFrame.unionByName,
                    [
                        self._dir_scan(spark, d, kept_files.get(n)).select(
                            *phys, *raw_pos
                        )
                        for n, d in zip(names, dirs)
                    ],
                )
        else:
            # partitioned (possibly mixed-spec after spec evolution):
            # per-dir scans - each dir self-describes its layout and
            # keeps its own PartitionFilters pruning - unioned by the
            # shared physical column set

            type_of = {f["name"]: f["type"] for f in m["schema"]}
            phys = [f["physical"] for f in m["schema"] if f["physical"] is not None]
            parts = []
            for dname, d in zip(names, dirs):
                sub = self._dir_scan(spark, d, kept_files.get(dname))
                spec = dir_specs.get(dname) or []
                if conjs and spec:
                    pred = _partition_predicate(conjs, spec, phys_of, type_of)
                    if pred is not None:
                        # filter BEFORE projecting the hidden partition
                        # columns away: this is what turns the derived
                        # _p_* predicate into directory pruning
                        sub = sub.filter(pred)
                parts.append(sub.select(*phys, *raw_pos))
            df = reduce(DataFrame.unionByName, parts)
        # logical view: physical->logical rename (cast pins the type -
        # partition-directory inference may narrow e.g. bigint to int);
        # physically absent columns (added post-write) read as their
        # default
        cols = []
        for fld in m["schema"]:
            if fld["physical"] is not None:
                cols.append(
                    F.col(fld["physical"]).cast(fld["type"]).alias(fld["name"])
                )
            else:
                cols.append(
                    F.lit(fld.get("default")).cast(fld["type"]).alias(fld["name"])
                )
        if with_pos:
            # table-relative path: stable across table relocation,
            # matches the delete files' stored identity.  Spark's
            # _metadata.file_path is a URI whose scheme spelling varies
            # ("file:///abs" vs "file:/abs"), so normalize the scheme
            # to a bare "/abs/..." BEFORE stripping the table prefix -
            # a fixed-length substring against the raw URI would keep
            # stray scheme characters and the stored identity would
            # only match while the abspath length never changed
            prefix = os.path.abspath(self.path) + "/"
            normalized = F.regexp_replace(
                F.col("_raw_pos_file"), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"
            )
            cols.append(
                F.substring(normalized, len(prefix) + 1, 1_000_000).alias(
                    "_pos_file"
                )
            )
            cols.append(F.col("_pos_row"))
        return df.select(*cols)

    # -- manifest-stats file skipping ---------------------------------
    def _prune_files(
        self,
        dname: str,
        conjs: list[tuple[str, str, list[str]]],
        m: dict,
        phys_of: dict[str, str],
    ) -> list[str] | None:
        """Kept-file subset of a data dir under the where-conjuncts,
        per the manifest's [min, max] file stats; None when nothing is
        prunable (no stats, or every file may match) - the caller then
        keeps the plain whole-dir scan."""
        stats = (m.get("file_stats") or {}).get(dname)
        if not stats:
            return None
        kept = [f for f, cs in stats.items() if _file_may_match(cs, conjs, phys_of)]
        return None if len(kept) == len(stats) else kept

    def _dir_scan(self, spark: SparkSession, d: str, kept: list[str] | None):
        if kept is None:
            return spark.read.parquet(d)
        if not kept:
            # every file stats-skipped: filter(false) collapses the
            # scan to an empty LocalTableScan (schema preserved, no
            # file reads) via PropagateEmptyRelation
            return spark.read.parquet(d).where(F.lit(False))
        # explicit kept files; basePath keeps the dir's partition
        # columns deriving from the directory layout
        return spark.read.option("basePath", d).parquet(
            *[os.path.join(d, f) for f in kept]
        )

    # -- commit machinery ---------------------------------------------
    def _head(self) -> dict | None:
        """The manifest of this ref's current snapshot (None before
        the first commit)."""
        cur = self.current_version()
        return self._load_manifest(cur) if cur else None

    def _props(self, m: dict | None) -> dict[str, list[str]]:
        """The table properties snapshot ``m`` carries - MERGE keys,
        partition spec, sort order, bloom columns - or, before the
        first commit (``m`` None), the constructor seeds.  The
        manifest wins, INCLUDING a legitimately-empty spec or sort
        (spec evolution can DROP partitioning: falling back on the
        falsy [] would resurrect the seed); only keys fall back to the
        seed when a manifest records none."""
        if m is None:
            return {
                "key_cols": list(self.key_cols),
                "partition_spec": list(self.partition_spec),
                "sort_order": list(self.sort_order),
                "bloom_cols": [],
            }
        return {
            "key_cols": list(m.get("key_cols") or self.key_cols),
            "partition_spec": list(m.get("partition_spec") or []),
            "sort_order": list(m.get("sort_order") or []),
            "bloom_cols": list(m.get("bloom_cols") or []),
        }

    def _effective_keys(self) -> tuple[str, ...]:
        """The MERGE keys in force: the head manifest's persisted
        ``key_cols`` (survives rename_column across instances) or, for
        a new table, the constructor seed."""
        return tuple(self._props(self._head())["key_cols"])

    def _schema_for(self, df: DataFrame, prev: dict | None) -> list[dict]:
        """Manifest schema entries for a full rewrite of ``df``.
        Column defaults are table metadata (Iceberg keeps them across
        snapshots): carry them forward through data rewrites so an
        add_column default keeps applying to later old-shaped merges."""
        defaults = (
            {f["name"]: f.get("default") for f in prev["schema"]} if prev else {}
        )
        return [
            {
                "name": f.name,
                "type": f.dataType.simpleString(),
                "physical": f.name,
                "default": defaults.get(f.name),
            }
            for f in df.schema.fields
        ]

    # -- optimistic commits (lock-free data writes) ---------------------
    def _stage(
        self,
        df: DataFrame,
        spec: list[str],
        sort: list[str] = (),
        sort_partitions: int | None = None,
        *,
        bloom: list[str] = (),
    ) -> str:
        """Write df to an anonymous staged dir WITHOUT holding the
        commit lock - the expensive part of a commit.
        :meth:`_commit_data` later renames it to its final d{v} name
        under the lock (a metadata-speed operation), so two writers'
        data writes overlap freely.  ``spec``, ``sort`` and ``bloom``
        are the pinned snapshot's layout properties (:meth:`_props`)."""
        import uuid

        name = f"_staged_{uuid.uuid4().hex[:12]}"
        cluster = [c for c in sort if c in df.columns]
        if cluster:
            # clustered write (Iceberg write.sort-order): range-
            # partition + sort within tasks so each data file covers a
            # narrow, near-disjoint slice of the sort key - this is
            # what makes the manifest [min, max] stats selective
            # enough for point/range reads to touch O(1) files.
            # sort_partitions pins the range count (compaction's
            # target file count); default = shuffle partitions.
            if sort_partitions:
                df = df.repartitionByRange(sort_partitions, *cluster)
            else:
                df = df.repartitionByRange(*cluster)
            df = df.sortWithinPartitions(*cluster)
        fields = parse_partition_spec(spec)
        types = dict(df.dtypes)
        for pf in fields:
            if pf.transform != "identity":
                # hidden partitioning: derive the physical partition
                # value; partitionBy moves it into the directory layout
                # so the data files carry only the logical columns
                df = df.withColumn(
                    pf.name,
                    _transform_col(pf, F.col(pf.source), types.get(pf.source, "")),
                )
        writer = df.write.mode("overwrite")
        for c in bloom:
            if c in df.columns:
                # parquet bloom filters (Iceberg write.parquet.bloom-
                # filter-enabled.column.*): point lookups on high-
                # cardinality keys prune ROW GROUPS the min/max stats
                # can't (random keys span every file's range); the
                # Spark/parquet reader consumes them transparently
                writer = writer.option(
                    f"parquet.bloom.filter.enabled#{c}", "true"
                )
        if fields:
            writer = writer.partitionBy(*[pf.name for pf in fields])
        try:
            writer.parquet(os.path.join(self.path, name))
        except BaseException:
            # don't leak a partial table-sized dir until the staged-TTL
            # sweep when the Spark write itself dies
            self._discard_stage(name)
            raise
        return name

    def _discard_stage(self, name: str) -> None:
        shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)

    def _commit_data(self, op: str, stage, check=None) -> int:
        """The optimistic commit every data write goes through -
        Iceberg's commit protocol, replacing the reference's full-pass
        cron lockfile (A46).  Each attempt pins the head and runs
        ``stage(base, m)`` against it with NO lock held (the pinned
        version and manifest; both None before the first commit), then
        takes the lock only to run the writer's check, rename the
        staged dir to its final d{v} name and write the manifest.

        ``stage`` returns ``(staged_dir, fields)``, where
        ``fields(data_dir, head)`` gives the properties the commit
        changes in the head manifest, its base (:meth:`_commit_manifest`)
        - or None when there is nothing to write (the pinned snapshot
        stands).  ``check(m, head)`` validates the pinned manifest
        against the head at commit time; the default is "the head is
        still the base".  A failed check is a lost race, and so is a
        staging failure while the head moved (the base GC'd
        mid-scan): the attempt rebases on the new head, so the loser
        recomputes and no update is lost.  A check may also raise to
        fail the write outright.  The staged dir is discarded on any
        failure; :data:`_COMMIT_ATTEMPTS` lost races raise
        :class:`CommitConflict`."""
        for _ in range(_COMMIT_ATTEMPTS):
            base = self.current_version()
            m = self._load_manifest(base) if base else None
            try:
                out = stage(base, m)
            except Exception:
                if self.current_version() != base:
                    continue  # the base moved mid-stage: rebase
                raise
            if out is None:
                return base
            staged, fields = out
            try:
                with _commit_lock(self.path):
                    cur = self.current_version()
                    head = self._load_manifest(cur) if cur else None
                    ok = check(m, head) if check else cur == base
                    if ok:

                        def edit(v: int) -> dict:
                            nonlocal staged
                            data_dir = f"d{v:06d}"
                            os.rename(
                                os.path.join(self.path, staged),
                                os.path.join(self.path, data_dir),
                            )
                            staged = None
                            return fields(data_dir, head)

                        # a first commit is an overwrite, whichever
                        # writer makes it
                        return self._commit_manifest(
                            op if base else "overwrite", head, edit
                        )
            finally:
                if staged is not None:
                    self._discard_stage(staged)
        raise CommitConflict(
            f"{op} on {self.path} lost {_COMMIT_ATTEMPTS} optimistic-commit "
            "races in a row; reduce writer contention or retry the write"
        )

    def _stage_snapshot(
        self, df: DataFrame, m: dict | None, sort_partitions: int | None = None
    ):
        """The ``stage`` of a write whose ``df`` is the whole next
        snapshot (rewrites, overwrite, a first commit), laid out by the
        pinned manifest ``m``'s properties.  It commits no pending
        deletes: a rewrite read its rows through read(), which already
        applied them, so it MATERIALIZES them (Iceberg's rewrite
        purging delete files), and an overwrite obsoletes them."""
        p = self._props(m)
        spec = p["partition_spec"]
        staged = self._stage(
            df, spec, p["sort_order"], sort_partitions, bloom=p["bloom_cols"]
        )
        return staged, lambda data_dir, head: {
            "data_dirs": [data_dir],
            "schema": self._schema_for(df, head),
            "dir_specs": {data_dir: spec} if spec else {},
            "deletes": [],
        }

    def _rewrite(
        self,
        spark: SparkSession,
        op: str,
        build,
        sort_partitions: int | None = None,
        first: DataFrame | None = None,
    ) -> int:
        """Copy-on-write: commit ``build(rows, m)`` - a frame computed
        from the pinned snapshot's rows and manifest - as the whole
        next snapshot, with the default check (a concurrent commit
        rebases the rewrite).  On an uncommitted table ``first`` is
        committed as is (merge's bootstrap); without it the write
        raises."""

        def stage(base: int | None, m: dict | None):
            if m is not None:
                df = build(self.read(spark, base), m)
            elif first is not None:
                df = first
            else:
                raise ValueError(f"{op}() on uncommitted table {self.path}")
            return self._stage_snapshot(df, m, sort_partitions)

        return self._commit_data(op, stage)

    def _commit_manifest(self, op: str, base: dict | None, edit) -> int:
        """Write the next snapshot as an edit of ``base``, the head
        manifest the commit builds on (None for a first commit) -
        Iceberg's commit, which copies the previous metadata file and
        edits it.  ``edit(v)`` gets the allocated version (a data
        commit names its ``d{v}`` dir after it) and returns the
        properties the commit changes; every other property carries
        over from ``base`` as :meth:`_props` reads it (the constructor
        seeds before the first commit).

        The lineage fields (:data:`_LINEAGE`) never carry over:
        ``parent`` is the base's version - the ref head the commit was
        built on, the ancestry branch GC and fast-forward walk - unless
        the edit names another (a rollback names its target), and
        ``abandoned_head`` is written only when the edit names it.

        ``file_stats`` (per-dir per-file [min, max] column bounds, the
        Iceberg manifest-stats analog) keeps the edited manifest's
        entry for every dir it lists (dirs are immutable once
        committed) and collects the parquet footers of the dirs it
        lacks - the dirs this commit wrote.

        Manifest first, pointer second: a crash between the two leaves
        a stale manifest the next commit overwrites (and whose data dir
        the GC reclaims once unreferenced), never a pointer to a
        missing snapshot.  Runs under the commit lock."""
        v = self._next_version()
        man = {k: x for k, x in (base or {}).items() if k not in _LINEAGE}
        man.update(self._props(base), parent=(base or {}).get("version"))
        man.update(edit(v))
        stats = man.get("file_stats") or {}
        man["file_stats"] = {
            d: (
                stats[d]
                if d in stats
                else _collect_dir_stats(os.path.join(self.path, d))
            )
            for d in man["data_dirs"]
        }
        man.update(
            version=v,
            # snapshot summary (Iceberg's snapshot operation + timestamp
            # metadata); microsecond precision: second-truncation made
            # TIMESTAMP AS OF resolve to snapshots committed *later*
            # within the same wall-clock second
            operation=op,
            committed_at=_dt.datetime.now(_dt.timezone.utc).isoformat(
                timespec="microseconds"
            ),
        )
        _atomic_write(self._manifest_path(v), json.dumps(man))
        _atomic_write(self._pointer(), str(v))
        self._expire_and_gc_locked(v)
        return v

    def _ancestors(self, v: int | None, n: int) -> dict[int, dict]:
        """Up to ``n`` versions of a ref's own history, newest first,
        each mapped to the manifest the walk read for its ``parent``
        link.  A MISSING manifest means snapshot expiry truncated this
        ref's chain: stop there - guessing ``v - 1`` would walk into a
        numerically-adjacent version that may belong to ANOTHER
        branch's retained history (time travel would then read
        unpublished branch data)."""
        out: dict[int, dict] = {}
        while v and len(out) < n and v not in out:
            m = self._load_manifest(v)
            if m is None:
                break  # expired ancestor: chain truncated, never guess
            out[v] = m
            v = m["parent"]
        return out

    def _expire_and_gc_locked(self, cur: int) -> list[str]:
        """Snapshot expiry + orphan-file GC (Iceberg
        ``expire_snapshots`` + ``remove_orphan_files``): drop manifests
        beyond the retention window, then delete every data dir no
        retained manifest references - including dirs left behind by a
        crash between data write and manifest commit.  Runs under the
        commit lock, so an in-flight commit's dir can never be
        mistaken for an orphan."""
        return self._sweep_locked(
            self._retained_locked(
                cur, lambda head: self._ancestors(head, self.keep_versions)
            )
        )

    def _retained_locked(self, cur: int, chain) -> dict[int, dict | None]:
        """The versions expiry keeps, each with its manifest, by one
        walk both expiry policies share.  Retention is PER REF:
        ``chain(head)`` gives the part of a ref head's own ancestry (as
        :meth:`_ancestors` returns it) that the policy retains, for
        main, every branch and ``cur``, so a commit on one ref never
        reclaims another ref's history.  Tagged snapshots are pinned
        past any policy until the tag is dropped."""
        keep: dict[int, dict | None] = {}
        pending = list({cur, *self._ref_heads().values()})
        while pending:
            for v, m in chain(pending.pop()).items():
                if v in keep:
                    continue
                keep[v] = m
                # a rollback manifest records the head it abandoned:
                # the rolled-back-over chain stays a roll-forward
                # target until the rollback itself ages out of
                # retention ("ages out, not erased") - crashed
                # never-current manifests have no such link and are
                # reclaimed as before
                ab = m.get("abandoned_head")
                if ab is not None and ab not in keep:
                    pending.append(ab)
        for v in self.tags().values():
            if v not in keep:
                keep[v] = self._load_manifest(v)
        return keep

    def _sweep_locked(self, keep: dict[int, dict | None]) -> list[str]:
        """Remove every manifest not in ``keep``, then every data /
        delete dir no retained manifest references, then stale staged
        dirs.  The physical half of both expiry policies."""
        removed: list[str] = []
        referenced: set[str] = set()
        for man in keep.values():
            if man:
                referenced.update(man["data_dirs"])
                referenced.update(e["dir"] for e in _delete_entries(man))
        for entry in sorted(os.listdir(self.path)):
            mm = re.match(r"^v(\d{6})\.json$", entry)
            if mm and int(mm.group(1)) not in keep:
                os.unlink(os.path.join(self.path, entry))
                removed.append(entry)
        import time as _time

        now = _time.time()
        for entry in sorted(os.listdir(self.path)):
            p = os.path.join(self.path, entry)
            if not os.path.isdir(p):
                continue
            if _DATA_DIR_RE.match(entry) and entry not in referenced:
                shutil.rmtree(p, ignore_errors=True)
                removed.append(entry)
            elif _STAGED_RE.match(entry):
                # a crashed optimistic writer's leftover; live writers'
                # stages are always younger than the TTL
                try:
                    age = now - os.path.getmtime(p)
                except OSError:
                    continue
                if age > self.staged_ttl_s:
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(entry)
        return removed

    def read_changes(
        self, spark: SparkSession, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Incremental scan (Iceberg's incremental append scan analog):
        the rows present in ``to_version`` (default current) but not in
        ``from_version`` - what a downstream incremental consumer must
        process to catch up.

        Fast path: when the interval's history is append-only (``to``'s
        data-dir list extends ``from``'s), ONLY the new dirs are
        scanned - O(delta), no diff work, any table size.  A rewrite
        in the interval (merge/compact/update/delete) breaks dir
        lineage, so it falls back to a full-row anti-join of the two
        snapshots (exact, but O(table)); both versions must still be
        retained."""
        cur = self.current_version()
        to_v = cur if to_version is None else to_version
        m_from = self._load_manifest(from_version)
        m_to = self._load_manifest(to_v)
        if _append_only(m_from, m_to):
            new_dirs = m_to["data_dirs"][len(m_from["data_dirs"]) :]
            if new_dirs and all(
                os.path.isdir(os.path.join(self.path, d)) for d in new_dirs
            ):
                # no delete applies to the delta: the deletes are the
                # same at both ends and predate the new dirs
                return self._read_subset(spark, m_to, new_dirs, [], {}, {})
        after = self.read(spark, to_v)
        before = self.read(spark, from_version)
        shared = [c for c in after.columns if c in before.columns]
        # NULL-safe equality per shared column: a bare column-list
        # equi-join never matches a row containing NULL (e.g. the
        # default-NULL values merge(evolve_schema=True)/add_column
        # produce), which would re-report identical rows as changes on
        # every incremental read

        before_s = before.select(*shared)
        cond = reduce(
            lambda x, y: x & y,
            [after[c].eqNullSafe(before_s[c]) for c in shared],
        )
        return after.join(before_s, cond, "left_anti")

    def read_changelog(
        self, spark: SparkSession, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Changelog scan (Iceberg ``create_changelog_view`` analog):
        every row INSERTED or DELETED between the two snapshots,
        tagged by a ``_change_type`` column ('insert' / 'delete');
        an update surfaces as its delete + insert pair, carried-over
        rows appear in neither.  The complement of
        :func:`apply_changes_stream`: one table's changelog can drive
        another's CDC apply.

        Same retention requirements and fast path as
        :meth:`read_changes`: an append-only interval reads ONLY the
        delta dirs for the insert side and knows the delete side is
        empty without any diff work; a rewrite in the interval falls
        back to two null-safe anti-joins (exact, O(table))."""
        cur = self.current_version()
        to_v = cur if to_version is None else to_version
        inserts = self.read_changes(spark, from_version, to_v).select(
            "*", F.lit("insert").alias("_change_type")
        )
        if _append_only(self._load_manifest(from_version), self._load_manifest(to_v)):
            return inserts  # nothing was deleted
        after = self.read(spark, to_v)
        before = self.read(spark, from_version)
        shared = [c for c in before.columns if c in after.columns]

        after_s = after.select(*shared)
        cond = reduce(
            lambda x, y: x & y,
            [before[c].eqNullSafe(after_s[c]) for c in shared],
        )
        deletes = before.join(after_s, cond, "left_anti").select(
            "*", F.lit("delete").alias("_change_type")
        )
        # schemas may differ across an evolution: align on the union
        for c in after.columns:
            if c not in before.columns:
                deletes = deletes.withColumn(
                    c, F.lit(None).cast(after.schema[c].dataType)
                )
        return inserts.unionByName(deletes, allowMissingColumns=True)

    def snapshots(self) -> list[dict]:
        """The retained snapshots, oldest first (Iceberg's
        ``snapshots`` metadata table): version, data dirs, partition
        spec, column names, parent version, and the snapshot summary
        (operation, commit timestamp, data-file count) per retained
        manifest."""
        out = []
        refs = self.tags()
        cur = self.current_version()
        for entry in sorted(os.listdir(self.path)):
            mm = re.match(r"^v(\d{6})\.json$", entry)
            if not mm:
                continue
            m = self._load_manifest(int(mm.group(1)))
            if m is None:
                continue
            stats = m.get("file_stats") or {}
            out.append(
                {
                    "version": m["version"],
                    "data_dirs": m["data_dirs"],
                    "partition_spec": m.get("partition_spec") or [],
                    "columns": [f["name"] for f in m["schema"]],
                    "current": m["version"] == cur,
                    "parent": m.get("parent"),
                    "tags": sorted(t for t, v in refs.items() if v == m["version"]),
                    "operation": m["operation"],
                    "committed_at": m["committed_at"],
                    "n_files": (
                        sum(len(files) for files in stats.values())
                        if stats
                        else None
                    ),
                    # pending merge-on-read equality-delete files
                    "delete_dirs": [e["dir"] for e in _delete_entries(m)],
                }
            )
        return out

    # -- metadata tables (Iceberg's files/partitions/refs/history) ----
    def files(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Iceberg ``files`` metadata table: one row per live file of
        the snapshot - content kind (data / equality-deletes), data
        dir, path within it, bytes, rows (parquet footer), and the
        manifest's per-file [min, max] stats as a JSON string (data
        files only; delete files carry no stats)."""
        import pyarrow.parquet as pq

        cur = self.current_version()
        if cur is None:
            raise ValueError(f"files() on uncommitted table {self.path}")
        v = cur if version is None else version
        m = self._load_manifest(v)
        if m is None:
            raise ValueError(f"version {v} has no manifest")
        rows = []
        kinds = [("data", d) for d in m["data_dirs"]] + [
            (
                "position-deletes"
                if e.get("kind") == "position"
                else "equality-deletes",
                e["dir"],
            )
            for e in _delete_entries(m)
        ]
        for kind, d in kinds:
            root = os.path.join(self.path, d)
            stats = (m.get("file_stats") or {}).get(d) or {}
            for dirpath, _dirs, fns in os.walk(root):
                for fn in sorted(fns):
                    if not fn.endswith(".parquet"):
                        continue
                    full = os.path.join(dirpath, fn)
                    rel = os.path.relpath(full, root)
                    n_rows = None
                    try:
                        n_rows = pq.ParquetFile(full).metadata.num_rows
                    except Exception:
                        pass
                    st = stats.get(rel)
                    rows.append(
                        (
                            kind,
                            d,
                            rel,
                            os.path.getsize(full),
                            n_rows,
                            json.dumps(st) if st else None,
                        )
                    )
        return spark.createDataFrame(
            rows,
            "content string, data_dir string, file_path string, "
            "file_size_bytes bigint, record_count bigint, stats string",
        )

    def partitions(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Iceberg ``partitions`` metadata table: one row per live
        partition of the snapshot - the partition tuple (as a
        ``key=value`` path string, exactly the directory layout), its
        spec, file count, total bytes, and row count.  Unpartitioned
        dirs aggregate under partition ''."""
        import pyarrow.parquet as pq

        cur = self.current_version()
        if cur is None:
            raise ValueError(f"partitions() on uncommitted table {self.path}")
        v = cur if version is None else version
        m = self._load_manifest(v)
        if m is None:
            raise ValueError(f"version {v} has no manifest")
        dir_specs = m.get("dir_specs") or {}
        agg: dict[tuple[str, str], list[int]] = {}
        for d in m["data_dirs"]:
            root = os.path.join(self.path, d)
            spec = ",".join(dir_specs.get(d) or [])
            for dirpath, _dirs, fns in os.walk(root):
                part = "/".join(
                    seg
                    for seg in os.path.relpath(dirpath, root).split(os.sep)
                    if "=" in seg
                )
                for fn in fns:
                    if not fn.endswith(".parquet"):
                        continue
                    full = os.path.join(dirpath, fn)
                    n_rows = 0
                    try:
                        n_rows = pq.ParquetFile(full).metadata.num_rows
                    except Exception:
                        pass
                    a = agg.setdefault((part, spec), [0, 0, 0])
                    a[0] += 1
                    a[1] += os.path.getsize(full)
                    a[2] += n_rows
        rows = [
            (part, spec, a[0], a[1], a[2])
            for (part, spec), a in sorted(agg.items())
        ]
        return spark.createDataFrame(
            rows,
            "partition string, spec string, file_count bigint, "
            "total_size_bytes bigint, record_count bigint",
        )

    def refs(self, spark: SparkSession) -> DataFrame:
        """Iceberg ``refs`` metadata table: every named ref - main,
        branches (writable heads), tags (GC-pinned snapshots) - with
        its kind and the version it points at."""
        rows = [
            (name, "branch" if name != "main" else "main", v)
            for name, v in sorted(self._ref_heads().items())
        ] + [(name, "tag", v) for name, v in sorted(self.tags().items())]
        return spark.createDataFrame(
            rows, "name string, type string, version bigint"
        )

    def history(self, spark: SparkSession) -> DataFrame:
        """Iceberg ``history`` metadata table: the retained commit log
        of THIS ref (main or the bound branch), oldest first, with
        parent links and an ``is_current_ancestor`` flag (False marks
        rolled-back-over snapshots, exactly Iceberg's semantics)."""
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"history() on uncommitted table {self.path}")
        snaps = self.snapshots()
        # the ancestry walk of _ancestors over the manifests snapshots()
        # already read: every retained manifest is among them, so a
        # parent missing here is one expiry truncated
        parents = {s["version"]: s["parent"] for s in snaps}
        ancestry: set[int] = set()
        v = cur
        while v in parents and v not in ancestry:
            ancestry.add(v)
            v = parents[v]
        rows = [
            (
                s["version"],
                s["parent"],
                s["committed_at"],
                s["operation"],
                s["version"] in ancestry,
            )
            for s in snaps
        ]
        return spark.createDataFrame(
            rows,
            "version bigint, parent bigint, committed_at string, "
            "operation string, is_current_ancestor boolean",
        )

    def rollback(self, version: int) -> int:
        """Iceberg ``rollback_to_snapshot``: make a retained prior
        ``version`` current again via a NEW metadata-only commit that
        duplicates its manifest - every table property, its data and
        delete dirs and their stats (versions stay monotonic; the bad
        snapshot ages out of retention instead of being erased)."""

        def edit(head: dict) -> dict:
            m = self._load_manifest(version)
            if m is None or not all(
                os.path.isdir(os.path.join(self.path, d))
                for d in m["data_dirs"] + [e["dir"] for e in _delete_entries(m)]
            ):
                raise ValueError(
                    f"version {version} not retained (current "
                    f"{head['version']}, keep_versions {self.keep_versions})"
                )
            # lineage points at the restore target, not the bad head:
            # the rolled-back-over snapshots are no longer current
            # ancestors and expire on their own - but the abandoned
            # chain stays retained (roll-forward target) while this
            # rollback manifest is itself retained
            return {
                **{k: x for k, x in m.items() if k not in _LINEAGE},
                "parent": version,
                "abandoned_head": head["version"],
            }

        return self._commit_metadata("rollback", edit)

    def remove_orphans(self) -> list[str]:
        """Run expiry + orphan GC without committing (Iceberg
        ``remove_orphan_files`` as a standalone maintenance action);
        returns the removed entries.  No-op before the first commit."""
        with _commit_lock(self.path):
            cur = self.current_version()
            if cur is None:
                return []
            return self._expire_and_gc_locked(cur)

    def expire_snapshots(
        self, older_than_s: float, retain_last: int = 1
    ) -> list[str]:
        """Time-based snapshot expiry (Iceberg ``expire_snapshots
        (older_than=..., retain_last=...)``): drop every retained
        snapshot older than ``older_than_s`` seconds, EXCEPT the last
        ``retain_last`` of each ref's own history, tagged snapshots,
        and chains a retained rollback still pins.  The count-based
        ``keep_versions`` window keeps applying on every commit; this
        is the maintenance action that reclaims long history on a
        time policy.  Returns the removed entries."""
        with _commit_lock(self.path):
            cur = self.current_version()
            if cur is None:
                return []
            cutoff = _dt.datetime.now(_dt.timezone.utc) - _dt.timedelta(
                seconds=older_than_s
            )

            def chain(head: int) -> dict[int, dict]:
                # the last retain_last, then ancestors until the first
                # one older than the cutoff (everything beyond it on
                # the chain is older still)
                out = list(self._ancestors(head, 10**9).items())
                n = retain_last
                while n < len(out) and (
                    _dt.datetime.fromisoformat(out[n][1]["committed_at"]) >= cutoff
                ):
                    n += 1
                return dict(out[:n])

            return self._sweep_locked(self._retained_locked(cur, chain))

    # -- schema evolution (metadata-only commits) ---------------------
    def _commit_metadata(self, op: str, edit) -> int:
        """A metadata-only commit (schema evolution, spec / sort-order
        / bloom-filter changes, rollback): under the commit lock,
        ``edit(head)`` validates the head manifest - raising refuses
        the change - and returns the properties the commit changes.
        No data is written; the data dirs carry over."""
        with _commit_lock(self.path):
            cur = self.current_version()
            if cur is None:
                raise ValueError(f"{op} on uncommitted table {self.path}")
            head = self._load_manifest(cur)
            changes = edit(head)
            return self._commit_manifest(op, head, lambda v: changes)

    def add_column(self, name: str, dtype: str, default=None) -> int:
        """Iceberg ``ALTER TABLE ADD COLUMN`` analog: a metadata-only
        commit - no data is rewritten; existing rows read ``default``
        (null unless given; must be JSON-serializable).  ``dtype`` is a
        Spark DDL type string ("bigint", "string", ...)."""

        def edit(m: dict) -> dict:
            if any(f["name"] == name for f in m["schema"]):
                raise ValueError(f"column {name!r} already exists")
            field = {"name": name, "type": dtype, "physical": None, "default": default}
            return {"schema": m["schema"] + [field]}

        return self._commit_metadata("add-column", edit)

    def rename_column(self, old: str, new: str) -> int:
        """Iceberg ``ALTER TABLE RENAME COLUMN`` analog: metadata-only;
        the data files keep the old physical name and reads map it to
        the new logical name (the field-id trick, minus field ids)."""

        def ren(c: str) -> str:
            return new if c == old else c

        # the spec names logical columns (it applies at write time to
        # logical-named DataFrames), so a rename follows through -
        # including inside transform entries like hours(old).  Existing
        # dirs keep their old-era layout; pruning matches them through
        # the physical-name mapping.
        def ren_spec(s: str) -> str:
            pf = parse_partition_spec([s])[0]
            if pf.source != old:
                return s
            if pf.transform == "identity":
                return new
            arg = f"{pf.arg}, " if pf.arg is not None else ""
            return f"{pf.transform}({arg}{new})"

        def edit(m: dict) -> dict:
            names = {f["name"] for f in m["schema"]}
            if old not in names:
                raise ValueError(f"no column {old!r}")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            p = self._props(m)
            # the keys are table metadata: the manifest persists the
            # renamed form so a MergeTable constructed later (with the
            # pre-rename constructor seed) still resolves the right
            # columns via _effective_keys()
            self.key_cols = tuple(map(ren, self.key_cols))
            return {
                "schema": [{**f, "name": ren(f["name"])} for f in m["schema"]],
                "key_cols": [ren(k) for k in p["key_cols"]],
                "partition_spec": [ren_spec(c) for c in p["partition_spec"]],
                # sort order and bloom columns name LOGICAL columns too:
                # left un-renamed they would silently stop clustering /
                # filtering (the `c in df.columns` guard drops them)
                # while still blocking zorder compaction on the stale
                # name
                "sort_order": [ren(c) for c in p["sort_order"]],
                "bloom_cols": [ren(c) for c in p["bloom_cols"]],
                # pending equality deletes reference the keys by
                # LOGICAL name; the delete files keep the old physical
                # column (the same field-id trick as the data files).
                # Position deletes carry no key columns.
                "deletes": [
                    {**e, "cols": [{**c, "name": ren(c["name"])} for c in e["cols"]]}
                    if e.get("cols")
                    else e
                    for e in _delete_entries(m)
                ],
            }

        return self._commit_metadata("rename-column", edit)

    def drop_column(self, name: str) -> int:
        """Iceberg ``ALTER TABLE DROP COLUMN`` analog: metadata-only -
        the field leaves the manifest schema (reads stop projecting
        it), the data files keep their bytes until the next rewrite.
        Key and partition columns cannot be dropped."""

        def edit(m: dict) -> dict:
            p = self._props(m)
            if name in p["key_cols"]:
                raise ValueError(f"cannot drop key column {name!r}")
            if name in {pf.source for pf in parse_partition_spec(p["partition_spec"])}:
                raise ValueError(f"cannot drop partition column {name!r}")
            if not any(f["name"] == name for f in m["schema"]):
                raise ValueError(f"no column {name!r}")
            return {"schema": [f for f in m["schema"] if f["name"] != name]}

        return self._commit_metadata("drop-column", edit)

    def set_partition_spec(self, *cols: str) -> int:
        """Iceberg partition-spec evolution analog: a metadata-only
        commit that changes the layout for FUTURE data commits;
        existing data dirs keep the layout they were written with
        (reads of a mixed-era snapshot union per-dir scans, each with
        its own partition pruning).  Pass no cols to drop
        partitioning.  Entries are plain schema columns or hidden-
        partitioning transforms over them (``hours(ts)``, ``days(ts)``,
        ``months(ts)``, ``years(ts)``, ``bucket(N, col)``,
        ``truncate(W, col)``); the spec engages at the next data
        commit (merge/append/compact)."""

        def edit(m: dict) -> dict:
            sources = [pf.source for pf in parse_partition_spec(cols)]
            _require_columns(m, sources, "partition spec")
            return {"partition_spec": list(cols)}

        return self._commit_metadata("set-partition-spec", edit)

    def set_sort_order(self, *cols: str) -> int:
        """Iceberg ``replace_sort_order`` analog: a metadata-only
        commit that changes the clustered-write order for FUTURE data
        commits (existing files keep the layout they were written
        with; their manifest stats stay truthful either way).  Pass no
        cols to drop clustering.  Clustered writes range-partition +
        sort on these columns so each data file covers a narrow slice
        of the key - the layout that makes manifest min/max skipping
        selective."""

        def edit(m: dict) -> dict:
            _require_columns(m, cols, "sort order")
            return {"sort_order": list(cols)}

        return self._commit_metadata("set-sort-order", edit)

    def set_bloom_filters(self, *cols: str) -> int:
        """Enable parquet bloom filters on ``cols`` for FUTURE data
        commits (Iceberg ``write.parquet.bloom-filter-enabled.column.
        <col>`` analog) - a metadata-only commit, like
        :meth:`set_sort_order`.  Blooms serve POINT lookups on
        high-cardinality keys, where min/max stats can't prune
        (random keys span every file's range); the parquet reader
        consumes them transparently at row-group granularity.  Pass no
        cols to disable."""

        def edit(m: dict) -> dict:
            _require_columns(m, cols, "bloom filter list")
            return {"bloom_cols": list(cols)}

        return self._commit_metadata("set-bloom-filters", edit)

    # -- write API ----------------------------------------------------
    def overwrite(self, df: DataFrame) -> int:
        """Commit ``df`` as the whole next snapshot (write-tmp-then-
        rename, the reference's A8 protocol).  No commit-time check: a
        full replacement wins over whatever committed meanwhile."""
        return self._commit_data(
            "overwrite",
            lambda base, m: self._stage_snapshot(df, m),
            check=lambda m, head: True,
        )

    def append(
        self, updates: DataFrame, _epoch: tuple[str, int] | None = None
    ) -> int:
        """Iceberg fast-append: commit ONLY the new rows as an
        additional data dir - no read of the current snapshot, no
        rewrite of existing data, O(new rows) regardless of table
        size.  Precondition (same as Iceberg's append): the caller
        guarantees updates' keys are not already present - append
        never checks.  When keys might collide, use :meth:`merge`.

        Requires the table's physical schema to match updates (same
        column set, no pending metadata-only adds/renames); otherwise
        raises - merge() materializes the evolved schema first.

        OPTIMISTIC (:meth:`_commit_data`): the data write runs OUTSIDE
        the commit lock, and the commit builds on whatever head it
        finds - appends never conflict with other data commits
        (Iceberg's rule), so concurrent appenders write their data
        concurrently and serialize only on metadata.  Its check is
        that the head's physical schema is the one the staged files
        were written for: a concurrent schema change raises
        :class:`CommitConflict`.

        ``_epoch`` (internal, :func:`append_stream_to_table`'s):
        ``(query_id, batch_id)``, recorded in the manifest's
        ``stream_epochs`` as that query's last committed batch - the
        query id and epoch Iceberg's streaming append keeps in each
        snapshot summary.  An epoch the pinned or the head snapshot
        already records commits nothing; the property carries through
        every later commit like any other."""

        def physical(man: dict) -> list[tuple]:
            return [(f["name"], f["physical"], f["type"]) for f in man["schema"]]

        def committed(man: dict | None) -> bool:
            return bool(_epoch and man) and (
                man.get("stream_epochs", {}).get(_epoch[0], -1) >= _epoch[1]
            )

        def stage(base: int | None, m: dict | None):
            if m is None:
                return self._stage_snapshot(updates, None)
            names = [f["name"] for f in m["schema"]]
            if sorted(names) != sorted(updates.columns) or any(
                f["physical"] != f["name"] for f in m["schema"]
            ):
                raise ValueError(
                    f"append() to {self.path} needs a physical schema match "
                    f"(table {names}, updates {updates.columns}); use "
                    "merge() after schema evolution"
                )
            p = self._props(m)
            spec = p["partition_spec"]
            # coerce to the table's recorded types (Iceberg appends
            # write the table schema): without the cast, an int64-typed
            # source landing beside an int32 dir poisons every
            # subsequent multi-dir read with a parquet type mismatch
            aligned = updates.select(
                *[
                    F.col(f["name"]).cast(f["type"]).alias(f["name"])
                    for f in m["schema"]
                ]
            )
            staged = self._stage(aligned, spec, p["sort_order"], bloom=p["bloom_cols"])
            return staged, lambda data_dir, head: {
                "data_dirs": head["data_dirs"] + [data_dir],
                "dir_specs": {
                    **(head.get("dir_specs") or {}),
                    **({data_dir: spec} if spec else {}),
                },
            }

        def stage_epoch(base: int | None, m: dict | None):
            if committed(m):
                # a replayed epoch: the snapshot stands.  The batch
                # still runs - a stateful stream commits its state
                # stores only once every partition is processed
                updates.write.format("noop").mode("overwrite").save()
                return None
            staged, fields = stage(base, m)
            return staged, lambda data_dir, head: {
                **fields(data_dir, head),
                "stream_epochs": {
                    **(head or {}).get("stream_epochs", {}),
                    _epoch[0]: _epoch[1],
                },
            }

        def check(m: dict | None, head: dict | None) -> bool:
            if committed(head):
                return False  # rebase: the new pin sees the epoch
            if m is None:
                return head is None  # lost the first-commit race: rebase
            if head is None or physical(head) != physical(m):
                raise CommitConflict(
                    "a concurrent schema change invalidated this append's "
                    "staged files; re-run append()"
                )
            return True

        return self._commit_data("append", stage_epoch if _epoch else stage, check)

    def merge(
        self,
        updates: DataFrame,
        evolve_schema: bool = False,
        when_not_matched_by_source: str = "keep",
    ) -> int:
        """MERGE INTO this table USING updates ON key_cols:
        matched rows are replaced by their update, unmatched updates
        are inserted, unmatched existing rows are kept - or, with
        ``when_not_matched_by_source="delete"``, DROPPED (the SQL
        ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` clause: the merge
        makes the table exactly mirror the source's key set, the
        snapshot-sync pattern).  Updates must
        be key-unique (MERGE's own precondition).  Row-identical
        re-merges leave the table contents unchanged - the idempotency
        the reference gets from its sidecar-exists check (A13/A46).

        Schema handling mirrors Iceberg MERGE: updates lacking a table
        column insert that column's default (so old-shaped writers keep
        working after :meth:`add_column`); updates carrying NEW columns
        require ``evolve_schema=True`` (the ``mergeSchema`` write
        option), which adds them to the table with existing rows
        reading null.

        OPTIMISTIC concurrency (Iceberg's commit model, replacing the
        full-pass cron lockfile the reference holds, :45-47): the
        read-modify-write runs against a pinned base snapshot with NO
        lock held; the lock is taken only to validate the base is
        still current and flip the pointer.  A concurrent commit in
        between invalidates the staged snapshot - the merge recomputes
        on the new base and retries (no lost updates: the loser always
        rebases), raising :class:`CommitConflict` after a fixed number
        of lost races (:meth:`_commit_data`).  The first merge into an
        uncommitted table commits ``updates`` as is."""
        if when_not_matched_by_source not in ("keep", "delete"):
            raise ValueError(
                f"unknown when_not_matched_by_source "
                f"{when_not_matched_by_source!r}"
            )

        def build(current: DataFrame, man: dict) -> DataFrame:
            ups = updates
            # keys from the PINNED base manifest (like every other
            # base-pinned input here), not _effective_keys(): a
            # concurrent rename_column between pin and build would
            # otherwise make the join target a column the base snapshot
            # doesn't have, failing with AnalysisException instead of
            # rebasing at the conflict check.
            keys = self._props(man)["key_cols"]
            table_cols = current.columns
            extra = [c for c in ups.columns if c not in table_cols]
            if extra and not evolve_schema:
                raise ValueError(
                    f"updates carry new columns {extra}; pass "
                    "evolve_schema=True to add them (Iceberg mergeSchema)"
                )
            missing = [c for c in table_cols if c not in ups.columns]
            types = {f.name: f.dataType for f in current.schema.fields}
            if missing:
                defaults = {f["name"]: f.get("default") for f in man["schema"]}
                for c in missing:
                    ups = ups.withColumn(c, F.lit(defaults.get(c)).cast(types[c]))
            # coerce shared columns to the table's recorded types (the
            # append() discipline): without the cast, unionByName's
            # type coercion - or the `= delete` path's verbatim select -
            # silently rewrites the persisted column types in the new
            # manifest for every future reader
            ups = ups.select(
                *[
                    F.col(c).cast(types[c]).alias(c) if c in types else F.col(c)
                    for c in ups.columns
                ]
            )
            for c in extra:
                current = current.withColumn(
                    c, F.lit(None).cast(ups.schema[c].dataType)
                )
            if when_not_matched_by_source == "delete":
                # table := exactly the source's rows (by key)
                return ups.select(table_cols + extra)
            return ups.select(table_cols + extra).unionByName(
                current.join(ups.select(*keys), keys, "left_anti")
            )

        return self._rewrite(updates.sparkSession, "merge", build, first=updates)

    def delete_where(
        self,
        spark: SparkSession,
        condition,
        mode: str = "copy-on-write",
        form: str = "equality",
    ) -> int:
        """Iceberg ``DELETE FROM t WHERE cond``.  ``condition`` is a
        Column or SQL string; rows where it evaluates NULL are KEPT
        (SQL delete semantics - only true deletes).

        ``mode="copy-on-write"`` (default): commit a new snapshot
        without the matching rows - a full rewrite, O(table), best for
        large deletes or read-heavy tables.

        ``mode="merge-on-read"`` (Iceberg v2 row-level deletes): write
        ONLY a delete file of the matching rows - O(deleted rows)
        regardless of table size - and let :meth:`read` anti-join it
        out.  The delete applies to the data dirs existing at commit
        time (dir-granularity sequence numbers), so later appends are
        unaffected even if they reuse a deleted key.  The next rewrite
        (merge/update/compact/CoW delete) MATERIALIZES pending deletes
        and drops the delete files - ``compact()`` is the
        ``rewrite_position_delete_files`` analog.  Optimistic in both
        modes.

        ``form`` picks the Iceberg v2 delete-file flavor (merge-on-read
        only):

          * ``"equality"`` (default): the delete file stores the
            matched MERGE-KEY values; removes every row with that key.
            Right when rows are key-unique (the table contract).
          * ``"position"``: the delete file stores (file, row-index)
            identities from Spark's ``_metadata`` columns; removes
            EXACTLY the matched physical rows - correct even for
            duplicate keys, and the reads need no key columns."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if mode == "copy-on-write":
            return self._rewrite(
                spark,
                "delete_where",
                lambda df, man: df.filter(~F.coalesce(cond, F.lit(False))),
            )
        if mode != "merge-on-read":
            raise ValueError(f"unknown delete mode {mode!r}")
        if form not in ("equality", "position"):
            raise ValueError(f"unknown delete form {form!r}")

        def build(base: int, m: dict) -> DataFrame:
            current = self.read(spark, base, _pos=(form == "position"))
            hit = current.filter(F.coalesce(cond, F.lit(False)))
            if form == "position":
                return hit.select("_pos_file", "_pos_row")
            return hit.select(*self._props(m)["key_cols"]).distinct()

        return self._commit_deletes(form, build)

    def delete_keys(self, spark: SparkSession, keys_df: DataFrame) -> int:
        """Merge-on-read delete BY KEY SET: commit ``keys_df`` (one
        row per key tuple to remove) directly as an equality-delete
        file - no table scan at all, O(keys) end to end.  The CDC
        shape: a change stream already KNOWS the deleted keys, so
        applying them must not cost a pass over the table
        (:func:`apply_changes_stream` uses this).  Keys for rows not
        present simply match nothing.  Optimistic like every writer."""

        def build(base: int, m: dict) -> DataFrame:
            keys = self._props(m)["key_cols"]
            missing = [k for k in keys if k not in keys_df.columns]
            if missing:
                raise ValueError(f"delete_keys() missing key columns {missing}")
            types = {f["name"]: f["type"] for f in m["schema"]}
            return keys_df.select(
                *[F.col(k).cast(types[k]).alias(k) for k in keys]
            ).distinct()

        return self._commit_deletes("equality", build)

    def _commit_deletes(self, form: str, build) -> int:
        """Merge-on-read delete commit: stage the delete file -
        ``build(base, m)``, the keys or positions to delete from the
        pinned snapshot - and record it against the pinned snapshot's
        data dirs, through :meth:`_commit_data` with its default check
        (a concurrent commit rebases the delete, so its applies_to
        covers every dir the head holds)."""

        def stage(base: int | None, m: dict | None):
            if m is None:
                raise ValueError(f"merge-on-read delete on uncommitted table {self.path}")
            staged = self._stage(build(base, m).coalesce(1), [])
            entry = {"applies_to": m["data_dirs"], "kind": form}
            if form == "equality":
                # the delete file was WRITTEN from the logical frame,
                # so its physical columns carry the logical names as
                # of now
                entry["cols"] = [
                    {"name": k, "physical": k} for k in self._props(m)["key_cols"]
                ]
            return staged, lambda ddir, head: {
                "deletes": _delete_entries(head) + [{"dir": ddir, **entry}]
            }

        return self._commit_data("delete-mor", stage)

    def update_where(self, spark: SparkSession, condition, assignments: dict) -> int:
        """Iceberg ``UPDATE t SET col = expr WHERE cond`` (copy-on-write):
        commit a new snapshot with ``assignments`` (column -> Column or
        SQL string, evaluated against the matching row) applied where
        ``condition`` holds; NULL-predicate rows are untouched.
        Optimistic like every rewrite (stage lock-free, rebase on
        conflict)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition

        def build(df: DataFrame, man: dict) -> DataFrame:
            unknown = [c for c in assignments if c not in df.columns]
            if unknown:
                raise ValueError(f"update_where() on unknown columns {unknown}")
            hit = F.coalesce(cond, F.lit(False))
            return df.select(
                *[
                    (
                        F.when(
                            hit,
                            (
                                F.expr(assignments[c])
                                if isinstance(assignments[c], str)
                                else assignments[c]
                            ),
                        )
                        .otherwise(F.col(c))
                        .cast(df.schema[c].dataType)
                        .alias(c)
                        if c in assignments
                        else F.col(c)
                    )
                    for c in df.columns
                ]
            )

        return self._rewrite(spark, "update_where", build)

    def compact(
        self,
        spark: SparkSession,
        target_files: int = 1,
        target_mb: int | None = None,
        zorder: tuple[str, ...] | list[str] = (),
        where: str | None = None,
    ) -> int:
        """Maintenance: rewrite the current snapshot into
        ``target_files`` files (Iceberg ``rewrite_data_files`` analog) -
        or, with ``target_mb``, into ceil(table_bytes / target_mb)
        files (the bin-pack sizing mode: pick the file count from the
        data, not a constant).  Streaming MERGE sinks commit one small
        snapshot per micro-batch; periodic compaction keeps read
        amplification flat.  Contents are unchanged - only the file
        layout (and, for a post-evolution table, physically
        materializing added/renamed columns).  A table with a sort
        order compacts into ``target_files`` RANGE-clustered sorted
        files (Iceberg's sort-rewrite), so compaction tightens the
        manifest min/max stats instead of destroying them.  Optimistic
        like every rewrite: maintenance never blocks concurrent
        appenders' data writes.

        ``zorder=(colA, colB, ...)`` is the multi-dimension rewrite
        strategy (Iceberg ``rewrite_data_files(strategy => 'sort',
        sort_order => 'zorder(a, b)')``): rows cluster on an
        interleaved-bit Z-value over the columns' quantile-bucket
        ranks, so the manifest [min, max] stats become selective on
        EVERY listed column at once - a linear sort order can only
        serve its leading column.  The Z-value is derived at rewrite
        (quantile boundaries via one approxQuantile pass, bucket +
        interleave as JVM expressions) and never stored.  Mutually
        exclusive with a table sort order (clear it first - the
        clustered write would otherwise re-sort and destroy the
        Z-layout).

        ``where`` scopes the rewrite (Iceberg ``rewrite_data_files``
        with a filter): only partition directories the predicate MAY
        match are read and rewritten; every other partition's files
        carry over untouched - see :meth:`_scoped_compact`.  At 100 TB
        this is the difference between compacting yesterday's
        streaming micro-batches and re-shuffling the whole table."""
        if where is not None:
            if zorder or target_mb is not None:
                raise ValueError(
                    "where= composes with target_files only (scoped "
                    "rewrites keep untouched partitions' layout)"
                )
            return self._scoped_compact(spark, where, target_files)
        if target_mb is not None:
            total = self._data_bytes()
            target_files = max(1, -(-total // (target_mb * 1024 * 1024)))

        def build(df: DataFrame, man: dict) -> DataFrame:
            sort = self._props(man)["sort_order"]
            if zorder:
                if sort:
                    raise ValueError(
                        "zorder compaction conflicts with the table sort "
                        f"order {sort}; set_sort_order() (no args) first"
                    )
                return _zorder_layout(df, list(zorder), target_files)
            if sort:
                return df  # the clustered write performs the layout
            # repartition, not coalesce: coalesce can only MERGE input
            # partitions, so it silently under-produces files when the
            # snapshot reads as fewer partitions than requested, and at
            # target_files=1 it collapses the whole rewrite scan into a
            # single task (the shuffle keeps the scan parallel and
            # shrinks at the end)
            return df.repartition(target_files)

        return self._rewrite(spark, "compact", build, sort_partitions=target_files)

    def _scoped_compact(
        self, spark: SparkSession, where: str, target_files: int
    ) -> int:
        """Partition-scoped rewrite (Iceberg ``rewrite_data_files``
        with a filter), at partition-DIRECTORY granularity: the
        ``where`` conjuncts project through the partition spec's
        transforms exactly as scan pruning does, the leaf directories
        that MAY match are read fully and rewritten compacted, and
        every other leaf's files carry into the new snapshot as
        HARDLINKS - a metadata-speed operation on a shared filesystem
        (the local-parquet stand-in for Iceberg's manifest-level file
        reuse; prior snapshots keep reading the original inodes, so
        time travel and snapshot GC are untouched).

        Like Iceberg's filtered rewrite this is a LAYOUT operation on
        whole files: a boundary directory containing both matching and
        non-matching rows is rewritten in full, never row-filtered.

        Preconditions (ValueError otherwise - run a full ``compact()``
        first): a partitioned table whose dirs all carry the current
        spec; no pending RENAME/ADD schema mappings (carried-over files
        must already be physically current); no pending position
        deletes (they key on file paths, which hardlinking changes;
        pending equality deletes carry forward - they mask by key, so
        they apply identically to rewritten and carried files)."""
        conjs = _parse_conjuncts(where)
        if not conjs:
            raise ValueError(f"no projectable conjuncts in {where!r}")

        def stage(base: int | None, m: dict | None):
            if m is None:
                raise ValueError(f"compact() on uncommitted table {self.path}")
            p = self._props(m)
            spec = p["partition_spec"]
            if not spec:
                raise ValueError("scoped compaction needs a partitioned table")
            names = m["data_dirs"]
            dir_specs = m.get("dir_specs") or {}
            if any((dir_specs.get(n) or []) != spec for n in names):
                raise ValueError(
                    "mixed partition specs across data dirs; run compact() "
                    "(full) first"
                )
            if any(
                f["physical"] != f["name"] or f.get("default") is not None
                for f in m["schema"]
                if f["physical"] is not None
            ) or any(f["physical"] is None for f in m["schema"]):
                raise ValueError(
                    "pending schema mappings (rename/add); run compact() "
                    "(full) first"
                )
            dels = _delete_entries(m)
            if any(e.get("kind") == "position" for e in dels):
                raise ValueError(
                    "pending position deletes key on file paths; run "
                    "compact() (full) first"
                )
            phys_of = {f["name"]: f["physical"] for f in m["schema"]}
            type_of = {f["name"]: f["type"] for f in m["schema"]}
            pred = _partition_predicate(conjs, spec, phys_of, type_of)
            if pred is None:
                raise ValueError(
                    f"{where!r} does not project onto partition spec {spec} - "
                    "a scoped rewrite would touch every directory"
                )
            fields = parse_partition_spec(spec)
            # classify each leaf partition dir: may-match -> rewrite,
            # else -> carry (hardlink).  Evaluation uses the SAME
            # predicate Column scan pruning uses, applied to a tiny
            # driver-built frame of the directory-encoded values.
            rewrite: list[tuple[str, str]] = []  # (data_dir, leaf rel)
            carry: list[tuple[str, str]] = []
            for n in names:
                root = os.path.join(self.path, n)
                leaves = _leaf_partition_dirs(root, len(fields))
                if not leaves:
                    continue
                rows = []
                for leaf in leaves:
                    vals = {}
                    for part in leaf.split(os.sep):
                        k, _, v = part.partition("=")
                        vals[k] = (
                            None
                            if v == "__HIVE_DEFAULT_PARTITION__"
                            else urllib.parse.unquote(v)
                        )
                    rows.append((*[vals.get(pf.name) for pf in fields], leaf))
                from pyspark.sql.types import StringType, StructField, StructType

                tiny = spark.createDataFrame(
                    rows,
                    StructType(
                        [StructField(pf.name, StringType()) for pf in fields]
                        + [StructField("__leaf", StringType())]
                    ),
                )
                for pf in fields:
                    tiny = tiny.withColumn(
                        pf.name,
                        F.col(pf.name).cast(_part_value_type(pf, type_of)),
                    )
                hit = {r["__leaf"] for r in tiny.filter(pred).collect()}
                for leaf in leaves:
                    (rewrite if leaf in hit else carry).append((n, leaf))
            if not rewrite:
                return None  # nothing in scope: the snapshot stands
            # read EXACTLY the rewrite leaves (explicit paths, so the
            # row partition between rewritten and carried files cannot
            # drift from the classification above), map to the logical
            # schema
            parts = []
            for n, leaf in rewrite:
                d = os.path.join(self.path, n)
                sub = spark.read.option("basePath", d).parquet(
                    os.path.join(d, leaf)
                )
                parts.append(
                    sub.select(
                        *[
                            F.col(f["physical"]).cast(f["type"]).alias(f["name"])
                            for f in m["schema"]
                        ]
                    )
                )

            # repartition, not coalesce (see compact()'s build note)
            new_df = reduce(DataFrame.unionByName, parts).repartition(target_files)
            staged = self._stage(
                new_df, spec, p["sort_order"], target_files, bloom=p["bloom_cols"]
            )
            # carry side: hardlink untouched leaves into the stage.
            # Runs lock-free like the staging scan above, so a
            # concurrent commit can GC the base snapshot's dirs
            # mid-carry - FileNotFoundError then means "base moved:
            # rebase", the same recovery as the staging step
            try:
                for n, leaf in carry:
                    src = os.path.join(self.path, n, leaf)
                    dst = os.path.join(self.path, staged, leaf)
                    os.makedirs(dst, exist_ok=True)
                    for fn in os.listdir(src):
                        sp = os.path.join(src, fn)
                        if not (os.path.isfile(sp) and fn.endswith(".parquet")):
                            continue
                        dp = os.path.join(dst, fn)
                        if os.path.exists(dp):  # same leaf from two dirs
                            stem, ext = os.path.splitext(fn)
                            dp = os.path.join(dst, f"{stem}-{n}{ext}")
                        try:
                            os.link(sp, dp)
                        except OSError:
                            shutil.copy2(sp, dp)  # cross-device fallback
            except BaseException:
                self._discard_stage(staged)
                raise
            return staged, lambda data_dir, head: {
                "data_dirs": [data_dir],
                "dir_specs": {data_dir: spec},
                "deletes": [{**e, "applies_to": [data_dir]} for e in dels],
            }

        return self._commit_data("compact", stage)

    def _data_bytes(self) -> int:
        """Total parquet bytes of the current snapshot (driver-side
        walk of the manifest's data dirs; sizing input for
        :meth:`compact`'s target_mb mode)."""
        m = self._head()
        total = 0
        for d in m["data_dirs"] if m else []:
            for dirpath, _dirs, files in os.walk(os.path.join(self.path, d)):
                for fn in files:
                    if fn.endswith(".parquet"):
                        try:
                            total += os.path.getsize(os.path.join(dirpath, fn))
                        except OSError:
                            pass
        return total

    def create_view(
        self,
        spark: SparkSession,
        name: str,
        version: int | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Register a snapshot of this table as a Spark SQL temp view
        (the catalog facade: ``spark.sql`` over MergeTables, including
        time travel - pass ``version`` for VERSION AS OF or ``tag``
        for a named ref).  Returns the underlying DataFrame."""
        df = self.read(spark, version=version, tag=tag)
        if df is None:
            raise ValueError(f"create_view on uncommitted table {self.path}")
        df.createOrReplaceTempView(name)
        return df

    def delete(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_sink(
    stream_df: DataFrame, checkpoint_dir: str, each_batch, available_now: bool = True
):
    """Start ``stream_df`` into a ``foreachBatch(each_batch)`` sink
    checkpointed at ``checkpoint_dir`` - the one starter every sink
    here shares.  ``available_now`` drains what is available and
    returns the finished query; otherwise the trigger is continuous
    and the query unbounded - awaiting it would block the caller
    forever with the handle unreachable - so the live query comes
    back for the caller to stop or await."""
    writer = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(each_batch)
    )
    if not available_now:
        return writer.start()
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def append_stream_to_table(
    stream_df: DataFrame,
    table: MergeTable,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Structured Streaming sink with append semantics: every
    micro-batch is one :meth:`MergeTable.append` fast-append commit -
    for append-mode streams, whose rows are emitted once (a closed
    window, a joined pair), so no MERGE is needed.

    Exactly-once table contents from a replayable source plus a sink
    idempotent per epoch (Structured Streaming's contract): each
    commit records ``{query id: batch id}`` in the manifest, the query
    id being the one Spark keeps in ``<checkpoint>/metadata`` (it is
    ``StreamingQuery.id``, stable across restarts).  A batch Spark
    re-delivers after a crash between the table commit and the
    checkpoint commit finds its id recorded and commits nothing - on
    a cluster, Iceberg's streaming append skipping an epoch its
    snapshot summaries already hold.  Rows are never deduplicated, so
    a double emission stays visible (``flush_tail(strict=True)``
    catches it)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        with open(os.path.join(checkpoint_dir, "metadata"), encoding="utf-8") as f:
            query_id = json.load(f)["id"]
        table.append(batch_df, _epoch=(query_id, batch_id))

    return start_sink(stream_df, checkpoint_dir, write_batch, available_now)


def run_stream_to_table(
    stream_df: DataFrame,
    table: MergeTable,
    checkpoint_dir: str,
    available_now: bool = True,
    compact_every: int | None = None,
):
    """Structured Streaming sink with MERGE semantics: every micro-batch
    upserts into the table keyed by ``table.key_cols``.

    Exactly-once table contents without Iceberg: if a batch replays
    after a crash (checkpoint offset committed, sink action lost), the
    replayed merge upserts the same keys and the snapshot is unchanged.
    On a cluster this function body becomes a single
    ``MERGE INTO sink USING batch`` per micro-batch.

    ``compact_every=N`` runs :meth:`MergeTable.compact` after every Nth
    micro-batch - the maintenance loop a streaming sink needs anyway
    (each micro-batch commits a small snapshot; periodic compaction
    keeps read amplification flat without a separate cron), Iceberg's
    streaming + scheduled ``rewrite_data_files`` pattern in-line."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # dropDuplicates on the key inside the batch: MERGE requires a
        # key-unique source
        table.merge(batch_df.dropDuplicates(list(table._effective_keys())))
        if compact_every and (batch_id + 1) % compact_every == 0:
            table.compact(batch_df.sparkSession)

    return start_sink(stream_df, checkpoint_dir, upsert, available_now)


def apply_changes_stream(
    stream_df: DataFrame,
    table: MergeTable,
    checkpoint_dir: str,
    op_col: str = "op",
    seq_col: str | None = None,
    available_now: bool = True,
):
    """CDC apply: stream rows tagged with an operation column (``'I'``
    / ``'U'`` upserts, ``'D'`` deletes) into the table - the
    ``APPLY CHANGES INTO`` / Iceberg ``MERGE`` with
    ``WHEN MATCHED AND op='D' THEN DELETE`` pattern, per micro-batch:

      1. within the batch, keep only each key's LAST change (by
         ``seq_col`` if given, the CDC ordering column; else arrival
         order is assumed key-unique after dropDuplicates) - a key
         inserted then deleted inside one batch nets to the delete;
      2. upserts MERGE into the table (one snapshot);
      3. deletes commit via :meth:`MergeTable.delete_keys` as a
         MERGE-ON-READ EQUALITY-DELETE file - O(deleted) with NO scan
         of the table (the reason CDC streams into big tables want
         Iceberg v2 deletes).

    Replay-idempotent like :func:`run_stream_to_table`: re-merging the
    same upserts leaves the snapshot unchanged, and re-deleting
    already-deleted keys matches nothing.  The ``op``/``seq`` columns
    never reach the table."""
    from pyspark.sql import Window

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        keys = list(table._effective_keys())
        if seq_col is not None:
            w = Window.partitionBy(*keys).orderBy(F.desc(seq_col))
            last = (
                batch_df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", seq_col)
            )
        else:
            last = batch_df.dropDuplicates(keys)
        last = last.localCheckpoint()  # one materialization, two consumers
        # a NULL op would satisfy NEITHER filter below (both predicates
        # evaluate NULL to false) and the row would vanish without a
        # signal - a malformed CDC feed must be loud, matching the
        # quarantine-over-silent-drop posture of sources.py
        n_null_op = last.filter(F.col(op_col).isNull()).count()
        if n_null_op:
            raise ValueError(
                f"apply_changes_stream batch {batch_id}: {n_null_op} row(s) "
                f"with NULL {op_col!r} - every change row must carry an op "
                "('D' deletes, anything else upserts)"
            )
        ups = last.filter(F.col(op_col) != "D").drop(op_col)
        dels = last.filter(F.col(op_col) == "D").select(*keys)
        if ups.limit(1).count():
            table.merge(ups)
        if table.current_version() is not None and dels.limit(1).count():
            table.delete_keys(batch_df.sparkSession, dels)

    return start_sink(stream_df, checkpoint_dir, apply_batch, available_now)
