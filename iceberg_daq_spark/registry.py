"""Query registry - the single source of truth for the driver contract.

Each query registers once with:
  - a Spark implementation ``fn(spark, sf_dir) -> DataFrame``
  - an optional DuckDB oracle SQL string (ANSI SQL over the same parquet
    tables, pre-registered as views by the driver)

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin projections of
this registry.  Convention enforced across the codebase: every computed /
aggregate column is aliased identically in the Spark plan and the oracle
SQL (the driver sorts columns by name before value-hashing), and every
DOUBLE output is rounded to 2 decimals on both sides so float summation
order cannot flip the hash.
"""

from __future__ import annotations

import ast
import functools
import inspect
import json
import os
import re
import subprocess
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver does a rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a query implementation under ``name``."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or fn.__doc__ or "")
        return fn

    return wrap


def all_queries() -> dict[str, QuerySpec]:
    # Import query modules for side-effect registration (lazy so that a
    # bare `import iceberg_daq_spark` stays cheap).
    from iceberg_daq_spark import queries  # noqa: F401

    return dict(_REGISTRY)


# The verify driver hash-checks only the FIRST 50 entries of
# ``__spark_entry__.queries()``.  With 260+ registered queries the window
# cannot cover everything, so ``driver_ordered`` sorts by how much a
# driver row is worth, by one rule derived from what the checkout holds.
# Nothing is stored: a new driver artifact or a code edit re-orders the
# next process by itself.
#   - A query's *last driver round* R is the newest CORRECTNESS_r<R>.json
#     at the repo root that has a row for it.
#   - A query is *owed* a driver row when its source changed after the
#     driver's ``round R:`` commit.  Its source is the text of its
#     ``def`` plus every module-level function of the same module that
#     it reaches by name.  Helpers in other modules (``operators/*``, a
#     sibling query module) are not compared: a query that changed only
#     there waits for its turn in the stalest-first tiers.
#   - Order: never-checked queries, then owed queries, then the other
#     oracle-backed queries, then rows-only queries (the driver cannot
#     hash-verify these; local tests assert their semantics).  Within a
#     tier the stalest driver row goes first, then registration order.

REPO_ROOT = Path(__file__).resolve().parent.parent


@dataclass(frozen=True)
class Rotation:
    last_round: dict[str, int]  # every query with a driver row -> R
    owed: frozenset[str]
    order: tuple[str, ...]  # registered names, driver-check priority


def _git(root: Path, *args: str) -> str:
    try:
        proc = subprocess.run(["git", *args], cwd=root, capture_output=True, text=True)
    except OSError:  # no git binary: no history to compare against
        return ""
    return proc.stdout if proc.returncode == 0 else ""


def _round_commits(root: Path) -> dict[int, str]:
    """Round N -> sha of the newest ``round N: ...`` commit."""
    commits: dict[int, str] = {}
    for line in _git(root, "log", "--format=%H %s").splitlines():
        if m := re.match(r"(\w+) round (\d+):", line):
            commits.setdefault(int(m[2]), m[1])
    return commits


def _functions(source: str) -> dict[str, tuple[str, ast.AST]]:
    """Module-level function -> (text of its ``def``, its AST node).
    Sliced by AST line range: ``ast.get_source_segment`` is quadratic
    in the module size."""
    lines = source.splitlines()
    return {
        node.name: ("\n".join(lines[node.lineno - 1 : node.end_lineno]), node)
        for node in ast.parse(source).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def _reach(functions: dict[str, tuple[str, ast.AST]], name: str) -> set[str]:
    """``name`` and every module-level function it reaches by name."""
    seen: set[str] = set()
    todo = [name]
    while todo:
        n = todo.pop()
        if n in functions and n not in seen:
            seen.add(n)
            todo.extend(x.id for x in ast.walk(functions[n][1]) if isinstance(x, ast.Name))
    return seen


def changed_since(root: Path, specs: dict[str, QuerySpec], rounds: dict[str, int]) -> set[str]:
    """Names in ``rounds`` whose source differs from the one in the
    ``round <rounds[name]>:`` commit.  A round with no commit compares
    nothing."""
    commits = _round_commits(root)
    changed: dict[str, set[str]] = {}
    parsed: dict[tuple[str, str], dict[str, tuple[str, ast.AST]]] = {}

    def functions(rev: str, rel: str):  # rev "" = the working tree
        if (rev, rel) not in parsed:
            text = _git(root, "show", f"{rev}:{rel}") if rev else (root / rel).read_text()
            parsed[rev, rel] = _functions(text)
        return parsed[rev, rel]

    out = set()
    for name, rnd in rounds.items():
        rev = commits.get(rnd)
        if rev is None:
            continue
        if rev not in changed:
            changed[rev] = set(_git(root, "diff", "--name-only", rev).splitlines())
        fn = inspect.unwrap(specs[name].fn)
        rel = os.path.relpath(os.path.realpath(fn.__code__.co_filename), root.resolve())
        if rel not in changed[rev]:
            continue
        # if everything the live def reaches reads the same in the round's
        # commit, the old def reached exactly that set too
        live, old = functions("", rel), functions(rev, rel)
        if any(n not in old or old[n][0] != live[n][0] for n in _reach(live, fn.__name__)):
            out.add(name)
    return out


def derive_rotation(root: Path, specs: dict[str, QuerySpec]) -> Rotation:
    """The driver check order of ``specs`` for the checkout at ``root``
    (the rule is in the comment above)."""
    last: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        if m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name):
            for name in json.loads(path.read_text()):
                last[name] = max(last.get(name, 0), int(m[1]))
    owed = changed_since(root, specs, {n: last[n] for n in specs if n in last})

    def tier(n: str) -> int:
        if n not in last:
            return 0
        if n in owed:
            return 1
        return 2 if specs[n].oracle is not None else 3

    order = sorted(specs, key=lambda n: (tier(n), last.get(n, 0)))  # stable
    return Rotation(last_round=last, owed=frozenset(owed), order=tuple(order))


@functools.cache
def driver_rotation() -> Rotation:
    """``derive_rotation`` of this checkout, computed once per process."""
    return derive_rotation(REPO_ROOT, all_queries())


def driver_ordered() -> dict[str, QuerySpec]:
    """Registry in driver-check-priority order (see comment above)."""
    specs = all_queries()
    return {n: specs[n] for n in driver_rotation().order}


def spark_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in driver_ordered().items()}


def oracle_sqls() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in driver_ordered().items() if spec.oracle is not None
    }
