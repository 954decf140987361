"""Executable check-rotation invariants (round-11 verdict #7).

The driver hash-checks only the first 50 entries of
``__spark_entry__.queries()``; ``registry.driver_rotation`` derives
that order from the repo's CORRECTNESS_r*.json artifacts and git
(never-checked, then owed, then oracle-backed, then rows-only; stalest
driver row first within a tier).  These tests check the rule against
the derived values, so a new driver artifact re-orders the window
without failing anything, and pin the derivation itself on a
throwaway git repository.

No Spark session required - pure registry/artifact/git logic.
"""

from __future__ import annotations

import importlib.util
import json
import subprocess
import sys
from pathlib import Path

from iceberg_daq_spark.registry import (
    REPO_ROOT,
    QuerySpec,
    Rotation,
    all_queries,
    derive_rotation,
    driver_ordered,
    driver_rotation,
)

WINDOW = 50


def assert_rotation_rule(rotation: Rotation, specs: dict[str, QuerySpec]) -> None:
    """The one ordering rule, checked against ``rotation``'s own inputs."""
    last, owed = rotation.last_round, rotation.owed
    assert sorted(rotation.order) == sorted(specs)

    def tier(n: str) -> int:
        if n not in last:
            return 0
        if n in owed:
            return 1
        return 2 if specs[n].oracle is not None else 3

    keys = [(tier(n), last.get(n, 0)) for n in rotation.order]
    assert keys == sorted(keys), "tiers in order, stalest driver row first within each"
    names = list(specs)
    for a, b in zip(rotation.order, rotation.order[1:]):
        if (tier(a), last.get(a, 0)) == (tier(b), last.get(b, 0)):
            assert names.index(a) < names.index(b), "ties keep registration order"


def test_never_checked_queries_head_the_window():
    ordered = list(driver_ordered())
    unchecked = {n for n in all_queries() if n not in driver_rotation().last_round}
    head = ordered[: len(unchecked)]
    assert set(head) == unchecked, (
        f"never-driver-checked queries must lead the ordering; head={head}, "
        f"unchecked={sorted(unchecked)}"
    )
    # ... and they must all FIT in the driver's 50-entry window, else a
    # registration burst this large needs explicit triage, not silence
    assert len(unchecked) <= WINDOW


def test_owed_queries_follow_the_never_checked_head():
    """Owed queries, oracle-backed and rows-only alike, sit right behind
    the never-checked head, stalest first, and inside the window."""
    rotation = driver_rotation()
    ordered = list(rotation.order)
    n_unchecked = sum(n not in rotation.last_round for n in ordered)
    owed = ordered[n_unchecked : n_unchecked + len(rotation.owed)]
    assert set(owed) == rotation.owed
    rounds = [rotation.last_round[n] for n in owed]
    assert rounds == sorted(rounds), "owed queries must be stalest-first"
    assert n_unchecked + len(owed) <= WINDOW, "owed queries fell outside the window"


def test_rowsonly_refresh_quota():
    """Rows-only queries whose code moved get re-checked: an owed
    rows-only query shares the owed tier with the oracle-backed ones,
    so it is refreshed ahead of every checked query and inside the
    window. There is no separate quota; the window is the bound."""
    specs = all_queries()
    rotation = driver_rotation()
    ordered = list(rotation.order)
    owed_rows_only = [n for n in rotation.owed if specs[n].oracle is None]
    settled = [n for n in ordered if n in rotation.last_round and n not in rotation.owed]
    for n in owed_rows_only:
        assert n in rotation.last_round, f"{n} never checked; tier 0 already covers it"
        assert ordered.index(n) < WINDOW, f"{n} fell outside the 50-slot window"
        if settled:
            assert ordered.index(n) < ordered.index(settled[0]), (
                f"{n} is owed but sits behind a settled query"
            )


def test_checked_tail_is_stalest_first_rows_only_last():
    specs = all_queries()
    rotation = driver_rotation()
    ordered = list(rotation.order)
    checked = [n for n in ordered if n in rotation.last_round and n not in rotation.owed]
    oracle = [n for n in checked if specs[n].oracle is not None]
    rows_only = [n for n in checked if specs[n].oracle is None]
    # rows-only strictly after every oracle-backed checked query
    last_oracle = max(ordered.index(n) for n in oracle)
    first_rows_only = min(ordered.index(n) for n in rows_only)
    assert last_oracle < first_rows_only
    # stalest-first within each class
    for group in (oracle, rows_only):
        rounds = [rotation.last_round[n] for n in group]
        assert rounds == sorted(rounds), "checked queries must be stalest-first"


def test_map_covers_only_registered_queries():
    """A driver row under a name no longer registered means a rename
    dropped that query's driver history."""
    stray = set(driver_rotation().last_round) - set(all_queries())
    assert not stray, f"CORRECTNESS artifacts name unregistered queries: {stray}"


def test_registry_import_reads_no_artifact_and_runs_no_git():
    """The rotation is derived on first use only: importing the registry
    and listing the queries (the benchmark path) stays git-free."""
    code = (
        "import subprocess\n"
        "def boom(*a, **k):\n"
        "    raise AssertionError(f'subprocess started: {a}')\n"
        "subprocess.run = subprocess.Popen = boom\n"
        "from iceberg_daq_spark import registry\n"
        "registry.all_queries()\n"
        "assert registry.driver_rotation.cache_info().currsize == 0\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO_ROOT, capture_output=True, text=True
    )
    assert proc.returncode == 0, proc.stderr


_MODULE = '''\
def helper(x):
    return x + 1


def unrelated():
    return 0


def qa(spark, sf_dir):
    return helper(1)


def qb(spark, sf_dir):
    return helper(2)
'''


def test_rotation_is_derived_from_artifacts_and_git(tmp_path: Path):
    """Owed follows source edits since the ``round N:`` commit, a new
    driver round clears it, and a new artifact re-orders the rotation
    without failing the rule."""

    def git(*args: str) -> None:
        subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
            cwd=tmp_path,
            check=True,
            capture_output=True,
        )

    def commit_round(n: int, rows: list[str]) -> None:
        (tmp_path / f"CORRECTNESS_r{n}.json").write_text(json.dumps(dict.fromkeys(rows, {})))
        git("add", "-A")
        git("commit", "-q", "-m", f"round {n}: verdict/correctness")

    src = tmp_path / "qmod.py"
    src.write_text(_MODULE)
    mod_spec = importlib.util.spec_from_file_location("rotation_fixture_qmod", src)
    mod = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(mod)
    specs = {
        "qa": QuerySpec("qa", mod.qa, "SELECT 1"),
        "qb": QuerySpec("qb", mod.qb, "SELECT 2"),
    }

    def derive() -> Rotation:
        rotation = derive_rotation(tmp_path, specs)
        assert_rotation_rule(rotation, specs)
        return rotation

    git("init", "-q")
    commit_round(1, ["qa", "qb"])
    assert derive().owed == frozenset()

    # an edit nothing reaches owes nothing; an edit to the shared helper
    # owes both queries
    src.write_text(_MODULE.replace("return 0", "return -1"))
    assert derive().owed == frozenset()
    src.write_text(_MODULE.replace("x + 1", "x + 2"))
    assert derive().owed == {"qa", "qb"}

    # the driver's next round confirms the edited code
    commit_round(2, ["qa", "qb"])
    rotation = derive()
    assert rotation.owed == frozenset()
    assert rotation.order == ("qa", "qb")

    # a fresh row for qa alone (no round-3 commit yet) makes qb stalest
    (tmp_path / "CORRECTNESS_r3.json").write_text(json.dumps({"qa": {}}))
    rotation = derive()
    assert rotation.last_round == {"qa": 3, "qb": 2}
    assert rotation.order == ("qb", "qa")
