"""Plan-shape snapshot: the physical operators of every registered query.

A query's *shape* is the multiset of physical node names in its
formatted plan, one count per ``(N) Name`` header; scan nodes keep their
source word (``Scan parquet``, ``Scan ExistingRDD``).  The committed
``tests/plan_shapes.json`` holds one shape per registered query and
``tests/test_plans.py::test_plan_shape`` asserts equality, so any
operator that appears, disappears or changes count fails exactly that
query's test id.

After an intended plan change, regenerate and review the JSON diff:

    python -m tests.plan_shape
"""

from __future__ import annotations

import json
import re
from collections import Counter
from pathlib import Path

SNAPSHOT = Path(__file__).with_name("plan_shapes.json")

_HEADER = re.compile(r"^\(\d+\) (\S+(?: \S+)?)", re.MULTILINE)


def plan_of(df) -> str:
    """The formatted explain string of ``df`` (tree plus node details)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def shape_of(plan: str) -> dict[str, int]:
    """Count the ``(N) Name`` node headers of a formatted plan."""
    names = []
    for head in _HEADER.findall(plan):
        word, _, rest = head.partition(" ")
        names.append(f"{word} {rest}" if word == "Scan" else word)
    return dict(sorted(Counter(names).items()))


def plan_shape(spark, sf_dir: str, name: str) -> dict[str, int]:
    """The shape of registered query ``name`` built on ``sf_dir``."""
    from iceberg_daq_spark.registry import all_queries

    # Queries persist() intermediates; a later build that reads an
    # earlier query's cached data plans an InMemoryRelation instead of
    # its own subtree, so without the clear a shape depends on run order.
    spark.catalog.clearCache()
    return shape_of(plan_of(all_queries()[name].fn(spark, sf_dir)))


def check_snapshot(snapshot: dict, names) -> None:
    """The invariants every snapshot keeps, regenerated or not: one
    entry per registered query and no CartesianProduct anywhere."""
    if set(snapshot) != set(names):
        raise ValueError(
            f"snapshot keys differ from the registry: "
            f"missing {sorted(set(names) - set(snapshot))}, "
            f"stale {sorted(set(snapshot) - set(names))}"
        )
    carts = sorted(n for n, shape in snapshot.items() if "CartesianProduct" in shape)
    if carts:
        raise ValueError(f"CartesianProduct in the plan of {carts}")


def load_snapshot() -> dict[str, dict[str, int]]:
    return json.loads(SNAPSHOT.read_text())


def main() -> None:
    from iceberg_daq_spark.registry import all_queries
    from tests.conftest import SF_DIR, make_session

    spark = make_session()
    spark.sparkContext.setLogLevel("ERROR")
    shapes = {}
    for name in sorted(all_queries()):
        try:
            shapes[name] = plan_shape(spark, SF_DIR, name)
        except Exception as exc:
            raise RuntimeError(f"plan build failed for {name}") from exc
    check_snapshot(shapes, all_queries())
    lines = [f"{json.dumps(n)}: {json.dumps(s)}" for n, s in shapes.items()]
    SNAPSHOT.write_text("{\n" + ",\n".join(lines) + "\n}\n")
    print(f"{SNAPSHOT.name}: {len(shapes)} queries")


if __name__ == "__main__":
    main()
