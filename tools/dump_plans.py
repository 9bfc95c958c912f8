"""Dump .explain("formatted") for declared queries into plans/<tag>/.

Usage: python tools/dump_plans.py <tag-suffix> <query> [query ...]
Writes plans/r06/<query>_<tag-suffix>.txt (e.g. tag 'before'/'after').

Uses bench.py's session (``bench.bench_session``: ``get_spark`` plus
``bench.BENCH_CONF``) so plan shapes (AQE, partition counts) match what the
bench actually runs.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from bench import SF_DIR, bench_session

OUT_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "plans", "r06"
)

# every physical node that runs Python on the executors: scalar and
# pandas UDF evaluation plus the map / grouped-map / stateful pandas and
# Arrow nodes
PYTHON_NODES = frozenset((
    "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapGroupsInPandasWithState",
))


def python_nodes(plan: str) -> int:
    """Count the Python-running nodes of a formatted physical plan, once
    each (by its ``(N) Name`` detail header)."""
    return sum(n in PYTHON_NODES for n in re.findall(r"^\(\d+\) (\w+)", plan, re.M))


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    spark = bench_session("dump-plans")
    from character_identification_spark.driver_contract import QUERIES

    os.makedirs(OUT_DIR, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange, "
              f"{python_nodes(plan)} PyEval)")
    spark.stop()


if __name__ == "__main__":
    main()
