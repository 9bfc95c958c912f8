"""In-process headline timings on bench.py's own session and timed path.

Usage:
  python bench_extra.py query <name> [N]  # time one query, N repeats
  python bench_extra.py all               # every headline query once

Per-stage and per-CC-round numbers come from ``perfbench/run.py --trace 1``.

Env: as bench.py (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS).
"""

from __future__ import annotations

import json
import sys
import time

from bench import SF_DIR, _force, bench_session, run_headline, warm


def one_query(name: str, repeats: int = 1) -> None:
    from character_identification_spark.driver_contract import QUERIES

    spark = bench_session(f"bench-extra-{name}")
    warm(spark)
    for r in range(repeats):
        # build + force inside the window, like bench.py: an eager
        # localCheckpoint inside the query builder is part of its cost
        t0 = time.monotonic()
        _force(QUERIES[name](spark, SF_DIR))
        print(f"  {name} run{r} {time.monotonic() - t0:7.2f} s", flush=True)
    spark.stop()


def all_queries() -> None:
    spark = bench_session("bench-extra-all")
    warm(spark)
    times = run_headline(spark)
    print(json.dumps({"queries": times, "total": round(sum(times.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    if mode == "query":
        one_query(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 1)
    else:
        all_queries()
