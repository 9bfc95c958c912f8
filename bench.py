"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR plus the
north-rule scaling evidence (the shipped ER pipeline at local[lo] vs
local[hi]).

Prints ONE JSON line:
  {"metric": "headline_total", "value": <sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>,
   "er_docs_per_sec": <pipeline throughput at the hi leg>,
   "scaling": {"pages": N, "cores_lo": lo, "cores_hi": hi,
               "docs_per_sec_lo": ..., "docs_per_sec_hi": ...,
               "speedup": ..., "efficiency": ...}}

Every query is forced through the noop sink so column pruning can't skip
the measured work. Scaling times one forced ``plans.pipeline.run_pipeline``
pass, every stage written to a fresh scratch workdir, on the identical
parquet input at two parallelism levels (the sandbox evidence for the
north rule's N vs 4N executor criterion — see BASELINE.md) and reports
efficiency = (docs_per_sec_hi / docs_per_sec_lo) / (cores_hi / cores_lo).

The headline suite runs taskset-pinned in a fresh subprocess JVM,
best-of-N (per-query min) — same shared-host discipline as the scaling
section, so round-over-round deltas measure code, not tenants. Every
session comes from ``session.get_spark`` with 4 × cores shuffle partitions
plus BENCH_CONF.

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: the CPUs this process may run on),
SPARK_GRAFT_SCALING=0 to skip the scaling section,
SPARK_GRAFT_SCALE_PAGES (default 1600000), SPARK_GRAFT_SCALE_CORES
("lo,hi"; default hi = min(8, CPUS), lo = max(1, hi // 4)),
SPARK_GRAFT_SCALE_REPEATS (default 2), SPARK_GRAFT_HEADLINE_REPEATS
(default 3).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

from character_identification_spark.session import DEFAULT_CPUS, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = DEFAULT_CPUS
SCALING = os.environ.get("SPARK_GRAFT_SCALING", "1") != "0"
SCALE_PAGES = int(os.environ.get("SPARK_GRAFT_SCALE_PAGES", "1600000"))

HEADLINE = [
    "er_entities",          # full ER pipeline: blocking → pairs → score → CC
    "dedup_minhash_pairs",  # MinHash-LSH near-dup with exact-Jaccard verify
    "dedup_simhash_pairs",  # SimHash + pigeonhole band join
    "similarity_topk",      # brute-force cosine top-k (broadcast queries)
    "text_stats",           # quality-filter feature block
    "url_dedup",            # canonical-url dedup tier (one shuffle)
    "text_repetition",      # Gopher repetition stats (explode + keyed aggs)
    "asof_prev_event",      # as-of window join
    "events_tumbling",      # tumbling-window aggregation
    "tpch_q1",              # relational agg baseline
]

BENCH_CONF = {
    # the bench corpus is ~10²–10³ MB: without these, file packing and
    # AQE coalescing squeeze scans/shuffles into a handful of partitions
    # and parallelism never materializes
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    # bigger Arrow batches amortize the per-batch numpy setup of the
    # vectorized string-similarity UDFs over the 10^7-pair stage
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.ui.showConsoleProgress": "false",
}


def bench_session(app: str, cores: int = CPUS) -> SparkSession:
    spark = get_spark(app, cores, 4 * cores, extra_conf=BENCH_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm(spark: SparkSession) -> None:
    """Warm the Python-worker pool + Arrow channel outside the timed
    window: the first pandas-UDF call in a session pays ~10-20 s of worker
    spawn + JIT that would otherwise land on the first measured query."""
    from character_identification_spark.functions.strings import jaro_winkler_udf

    w = spark.createDataFrame([("alpha beta", "alpha bets")], ["norm_1", "norm_2"])
    _force(w.select(jaro_winkler_udf("norm_1", "norm_2")))


def run_headline(spark: SparkSession) -> dict[str, float]:
    from character_identification_spark.driver_contract import QUERIES

    times: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.monotonic()
        _force(QUERIES[name](spark, SF_DIR))
        times[name] = round(time.monotonic() - t0, 3)
    return times


def _headline_worker() -> None:
    """Child-process entry: run the headline suite once, print the per-
    query seconds as one JSON line. One JVM per repeat, taskset-pinned by
    the parent — same isolation discipline as the scaling workers, so
    round-over-round headline comparisons measure code, not tenants."""
    spark = bench_session("bench-headline")
    warm(spark)
    times = run_headline(spark)
    print("HEADLINE_JSON " + json.dumps(times))
    spark.stop()


def _run_pinned(args: list[str], cores: int, marker: str) -> str:
    """Run this script with ``args`` pinned to CPUs 0..cores-1; return the
    first capture of ``marker`` in its stdout. Pinning keeps an unpinned
    JVM's GC/JIT/shuffle-IO threads off spare host cores, which would
    inflate low-core throughput."""
    cmd = [sys.executable, os.path.abspath(__file__), *args]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    m = re.search(marker, proc.stdout)
    if not m:
        raise RuntimeError(
            f"{args[0]} ({cores} cores) failed:\n{proc.stdout[-2000:]}\n"
            f"{proc.stderr[-2000:]}"
        )
    return m.group(1)


def run_headline_pinned() -> tuple[dict[str, float], list[dict[str, float]]]:
    """Best-of-N headline: N subprocess runs (default 3, env
    SPARK_GRAFT_HEADLINE_REPEATS), per-query MIN across runs — on a shared
    host the min is the least-interfered measurement of the job's own
    cost (same rationale as the scaling section's best-of-N). Raised from
    2 to 3 in round 4: the round-3 driver artifact showed a 30% spread
    between its two runs (VERDICT r3 #4) and one extra ~70 s run is cheap
    insurance against a tenant burst landing on both."""
    repeats = int(os.environ.get("SPARK_GRAFT_HEADLINE_REPEATS", "3"))
    runs = [
        json.loads(_run_pinned(["--headline-worker"], CPUS, r"HEADLINE_JSON (\{.*\})"))
        for _ in range(repeats)
    ]
    best = {
        name: round(min(r[name] for r in runs), 3) for name in HEADLINE
    }
    return best, runs


def _scale_worker(cores: int, pages_path: str) -> None:
    """Child-process entry: run the shipped pipeline once at local[cores]
    into a fresh workdir, print the wall seconds, remove the workdir. One
    JVM per measurement — session reuse across masters leaks broken
    accumulator channels that tax every task of the second session."""
    from character_identification_spark.ingest.mentions import extract_mentions
    from character_identification_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    spark = bench_session(f"bench-scaling-{cores}", cores)
    pages = spark.read.parquet(pages_path)
    # warm the python-worker pool outside the timed window: mention
    # extraction (mapInPandas) is the pipeline's first Python stage
    _force(extract_mentions(pages))
    workdir = tempfile.mkdtemp(prefix="bench_scale_")
    try:
        t0 = time.monotonic()
        run_pipeline(spark, pages, workdir, PipelineConfig(force=True))
        print(f"WALL_S {time.monotonic() - t0:.3f}")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()


def run_scaling(pages_path: str, n_pages: int) -> dict:
    # Default legs N = hi // 4 vs 4N = hi, hi = min(8, CPUS): the hi leg
    # never oversubscribes the host, and on a shared many-core host a
    # CPU-bound job measured at best 2.4× from 8→32 threads but a clean
    # 4.0× from 2→8 — see BENCH.md for the calibration. Override via
    # SPARK_GRAFT_SCALE_CORES="lo,hi".
    hi = min(8, CPUS)
    lo, hi = (
        int(x)
        for x in os.environ.get(
            "SPARK_GRAFT_SCALE_CORES", f"{max(1, hi // 4)},{hi}"
        ).split(",")
    )
    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "2"))
    out: dict = {"pages": n_pages, "cores_lo": lo, "cores_hi": hi,
                 "repeats": repeats}
    for tag, cores in (("lo", lo), ("hi", hi)):
        walls = [
            float(_run_pinned(
                ["--scale-worker", str(cores), pages_path], cores,
                r"WALL_S ([0-9.]+)",
            ))
            for _ in range(repeats)
        ]
        # best-of-N: the host is shared (tenant loadavg ~5-15), so min wall
        # = the least-interfered measurement of the job's own cost
        wall = min(walls)
        out[f"docs_per_sec_{tag}"] = round(n_pages / wall, 2)
        out[f"wall_s_{tag}"] = round(wall, 2)
        out[f"wall_s_{tag}_all"] = [round(w, 2) for w in walls]
    out["speedup"] = round(out["docs_per_sec_hi"] / out["docs_per_sec_lo"], 3)
    out["efficiency"] = round(out["speedup"] / (out["cores_hi"] / out["cores_lo"]), 3)
    return out


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--scale-worker":
        _scale_worker(int(sys.argv[2]), sys.argv[3])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--headline-worker":
        _headline_worker()
        return
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    pages_path = f"/tmp/bench_pages_v2_{SCALE_PAGES}"

    if SCALING and not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        from character_identification_spark.fixtures.pages_gen import (
            generate_corpus_dist,
            split_pages_gold,
        )

        spark = bench_session("bench-gen")
        shutil.rmtree(pages_path, ignore_errors=True)
        pages, _ = split_pages_gold(generate_corpus_dist(spark, SCALE_PAGES))
        pages.write.mode("overwrite").parquet(pages_path)
        spark.stop()

    times, headline_runs = run_headline_pinned()

    t0 = time.monotonic()
    scaling = run_scaling(pages_path, SCALE_PAGES) if SCALING else None

    result = {
        "metric": "headline_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "headline_runs": [round(sum(r.values()), 3) for r in headline_runs],
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if scaling:
        result["er_docs_per_sec"] = scaling["docs_per_sec_hi"]
        result["scaling"] = scaling
        result["scaling_wall_s"] = round(time.monotonic() - t0, 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
