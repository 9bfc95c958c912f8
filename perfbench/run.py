"""Entity-resolution benchmark: one workload per call.

    python3 perfbench/run.py --workload crawl_link --seed 1 --seconds 1 --trace 0

Run from the root of a checkout of the repository. Each call starts one
``local[cores]`` Spark session, sets the workload's inputs up (several
times, reporting the median as ``setup_s``), then runs timed passes of the
workload (see ``workloads.py``) into fresh work directories until
``--seconds`` have passed (at least one pass). Correctness is checked
after the timed window: pair F1 of the first pass against the generator's
gold, and every pass's (uid, cluster_id) digest against the first.

``cpu_s`` and ``setup_s`` are CPU seconds, user plus system, of the whole
process tree (this driver, the JVM, the Python workers). On a shared
4-CPU host the wall time of the same pass swung by a quarter between
consecutive runs as the host took CPU time away (steal); CPU time moved
far less. Wall times go to the line before the result.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
passes with spans and Spark counters around the calls into each layer and
prints the per-layer metrics (on ``vocab_link`` it then also attaches the
held-out drops through the streaming layer). Host facts and versions go to
the line before the result; the last line of standard output is the
result JSON. ``--smoke`` shrinks the inputs for a quick check of the
harness itself.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
# layers that compute a stage, then the two around them
COMPUTE_LAYERS = (
    "ingest", "names", "blocking", "pairs", "scoring", "context", "cc", "canonicalize",
)
LAYERS = COMPUTE_LAYERS + ("catalog", "pipeline")
_SUMMED = ("cpu_s", "shuffle_mb", "spill_mb", "failed_tasks", "jobs", "stages")
# streaming-attach metrics, all zero on workloads without drops
ATTACH_UNITS = {
    "incremental.batch_s": "s",
    "incremental.drops": "count",
    "incremental.stages_per_drop": "count",
    "incremental.cpu_s": "s",
    "incremental.state_mb": "MB",
    "incremental.pair_f1": "ratio",
    "incremental.spill_mb": "MB",
    "incremental.failed_tasks": "count",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _layer_metrics(tracer, passes: int, counts: dict, catalog_mb: float) -> dict:
    """Fold the spans of ``passes`` traced passes into per-pass layer metrics.
    A layer's wall time is the sum of its spans; the pipeline's is its self
    time, the part of its span that neither a direct child span nor the
    tracer covers, so the layers, self time and overhead add up to the pass."""
    agg = {layer: dict.fromkeys(_SUMMED + ("wall_s", "task_skew"), 0.0) for layer in LAYERS}
    pipeline_groups = {s["group"] for s in tracer.spans if s["layer"] == "pipeline"}
    read_s = append_s = pipeline_wall = child_s = 0.0
    for s in tracer.spans:
        dur = s["end"] - s["start"]
        a = agg[s["layer"]]
        for k in _SUMMED:
            a[k] += s[k]
        a["task_skew"] = max(a["task_skew"], s["task_skew"])
        a["wall_s"] += dur
        if s["parent"] in pipeline_groups:
            child_s += dur
        if s["layer"] == "pipeline":
            pipeline_wall += dur
        elif s["name"].startswith("read:"):
            read_s += dur
        elif s["name"].startswith("append:"):
            append_s += dur
    # self time: the pipeline span minus its direct child spans; the
    # tracer's own time is reported apart as trace.overhead_s
    agg["pipeline"]["wall_s"] -= child_s + tracer.overhead_s
    n = float(passes)
    m = {f"{layer}.wall_s": _metric(agg[layer]["wall_s"] / n, "s") for layer in COMPUTE_LAYERS}
    m["ingest.cpu_s"] = _metric(agg["ingest"]["cpu_s"] / n, "s")
    m["ingest.rows_out"] = _metric(counts["ingest.rows_out"], "rows")
    m["names.rows_out"] = _metric(counts["names.rows_out"], "rows")
    m["blocking.rows_out"] = _metric(counts["blocking.rows_out"], "rows")
    m["blocking.task_skew"] = _metric(agg["blocking"]["task_skew"], "ratio")
    m["pairs.rows_out"] = _metric(counts["pairs.rows_out"], "rows")
    m["pairs.shuffle_mb"] = _metric(agg["pairs"]["shuffle_mb"] / n, "MB")
    m["scoring.cpu_s"] = _metric(agg["scoring"]["cpu_s"] / n, "s")
    m["scoring.match_ratio"] = _metric(counts["scoring.match_ratio"], "ratio")
    m["cc.jobs"] = _metric(agg["cc"]["jobs"] / n, "count")
    m["cc.edges_in"] = _metric(counts["cc.edges_in"], "rows")
    m["catalog.read_s"] = _metric(read_s / n, "s")
    m["catalog.append_s"] = _metric(append_s / n, "s")
    m["catalog.bytes_mb"] = _metric(catalog_mb, "MB")
    m["pipeline.self_s"] = _metric(agg["pipeline"]["wall_s"] / n, "s")
    m["pipeline.wall_s"] = _metric(pipeline_wall / n, "s")
    for layer in LAYERS:
        m[f"{layer}.spill_mb"] = _metric(agg[layer]["spill_mb"] / n, "MB")
        m[f"{layer}.failed_tasks"] = _metric(agg[layer]["failed_tasks"] / n, "count")
    m["trace.overhead_s"] = _metric(tracer.overhead_s / n, "s")
    return m


def _attach_metrics(job, tracer, res: dict, state_dir: str) -> tuple[dict, bool]:
    """Run the closed drop loop after the traced passes; return the
    ``incremental.*`` metrics and whether its output checked out. Per-drop
    times come from the query's progress reports, the Spark counters from
    the query's job group, which Structured Streaming sets to its run id."""
    import workloads as wl

    q = job.attach_drops(res, state_dir)
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    drops = len(batches)
    c = tracer.counters(str(q.runId))
    covered, f1 = job.check_attached(state_dir)
    ok = drops == job.spec["drops"] and covered and f1 >= job.spec["min_f1_attached"]
    if not ok:
        print(f"drop attach: {drops} drops, every held-out name attached once: {covered}, "
              f"pair F1 {f1:.4f}", file=sys.stderr)
    per_drop = max(1, drops)
    times = [p["durationMs"]["triggerExecution"] / 1e3 for p in batches] or [0.0]
    values = {
        "incremental.batch_s": statistics.median(times),
        "incremental.drops": drops,
        "incremental.stages_per_drop": c["stages"] / per_drop,
        "incremental.cpu_s": c["cpu_s"] / per_drop,
        "incremental.state_mb": wl.dir_mb(state_dir),
        "incremental.pair_f1": f1,
        "incremental.spill_mb": c["spill_mb"] / per_drop,
        "incremental.failed_tasks": c["failed_tasks"] / per_drop,
    }
    return {k: _metric(values[k], unit) for k, unit in ATTACH_UNITS.items()}, ok


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 smoke: bool, work: str) -> dict:
    import host
    import workloads as wl

    spec = wl.WORKLOADS[name]
    n_pages = spec["smoke_pages" if smoke else "pages"]
    cores = int(spark.sparkContext.defaultParallelism)
    inputs = os.path.join(work, "inputs")
    me = os.getpid()
    setups, setup_cpus = [], []
    for _ in range(SETUP_REPEATS):
        t0, c0 = time.perf_counter(), host.tree_cpu_s(me)
        wl.make_inputs(spark, spec, n_pages, seed, inputs, cores)
        setups.append(time.perf_counter() - t0)
        setup_cpus.append(host.tree_cpu_s(me) - c0)
    job = wl.open_workload(spark, spec, inputs, n_pages, seed, cores)

    tracer = rss = None
    if trace:
        import tracer as tr

        tracer = tr.Tracer(spark)
        # sampled in the traced run only: the sampler thread competes with
        # the driver for the interpreter lock and would perturb the pass
        rss = host.PeakRss(host.jvm_pid(spark)).start()
    walls, cpus, runs, attempted, failed = [], [], [], 0, 0
    t_window = time.perf_counter()
    while not walls or time.perf_counter() - t_window < seconds:
        wd = os.path.join(work, f"pass{attempted}")
        attempted += 1
        t0, c0 = time.perf_counter(), host.tree_cpu_s(me)
        try:
            res = job.run(wd, tracer)
        except Exception:
            traceback.print_exc()
            failed += 1
            break
        walls.append(time.perf_counter() - t0)
        cpus.append(host.tree_cpu_s(me) - c0)
        runs.append((wd, res))
    peak_mb = rss.stop() if rss else 0.0

    # correctness, outside the timed window
    t_check = time.perf_counter()
    f1 = 0.0
    if runs:
        f1 = job.pair_f1(runs[0][1])
        if f1 < spec["min_f1"]:
            print(f"{name}: pair F1 {f1:.4f} below {spec['min_f1']}", file=sys.stderr)
            failed += 1
        ref = wl.assignment_digest(job.assignments(runs[0][1]))
        for _, res in runs[1:]:
            if wl.assignment_digest(job.assignments(res)) != ref:
                print(f"{name}: assignment digest differs between passes", file=sys.stderr)
                failed += 1

    info = {"workload": name, "seed": seed, "pages": n_pages, "passes": len(walls),
            "walls_s": walls, "cpus_s": cpus, "setups_s": setups,
            "setup_cpus_s": setup_cpus, "pair_f1": f1,
            "check_s": time.perf_counter() - t_check}
    if not runs:
        return {"info": info, "correct": False, "attempted": attempted,
                "failed": failed, "metrics": {}}
    if tracer is None:
        metrics = {
            "cpu_s": _metric(statistics.median(cpus), "s"),
            "setup_s": _metric(statistics.median(setup_cpus), "s"),
            "pair_f1": _metric(f1, "ratio"),
        }
    else:
        wd, res = runs[0]
        metrics = _layer_metrics(tracer, len(runs), job.layer_counts(res, wd), wl.dir_mb(wd))
        metrics["memory.peak_rss_mb"] = _metric(peak_mb, "MB")
        if "drops" in spec:
            t0 = time.perf_counter()
            attach, ok = _attach_metrics(job, tracer, res, os.path.join(work, "attach"))
            info["attach_s"] = time.perf_counter() - t0
            attempted += 1
            failed += 0 if ok else 1
        else:
            attach = {k: _metric(0.0, unit) for k, unit in ATTACH_UNITS.items()}
        metrics.update(attach)
    return {"info": info, "correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "character_identification_spark", "__init__.py")):
        print(f"package character_identification_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import host
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    before = host.host_info()
    t0 = time.perf_counter()
    spark = host.start_spark(ROOT, work)
    session_s = time.perf_counter() - t0
    try:
        versions = host.versions(spark)
        out = run_workload(spark, args.workload, args.seed, args.seconds,
                           bool(args.trace), args.smoke, work)
    finally:
        t0 = time.perf_counter()
        host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    out["info"].update(host=before, loadavg_after=list(os.getloadavg()), versions=versions,
                       session_s=session_s, stop_s=time.perf_counter() - t0)
    print(json.dumps(out.pop("info")))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
