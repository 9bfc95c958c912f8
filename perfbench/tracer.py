"""Spans and Spark counters around the calls into each layer.

The package is not edited: ``traced_pipeline`` patches ``StageStore``'s
``write``/``read``/``append`` and the pipeline's ``_run_stage`` for the
duration of one ``run_pipeline`` call and restores them afterwards. A
stage's work runs in two places: its ``build`` callback, which is lazy for
most stages but runs every connected-components round eagerly (each round
is a local checkpoint plus a convergence job), and its ``write``, which
computes the rest and commits the table. Both run in a span of the stage's
layer. What ``run_pipeline`` does between the spans (lineage scans, the
name-key check) is the pipeline's self time. The ``vocab_link`` chain
needs no patching: it opens one span per stage itself.

Every span runs under its own Spark job group. When it closes, the tracer
drains the listener bus and reads the group's finished stages from
Spark's status store (executor run and CPU time, shuffle bytes, spill,
failed tasks, max/median task time). Those reads launch no Spark job. The
time the tracer spends on itself is kept apart as its overhead.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

from character_identification_spark.plans import pipeline
from character_identification_spark.sources.catalog import StageStore

# pipeline stage table -> layer (module) that computes it
STAGE_LAYER = {
    "extracted": "ingest",
    "mentions": "ingest",
    "names": "names",
    "block_assign": "blocking",
    "candidate_pairs": "pairs",
    "scored_pairs": "scoring",
    "edge_split": "context",
    "name_clusters": "cc",
    "assignments": "context",
    "entities": "canonicalize",
}

_COUNTERS = ("cpu_s", "shuffle_mb", "spill_mb", "failed_tasks", "jobs", "stages", "task_skew")
_group_ids = itertools.count()


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._seen_stages: set[tuple[int, int]] = set()
        self._groups: list[str] = []
        self.spans: list[dict] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str):
        t_in = time.perf_counter()
        group = f"perfbench-{next(_group_ids)}"
        rec = {
            "name": name,
            "layer": layer,
            "parent": self._groups[-1] if self._groups else None,
            "group": group,
        }
        self.spans.append(rec)
        self._groups.append(group)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._groups.pop()
            if self._groups:
                self.sc.setJobGroup(self._groups[-1], "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec.update(self.counters(group))
            self.overhead_s += time.perf_counter() - rec["end"]

    def counters(self, group: str) -> dict:
        """Sum the finished stages of ``group``'s jobs. Stages a job skipped
        (reused shuffle output) count under the span that computed them."""
        self._jsc.listenerBus().waitUntilEmpty()
        gw = self.sc._gateway
        no_filter = gw.jvm.java.util.ArrayList()
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        out = dict.fromkeys(_COUNTERS, 0.0)
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        out["jobs"] = float(len(job_ids))
        heaviest = (-1.0, None)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                attempts = self._store.stageData(int(sid), False, no_filter, False, quantiles)
                for i in range(attempts.size()):
                    s = attempts.apply(i)
                    key = (int(sid), int(s.attemptId()))
                    if s.status().toString() != "COMPLETE" or key in self._seen_stages:
                        continue
                    self._seen_stages.add(key)
                    out["stages"] += 1
                    run_s = s.executorRunTime() / 1e3
                    out["cpu_s"] += s.executorCpuTime() / 1e9
                    out["shuffle_mb"] += s.shuffleWriteBytes() / 2**20
                    out["spill_mb"] += s.diskBytesSpilled() / 2**20
                    out["failed_tasks"] += s.numFailedTasks()
                    if run_s > heaviest[0]:
                        heaviest = (run_s, key)
        if heaviest[1] is not None:
            summary = self._store.taskSummary(heaviest[1][0], heaviest[1][1], quantiles)
            if summary.isDefined():
                q = summary.get().executorRunTime()
                med, top = q.apply(0), q.apply(1)
                out["task_skew"] = top / med if med > 0 else 1.0
        return out


@contextmanager
def traced_pipeline(tracer: Tracer):
    """Patch StageStore and ``pipeline._run_stage`` so each stage's build,
    and each write/read/append call, runs inside a span."""
    originals = {m: getattr(StageStore, m) for m in ("write", "read", "append")}
    run_stage = pipeline._run_stage

    def wrap(method: str):
        orig = originals[method]

        def call(self, df_or_name, *args, **kwargs):
            name = df_or_name if method == "read" else args[0]
            layer = STAGE_LAYER.get(name, "catalog") if method == "write" else "catalog"
            with tracer.span(f"{method}:{name}", layer):
                return orig(self, df_or_name, *args, **kwargs)

        return call

    def traced_run_stage(store, name, inputs, build, cfg):
        def traced_build():
            with tracer.span(f"build:{name}", STAGE_LAYER[name]):
                return build()

        return run_stage(store, name, inputs, traced_build, cfg)

    for m in originals:
        setattr(StageStore, m, wrap(m))
    pipeline._run_stage = traced_run_stage
    try:
        yield
    finally:
        for m, f in originals.items():
            setattr(StageStore, m, f)
        pipeline._run_stage = run_stage
