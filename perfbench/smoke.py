"""Smoke test of the benchmark harness at tiny corpus sizes.

    python3 perfbench/smoke.py

Runs every workload in BENCHMARK.json once untraced and once traced with
``--smoke`` and asserts that each run exits 0, passes its correctness
checks and prints exactly the declared metrics with their declared units.
Then runs the benchmark from a directory that holds only BENCHMARK.json
and the benchmark's files and asserts that it fails without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd: str, cmd: list[str], workload: str, trace: int) -> subprocess.CompletedProcess:
    args = cmd + ["--workload", workload, "--seed", "7", "--seconds", "1",
                  "--trace", str(trace), "--smoke"]
    return subprocess.run(args, cwd=cwd, capture_output=True, text=True, timeout=180)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for w in bench["workloads"]:
        for trace in (0, 1):
            p = _run(ROOT, bench["command"], w["name"], trace)
            label = f"{w['name']} trace={trace}"
            assert p.returncode == 0, f"{label}: exit {p.returncode}\n{p.stderr[-3000:]}"
            out = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, label
            assert out["correct"] and out["attempted"] >= 1 and out["failed"] == 0, (label, out)
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == declared[trace], (label, sorted(set(got) ^ set(declared[trace])))
            print(f"ok {label}")

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    try:
        p = _run(bare, bench["command"], bench["workloads"][0]["name"], 0)
        assert p.returncode != 0, "benchmark succeeded without the package"
        assert '"metrics"' not in p.stdout, "benchmark printed a result without the package"
        print("ok fails without the package")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
