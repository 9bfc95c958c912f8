"""Smoke test of bench.py's timed scaling path: the worker runs the
shipped pipeline on a parquet corpus, prints its wall seconds, and removes
its scratch workdir."""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_scale_worker_runs_pipeline_and_cleans_up(small_corpus, tmp_path):
    pages, _ = small_corpus
    pages_p = str(tmp_path / "pages")
    pages.write.parquet(pages_p)
    scratch = tmp_path / "tmp"
    scratch.mkdir()

    # cwd at the repo root so the Python workers import the package
    proc = subprocess.run(
        [sys.executable, "bench.py", "--scale-worker", "2", pages_p],
        capture_output=True, text=True, timeout=600, cwd=REPO,
        env={**os.environ, "TMPDIR": str(scratch)},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert re.search(r"^WALL_S [0-9.]+$", proc.stdout, re.M), proc.stdout[-2000:]
    assert list(scratch.glob("bench_scale_*")) == []
