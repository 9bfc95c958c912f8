"""One materialization policy: ``session.materialize`` is the package's only
lineage cut. Under a local master it is a local checkpoint; under any other
master a reliable checkpoint to the context's checkpoint dir."""

from __future__ import annotations

import ast
import gc
import os
import time
from pathlib import Path

from character_identification_spark import session
from character_identification_spark.session import materialize

PKG = Path(session.__file__).resolve().parent
CUTS = {"localCheckpoint", "checkpoint", "persist", "cache"}


def _files_under(root) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]


def test_reliable_branch_writes_to_checkpoint_dir(spark, tmp_path, monkeypatch):
    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    df = spark.range(50).selectExpr("id", "id * 7 % 11 AS v")
    want = sorted(map(tuple, df.collect()))

    local = materialize(df)
    assert sorted(map(tuple, local.collect())) == want
    assert _files_under(ckpt) == []

    monkeypatch.setattr(spark.sparkContext, "master", "spark://cluster:7077")
    reliable = materialize(df)
    assert sorted(map(tuple, reliable.collect())) == want
    assert _files_under(ckpt)

    # unreachable reliable checkpoints are removed by the ContextCleaner
    del reliable
    deadline = time.monotonic() + 60
    while _files_under(ckpt) and time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    assert _files_under(ckpt) == []


def test_package_cuts_lineage_only_through_materialize():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(node, fn.name)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in CUTS
            ):
                where = f"{path.relative_to(PKG).as_posix()}:{owner.get(node)}"
                found.append((where, node.func.attr))
    assert sorted(found) == [
        ("session.py:materialize", "checkpoint"),
        ("session.py:materialize", "localCheckpoint"),
    ], found
