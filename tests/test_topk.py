"""functions/partitioning.topk_per_group: exact per-group top-k against a
Python reference, ties and an above-threshold group included (its plan
shapes are asserted in tests/test_plans.py)."""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from character_identification_spark.functions.partitioning import topk_per_group


def _order():
    return [F.desc("s"), F.asc("id")]


@pytest.fixture(scope="module")
def frame(spark):
    """(g, id, s): four small groups whose scores tie heavily (s = id % 3)
    and one group of 1,500 rows — larger than the planner's group-limit
    threshold (1000)."""
    rows = [(i % 4, i, i % 3) for i in range(40)]
    rows += [(99, 1000 + i, (i * 7) % 5) for i in range(1500)]
    return spark.createDataFrame(rows, "g int, id long, s int")


def _reference(rows, keys, k):
    groups = defaultdict(list)
    for r in rows:
        groups[tuple(r[c] for c in keys)].append(r)
    out = set()
    for members in groups.values():
        members.sort(key=lambda r: (-r["s"], r["id"]))
        out |= {(r["g"], r["id"], r["s"], i + 1) for i, r in enumerate(members[:k])}
    return out


@pytest.mark.parametrize(
    "keys,k",
    [(["g"], 1), (["g"], 50), ([], 7), (["g"], 1200)],
    ids=["top1", "k-above-group-size", "no-keys", "k-above-threshold"],
)
def test_topk_per_group_matches_reference(spark, frame, keys, k):
    got = topk_per_group(frame, keys, _order(), k, "rank")
    assert got.columns == ["g", "id", "s", "rank"]
    assert set(map(tuple, got.collect())) == _reference(frame.collect(), keys, k)


def test_topk_per_group_drops_rank_without_rank_col(spark, frame):
    got = topk_per_group(frame, ["g"], _order(), 2)
    assert got.columns == frame.columns
    assert got.count() == 4 * 2 + 2
