"""Connected components: known graphs, determinism, and the reference's
gold-replay fidelity invariant (latest/tools/test.py:4-36 re-derived: the
transitive closure of gold-labeled pairs must reproduce gold clusters).

Every graph test runs both paths: the driver finish (edge sets of at most
``cc._DRIVER_EDGES`` rows) and the star loop (forced by a bound of 0)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from character_identification_spark.evaluation.pairf1 import (
    gold_pairs_from_mentions,
    pairwise_f1,
)
from character_identification_spark.operators import cc
from character_identification_spark.operators.cc import (
    attach_singletons,
    connected_components,
)

BOUNDS = {"driver": cc._DRIVER_EDGES, "loop": 0}


@pytest.fixture()
def paths(monkeypatch):
    """Iterate the CC paths: each step sets ``cc._DRIVER_EDGES`` so the
    graph takes that path, and yields the path's name."""

    def each():
        for name, bound in BOUNDS.items():
            monkeypatch.setattr(cc, "_DRIVER_EDGES", bound)
            yield name

    return each


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def _assign(df):
    return {r["node"]: r["component"] for r in df.collect()}


def test_path_graph_collapses_to_min(spark, paths):
    # chain 1-2-3-4-5 → all in component 1
    edges = _edges(spark, [(i, i + 1) for i in range(1, 5)])
    for path in paths():
        assert _assign(connected_components(edges)) == {i: 1 for i in range(1, 6)}, path


def test_two_components(spark, paths):
    edges = _edges(spark, [(1, 2), (2, 3), (10, 11)])
    for path in paths():
        got = _assign(connected_components(edges))
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}, path


def test_star_and_duplicate_edges(spark, paths):
    edges = _edges(spark, [(5, 1), (5, 2), (5, 3), (1, 5), (2, 5), (3, 3)])
    for path in paths():
        assert _assign(connected_components(edges)) == {1: 1, 2: 1, 3: 1, 5: 1}, path


def test_string_ids_and_dropped_self_loops(spark, paths):
    # hex-string keys (name_key_bits=128): the component is the least
    # string; a node seen only in a self-loop, and NULL endpoints, stay absent
    edges = spark.createDataFrame(
        [("0f", "0a"), ("0a", "c3"), ("b1", "b2"), ("ff", "ff"), (None, "0a")],
        "u string, v string",
    )
    want = {"0a": "0a", "0f": "0a", "c3": "0a", "b1": "b1", "b2": "b1"}
    for path in paths():
        out = connected_components(edges)
        assert out.schema.simpleString() == "struct<node:string,component:string>", path
        assert _assign(out) == want, path


def test_order_free_determinism(spark, paths):
    e1 = _edges(spark, [(1, 2), (3, 4), (2, 3), (7, 8)])
    e2 = _edges(spark, [(7, 8), (2, 3), (3, 4), (1, 2)]).repartition(5)
    got = {}
    for path in paths():
        got[path] = _assign(connected_components(e1))
        assert _assign(connected_components(e2)) == got[path], path
    assert got["driver"] == got["loop"]


def test_attach_singletons(spark, paths):
    nodes = spark.createDataFrame([(1,), (2,), (99,)], "mention_uid long")
    for path in paths():
        assign = connected_components(_edges(spark, [(1, 2)]))
        out = {
            r["mention_uid"]: r["cluster_id"]
            for r in attach_singletons(nodes, assign).collect()
        }
        assert out == {1: 1, 2: 1, 99: 99}, path


def test_already_star_input_converges_first_round(spark, paths):
    # input already stars-at-min: the structural convergence check (u's
    # unique, no v also a u) fires on round 0's output and the early
    # break must still yield the full correct assignment
    edges = _edges(spark, [(2, 1), (3, 1), (4, 1), (11, 10)])
    for path in paths():
        got = _assign(connected_components(edges))
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}, path


def test_shared_member_hubs_fully_merge(spark, paths):
    # two hubs sharing a member: intermediate states can have a node with
    # TWO parents whose roots are not yet merged — the shape that makes a
    # "no v is also a u" check alone unsound. The paired uniqueness
    # condition must keep the loop running until 1 and 3 actually merge.
    edges = _edges(spark, [(10, 1), (10, 2), (11, 2), (11, 3), (12, 3), (12, 4)])
    for path in paths():
        got = _assign(connected_components(edges))
        assert got == {n: 1 for n in (1, 2, 3, 4, 10, 11, 12)}, path


def test_long_chain_many_rounds(spark, paths):
    # 64-node chain: needs several star rounds; the early-break check must
    # never fire before the true fixpoint
    edges = _edges(spark, [(i, i + 1) for i in range(1, 64)])
    for path in paths():
        assert _assign(connected_components(edges)) == {i: 1 for i in range(1, 65)}, path


def test_exhausted_max_iter_raises(spark, monkeypatch):
    # the same 64-node chain needs more than one round: stopping after one
    # would return partial merges, so the loop raises instead
    path = _edges(spark, [(i, i + 1) for i in range(1, 64)])
    # the driver finish runs no star round, so max_iter does not bind it
    assert set(_assign(connected_components(path, max_iter=1)).values()) == {1}
    monkeypatch.setattr(cc, "_DRIVER_EDGES", 0)
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(path, max_iter=1)
    assert set(_assign(connected_components(path)).values()) == {1}


def test_driver_bound_is_inclusive(spark, monkeypatch):
    # at a bound of 3 a 3-edge graph is finished on the driver (no star
    # round) and a 4-edge graph enters the loop
    monkeypatch.setattr(cc, "_DRIVER_EDGES", 3)
    calls = []
    star = cc._large_star
    monkeypatch.setattr(cc, "_large_star", lambda e: calls.append(1) or star(e))
    three = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    assert _assign(connected_components(three)) == {1: 1, 2: 1, 3: 1, 4: 1}
    assert calls == []
    four = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert _assign(connected_components(four)) == {i: 1 for i in range(1, 6)}
    assert calls


def test_gold_replay_fidelity(spark, small_corpus, paths):
    """CC over gold-labeled intra-block pairs reproduces gold clusters at
    pairwise F1 == 1.0 — the reference's 'Clusters recreated with 100%
    fidelity' invariant (latest/tools/batch.py:111)."""
    _, gold = small_corpus
    gold_pairs = gold_pairs_from_mentions(gold)
    edges = gold_pairs.filter("is_match").select(
        F.col("m1").alias("u"), F.col("m2").alias("v")
    )
    for path in paths():
        assignments = attach_singletons(
            gold.select("mention_uid"), connected_components(edges)
        )
        ev = pairwise_f1(assignments, gold_pairs)
        assert ev["f1"] == 1.0 and ev["precision"] == 1.0 and ev["recall"] == 1.0, path
