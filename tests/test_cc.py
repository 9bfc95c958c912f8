"""Connected components: known graphs, determinism, and the reference's
gold-replay fidelity invariant (latest/tools/test.py:4-36 re-derived: the
transitive closure of gold-labeled pairs must reproduce gold clusters)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from character_identification_spark.evaluation.pairf1 import (
    gold_pairs_from_mentions,
    pairwise_f1,
)
from character_identification_spark.operators.cc import (
    attach_singletons,
    connected_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def _assign(df):
    return {r["node"]: r["component"] for r in df.collect()}


def test_path_graph_collapses_to_min(spark):
    # chain 1-2-3-4-5 → all in component 1
    cc = _assign(connected_components(_edges(spark, [(i, i + 1) for i in range(1, 5)])))
    assert cc == {i: 1 for i in range(1, 6)}


def test_two_components(spark):
    cc = _assign(connected_components(_edges(spark, [(1, 2), (2, 3), (10, 11)])))
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_star_and_duplicate_edges(spark):
    edges = [(5, 1), (5, 2), (5, 3), (1, 5), (2, 5), (3, 3)]
    cc = _assign(connected_components(_edges(spark, edges)))
    assert cc == {1: 1, 2: 1, 3: 1, 5: 1}


def test_order_free_determinism(spark):
    e1 = _edges(spark, [(1, 2), (3, 4), (2, 3), (7, 8)])
    e2 = _edges(spark, [(7, 8), (2, 3), (3, 4), (1, 2)]).repartition(5)
    assert _assign(connected_components(e1)) == _assign(connected_components(e2))


def test_attach_singletons(spark):
    nodes = spark.createDataFrame([(1,), (2,), (99,)], "mention_uid long")
    assign = connected_components(_edges(spark, [(1, 2)]))
    out = {
        r["mention_uid"]: r["cluster_id"]
        for r in attach_singletons(nodes, assign).collect()
    }
    assert out == {1: 1, 2: 1, 99: 99}


def test_already_star_input_converges_first_round(spark):
    # input already stars-at-min: the structural convergence check (u's
    # unique, no v also a u) fires on round 0's output and the early
    # break must still yield the full correct assignment
    edges = [(2, 1), (3, 1), (4, 1), (11, 10)]
    cc = _assign(connected_components(_edges(spark, edges)))
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_shared_member_hubs_fully_merge(spark):
    # two hubs sharing a member: intermediate states can have a node with
    # TWO parents whose roots are not yet merged — the shape that makes a
    # "no v is also a u" check alone unsound. The paired uniqueness
    # condition must keep the loop running until 1 and 3 actually merge.
    edges = [(10, 1), (10, 2), (11, 2), (11, 3), (12, 3), (12, 4)]
    cc = _assign(connected_components(_edges(spark, edges)))
    assert cc == {n: 1 for n in (1, 2, 3, 4, 10, 11, 12)}


def test_long_chain_many_rounds(spark):
    # 64-node chain: needs several star rounds; the early-break check must
    # never fire before the true fixpoint
    cc = _assign(connected_components(_edges(spark, [(i, i + 1) for i in range(1, 64)])))
    assert cc == {i: 1 for i in range(1, 65)}


def test_exhausted_max_iter_raises(spark):
    # the same 64-node chain needs more than one round: stopping after one
    # would return partial merges, so the loop raises instead
    path = _edges(spark, [(i, i + 1) for i in range(1, 64)])
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(path, max_iter=1)
    assert set(_assign(connected_components(path)).values()) == {1}


def test_gold_replay_fidelity(spark, small_corpus):
    """CC over gold-labeled intra-block pairs reproduces gold clusters at
    pairwise F1 == 1.0 — the reference's 'Clusters recreated with 100%
    fidelity' invariant (latest/tools/batch.py:111)."""
    _, gold = small_corpus
    gold_pairs = gold_pairs_from_mentions(gold)
    edges = gold_pairs.filter("is_match").select(
        F.col("m1").alias("u"), F.col("m2").alias("v")
    )
    assignments = attach_singletons(
        gold.select("mention_uid"), connected_components(edges)
    )
    ev = pairwise_f1(assignments, gold_pairs)
    assert ev["f1"] == 1.0 and ev["precision"] == 1.0 and ev["recall"] == 1.0
