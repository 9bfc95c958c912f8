"""Pair generation and scoring semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from character_identification_spark.operators.pairs import generate_pairs
from character_identification_spark.operators.scoring import score_pairs


def test_generate_pairs_blocked_ordered_deduped(spark):
    mentions = spark.createDataFrame(
        [(1, "ross geller", "Ross Geller"), (2, "ross gellar", "Ross Gellar"),
         (3, "monica bing", "Monica Bing")],
        "mention_uid long, norm string, surface string",
    )
    assign = spark.createDataFrame(
        # 1,2 share two blocks (pair must dedup); 3 isolated
        [(1, "b1"), (2, "b1"), (1, "b2"), (2, "b2"), (3, "b3")],
        "mention_uid long, block_key string",
    )
    pairs = generate_pairs(mentions, assign).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["uid1"], p["uid2"]) == (1, 2)
    assert p["block_key"] == "b1"  # deterministic min provenance
    assert p["norm_1"] == "ross geller" and p["norm_2"] == "ross gellar"


def test_no_cross_block_pairs(spark):
    mentions = spark.createDataFrame(
        [(i, f"n{i}", f"s{i}") for i in range(6)],
        "mention_uid long, norm string, surface string",
    )
    assign = spark.createDataFrame(
        [(i, "A" if i < 3 else "B") for i in range(6)],
        "mention_uid long, block_key string",
    )
    pairs = generate_pairs(mentions, assign)
    assert pairs.count() == 6  # 3C2 + 3C2, no cross-block pairs
    bad = pairs.filter(
        ((F.col("uid1") < 3) & (F.col("uid2") >= 3))
    ).count()
    assert bad == 0


@pytest.mark.parametrize(
    "n1,n2,expected",
    [
        ("ross geller", "ross geller", True),   # exact
        ("ross geller", "ross gellar", True),   # typo
        ("ross", "ross geller", True),          # containment alias
        ("c bunch", "carol bunch", True),       # initial alias
        ("monica bing", "joey tribbiani", False),
    ],
)
def test_score_pairs_decisions(spark, n1, n2, expected):
    pairs = spark.createDataFrame(
        [(1, 2, "b", n1, n2)], "uid1 long, uid2 long, block_key string, norm_1 string, norm_2 string"
    )
    row = score_pairs(pairs).collect()[0]
    assert bool(row["is_match"]) is expected, (n1, n2, row["score"])


def test_score_monotone_features(spark):
    pairs = spark.createDataFrame(
        [(1, 2, "b", "ross geller", "ross geller"),
         (3, 4, "b", "ross geller", "monica bing")],
        "uid1 long, uid2 long, block_key string, norm_1 string, norm_2 string",
    )
    rows = {r["uid1"]: r for r in score_pairs(pairs).collect()}
    assert rows[1]["jw"] == 1.0 and rows[1]["lev_ratio"] == 1.0
    assert rows[1]["score"] > rows[3]["score"]


def test_match_edges_sparse_components_equal_full_graph(spark):
    """Round-6 sparse match graph: its connected components must equal the
    full blocked-pair graph's on a corpus with same-norm duplicate groups,
    an oversize (capped) block, transitive-only norm links, and a NULL
    norm (which must stay a singleton, never grouped by the NULL key)."""
    from character_identification_spark.operators.blocking import (
        cap_block_sizes,
    )
    from character_identification_spark.operators.cc import (
        attach_singletons,
        connected_components,
    )
    from character_identification_spark.operators.pairs import (
        match_edges_sparse,
    )

    rows = []
    # 12 copies of two typo-linked names (one shared block, will be capped)
    for i in range(12):
        rows.append((100 + i, "ross geller", "Ross Geller"))
        rows.append((200 + i, "ross gellar", "Ross Gellar"))
    # a pair that matches neither (separable) in the same block
    rows.append((300, "monica bing", "Monica Bing"))
    rows.append((301, "monica bing", "Monica Bing"))
    # a NULL norm: must never link to anything
    rows.append((400, None, "??"))
    mentions = spark.createDataFrame(
        rows, "mention_uid long, norm string, surface string"
    )
    assign = mentions.select(
        "mention_uid", F.lit("B").alias("block_key")
    ).unionByName(
        # second block family splits the same-norm group (cross-block
        # transitivity must re-merge it)
        mentions.filter(F.col("mention_uid") < 106).select(
            "mention_uid", F.lit("C").alias("block_key")
        )
    )
    capped = cap_block_sizes(assign, 8)

    full = score_pairs(
        generate_pairs(mentions, capped, payload_cols=("norm",)), 0.82
    )
    full_edges = full.filter(F.col("is_match")).select(
        F.col("uid1").alias("u"), F.col("uid2").alias("v")
    )
    sparse_edges = match_edges_sparse(mentions, capped, 0.82)

    def clusters(edges):
        out = attach_singletons(mentions, connected_components(edges))
        return sorted(
            (r["mention_uid"], r["cluster_id"])
            for r in out.select("mention_uid", "cluster_id").collect()
        )

    a, b = clusters(full_edges), clusters(sparse_edges)
    assert a == b
    # the null-norm mention is its own cluster
    assert (400, 400) in a
    # sparse graph is strictly smaller than the full pair graph
    assert sparse_edges.count() < full_edges.count()


def test_match_edges_sparse_edges_are_valid_matches(spark):
    """Every sparse edge must be an is_match pair of the full graph
    (subgraph property — no invented links)."""
    from character_identification_spark.operators.pairs import (
        match_edges_sparse,
    )

    mentions = spark.createDataFrame(
        [(1, "ross geller", "s"), (2, "ross gellar", "s"),
         (3, "ross geller", "s"), (4, "phoebe buffay", "s")],
        "mention_uid long, norm string, surface string",
    )
    assign = mentions.select("mention_uid", F.lit("B").alias("block_key"))
    full = score_pairs(
        generate_pairs(mentions, assign, payload_cols=("norm",)), 0.82
    )
    ok = {
        (r["uid1"], r["uid2"])
        for r in full.filter(F.col("is_match")).collect()
    }
    got = {
        (r["u"], r["v"]) if r["u"] < r["v"] else (r["v"], r["u"])
        for r in match_edges_sparse(mentions, assign, 0.82).collect()
    }
    assert got <= ok
    # 4 links to nothing
    assert all(4 not in e for e in got)
