"""Ambiguity-aware linkage: hub defense + context resolution.

The tiny-corpus gate (test_pipeline) has globally-unique first names and
never exercises ambiguity; this suite generates a corpus large enough
that entities SHARE first names, which is exactly the regime where naive
transitive closure collapses (a bare "ross" bridges every Ross-entity).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from character_identification_spark.evaluation.pairf1 import (
    gold_pairs_from_mentions,
    pairwise_f1,
)
from character_identification_spark.fixtures.pages_gen import (
    generate_corpus_dist,
    split_pages_gold,
)
from character_identification_spark.functions.hashing import h_long
from character_identification_spark.ingest.extract import extracted_pages
from character_identification_spark.ingest.mentions import extract_mentions
from character_identification_spark.operators.blocking import assign_blocks
from character_identification_spark.operators.cc import connected_components
from character_identification_spark.operators.context import (
    ambiguous_col,
    name_cluster_table,
    resolve_in_context,
    split_name_edges,
)
from character_identification_spark.operators.pairs import generate_pairs
from character_identification_spark.operators.scoring import score_pairs


def test_ambiguous_col(spark):
    rows = [
        ("ross",), ("r geller",), ("ross g",), ("leonard leonard",),
        ("ross geller",), ("alice leonard vance",),
    ]
    df = spark.createDataFrame(rows, "norm string").withColumn(
        "amb", ambiguous_col("norm")
    )
    got = {r.norm: r.amb for r in df.collect()}
    assert got == {
        "ross": True,            # single token
        "r geller": True,        # initial
        "ross g": True,          # trailing initial
        "leonard leonard": True, # one DISTINCT token — flag-evading hub
        "ross geller": False,
        "alice leonard vance": False,
    }


def test_name_cluster_table_single_candidate(spark):
    # "ross" matches two anchors of ONE cluster → takes it; "rosa" matches
    # anchors of TWO clusters → keeps its uid and needs context; "r" has no
    # anchor → keeps its uid without context
    names = spark.createDataFrame(
        [(1, "ross geller"), (2, "ross gellar"), (3, "ross"), (4, "rosa taylor"),
         (5, "rosa"), (6, "r")],
        "mention_uid long, norm string",
    )
    assign = spark.createDataFrame([(1, 1), (2, 1)], "node long, component long")
    amb = spark.createDataFrame(
        [(3, 1), (3, 2), (5, 2), (5, 4)], "amb_uid long, anchor_uid long"
    )
    got = {
        r.mention_uid: (r.cluster_id, r.needs_ctx)
        for r in name_cluster_table(names, assign, amb).collect()
    }
    assert got == {
        1: (1, False), 2: (1, False), 3: (1, False), 4: (4, False),
        5: (5, True), 6: (6, False),
    }


def test_scale_f1_gate_with_shared_first_names(spark):
    """200 entities over 10k pages → many shared first names; the
    pairwise-F1 gate must hold through ambiguity resolution."""
    raw = generate_corpus_dist(spark, 10000, n_entities=200, partitions=16)
    pages, gold = split_pages_gold(raw)
    mentions = extract_mentions(extracted_pages(pages, "en")).persist()
    names = (
        mentions.select("norm").distinct()
        .withColumn("mention_uid", h_long(F.col("norm")))
    ).persist()
    blocks = assign_blocks(names, max_block_size=200)
    pairs = generate_pairs(names, blocks, payload_cols=("norm",))
    scored = score_pairs(pairs, 0.82, dedup_strings=False)
    safe_edges, amb_links = split_name_edges(scored)
    name_clusters = name_cluster_table(
        names, connected_components(safe_edges), amb_links
    )
    assignments = resolve_in_context(mentions, name_clusters, amb_links)
    ev = pairwise_f1(assignments, gold_pairs_from_mentions(gold))
    assert ev["precision"] >= 0.99, ev
    assert ev["f1"] >= 0.99, ev
