"""Candidate-pair generation: the blocked self-join.

The reference enumerates all ordered intra-block mention pairs with nested
Python loops (reference: experiments/system.py:104-112, latest/tools/
batch.py:18-29). Here it is a single equi-join on block_key with an id
inequality — the one genuinely quadratic step of the pipeline, which is why
blocking.cap_block_sizes bounds block width before this join runs.

Shuffle discipline: the self-join runs on SKINNY rows (block_key + two
longs) and dedupes to one row per pair (min block_key — deterministic,
unlike dropDuplicates which keeps an arbitrary block); payload columns are
attached AFTER dedup with two key joins. At 10^12-doc scale the raw pair
fan-out is cap× the assignment count, so shuffling strings through it
would multiply shuffle bytes by the payload width for rows that mostly
collapse in the dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def generate_pairs(
    mentions: DataFrame,
    assign: DataFrame,
    payload_cols: tuple[str, ...] = ("norm", "surface"),
) -> DataFrame:
    """mentions(mention_uid, …payload) × assign(mention_uid, block_key) →
    pairs(uid1, uid2, block_key, <payload>_1, <payload>_2) with uid1 < uid2.
    """
    a = assign.select("block_key", F.col("mention_uid").alias("uid1"))
    b = assign.select("block_key", F.col("mention_uid").alias("uid2"))
    slim = (
        a.join(b, "block_key")
        .filter(F.col("uid1") < F.col("uid2"))
        .groupBy("uid1", "uid2")
        .agg(F.min("block_key").alias("block_key"))
    )
    m1 = mentions.select(
        F.col("mention_uid").alias("uid1"),
        *[F.col(c).alias(f"{c}_1") for c in payload_cols],
    )
    m2 = mentions.select(
        F.col("mention_uid").alias("uid2"),
        *[F.col(c).alias(f"{c}_2") for c in payload_cols],
    )
    return slim.join(m1, "uid1").join(m2, "uid2")


def match_edges_sparse(
    mentions: DataFrame,
    assign: DataFrame,
    threshold: float,
) -> DataFrame:
    """Connectivity-equivalent sparse match graph (round-6 perf): edges(u, v)
    whose connected components are EXACTLY those of the full blocked pair
    graph ``score_pairs(generate_pairs(...)).filter(is_match)``, built
    without ever materializing the |block|² pair fan-out.

    Construction, per capped block:
      1. member→rep stars: group the block's mentions by norm, link every
         member to the group's min-uid rep. Valid edges of the full graph:
         identical norms always match (tokenwise_typo holds trivially).
      2. rep-rep edges: the block's reps pair up (uid-ordered, like
         generate_pairs) and an edge is kept iff _score_strings says the
         NORM pair matches — is_match is a pure function of the two
         strings, so it is evaluated once per distinct norm pair (the
         vocabulary), not once per mention pair.

    Equivalence: every emitted edge is an edge of the full graph (same-norm
    pairs always match; rep pairs are ordinary block pairs). Conversely any
    full-graph edge (a∈X, b∈Y, same block, is_match(X,Y)) is bridged as
    a—rep_X—rep_Y—b (is_match is symmetric — every feature is). NULL-norm
    mentions never match anything (all their features are NULL), so they
    are excluded from the stars rather than grouped by the NULL key.

    Scale shape: the self-join runs on the per-block NORM-GROUP reps
    (≤ block size, typically ≪), stars are linear in the assignment count,
    and the scorer's pandas UDF sees vocabulary pairs only. Output may
    repeat an edge across blocks — connected_components dedups on entry.

    The two multiply-consumed intermediates are localCheckpointed (the
    windowed assignment feeds stars + both rep-join sides; rp feeds the
    scorer and the edge join) — like connected_components, the call runs
    eagerly. Measured: whole edges+CC segment 14.9 → 9.0 s cold / 9.4 →
    8.9 s warm at sf0.1 (the cold delta is the duplicated subtrees'
    codegen).
    """
    from character_identification_spark.operators.scoring import _score_strings

    normed = (
        assign
        if "norm" in assign.columns
        else assign.join(mentions.select("mention_uid", "norm"), "mention_uid")
    )
    a = normed.filter(F.col("norm").isNotNull()).withColumn(
        "rep",
        F.min("mention_uid").over(Window.partitionBy("block_key", "norm")),
    ).localCheckpoint(eager=True)
    stars = a.filter(F.col("mention_uid") != F.col("rep")).select(
        F.col("mention_uid").alias("u"), F.col("rep").alias("v")
    )
    reps = a.select("block_key", "norm", "rep").distinct()
    r1 = reps.select(
        "block_key", F.col("norm").alias("norm_1"), F.col("rep").alias("uid1")
    )
    r2 = reps.select(
        "block_key", F.col("norm").alias("norm_2"), F.col("rep").alias("uid2")
    )
    rp = (
        r1.join(r2, "block_key")
        .filter(F.col("uid1") < F.col("uid2"))
        .select("uid1", "uid2", "norm_1", "norm_2")
        .distinct()
        .localCheckpoint(eager=True)
    )
    matched = (
        _score_strings(rp.select("norm_1", "norm_2").distinct(), threshold)
        .filter(F.col("is_match"))
        .select("norm_1", "norm_2")
    )
    rep_edges = rp.join(matched, ["norm_1", "norm_2"]).select(
        F.col("uid1").alias("u"), F.col("uid2").alias("v")
    )
    return stars.unionByName(rep_edges)
