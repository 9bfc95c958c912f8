"""Learned cluster-linking head (M4) — the reference's linking model as a
deterministic softmax over pooled cluster representations.

The reference trains a CNN + softmax that maps each coref CLUSTER to one
label of a fixed vocabulary (main cast + '#other#'), from elementwise
max/mean-pooled mention representations (reference:
latest/model/linking.py:26-80 model, :108-130 pooling; params
latest-linking-params.json; label coarsening system.py:189-193). The
engine's counterpart, under the no-RNG discipline:

  * cluster features = mean+max pooled deterministic hash-shingle
    embeddings of member surfaces (operators/canonicalize.
    pooled_cluster_embeddings — the A3 pooling, relational/JVM-side)
    ⊕ member-kind fractions ⊕ log cluster size ⊕ bias;
  * a linear softmax head per vocabulary label, trained driver-side by
    tools/train_linking_head.py with zero-init full-batch gradient
    descent (the linear-softmax objective is convex — no seed), on the
    dev split with tst held out; weights live in
    models/linking_params.py as literals;
  * inference is pure Catalyst: per-label dot products against literal
    weight arrays, argmax via array_sort — no Python, and the only
    shuffles are the two bounded groupBys of the pooling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from character_identification_spark.functions.vectors import (
    dot,
    hash_embedding,
    vec_lit,
)

#: mention-kind slots for the kind-fraction block (fixed order; 'nom'
#: added in round 4 — without it nominal members were invisible to every
#: kind fraction and the fractions no longer summed to 1)
KINDS = ("p1", "p2", "p3m", "p3f", "ppl", "nom", "name")

EMB_DIM = 16  # hash-shingle embedding dimension (×2 for mean+max pooling)

#: total feature width: bias + mean(16) + max(16) + kind fracs + log size
N_FEATURES = 1 + 2 * EMB_DIM + len(KINDS) + 1


def cluster_features(members: DataFrame) -> DataFrame:
    """members(cluster_id, norm, kind) → (cluster_id, fs array<double>).

    Pooling is relational (posexplode → keyed agg → ordered re-collect),
    so at scale it is two bounded shuffles on cluster_id — no Python."""
    from character_identification_spark.operators.canonicalize import (
        pooled_cluster_embeddings,
    )

    with_emb = members.withColumn("embedding", hash_embedding("norm", EMB_DIM))
    pooled = pooled_cluster_embeddings(with_emb)
    stats = members.groupBy("cluster_id").agg(
        F.count("*").alias("n"),
        *[
            F.avg(F.when(F.col("kind") == k, 1.0).otherwise(0.0)).alias(f"frac_{k}")
            for k in KINDS
        ],
    )
    fs = F.concat(
        F.array(F.lit(1.0)),
        F.col("emb_mean"),
        F.col("emb_max"),
        F.array(*[F.col(f"frac_{k}") for k in KINDS]),
        F.array(F.log1p("n")),
    )
    return pooled.join(stats, "cluster_id").select(
        "cluster_id", fs.alias("fs")
    )


def predict_cluster_labels(
    features: DataFrame, weights: dict[str, list[float]]
) -> DataFrame:
    """(cluster_id, fs) → (cluster_id, pred_label): argmax over the
    per-label linear scores, ties to the lexicographically first label
    (array_sort over (−score, label)) — deterministic, JVM-side."""
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    (-dot("fs", vec_lit(w))).alias("negs"), F.lit(lbl).alias("lbl")
                )
                for lbl, w in sorted(weights.items())
            ]
        )
    )
    return features.select(
        "cluster_id", F.element_at(ranked, 1)["lbl"].alias("pred_label")
    )


def hybrid_link(
    assign: DataFrame,
    mentions: DataFrame,
    weights: dict[str, list[float]] | None = None,
) -> DataFrame:
    """The measured-winner linking configuration (dev-selected,
    tools/train_linking_head.py): keep the rule label where the linker
    resolved one, and let the softmax head label the clusters the rules
    left unresolved (pools, pseudo-name clusters, singletons).

    Measured linking macro F1 on the coarsened task (main six +
    '#other#'; see BASELINE.md for the committed round-4 re-measure):
    the head alone is weak (surface shingles generalize poorly), but as
    a gap-filler the HYBRID beats rules-only by ~+4 tst points — exactly
    the role the reference gives its linking model after coref
    (system.py:213-226).

    assign = link_transcript_mentions output (mention_uid, cluster_id,
    auto_ref, kind); mentions supplies (mention_uid, surface).
    → (mention_uid, auto_ref)."""
    if weights is None:
        from character_identification_spark.models.linking_params import WEIGHTS

        weights = WEIGHTS
    from character_identification_spark.functions.strings import norm_text

    members = (
        assign.select("mention_uid", "cluster_id", "kind")
        .join(mentions.select("mention_uid", "surface"), "mention_uid")
        .withColumn("norm", norm_text(F.col("surface")))
        .select("cluster_id", "norm", "kind")
    )
    preds = predict_cluster_labels(cluster_features(members), weights)
    return (
        assign.select("mention_uid", "cluster_id", "auto_ref")
        .join(preds, "cluster_id", "left")
        .select(
            "mention_uid",
            F.coalesce("auto_ref", "pred_label").alias("auto_ref"),
        )
    )
