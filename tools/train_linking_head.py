"""Train the cluster-linking softmax head on a reference split.

Usage:
    python tools/train_linking_head.py [dev|tst] [--write] [--epochs N]

Builds the default linker's clusters on the split, labels each cluster
with the MAJORITY coarsened gold label of its singular-gold members
(main-six vocabulary + '#other#' — the reference's F4 linking task,
system.py:189-193), extracts the pooled cluster features of
plans/linking_head.py, and fits a linear softmax with zero-init
full-batch gradient descent (convex → deterministic, no seed).

Prints dev/tst-comparable mention-level linking micro/macro F1 for BOTH
paths — the rule labels and the learned head — so the committed default
is the measured winner (CLAUDE.md sweep discipline). With --write,
rewrites character_identification_spark/models/linking_params.py.

Reference model: latest/model/linking.py:26-80 (+ pooling :108-130).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from character_identification_spark.evaluation.coref import linking_macro_f1
from character_identification_spark.fixtures.transcript import (
    read_transcript_utterances,
    transcript_gold_mentions,
)
from character_identification_spark.functions.strings import norm_text
from character_identification_spark.plans.linking_head import (
    cluster_features,
    predict_cluster_labels,
)
from character_identification_spark.plans.transcript_link import (
    link_transcript_mentions,
)
from character_identification_spark.session import get_spark

VOCAB = (
    "rachel green", "ross geller", "chandler bing",
    "monica geller", "joey tribbiani", "phoebe buffay",
)
LABELS = VOCAB + ("#other#",)

PARAMS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "character_identification_spark",
    "models",
    "linking_params.py",
)


def coarsened_gold(gold):
    coarse = F.array_distinct(
        F.transform(
            "gold_refs",
            lambda x: F.when(x.isin(*VOCAB), x).otherwise(F.lit("#other#")),
        )
    )
    return gold.withColumn("gold_refs", coarse)


def members_of(assign, gold):
    return assign.select("mention_uid", "cluster_id", "kind").join(
        gold.select("mention_uid", F.col("surface")), "mention_uid"
    ).withColumn("norm", norm_text(F.col("surface"))).select(
        "cluster_id", "norm", "kind"
    )


def cluster_gold_labels(assign, gold):
    """Majority coarsened singular-gold label per auto cluster (ties →
    lexicographic min), clusters with no singular-gold member dropped."""
    lbl = (
        gold.filter(~F.col("plural") & (F.size("gold_refs") == 1))
        .select(
            "mention_uid",
            F.when(
                F.element_at("gold_refs", 1).isin(*VOCAB),
                F.element_at("gold_refs", 1),
            ).otherwise("#other#").alias("lab"),
        )
    )
    votes = (
        assign.select("mention_uid", "cluster_id")
        .join(lbl, "mention_uid")
        .groupBy("cluster_id", "lab")
        .agg(F.count("*").alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(F.desc("n"), F.asc("lab"))
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("cluster_id", F.col("lab").alias("gold_label"))
    )


def train_softmax(X, Y, n_classes, epochs, lr=1.0, l2=1e-4):
    w = np.zeros((n_classes, X.shape[1]))
    n = len(Y)
    onehot = np.eye(n_classes)[Y]
    for _ in range(epochs):
        z = X @ w.T
        z -= z.max(axis=1, keepdims=True)
        p = np.exp(z)
        p /= p.sum(axis=1, keepdims=True)
        grad = (p - onehot).T @ X / n + l2 * w
        w -= lr * grad
    return w


def split_eval(spark, split, weights=None):
    path = f"/root/reference/json/character-identification-{split}.json"
    utt = read_transcript_utterances(spark, path)
    gold = transcript_gold_mentions(utt).cache()
    assign = link_transcript_mentions(utt, gold, label_vocab=VOCAB).cache()
    gold_c = coarsened_gold(gold)
    rule = linking_macro_f1(assign, gold_c)
    out = {"utt": utt, "gold": gold, "assign": assign, "gold_c": gold_c,
           "rule_macro": rule["f1"]}
    if weights is not None:
        feats = cluster_features(members_of(assign, gold))
        preds = predict_cluster_labels(feats, weights)
        head_assign = (
            assign.select("mention_uid", "cluster_id")
            .join(preds, "cluster_id", "left")
            .select(
                "mention_uid", F.col("pred_label").alias("auto_ref")
            )
        )
        out["head_macro"] = linking_macro_f1(
            head_assign, gold_c, auto_refs_col="auto_ref"
        )["f1"]
        # hybrid: rule label where the rules resolved one, head elsewhere
        hyb = (
            assign.select("mention_uid", "cluster_id", "auto_ref")
            .join(preds, "cluster_id", "left")
            .select(
                "mention_uid",
                F.coalesce("auto_ref", "pred_label").alias("auto_ref"),
            )
        )
        out["hybrid_macro"] = linking_macro_f1(
            hyb, gold_c, auto_refs_col="auto_ref"
        )["f1"]
    return out


def main() -> None:
    split = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "dev"
    write = "--write" in sys.argv
    epochs = int(sys.argv[sys.argv.index("--epochs") + 1]) if "--epochs" in sys.argv else 4000
    spark = get_spark(
        app_name="train_linking",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    ev = split_eval(spark, split)
    assign, gold = ev["assign"], ev["gold"]
    feats = cluster_features(members_of(assign, gold))
    labeled = (
        feats.join(cluster_gold_labels(assign, gold), "cluster_id")
        .orderBy("cluster_id")
        .collect()
    )
    X = np.array([r["fs"] for r in labeled])
    Y = np.array([LABELS.index(r["gold_label"]) for r in labeled])
    w = train_softmax(X, Y, len(LABELS), epochs)
    print(f"{split}: {len(Y)} labeled clusters, "
          f"class balance={np.bincount(Y, minlength=len(LABELS)).tolist()}")
    train_acc = (np.argmax(X @ w.T, axis=1) == Y).mean()
    print(f"train cluster-label accuracy: {train_acc:.4f}")
    weights = {lbl: w[i].tolist() for i, lbl in enumerate(LABELS)}

    for sp in (split, "tst" if split == "dev" else "dev"):
        r = split_eval(spark, sp, weights)
        print(
            f"{sp}: linking macro F1 — rules={r['rule_macro']:.4f} "
            f"head={r['head_macro']:.4f} hybrid={r['hybrid_macro']:.4f}"
        )

    if write:
        body = (
            '"""Cluster-linking softmax weights (plans/linking_head.py; feature\n'
            "order: bias, emb_mean[16], emb_max[16], kind fracs, log size).\n"
            "GENERATED by tools/train_linking_head.py — deterministic zero-init\n"
            f"full-batch softmax regression on the reference {split} split; the\n"
            "other split stays held out. Regenerate byte-identically with:\n\n"
            f"    python tools/train_linking_head.py {split} --write --epochs {epochs}\n\n"
            "Reference model: latest/model/linking.py:26-80 (+pooling :108-130).\n"
            '"""\n\n'
            f"LABELS = {LABELS!r}\n\nWEIGHTS = {{\n"
        )
        for lbl in LABELS:
            body += f"    {lbl!r}: {weights[lbl]!r},\n"
        body += "}\n"
        with open(PARAMS_PATH, "w") as fh:
            fh.write(body)
        print(f"wrote {PARAMS_PATH}")
    spark.stop()


if __name__ == "__main__":
    main()
