"""Coreference evaluators beyond the pairwise cell: full Blanc, CEAF-e,
and linking macro F1 — the reference's evaluator suite
(reference: latest/tools/evaluators.py:61-132 Blanc, :135-155 CEAF-e,
:158-206 linking F1), re-derived as distributed DataFrame computations.

Design notes:
  * Blanc needs all four cells of the coreferent/non-coreferent confusion
    matrix. The intra-block pair enumeration already exists
    (pairf1.gold_pairs_from_mentions); one extra aggregate produces the
    non-coreferent cell — no new shuffle shape.
  * CEAF-e is a maximum-weight bipartite matching between gold and auto
    clusters under φ4 = 2|g∩a|/(|g|+|a|). Clusters never span blocking
    keys, so the φ4 matrix is block-diagonal by scene and the global
    optimum decomposes into per-scene matchings — each solved exactly by
    a numpy Hungarian (classic potentials algorithm) inside
    applyInPandas. The reference solves one driver-side dense matrix
    (sklearn linear_assignment); this decomposition is what makes the
    same exact answer computable at corpus scale.
  * Linking F1 treats the label SETS on each mention (gold_refs vs
    auto_refs) — the multi-membership (M5) view: macro = global
    intersection counts.

Ambiguous labels (#other#, #general#) never co-refer (reference:
latest/tools/state.py:28-34): gold clusters for those labels are per-
mention singletons, consistent with pairf1.AMBIGUOUS.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from character_identification_spark.evaluation.pairf1 import AMBIGUOUS


def hungarian_max(score: np.ndarray) -> float:
    """Exact maximum-weight assignment value of a (possibly rectangular)
    score matrix, unmatched rows/cols allowed at 0 contribution.

    Classic O(n²m) Hungarian with potentials on the cost form (public
    textbook algorithm); scores are non-negative here (φ4 ∈ [0, 1]), so
    padding to square with zeros preserves the optimum."""
    if score.size == 0:
        return 0.0
    n = max(score.shape)
    a = np.zeros((n + 1, n + 1))
    a[1 : score.shape[0] + 1, 1 : score.shape[1] + 1] = -score  # minimize
    INF = float("inf")
    u = np.zeros(n + 1)
    v = np.zeros(n + 1)
    p = np.zeros(n + 1, dtype=int)
    way = np.zeros(n + 1, dtype=int)
    for i in range(1, n + 1):
        p[0] = i
        j0 = 0
        minv = np.full(n + 1, INF)
        used = np.zeros(n + 1, dtype=bool)
        while True:
            used[j0] = True
            i0, delta, j1 = p[j0], INF, 0
            for j in range(1, n + 1):
                if not used[j]:
                    cur = a[i0, j] - u[i0] - v[j]
                    if cur < minv[j]:
                        minv[j] = cur
                        way[j] = j0
                    if minv[j] < delta:
                        delta = minv[j]
                        j1 = j
            for j in range(n + 1):
                if used[j]:
                    u[p[j]] += delta
                    v[j] -= delta
                else:
                    minv[j] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        while j0:
            j1 = way[j0]
            p[j0] = p[j1]
            j0 = j1
    total = 0.0
    for j in range(1, n + 1):
        if p[j] >= 1 and p[j] <= score.shape[0] and j <= score.shape[1]:
            total += score[p[j] - 1, j - 1]
    return float(total)


def _gold_cluster_rows(gold_mentions: DataFrame) -> DataFrame:
    """(block_key, gold_cluster, mention_uid): one row per gold cluster
    membership; ambiguous labels become per-mention singleton clusters."""
    g = gold_mentions.select(
        "block_key", "mention_uid", F.explode("gold_refs").alias("lbl")
    )
    singleton = F.col("lbl").isin(*AMBIGUOUS)
    return g.select(
        "block_key",
        F.when(
            singleton, F.concat("lbl", F.lit("#"), F.col("mention_uid").cast("string"))
        )
        .otherwise(F.col("lbl"))
        .alias("gold_cluster"),
        "mention_uid",
    ).distinct()


def blanc(assignments: DataFrame, gold_pairs: DataFrame) -> dict:
    """Full Blanc (both confusion cells, reference evaluators.py:61-92):
    average of coreferent-cell and non-coreferent-cell P/R/F1.

    gold_pairs enumerates every intra-block mention pair with is_match
    (the universe of links), so all four cells come from one aggregate."""
    a1 = assignments.select(
        F.col("mention_uid").alias("m1"), F.col("cluster_id").alias("c1")
    )
    a2 = assignments.select(
        F.col("mention_uid").alias("m2"), F.col("cluster_id").alias("c2")
    )
    joined = (
        gold_pairs.join(a1, "m1").join(a2, "m2")
        .withColumn("pred", F.col("c1") == F.col("c2"))
    )
    row = joined.agg(
        F.sum(F.when(F.col("pred") & F.col("is_match"), 1).otherwise(0)).alias("cc"),
        F.sum(F.when(F.col("pred") & ~F.col("is_match"), 1).otherwise(0)).alias("nc"),
        F.sum(F.when(~F.col("pred") & F.col("is_match"), 1).otherwise(0)).alias("cn"),
        F.sum(F.when(~F.col("pred") & ~F.col("is_match"), 1).otherwise(0)).alias("nn"),
    ).collect()[0]
    cc, nc, cn, nn = (row[k] or 0 for k in ("cc", "nc", "cn", "nn"))
    pc = cc / (cc + nc) if cc + nc else 0.0
    pn = nn / (cn + nn) if cn + nn else 0.0
    rc = cc / (cc + cn) if cc + cn else 0.0
    rn = nn / (nc + nn) if nc + nn else 0.0
    fc = 2 * pc * rc / (pc + rc) if pc + rc else 0.0
    fn_ = 2 * pn * rn / (pn + rn) if pn + rn else 0.0
    return {
        "cc": cc, "nc": nc, "cn": cn, "nn": nn,
        "p_coref": pc, "r_coref": rc, "f_coref": fc,
        "p_non": pn, "r_non": rn, "f_non": fn_,
        "precision": (pc + pn) / 2,
        "recall": (rc + rn) / 2,
        "f1": (fc + fn_) / 2,
    }


def ceaf_e(assignments: DataFrame, gold_mentions: DataFrame) -> dict:
    """Entity-based CEAF (reference evaluators.py:135-155): optimal
    gold↔auto cluster matching under φ4, P = Σφ/|auto|, R = Σφ/|gold|.

    The matching runs per blocking key (clusters are block-scoped, so the
    global matrix is block-diagonal) via applyInPandas — exact, not
    greedy, and distributed."""
    gold = _gold_cluster_rows(gold_mentions)
    auto = assignments.select(
        "block_key", F.col("cluster_id").alias("auto_cluster"), "mention_uid"
    )
    gsz = gold.groupBy("block_key", "gold_cluster").agg(F.count("*").alias("gn"))
    asz = auto.groupBy("block_key", "auto_cluster").agg(F.count("*").alias("an"))
    ov = (
        gold.join(auto, ["block_key", "mention_uid"])
        .groupBy("block_key", "gold_cluster", "auto_cluster")
        .agg(F.count("*").alias("ov"))
    )
    cells = (
        ov.join(gsz, ["block_key", "gold_cluster"])
        .join(asz, ["block_key", "auto_cluster"])
        .withColumn("phi", 2.0 * F.col("ov") / (F.col("gn") + F.col("an")))
        .select("block_key", "gold_cluster", "auto_cluster", "phi")
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        gids = {g: i for i, g in enumerate(pdf["gold_cluster"].unique())}
        aids = {a: i for i, a in enumerate(pdf["auto_cluster"].unique())}
        mat = np.zeros((len(gids), len(aids)))
        for g, a, phi in zip(pdf["gold_cluster"], pdf["auto_cluster"], pdf["phi"]):
            mat[gids[g], aids[a]] = phi
        return pd.DataFrame({"sim": [hungarian_max(mat)]})

    sim = (
        cells.groupBy("block_key")
        .applyInPandas(solve, "sim double")
        .agg(F.sum("sim").alias("s"))
        .collect()[0]["s"]
        or 0.0
    )
    n_gold = gold.select("block_key", "gold_cluster").distinct().count()
    n_auto = auto.select("block_key", "auto_cluster").distinct().count()
    p = sim / n_auto if sim else 0.0
    r = sim / n_gold if sim else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"similarity": sim, "n_gold": n_gold, "n_auto": n_auto,
            "precision": p, "recall": r, "f1": f1}


def _auto_labels(assignments: DataFrame, auto_refs_col: str) -> DataFrame:
    """(mention_uid, label) rows from the auto side. Array-typed columns
    (auto_refs — the pooled multi-membership list, reference
    LinkingMacroF1Evaluator semantics) are exploded so plural mentions
    contribute their FULL label set, symmetric with the gold_refs explode;
    scalar columns give the stricter primary-label view."""
    from pyspark.sql.types import ArrayType

    col_type = assignments.schema[auto_refs_col].dataType
    if isinstance(col_type, ArrayType):
        return (
            assignments.select(
                "mention_uid", F.explode(auto_refs_col).alias("label")
            )
            .filter(F.col("label").isNotNull())
            .distinct()
        )
    return (
        assignments.filter(F.col(auto_refs_col).isNotNull())
        .select("mention_uid", F.col(auto_refs_col).alias("label"))
        .distinct()
    )


def linking_macro_f1(
    assignments: DataFrame, gold_mentions: DataFrame, auto_refs_col: str = "auto_refs"
) -> dict:
    """Global linking P/R/F1 (reference evaluators.py:187-206): total
    correct (mention, label) memberships over total gold/auto counts.
    Defaults to the pooled auto_refs view (reference parity)."""
    g = gold_mentions.select(
        "mention_uid", F.explode("gold_refs").alias("label")
    ).distinct()
    a = _auto_labels(assignments, auto_refs_col)
    n_g, n_a = g.count(), a.count()
    n_c = g.join(a, ["mention_uid", "label"]).count()
    p = n_c / n_a if n_a else 0.0
    r = n_c / n_g if n_g else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"n_gold": n_g, "n_auto": n_a, "n_correct": n_c,
            "precision": p, "recall": r, "f1": f1}
