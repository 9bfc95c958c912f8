"""Ambiguity-aware cluster assignment: global safe linkage + per-context
resolution of ambiguous short aliases.

Transitive closure over string-match edges has a hub failure mode: a
single-token alias ("ross") or an initialed form ("r geller") legitimately
matches EVERY entity sharing that fragment, and one shared node merges
them all. The reference never hits this because its clustering is scoped
to a scene and an ambiguous mention is resolved against that scene's
antecedents only (reference: latest/system.py:46 scene blocking;
baseline/model/coref.py:107-134 best-antecedent selection within the
state). The web-scale generalization implemented here:

  1. ambiguous names (single token, or any 1-char token) are excluded
     from the global connected-components pass — only full-name ↔
     full-name matches (typo variants) merge clusters globally;
  2. an ambiguous name whose matched anchors all live in ONE global
     cluster attaches to it globally (no actual ambiguity);
  3. otherwise its mentions resolve per CONTEXT — the url directory, the
     crawl analog of the reference's scene — to the most frequent
     compatible anchor cluster present in that context (W5's
     top-1-per-group as a window), falling back to an own-string cluster.

All steps are keyed joins + windows: context is the blocking key of the
resolution join, so skew is bounded by context size, and the candidate
discovery reuses the already-blocked scored pairs (no new quadratic
stage).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from character_identification_spark.functions.partitioning import topk_per_group
from character_identification_spark.session import materialize


def ambiguous_col(norm_col: Column | str = "norm") -> Column:
    """True for names that cannot be linked globally: one distinct token
    (catches "leonard" AND the flag-evading "leonard leonard"), or any
    1-character token (initials) — fragments shared across entities."""
    c = F.col(norm_col) if isinstance(norm_col, str) else norm_col
    toks = F.split(c, " ")
    has_initial = F.exists(toks, lambda t: F.length(t) <= 1)
    return (F.size(F.array_distinct(toks)) == 1) | has_initial


def url_context(url_col: Column | str = "url") -> Column:
    """Context key = the url's directory prefix (site/section locality),
    the crawl analog of the reference's scene."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.regexp_extract(c, r"^(.*/)", 1)


def name_edge_table(scored: DataFrame, threshold: float | None = None) -> DataFrame:
    """scored pairs (uid1, uid2, norm_1, norm_2, is_match) → one table
    (role, a, b) splitting matches into:

      role='safe'  both sides unambiguous AND the match is strong —
                   (a, b) = (u, v), drives global CC.
      role='amb'   candidate attachment — (a, b) = (amb_uid, anchor_uid):
                   exactly one side ambiguous, or an unambiguous pair
                   whose only evidence is one-way token containment
                   ("john smith" ⊆ "john smith jr" is alias evidence, not
                   identity evidence — global fusing through it recreates
                   the hub problem one level up; same-token-set matches,
                   i.e. reordered names, stay safe).

    Ambiguous↔ambiguous matches are dropped: two fragments carry no
    linking evidence of their own. ONE pass over scored — the pipeline
    checkpoints this single table and filters per role.

    ``threshold`` is the same blend cutoff score_pairs used (shared
    DEFAULT_THRESHOLD when None), so a recalibrated scorer keeps its
    blend-rule matches on the safe side."""
    from character_identification_spark.operators.scoring import DEFAULT_THRESHOLD

    thr = DEFAULT_THRESHOLD if threshold is None else threshold
    t1, t2 = F.split("norm_1", " "), F.split("norm_2", " ")
    sub_1 = F.size(F.array_except(t1, t2)) == 0  # norm_1's tokens ⊆ norm_2's
    sub_2 = F.size(F.array_except(t2, t1)) == 0
    strong = (
        F.col("tokenwise_typo")
        | ((F.col("lev_ratio") >= 0.85) & (F.col("jw_last") >= 0.85))
        | F.col("initial_alias")
        | ((F.col("score") >= thr) & (F.col("jw_last") >= 0.85))
        | (sub_1 & sub_2)
    )
    m = scored.filter(F.col("is_match")).select(
        "uid1", "uid2",
        ambiguous_col("norm_1").alias("a1"),
        ambiguous_col("norm_2").alias("a2"),
        strong.alias("strong"),
        sub_1.alias("sub_1"),
    )
    role = (
        F.when(~F.col("a1") & ~F.col("a2") & F.col("strong"), "safe")
        .when(F.col("a1") != F.col("a2"), "amb")
        .when(~F.col("a1") & ~F.col("a2") & ~F.col("strong"), "amb")
    )
    amb_first = F.when(F.col("a1") != F.col("a2"), F.col("a1")).otherwise(
        F.col("sub_1")
    )
    return m.select(
        role.alias("role"),
        F.when((role == "amb") & ~amb_first, F.col("uid2"))
        .otherwise(F.col("uid1"))
        .alias("a"),
        F.when((role == "amb") & ~amb_first, F.col("uid1"))
        .otherwise(F.col("uid2"))
        .alias("b"),
    ).filter(F.col("role").isNotNull())


def split_name_edges(
    scored: DataFrame, threshold: float | None = None
) -> tuple[DataFrame, DataFrame]:
    """Two-view form of name_edge_table:
    (safe_edges(u, v), amb_links(amb_uid, anchor_uid))."""
    t = name_edge_table(scored, threshold)
    safe = t.filter(F.col("role") == "safe").select(
        F.col("a").alias("u"), F.col("b").alias("v")
    )
    amb = t.filter(F.col("role") == "amb").select(
        F.col("a").alias("amb_uid"), F.col("b").alias("anchor_uid")
    )
    return safe, amb


def name_cluster_table(
    names: DataFrame, base_assign: DataFrame, amb_links: DataFrame
) -> DataFrame:
    """names(mention_uid, norm) + CC output over safe edges +
    amb_links → (mention_uid, norm, cluster_id, needs_ctx).

    Unambiguous names: their CC cluster (or themselves). Ambiguous names:
    the single candidate cluster if all matched anchors agree
    (needs_ctx=false), else their own uid with needs_ctx=true.
    """
    amb_flag = ambiguous_col("norm")
    base = names.join(
        base_assign.withColumnRenamed("node", "mention_uid"), "mention_uid", "left"
    ).select(
        "mention_uid",
        "norm",
        F.coalesce(F.col("component"), F.col("mention_uid")).alias("base_cluster"),
        amb_flag.alias("is_amb"),
    )
    anchor_clusters = base.filter(~F.col("is_amb")).select(
        F.col("mention_uid").alias("anchor_uid"), F.col("base_cluster").alias("cand")
    )
    cands = (
        amb_links.join(anchor_clusters, "anchor_uid")
        .groupBy("amb_uid")
        .agg(
            F.countDistinct("cand").alias("n_cand"),
            F.min("cand").alias("only_cand"),
        )
    )
    return base.join(
        cands.withColumnRenamed("amb_uid", "mention_uid"), "mention_uid", "left"
    ).select(
        "mention_uid",
        "norm",
        F.when(~F.col("is_amb"), F.col("base_cluster"))
        .when(F.col("n_cand") == 1, F.col("only_cand"))
        .otherwise(F.col("mention_uid"))
        .alias("cluster_id"),
        (F.col("is_amb") & (F.coalesce(F.col("n_cand"), F.lit(0)) > 1)).alias(
            "needs_ctx"
        ),
    )


def resolve_in_context(
    mentions: DataFrame,
    name_clusters: DataFrame,
    amb_links: DataFrame,
    max_anchors_per_ctx: int = 10000,
) -> DataFrame:
    """mentions(mention_uid, url, norm, …) × name tables → assignments
    (mentions + cluster_id).

    Mentions of needs_ctx names pick, within their url context, the most
    frequent cluster among their compatible anchors present there
    (deterministic tie-break on cluster id); no anchor in context → the
    name's fallback cluster. One join keyed on (ctx, name) each side.
    """
    m = mentions.withColumn("ctx", url_context("url"))
    # scanned twice (easy/hard split) — one broadcast join, not two
    named = materialize(
        m.join(
            name_clusters.select(
                F.col("norm"), F.col("mention_uid").alias("name_uid"),
                "cluster_id", "needs_ctx",
            ),
            "norm",
        )
    )
    easy = named.filter(~F.col("needs_ctx")).drop("name_uid", "needs_ctx", "ctx")

    hard = named.filter(F.col("needs_ctx"))
    # anchor presence per context: (ctx, anchor cluster, weight), bounded
    # per ctx so a giant site cannot blow up the resolution join
    anchors = (
        m.join(
            name_clusters.filter(~ambiguous_col("norm")).select(
                "norm", F.col("cluster_id").alias("anchor_cluster")
            ),
            "norm",
        )
        .groupBy("ctx", "anchor_cluster")
        .agg(F.count("*").alias("w"))
    )
    anchors = topk_per_group(
        anchors, ["ctx"], [F.desc("w"), F.asc("anchor_cluster")], max_anchors_per_ctx
    )

    # which clusters each ambiguous name is compatible with (global table,
    # reuses the blocked+scored pair evidence)
    compat = (
        amb_links.join(
            name_clusters.select(
                F.col("mention_uid").alias("anchor_uid"),
                F.col("cluster_id").alias("anchor_cluster"),
            ),
            "anchor_uid",
        )
        .select(F.col("amb_uid").alias("name_uid"), "anchor_cluster")
        .distinct()
    )
    cand = (
        hard.select("mention_uid", "ctx", "name_uid", "cluster_id")
        .join(compat, "name_uid")
        .join(anchors, ["ctx", "anchor_cluster"])
    )
    picked = topk_per_group(
        cand, ["mention_uid"], [F.desc("w"), F.asc("anchor_cluster")], 1
    ).select("mention_uid", F.col("anchor_cluster").alias("ctx_cluster"))
    resolved = (
        hard.join(picked, "mention_uid", "left")
        .withColumn("cluster_id", F.coalesce(F.col("ctx_cluster"), F.col("cluster_id")))
        .drop("ctx_cluster", "name_uid", "needs_ctx", "ctx")
    )
    return easy.unionByName(resolved)
