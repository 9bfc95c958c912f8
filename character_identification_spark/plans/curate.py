"""The end-to-end corpus-curation pipeline: checkpointed, resumable,
metered — the training-data companion to the linkage pipeline
(plans/pipeline.py, same StageStore / lineage / metrics contract: meta
rows are committed once per run, also when a stage fails; a hard-killed
run loses that run's meta rows but still resumes from its stage tables).

Stage graph (each stage = one checkpoint table + metrics + lineage):

  docs ─features→ features      quality + language, ONE scan (keep=text)
       ─filter→  kept           quality ≥ min_quality ∧ lang_pred = lang
       ─url→     url_keep       canonical-url dedup (skipped without urls)
       ─exact→   exact_groups   content-digest dedup
       ─near→    near_pairs     MinHash-LSH + exact-Jaccard verify
       ─cc→      dup_groups     connected components over dup pairs
       ─best→    curated        highest-quality doc per dup group

This is the order a 100-TB crawl actually wants: cheap narrow projections
first (quality/lang fuse into the scan and drop the bulk), then the
one-shuffle tiers (url, digest), then the banded-LSH tier over the
survivors only. Every stage's volume is linear in its input; the only
quadratic-looking step (near-dup verify) is bounded by the LSH bucket cap
inside minhash_dup_pairs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from character_identification_spark.operators.curation import (
    keep_best_per_cluster,
    url_dedup,
)
from character_identification_spark.operators.dedup import (
    dedup_clusters,
    exact_dedup,
    minhash_dup_pairs,
)
from character_identification_spark.operators.textstats import language_id, text_stats
from character_identification_spark.plans.pipeline import _run_stage
from character_identification_spark.sources.catalog import StageStore


@dataclass
class CurationConfig:
    min_quality: float = 0.5
    keep_lang: str | None = "en"
    url_col: str | None = None  # set to dedup by canonical URL first
    n_gram: int = 3
    num_hashes: int = 16
    band_size: int = 2
    jaccard_threshold: float = 0.7
    max_bucket_size: int = 1000
    catalog: str | None = None
    force: bool = False


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    workdir: str,
    cfg: CurationConfig | None = None,
) -> dict[str, DataFrame]:
    """docs(doc_id, text[, url]) → every stage's DataFrame; ``curated``
    is the surviving corpus (one highest-quality doc per duplicate group,
    with its quality score)."""
    cfg = cfg or CurationConfig()
    store = StageStore(spark, workdir, cfg.catalog)
    try:
        return _curation_stages(store, docs, cfg)
    finally:
        store.commit_buffered()


def _curation_stages(store: StageStore, docs: DataFrame, cfg: CurationConfig) -> dict[str, DataFrame]:
    keep_cols = ("text",) + ((cfg.url_col,) if cfg.url_col else ())
    stat_cols = (
        "n_chars", "n_tokens", "avg_token_len", "punct_ratio",
        "digit_ratio", "uniq_token_ratio", "stopword_ratio", "quality",
    )
    # quality and language in ONE scan: language_id runs over text_stats'
    # output (text carried through via keep) — no join-back on doc_id
    features = _run_stage(
        store,
        "features",
        ["docs"],
        lambda: language_id(
            text_stats(docs, keep=keep_cols), keep=keep_cols + stat_cols
        ),
        cfg,
    )
    kept = _run_stage(
        store,
        "kept",
        ["features"],
        lambda: features.filter(
            (F.col("quality") >= cfg.min_quality)
            & (
                F.lit(cfg.keep_lang is None)
                | (F.col("lang_pred") == F.lit(cfg.keep_lang or ""))
            )
        ),
        cfg,
    )
    survivors = kept
    url_keep = None
    if cfg.url_col:
        url_keep = _run_stage(
            store,
            "url_keep",
            ["kept"],
            lambda: url_dedup(kept, id_col="doc_id", url_col=cfg.url_col),
            cfg,
        )
        survivors = kept.join(
            url_keep.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
        )
    exact_groups = _run_stage(
        store,
        "exact_groups",
        ["kept"],
        lambda: exact_dedup(survivors),
        cfg,
    )
    exact_survivors = survivors.join(
        exact_groups.filter(~F.col("is_duplicate")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    near_pairs = _run_stage(
        store,
        "near_pairs",
        ["exact_groups"],
        lambda: minhash_dup_pairs(
            exact_survivors,
            n_gram=cfg.n_gram,
            num_hashes=cfg.num_hashes,
            band_size=cfg.band_size,
            jaccard_threshold=cfg.jaccard_threshold,
            max_bucket_size=cfg.max_bucket_size,
        ),
        cfg,
    )
    dup_groups = _run_stage(
        store,
        "dup_groups",
        ["near_pairs"],
        lambda: dedup_clusters(near_pairs, exact_survivors),
        cfg,
    )
    curated = _run_stage(
        store,
        "curated",
        ["dup_groups", "kept"],
        lambda: keep_best_per_cluster(
            dup_groups, exact_survivors.select("doc_id", "quality")
        ).join(
            exact_survivors.select("doc_id", "text"),
            F.col("keep_doc_id") == F.col("doc_id"),
        ).drop("doc_id"),
        cfg,
    )
    out = {
        "features": features,
        "kept": kept,
        "exact_groups": exact_groups,
        "near_pairs": near_pairs,
        "dup_groups": dup_groups,
        "curated": curated,
    }
    if url_keep is not None:
        out["url_keep"] = url_keep
    return out
