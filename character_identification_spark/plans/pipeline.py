"""The end-to-end record-linkage pipeline: checkpointed, resumable, metered.

Stage graph (each stage = one checkpoint table + one metrics row + a
per-partition lineage table):

  pages ─extract→ extracted ─mentions→ mentions ─dedup→ names
        ─blocks→ block_assign ─pairs→ candidate_pairs ─scores→ scored_pairs
        ─split→ edge_split (one table, role = safe|amb)
        ─CC+attach→ name_clusters ─context-resolve→ assignments
        ─entities→ entities

Linkage runs at the NAME level (dedup-then-link): blocking, pairing,
scoring, and connected components operate on DISTINCT normalized name
strings; mentions inherit their name's cluster through one join on norm.
Identical surface forms trivially co-refer, so collapsing them first
shrinks the quadratic stages by the mention-per-name multiplicity (~10³ on
web corpora — a celebrity name appears millions of times but is one node
here), which is what makes the 10^12-mention target tractable. The final
norm join is skew-prone (hot names fan out to many mentions) but
many-to-one, which AQE skew-split handles; no pair generation ever sees
the multiplicity.

Resume: a stage whose output table already exists (committed _SUCCESS /
Iceberg snapshot) is skipped and its table re-read — so a killed job
restarts from the last finished stage, the reference's pickle-checkpoint
pattern (reference: latest/export_noc_clusters.py:167-173 →
latest/run-linking.py:36-38) promoted to real tables. ``force`` recomputes
everything.

Metrics (stage, rows, wall_s, inputs) and lineage (stage, partition_id,
rows) go to ``_meta_metrics`` / ``_meta_lineage`` — the north rule's
per-partition lineage + metrics tables, and the distributed analog of the
reference's Timer logging (reference: python/util/__init__.py:5-28). A
built stage costs only its write: its lineage rows come from
``StageStore.partition_rows`` (on parquet, the part-file footers, so
``partition_id`` is the write task that produced a part file), its row
count is their sum, and the table is read back with its footer schema, so
none of this launches a Spark job. Each built stage buffers its rows in
the StageStore; the run commits them once, one append per table, when it
ends — also when a stage fails, so the rows of the stages that finished
are kept. A hard-killed process (no ``finally``) loses that run's meta
rows, but its committed stage tables still let the next run resume.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from character_identification_spark.evaluation.pairf1 import (
    gold_pairs_from_mentions,
    pairwise_f1,
)
from character_identification_spark.functions.hashing import h_hex, h_long
from character_identification_spark.ingest.extract import extracted_pages
from character_identification_spark.ingest.mentions import extract_mentions
from character_identification_spark.operators.blocking import assign_blocks
from character_identification_spark.operators.canonicalize import canonical_entities
from character_identification_spark.operators.cc import connected_components
from character_identification_spark.operators.context import (
    edge_views,
    name_cluster_table,
    name_edge_table,
    resolve_in_context,
)
from character_identification_spark.operators.pairs import generate_pairs
from character_identification_spark.operators.scoring import score_pairs
from character_identification_spark.sources.catalog import StageStore


@dataclass
class PipelineConfig:
    keep_lang: str | None = "en"
    prefix_len: int = 4
    n_gram: int = 3
    num_hashes: int = 12
    band_size: int = 2
    max_block_size: int | None = 200
    threshold: float = 0.82
    cc_max_iter: int = 50
    catalog: str | None = None
    force: bool = False
    # 60-bit md5-prefix longs are the fast name key (8-byte shuffle keys
    # through blocking/pairs/CC); the names stage ASSERTS injectivity, so
    # a birthday collision fails loudly instead of silently fusing names.
    # Flip to 128 (full md5 hex strings) for 10^9+-name vocabularies,
    # where 60-bit collision probability (~0.4) makes the assert trip.
    name_key_bits: int = 60

    def __post_init__(self):
        if self.name_key_bits not in (60, 128):
            raise ValueError(
                f"name_key_bits must be 60 or 128, got {self.name_key_bits}"
            )


def _run_stage(store: StageStore, name: str, inputs: list[str], build, cfg: PipelineConfig) -> DataFrame:
    if store.exists(name) and not cfg.force:
        return store.read(name)
    t0 = time.monotonic()
    df = build()
    store.write(df, name)
    # the committed table's per-partition row counts come from the store
    # (parquet: its part-file footers, no Spark job), and the stage row
    # count is their sum — the table just written is never scanned here
    lin = store.partition_rows(name)
    wall = time.monotonic() - t0
    store.buffer(
        "_meta_lineage",
        "stage string, partition_id int, rows long",
        [(name, pid, rows) for pid, rows in lin],
    )
    store.buffer(
        "_meta_metrics",
        "stage string, rows long, wall_s double, inputs string",
        [(name, sum(rows for _, rows in lin), float(wall), ",".join(inputs))],
    )
    return store.read(name)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    cfg: PipelineConfig | None = None,
) -> dict[str, DataFrame]:
    """Run all stages over a pages DF; returns every stage's DataFrame.
    The stages' meta rows are committed once, when the run ends or fails."""
    cfg = cfg or PipelineConfig()
    store = StageStore(spark, workdir, cfg.catalog)
    try:
        return _pipeline_stages(store, pages, cfg)
    finally:
        store.commit_buffered()


def _pipeline_stages(store: StageStore, pages: DataFrame, cfg: PipelineConfig) -> dict[str, DataFrame]:
    extracted = _run_stage(
        store, "extracted", ["pages"], lambda: extracted_pages(pages, cfg.keep_lang), cfg
    )
    mentions = _run_stage(
        store, "mentions", ["extracted"], lambda: extract_mentions(extracted), cfg
    )
    # name-level linkage: one node per distinct normalized surface form.
    # name_uid rides in the blocking/pairing operators' mention_uid slot.
    name_key = (
        h_long(F.col("norm"))
        if cfg.name_key_bits == 60
        else h_hex(F.col("norm"), 32)
    )
    names = _run_stage(
        store,
        "names",
        ["mentions"],
        lambda: mentions.select("norm").distinct().withColumn("mention_uid", name_key),
        cfg,
    )
    if cfg.name_key_bits == 60:
        # injectivity gate (one agg over the vocabulary-sized table): a
        # hash collision here would silently fuse two distinct names into
        # one linkage node downstream — fail instead
        nrow = names.agg(
            F.count("*").alias("n"), F.count_distinct("mention_uid").alias("d")
        ).collect()[0]
        if nrow["n"] != nrow["d"]:
            raise RuntimeError(
                f"name-key collision: {nrow['n']} norms → {nrow['d']} uids; "
                "rerun with PipelineConfig(name_key_bits=128)"
            )
    blocks = _run_stage(
        store,
        "block_assign",
        ["names"],
        lambda: assign_blocks(
            names,
            prefix_len=cfg.prefix_len,
            n_gram=cfg.n_gram,
            num_hashes=cfg.num_hashes,
            band_size=cfg.band_size,
            max_block_size=cfg.max_block_size,
        ),
        cfg,
    )
    pairs = _run_stage(
        store,
        "candidate_pairs",
        ["names", "block_assign"],
        lambda: generate_pairs(names, blocks, payload_cols=("norm",)),
        cfg,
    )
    scored = _run_stage(
        store,
        "scored_pairs",
        ["candidate_pairs"],
        # names are distinct strings by construction, so the string-dedup
        # prepass inside score_pairs would be a no-op shuffle — skip it
        lambda: score_pairs(pairs, cfg.threshold, dedup_strings=False),
        cfg,
    )
    # global CC runs only over unambiguous↔unambiguous matches; matches
    # with one ambiguous side become candidate attachments (hub-safe
    # linkage — see operators/context.py). One table, one pass over the
    # scored pairs; the two roles are partition-pruned filters on it.
    edge_split = _run_stage(
        store,
        "edge_split",
        ["scored_pairs"],
        lambda: name_edge_table(scored, cfg.threshold),
        cfg,
    )
    edges, amb_links = edge_views(edge_split)
    name_clusters = _run_stage(
        store,
        "name_clusters",
        ["edge_split", "names"],
        lambda: name_cluster_table(
            names,
            connected_components(
                edges, max_iter=cfg.cc_max_iter, converge_check_every=2
            ),
            amb_links,
        ),
        cfg,
    )
    assignments = _run_stage(
        store,
        "assignments",
        ["name_clusters", "edge_split", "mentions"],
        lambda: resolve_in_context(mentions, name_clusters, amb_links),
        cfg,
    )
    entities = _run_stage(
        store,
        "entities",
        ["assignments"],
        lambda: canonical_entities(assignments),
        cfg,
    )
    return {
        "extracted": extracted,
        "mentions": mentions,
        "names": names,
        "block_assign": blocks,
        "candidate_pairs": pairs,
        "scored_pairs": scored,
        "edge_split": edge_split,
        "match_edges": edges,
        "alias_links": amb_links,
        "name_clusters": name_clusters,
        "assignments": assignments,
        "entities": entities,
    }


def evaluate_pipeline(results: dict[str, DataFrame], gold_mentions: DataFrame) -> dict:
    """Pairwise F1 of produced assignments vs gold, at the gold blocking
    keys (the BASELINE.json target metric)."""
    gold_pairs = gold_pairs_from_mentions(gold_mentions)
    return pairwise_f1(results["assignments"], gold_pairs)
