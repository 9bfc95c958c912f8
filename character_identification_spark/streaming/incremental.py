"""Structured-Streaming ingest: pages arrive as files, mentions and
dedup fingerprints stream out incrementally.

The reference corpus is static (SURVEY.md §2.11 — no streaming anywhere);
a web-crawl corpus is not: new WARC drops land continuously. This module
runs the pipeline's narrow prefix (extract → mentions / fingerprints) as a
streaming job with exactly-once file sinks + checkpointLocation, so the
batch ER stages (blocking → pairs → CC) can re-run over the accumulated
mention table on whatever cadence re-clustering is wanted — the standard
lambda split for ER: clustering is a global fixpoint and cannot be
incrementalized safely without cluster-repair logic, extraction can.

All transformations reuse the batch operators verbatim (same functions) —
one code path, two execution modes, which is what keeps streaming and batch
byte-identical per url.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from character_identification_spark.functions.partitioning import topk_per_group
from character_identification_spark.ingest.extract import extracted_pages
from character_identification_spark.ingest.mentions import extract_mentions

PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_pages(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of pages parquet drops (one WARC batch = one or
    more files appearing atomically in input_dir)."""
    r = spark.readStream.schema(PAGES_DDL)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return r.parquet(input_dir)


def streaming_dedup(pages: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exact-dedup a page stream: first arrival per content digest wins.

    dropDuplicatesWithinWatermark keyed on digest bounds the dedup state
    store by the event-time watermark — duplicates arriving later than the
    watermark pass through (and are caught by the batch dedup stage
    downstream); that is the standard state-size/completeness trade for
    streaming dedup."""
    return (
        pages.withColumn("digest", F.md5(F.col("text")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["digest"])
    )


def windowed_mention_counts(
    pages: DataFrame,
    keep_lang: str | None = "en",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window mention counts per normalized name —
    the streaming twin of the batch events_tumbling aggregation, with late
    data handled by the watermark (rows later than ``watermark`` behind
    the max event time are dropped from the open window state).

    Works in BOTH modes: on a static DataFrame it is the exact batch
    aggregation (tested equal), on a stream it maintains incremental
    window state."""
    mentions = extract_mentions(extracted_pages(pages, keep_lang), with_ts=True)
    if pages.isStreaming:
        mentions = mentions.withWatermark("warc_ts", watermark)
    return mentions.groupBy(
        F.window("warc_ts", window).alias("w"), "norm"
    ).agg(F.count("*").alias("n_mentions")).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "norm",
        "n_mentions",
    )


# output/state schemas for the custom stateful tracker
_TRACK_OUT = (
    "norm string, total long, batch_new long, first_ts timestamp, last_ts timestamp"
)
_TRACK_STATE = "total long, first_ts timestamp, last_ts timestamp"


def entity_mention_tracker(mentions: DataFrame, timeout: str = "NoTimeout"):
    """Custom stateful streaming operator via applyInPandasWithState:
    per normalized name, maintain a running mention count and
    first/last-seen event times across micro-batches, emitting one update
    row per (name, batch). This is the streaming analog of the
    reference's incrementally-updated mention statistics — state keyed by
    the same column the batch pipeline clusters on.

    Arrow-batched: each group's rows arrive as pandas DataFrames; no
    per-row Python."""
    import pandas as pd  # noqa: F401 (workers need it imported lazily)

    def track(key, pdfs, state):
        total0, first0, last0 = (
            state.get if state.exists else (0, None, None)
        )
        n = 0
        first, last = first0, last0
        for pdf in pdfs:
            n += len(pdf)
            bmin, bmax = pdf["warc_ts"].min(), pdf["warc_ts"].max()
            first = bmin if first is None or bmin < first else first
            last = bmax if last is None or bmax > last else last
        state.update((total0 + n, first, last))
        import pandas as pd

        yield pd.DataFrame(
            {
                "norm": [key[0]],
                "total": [total0 + n],
                "batch_new": [n],
                "first_ts": [first],
                "last_ts": [last],
            }
        )

    # outputMode "append": each emitted (norm, batch) row is final — the
    # running total lives in the state store, not in retracted rows —
    # which keeps file sinks (append-only) usable
    return mentions.select("norm", "warc_ts").groupBy("norm").applyInPandasWithState(
        track, _TRACK_OUT, _TRACK_STATE, "append", timeout
    )


def interval_join_streams(
    fetches: DataFrame,
    mentions: DataFrame,
    max_delay: str = "10 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """→ (url, fetch_ts, mention_ts, norm): watermarked STREAM-STREAM
    interval join — each mention event attributes to the page fetch that
    produced it (same url, mention_ts in [fetch_ts, fetch_ts+max_delay]).
    The canonical Structured-Streaming two-stream join: BOTH sides
    carry event-time watermarks and the join condition bounds event time
    on both sides, so each side's join state is evictable — state is
    bounded by watermark + max_delay, never corpus-sized.

    ``how='left_outer'`` is the attribution-pipeline form the round-4
    audit asked for (What's missing #2): a fetch with NO in-window
    mention still surfaces, with NULL (mention_ts, norm) — emitted once
    the MENTION-side watermark passes fetch_ts + max_delay, i.e. once no
    late mention can still attribute to it. Late mentions beyond the
    watermark are dropped by the engine on both forms; the outer row is
    the auditable record that attribution was attempted and found
    nothing. Batch/stream parity holds for both forms (tested), with the
    standard streaming caveat that rows whose eviction deadline never
    passes (stream ends first) remain in state rather than emitting.

    Works in BOTH modes (the repo's streaming convention): on static
    DataFrames it is the exact batch interval join (tested equal); on
    streams Spark maintains the symmetric hash-join state with
    watermark-driven eviction.

    Expected schemas: fetches(url, fetch_ts), mentions(url, mention_ts,
    norm).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be 'inner' or 'left_outer'; got {how!r}")
    f = fetches.select("url", "fetch_ts")
    m = mentions.select(
        F.col("url").alias("m_url"), "mention_ts", "norm"
    )
    if fetches.isStreaming:
        f = f.withWatermark("fetch_ts", watermark)
    if mentions.isStreaming:
        m = m.withWatermark("mention_ts", watermark)
    cond = (
        (F.col("url") == F.col("m_url"))
        & (F.col("mention_ts") >= F.col("fetch_ts"))
        & (
            F.col("mention_ts")
            <= F.col("fetch_ts") + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return f.join(m, cond, how).select("url", "fetch_ts", "mention_ts", "norm")


def run_incremental_ingest(
    spark: SparkSession,
    input_dir: str,
    workdir: str,
    keep_lang: str | None = "en",
    available_now: bool = True,
):
    """Stream pages → extract (byte-identical text) → mentions → append
    parquet, with a checkpoint so a killed job resumes mid-stream (the
    streaming twin of StageStore's batch resume).

    Returns the StreamingQuery (already awaited when available_now)."""
    pages = stream_pages(spark, input_dir)
    mentions = extract_mentions(extracted_pages(pages, keep_lang))
    writer = (
        mentions.writeStream.format("parquet")
        .option("path", os.path.join(workdir, "mentions_stream"))
        .option("checkpointLocation", os.path.join(workdir, "_stream_checkpoint"))
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def apply_merges(base_clusters: DataFrame, merge_queue: DataFrame) -> DataFrame:
    """The cadence step's merge-apply WITHOUT a full re-cluster: the
    deferred merge evidence is a tiny graph over CLUSTER IDS (one node
    per implicated cluster — thousands, not the 10⁹-mention base), so
    run connected components over just that graph and broadcast-join the
    relabel map onto the base. Equivalent to what the full-fixpoint
    cadence batch would conclude from the same evidence (asserted
    against the union-find replay in tests), at the cost of one
    broadcast join over the base instead of a global re-block.

    base_clusters(mention_uid, norm, cluster_id) +
    merge_queue(cluster_a, cluster_b, ...) → base with fused cluster ids
    (each merge group keyed by its minimum member id)."""
    from character_identification_spark.operators.cc import connected_components

    edges = merge_queue.select(
        F.col("cluster_a").alias("u"), F.col("cluster_b").alias("v")
    ).distinct()
    relabel = connected_components(edges).select(
        F.col("node").alias("cluster_id"), F.col("component").alias("_fused")
    )
    return (
        base_clusters.join(F.broadcast(relabel), "cluster_id", "left")
        .select(
            "mention_uid",
            "norm",
            F.coalesce("_fused", "cluster_id").alias("cluster_id"),
        )
    )


def current_base(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read the streaming-attach state: the seed base plus every batch's
    accepted assignments, with reassignment overrides applied (later
    batches win per mention — max batch id)."""
    base = spark.read.parquet(os.path.join(state_dir, "base"))
    re_dir = os.path.join(state_dir, "reassigned")
    parts = [base]
    if os.path.exists(re_dir) and any(
        f.endswith(".parquet") or f.startswith("batch=")
        for f in os.listdir(re_dir)
    ):
        parts.append(spark.read.parquet(re_dir))
    allrows = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return topk_per_group(allrows, ["mention_uid"], [F.desc("batch")], 1).select(
        "mention_uid", "norm", "cluster_id"
    )


def run_streaming_attach(
    spark: SparkSession,
    names_dir: str,
    state_dir: str,
    seed_base: DataFrame,
    max_files_per_trigger: int = 1,
):
    """Structured-Streaming cluster maintenance: a file stream of name
    drops drives incremental_attach per micro-batch via foreachBatch.

    State protocol (exactly-once without a transactional store): the
    seed base lands in state_dir/base/batch=0; each micro-batch OVERWRITES
    its own partition dirs base/batch=<id+1>, reassigned/batch=<id+1>,
    merge_queue/batch=<id+1> — a retried batch rewrites the identical
    deterministic content, so replays are idempotent; readers
    (current_base) resolve per-mention precedence by max batch id. The
    merge_queue partitions accumulate the deferred evidence the cadence
    batch consumes (SCALE.md cadence policy).

    Returns the awaited StreamingQuery (availableNow trigger)."""
    seed_base.select("mention_uid", "norm", "cluster_id").withColumn(
        "batch", F.lit(0).cast("long")
    ).write.mode("overwrite").parquet(os.path.join(state_dir, "base", "batch=0"))

    def attach_batch(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_id + 1  # batch 0 is the seed
        base = current_base(batch_df.sparkSession, state_dir)
        inc = incremental_attach(
            batch_df.select("mention_uid", "norm"), base
        )
        inc["assignments"].select(
            "mention_uid", "norm", "cluster_id"
        ).withColumn("batch", F.lit(b).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(state_dir, "base", f"batch={b}"))
        inc["reassigned"].select(
            "mention_uid", "norm", "cluster_id"
        ).withColumn("batch", F.lit(b).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(state_dir, "reassigned", f"batch={b}"))
        inc["merge_queue"].write.mode("overwrite").parquet(
            os.path.join(state_dir, "merge_queue", f"batch={b}")
        )

    names = (
        spark.readStream.schema("mention_uid long, norm string")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(names_dir)
    )
    q = (
        names.writeStream.foreachBatch(attach_batch)
        .option(
            "checkpointLocation", os.path.join(state_dir, "_attach_checkpoint")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def incremental_attach(
    new_names: DataFrame,
    base_clusters: DataFrame,
    threshold: float | None = None,
    prefix_len: int = 4,
    n_gram: int = 3,
    num_hashes: int = 12,
    band_size: int = 2,
    max_block_size: int | None = 200,
) -> dict[str, DataFrame]:
    """Micro-batch cluster maintenance: attach NEWLY-ARRIVED names to the
    EXISTING name clusters without re-running the global fixpoint — the
    cluster-repair half of the lambda split (the module docstring's
    "cannot be incrementalized safely" caveat, made safe by deferring
    exactly the unsafe part).

    new_names(mention_uid, norm) are blocked and scored against
    base_clusters(mention_uid, norm, cluster_id) AND against each other —
    new×base plus new×new, never base×base, so a drop of d names against
    a vocabulary of V costs O(d·cap) pairs instead of the O((V+d)·cap)
    full re-block. The same edge discipline as the batch pipeline
    (operators/context.name_edge_table — ambiguity + containment rules)
    decides; drop-internal safe edges run a LOCAL connected components
    (input bounded by the drop size) so two new aliases of the same
    entity link even when their cluster has no base member yet, and each
    drop component attaches as a unit:

      safe match   → the component joins its anchors' cluster; anchors in
                     MULTIPLE base clusters attach to the smallest id and
                     emit the implied cluster pairs to ``merge_queue`` —
                     evidence those clusters should fuse, which only the
                     next cadence batch (full CC) may do. Incremental
                     attach never merges existing clusters: merges are
                     deferred, so a bad drop cannot cascade.
      amb link     → candidate attachment: an ambiguous new name attaches
                     iff ALL its anchors agree on one cluster (the
                     name_cluster_table rule), else keeps its own uid
                     with needs_ctx=true for resolve_in_context.
      no match     → new cluster (the drop component's min uid).

    Returns {"assignments": (mention_uid, norm, cluster_id, needs_ctx)
    for the NEW names, "reassigned": the same shape for base ambiguous
    SINGLETONS the drop gave an unanimous anchor (moving a singleton
    merges nothing, so it is the one safe base mutation), "amb_links":
    (amb_uid, anchor_uid) for downstream context resolution,
    "merge_queue": (cluster_a, cluster_b, evidence_uid)}.
    """
    from character_identification_spark.operators.blocking import assign_blocks
    from character_identification_spark.operators.context import split_name_edges
    from character_identification_spark.operators.scoring import (
        DEFAULT_THRESHOLD,
        score_pairs,
    )

    from character_identification_spark.operators.cc import connected_components

    nb = assign_blocks(
        new_names, prefix_len, n_gram, num_hashes, band_size, max_block_size
    ).select("block_key", "mention_uid")
    bb = assign_blocks(
        base_clusters.select("mention_uid", "norm"),
        prefix_len, n_gram, num_hashes, band_size, max_block_size,
    ).select("block_key", F.col("mention_uid").alias("uid2"))
    # new×base (uid1 = new, uid2 = base) ∪ new×new (uid1 < uid2)
    nxb = nb.select("block_key", F.col("mention_uid").alias("uid1")).join(
        bb, "block_key"
    )
    nxn = (
        nb.select("block_key", F.col("mention_uid").alias("uid1"))
        .join(nb.select("block_key", F.col("mention_uid").alias("uid2")), "block_key")
        .filter(F.col("uid1") < F.col("uid2"))
    )
    cand = nxb.select("uid1", "uid2").unionByName(nxn.select("uid1", "uid2")).distinct()
    all_norms = new_names.select("mention_uid", "norm").unionByName(
        base_clusters.select("mention_uid", "norm")
    )
    pairs = cand.join(
        all_norms.select(F.col("mention_uid").alias("uid1"), F.col("norm").alias("norm_1")),
        "uid1",
    ).join(
        all_norms.select(F.col("mention_uid").alias("uid2"), F.col("norm").alias("norm_2")),
        "uid2",
    )
    thr = DEFAULT_THRESHOLD if threshold is None else threshold
    scored = score_pairs(pairs, thr, dedup_strings=False)
    safe, amb = split_name_edges(scored, thr)
    base_map = base_clusters.select(
        F.col("mention_uid").alias("anchor_uid"), F.col("cluster_id").alias("anchor_cluster")
    )

    # safe edges keep (u, v) = (uid1, uid2); split drop-internal edges
    # (both new) from anchor edges (uid2 in base)
    new_ids = new_names.select("mention_uid")
    drop_edges = safe.join(
        new_ids.withColumnRenamed("mention_uid", "v"), "v", "left_semi"
    )
    # drop-local components: bounded by the drop, a few CC rounds
    comp = connected_components(drop_edges).withColumnRenamed("node", "mention_uid")
    with_comp = new_ids.join(comp, "mention_uid", "left").select(
        "mention_uid",
        F.coalesce(F.col("component"), F.col("mention_uid")).alias("comp"),
    )
    anchor_hits = (
        safe.join(base_map.withColumnRenamed("anchor_uid", "v"), "v")
        .select(F.col("u").alias("mention_uid"), "anchor_cluster")
        .join(with_comp, "mention_uid")
        .groupBy("comp")
        .agg(
            F.min("anchor_cluster").alias("cluster_id"),
            F.collect_set("anchor_cluster").alias("all_clusters"),
        )
    )
    safe_hits = with_comp.join(anchor_hits, "comp", "left").select(
        "mention_uid",
        "comp",
        F.col("cluster_id"),
        F.coalesce("all_clusters", F.array().cast("array<long>")).alias("all_clusters"),
    )
    merge_queue = (
        anchor_hits.filter(F.size("all_clusters") > 1)
        .select(
            "comp",
            F.col("cluster_id").alias("cluster_a"),
            F.explode("all_clusters").alias("cluster_b"),
        )
        .filter(F.col("cluster_b") != F.col("cluster_a"))
        .select("cluster_a", "cluster_b", F.col("comp").alias("evidence_uid"))
    )

    # resolved anchor map: base names keep their cluster; new names carry
    # the cluster they were just assigned (anchor hit, else drop comp) —
    # an ambiguous name may anchor on a name from the SAME drop
    new_assign_map = safe_hits.select(
        F.col("mention_uid").alias("anchor_uid"),
        F.coalesce(F.col("cluster_id"), F.col("comp")).alias("anchor_cluster"),
    )
    anchor_map = base_map.unionByName(new_assign_map)

    # amb links whose ambiguous side is a NEW name
    amb_links = amb.join(
        new_names.select(F.col("mention_uid").alias("amb_uid")),
        "amb_uid",
        "left_semi",
    )
    # one candidate ⟺ min == max (anchor clusters are never NULL)
    amb_hits = (
        amb_links.join(anchor_map, "anchor_uid")
        .groupBy(F.col("amb_uid").alias("mention_uid"))
        .agg(F.min("anchor_cluster").alias("cand_cluster"),
             F.max("anchor_cluster").alias("max_cluster"))
    )

    # base-side ambiguous SINGLETONS may safely re-attach: moving a singleton
    # merges no existing clusters. True singleton-ness means the cluster has
    # exactly ONE member — `cluster_id == mention_uid` alone is not enough,
    # because the min-uid representative of a multi-member cluster also
    # satisfies it, and reassigning the representative would split its
    # cluster and strand its mates on a dangling cluster id.
    cluster_sizes = base_clusters.groupBy("cluster_id").agg(
        F.count("*").alias("_csize")
    )
    base_singletons = (
        base_clusters.join(cluster_sizes, "cluster_id")
        .filter(
            (F.col("cluster_id") == F.col("mention_uid")) & (F.col("_csize") == 1)
        )
        .select("mention_uid", "norm")
    )
    reassigned = (
        amb.withColumnRenamed("amb_uid", "mention_uid")
        .join(base_singletons.select("mention_uid"), "mention_uid", "left_semi")
        .join(anchor_map, "anchor_uid")
        .groupBy("mention_uid")
        .agg(F.min("anchor_cluster").alias("cand_cluster"),
             F.max("anchor_cluster").alias("max_cluster"))
        .filter(F.col("cand_cluster") == F.col("max_cluster"))
        .join(base_singletons, "mention_uid")
        .select(
            "mention_uid", "norm",
            F.col("cand_cluster").alias("cluster_id"),
            F.lit(False).alias("needs_ctx"),
        )
    )

    assignments = (
        new_names.join(
            safe_hits.select("mention_uid", "comp", "cluster_id"), "mention_uid", "left"
        )
        .join(amb_hits, "mention_uid", "left")
        .select(
            "mention_uid",
            "norm",
            F.coalesce(
                F.col("cluster_id"),
                F.when(F.col("cand_cluster") == F.col("max_cluster"), F.col("cand_cluster")),
                F.col("comp"),
                F.col("mention_uid"),
            ).alias("cluster_id"),
            (
                F.col("cluster_id").isNull()
                & F.coalesce(F.col("cand_cluster") < F.col("max_cluster"), F.lit(False))
            ).alias("needs_ctx"),
        )
    )
    return {
        "assignments": assignments,
        "reassigned": reassigned,
        "amb_links": amb_links,
        "merge_queue": merge_queue,
    }
