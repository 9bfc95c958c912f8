"""Incremental cluster maintenance: newly-arrived names attach to the
existing clusters (new×base bipartite scoring only), merges deferred to
the merge_queue — combined result must match the full-batch clustering."""

from __future__ import annotations

from pyspark.sql import functions as F

from character_identification_spark.operators.blocking import assign_blocks
from character_identification_spark.operators.cc import connected_components
from character_identification_spark.operators.context import (
    name_cluster_table,
    split_name_edges,
)
from character_identification_spark.operators.pairs import generate_pairs
from character_identification_spark.operators.scoring import score_pairs
from character_identification_spark.streaming.incremental import incremental_attach


def _cluster_names(names):
    """The batch name-level linkage of plans/pipeline.run_pipeline (blocks →
    pairs → scores → CC → name clusters), store-less and without the
    mention stages."""
    blocks = assign_blocks(names)
    pairs = generate_pairs(names, blocks, payload_cols=("norm",))
    scored = score_pairs(pairs, dedup_strings=False)
    safe, amb = split_name_edges(scored)
    return name_cluster_table(names, connected_components(safe), amb)


def _pairs_of(rows):
    by_cluster: dict = {}
    for uid, cid in rows:
        by_cluster.setdefault(cid, []).append(uid)
    out = set()
    for members in by_cluster.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                out.add((ms[i], ms[j]))
    return out


def test_incremental_attach_matches_batch(spark, small_corpus):
    from character_identification_spark.functions.hashing import h_long
    from character_identification_spark.ingest.extract import extracted_pages
    from character_identification_spark.ingest.mentions import extract_mentions

    pages, _ = small_corpus
    names = (
        extract_mentions(extracted_pages(pages, "en"))
        .select("norm")
        .distinct()
        .withColumn("mention_uid", h_long(F.col("norm")))
        .cache()
    )
    # deterministic 2:1 split: base corpus vs the new drop
    is_new = F.crc32("norm") % 3 == 0
    base_names = names.filter(~is_new)
    new_names = names.filter(is_new)
    assert new_names.count() > 5

    base = _cluster_names(base_names).cache()
    inc = incremental_attach(
        new_names, base.select("mention_uid", "norm", "cluster_id")
    )
    reassigned = {
        r["mention_uid"]: r["cluster_id"] for r in inc["reassigned"].collect()
    }
    combined = [
        (r["mention_uid"], reassigned.get(r["mention_uid"], r["cluster_id"]))
        for r in base.select("mention_uid", "cluster_id").collect()
    ] + [
        (r["mention_uid"], r["cluster_id"])
        for r in inc["assignments"].collect()
    ]
    # apply the deferred merges (what the cadence batch would do)
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in inc["merge_queue"].collect():
        a, b = find(r["cluster_a"]), find(r["cluster_b"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    merged = [(uid, find(cid)) for uid, cid in combined]

    batch = [
        (r["mention_uid"], r["cluster_id"])
        for r in _cluster_names(names).select("mention_uid", "cluster_id").collect()
    ]
    got, want = _pairs_of(merged), _pairs_of(batch)
    # the incremental path may defer some links (ambiguous names wait for
    # context), but must never invent pairs the batch run rejects beyond
    # the fixture's noise floor, and must recover nearly all batch pairs
    assert len(got & want) / max(len(want), 1) >= 0.95, (len(got & want), len(want))
    assert len(got - want) <= max(2, len(want) // 50), sorted(got - want)[:5]


def test_incremental_attach_never_merges_base_clusters(spark, small_corpus):
    """Within a micro-batch, existing assignments are immutable: the
    attach step emits merge evidence instead of rewriting base rows."""
    from character_identification_spark.functions.hashing import h_long
    from character_identification_spark.ingest.extract import extracted_pages
    from character_identification_spark.ingest.mentions import extract_mentions

    pages, _ = small_corpus
    names = (
        extract_mentions(extracted_pages(pages, "en"))
        .select("norm")
        .distinct()
        .withColumn("mention_uid", h_long(F.col("norm")))
    )
    base = _cluster_names(names.filter(F.crc32("norm") % 3 != 0))
    inc = incremental_attach(
        names.filter(F.crc32("norm") % 3 == 0),
        base.select("mention_uid", "norm", "cluster_id"),
    )
    # assignments cover exactly the new names, once each
    new_uids = {r["mention_uid"] for r in names.filter(F.crc32("norm") % 3 == 0).collect()}
    got = [r["mention_uid"] for r in inc["assignments"].collect()]
    assert sorted(got) == sorted(new_uids)
    # every attached cluster id exists in the base, or is a drop-component
    # id (the min uid of a group of new names) — never a fabricated id
    base_cids = {r["cluster_id"] for r in base.collect()}
    for r in inc["assignments"].collect():
        assert r["cluster_id"] in base_cids or r["cluster_id"] in new_uids, r
    # reassignment only ever touches TRUE base singletons: the mention is
    # its own cluster id AND that cluster has exactly one member (the
    # min-uid representative of a multi-member cluster also satisfies the
    # first condition, and moving it would split its cluster)
    base_rows = {r["mention_uid"]: r["cluster_id"] for r in base.collect()}
    cluster_size: dict = {}
    for cid in base_rows.values():
        cluster_size[cid] = cluster_size.get(cid, 0) + 1
    for r in inc["reassigned"].collect():
        assert base_rows[r["mention_uid"]] == r["mention_uid"], r
        assert cluster_size[r["mention_uid"]] == 1, r
        assert r["cluster_id"] != r["mention_uid"], r


def test_incremental_attach_multi_drop_converges_each_cadence(spark, small_corpus):
    """Streaming E2E across ≥3 drops: attach drop k, then run the cadence
    step (apply the deferred merge_queue + reassignments), and assert the
    maintained clustering matches the full-batch fixpoint over everything
    seen so far — at EVERY cadence, not just the last one. This is the
    lambda-split contract: between cadences the base is append-only and
    merge-free; the cadence applies exactly the deferred evidence."""
    from character_identification_spark.functions.hashing import h_long
    from character_identification_spark.ingest.extract import extracted_pages
    from character_identification_spark.ingest.mentions import extract_mentions

    pages, _ = small_corpus
    names = (
        extract_mentions(extracted_pages(pages, "en"))
        .select("norm")
        .distinct()
        .withColumn("mention_uid", h_long(F.col("norm")))
        .cache()
    )
    part = F.crc32("norm") % 4  # base + 3 drops
    base_df = names.filter(part == 0)
    base_state = {
        (r["mention_uid"], r["norm"]): r["cluster_id"]
        for r in _cluster_names(base_df).collect()
    }
    seen = base_df

    for k in (1, 2, 3):
        drop = names.filter(part == k)
        assert drop.count() > 3
        base_rows = spark.createDataFrame(
            [(uid, norm, cid) for (uid, norm), cid in base_state.items()],
            "mention_uid long, norm string, cluster_id long",
        )
        inc = incremental_attach(drop, base_rows)

        # between cadences: base rows are immutable except true-singleton
        # reassignment; assignments cover exactly the drop
        drop_uids = {r["mention_uid"] for r in drop.collect()}
        got_uids = [r["mention_uid"] for r in inc["assignments"].collect()]
        assert sorted(got_uids) == sorted(drop_uids)

        # cadence step: fold in assignments + reassignments, then apply
        # the deferred merges with a union-find (what the cadence batch's
        # full CC would conclude from the same evidence)
        reassigned = {
            r["mention_uid"]: r["cluster_id"] for r in inc["reassigned"].collect()
        }
        state = {
            key: reassigned.get(key[0], cid) for key, cid in base_state.items()
        }
        for r in inc["assignments"].collect():
            state[(r["mention_uid"], r["norm"])] = r["cluster_id"]
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in inc["merge_queue"].collect():
            a, b = find(r["cluster_a"]), find(r["cluster_b"])
            if a != b:
                parent[max(a, b)] = min(a, b)
        state = {key: find(cid) for key, cid in state.items()}

        seen = seen.unionByName(drop)
        batch = [
            (r["mention_uid"], r["cluster_id"])
            for r in _cluster_names(seen).select("mention_uid", "cluster_id").collect()
        ]
        got = _pairs_of([(uid, cid) for (uid, _n), cid in state.items()])
        want = _pairs_of(batch)
        assert len(got & want) / max(len(want), 1) >= 0.95, (
            k, len(got & want), len(want),
        )
        assert len(got - want) <= max(2, len(want) // 50), (k, sorted(got - want)[:5])
        base_state = state

    names.unpersist()


def test_incremental_attach_never_moves_cluster_representative(spark):
    """Regression for the representative-split bug: the min-uid member of a
    multi-member base cluster satisfies `cluster_id == mention_uid` but is
    NOT a singleton — an amb edge from a new name must not reassign it."""
    from pyspark.sql import Row

    # base: one 2-member cluster {10: "ann droz", 20: "ann o droz"} rooted
    # at uid 10, plus an unrelated singleton.
    base = spark.createDataFrame(
        [
            Row(mention_uid=10, norm="ann droz", cluster_id=10),
            Row(mention_uid=20, norm="ann o droz", cluster_id=10),
            Row(mention_uid=99, norm="zed quill", cluster_id=99),
        ]
    )
    # new drop: a one-token ambiguous name contained in the representative's
    # name → amb edge with the representative on one side.
    new = spark.createDataFrame([Row(mention_uid=500, norm="droz")])
    inc = incremental_attach(new, base)
    moved = {r["mention_uid"] for r in inc["reassigned"].collect()}
    assert 10 not in moved and 20 not in moved, moved
    # the ambiguous new name may attach to cluster 10 (or wait for context),
    # but the base rows stay untouched.
    for r in inc["assignments"].collect():
        assert r["mention_uid"] == 500
