"""Physical-plan assertions: the plan properties the 100-TB design relies
on must actually appear in the optimized plans — filters pushed to the
parquet scan, column pruning in ReadSchema, broadcast joins for small
dims, whole-stage codegen on the hot relational paths."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

needs_data = pytest.mark.skipif(not os.path.exists(SF), reason="testdata absent")


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@needs_data
def test_lang_filter_pushes_to_pages_scan(spark, small_corpus, tmp_path):
    """extracted_pages' language filter must reach the parquet scan —
    at 100 TB this is the difference between scanning the corpus and
    scanning one language's slice."""
    from character_identification_spark.ingest.extract import extracted_pages

    pages, _ = small_corpus
    p = str(tmp_path / "pages")
    pages.write.parquet(p)
    plan = plan_of(extracted_pages(spark.read.parquet(p), "en"))
    assert "PushedFilters" in plan
    # the lang predicate appears among the pushed filters
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("lang" in ln for ln in pushed), pushed
    # the extractor is Catalyst expressions: no Python worker in the stage
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


@needs_data
def test_projection_prunes_parquet_schema(spark):
    """A two-column projection must read a two-column schema."""
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    plan = plan_of(d.filter(F.length("text") > 0))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "doc_id" in read[0] and "text" in read[0]
    assert "lang" not in read[0] and "url" not in read[0]


@needs_data
def test_dim_join_is_broadcast(spark):
    from character_identification_spark.driver_contract import QUERIES

    plan = plan_of(QUERIES["order_enrich_broadcast"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@needs_data
def test_hot_relational_path_is_codegen(spark):
    from character_identification_spark.driver_contract import QUERIES

    # an unexecuted AdaptiveSparkPlan reports 0 codegen subtrees; disable
    # AQE for the static-plan inspection (execution behavior unchanged)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for q in ("tpch_q1", "text_token_counts", "events_type_share"):
            df = QUERIES[q](spark, SF)
            cg = plan_of(df, mode="codegen")
            assert (
                "WholeStageCodegen" in cg and "Found 0 WholeStageCodegen" not in cg
            ), q
            # no Python evaluation nodes on these paths
            assert "BatchEvalPython" not in plan_of(df), q
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


@needs_data
def test_shipdate_filter_pushes_down(spark):
    from character_identification_spark.driver_contract import QUERIES

    plan = plan_of(QUERIES["tpch_q1"](spark, SF))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln for ln in pushed), pushed


@needs_data
def test_pii_scrub_is_pure_projection(spark):
    """pii_scrub must compile to a shuffle-free, Python-free projection
    that fuses into the scan — at 100 TB it runs at read bandwidth."""
    from character_identification_spark.driver_contract import QUERIES

    df = QUERIES["pii_scrub"](spark, SF)
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@needs_data
def test_url_dedup_single_shuffle(spark):
    """URL dedup is exactly one hash-aggregate exchange on the canonical
    url — the cheapest dedup tier must stay one-shuffle."""
    from character_identification_spark.driver_contract import QUERIES

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # simple mode prints each physical node once (formatted repeats
        # nodes in the detail section)
        plan = plan_of(QUERIES["url_dedup"](spark, SF), mode="simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("Exchange") == 1, plan
    assert "BatchEvalPython" not in plan


@needs_data
def test_repetition_stats_python_free(spark):
    """Gopher repetition stats stay JVM-side (explode + keyed aggs, no
    Python) and aggregate partially map-side (partial_ hash aggregates)."""
    from character_identification_spark.driver_contract import QUERIES

    df = QUERIES["text_repetition"](spark, SF)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_" in plan  # map-side combine before the shuffle


@needs_data
def test_ivf_list_build_no_exchange(spark):
    """The IVF inverted-list build must be shuffle-free: centroids are
    inlined as literals and nearest-centroid is a per-row JVM array argmax.
    The only hash-partitioning Exchange in the whole query is the final
    per-query top-k window (the probes join is a BroadcastHashJoin)."""
    from character_identification_spark.driver_contract import QUERIES

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(QUERIES["similarity_ivf"](spark, SF), mode="simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


@needs_data
def test_cosine_topk_is_two_phase(spark):
    """Brute-force cosine top-k must reduce per partition BEFORE the rank
    shuffle, and the reduction is the planner's own: a Partial
    WindowGroupLimit sits below the single hashpartitioning Exchange, so
    only ≤ k rows per (query, partition) ever cross the wire — and no
    Python node (the old MapInPandas reducer) is left in the plan."""
    from character_identification_spark.driver_contract import QUERIES

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(QUERIES["similarity_topk"](spark, SF), mode="simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "MapInPandas" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    lines = plan.splitlines()
    exchange = next(i for i, ln in enumerate(lines) if "Exchange hashpartitioning" in ln)
    partial = [
        i for i, ln in enumerate(lines)
        if "WindowGroupLimit" in ln and ln.rstrip().endswith("Partial")
    ]
    # tree prints root-first: the Partial limit (descendant) prints after
    # the Exchange (ancestor) → the reduction feeds the shuffle
    assert partial and partial[0] > exchange, plan


def test_topk_per_group_keyed_plans_partial_limit_below_exchange(spark):
    """Keyed k ≤ windowGroupLimitThreshold (1000): WindowGroupLimit Partial
    → Exchange → WindowGroupLimit Final, the Partial limit printed below
    the Exchange. Above the threshold no group limit is planned."""
    from character_identification_spark.functions.partitioning import topk_per_group

    df = spark.range(3000).select((F.col("id") % 7).alias("g"), "id")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(topk_per_group(df, ["g"], [F.desc("id")], 1000), mode="simple")
        over = plan_of(topk_per_group(df, ["g"], [F.desc("id")], 1001), mode="simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    lines = plan.splitlines()
    exchange = next(i for i, ln in enumerate(lines) if "Exchange hashpartitioning" in ln)
    limits = {
        ln.rstrip().rsplit(" ", 1)[-1]: i
        for i, ln in enumerate(lines) if "WindowGroupLimit" in ln
    }
    assert limits.keys() == {"Partial", "Final"}, plan
    assert limits["Final"] < exchange < limits["Partial"], plan
    assert "WindowGroupLimit" not in over, over


def test_topk_per_group_global_plans_take_ordered(spark):
    """No keys: TakeOrderedAndProject (per-partition top-k plus a driver
    merge), no single-partition rank shuffle."""
    from character_identification_spark.functions.partitioning import topk_per_group

    df = spark.range(3000).select((F.col("id") % 7).alias("g"), "id")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(topk_per_group(df, [], [F.desc("g"), F.asc("id")], 7, "rank"), mode="simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "TakeOrderedAndProject(limit=7" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


@needs_data
def test_hopping_window_single_shuffle_with_partial_agg(spark):
    """The sliding-window fan-out (each event → 2 overlapping windows)
    must stay map-side: an Expand node inside codegen feeding a partial
    HashAggregate, then exactly ONE Exchange — the 2× row inflation
    never crosses the wire un-combined."""
    from character_identification_spark.driver_contract import QUERIES

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(QUERIES["events_hopping"](spark, SF), mode="simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("Exchange") == 1, plan
    assert "Expand" in plan and "partial_" in plan
    assert "BatchEvalPython" not in plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing both join sides on the key removes the join Exchange —
    the co-located-join strategy SCALE.md prescribes for repeated big-big
    joins (write once bucketed, join many times shuffle-free)."""
    a = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS x")
    b = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS y")
    try:
        a.write.bucketBy(8, "k").sortBy("k").option(
            "path", str(tmp_path / "ta")
        ).saveAsTable("bkt_a")
        b.write.bucketBy(8, "k").sortBy("k").option(
            "path", str(tmp_path / "tb")
        ).saveAsTable("bkt_b")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # the tables are tiny, so the planner would broadcast (and skip
        # bucketed scans); force the big-big SortMergeJoin shape the
        # strategy exists for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = plan_of(joined, mode="simple")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


@needs_data
def test_lm_score_scoring_join_is_broadcast(spark):
    """lm_score's per-document scoring join must broadcast the trigram
    count table (bounded by the charset³ vocabulary, ≪ corpus size) — at
    100 TB a SortMergeJoin here would shuffle the whole exploded corpus."""
    from character_identification_spark.driver_contract import QUERIES

    plan = plan_of(QUERIES["text_lm_score"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@needs_data
def test_dsir_scoring_join_is_broadcast(spark):
    """dsir_weights' scoring join must broadcast the bucket model (exactly
    n_buckets rows at any corpus size) — a shuffle join here would move
    the whole exploded gram stream."""
    from character_identification_spark.driver_contract import QUERIES

    plan = plan_of(QUERIES["dsir_weights"](spark, SF))
    assert "BroadcastHashJoin" in plan


@needs_data
def test_pack_sequences_single_window_exchange(spark):
    """pack_sequences must cost exactly one shuffle — the (shard,
    subshard)-keyed window cumsum — and no global sort (the md5 packing
    order is per-partition-key, never a range repartition)."""
    from character_identification_spark.driver_contract import QUERIES

    plan = plan_of(QUERIES["pack_sequences"](spark, SF), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan


@needs_data
def test_ivfpq_index_build_single_exchange(spark):
    """IVF-PQ: the index build (cell + 8 PQ codes per corpus row) is one
    fused literal-centroid projection and the query side broadcasts, so
    the only hash-partitioning Exchange in the whole query is the final
    per-query rank window; ADC scoring is Python-free."""
    from character_identification_spark.driver_contract import QUERIES

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(QUERIES["similarity_ivfpq"](spark, SF), mode="simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@needs_data
def test_pq_adc_scoring_python_free_single_exchange(spark):
    """Pure PQ ADC search: corpus scored through codes via broadcast
    integer tables — one Exchange (the rank window), no Python."""
    from character_identification_spark.driver_contract import QUERIES

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(QUERIES["similarity_pq_topk"](spark, SF), mode="simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@needs_data
def test_kcenter_assignment_zero_shuffle(spark):
    """Gonzalez k-center final assignment: literal seed vectors → the
    plan has NO Exchange at all and no Python — a pure codegen scan."""
    from character_identification_spark.driver_contract import QUERIES

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(QUERIES["cluster_kcenter"](spark, SF), mode="simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@needs_data
def test_tpch_q6_filters_pushed_to_scan(spark):
    """Q6 is the canonical pushdown probe: every conjunct must reach the
    parquet scan as a PushedFilter, and the plan reads only the four
    referenced columns."""
    from character_identification_spark.driver_contract import QUERIES

    df = QUERIES["tpch_q6"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan or col in plan.split("PushedFilters")[1][:400], plan
    schema = plan.split("ReadSchema")[1][:200]
    assert "l_extendedprice" in schema
    assert "l_tax" not in schema  # column pruning: untouched columns stay out


@needs_data
def test_minhash_blocks_zero_shuffle(spark):
    """Round-5 claim, machine-checked: MinHash block signatures are a
    pure projection — NO Exchange anywhere in the plan (the old
    formulation shuffled mentions × shingles × seeds through two
    groupBys). The only scan feeds posexplode + codegen expressions."""
    from character_identification_spark.operators.blocking import (
        minhash_lsh_blocks,
    )

    m = spark.read.parquet(f"{SF}/part.parquet").select(
        F.col("p_partkey").alias("mention_uid"),
        F.lower(F.col("p_name")).alias("norm"),
    )
    plan = plan_of(minhash_lsh_blocks(m, n_gram=3, num_hashes=8, band_size=2))
    assert "Exchange" not in plan, plan


@needs_data
def test_knn_graph_salted_join_no_corpus_broadcast(spark):
    """The capped knn_graph joins on (bucket, salt) with NO forced
    broadcast of a corpus-sized side: the only broadcast exchanges in
    the plan are the per-bucket nsplit table (bounded by the bucket
    space), never the bucketed corpus/query rows."""
    from character_identification_spark.operators.similarity import knn_graph

    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    g = knn_graph(e, k=5, n_planes=4, n_tables=2, multiprobe=True,
                  max_bucket_size=32)
    assert "ResolvedHint" not in g._jdf.queryExecution().optimizedPlan().toString()
    # the salted join keys must appear in the optimized plan
    opt = g._jdf.queryExecution().optimizedPlan().toString()
    assert "salt" in opt and "bucket" in opt


@needs_data
def test_minhash_signatures_zero_shuffle(spark):
    """DOCUMENT MinHash signatures (functions/minhash.minhash_bands over
    word shingles) and the uncapped bucket rows feeding
    minhash_dup_pairs are pure projections — no Exchange. The fan-out
    repartition is the ONLY exchange allowed in the bucket path, and
    only when the input has fewer partitions than the session default
    (here we pre-partition to defaultParallelism so the plan must
    contain none); the cap's window adds the bucket-keyed one."""
    from character_identification_spark.functions.minhash import minhash_bands
    from character_identification_spark.operators.dedup import (
        _doc_buckets,
        _doc_shingles,
        word_shingles,
    )

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .localCheckpoint(eager=True)  # pin partitioning; isolate the op
    )
    sigs = minhash_bands(docs, word_shingles("text", 3), ["doc_id"], 16, 2)
    assert "Exchange" not in plan_of(sigs), "sigs shuffle"
    assert "Exchange" not in plan_of(
        _doc_buckets(_doc_shingles(docs, "doc_id", "text", 3), "doc_id", 16, 2, None)
    ), "bucket rows shuffle"


@needs_data
def test_canonical_entities_no_window_no_expand(spark):
    """Round-6 claim, machine-checked: canonical_entities is a two-level
    aggregation — the row_number Window and the multi-countDistinct
    Expand (3× row blowup) are gone from the plan."""
    from character_identification_spark.operators.canonicalize import (
        canonical_entities,
    )

    clustered = spark.createDataFrame(
        [(1, 10, "a", "A", "u1"), (1, 11, "b", "B", "u2")],
        "cluster_id long, mention_uid long, norm string, surface string, url string",
    )
    plan = plan_of(canonical_entities(clustered))
    assert "Window" not in plan, plan
    assert "Expand" not in plan, plan


def test_cc_star_round_shuffle_budget(spark):
    """Round-6 claim, machine-checked: one large+small star composition
    over connected_components' oriented-distinct loop entry plans at most
    11 Exchange nodes (the round-5 form with the symmetrize/orient
    distincts planned 14; identical ones collapse further via AQE exchange
    reuse at runtime)."""
    import re

    from character_identification_spark.operators.cc import (
        _large_star,
        _small_star,
    )
    from character_identification_spark.operators.graph import undirected
    from character_identification_spark.session import materialize

    edges = materialize(
        undirected(
            spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "u long, v long"), "u", "v"
        ).select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    plan = plan_of(_small_star(_large_star(edges)))
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange <= 11, f"{n_exchange} exchanges\n{plan}"


@needs_data
def test_bloom_broadcast_probe_positions_jvm_side(spark):
    """Round-6 claim, machine-checked: the broadcast Bloom probe's md5
    positions are Catalyst expressions (md5/conv visible in the plan
    below the Python eval node) and the UDF is Arrow-evaluated — no
    BatchEvalPython (pickled row-at-a-time) node anywhere."""
    from character_identification_spark.operators.bloom import (
        bloom_contains_broadcast,
        bloom_filter_words,
    )

    keys = spark.range(100).select(F.col("id").alias("k"))
    words = bloom_filter_words(keys, "k", 1 << 16, 3)
    probe = spark.range(1000).select(F.col("id").alias("pk"))
    df = probe.withColumn(
        "pass", bloom_contains_broadcast(spark, "pk", words, 1 << 16, 3)
    )
    plan = plan_of(df)
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "md5" in plan and "conv" in plan, plan


@needs_data
def test_er_blocks_no_dedup_aggregate(spark):
    """Round-6 claim, machine-checked: the ER block-family union feeds
    cap_block_sizes directly — no aggregate between the Union and the
    Window (the old dropDuplicates was a provable no-op paying a full
    (uid, key) shuffle), and exactly ONE Exchange (the window's own
    block_key partitioning)."""
    from character_identification_spark.driver_contract import (
        _er_blocks_df,
        _er_mentions_df,
    )

    import re

    plan = plan_of(_er_blocks_df(_er_mentions_df(spark, SF)))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    # no aggregate anywhere (the plan is scan → project → union → window)
    assert "HashAggregate" not in plan, plan
