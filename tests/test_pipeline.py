"""End-to-end: the F1 gate, checkpoint/resume, metrics + lineage tables."""

from __future__ import annotations

import os
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F

from character_identification_spark.plans import pipeline
from character_identification_spark.plans.pipeline import (
    PipelineConfig,
    evaluate_pipeline,
    run_pipeline,
)
from character_identification_spark.sources.catalog import StageStore

STAGES = (
    "extracted", "mentions", "names", "block_assign", "candidate_pairs",
    "scored_pairs", "edge_split", "name_clusters", "assignments", "entities",
)


def _cfg():
    return PipelineConfig()


@pytest.fixture()
def appends(monkeypatch):
    """Spy on StageStore.append: a Counter of the table names it is called
    with (the call still goes through)."""
    calls: Counter = Counter()
    orig = StageStore.append

    def spy(self, df, name):
        calls[name] += 1
        return orig(self, df, name)

    monkeypatch.setattr(StageStore, "append", spy)
    return calls


def _table(spark, workdir, name):
    return spark.read.parquet(os.path.join(workdir, name))


def test_end_to_end_f1_gate(spark, small_corpus, tmp_workdir):
    pages, gold = small_corpus
    res = run_pipeline(spark, pages, tmp_workdir, _cfg())
    ev = evaluate_pipeline(res, gold)
    assert ev["precision"] == 1.0
    assert ev["f1"] >= 0.99, ev

    # stage checkpoints + meta tables all on disk (edge_split holds both
    # safe edges and alias links as one single-pass table)
    for stage in (
        "extracted", "mentions", "names", "block_assign", "candidate_pairs",
        "scored_pairs", "edge_split", "name_clusters",
        "assignments", "entities", "_meta_metrics", "_meta_lineage",
    ):
        assert os.path.exists(os.path.join(tmp_workdir, stage)), stage

    metrics = spark.read.parquet(os.path.join(tmp_workdir, "_meta_metrics"))
    assert metrics.count() == 10
    lineage = spark.read.parquet(os.path.join(tmp_workdir, "_meta_lineage"))
    assert lineage.select("stage").distinct().count() == 10
    # lineage row counts reconcile with stage row counts
    recon = (
        lineage.groupBy("stage").agg(F.sum("rows").alias("lrows"))
        .join(metrics.select("stage", "rows"), "stage")
        .filter(F.col("lrows") != F.col("rows"))
    )
    assert recon.count() == 0


def test_resume_skips_and_is_identical(spark, small_corpus, tmp_workdir, appends):
    pages, gold = small_corpus
    r1 = run_pipeline(spark, pages, tmp_workdir, _cfg())
    a1 = sorted(map(tuple, r1["assignments"].select("mention_uid", "cluster_id").collect()))
    metrics_rows = spark.read.parquet(os.path.join(tmp_workdir, "_meta_metrics")).count()

    appends.clear()
    r2 = run_pipeline(spark, pages, tmp_workdir, _cfg())
    assert not appends  # every stage skipped: the empty buffer commits nothing
    a2 = sorted(map(tuple, r2["assignments"].select("mention_uid", "cluster_id").collect()))
    assert a1 == a2
    # resumed run appends no new stage metrics (all stages skipped)
    assert (
        spark.read.parquet(os.path.join(tmp_workdir, "_meta_metrics")).count()
        == metrics_rows
    )


def test_meta_tables_one_append_per_run(spark, small_corpus, tmp_workdir, appends):
    """A forced run commits each meta table with ONE append, in the DDL
    the tables have always had, and its lineage reconciles with metrics."""
    pages, _ = small_corpus
    run_pipeline(spark, pages, tmp_workdir, PipelineConfig(force=True))
    assert appends == {"_meta_lineage": 1, "_meta_metrics": 1}

    lineage = _table(spark, tmp_workdir, "_meta_lineage")
    metrics = _table(spark, tmp_workdir, "_meta_metrics")
    assert lineage.dtypes == [("stage", "string"), ("partition_id", "int"), ("rows", "bigint")]
    assert metrics.dtypes == [
        ("stage", "string"), ("rows", "bigint"), ("wall_s", "double"), ("inputs", "string"),
    ]
    assert sorted(r["stage"] for r in metrics.collect()) == sorted(STAGES)
    recon = (
        lineage.groupBy("stage").agg(F.sum("rows").alias("lrows"))
        .join(metrics.select("stage", "rows"), "stage", "full_outer")
        .filter(~F.col("lrows").eqNullSafe(F.col("rows")))
    )
    assert recon.count() == 0
    # a stage's rows count its committed table
    entities = metrics.filter(F.col("stage") == "entities").collect()[0]
    assert entities["rows"] == _table(spark, tmp_workdir, "entities").count()
    assert entities["inputs"] == "assignments"


def test_failed_stage_commits_finished_meta_and_resumes(
    spark, small_corpus, tmp_workdir, appends, monkeypatch
):
    """A late stage that raises: the error propagates, the stages before it
    keep their meta rows, and the rerun appends rows only for what it
    rebuilds."""
    pages, gold = small_corpus

    def boom(assignments):
        raise RuntimeError("canonicalize failed")

    with monkeypatch.context() as m:
        m.setattr(pipeline, "canonical_entities", boom)
        with pytest.raises(RuntimeError, match="canonicalize failed"):
            run_pipeline(spark, pages, tmp_workdir, _cfg())
    assert appends == {"_meta_lineage": 1, "_meta_metrics": 1}
    finished = sorted(STAGES[:-1])
    metrics = _table(spark, tmp_workdir, "_meta_metrics")
    assert sorted(r["stage"] for r in metrics.collect()) == finished
    lineage = _table(spark, tmp_workdir, "_meta_lineage")
    assert sorted(r["stage"] for r in lineage.select("stage").distinct().collect()) == finished
    assert not os.path.exists(os.path.join(tmp_workdir, "entities"))

    appends.clear()
    res = run_pipeline(spark, pages, tmp_workdir, _cfg())
    assert appends == {"_meta_lineage": 1, "_meta_metrics": 1}
    metrics = _table(spark, tmp_workdir, "_meta_metrics")
    assert sorted(r["stage"] for r in metrics.collect()) == sorted(STAGES)
    lineage = _table(spark, tmp_workdir, "_meta_lineage")
    assert lineage.groupBy("stage", "partition_id").count().filter("count > 1").count() == 0
    assert evaluate_pipeline(res, gold)["f1"] >= 0.99


def test_stage_facts_come_from_footers_without_spark_jobs(
    spark, small_corpus, tmp_workdir, monkeypatch
):
    """On a forced run, everything _run_stage does after a stage's write
    (lineage rows, row count, reading the table back) launches no Spark
    job, yet each stage's lineage sums to an independent count of its
    committed table and the table reads back with the schema Spark would
    infer."""
    pages, _ = small_corpus
    sc = spark.sparkContext
    probe = f"after-write-{uuid.uuid4().hex}"
    orig_write, orig_run = StageStore.write, pipeline._run_stage

    def write(self, df, name, partition_by=()):
        orig_write(self, df, name, partition_by)
        sc.setJobGroup(f"{probe}-{name}", "after the stage write")

    def run_stage(*args):
        try:
            return orig_run(*args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(StageStore, "write", write)
    monkeypatch.setattr(pipeline, "_run_stage", run_stage)
    run_pipeline(spark, pages, tmp_workdir, PipelineConfig(force=True))
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = {s: list(sc.statusTracker().getJobIdsForGroup(f"{probe}-{s}")) for s in STAGES}
    assert jobs == {s: [] for s in STAGES}

    lineage = _table(spark, tmp_workdir, "_meta_lineage")
    sums = {
        r["stage"]: r["n"]
        for r in lineage.groupBy("stage").agg(F.sum("rows").alias("n")).collect()
    }
    store = StageStore(spark, tmp_workdir)
    for stage in STAGES:
        committed = _table(spark, tmp_workdir, stage)
        assert sums[stage] == committed.count(), stage
        assert store.read(stage).schema == committed.schema, stage


def test_failed_assignments_write_drops_helper_cache(
    spark, small_corpus, tmp_workdir, monkeypatch
):
    """run_pipeline leaves no cached plan in a long-lived session: not
    when the assignments write raises, and not after the resumed run
    succeeds (resolve_in_context's reused join goes through
    session.materialize, which registers nothing in the CacheManager)."""
    pages, gold = small_corpus
    orig_write = StageStore.write

    def write(self, df, name, partition_by=()):
        if name == "assignments":
            raise RuntimeError("assignments write failed")
        orig_write(self, df, name, partition_by)

    monkeypatch.setattr(StageStore, "write", write)
    spark.catalog.clearCache()
    try:
        with pytest.raises(RuntimeError, match="assignments write failed"):
            run_pipeline(spark, pages, tmp_workdir, _cfg())
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        monkeypatch.undo()
        res = run_pipeline(spark, pages, tmp_workdir, _cfg())
        assert res["assignments"].count() > 0
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    finally:  # the session-wide corpus fixture was cached: restore that
        pages.cache()
        gold.cache()


def test_resume_mid_stage(spark, small_corpus, tmp_workdir):
    """Kill-after-stage-N simulation: delete a late checkpoint; rerun must
    rebuild only from there and reach the same answer."""
    import shutil

    pages, gold = small_corpus
    r1 = run_pipeline(spark, pages, tmp_workdir, _cfg())
    a1 = sorted(map(tuple, r1["assignments"].select("mention_uid", "cluster_id").collect()))
    shutil.rmtree(os.path.join(tmp_workdir, "assignments"))
    shutil.rmtree(os.path.join(tmp_workdir, "entities"))
    r2 = run_pipeline(spark, pages, tmp_workdir, _cfg())
    a2 = sorted(map(tuple, r2["assignments"].select("mention_uid", "cluster_id").collect()))
    assert a1 == a2


def test_entities_canonicalization(spark, small_corpus, tmp_workdir):
    pages, gold = small_corpus
    res = run_pipeline(spark, pages, tmp_workdir, _cfg())
    ents = res["entities"]
    assert ents.filter(F.col("canonical").isNull()).count() == 0
    # every cluster has exactly one canonical row
    assert ents.groupBy("cluster_id").count().filter("count > 1").count() == 0
    # mention mass is conserved
    total = res["assignments"].count()
    assert ents.agg(F.sum("n_mentions")).collect()[0][0] == total


def test_name_key_128_bits_gives_the_same_partition(spark, small_corpus, tmp_path):
    """The 128-bit (md5 hex) name key is the documented fallback for
    vocabularies where 60-bit keys collide: it must link the mentions
    into exactly the partition the 60-bit key gives."""
    pages, _ = small_corpus

    def clusters(bits):
        res = run_pipeline(
            spark, pages, str(tmp_path / f"k{bits}"),
            PipelineConfig(force=True, name_key_bits=bits),
        )
        return res["assignments"].select(
            "mention_uid", F.col("cluster_id").alias(f"c{bits}")
        )

    c60, c128 = clusters(60), clusters(128)
    assert dict(c128.dtypes)["c128"] == "string"
    both = c60.join(c128, "mention_uid")
    n60, n128, n_both = c60.count(), c128.count(), both.count()
    assert n60 == n128 == n_both > 0
    d = both.agg(
        F.count_distinct("c60").alias("d60"),
        F.count_distinct("c128").alias("d128"),
        F.count_distinct("c60", "c128").alias("pairs"),
    ).first()
    # a bijection between the two labelings: same clusters, other names
    assert d["d60"] == d["d128"] == d["pairs"], d


def test_name_key_collision_fails_loudly(spark, small_corpus, tmp_workdir, monkeypatch):
    """A colliding 60-bit name key must trip the injectivity gate, not
    silently fuse distinct names into one linkage node."""
    pages, _ = small_corpus
    monkeypatch.setattr(pipeline, "h_long", lambda c: F.pmod(F.length(c), F.lit(2)).cast("long"))
    with pytest.raises(RuntimeError, match="name-key collision"):
        run_pipeline(spark, pages, tmp_workdir, PipelineConfig(force=True))
    assert not os.path.exists(os.path.join(tmp_workdir, "block_assign"))
