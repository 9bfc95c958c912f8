"""The benchmark's workloads: their inputs, what one timed pass runs, and
the correctness checks on its output.

  crawl_link  ``plans.pipeline.run_pipeline(force=True)`` into a fresh work
              directory, on long pages (20-60 filler words per mention)
              over a small fixed persona set (400). Mentions are many and
              distinct names few, so mention-level work (ingest, context
              resolution, canonicalization) and the pipeline's per-stage
              bookkeeping carry the pass; name-level linkage is nearly idle.
  vocab_link  the pipeline's name-level linkage (blocking, pairs,
              Jaro-Winkler scoring, edge split, connected components, name
              clusters), composed from the package's operators as
              ``run_pipeline`` composes them with ``PipelineConfig``
              defaults, each stage's table committed through ``StageStore``
              and read back. Its input is the distinct normalized names of
              short pages (1-3 filler words) over 20,000 personas, so
              linkage carries the pass. The traced run then attaches a
              held-out slice of the vocabulary, one drop per micro-batch,
              through ``streaming.incremental.run_streaming_attach``.

The set-up generates the corpus with the package's own generator
(``fixtures.pages_gen.generate_corpus_dist``) and commits it. For
``vocab_link`` it also commits the name vocabulary: the gold mention
surfaces, normalized by ``functions.strings.norm_text`` and keyed by
``h_long(norm)`` as the pipeline's names stage keys them, split by an md5
of the name into the linked base and the held-out drops.

``filler_lo`` stays >= 1: at 0 adjacent names fuse into one mention.
"""

from __future__ import annotations

import contextlib
import os
import shutil

from pyspark.sql import functions as F

WORKLOADS = {
    "crawl_link": {
        "kind": "pipeline",
        "pages": 2_000,
        "smoke_pages": 1_000,
        "gen": {"n_entities": 400, "filler_lo": 20, "filler_hi": 60},
        "pages_per_block": 20,
        "min_f1": 0.97,
    },
    "vocab_link": {
        "kind": "vocabulary",
        "pages": 1_200,
        "smoke_pages": 600,
        "gen": {"n_entities": 20_000, "filler_lo": 1, "filler_hi": 3},
        "pages_per_block": 5,
        "min_f1": 0.85,
        # names whose md5 slot (0-99) is below this are held out of the
        # linked base and arrive as drops in the traced run
        "holdout_pct": 2,
        "drops": 1,
        "min_f1_attached": 0.85,
    },
}


def make_inputs(spark, spec: dict, n_pages: int, seed: int, out_dir: str, cores: int):
    """Generate the inputs for ``seed`` and commit them. This is the set-up."""
    import pyarrow.parquet as pq

    from character_identification_spark.fixtures.pages_gen import split_pages_gold
    from character_identification_spark.functions.hashing import h_long
    from character_identification_spark.functions.strings import norm_text
    from character_identification_spark.ingest.extract import wrap_html

    shutil.rmtree(out_dir, ignore_errors=True)
    corpus = generate_corpus(spark, spec, n_pages, seed, cores)
    if spec["kind"] == "pipeline":
        corpus.withColumn("html", wrap_html(F.col("text"))).write.parquet(
            os.path.join(out_dir, "corpus")
        )
        return
    # one Spark job; the gold the check needs is generated again from the
    # seed, outside the timed window
    _, gold = split_pages_gold(corpus)
    vocab_dir = os.path.join(out_dir, "vocabulary")
    (
        gold.select(norm_text("surface").alias("norm"))
        .filter(F.length("norm") >= 2)
        .distinct()
        .withColumn("mention_uid", h_long(F.col("norm")))
        .withColumn("slot", F.conv(F.substring(F.md5("norm"), 1, 6), 16, 10).cast("long") % 100)
        .write.parquet(vocab_dir)
    )
    held = (
        pq.read_table(vocab_dir, filters=[("slot", "<", spec["holdout_pct"])])
        .to_pandas()[["mention_uid", "norm"]]
        .sort_values("mention_uid")
    )
    drops_dir = os.path.join(out_dir, "drops")
    os.makedirs(drops_dir)
    for k in range(spec["drops"]):
        held.iloc[k :: spec["drops"]].to_parquet(
            os.path.join(drops_dir, f"drop-{k}.parquet"), index=False
        )


def generate_corpus(spark, spec: dict, n_pages: int, seed: int, cores: int):
    """The workload's corpus for ``seed``, as the generator's lazy frame of
    pages with their gold mentions."""
    from character_identification_spark.fixtures.pages_gen import generate_corpus_dist

    return generate_corpus_dist(
        spark,
        n_pages,
        n_blocks=max(1, n_pages // spec["pages_per_block"]),
        seed=seed,
        partitions=cores,
        **spec["gen"],
    )


def assignment_digest(assignments) -> tuple[int, int]:
    """Order-insensitive digest of (mention_uid, cluster_id): row count and
    the XOR of per-row hashes (ANSI mode forbids summing hashes)."""
    r = assignments.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("mention_uid", "cluster_id")).alias("x"),
    ).collect()[0]
    return int(r["n"]), int(r["x"] or 0)


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 2**20


def _table_rows(spark, workdir: str, name: str) -> int:
    return spark.read.parquet(os.path.join(workdir, name)).count()


class PipelineWorkload:
    """One pass is ``run_pipeline(force=True)`` over the committed pages."""

    def __init__(self, spark, spec: dict, inputs: str):
        from character_identification_spark.fixtures.pages_gen import split_pages_gold

        self.spark, self.spec = spark, spec
        raw = spark.read.parquet(os.path.join(inputs, "corpus"))
        _, self.gold = split_pages_gold(raw)
        self.pages = raw.select("url", "warc_ts", "html", "text", "lang")

    def run(self, workdir: str, tracer=None) -> dict:
        from character_identification_spark.plans.pipeline import PipelineConfig, run_pipeline

        cfg = PipelineConfig(force=True)
        if tracer is None:
            return run_pipeline(self.spark, self.pages, workdir, cfg)
        import tracer as tr

        with tr.traced_pipeline(tracer), tracer.span("run_pipeline", "pipeline"):
            return run_pipeline(self.spark, self.pages, workdir, cfg)

    def assignments(self, res: dict):
        return res["assignments"]

    def pair_f1(self, res: dict) -> float:
        from character_identification_spark.plans.pipeline import evaluate_pipeline

        return float(evaluate_pipeline(res, self.gold)["f1"])

    def layer_counts(self, res: dict, workdir: str) -> dict:
        """Row counts at layer boundaries, read from the committed stage
        tables after the traced pass (outside its spans)."""
        return _layer_counts(self.spark, res, workdir, mentions=_table_rows(self.spark, workdir, "mentions"))


class VocabularyWorkload:
    """One pass is the name-level linkage chain over the committed base
    vocabulary; the traced run adds the streaming attach of the drops."""

    def __init__(self, spark, spec: dict, inputs: str, corpus):
        from character_identification_spark.fixtures.pages_gen import split_pages_gold

        self.spark, self.spec, self.inputs = spark, spec, inputs
        _, self.gold = split_pages_gold(corpus)
        self.vocab = spark.read.parquet(os.path.join(inputs, "vocabulary"))
        self.names = self.vocab.filter(F.col("slot") >= spec["holdout_pct"]).select(
            "mention_uid", "norm"
        )

    def run(self, workdir: str, tracer=None) -> dict:
        if tracer is None:
            return link_vocabulary(self.spark, self.names, workdir)
        import tracer as tr

        def span(stage: str):
            return tracer.span(f"stage:{stage}", tr.STAGE_LAYER[stage])

        with tracer.span("link_vocabulary", "pipeline"):
            return link_vocabulary(self.spark, self.names, workdir, span)

    def assignments(self, res: dict):
        return res["name_clusters"]

    def _mention_f1(self, name_clusters) -> float:
        """Pair F1 of gold mentions labelled with their name's cluster, over
        the mentions of unambiguous names: an ambiguous name (a bare first
        name, an initial) is only resolved per mention, by the pipeline's
        context stage, which this workload does not run. Mentions whose
        name is ambiguous or not in ``name_clusters`` drop out of the gold
        pairs."""
        from character_identification_spark.evaluation.pairf1 import (
            gold_pairs_from_mentions,
            pairwise_f1,
        )
        from character_identification_spark.functions.strings import norm_text
        from character_identification_spark.operators.context import ambiguous_col

        labelled = self.gold.select(
            "mention_uid", norm_text("surface").alias("norm")
        ).join(
            name_clusters.filter(~ambiguous_col("norm")).select("norm", "cluster_id"), "norm"
        )
        return float(pairwise_f1(labelled, gold_pairs_from_mentions(self.gold))["f1"])

    def pair_f1(self, res: dict) -> float:
        return self._mention_f1(res["name_clusters"])

    def layer_counts(self, res: dict, workdir: str) -> dict:
        return _layer_counts(self.spark, res, workdir, mentions=0, names=self.names.count())

    def attach_drops(self, res: dict, state_dir: str):
        """Closed loop of one client: the held-out names arrive as parquet
        drops and each is attached (``maxFilesPerTrigger=1``) only after
        the previous one committed, against the pass's name clusters as
        the seed base. Returns the awaited query."""
        from character_identification_spark.streaming.incremental import run_streaming_attach

        return run_streaming_attach(
            self.spark,
            os.path.join(self.inputs, "drops"),
            state_dir,
            res["name_clusters"],
            max_files_per_trigger=1,
        )

    def check_attached(self, state_dir: str) -> tuple[bool, float]:
        """Every held-out name is in the attached state exactly once, and
        the pair F1 of the whole vocabulary after ``apply_merges``."""
        from character_identification_spark.streaming.incremental import (
            apply_merges,
            current_base,
        )

        final = current_base(self.spark, state_dir)
        merges_dir = os.path.join(state_dir, "merge_queue")
        if os.path.isdir(merges_dir):
            final = apply_merges(final, self.spark.read.parquet(merges_dir))
        held = self.vocab.filter(F.col("slot") < self.spec["holdout_pct"])
        r = final.join(held.select("mention_uid"), "mention_uid", "left_semi").agg(
            F.count("*").alias("n"), F.count_distinct("mention_uid").alias("d")
        ).collect()[0]
        n_held = held.count()
        covered = r["n"] == n_held and r["d"] == n_held
        return covered, self._mention_f1(final)


def link_vocabulary(spark, names, workdir: str, span=None) -> dict:
    """Blocking -> pairs -> scoring -> edge split -> connected components ->
    name clusters over ``names(mention_uid, norm)``, with the operator
    calls and arguments of ``run_pipeline``'s name-level stages. Each
    stage's table is committed and read back before the next stage builds
    on it; ``span(stage)`` wraps the build, write and read of each."""
    from character_identification_spark.operators.blocking import assign_blocks
    from character_identification_spark.operators.cc import connected_components
    from character_identification_spark.operators.context import (
        name_cluster_table,
        name_edge_table,
    )
    from character_identification_spark.operators.pairs import generate_pairs
    from character_identification_spark.operators.scoring import score_pairs
    from character_identification_spark.plans.pipeline import PipelineConfig
    from character_identification_spark.sources.catalog import StageStore

    cfg = PipelineConfig()
    store = StageStore(spark, workdir)
    span = span or (lambda stage: contextlib.nullcontext())

    def stage(name: str, build):
        with span(name):
            store.write(build(), name)
            return store.read(name)

    blocks = stage(
        "block_assign",
        lambda: assign_blocks(
            names,
            prefix_len=cfg.prefix_len,
            n_gram=cfg.n_gram,
            num_hashes=cfg.num_hashes,
            band_size=cfg.band_size,
            max_block_size=cfg.max_block_size,
        ),
    )
    pairs = stage("candidate_pairs", lambda: generate_pairs(names, blocks, payload_cols=("norm",)))
    scored = stage("scored_pairs", lambda: score_pairs(pairs, cfg.threshold, dedup_strings=False))
    edge_split = stage("edge_split", lambda: name_edge_table(scored, cfg.threshold))
    edges = edge_split.filter(F.col("role") == "safe").select(
        F.col("a").alias("u"), F.col("b").alias("v")
    )
    amb_links = edge_split.filter(F.col("role") == "amb").select(
        F.col("a").alias("amb_uid"), F.col("b").alias("anchor_uid")
    )
    name_clusters = stage(
        "name_clusters",
        lambda: name_cluster_table(
            names,
            connected_components(edges, max_iter=cfg.cc_max_iter, converge_check_every=2),
            amb_links,
        ),
    )
    return {
        "block_assign": blocks,
        "candidate_pairs": pairs,
        "scored_pairs": scored,
        "edge_split": edge_split,
        "match_edges": edges,
        "name_clusters": name_clusters,
    }


def _layer_counts(spark, res: dict, workdir: str, mentions: int, names: int | None = None) -> dict:
    scored = res["scored_pairs"].agg(
        F.count("*").alias("n"), F.count_if(F.col("is_match")).alias("m")
    ).collect()[0]
    return {
        "ingest.rows_out": mentions,
        "names.rows_out": names if names is not None else _table_rows(spark, workdir, "names"),
        "blocking.rows_out": _table_rows(spark, workdir, "block_assign"),
        "pairs.rows_out": _table_rows(spark, workdir, "candidate_pairs"),
        "scoring.match_ratio": scored["m"] / max(1, scored["n"]),
        "cc.edges_in": res["match_edges"].count(),
    }


def open_workload(spark, spec: dict, inputs: str, n_pages: int, seed: int, cores: int):
    """The workload over the inputs ``make_inputs`` committed."""
    if spec["kind"] == "pipeline":
        return PipelineWorkload(spark, spec, inputs)
    return VocabularyWorkload(
        spark, spec, inputs, generate_corpus(spark, spec, n_pages, seed, cores)
    )
