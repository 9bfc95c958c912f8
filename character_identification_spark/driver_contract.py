"""Driver contract: per-operator Spark queries + DuckDB oracle SQL.

Each entry demonstrates one operator family from SURVEY.md §2 over the
driver's testdata tables (``part customer orders lineitem events documents
embeddings``). The Spark callable and the DuckDB SQL string compute the
SAME values — possible because every pseudo-random primitive in the engine
is an md5-derived pure function (functions/hashing.py) that both engines
expose identically, and my Jaro-Winkler pandas UDF is bit-compatible with
DuckDB's ``jaro_winkler_similarity`` (functions/strings.py).

Float discipline: any column whose low bits could differ across engines
(UDF arithmetic, parallel-agg summation order) is rounded to 6 dp on BOTH
sides; int/int divisions and md5 hashes are left raw (exactly equal).

ER queries synthesize a deterministic mention corpus from ``part.p_name``
(three alias variants per part: full, first-token+initial, transposition
typo) — the same alias families the pages fixture uses
(fixtures/pages_gen.py), but derivable in pure SQL so DuckDB can replay
every pipeline stage value-for-value. The realistic end-to-end corpus with
the pairwise-F1 ≥ 0.99 gate lives in tests/ (test_pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from character_identification_spark.functions.partitioning import topk_per_group
from character_identification_spark.functions.strings import norm_text
from character_identification_spark.operators.asof import asof_join, last_prior_event
from character_identification_spark.operators.blocking import (
    cap_block_sizes,
    minhash_lsh_blocks,
    sortkey_blocks,
)
from character_identification_spark.operators.canonicalize import (
    canonical_entities,
    pooled_cluster_embeddings,
)
from character_identification_spark.operators.cc import (
    attach_singletons,
    connected_components,
)
from character_identification_spark.operators.curation import (
    chunk_documents,
    keep_best_per_cluster,
    pii_scrub,
    repetition_stats,
    url_dedup,
)
from character_identification_spark.operators.dedup import (
    dedup_clusters,
    embedding_dup_pairs,
    exact_dedup,
    minhash_dup_pairs,
    semantic_dedup,
    simhash,
    simhash_dup_pairs,
)
from character_identification_spark.operators.search import bm25_search
from character_identification_spark.operators.multimodal import (
    extract_media_features,
    frame_sample_plan,
    synthetic_media,
)
from character_identification_spark.operators.pairs import (
    generate_pairs,
    match_edges_sparse,
)
from character_identification_spark.operators.scoring import score_pairs
from character_identification_spark.operators.similarity import (
    ann_topk,
    cosine_topk,
    ivf_topk,
    knn_graph,
    sign_lsh_bucket,
)
from character_identification_spark.operators.textstats import (
    bpe_ish_token_count,
    bpe_learn_merges,
    bpe_segment_counts,
    fingerprint,
    language_id,
    text_stats,
    token_count,
)
from character_identification_spark.session import materialize


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ===========================================================================
# ER pipeline over part-derived mentions (SURVEY §2: S5/F6, J1, M3/C1-C4,
# T1/T2 via CC, M4/A2/A3)
# ===========================================================================

ER_CAP = 40  # small cap so cap_block_sizes' salting path is exercised


def _er_mentions_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mention corpus: 3 alias variants per part name
    (full / first-token+initial / transposed-typo second token)."""
    # NOT fanned out (functions/partitioning.py): measured +2.5 s — the
    # per-mention blocking work here is too light to repay an extra
    # exchange, unlike the document-level md5 fan-outs in dedup.py
    part = _t(spark, sf_dir, "part")
    toks = F.split(F.col("p_name"), " ")
    t1, t2 = toks.getItem(0), toks.getItem(1)
    variants = F.array(
        F.struct(F.lit(1).alias("variant"), F.col("p_name").alias("surface")),
        F.struct(
            F.lit(2).alias("variant"),
            F.concat(t1, F.lit(" "), F.substring(t2, 1, 1)).alias("surface"),
        ),
        F.struct(
            F.lit(3).alias("variant"),
            F.concat(
                t1,
                F.lit(" "),
                t2.substr(2, 1),
                t2.substr(1, 1),
                F.expr("substring(split(p_name, ' ')[1], 3)"),
            ).alias("surface"),
        ),
    )
    return part.select("p_partkey", F.explode(variants).alias("v")).select(
        (F.col("p_partkey") * 4 + F.col("v.variant")).cast("long").alias("mention_uid"),
        F.col("p_partkey").cast("long").alias("p_partkey"),
        F.col("v.variant").alias("variant"),
        F.col("v.surface").alias("surface"),
        norm_text(F.col("v.surface")).alias("norm"),
    )


def _er_blocks_df(m: DataFrame) -> DataFrame:
    """prefix + init_last + MinHash-LSH families, union'd, capped.
    (soundex is excluded here only because DuckDB lacks soundex() for the
    oracle; the pipeline default keeps it — see plans/pipeline.py.)

    Carries ``norm`` through: match_edges_sparse groups by it without a
    join back on mention_uid, and generate_pairs projects it away — the
    declared blocking queries build their own norm-free pipelines, so
    their schemas are untouched.

    No dropDuplicates (round-6): every family emits a distinct key prefix
    ('sk:' / 'il:' / 'mh:<band>:') and at most ONE key per (mention,
    family/band), and mention_uids are unique — (mention_uid, block_key)
    duplicates are impossible by construction, so the dedup was a no-op
    paying a full (uid, key) shuffle."""
    fam = sortkey_blocks(
        m, prefix_len=4, families=("prefix", "init_last"), passthrough=("norm",)
    ).unionByName(
        minhash_lsh_blocks(
            m, n_gram=3, num_hashes=8, band_size=2, passthrough=("norm",)
        )
    )
    return cap_block_sizes(fam, ER_CAP)


def q_er_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _er_mentions_df(spark, sf_dir)


def q_er_blocking_sortkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _er_mentions_df(spark, sf_dir)
    fam = sortkey_blocks(m, prefix_len=4, families=("prefix", "init_last")).dropDuplicates(
        ["mention_uid", "block_key"]
    )
    return cap_block_sizes(fam, ER_CAP)


def q_er_blocking_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _er_mentions_df(spark, sf_dir)
    return minhash_lsh_blocks(m, n_gram=3, num_hashes=8, band_size=2)


def _er_pairs_df(spark: SparkSession, sf_dir: str):
    m = _er_mentions_df(spark, sf_dir)
    return m, generate_pairs(m, _er_blocks_df(m), payload_cols=("norm", "surface"))


def q_er_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, pairs = _er_pairs_df(spark, sf_dir)
    return pairs


def _er_scored_df(spark: SparkSession, sf_dir: str):
    m, pairs = _er_pairs_df(spark, sf_dir)
    return m, score_pairs(pairs, threshold=0.82)


def q_er_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, scored = _er_scored_df(spark, sf_dir)
    return scored.select(
        "uid1",
        "uid2",
        "block_key",
        F.round("jw", 6).alias("jw"),
        F.round("jw_last", 6).alias("jw_last"),
        F.round("lev_ratio", 6).alias("lev_ratio"),
        F.round("tok_jaccard", 6).alias("tok_jaccard"),
        "tok_contained",
        "initial_alias",
        "tokenwise_typo",
        F.round("score", 6).alias("score"),
        "is_match",
    )


def q_er_scored_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise scoring with the embedding-cosine blend (SURVEY §2 M1/M2:
    hashed n-gram mention encoder + cosine feature), demonstrating the
    `with_embeddings` scorer path end-to-end with oracle-parity vectors."""
    from character_identification_spark.functions.vectors import hash_embedding

    m = _er_mentions_df(spark, sf_dir).withColumn(
        "emb", hash_embedding("norm", dim=16)
    )
    pairs = generate_pairs(m, _er_blocks_df(m), payload_cols=("norm", "emb"))
    scored = score_pairs(pairs, threshold=0.82, with_embeddings=True)
    return scored.select(
        "uid1",
        "uid2",
        F.round("jw", 6).alias("jw"),
        F.round("jw_last", 6).alias("jw_last"),
        F.round("cos_sim", 6).alias("cos_sim"),
        F.round("score", 6).alias("score"),
        "is_match",
    )


def _er_assign_df(spark: SparkSession, sf_dir: str):
    # Round-6 perf: CC consumes the connectivity-equivalent sparse graph
    # (member→rep stars + rep-rep edges on scored DISTINCT norm pairs —
    # operators/pairs.match_edges_sparse) instead of the full |block|²
    # is_match pair fan-out. Components are provably identical (same-norm
    # pairs always match, is_match is symmetric — verified value-for-value
    # against the old edge set at sf0.01/sf0.1, and pinned by the oracle).
    m = _er_mentions_df(spark, sf_dir)
    edges = match_edges_sparse(m, _er_blocks_df(m), threshold=0.82)
    return m, attach_singletons(m, connected_components(edges))


def q_er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, assign = _er_assign_df(spark, sf_dir)
    return assign.select("mention_uid", "cluster_id")


def q_er_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, assign = _er_assign_df(spark, sf_dir)
    clustered = assign.select(
        "cluster_id", "norm", "surface", F.col("p_partkey").cast("string").alias("url")
    )
    # canonical_entities consumes clustered twice (name stats + page
    # counts); materialize the |mentions|-sized slice once instead of
    # re-running the attach join + CC-output aggregate per branch
    # (measured 1.0 → 0.3 s warm, and one fewer codegen subtree cold)
    clustered = materialize(clustered)
    ents = canonical_entities(clustered)
    # the driver's pandas canonicalizer can't factorize array columns —
    # join the alias set to a '|'-separated string (format-stable in both
    # engines: norms are lowercase alnum+space)
    return ents.withColumn("aliases", F.array_join("aliases", "|"))


# ===========================================================================
# Dedup family over documents (augmented with deterministic near/exact dups)
# ===========================================================================


def _docs_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ tail-truncated copies (+100000: near-dups) ∪ verbatim
    copies (+200000: exact dups) — dup structure by construction, derived
    identically in the DuckDB oracle."""
    base = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    trunc = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") + 100000).cast("long").alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1))), " "
        ).alias("text"),
    )
    copy = base.select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    return base.unionByName(trunc).unionByName(copy)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs_aug(spark, sf_dir))


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup (operators/dedup.duplicated_spans
    — the Lee-et-al ACL'22 primitive): maximal merged runs of 8-token
    windows shared verbatim by ≥ 2 documents. The +100000 tail-truncated
    copies in _docs_aug guarantee long shared prefixes, so the oracle has
    non-trivial spans to pin."""
    from character_identification_spark.operators.dedup import duplicated_spans

    return duplicated_spans(_docs_aug(spark, sf_dir), k=8, min_docs=2)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.decontaminate): every
    20th RAW document plays the benchmark probe set; any augmented-corpus
    document sharing a verbatim 8-token window with a probe is flagged.
    By construction the probes' own corpus copies (+ their +100000/
    +200000 derivatives) must flag — a value-level oracle with known
    positives."""
    from character_identification_spark.operators.dedup import decontaminate

    docs = _docs_aug(spark, sf_dir)
    probes = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0
    ).select("doc_id", "text")
    return decontaminate(docs, probes, k=8)


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_dup_pairs(
        _docs_aug(spark, sf_dir),
        n_gram=3,
        num_hashes=16,
        band_size=2,
        jaccard_threshold=0.7,
        max_bucket_size=1000,
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(_docs_aug(spark, sf_dir))


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_dup_pairs(simhash(_docs_aug(spark, sf_dir)), max_hamming=3, n_bands=4)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_aug(spark, sf_dir)
    pairs = minhash_dup_pairs(
        docs, n_gram=3, num_hashes=16, band_size=2, jaccard_threshold=0.7,
        max_bucket_size=1000,
    )
    return dedup_clusters(pairs, docs)


def q_dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact prefix-filtered set-similarity join (dedup.
    prefix_jaccard_pairs, tau=0.7): every Jaccard≥0.7 pair over the
    augmented dup corpus, found WITHOUT an all-pairs join — candidates
    collide on rarest-first prefix shingles only, exact Jaccard
    verifies. The exact (guaranteed-recall) counterpart to
    dedup_minhash_pairs."""
    from character_identification_spark.operators.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(_docs_aug(spark, sf_dir), tau=0.7, n=3)


def q_dedup_ngram_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERIFY-ONLY form of the n-gram Jaccard family: exact all-pairs over
    a deterministic 1-in-5 sample — the recall oracle for the bounded
    production form (minhash_dup_pairs = the same Jaccard semantics behind
    a banded-LSH prefilter, which is the path that scales). The crossJoin
    here is intentional and sampled; it exists to measure what the LSH
    prefilter would miss, never to run on a full corpus."""
    from character_identification_spark.operators.dedup import word_shingles

    docs = _docs_aug(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
    sh = docs.select(F.col("doc_id"), word_shingles("text", 3).alias("sh"))
    a = sh.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1"))
    b = sh.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2"))
    return (
        a.crossJoin(b)
        .filter(F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            (
                F.size(F.array_intersect("sh1", "sh2"))
                / F.size(F.array_union("sh1", "sh2")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") > 0)
        .withColumn("is_dup", F.col("jaccard") >= 0.7)
    )


def _emb_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        F.col("label"),
    )


def q_dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the DEFAULT sign-LSH-bucketed path (n_planes=8) — the
    scale formulation. The md5-pure hyperplanes make even this
    'approximate' prefilter exactly replayable in the DuckDB oracle."""
    e = _emb_double(spark, sf_dir).select("vec_id", "embedding")
    # scaled copies: cos(v, 0.5v) == 1.0 exactly (power-of-two scale),
    # and positive scaling preserves every plane sign → never pruned
    aug = e.unionByName(
        e.select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform("embedding", lambda x: x * 0.5).alias("embedding"),
        )
    )
    pairs = embedding_dup_pairs(aug, id_col="vec_id", vec_col="embedding", threshold=0.95)
    return pairs.filter(F.col("cos_sim") >= 0.4).select(
        "id1", "id2", F.round("cos_sim", 6).alias("cos_sim"), "is_dup"
    )


# ===========================================================================
# Text analysis over documents
# ===========================================================================


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained char-trigram LM quality score (textstats.lm_score —
    the CCNet LM-filter analog): corpus-typicality as mean trigram
    log-probability, broadcast-join scoring, DuckDB-replayable."""
    from character_identification_spark.operators.textstats import lm_score

    return lm_score(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe"),
    )


# ===========================================================================
# Curation: URL dedup, repetition stats, PII scrub, keep-best selection
# ===========================================================================


def _docs_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic URLs over documents: scheme/www/default-port
    casing variants (doc_id % 3), tracking params (% 5), fragments (% 7),
    trailing slashes (% 2) — path identity is doc_id % 100, so
    canonicalization must collapse the surface variants onto it."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    did = F.col("doc_id")
    key = (did % 100).cast("string")
    prefix = (
        F.when(did % 3 == 0, F.lit("HTTPS://WWW.Example.COM:443"))
        .when(did % 3 == 1, F.lit("https://example.com"))
        .otherwise(F.lit("http://Example.Com:80"))
    )
    query = (
        F.when(did % 5 == 0, F.concat(F.lit("?utm_source=feed&id="), key))
        .when(did % 5 == 1, F.concat(F.lit("?id="), key, F.lit("&utm_campaign=x")))
        .when(did % 5 == 2, F.lit("?gclid=abc"))
        .otherwise(F.lit(""))
    )
    frag = F.when(did % 7 == 0, F.lit("#section-2")).otherwise(F.lit(""))
    slash = F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit(""))
    return d.select(
        "doc_id",
        F.concat(prefix, F.lit("/Docs/"), key, slash, query, frag).alias("url"),
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return url_dedup(_docs_urls(spark, sf_dir))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII demo corpus: deterministic emails / phones / IPv4s appended to
    some documents (the synthetic text itself carries none), mirrored
    verbatim in the DuckDB oracle."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" contact alice."), did.cast("string"), F.lit("@Example-Mail.org")
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" call +1 (555) 010-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (did % 256).cast("string"),
                F.lit("."),
                (did % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    return pii_scrub(d.select("doc_id", aug.alias("text")))


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection over the MinHash dup clusters: the
    highest-quality member of each cluster survives (exact/truncated
    copies differ in quality via the length term)."""
    docs = _docs_aug(spark, sf_dir)
    pairs = minhash_dup_pairs(
        docs, n_gram=3, num_hashes=16, band_size=2, jaccard_threshold=0.7,
        max_bucket_size=1000,
    )
    clusters = dedup_clusters(pairs, docs)
    quality = text_stats(docs).select("doc_id", "quality")
    return keep_best_per_cluster(clusters, quality)


# ===========================================================================
# Similarity search over embeddings
# ===========================================================================


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb_double(spark, sf_dir).select("vec_id", "embedding")
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    out = cosine_topk(e, queries, k=10, id_col="vec_id", vec_col="embedding")
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank"
    )


def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN at the MEASURED-GOOD operating point (n_planes=4,
    n_tables=2 — recall@10 ≈ 0.19 vs exact, BENCH.md §recall; the round-3
    2×6 config measured 0.075–0.113 and is retained only as the
    tests/test_similarity.py determinism fixture). The md5-pure planes
    make even the approximate path deterministically replayable — the
    DuckDB twin rebuilds the identical buckets."""
    e = _emb_double(spark, sf_dir).select("vec_id", "embedding")
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    out = ann_topk(e, queries, k=10, n_planes=4, n_tables=2)
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank"
    )


# ===========================================================================
# As-of / window / streaming-analog queries over events
# ===========================================================================


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-file ANN (deterministic md5-exemplar codebook,
    nprobe-probed lists, exact rerank) — fully replayable in DuckDB."""
    e = _emb_double(spark, sf_dir).select("vec_id", "embedding")
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    out = ivf_topk(e, queries, k=10, n_centroids=16, nprobe=4)
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank"
    )


def q_asof_prev_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    return last_prior_event(
        _t(spark, sf_dir, "events"), key="user_id", ts="ts",
        kind_col="event_type", kind="click", value_col="value",
    )


def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase")
    right = ev.filter(F.col("event_type") == "click")
    return asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=("value",), strict=True,
    )


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming windowed aggregation
    (streaming/incremental.py): tumbling 1-hour event-time windows."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows: 1-hour duration, 30-minute
    slide — every event contributes to exactly TWO overlapping windows
    (the streaming overlap shape tumbling can't express; Spark's
    F.window(duration, slide) materializes the window set per row, so at
    scale this is a 2× row fan-out into the same keyed aggregation, no
    extra shuffle stage). Oracle: the two shifted 30-minute buckets per
    event, unioned (oracles.SQL_EVENTS_HOPPING)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite curation DECISION — the Gopher/C4-style keep/drop
    gate that ties the stats operators together: blended quality score
    (text_stats) ∧ repetition caps (repetition_stats) ∧ English
    language-ID ∧ a length band. Three single-scan feature blocks joined
    on doc_id; at 100 TB each block is scan-bandwidth and the join keys
    are unique → AQE turns it into cheap co-partitioned joins. The
    thresholds here are the demo policy; the point is the composed
    dataflow with a value-level oracle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    s = text_stats(docs)
    r = repetition_stats(docs)
    lang = language_id(docs)
    keep = (
        (F.col("quality") >= 0.5)
        & (F.col("dup5_frac") <= 0.3)
        & (F.col("top2_char_frac") <= 0.2)
        & (F.col("lang_pred") == "en")
        & F.col("n_tokens").between(10, 100000)
    )
    return (
        s.join(r, "doc_id")
        .join(lang, "doc_id")
        .select(
            "doc_id",
            "quality",
            "dup5_frac",
            "lang_pred",
            keep.alias("keep"),
        )
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language stratified sampling (curation.
    stratified_sample) — the training-data rebalancing primitive. The
    md5-uniform draw is keyed by doc_id, so the exact kept-set is
    engine-independent (the DuckDB oracle reproduces it row-for-row);
    'fr' is absent from the map → dropped (allowlist semantics)."""
    from character_identification_spark.operators.curation import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, {"en": 0.5, "de": 0.25, "zh": 0.1, "es": 1.0}, strata_col="lang"
    )
    return out.select("doc_id", "lang")


def q_mix_corpora(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-weight mixing bookkeeping (curation.mixing_report): apply
    source-keyed deterministic sampling and report per source
    (n_total, n_kept, realized_rate) — unmapped sources report 0 kept."""
    from character_identification_spark.operators.curation import mixing_report

    docs = _t(spark, sf_dir, "documents")
    return mixing_report(
        docs, {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic concat-and-chunk sequence packing
    (curation.pack_sequences): documents → 512-token training sequences
    per (lang, subshard), packing order = md5 draw of doc_id, bin id =
    exclusive-cumsum DIV budget. The whole layout is a pure function of
    the ids, so the DuckDB oracle replays every (seq_index,
    offset_in_seq) exactly."""
    from character_identification_spark.operators.curation import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return pack_sequences(docs, budget=512, n_subshards=4)


def q_strip_common_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-frequency boilerplate strip
    (curation.strip_common_chunks) over the augmented corpus (_docs_aug:
    base + tail-truncated + verbatim copies — so every base chunk is
    common by construction via its +200000 copy, and the truncated
    variants share all full chunks): chunks of 10 tokens, common =
    appearing in ≥ 3 distinct docs."""
    from character_identification_spark.operators.curation import (
        strip_common_chunks,
    )

    return strip_common_chunks(
        _docs_aug(spark, sf_dir), chunk_tokens=10, min_docs=3
    )


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain diversity cap (curation.domain_cap): keep each doc with
    probability min(1, cap/n_domain) via the md5-uniform draw — every
    domain contributes ≈ cap docs in expectation; the kept set (and so
    every count here) is engine-independent. Domain = lang here because
    the fixture's lang counts are skewed (en > cap > the rest), so the
    oracle pins BOTH branches: a genuinely capped domain and the
    keep-everything domains."""
    from character_identification_spark.operators.curation import domain_cap

    docs = _t(spark, sf_dir, "documents")
    return domain_cap(docs, cap=100, domain_col="lang")


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-n-gram importance weights (textstats.dsir_weights,
    Xie et al. 2023): target distribution = the 'src0' documents, raw =
    the whole corpus; word uni+bigrams hashed to 1024 buckets, add-0.5
    smoothing. dsir_logw > 0 ⇒ the doc looks more like src0 than like
    the corpus average."""
    from character_identification_spark.operators.textstats import dsir_weights

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return dsir_weights(
        docs, target_pred=F.col("source") == "src0", n_buckets=1024, alpha=0.5
    )


def q_similarity_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN (similarity.ann_topk multiprobe=True,
    Lv et al. 2007 restricted to 1-bit perturbations): query-side probe
    fan-out over the 2-table × 4-plane index — the measured-best sign-LSH
    config (recall@10 0.738/0.662 vs 0.188/0.212 unprobed, past IVF at
    nprobe=8; BENCH.md). Deterministically replayable like the rest of
    the LSH family: the probe set is a pure function of the bucket."""
    e = _emb_double(spark, sf_dir).select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann_topk(e, q, k=10, n_planes=4, n_tables=2, multiprobe=True, max_bucket_size=32)
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank"
    )


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (dedup.semantic_dedup, Abbas et al.
    2023): md5-exemplar codebook (16 centroids, literal-inlined →
    zero-shuffle assignment), within-cluster cosine > 0.35 against any
    lower-id cluster-mate → keep=false. The one shuffle is the
    within-cluster self-join; the quadratic term is (N/n_centroids)² per
    cluster — n_centroids scales with the corpus at 100 TB."""
    e = _emb_double(spark, sf_dir).select("vec_id", "embedding")
    return semantic_dedup(e, n_centroids=16, tau=0.35)


def q_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (search.bm25_search, Robertson & Zaragoza 2009,
    Lucene idf): inverted-index-shaped relational plan — postings
    filtered to the query terms right at the explode, map-side-combined
    tf/df aggs, broadcast corpus constants, TakeOrderedAndProject
    top-k (no global rank shuffle)."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return bm25_search(docs, ["spark", "vector", "slow"], k=15)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (curation.chunk_documents): 32-token
    windows, 8-token overlap — shuffle-free projection+explode fused
    into the scan; ~n/24 chunks per doc."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return chunk_documents(docs, chunk_tokens=32, overlap=8)


def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE training (textstats.bpe_learn_merges, Sennrich et
    al. 2016): 4 merge rounds — one corpus shuffle (word counts), then
    vocabulary-sized iterate/merge/recount with a 1-row argmax collect
    per round; the greedy merge fold is replayed exactly by the DuckDB
    list_reduce twin."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return bpe_learn_merges(docs, n_merges=4)


def q_bpe_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION (textstats.bpe_segment_counts): the learned
    4-merge BPE vocabulary segments every doc — merges fold once per
    DISTINCT word (vocab table), the corpus only joins words to the
    (word → n_subwords) map; AQE picks the join strategy."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return bpe_segment_counts(docs, n_merges=4)


def q_similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide approximate kNN graph (similarity.knn_graph): every
    vector queries the multiprobe 2×4 sign-LSH index with
    broadcast_queries=False — the bucket join is a SHUFFLE join keyed on
    bucket (both sides partition by bucket, nothing corpus-sized is
    broadcast), which is the formulation that survives a corpus-sized
    query set at 100 TB."""
    e = _emb_double(spark, sf_dir).select("vec_id", "embedding")
    out = knn_graph(e, k=5, n_planes=4, n_tables=2, multiprobe=True, max_bucket_size=32)
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank"
    )


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (graph.pagerank, 3 fixed synchronous rounds, d=0.85)
    over the approximate kNN graph's edges — the Pregel dataflow
    relationally: one dst-keyed map-side-combined shuffle per round,
    node-sized rank table, session.materialize between rounds. Fixed
    iteration count keeps the result a pure function of the edge set,
    replayed by the oracle's unrolled-CTE twin."""
    from character_identification_spark.operators.graph import pagerank

    e = _emb_double(spark, sf_dir).select("vec_id", "embedding")
    edges = knn_graph(e, k=5, n_planes=4, n_tables=2, multiprobe=True, max_bucket_size=32).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return pagerank(edges, n_iters=3, damping=0.85)


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (graph.triangle_counts) over the
    undirected kNN graph: canonical (lo,hi) dedup, ordered two-hop join
    a<b<c (each triangle once), one node-keyed count."""
    from character_identification_spark.operators.graph import triangle_counts

    e = _emb_double(spark, sf_dir).select("vec_id", "embedding")
    edges = knn_graph(e, k=5, n_planes=4, n_tables=2, multiprobe=True, max_bucket_size=32).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return triangle_counts(edges)


def q_cluster_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gonzalez farthest-first k-center (cluster.kcenter_fit_predict,
    k=8): md5-lowest seed, then 7 max-min-distance selections — each one
    zero-shuffle literal-centroid scan + TakeOrderedAndProject — and the
    final nearest-seed assignment; integer-determined throughout, so the
    seed sequence and assignment replay in the unrolled-CTE twin."""
    from character_identification_spark.operators.cluster import kcenter_fit_predict

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kcenter_fit_predict(emb, k=8)


def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (graph.bfs_distances, 4 fixed
    rounds) from seeds {0,1,2,3} over the undirected kNN graph —
    frontier-joined per round (only nodes first reached last round
    drive the next join), anti-join keeps first = minimum distance;
    the oracle replays it as unrolled min-distance rounds."""
    from character_identification_spark.operators.graph import bfs_distances

    e = _emb_double(spark, sf_dir).select("vec_id", "embedding")
    edges = knn_graph(e, k=5, n_planes=4, n_tables=2, multiprobe=True, max_bucket_size=32).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    seeds = e.filter(F.col("vec_id") < 4).select(F.col("vec_id").alias("node"))
    return bfs_distances(edges, seeds, n_rounds=4)


def q_cluster_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization 64d → 8 codes of k=16 (cluster.
    pq_train_encode, Jégou et al. 2011, 2 fused Lloyd rounds): all 8
    block codebooks train in 2 scans/iteration (one fused argmin
    projection + one (block, cluster, slot)-keyed agg); codes and the
    integer reconstruction-error column replay exactly in the
    unrolled-CTE oracle."""
    from character_identification_spark.operators.cluster import pq_train_encode

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = pq_train_encode(emb, n_blocks=8, k=16, n_iters=2)
    return out.select(
        "vec_id",
        F.array_join(
            F.transform(F.col("codes"), lambda c: c.cast("string")), ","
        ).alias("codes_str"),
        "recon_micros",
    )


def q_similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-10 search (cluster.pq_topk) for the
    first 8 vectors as queries: corpus scored through its 8 codes only
    via broadcast per-query lookup tables — every table entry and code
    an integer, so the approximate ranking replays exactly."""
    from character_identification_spark.operators.cluster import pq_topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(emb, queries, k=10, n_blocks=8, k_codebook=16, n_iters=2)


def q_similarity_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10 (cluster.ivfpq_topk): the FAISS-style composition —
    a 16-cell md5-exemplar inverted file prunes to nprobe=4 probed
    cells per query, then PQ asymmetric-distance scores the survivors
    through their 8 integer codes only. Every cell id, probe set, code
    and ADC distance is an integer, so the ranking replays exactly."""
    from character_identification_spark.operators.cluster import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk(
        emb, queries, k=10, n_centroids=16, nprobe=4,
        n_blocks=8, k_codebook=16, n_iters=2,
    )


def q_similarity_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64→8 dims
    (similarity.jl_project): md5-derived plane family, zero-shuffle
    codegen projection, no materialized matrix; array rendered as
    ','-joined integer micros per the oracle convention."""
    from character_identification_spark.operators.similarity import jl_project

    e = _emb_double(spark, sf_dir).select("vec_id", "embedding")
    out = jl_project(e, dim_count=64, out_dim=8)
    return out.select(
        "vec_id",
        F.array_join(
            F.transform(
                F.col("proj"), lambda x: F.round(x * 1_000_000.0).cast("long")
            ),
            ",",
        ).alias("proj_micros"),
    )


def q_search_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (search.rrf_fuse,
    Cormack et al. 2009, k=60): BM25 lexical top-15 ⊕ exact-cosine
    semantic top-15 for query vector 0 (doc_id ≡ vec_id in the
    fixture), fused on integer micros so the final ranking is exact.
    Absent-from-list ranks surface as 0 (both engines coalesce)."""
    from character_identification_spark.operators.search import bm25_search, rrf_fuse

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    lex = bm25_search(docs, ["spark", "vector", "slow"], k=15)
    e = _emb_double(spark, sf_dir).select("vec_id", "embedding")
    queries = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sem = cosine_topk(e, queries, k=15, id_col="vec_id", vec_col="embedding").select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    out = rrf_fuse(lex, sem, k=60, top_k=10)
    return out.select(
        "doc_id",
        F.coalesce("rank_lexical", F.lit(0)).cast("long").alias("rank_lexical"),
        F.coalesce("rank_semantic", F.lit(0)).cast("long").alias("rank_semantic"),
        "rrf_micros",
        F.col("rank").cast("long").alias("rank"),
    )


def q_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (graph.label_propagation, Raghavan
    et al. 2007, 3 rounds, min-label tie-break) over the undirected kNN
    graph — all-integer rounds, so the unrolled-CTE oracle matches
    exactly where GraphX's run-dependent LPA could not."""
    from character_identification_spark.operators.graph import label_propagation

    e = _emb_double(spark, sf_dir).select("vec_id", "embedding")
    edges = knn_graph(e, k=5, n_planes=4, n_tables=2, multiprobe=True, max_bucket_size=32).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return label_propagation(edges, n_iters=3)


def q_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (cluster.kmeans_fit_predict, k=8, 3 rounds) over
    the embeddings table: md5-exemplar init, literal-inlined
    micros-quantized centroids (zero-shuffle assignment), one
    (cluster, slot)-keyed map-side-combined shuffle per update round.
    The oracle replays the identical integer-determined rounds as
    unrolled CTEs."""
    from character_identification_spark.operators.cluster import kmeans_fit_predict

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = kmeans_fit_predict(emb, k=8, n_iters=3)
    return out.withColumn("cluster", F.col("cluster").cast("long"))


def q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token estimate per lang (sketch.hll_distinct,
    Flajolet et al. 2007): 256 md5-derived registers, integer-exact
    harmonic sum scaled by 2^53, linear-counting small-range branch.
    One (lang, register)-keyed shuffle with map-side max — constant
    state per group at any corpus size; the ESTIMATE itself is
    value-checked against the DuckDB register replay."""
    from character_identification_spark.operators.sketch import hll_distinct

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return hll_distinct(docs)


def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates (sketch.cms_frequencies, Cormode &
    Muthukrishnan 2005): 4×1024 counters, min-over-rows probe readout
    for six in-vocabulary tokens plus one absent token (pins the
    0-count path). One shuffle onto ≤ 4096 keys; probe lookup is a
    broadcast join of the literal probe frame against the sketch."""
    from character_identification_spark.operators.sketch import cms_frequencies

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return cms_frequencies(
        docs, ("join", "hash", "row", "batch", "scan", "customer", "zzz_absent")
    )


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist filter (curation.blocklist_filter, Raffel et
    al. 2020's bad-words step): demo list {'slow','dup','spam'} — the
    first two exist in the fixture vocabulary so both hit and miss
    branches are pinned; the whole operator is one higher-order-filter
    projection."""
    from character_identification_spark.operators.curation import blocklist_filter

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return blocklist_filter(docs, ("slow", "dup", "spam"))


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-round BPE merge candidates at corpus scale
    (textstats.bpe_pair_counts, Sennrich et al. 2016): adjacent char
    pairs weighted by word frequency, top-20 by (count desc, pair)."""
    from character_identification_spark.operators.textstats import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_pair_counts(docs, top_k=20)


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (textstats.winnow_fingerprint, Schleimer
    et al. 2003 / MOSS): k=5 char grams, w=4 windows, min-hash per
    window, distinct-set count + XOR digest — zero-shuffle projection,
    md5-pure so the digest replays exactly in DuckDB."""
    from character_identification_spark.operators.textstats import (
        winnow_fingerprint,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_fingerprint(docs, k=5, w=4)


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: per user, did the event sequence contain
    view → click → purchase IN ORDER (with anything between)?
    Sequence test = regexp over the time-ordered event-type string
    (sort_array over (ts, event_id, type) structs keeps the order
    deterministic under ties) — one groupBy(user) shuffle, then a tiny
    global rollup; the standard sessionless funnel at any scale."""
    ev = _t(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    # delimiter-anchored steps: each event type must match a WHOLE '>'
    # token ('preview' must not satisfy the 'view' step) — (^|>) / (>|$)
    # anchors on both engines (Java regex here, RE2 in the DuckDB twin)
    step1 = F.col("path").rlike("(^|>)view(>|$)")
    step2 = F.col("path").rlike("(^|>)view>(.*>)?click(>|$)")
    step3 = F.col("path").rlike("(^|>)view>(.*>)?click>(.*>)?purchase(>|$)")
    return seq.agg(
        F.count("*").alias("n_users"),
        F.sum(step1.cast("long")).alias("n_view"),
        F.sum(step2.cast("long")).alias("n_view_click"),
        F.sum(step3.cast("long")).alias("n_view_click_purchase"),
    )


def q_events_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles of event value per type
    (Spark `percentile`, NOT the sketch-based percentile_approx — the
    exact form matches DuckDB's quantile_cont bit-for-bit after 6-dp
    rounding; at 100-TB scale swap in percentile_approx and keep this
    exact form as its small-sample oracle, the same exact/approx pairing
    the similarity family uses)."""
    ev = _t(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.5D, 0.9D, 0.99D))").alias("qs"),
        F.count("*").alias("n_events"),
    )
    return q.select(
        "event_type",
        F.round(F.element_at("qs", 1), 6).alias("p50"),
        F.round(F.element_at("qs", 2), 6).alias("p90"),
        F.round(F.element_at("qs", 3), 6).alias("p99"),
        "n_events",
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (Spark's session_window — the batch twin
    of the streaming session aggregation): per user, events closer than
    10 minutes chain into one session; end = last event + gap. The DuckDB
    twin is the classic gaps-and-islands lag/cumsum rewrite — identical
    values, which pins Spark's session semantics exactly."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (event_type → day → grand total) with
    grouping_id — the multi-level aggregate a metrics sink materializes
    in one pass instead of three separate groupBys."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", "ts").alias("day"), "value"
    )
    return (
        ev.rollup("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.grouping_id().alias("gid"),
        )
        .select("event_type", "day", "n_events", "sum_value", "gid")
    )


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path scalar extraction (the shredding step the reference does
    at ingest, SURVEY §2 S3, as a queryable scalar function)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-vocabulary scan with counts (SURVEY §2 A1 — the
    reference's corpus-wide speaker/POS/NER vocab collection)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return (
        d.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


def _lsh_bucket(first_plane: int = 0):
    """4-plane sign-LSH bucket of the ``embedding`` column, over planes
    first_plane..first_plane+3."""
    return sign_lsh_bucket(
        "embedding", F.size(F.col("embedding")), 4, first_plane=first_plane
    )


def q_similarity_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection bucket ids — value-level proof that the
    md5-derived hyperplanes (operators/similarity.plane_dot) are
    engine-independent pure functions."""
    return _emb_double(spark, sf_dir).select("vec_id", _lsh_bucket().alias("bucket"))


def _lsh_eval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster_id, entity): each embedding's 4-plane sign-LSH
    bucket as its auto cluster and its label as gold — the frame the
    B³, Blanc and linking-F1 evaluators score (DuckDB twin:
    oracles._EVAL_M)."""
    return _emb_double(spark, sf_dir).select(
        "vec_id",
        _lsh_bucket().alias("cluster_id"),
        F.col("label").cast("long").alias("entity"),
    )


def q_eval_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B³ evaluation operator (SURVEY §2 A6 / reference evaluators.py:34-58)
    scoring the 4-plane LSH bucketing against the embeddings' gold label —
    per-mention P = |gold∩auto|/|auto|, R = |gold∩auto|/|gold|, averaged."""
    m = _lsh_eval_frame(spark, sf_dir)
    cell = m.groupBy("cluster_id", "entity").agg(F.count("*").alias("ov"))
    csz = m.groupBy("cluster_id").agg(F.count("*").alias("cn"))
    esz = m.groupBy("entity").agg(F.count("*").alias("en"))
    per = (
        m.join(cell, ["cluster_id", "entity"])
        .join(csz, "cluster_id")
        .join(esz, "entity")
        .select(
            (F.col("ov") / F.col("cn")).alias("p"), (F.col("ov") / F.col("en")).alias("r")
        )
    )
    return per.agg(
        F.round(F.avg("p"), 6).alias("precision"),
        F.round(F.avg("r"), 6).alias("recall"),
    ).select(
        "precision",
        "recall",
        F.round(
            2 * F.col("precision") * F.col("recall")
            / (F.col("precision") + F.col("recall")),
            6,
        ).alias("f1"),
    )


def q_eval_blanc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Blanc — BOTH cells of the 2×2 link confusion (SURVEY §2 A6 /
    reference evaluators.py:61-132) — via pair-counting sufficient
    statistics: gold/auto/both coreferent-pair counts come from group
    sizes (Σ n·(n−1)/2), never from a materialized pair join, so the
    evaluator is three aggregations at any corpus size. Auto clustering =
    4-plane sign-LSH bucket, gold = embedding label (as eval_bcubed)."""
    m = _lsh_eval_frame(spark, sf_dir)
    pairs2 = lambda c: F.sum(F.col(c) * (F.col(c) - 1)).cast("long")  # noqa: E731
    # 2× pair counts (avoid /2 until the end: stays integral)
    both2 = (
        m.groupBy("cluster_id", "entity")
        .agg(F.count("*").alias("n"))
        .agg(pairs2("n").alias("b2"))
    )
    auto2 = m.groupBy("cluster_id").agg(F.count("*").alias("n")).agg(
        pairs2("n").alias("a2")
    )
    gold2 = m.groupBy("entity").agg(F.count("*").alias("n")).agg(
        pairs2("n").alias("g2")
    )
    tot2 = m.agg((F.count("*") * (F.count("*") - 1)).cast("long").alias("t2"))
    s = both2.crossJoin(auto2).crossJoin(gold2).crossJoin(tot2)
    b, a, gg, t = F.col("b2"), F.col("a2"), F.col("g2"), F.col("t2")
    rn = t - a - gg + b  # pairs non-coreferent in BOTH
    pc, rc = b / a.cast("double"), b / gg.cast("double")
    pn, rnn = rn / (t - a).cast("double"), rn / (t - gg).cast("double")
    fc = 2 * pc * rc / (pc + rc)
    fn = 2 * pn * rnn / (pn + rnn)
    return s.select(
        F.round(pc, 6).alias("p_coref"),
        F.round(rc, 6).alias("r_coref"),
        F.round(fc, 6).alias("f_coref"),
        F.round(pn, 6).alias("p_non"),
        F.round(rnn, 6).alias("r_non"),
        F.round(fn, 6).alias("f_non"),
        F.round((fc + fn) / 2, 6).alias("blanc"),
    )


def q_eval_linking_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linking micro/macro F1 (SURVEY §2 A6 / reference
    evaluators.py:158-206): per-label P/R/F1 rows plus the pooled
    '#macro#' row (the reference's macro evaluator pools correct/gold/
    auto counts across labels). The demo linker predicts each vector's
    label as the majority gold label of its sign-LSH bucket — a
    relational argmax, no model."""
    m = _lsh_eval_frame(spark, sf_dir)
    cell = m.groupBy("cluster_id", "entity").agg(F.count("*").alias("n"))
    maj = topk_per_group(
        cell, ["cluster_id"], [F.col("n").desc(), F.col("entity").asc()], 1
    ).select("cluster_id", F.col("entity").alias("pred"))
    pred = m.join(maj, "cluster_id").select("vec_id", "entity", "pred")
    gold_n = pred.groupBy("entity").agg(F.count("*").alias("gn"))
    pred_n = pred.groupBy("pred").agg(F.count("*").alias("an"))
    correct = (
        pred.filter(F.col("entity") == F.col("pred"))
        .groupBy("entity")
        .agg(F.count("*").alias("c"))
    )
    per = (
        gold_n.join(pred_n.withColumnRenamed("pred", "entity"), "entity", "left")
        .join(correct, "entity", "left")
        .select(
            F.col("entity").cast("string").alias("label"),
            F.coalesce("c", F.lit(0)).alias("c"),
            F.col("gn"),
            F.coalesce("an", F.lit(0)).alias("an"),
        )
    )
    p = F.when(F.col("an") > 0, F.col("c") / F.col("an")).otherwise(F.lit(0.0))
    r = F.when(F.col("gn") > 0, F.col("c") / F.col("gn")).otherwise(F.lit(0.0))
    f = F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0))
    rows = per.select(
        "label",
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round(f, 6).alias("f1"),
    )
    pooled = per.agg(
        F.sum("c").alias("c"), F.sum("gn").alias("gn"), F.sum("an").alias("an")
    )
    pp = F.col("c") / F.col("an")
    pr = F.col("c") / F.col("gn")
    macro = pooled.select(
        F.lit("#macro#").alias("label"),
        F.round(pp, 6).alias("precision"),
        F.round(pr, 6).alias("recall"),
        F.round(2 * pp * pr / (pp + pr), 6).alias("f1"),
    )
    return rows.unionByName(macro)


def q_eval_pairf1_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 multi-membership pairwise F1 (SURVEY §2 M5 + A6): every vector
    belongs to TWO clusters (two independent 4-plane sign-LSH bucketings —
    membership table a: planes 0-3, table b: planes 4-7); two vectors are
    predicted coreferent iff their membership SETS intersect (either table
    agrees), scored against gold = label equality. The set-intersection
    predicate is exactly what evaluation.pairf1.pairwise_f1_multi applies
    to plural mentions."""
    v = _emb_double(spark, sf_dir).select(
        F.col("vec_id"),
        F.col("label").cast("long").alias("label"),
        _lsh_bucket(first_plane=0).alias("b0"),
        _lsh_bucket(first_plane=4).alias("b1"),
    )
    a = v.select(
        F.col("vec_id").alias("id1"), F.col("label").alias("l1"),
        F.col("b0").alias("b0_1"), F.col("b1").alias("b1_1"),
    )
    b = v.select(
        F.col("vec_id").alias("id2"), F.col("label").alias("l2"),
        F.col("b0").alias("b0_2"), F.col("b1").alias("b1_2"),
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id1") < F.col("id2"))
        .select(
            ((F.col("b0_1") == F.col("b0_2")) | (F.col("b1_1") == F.col("b1_2"))).alias("pred"),
            (F.col("l1") == F.col("l2")).alias("gold"),
        )
    )
    agg = pairs.agg(
        F.sum(F.when(F.col("pred") & F.col("gold"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("gold"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("gold"), 1).otherwise(0)).alias("fn"),
    )
    return agg.select(
        "tp", "fp", "fn",
        F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6).alias("precision"),
        F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6).alias("recall"),
        F.round(
            2.0 * F.col("tp") / (2.0 * F.col("tp") + F.col("fp") + F.col("fn")), 6
        ).alias("f1"),
    )


def q_events_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor linking (SURVEY §2 S7): prev/next event per user via
    lag/lead — the reference's doubly-linked lists as window functions."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


# ===========================================================================
# Relational coverage (scan/filter/join/agg/window/anti-join) over TPC-H-ish
# ===========================================================================


def q_orders_split_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split routing (SURVEY §2 F7 — the reference's episode→trn/dev/tst
    partitioning) as a derived partition column + per-split counts."""
    o = _t(spark, sf_dir, "orders")
    split = (
        F.when(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"), "trn")
        .when(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"), "dev")
        .otherwise("tst")
    )
    return o.groupBy(split.alias("split")).agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


def q_events_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count rollup + row normalization (SURVEY §2 A5 — the reference's
    gender-count distribution): each user's event-type mix as shares."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    tot = ev.groupBy("user_id").agg(F.count("*").alias("total"))
    return per.join(tot, "user_id").select(
        "user_id",
        "event_type",
        "n",
        F.round(F.col("n") / F.col("total"), 6).alias("share"),
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecasting-revenue-change: pure scan-side conjunctive
    filter + one global agg — the canonical predicate-pushdown probe
    (every predicate reaches the parquet scan; decimal sums make the
    double revenue exact across engines)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        F.sum(
            (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping-priority (adapted to the generated schema —
    no shippriority column): top-10 unshipped-revenue orders for the
    BUILDING segment. Broadcast the filtered customer dim, one
    (orderkey, orderdate)-keyed agg, deterministic (revenue desc,
    orderkey) top-10 via TakeOrdered."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    j = l.join(
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    dec2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast("decimal(18,6)")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec2("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec2("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(
                F.sum(dec2("l_quantity")).cast("double") / F.count("*"), 6
            ).alias("avg_qty"),
            F.round(
                F.sum(dec2("l_extendedprice")).cast("double") / F.count("*"), 6
            ).alias("avg_price"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_order_enrich_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dimension joins (SURVEY §2 J4): fact × two broadcast dims."""
    orders = _t(spark, sf_dir, "orders")
    customer = F.broadcast(_t(spark, sf_dir, "customer"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .select("o_orderkey", "o_totalprice", "c_name", "n_name")
    )


def q_top_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group window (SURVEY §2 W5) generalized to top-3."""
    orders = _t(spark, sf_dir, "orders")
    return topk_per_group(
        orders, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], 3, "rk"
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rk")


def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction (bloom.bloom_semijoin_stats):
    high-balance customers (selective build side) compressed into a
    256-bit / 3-hash md5-pure Bloom filter that prunes the orders scan
    as a literal-array projection; the 1-row stats compare the pruned
    pass set against the exact broadcast semi-join — no false
    negatives by construction, the FP tail measured exactly."""
    from character_identification_spark.operators.bloom import bloom_semijoin_stats

    build = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9900)
    probe = _t(spark, sf_dir, "orders")
    return bloom_semijoin_stats(
        build, probe, "c_custkey", "o_custkey", m_bits=256, g=3
    )


def q_cust_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join singleton fill (SURVEY §2 J7/E2): customers with no
    pending ('P') order — the filter keeps the anti side non-empty."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ===========================================================================
# Multimodal plumbing + cluster embedding pooling
# ===========================================================================


def q_media_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frame_sample_plan(synthetic_media(spark, n=24), every_n=10)


def _micros_str(col):
    """array<floating> → ','-joined integer-micros string: the only float
    presentation that is format-identical across engines (no decimal
    rendering involved). round-then-cast so both engines round half away
    from zero on an exact integral double."""
    return F.array_join(
        F.transform(
            col,
            lambda x: F.round(x.cast("double") * 1e6, 0).cast("long").cast("string"),
        ),
        ",",
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = extract_media_features(synthetic_media(spark, n=24), decoder="fake")
    return out.select(
        "media_id", "kind", "n_bytes", "digest", _micros_str("features").alias("features")
    )


def q_cluster_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    clustered = _emb_double(spark, sf_dir).select(
        F.col("label").cast("long").alias("cluster_id"), "embedding"
    )
    pooled = pooled_cluster_embeddings(clustered, emb_col="embedding")
    return pooled.select(
        "cluster_id",
        _micros_str("emb_mean").alias("emb_mean"),
        _micros_str("emb_max").alias("emb_max"),
    )


# Registry ORDER is load-bearing: the driver's correctness sweep caps at
# the first 50 entries (tools/check_oracles.py documents the cap), so the
# rotation invariant is "every query driver-green within any two
# consecutive rounds". Round 6 window: the 38 entries CORRECTNESS_r05
# did NOT cover (they were round 5's tail; several are also the queries
# whose INTERNALS this optimization round reworked — er_*, minhash
# dedup, text_repetition), then the remaining round-6-touched entries
# (simhash fan-out, Bloom probe vectorization) and part of the round-5
# window as filler. The other 38 stay driver-green via CORRECTNESS_r05
# plus the regenerated CORRECTNESS_FULL.json.
QUERIES = {
    # --- not covered by CORRECTNESS_r05 (round-5 tail) --------------------
    "er_mentions": q_er_mentions,
    "er_blocking_sortkey": q_er_blocking_sortkey,
    "er_blocking_minhash": q_er_blocking_minhash,
    "er_candidate_pairs": q_er_candidate_pairs,
    "er_scored_pairs": q_er_scored_pairs,
    "er_scored_embedding": q_er_scored_embedding,
    "er_clusters": q_er_clusters,
    "er_entities": q_er_entities,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_pairs": q_dedup_minhash_pairs,
    "dedup_clusters": q_dedup_clusters,
    "dedup_spans": q_dedup_spans,
    "url_dedup": q_url_dedup,
    "text_repetition": q_text_repetition,
    "pii_scrub": q_pii_scrub,
    "dedup_keep_best": q_dedup_keep_best,
    "text_stats": q_text_stats,
    "text_language_id": q_text_language_id,
    "text_fingerprint": q_text_fingerprint,
    "text_token_counts": q_text_token_counts,
    "text_lm_score": q_text_lm_score,
    "events_json_props": q_events_json_props,
    "text_vocab": q_text_vocab,
    "eval_bcubed": q_eval_bcubed,
    "eval_blanc": q_eval_blanc,
    "eval_linking_f1": q_eval_linking_f1,
    "eval_pairf1_multi": q_eval_pairf1_multi,
    "asof_prev_event": q_asof_prev_event,
    "asof_join_events": q_asof_join_events,
    "events_tumbling": q_events_tumbling,
    "events_hopping": q_events_hopping,
    "events_quantiles": q_events_quantiles,
    "events_funnel": q_events_funnel,
    "quality_gate": q_quality_gate,
    "sample_stratified": q_sample_stratified,
    "mix_corpora": q_mix_corpora,
    "strip_common_chunks": q_strip_common_chunks,
    "domain_cap": q_domain_cap,
    # --- internals touched in round 6, not in the 38 above ----------------
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "bloom_semijoin": q_bloom_semijoin,
    "cluster_embeddings": q_cluster_embeddings,
    # --- filler from the round-5 window (slots 43-50) ---------------------
    "similarity_topk": q_similarity_topk,
    "tpch_q1": q_tpch_q1,
    "dsir_weights": q_dsir_weights,
    "decontaminate": q_decontaminate,
    "pack_sequences": q_pack_sequences,
    "dedup_embedding_pairs": q_dedup_embedding_pairs,
    "dedup_prefix_jaccard": q_dedup_prefix_jaccard,
    "dedup_ngram_jaccard_verify": q_dedup_ngram_jaccard_verify,
    # --- driver-green in round 5 (CORRECTNESS_r05 + FULL) -----------------
    "similarity_ann_multiprobe": q_similarity_ann_multiprobe,
    "dedup_semantic": q_dedup_semantic,
    "search_bm25": q_search_bm25,
    "chunk_documents": q_chunk_documents,
    "bpe_learn_merges": q_bpe_learn_merges,
    "similarity_knn_graph": q_similarity_knn_graph,
    "bpe_segment_counts": q_bpe_segment_counts,
    "graph_pagerank": q_graph_pagerank,
    "graph_triangles": q_graph_triangles,
    "sketch_hll": q_sketch_hll,
    "sketch_cms": q_sketch_cms,
    "cluster_kmeans": q_cluster_kmeans,
    "graph_communities": q_graph_communities,
    "search_hybrid": q_search_hybrid,
    "similarity_jl_project": q_similarity_jl_project,
    "cluster_pq_codes": q_cluster_pq_codes,
    "similarity_pq_topk": q_similarity_pq_topk,
    "similarity_ivfpq": q_similarity_ivfpq,
    "graph_bfs": q_graph_bfs,
    "cluster_kcenter": q_cluster_kcenter,
    "blocklist_filter": q_blocklist_filter,
    "bpe_pair_counts": q_bpe_pair_counts,
    "winnow_fingerprint": q_winnow_fingerprint,
    "events_sessions": q_events_sessions,
    "events_rollup": q_events_rollup,
    "events_neighbors": q_events_neighbors,
    "orders_split_routing": q_orders_split_routing,
    "events_type_share": q_events_type_share,
    "tpch_q3": q_tpch_q3,
    "tpch_q6": q_tpch_q6,
    "order_enrich_broadcast": q_order_enrich_broadcast,
    "top_orders_per_cust": q_top_orders_per_cust,
    "cust_no_orders": q_cust_no_orders,
    "media_frame_plan": q_media_frame_plan,
    "media_features": q_media_features,
    "similarity_ann": q_similarity_ann,
    "similarity_ivf": q_similarity_ivf,
    "similarity_lsh_buckets": q_similarity_lsh_buckets,
}
