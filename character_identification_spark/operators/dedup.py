"""Document deduplication operators for training-data pipelines.

Five families over a ``documents(doc_id, text)``-shaped table, all
expressed Spark-first and (where value-level oracle checks make sense)
computable identically in DuckDB via the md5 primitives in
functions/hashing.py:

  exact_dedup        md5-digest groupBy — byte-level duplicates
  minhash_dup_pairs  banded MinHash over word shingles (functions/
                     minhash.py) → capped LSH candidate pairs +
                     exact-Jaccard verification
  simhash            60-bit SimHash (bit votes over hashed tokens)
  simhash_dup_pairs  Hamming-distance candidates via band equality
  embedding_dup_pairs cosine near-dup over an embedding column

They generalize the ER pipeline's blocking machinery (operators/blocking.py)
from person-name mentions to whole documents — the reference's
scene-blocking idea (reference: latest/system.py:46) applied to content
dedup. MinHash signatures are a zero-shuffle projection, O(num_hashes)
per doc; band buckets are capped the same way mention blocks are
(cap_block_sizes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from character_identification_spark.functions.hashing import h_long
from character_identification_spark.functions.minhash import minhash_bands
from character_identification_spark.functions.partitioning import fan_out
from character_identification_spark.functions.vectors import (
    cosine_ranked,
    cosine_sim,
    md5_exemplars,
)
from character_identification_spark.operators.blocking import cap_block_sizes
from character_identification_spark.session import materialize

SIMHASH_BITS = 60  # fits a signed 64-bit long; 15 hex digits of md5


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """→ (doc_id, digest, group_size, canonical_id, is_duplicate).

    canonical = min doc_id per digest (deterministic); is_duplicate marks
    rows a dedup pass would drop. One groupBy shuffle on the digest —
    map-side partial aggregation applies, no skew (digests are uniform).
    """
    d = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
    groups = d.groupBy("digest").agg(
        F.count("*").alias("group_size"), F.min(id_col).alias("canonical_id")
    )
    return d.join(groups, "digest").select(
        id_col,
        "digest",
        "group_size",
        "canonical_id",
        (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
    )


# --------------------------------------------------------------------------
# shingles + MinHash
# --------------------------------------------------------------------------

def word_shingles(col, n: int = 3):
    """Distinct word n-grams of a text column, JVM-side: split → slide an
    index window with transform — no UDF."""
    toks = F.split(F.trim(col if not isinstance(col, str) else F.col(col)), r"\s+")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )


def _doc_shingles(docs: DataFrame, id_col: str, text_col: str, n_gram: int) -> DataFrame:
    """→ (doc_id, shingles): each doc's distinct word n-grams."""
    # the shingle md5s downstream are the dominant per-row cost; a tiny
    # input (one file split) would run them on one task — fan out first
    return fan_out(docs, id_col).select(
        F.col(id_col), word_shingles(text_col, n_gram).alias("shingles")
    )


def _doc_buckets(
    sh: DataFrame,
    id_col: str,
    num_hashes: int,
    band_size: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """(doc_id, shingles) → (doc_id, bucket): one '<band>:<sig>' LSH
    bucket per band of the doc's MinHash (functions/minhash.minhash_bands
    — a zero-shuffle projection, one md5 per shingle), oversize buckets
    salt-split by cap_block_sizes. NULL-text docs get no bucket."""
    bands = minhash_bands(sh, F.col("shingles"), [id_col], num_hashes, band_size)
    # cap_block_sizes speaks (mention_uid, block_key)
    buckets = bands.select(
        F.col(id_col).alias("mention_uid"),
        F.concat(F.col("band"), F.lit(":"), F.col("band_sig")).alias("block_key"),
    )
    if max_bucket_size:
        buckets = cap_block_sizes(buckets, max_bucket_size)
    return buckets.select(
        F.col("mention_uid").alias(id_col), F.col("block_key").alias("bucket")
    )


def minhash_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_gram: int = 3,
    num_hashes: int = 16,
    band_size: int = 2,
    jaccard_threshold: float = 0.7,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """LSH candidates + exact shingle-Jaccard verify →
    (id1, id2, jaccard, is_dup). Candidates are doc pairs sharing a
    (capped) band bucket; the verify join carries each doc's distinct
    shingle array once. The default r=2 over 16 hashes gives 8 bands:
    band-hit probability at Jaccard 0.7 is 1-(1-0.49)^8 ≈ 0.995 (r=4
    would miss ~1/3 of J=0.7 pairs)."""
    # the bands and both verify sides read the shingles: compute them once
    sh = materialize(_doc_shingles(docs, id_col, text_col, n_gram))
    buckets = _doc_buckets(sh, id_col, num_hashes, band_size, max_bucket_size)
    a = buckets.select(F.col("bucket"), F.col(id_col).alias("id1"))
    b = buckets.select(F.col("bucket"), F.col(id_col).alias("id2"))
    cand = (
        a.join(b, "bucket")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    verified = (
        cand.join(sh.select(F.col(id_col).alias("id1"), F.col("shingles").alias("sh1")), "id1")
        .join(sh.select(F.col(id_col).alias("id2"), F.col("shingles").alias("sh2")), "id2")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh1", "sh2"))
            / F.size(F.array_union("sh1", "sh2")).cast("double"),
        )
        .drop("sh1", "sh2")
    )
    return verified.withColumn("is_dup", F.col("jaccard") >= jaccard_threshold)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    impl: str = "numpy",
) -> DataFrame:
    """→ (doc_id, simhash long): classic bit-vote SimHash over whitespace
    tokens, each token hashed to a 60-bit md5-derived integer, weighted by
    its occurrence count.

    Two bit-identical implementations (property-tested equal,
    tests/test_dedup.py):

      impl='numpy'       DEFAULT scale path — one Arrow batch in/out per
                         partition (mapInPandas). Per batch: tokenize +
                         count in Python (inherent), md5 once per UNIQUE
                         token (cached across batches), then a vectorized
                         (entries × bits) bit-unpack matrix and a
                         segmented sum (np.add.at) produce every doc's
                         votes at once — no per-token Python in the vote
                         path. No shuffle at all (the relational form
                         shuffles twice), no row blowup.
      impl='relational'  explode tokens → explode bit positions → two
                         aggregations; 60×|tokens| intermediate rows.
                         This is the DuckDB-oracle twin and the
                         readable spec of the semantics.

    Both are pure functions of the text (md5 token hashes), so the oracle
    checks the numpy path value-for-value against the SQL form.
    """
    if impl == "relational":
        return _simhash_relational(docs, id_col, text_col, bits)
    if impl != "numpy":
        raise ValueError(f"impl must be 'numpy' or 'relational'; got {impl!r}")

    import hashlib
    import re
    from collections import Counter
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    shifts = np.arange(bits, dtype=np.uint64)
    powers = (np.uint64(1) << shifts).astype(np.int64)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hash_cache: dict[str, int] = {}
        for pdf in batches:
            ids: list = []
            doc_idx: list[int] = []
            toks: list[str] = []
            ws: list[int] = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:  # relational twin drops null text (explode)
                    continue
                # token rule matches F.split(F.trim(text), r"\s+"):
                # empty/whitespace-only text yields one '' token
                counts = Counter(re.split(r"\s+", text.strip()))
                d = len(ids)
                ids.append(did)
                for tok, w in counts.items():
                    doc_idx.append(d)
                    toks.append(tok)
                    ws.append(w)
            if not ids:
                continue
            # md5 once per unique token (cache shared across batches);
            # everything after this point is vectorized numpy
            for tok in set(toks):
                if tok not in hash_cache:
                    hash_cache[tok] = int(
                        hashlib.md5(tok.encode()).hexdigest()[:15], 16
                    )
            th_arr = np.fromiter(
                (hash_cache[t] for t in toks), dtype=np.uint64, count=len(toks)
            )
            # (entries × bits) sign matrix, weighted, segment-summed per doc
            bitm = ((th_arr[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            signed = (2 * bitm - 1) * np.asarray(ws, dtype=np.int64)[:, None]
            votes = np.zeros((len(ids), bits), dtype=np.int64)
            np.add.at(votes, np.asarray(doc_idx, dtype=np.int64), signed)
            hashes = (powers[None, :] * (votes > 0)).sum(axis=1)
            yield pd.DataFrame(
                {id_col: pd.Series(ids),
                 "simhash": pd.Series(hashes, dtype="int64")}
            )

    # preserve the caller's id type (string/int/long ids all valid) —
    # the relational twin does so implicitly, the contract must match
    id_type = docs.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, simhash long"
    # tokenize+md5+vote is per-row heavy: spread a tiny input (one file
    # split) across the cluster before the batch UDF
    return fan_out(docs.select(id_col, text_col), id_col).mapInPandas(fn, schema)


def _simhash_relational(
    docs: DataFrame, id_col: str, text_col: str, bits: int
) -> DataFrame:
    toks = (
        docs.select(
            F.col(id_col), F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok")
        )
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("w"))
        .withColumn("th", h_long("tok"))
    )
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    votes = (
        toks.select(id_col, "th", "w", bit)
        .withColumn(
            # SQL form: python F.shiftright only takes a literal shift
            "vote",
            F.when(
                F.expr("shiftright(th, bit) & 1") == 1, F.col("w")
            ).otherwise(-F.col("w")),
        )
        .groupBy(id_col, "bit")
        .agg(F.sum("vote").alias("v"))
    )
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(1L, bit)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )


def simhash_dup_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """→ (id1, id2, hamming, is_dup). Pigeonhole LSH: split the simhash
    into n_bands bit-bands; any pair within Hamming ≤ n_bands-1 agrees on
    ≥1 band, so band-equality equi-joins find all such pairs without an n²
    scan. Verify with bit_count(xor)."""
    width = bits // n_bands
    mask = (1 << width) - 1
    bands = hashes.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = bands.select("band", "key", F.col(id_col).alias("id1"), F.col("simhash").alias("h1"))
    b = bands.select("band", "key", F.col(id_col).alias("id2"), F.col("simhash").alias("h2"))
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).alias("hamming"))
        .distinct()
        .withColumn("is_dup", F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# embedding near-dup
# --------------------------------------------------------------------------

def embedding_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
) -> DataFrame:
    """→ (id1, id2, cos_sim, is_dup): cosine near-duplicates.

    DEFAULT is the scale path (n_planes=8): sign-LSH bucketing first —
    only pairs agreeing on every hyperplane sign are compared, planes
    drawn deterministically from md5 (operators/similarity.py), so the
    bucket join replaces the cross product AND stays value-level
    oracle-checkable. n_planes=0 → exact all-pairs: the verification /
    recall-oracle variant, O(n²), only sane on small inputs."""
    base = emb.select(F.col(id_col), F.col(vec_col))
    if n_planes:
        from character_identification_spark.operators.similarity import sign_lsh_bucket

        base = base.withColumn("bucket", sign_lsh_bucket(vec_col, F.size(F.col(vec_col)), n_planes))
        join_keys = ["bucket"]
        a = base.select("bucket", F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"))
        b = base.select("bucket", F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"))
    else:
        join_keys = ["one"]
        a = base.select(F.lit(1).alias("one"), F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"))
        b = base.select(F.lit(1).alias("one"), F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"))
    return (
        a.join(b, join_keys)
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("cos_sim", cosine_sim("v1", "v2"))
        .select("id1", "id2", "cos_sim")
        .dropDuplicates(["id1", "id2"])
        .withColumn("is_dup", F.col("cos_sim") >= threshold)
    )


def dedup_clusters(pairs: DataFrame, docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Duplicate pairs → transitive dup groups via the same connected-
    components core the ER pipeline uses → (doc_id, dup_group, keep)
    where keep marks the minimum id of each group."""
    from character_identification_spark.operators.cc import connected_components

    edges = pairs.filter(F.col("is_dup")).select(
        F.col("id1").alias("u"), F.col("id2").alias("v")
    )
    assign = connected_components(edges)
    return (
        docs.select(F.col(id_col))
        .join(assign.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn("dup_group", F.coalesce(F.col("component"), F.col(id_col)))
        .drop("component")
        .withColumn("keep", F.col(id_col) == F.col("dup_group"))
    )


def prefix_jaccard_pairs(
    docs: DataFrame,
    tau: float = 0.7,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """→ (id1, id2, jaccard): EXACT set-similarity join at threshold tau
    via prefix filtering (SSJoin / PPJoin family, Chaudhuri et al. 2006;
    Xiao et al. 2008) — the exact counterpart to minhash_dup_pairs: no
    candidate with Jaccard ≥ tau is ever missed (guarantee, not
    probability), yet the corpus never self-joins on full token sets.

    Prefix principle: order every document's shingles by the GLOBAL
    canonical order (frequency asc, shingle asc — rarest first) and keep
    only the first |s| − ⌈tau·|s|⌉ + 1 per document; two sets with
    Jaccard ≥ tau MUST collide on at least one prefix token, so the
    candidate join runs on prefixes only and exact Jaccard verifies the
    survivors. Rarest-first ordering makes prefix tokens low-frequency —
    candidate lists stay short exactly where a frequency-ordered join
    would explode.

    Scale shape: one corpus-keyed agg (per-doc ordered shingles), one
    vocabulary-keyed agg (frequencies, map-side combined), the candidate
    join keyed on rare prefix tokens, verification only on candidate
    pairs. Completeness vs brute force is property-tested; the DuckDB
    twin replays the identical order, prefixes, and pairs.
    """
    sh = docs.select(
        F.col(id_col).alias("doc_id"), word_shingles(text_col, n).alias("sh")
    )
    tok = sh.select("doc_id", F.explode("sh").alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("f"))
    ordered = (
        tok.join(freq, "t")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("f"), F.col("t")))),
                lambda s: s["t"],
            ).alias("ord"),
            F.count(F.lit(1)).alias("sz"),
        )
    )
    plen = (
        F.col("sz") - F.ceil(F.col("sz") * F.lit(float(tau))).cast("int") + 1
    ).cast("int")
    pref = ordered.select(
        "doc_id", F.explode(F.slice(F.col("ord"), F.lit(1), plen)).alias("t")
    )
    cand = (
        pref.select(F.col("doc_id").alias("id1"), "t")
        .join(pref.select(F.col("doc_id").alias("id2"), "t"), "t")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    return (
        cand.join(sh.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1")), "id1")
        .join(sh.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2")), "id2")
        .select(
            "id1",
            "id2",
            (
                F.size(F.array_intersect("sh1", "sh2"))
                / F.size(F.array_union("sh1", "sh2")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= tau)
    )


def duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact SUBSTRING dedup — the span-level primitive of Lee et al.'s
    "Deduplicating Training Data Makes Language Models Better" (ACL '22,
    public): any k-token window whose md5-hash occurs in ≥ min_docs
    distinct documents marks a duplicated span; per document, overlapping
    duplicated windows merge into MAXIMAL spans (gaps-and-islands over
    window starts). Doc-level dedup (exact/MinHash/SimHash families
    above) misses boilerplate shared across otherwise-distinct pages —
    this catches it at token granularity.

    → (doc_id, span_start, span_end, n_windows, max_share) with
    [span_start, span_end) token offsets, n_windows = merged window
    count, max_share = the widest cross-document spread among the
    span's windows.

    Dataflow at scale: the window explode is map-side (k-token slices of
    the token array, one 60-bit md5 hash each — no string blowup past the
    hash), the duplicate test is ONE groupBy on an 8-byte uniform key,
    membership returns via a semi-shaped hash join, and the island merge
    is a per-document window over only the DUPLICATED windows (bounded by
    doc length). At 100 TB the hash groupBy shuffles |tokens| rows of
    (long, id) — the same order of work as the MinHash signature pass —
    and hot windows (ubiquitous boilerplate) skew only the count agg,
    which is a partial-aggregated sum, not a row explosion."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    starts = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>")
    )
    win = docs.select(
        F.col(id_col),
        F.explode(starts).alias("start"),
        toks.alias("_toks"),
    ).select(
        id_col,
        "start",
        h_long(F.array_join(F.slice("_toks", F.col("start") + 1, k), " ")).alias(
            "h"
        ),
    )
    shared = (
        win.groupBy("h")
        .agg(F.count_distinct(id_col).alias("share"))
        .filter(F.col("share") >= min_docs)
    )
    dup = win.join(shared, "h")
    w = Window.partitionBy(id_col).orderBy("start")
    prev_max_end = F.max(F.col("start") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = dup.withColumn(
        "new_span",
        F.when(F.col("start") > F.coalesce(prev_max_end, F.lit(-1)), 1).otherwise(0),
    ).withColumn(
        "span_id",
        F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(id_col, "span_id")
        .agg(
            F.min("start").alias("span_start"),
            (F.max("start") + k).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
            F.max("share").alias("max_share"),
        )
        .drop("span_id")
    )


def decontaminate(
    docs: DataFrame,
    probes: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark DECONTAMINATION: flag corpus documents that share any
    verbatim k-token window with a probe set (eval/benchmark texts) —
    the standard n-gram-overlap decontamination step of public LLM data
    pipelines (e.g. GPT-3 appendix C / Dolma's paragraph-ngram variant),
    re-expressed as the span-dedup window hash against a probe-side hash
    set.

    → (doc_id, contaminated, n_hits) for EVERY corpus document, n_hits =
    number of distinct probe-matching windows.

    Scale shape: the probe n-gram hash set is benchmark-sized (thousands
    of docs, ≪ corpus), so the membership test is a BROADCAST left-semi-
    shaped join against the corpus windows — the corpus is scanned once,
    nothing corpus-sized shuffles."""
    def windows(df):
        toks = F.split(F.trim(F.col(text_col)), r"\s+")
        n = F.size(toks)
        starts = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
            F.array().cast("array<int>")
        )
        return df.select(
            F.col(id_col), F.explode(starts).alias("start"), toks.alias("_t")
        ).select(
            id_col,
            h_long(
                F.array_join(F.slice("_t", F.col("start") + 1, k), " ")
            ).alias("h"),
        )

    probe_h = windows(probes).select("h").distinct()
    hits = (
        windows(docs)
        .join(F.broadcast(probe_h), "h")
        .groupBy(id_col)
        .agg(F.count_distinct("h").alias("n_hits"))
    )
    return docs.select(id_col).join(hits, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_hits") > 0, F.lit(False)).alias("contaminated"),
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    tau: float = 0.35,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the corpus with a coarse quantizer, compare vectors only WITHIN their
    cluster, and drop any vector whose cluster has a lower-id member with
    cosine similarity above ``tau`` — the deterministic analog of
    SemDeDup's keep-one-per-similar-group rule (lowest id ≡ the fixed
    representative; the paper keeps a random one).

    → (vec_id, cid, keep)  — every input row, keep=false for semantic dups.

    Dataflow (scale path): the codebook is the same md5-exemplar
    construction as ivf_topk — n_centroids deterministic rows
    (vectors.md5_exemplars) entering the plan as one literal per
    centroid, so cluster assignment is a zero-shuffle JVM projection
    (vectors.nearest_centroids: one HOF argmax by (−cosine, cid), a
    zero-norm side last). An empty corpus gives zero rows. The only
    shuffle is the within-cluster self-join on cid. Per-cluster
    cost is (N/n_centroids)² — at real scale n_centroids grows with the
    corpus (SemDeDup uses ~100k clusters for LAION-scale) so the
    quadratic term stays bounded; the all-pairs cross product never
    happens. Everything is md5-pure → the DuckDB oracle replays the
    identical codebook, assignment, and drop set value-for-value.
    """
    base = emb.select(F.col(id_col), F.col(vec_col))
    ranked = cosine_ranked(
        vec_col, md5_exemplars(base, id_col, n_centroids, id_col, vec_col)
    )
    assigned = base.select(
        F.col(id_col), F.col(vec_col), F.element_at(ranked, 1)["id"].alias("cid")
    )
    a = assigned.select("cid", F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va"))
    b = assigned.select("cid", F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb"))
    dropped = (
        a.join(b, "cid")
        .filter(F.col("_idb") < F.col("_ida"))
        .filter(cosine_sim("_va", "_vb") > tau)
        .select(F.col("_ida").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(
            dropped.withColumn("_drop", F.lit(True)), id_col, "left"
        )
        .select(
            id_col, "cid", F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep")
        )
    )
