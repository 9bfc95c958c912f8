"""Blocking-key generation: the O(n²) bound for pair generation.

The reference blocks on (episode, scene) — key = eid*100+sid, and no
mention pair ever crosses a block (reference: latest/system.py:46,
experiments/system.py:104-112). A web corpus has no scene structure, so
blocks come from the mention strings themselves, per the north rule:

  1. sort-key blocks  — normalized-name prefix (+ soundex phonetic key),
  2. MinHash-LSH      — banded min-hashes over character n-gram shingles,

union'd, so string-similar names land in ≥1 shared block with high
probability. Everything is expressed as DataFrame ops over md5-derived
hashes (see functions/hashing.py and functions/minhash.py): deterministic
across runs, partitions, and parallelism levels — unlike pyspark.ml's
MinHashLSH whose random hyperplanes depend on a driver RNG seed object.

Skew: a hot key ("ross geller" at celebrity scale) makes pair generation
quadratic in its block size. ``cap_block_sizes`` salts oversize blocks into
bounded sub-blocks deterministically; transitive clustering downstream
re-merges sub-blocks that share members through other blocks, and the salt
bound keeps the worst-case pairs per block at cap². This is the explicit
skew-handling the north rule names (AQE skew-join splits shuffle partitions
but cannot bound a quadratic self-join blow-up — only capping can).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from character_identification_spark.functions.minhash import minhash_bands


def sortkey_blocks(
    mentions: DataFrame,
    prefix_len: int = 4,
    families: tuple[str, ...] = ("prefix", "soundex", "init_last"),
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(mention_uid, norm) → (mention_uid, block_key[, *passthrough]) for
    prefix + phonetic keys. Cheap families catch typo'd tails and spelling
    variants; ``families`` selects which key families to emit;
    ``passthrough`` carries extra input columns through (so a downstream
    consumer that needs them skips a join back on mention_uid)."""
    known = {"prefix", "soundex", "init_last"}
    unknown = set(families) - known
    if unknown or not families:
        raise ValueError(
            f"sortkey_blocks families must be a non-empty subset of "
            f"{sorted(known)}; got {families!r}"
        )
    extra = [F.col(c) for c in passthrough]
    parts = []
    if "prefix" in families:
        parts.append(
            mentions.select(
                "mention_uid",
                F.concat(F.lit("sk:"), F.substring("norm", 1, prefix_len)).alias("block_key"),
                *extra,
            )
        )
    if "soundex" in families:
        parts.append(
            mentions.select(
                "mention_uid",
                F.concat(
                    F.lit("sx:"), F.soundex(F.split("norm", " ").getItem(0))
                ).alias("block_key"),
                *extra,
            )
        )
    # initial + last token ("r geller" ∧ "ross geller" → "il:r:geller"):
    # the deterministic bridge for initialed aliases, which MinHash only
    # catches probabilistically (J≈0.5 → a band hit ~80% of the time)
    if "init_last" in families:
        toks = F.split("norm", " ")
        parts.append(
            mentions.select(
                "mention_uid",
                F.concat(
                    F.lit("il:"),
                    F.substring(F.element_at(toks, 1), 1, 1),
                    F.lit(":"),
                    F.element_at(toks, -1),
                ).alias("block_key"),
                *extra,
            ).filter(F.size(toks) >= 2)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def char_shingles(col, n: int = 3):
    """Distinct character n-grams of a string column, JVM-side (no UDF):
    transform over an index sequence + substring."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
            lambda i: c.substr(i, F.lit(n)),
        )
    )


def minhash_lsh_blocks(
    mentions: DataFrame,
    n_gram: int = 3,
    num_hashes: int = 12,
    band_size: int = 2,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(mention_uid, norm) → (mention_uid, block_key) via banded MinHash.

    num_hashes/band_size bands; two names share a block iff some band of
    their minhash signatures agrees — probability 1-(1-j^r)^b for Jaccard j.
    Defaults (b=6, r=2) give ~0.96 hit rate at j=0.6, ~0.26 at j=0.3.

    The signatures are functions/minhash.minhash_bands over the name's
    distinct character n-grams (one md5 per shingle, a zero-shuffle
    projection); the only shuffle this family ever causes is downstream
    (cap), where one was already due. A NULL norm emits no key.
    """
    return minhash_bands(
        mentions,
        char_shingles("norm", n_gram),
        ("mention_uid", *passthrough),
        num_hashes,
        band_size,
    ).select(
        "mention_uid",
        F.concat(F.lit("mh:"), F.col("band"), F.lit(":"), F.col("band_sig")).alias(
            "block_key"
        ),
        *passthrough,
    )


def assign_blocks(
    mentions: DataFrame,
    prefix_len: int = 4,
    n_gram: int = 3,
    num_hashes: int = 12,
    band_size: int = 2,
    max_block_size: int | None = 200,
) -> DataFrame:
    """Union of all block families, capped. Output:
    (mention_uid, block_key).

    Input contract: one row per mention_uid. Under it, (mention_uid,
    block_key) duplicates are impossible — every family emits a distinct
    key prefix ('sk:' / 'sx:' / 'il:' / 'mh:<band>:') and at most one key
    per (mention, family/band) — so the union needs no dedup (round-6:
    the old dropDuplicates was a no-op paying a full (uid, key) shuffle).
    """
    keyed = mentions.select("mention_uid", "norm")
    assign = sortkey_blocks(keyed, prefix_len).unionByName(
        minhash_lsh_blocks(keyed, n_gram, num_hashes, band_size)
    )
    if max_block_size:
        assign = cap_block_sizes(assign, max_block_size)
    return assign


def cap_block_sizes(assign: DataFrame, max_block_size: int) -> DataFrame:
    """Deterministically salt-split blocks larger than max_block_size.

    Rows of an oversize block get `block_key#salt` with salt assigned
    round-robin over the block's rows ranked by mention_uid — every
    sub-block ends up ≤ max_block_size exactly, so per-task pair fan-out is
    strictly bounded by cap². Deterministic in the data (rank by uid),
    independent of physical partitioning — resume-safe. The window shuffles
    on block_key, the same key the size count needs anyway.
    """
    w = Window.partitionBy("block_key").orderBy("mention_uid")
    sized = assign.withColumn("rn", F.row_number().over(w)).withColumn(
        "bsz", F.count("*").over(Window.partitionBy("block_key"))
    )
    nsplit = F.ceil(F.col("bsz") / max_block_size)
    return (
        sized.withColumn(
            "block_key",
            F.when(
                F.col("bsz") <= max_block_size, F.col("block_key")
            ).otherwise(
                F.concat(
                    F.col("block_key"),
                    F.lit("#"),
                    F.pmod(F.col("rn") - 1, nsplit).cast("string"),
                )
            ),
        )
        .drop("rn", "bsz")
    )
