"""Banded MinHash signatures over shingle sets, in Spark and in DuckDB.

One family serves both MinHash callers: name blocking
(operators/blocking.minhash_lsh_blocks, character n-grams) and document
near-duplicate detection (operators/dedup.minhash_dup_pairs, word
n-grams). Each shingle hashes ONCE, h = h_long(s) mod P (60-bit md5
prefix, functions/hashing.py); seed i's minhash is the minimum over the
shingles of the universal rescoring (a_i·h + b_i) mod P — the classic
Broder/Carter-Wegman construction. P = 2^31-1 (Mersenne) keeps every
product under 2^62, so the arithmetic is exact and ANSI-overflow-free in
both engines. Band b's signature is its band_size minhashes, in seed
order, joined by ','. Band-hit statistics are those of any universal
family: two sets of Jaccard j share some band with probability
1-(1-j^r)^b.

``minhash_bands`` is the Spark form and ``dd_minhash_bands`` its DuckDB
twin; both inline the same md5-pure (a_i, b_i) literals, so the oracles
replay the engine's band signatures value for value.
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from character_identification_spark.functions.hashing import dd_h_long, h_long

MINHASH_P = (1 << 31) - 1


def minhash_coefficients(num_hashes: int) -> tuple[list[int], list[int]]:
    """(a_i, b_i) for the universal family, md5-pure in the seed index
    (a ∈ [1, P-1], b ∈ [0, P-1])."""

    def _c(tag: str, i: int) -> int:
        return int(hashlib.md5(f"{tag}|{i}".encode()).hexdigest()[:15], 16)

    a = [_c("mh_a", i) % (MINHASH_P - 1) + 1 for i in range(num_hashes)]
    b = [_c("mh_b", i) % MINHASH_P for i in range(num_hashes)]
    return a, b


def _bands(mins: list, band_size: int) -> list[list]:
    return [mins[i : i + band_size] for i in range(0, len(mins), band_size)]


def minhash_bands(
    df: DataFrame,
    shingles: Column,
    keep: Sequence[str],
    num_hashes: int,
    band_size: int,
) -> DataFrame:
    """df → (*keep, band, band_sig): one row per band of the minhash
    signature of the ``shingles`` array column.

    A ZERO-SHUFFLE whole-stage-codegen projection: the md5 base array
    ``hb`` is a named column, so it is computed once rather than
    re-inlined into all num_hashes rescorings (CollapseProject keeps
    multi-use non-trivial expressions un-collapsed); each seed's minhash
    is an array_min over a cheap integer transform of it, and
    posexplode emits the bands. A row whose shingles are all NULL (what
    either shingler gives a NULL text) has NULL minhashes and emits no
    band, in both engines.
    """
    a_co, b_co = minhash_coefficients(num_hashes)

    def _rescore(a: int, b: int):
        # closure factory: a two-param lambda would receive the array
        # INDEX as its second argument
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)

    mins = [
        F.array_min(F.transform(F.col("hb"), _rescore(a, b))).cast("string")
        for a, b in zip(a_co, b_co)
    ]
    # concat, not concat_ws: a NULL minhash must make the band NULL (as
    # DuckDB's || does), not drop out of the joined string
    sigs = F.array(
        *[
            F.concat(*[p for m in band for p in (F.lit(","), m)][1:])
            for band in _bands(mins, band_size)
        ]
    )
    return (
        df.select(*keep, F.transform(shingles, lambda s: h_long(s) % MINHASH_P).alias("hb"))
        .select(*keep, F.posexplode(sigs).alias("band", "band_sig"))
        .filter(F.col("band_sig").isNotNull())
    )


def dd_minhash_bands(
    src: str,
    shingles: str,
    keep: Sequence[str],
    num_hashes: int,
    band_size: int,
) -> str:
    """DuckDB twin of ``minhash_bands``: a SELECT over the relation
    ``src`` yielding (*keep, band, band_sig), where ``shingles`` is a SQL
    list expression over ``src``'s columns."""
    a_co, b_co = minhash_coefficients(num_hashes)
    mins = [
        f"CAST(list_min(list_transform(hb, h -> ({a} * h + {b}) % {MINHASH_P})) AS VARCHAR)"
        for a, b in zip(a_co, b_co)
    ]
    bands = _bands(mins, band_size)
    sigs = ",\n         ".join(" || ',' || ".join(band) for band in bands)
    cols = "".join(f"{c}, " for c in keep)
    return f"""
SELECT * FROM (
  SELECT {cols}unnest(range({len(bands)})) AS band,
         unnest([{sigs}]) AS band_sig
  FROM (SELECT {cols}list_transform({shingles},
          s -> {dd_h_long('s')} % {MINHASH_P}) AS hb FROM {src})
) WHERE band_sig IS NOT NULL"""
