"""The shared MinHash family (functions/minhash.py): the Spark band
signatures and their DuckDB twin agree value for value, over character
and word shingles, including a NULL text, texts shorter than n, and
non-ASCII text."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from character_identification_spark.functions.minhash import (
    dd_minhash_bands,
    minhash_bands,
)
from character_identification_spark.operators.blocking import char_shingles
from character_identification_spark.operators.dedup import word_shingles

TEXTS = [
    (0, "ross geller"),
    (1, None),
    (2, "ab"),  # shorter than n in both units
    (3, "über straße café naïve 東京タワー"),
    (4, "the quick brown fox jumps over the lazy dog"),
    (5, "the quick brown fox jumps over the lazy hound"),
    (6, ""),
]

_TOKS = r"regexp_split_to_array(trim(text), '\s+')"
# DuckDB forms of blocking.char_shingles / dedup.word_shingles (n = 3),
# as the oracles write them
SHINGLERS = {
    "char": (
        lambda: char_shingles("text", 3),
        "list_distinct(list_transform(generate_series(1, greatest(len(text) - 2, 1)),"
        " i -> substr(text, i, 3)))",
    ),
    "word": (
        lambda: word_shingles("text", 3),
        f"list_distinct(list_transform(generate_series(1, greatest(len({_TOKS}) - 2, 1)),"
        f" i -> array_to_string(list_slice({_TOKS}, i, i + 2), ' ')))",
    ),
}


@pytest.mark.parametrize("unit", sorted(SHINGLERS))
@pytest.mark.parametrize("num_hashes,band_size", [(8, 2), (16, 2), (5, 2)])
def test_band_signatures_match_duckdb(spark, unit, num_hashes, band_size):
    spark_sh, dd_sh = SHINGLERS[unit]
    df = spark.createDataFrame(TEXTS, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["band"], r["band_sig"])
        for r in minhash_bands(df, spark_sh(), ["doc_id"], num_hashes, band_size).collect()
    )
    con = duckdb.connect()
    con.register("texts", pd.DataFrame(TEXTS, columns=["doc_id", "text"]))
    exp = sorted(
        con.sql(dd_minhash_bands("texts", dd_sh, ["doc_id"], num_hashes, band_size)).fetchall()
    )
    assert got == exp
    n_bands = -(-num_hashes // band_size)
    # every non-NULL text gets every band; the NULL text gets none
    assert len(got) == (len(TEXTS) - 1) * n_bands
    assert 1 not in {d for d, _, _ in got}
    # the last band of an uneven split holds the remainder
    assert all(
        s.count(",") == (band_size if b < n_bands - 1 else num_hashes - b * band_size) - 1
        for _, b, s in got
    )
