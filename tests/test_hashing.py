"""Hashing primitives: determinism + exact DuckDB-oracle parity (the
foundation of every value-hash correctness check)."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from character_identification_spark.functions.hashing import (
    dd_h_hex,
    dd_h_long,
    h_hex,
    h_long,
)
from character_identification_spark.functions.minhash import (
    MINHASH_P,
    minhash_coefficients,
)

WORDS = ["ross geller", "r. geller", "", "ümlaut", "a|b#c", "12345"]


def test_h_hex_matches_duckdb(spark):
    df = spark.createDataFrame([(w,) for w in WORDS], "w string")
    got = {r["w"]: r["h"] for r in df.select("w", h_hex("w").alias("h")).collect()}
    for w in WORDS:
        (exp,) = duckdb.sql(
            f"select {dd_h_hex('?')}", params=[w]
        ).fetchone()
        assert got[w] == exp, w


def test_h_long_matches_duckdb_and_is_nonnegative(spark):
    df = spark.createDataFrame([(w,) for w in WORDS], "w string")
    got = {r["w"]: r["h"] for r in df.select("w", h_long("w").alias("h")).collect()}
    for w in WORDS:
        (exp,) = duckdb.sql(f"select {dd_h_long('?')}", params=[w]).fetchone()
        assert got[w] == exp, w
        assert got[w] >= 0


def test_minhash_coefficients_distinct_and_in_range():
    # 16 distinct members of the universal family (a·h + b) mod P
    a, b = minhash_coefficients(16)
    assert len(set(zip(a, b))) == 16
    assert all(1 <= x <= MINHASH_P - 1 for x in a)
    assert all(0 <= x <= MINHASH_P - 1 for x in b)
    assert minhash_coefficients(4) == (a[:4], b[:4])  # prefix-stable


def test_hex_orders_as_numeric(spark):
    # fixed-width lowercase hex sorts lexicographically == numerically:
    # min() over hex strings is a valid MinHash
    df = spark.createDataFrame([(w,) for w in WORDS if w], "w string")
    rows = df.select(h_hex("w").alias("x"), h_long("w").alias("n")).collect()
    by_hex = sorted(rows, key=lambda r: r["x"])
    by_num = sorted(rows, key=lambda r: r["n"])
    assert [r["x"] for r in by_hex] == [r["x"] for r in by_num]
