"""String similarity functions: known values + DuckDB parity for
Jaro-Winkler, and normalization."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from character_identification_spark.functions.strings import (
    jaro_winkler,
    jaro_winkler_udf,
    norm_text,
)

PAIRS = [
    ("ross geller", "ross geller"),
    ("ross geller", "ross gellar"),
    ("martha", "marhta"),
    ("dixon", "dicksonx"),
    ("", "abc"),
    ("", ""),
    ("a", "a"),
    ("monica", "phoebe"),
]


@pytest.mark.parametrize("a,b", PAIRS)
def test_jaro_winkler_matches_duckdb(a, b):
    (exp,) = duckdb.sql(
        "select jaro_winkler_similarity(?, ?)", params=[a, b]
    ).fetchone()
    assert jaro_winkler(a, b) == pytest.approx(exp, abs=1e-9)


def test_jaro_winkler_udf_batch(spark):
    df = spark.createDataFrame(PAIRS, "a string, b string")
    rows = df.select("a", "b", jaro_winkler_udf("a", "b").alias("jw")).collect()
    for r in rows:
        assert r["jw"] == pytest.approx(jaro_winkler(r["a"], r["b"]), abs=1e-9)


def test_norm_text(spark):
    df = spark.createDataFrame(
        [("  Ross GELLER!! ",), ("J.R.R.  Tolkien",), ("---",)], "s string"
    )
    out = [r["n"] for r in df.select(norm_text("s").alias("n")).collect()]
    assert out == ["ross geller", "j r r tolkien", ""]


def test_jw_udf_bucketing_matches_scalar(spark):
    """The UDF's per-length-bucket evaluation must be value-identical to
    the scalar reference on a batch that spans every bucket boundary,
    including a >48-char pair, boundary-exact lengths, duplicates (the
    factorize path), empties, and NULLs."""
    pairs = [
        ("ab", "ba"),
        ("a" * 8, "a" * 7 + "b"),
        ("rossgeller", "rossgellar"),          # ≤12
        ("a" * 12 + "xyz", "a" * 12 + "xzy"),  # ≤16
        ("chandler kingsley", "charlie kingsley"),
        ("a" * 24, "a" * 23 + "q"),            # boundary 24
        ("wilhelmina vanderbilt-rockefeller", "wilhelmina vanderbilt rockefeler"),
        ("b" * 47 + "z", "b" * 48),            # ≤48
        ("c" * 63, "c" * 62 + "d"),            # ≤64
        ("", "abc"),
        ("", ""),
        ("rossgeller", "rossgellar"),          # duplicate of an earlier pair
        (None, "x"),
    ]
    df = spark.createDataFrame(pairs, "a string, b string")
    rows = df.select("a", "b", jaro_winkler_udf("a", "b").alias("jw")).collect()
    for r in rows:
        if r["a"] is None or r["b"] is None:
            assert r["jw"] is None
        else:
            assert r["jw"] == pytest.approx(jaro_winkler(r["a"], r["b"]), abs=0), (
                r["a"], r["b"])


def test_jw_udf_scalar_fallback_only_for_offending_rows(monkeypatch):
    """A batch mixing ascii ≤64-char pairs with non-ascii and >64-char
    ones: the scalar loop computes only the offending (unique) pairs, the
    rest stay on the numpy kernel, and every value is bit-identical to the
    scalar reference."""
    import pandas as pd

    from character_identification_spark.functions import strings

    offending = [
        ("josé garcía", "jose garcia"),        # non-ascii left
        ("zoe", "zoë"),                        # non-ascii right
        ("d" * 65, "d" * 64 + "e"),            # >64 chars
        ("short", "s" * 70),                   # >64 chars on one side
    ]
    ascii_pairs = [
        ("rossgeller", "rossgellar"),
        ("chandler bing", "chandler bong"),
        ("a" * 24, "a" * 23 + "q"),
        ("c" * 64, "c" * 63 + "d"),            # boundary 64 stays fast
        ("", "abc"),
    ]
    batch = ascii_pairs[:2] + offending[:2] + ascii_pairs[2:] + offending[2:]
    batch += [offending[0], ascii_pairs[0]]    # duplicates: computed once
    scalar = strings.jaro_winkler
    seen: list = []

    def spy(a, b):
        seen.append((a, b))
        return scalar(a, b)

    monkeypatch.setattr(strings, "jaro_winkler", spy)
    got = jaro_winkler_udf.func(
        pd.Series([a for a, _ in batch]), pd.Series([b for _, b in batch])
    )
    assert sorted(seen) == sorted(offending)
    for (a, b), g in zip(batch, got):
        assert g == scalar(a, b), (a, b)


def test_vectorized_jw_matches_scalar_property():
    """The numpy batch Jaro-Winkler must be bit-identical to the scalar
    reference implementation (which is itself DuckDB-compatible)."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from character_identification_spark.functions.strings import (
        _jaro_winkler_np,
        jaro_winkler,
    )

    alpha = st.text(alphabet="abcdef 123", min_size=0, max_size=20)

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.tuples(alpha, alpha), min_size=1, max_size=50))
    def check(pairs):
        s1 = pd.Series([p[0] for p in pairs])
        s2 = pd.Series([p[1] for p in pairs])
        got = _jaro_winkler_np(s1, s2)
        for (a, b), g in zip(pairs, got):
            assert g == jaro_winkler(a, b), (a, b)

    check()
