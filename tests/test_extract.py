"""Byte-identity invariant of the HTML extractor (BASELINE.json
input_hint: byte-identical extracted text per url vs the generator)."""

from __future__ import annotations

from pyspark.sql import functions as F

from character_identification_spark.ingest.extract import (
    extract_text,
    extracted_pages,
    wrap_html,
)

TRICKY = [
    "plain text",
    "has & ampersand < less > greater",
    "pre-escaped &amp; stays &lt;literal&gt;",
    "unicode: café — naïve 中文",
    "",
    "nested <article>inner</article> tags",
    "double && and <<>> runs &amp;&amp;",
    "multi\r\nline\twith <tabs>\n& newlines\r\n",
    "non-BMP 😀𝔘 & <astral>",
    "double-escaped &amp;lt; stays",
]


def test_round_trip_byte_identical(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TRICKY)], "i int, text string")
    out = (
        df.withColumn("html", wrap_html(F.col("text")))
        .withColumn("back", extract_text(F.col("html")))
        .select("i", "text", "back")
        .collect()
    )
    for row in out:
        assert row["back"] == row["text"], f"row {row['i']}: {row['back']!r} != {row['text']!r}"
        assert row["back"].encode("utf-8") == row["text"].encode("utf-8")


def test_null_and_missing_article(spark):
    """NULL text wraps to NULL html and extracts back to NULL; html with
    no <article> body extracts to the empty string."""
    df = spark.createDataFrame(
        [(0, None, None), (1, None, bytearray(b"<html><body>no body</body></html>"))],
        "i int, text string, raw binary",
    )
    out = {
        r["i"]: r
        for r in df.select(
            "i",
            extract_text(wrap_html(F.col("text"))).alias("back"),
            extract_text(F.col("raw")).alias("bare"),
        ).collect()
    }
    assert out[0]["back"] is None and out[0]["bare"] is None
    assert out[1]["bare"] == ""


def test_extracted_pages_filters_lang_and_projects(spark):
    df = spark.createDataFrame(
        [("u1", "hello world", "en"), ("u2", "hallo welt", "de")],
        "url string, text string, lang string",
    ).withColumn("warc_ts", F.current_timestamp()).withColumn(
        "html", wrap_html(F.col("text"))
    )
    out = extracted_pages(df, keep_lang="en")
    rows = out.collect()
    assert [r["url"] for r in rows] == ["u1"]
    assert rows[0]["text"] == "hello world"
    assert set(out.columns) == {"url", "warc_ts", "text", "lang"}

    all_rows = extracted_pages(df, keep_lang=None).count()
    assert all_rows == 2
