"""HTML → text extraction with a byte-identical per-url invariant.

The pipeline input is a pages table ``(url, warc_ts, html binary, text,
lang)``. The ``text`` column is ground truth produced by the upstream
(reference) extractor; our extractor must reproduce it byte-identically from
``html`` (BASELINE.json input_hint). The fixture generator wraps text in a
deterministic HTML shell with entity escaping; ``extract_text`` is its exact
inverse. Both are Catalyst expressions (replace / encode / decode /
regexp_extract), so the extract stage is a codegen projection with no Python
worker. NULL maps to NULL, html without an ``<article>`` extracts to ``""``,
and malformed UTF-8 fails the task.

At 100 TB the html column dominates I/O: the extract stage projects only
(url, html), so Parquet column pruning skips text/lang entirely, and the
output checkpoint stores text once.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_PRE = '<html><head><meta charset="utf-8"></head><body><article>'
_POST = "</article></body></html>"
# entity escapes in wrap order; extract undoes them in reverse, so a
# literal "&lt;" in the text comes back from "&amp;lt;" unchanged
_ENTITIES = (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"))


def wrap_html(text: Column) -> Column:
    """Deterministic HTML shell around text (fixture generator side)."""
    for raw, ent in _ENTITIES:
        text = F.replace(text, F.lit(raw), F.lit(ent))
    return F.encode(F.concat(F.lit(_PRE), text, F.lit(_POST)), "UTF-8")


def extract_text(html: Column) -> Column:
    """Inverse of wrap_html; byte-identical text per url. ``(?s)`` lets
    ``.`` cross newlines, as the shell's body may span lines."""
    body = F.regexp_extract(F.decode(html, "UTF-8"), r"(?s)<article>(.*?)</article>", 1)
    for raw, ent in reversed(_ENTITIES):
        body = F.replace(body, F.lit(ent), F.lit(raw))
    return body


def extracted_pages(pages, keep_lang: str | None = "en"):
    """Stage 1: (url, warc_ts, html, text, lang) → (url, warc_ts, text, lang)
    with text re-derived from html. Projects only needed columns so the
    parquet scan prunes the heavy binary column out of later stages."""
    out = pages
    if keep_lang is not None:
        out = out.filter(F.col("lang") == keep_lang)
    return out.select(
        "url", "warc_ts", extract_text(F.col("html")).alias("text"), "lang"
    )
