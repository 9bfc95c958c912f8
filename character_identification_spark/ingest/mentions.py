r"""Mention extraction from page text.

The reference slices mention spans out of gold ``character_entities``
annotations (reference: latest/tools/ioutils.py:111-132). A web corpus has
no annotations, so the engine extracts person-name-like mentions itself:
maximal runs of capitalized tokens. Implemented with ``mapInPandas`` —
one Arrow batch in, one out, a compiled ``finditer`` loop per text
(batched, not per-row UDF serde).

Why this stays a Python stage: a Catalyst prototype (``regexp_extract_all``
for the surfaces, ``split`` plus an ``aggregate`` fold for the offsets,
``[\p{L}\p{N}_'’\-]`` standing in for Python's ``\w`` — Java's ``(?U)\w``
differs on combining marks and ``²``) was byte-identical on a 2k-page
crawl corpus (4,995 mentions) and on Unicode edge cases, and faster there
(stage wall time 0.32–0.48 s against 0.43–0.69 s). It lost on denser pages: warm write
wall time on local[4] was 2.17–2.50 s against 1.75–2.06 s at 30 hits/page
× 20k pages, 3.2–3.8 against 1.4–1.5 s at 1,000 × 600, and 6.4–6.6
against 1.5–1.6 s at 3,000 × 200. Higher-order-function lambdas are
interpreted, not code-generated, and the offset fold copies its array at
every step, so the JVM form's cost per page grows faster than its
mention count.

Output grain: one row per mention, denormalized with its page key — the
Spark analog of the reference's object back-pointers
(reference: python/structure/nodes.py:12-14).

mention_uid is a 60-bit deterministic hash of (url, mention_idx); at
10^12-mention scale widen to the full 128-bit hex digest (HEX_WIDTH=32) to
keep collision probability negligible — a config constant, not a redesign.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from character_identification_spark.functions.hashing import h_long

# Maximal runs of capitalized words, allowing internal apostrophes/hyphens
# and single-letter initials with a period ("F. Last").
_MENTION_RE = re.compile(r"(?:[A-Z][\w'’\-]*\.?)(?:[ ](?:[A-Z][\w'’\-]*\.?))*")

MENTION_SCHEMA = (
    "url string, mention_idx int, begin int, end int, surface string, norm string"
)

_NON_ALNUM = re.compile(r"[^a-z0-9]+")


def _norm(s: str) -> str:
    """Python twin of functions.strings.norm_text (same semantics)."""
    return _NON_ALNUM.sub(" ", s.lower()).strip()


def _extract_batches(min_len: int, with_ts: bool):
    # normalization happens inside the Arrow batch: a JVM regexp filter
    # stacked directly on a PythonMapInPandas node showed erratic 10-50s
    # codegen stalls, and doing it here saves one pass anyway
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, idxs, begins, ends, surfaces, norms, tss = [], [], [], [], [], [], []
            ts_iter = pdf["warc_ts"] if with_ts else pdf["url"]
            for url, text, ts in zip(pdf["url"], pdf["text"], ts_iter):
                if text is None:
                    continue
                for i, m in enumerate(_MENTION_RE.finditer(text)):
                    norm = _norm(m.group(0))
                    if len(norm) < min_len:
                        continue
                    urls.append(url)
                    idxs.append(i)
                    begins.append(m.start())
                    ends.append(m.end())
                    surfaces.append(m.group(0))
                    norms.append(norm)
                    if with_ts:
                        tss.append(ts)
            out = {"url": urls, "mention_idx": idxs, "begin": begins,
                   "end": ends, "surface": surfaces, "norm": norms}
            if with_ts:
                out["warc_ts"] = tss
            yield pd.DataFrame(out)

    return fn


def extract_mentions(
    pages: DataFrame, min_len: int = 2, with_ts: bool = False
) -> DataFrame:
    """pages(url, text, ...) → mentions(mention_uid, url, mention_idx,
    begin, end, surface, norm[, warc_ts]).

    ``with_ts`` carries the page's event time onto every mention — the
    streaming operators (windowed aggregation, stateful tracking) need it
    for watermarks, and passing it through the Arrow batch avoids a
    stream-stream self-join back to pages.

    Note: mention_idx counts ALL regex hits in document order (including
    any later dropped by min_len), so uids stay stable under filter-policy
    changes — the per-block reindexing hazard the reference has
    (experiments/system.py:108) doesn't arise.
    """
    cols = ["url", "warc_ts", "text"] if with_ts else ["url", "text"]
    schema = MENTION_SCHEMA + (", warc_ts timestamp" if with_ts else "")
    raw = pages.select(*cols).mapInPandas(_extract_batches(min_len, with_ts), schema)
    return raw.withColumn(
        "mention_uid",
        h_long(F.concat_ws("#", F.col("url"), F.col("mention_idx"))),
    )
