"""String-similarity functions for pairwise scoring.

The reference's only string feature is an O(len^2) LCS similarity computed
per pair in Python (reference: python/util/__init__.py:57-79, used at
python/experiments/latest/model/features.py:151-155). Here the hot-path
builtin is ``F.levenshtein`` (JVM, codegen); Jaro-Winkler is an
Arrow-vectorized pandas UDF — batch transfer, no per-row Python UDF serde.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def norm_text(col: Column | str) -> Column:
    """Normalize a surface form: lowercase, strip non-alphanumerics to
    spaces, collapse runs, trim. Mirrors the reference's ingest-time
    ``.lower()`` canonicalization (reference: latest/tools/mention.py:11-12)
    plus web-text punctuation stripping."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "), r"\s+", " "))


def _jaro(s1: str, s2: str) -> float:
    # empty-vs-anything (incl. empty-vs-empty) is 0.0, matching DuckDB's
    # jaro_winkler_similarity so oracle comparisons are exact
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    if s1 == s2:
        return 1.0
    match_dist = max(len1, len2) // 2 - 1
    m1 = [False] * len1
    m2 = [False] * len2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_dist)
        hi = min(len2, i + match_dist + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = True
                m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(len1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / len1 + matches / len2 + (matches - t) / matches) / 3.0


def jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1, threshold: float = 0.7) -> float:
    """Standard Jaro-Winkler similarity (prefix cap 4, boost above 0.7)."""
    j = _jaro(s1, s2)
    if j <= threshold:
        return j
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return j + prefix * prefix_weight * (1.0 - j)


def _jaro_winkler_np(s1: "pd.Series", s2: "pd.Series") -> "np.ndarray":
    """Vectorized Jaro-Winkler over an Arrow batch: strings become a padded
    uint8 matrix and the greedy match/transposition scan runs as L² numpy
    column ops instead of a per-row Python loop (~50× faster). Exactly the
    scalar algorithm (same greedy order, same formula, float64), so results
    are bit-identical to jaro_winkler() and DuckDB — property-tested in
    tests/test_strings.py."""
    import numpy as np

    n = len(s1)
    a8 = np.array(s1.to_numpy(), dtype="S64")
    b8 = np.array(s2.to_numpy(), dtype="S64")
    A = a8.view("uint8").reshape(n, 64)
    B = b8.view("uint8").reshape(n, 64)
    la = (A != 0).sum(axis=1)
    lb = (B != 0).sum(axis=1)
    L = int(max(la.max(initial=0), lb.max(initial=0)))
    if L == 0:
        return np.zeros(n)
    A, B = A[:, :L], B[:, :L]
    md = np.maximum(np.maximum(la, lb) // 2 - 1, 0)

    m1 = np.zeros((n, L), dtype=bool)
    m2 = np.zeros((n, L), dtype=bool)
    for i in range(L):
        valid_i = i < la
        if not valid_i.any():
            break
        claimed = np.zeros(n, dtype=bool)
        ai = A[:, i]
        lo, hi = i - md, i + md + 1
        for j in range(L):
            in_win = (j >= lo) & (j < hi) & (j < lb)
            hit = valid_i & in_win & ~claimed & ~m2[:, j] & (ai == B[:, j]) & (ai != 0)
            if hit.any():
                m1[hit, i] = True
                m2[hit, j] = True
                claimed |= hit
    m = m1.sum(axis=1).astype(np.float64)

    # transpositions: scatter matched chars into rank-order buffers
    r1 = np.cumsum(m1, axis=1) - 1
    r2 = np.cumsum(m2, axis=1) - 1
    t1 = np.zeros((n, L), dtype=np.uint8)
    t2 = np.zeros((n, L), dtype=np.uint8)
    rows = np.arange(n)[:, None].repeat(L, axis=1)
    t1[rows[m1], r1[m1]] = A[m1]
    t2[rows[m2], r2[m2]] = B[m2]
    slot = np.arange(L)[None, :]
    t = ((t1 != t2) & (slot < m[:, None])).sum(axis=1) // 2

    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (m / la + m / lb + (m - t) / m) / 3.0
    jaro = np.where(m > 0, jaro, 0.0)
    jaro = np.where((la == 0) | (lb == 0), 0.0, jaro)
    eq = (la == lb) & (A == B).all(axis=1)
    jaro = np.where(eq & (la > 0), 1.0, jaro)

    # winkler boost: common prefix (cap 4) when jaro > 0.7
    prefix = np.zeros(n)
    still = np.ones(n, dtype=bool)
    for k in range(min(4, L)):
        still = still & (k < la) & (k < lb) & (A[:, k] == B[:, k])
        prefix += still
    return np.where(
        (jaro > 0.7) & ~eq, jaro + prefix * 0.1 * (1.0 - jaro), jaro
    )


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    import numpy as np

    mask = s1.notna() & s2.notna()
    out = pd.Series(np.full(len(s1), np.nan), index=s1.index, dtype="float64")
    if mask.any():
        a, b = s1[mask], s2[mask]
        # factorize duplicate (a, b) pairs within the batch: token-level
        # inputs (e.g. surname pairs across name pairs) repeat heavily, so
        # each unique pair is computed once and scattered back
        codes, _ = pd.factorize(a.str.cat(b, sep="\x01"))
        _, first_idx = np.unique(codes, return_index=True)
        ua, ub = a.iloc[first_idx], b.iloc[first_idx]
        # fast path: ascii ≤64 chars → vectorized numpy batch. Rows that
        # are not ascii or are longer than the kernel's 64-byte rows go to
        # the scalar jaro_winkler one by one; the rest of the batch stays
        # on the kernel. Kernel rows are bucketed by their OWN max length:
        # _jaro_winkler_np pads every row to the batch max L and scans L²
        # column pairs, so one 50-char outlier would make every 12-char
        # pair pay a 16× larger scan. Row results are independent of batch
        # composition (L only adds zero padding), so per-bucket evaluation
        # is bit-identical — pinned by test_jw_udf_bucketing_matches_scalar
        # and test_jw_udf_scalar_fallback_only_for_offending_rows.
        la = ua.str.len().to_numpy()
        lb = ub.str.len().to_numpy()
        ascii_ = np.fromiter(
            (x.isascii() and y.isascii() for x, y in zip(ua, ub)), bool, len(ua)
        )
        done = ~(ascii_ & (la <= 64) & (lb <= 64))
        uvals = np.empty(len(ua), dtype="float64")
        for i in np.flatnonzero(done):
            uvals[i] = jaro_winkler(ua.iloc[i], ub.iloc[i])
        lens = np.maximum(la, lb)
        for bound in (8, 12, 16, 24, 32, 48, 64):
            if done.all():
                break
            sel = ~done & (lens <= bound)
            if sel.any():
                uvals[sel] = np.asarray(_jaro_winkler_np(ua[sel], ub[sel]))
                done |= sel
        # codes index into uniques in order of first appearance, which is
        # exactly np.unique(codes) since factorize assigns codes 0,1,2,…
        out[mask] = uvals[codes]
    return out
