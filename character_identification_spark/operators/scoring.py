"""Pairwise scoring: string + token + (optional) embedding features.

The reference scores pairs with a CNN over mention encodings plus discrete
pair features (reference: latest/model/coref.py:72-95); its only string
similarity is an LCS ratio (util/__init__.py:57-79). The engine's scorer is
the classic ER analog (reference: baseline/model/coref.py:78-90 — a scalar
match probability per pair): a weighted blend of

  jw          Jaro-Winkler (Arrow-vectorized pandas UDF)
  lev_ratio   1 - levenshtein/max_len (JVM builtin, codegen'd)
  tok_jaccard token-set Jaccard (JVM array ops)
  cos_sim     embedding cosine, when an embedding column is present

All but jw run fully JVM-side; jw is the designated pandas-UDF slow path.
Token containment ("ross" ⊆ "ross geller") is scored through jw/prefix
rather than a hard rule so the threshold stays a single calibration knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from character_identification_spark.functions.strings import jaro_winkler_udf
from character_identification_spark.functions.vectors import cosine_sim

DEFAULT_THRESHOLD = 0.82


def score_pairs(
    pairs: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    with_embeddings: bool = False,
    dedup_strings: bool = True,
) -> DataFrame:
    """pairs(…, norm_1, norm_2[, emb_1, emb_2]) → + jw, lev_ratio,
    tok_jaccard[, cos_sim], score, is_match.

    With ``dedup_strings`` (string-only path), features are computed once
    per DISTINCT (norm_1, norm_2) and joined back: every feature is a pure
    function of the two strings, and at corpus scale the same name pair
    recurs across millions of blocks — this keeps the pandas-UDF (jw) row
    count proportional to the vocabulary, not the pair count.
    """
    if dedup_strings and not with_embeddings:
        uniq = pairs.select("norm_1", "norm_2").distinct()
        feats = _score_strings(uniq, threshold)
        # left join: a pair with a NULL norm keeps its row (null features,
        # is_match null→false downstream) — same behavior as the direct
        # path instead of silently dropping it in the inner join
        return pairs.join(feats, ["norm_1", "norm_2"], "left")
    return _score_strings(pairs, threshold, with_embeddings)


def _score_strings(
    pairs: DataFrame,
    threshold: float,
    with_embeddings: bool = False,
) -> DataFrame:
    n1, n2 = F.col("norm_1"), F.col("norm_2")
    t1, t2 = F.split(n1, " "), F.split(n2, " ")
    scored = (
        pairs.withColumn("jw", jaro_winkler_udf(n1, n2))
        # surname guard: whole-string JW rewards long shared prefixes, so
        # "rachel geller" ~ "rachel green" scores 0.91 — field-aware
        # similarity on the last token separates shared-first-name pairs
        # (goes to ~0.75) while typo'd surnames stay ~0.95
        .withColumn(
            "jw_last",
            jaro_winkler_udf(F.element_at(t1, -1), F.element_at(t2, -1)),
        )
        .withColumn(
            "lev_ratio",
            1.0 - F.levenshtein(n1, n2) / F.greatest(F.length(n1), F.length(n2)),
        )
        .withColumn(
            "tok_jaccard",
            F.size(F.array_intersect(t1, t2))
            / F.size(F.array_union(t1, t2)).cast("double"),
        )
        .withColumn(
            "tok_contained",
            (F.size(F.array_except(t1, t2)) == 0) | (F.size(F.array_except(t2, t1)) == 0),
        )
    )
    # initial-alias rule: "c bunch" ~ "carol bunch" — token-count equal,
    # identical tails, and one first token is a TRUE single-char initial
    # prefixing the other. A general prefix relation is NOT identity:
    # "alice geller" prefixes "alicecarol geller" yet names someone else.
    f1, f2 = F.element_at(t1, 1), F.element_at(t2, 1)
    scored = scored.withColumn(
        "initial_alias",
        (F.size(t1) == F.size(t2))
        & (F.size(t1) >= 2)
        & (F.slice(t1, 2, 1000) == F.slice(t2, 2, 1000))
        & (F.least(F.length(f1), F.length(f2)) == 1)
        & (f1.startswith(f2) | f2.startswith(f1)),
    )
    if with_embeddings:
        scored = scored.withColumn("cos_sim", cosine_sim("emb_1", "emb_2"))
        score = (
            0.35 * F.col("jw")
            + 0.2 * F.col("lev_ratio")
            + 0.15 * F.col("tok_jaccard")
            + 0.3 * ((F.col("cos_sim") + 1.0) / 2.0)
        )
    else:
        score = 0.5 * F.col("jw") + 0.3 * F.col("lev_ratio") + 0.2 * F.col("tok_jaccard")
    score = score + F.when(F.col("tok_contained"), 0.12).otherwise(0.0)
    # tokenwise typo rule: same token count and every ALIGNED token within
    # Damerau-Levenshtein 1 (one ins/del/sub OR one adjacent
    # transposition). This is the identity test whole-string JW cannot
    # be: JW ≥ 0.9 with an equal surname still fuses similar first names
    # ("chandler kingsley" ~ "charlie kingsley" = 0.91 via the prefix
    # boost), and plain Levenshtein can't hold transpositions
    # (geller→gleler = 2) apart from two substitutions (zelner→geller =
    # 2). Spark lacks a DL builtin, so DL ≤ 1 is decomposed JVM-side as
    # lev ≤ 1 ∨ single-adjacent-transposition; the DuckDB oracle uses its
    # native damerau_levenshtein — one of the spots where engine and
    # oracle run different algorithms and must agree value-for-value.
    def _dl1(a, b):
        transposed = (F.length(a) == F.length(b)) & F.exists(
            F.sequence(F.lit(1), F.greatest(F.length(a) - 1, F.lit(1))),
            lambda i: (a.substr(F.lit(1), i - 1) == b.substr(F.lit(1), i - 1))
            & (a.substr(i, F.lit(1)) == b.substr(i + 1, F.lit(1)))
            & (a.substr(i + 1, F.lit(1)) == b.substr(i, F.lit(1)))
            & (a.substr(i + 2, F.length(a)) == b.substr(i + 2, F.length(b))),
        )
        return (F.levenshtein(a, b) <= 1) | transposed

    tokenwise_typo = (F.size(t1) == F.size(t2)) & F.forall(
        F.zip_with(t1, t2, _dl1), lambda x: x
    )
    # decision: tokenwise typo OR whole-string-edit rule OR containment-
    # alias OR initial-alias OR blended score. The edit/blend rules carry
    # the surname guard (jw_last); containment ("ross" ⊆ "ross geller")
    # and initial aliases are inherently ambiguous and are resolved
    # downstream (operators/context.py) rather than trusted as global
    # links.
    last_ok = F.col("jw_last") >= 0.85
    match = (
        tokenwise_typo
        | ((F.col("lev_ratio") >= 0.85) & last_ok)
        | (F.col("tok_contained") & (F.col("jw") >= 0.65))
        | F.col("initial_alias")
        | ((score >= threshold) & last_ok)
    )
    return (
        scored.withColumn("tokenwise_typo", tokenwise_typo)
        .withColumn("score", score)
        .withColumn("is_match", match)
    )
