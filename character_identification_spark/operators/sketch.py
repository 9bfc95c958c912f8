"""Deterministic streaming sketches: HyperLogLog and Count-Min.

At 100 TB an exact ``COUNT(DISTINCT token)`` shuffles every distinct
token once; a per-token frequency table shuffles the full vocabulary.
Sketches bound both to a constant-size state per group — the classic
single-pass answer (Flajolet et al. 2007 HyperLogLog; Cormode &
Muthukrishnan 2005 Count-Min) — and they parallelize perfectly because
register/counter merge is max/sum, which Spark's map-side partial
aggregation already does.

Every hash is an md5-derived pure function (functions/hashing.py), so
the sketch state — registers, counters, estimates — is bit-identical
between Spark and the DuckDB oracle twin: the estimates themselves are
value-checked, not just "close". The one float-sensitive step (the HLL
harmonic mean) is kept exact by working in integers scaled by 2^53
(every term 2^(53-M) is an integer since registers are capped at 53),
so the only double ops are a final division and, on the small-range
branch, one ``ln`` — rounded to 4 dp on both sides.

Reference anchor: the reference engine has no sketches (it counts
vocab exactly in memory, python/util/__init__.py:33-52); these are the
scale-path generalization the north rule asks for.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from character_identification_spark.functions.hashing import h_long
from character_identification_spark.operators.textstats import tokens
from character_identification_spark.session import local_frame

# HLL geometry: 2^8 = 256 registers from the first two hex chars of the
# md5; rho read from the next 60 bits. alpha_m for m >= 128.
HLL_M = 256
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
# Registers capped at 53 so 2^(53-M) is always an exact integer (and an
# exact double); a real rho > 53 needs ~2^53 distinct values per
# register — unreachable, and capped identically in the oracle.
HLL_RHO_CAP = 53


def hll_distinct(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """→ (group, n_registers, zero_registers, scaled_sum, reg_digest,
    est_distinct): HyperLogLog distinct-token estimate per group.

    Register index = first 2 md5 hex chars (0..255); rho = 1 + leading
    zeros of the next 60 bits, computed exactly via the length of the
    binary string (``bin``/``length`` — integer-exact, no log2
    boundary risk). Estimate = alpha·m²/Z with Z = Σ 2^−M_j kept as the
    integer ``scaled_sum`` = Σ 2^(53−M_j); the small-range correction
    (E ≤ 2.5m with empty registers) switches to m·ln(m/V) linear
    counting per the original paper. Rounded to 4 dp (one ln/division
    in doubles on both engines).

    Scale shape: ONE shuffle on (group, register) with map-side max —
    at most m rows per group survive the exchange regardless of input
    size — then a group-sized agg. The all-registers frame (empty
    registers must count toward V) is distinct-groups × sequence(m),
    group-count-sized, never data-sized.
    """
    toks = docs.select(
        F.col(group_col).alias("g"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    ).where(F.col("tok") != "")
    hashed = toks.select(
        "g",
        F.conv(F.substring(F.md5(F.col("tok")), 1, 2), 16, 10)
        .cast("int")
        .alias("j"),
        F.conv(F.substring(F.md5(F.col("tok")), 3, 15), 16, 10)
        .cast("long")
        .alias("w"),
    )
    # rho over a 60-bit field: 61 - bitlength(w); bin(0) = "0" needs the
    # explicit branch. length(bin(w)) is exact integer arithmetic.
    rho = F.when(F.col("w") == 0, F.lit(61)).otherwise(
        F.lit(61) - F.length(F.bin(F.col("w")))
    )
    regs = (
        hashed.withColumn("rho", F.least(rho, F.lit(HLL_RHO_CAP)))
        .groupBy("g", "j")
        .agg(F.max("rho").alias("m_j"))
    )
    # Empty registers: distinct groups × all m register ids, M = 0.
    frame = (
        docs.select(F.col(group_col).alias("g"))
        .distinct()
        .select("g", F.explode(F.sequence(F.lit(0), F.lit(HLL_M - 1))).alias("j"))
    )
    full = frame.join(regs, ["g", "j"], "left").withColumn(
        "m_j", F.coalesce(F.col("m_j"), F.lit(0))
    )
    agg = full.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_registers"),
        F.sum(F.when(F.col("m_j") == 0, 1).otherwise(0))
        .cast("long")
        .alias("zero_registers"),
        F.sum(F.pow(F.lit(2.0), F.lit(53) - F.col("m_j")).cast("long"))
        .cast("long")
        .alias("scaled_sum"),
        F.bit_xor(
            F.shiftleft(F.col("j").cast("long"), 6) + F.col("m_j")
        ).alias("reg_digest"),
    )
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M * float(2**53)) / F.col("scaled_sum")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (F.col("zero_registers") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("zero_registers")),
    ).otherwise(raw)
    return agg.select(
        F.col("g").alias(group_col),
        "n_registers",
        "zero_registers",
        "scaled_sum",
        "reg_digest",
        F.round(est, 4).alias("est_distinct"),
    )


def cms_frequencies(
    docs: DataFrame,
    probes: Sequence[str],
    depth: int = 4,
    width: int = 1024,
    text_col: str = "text",
) -> DataFrame:
    """→ (token, est_count): Count-Min frequency estimates for a fixed
    probe set over the corpus token stream.

    Sketch = depth×width counters; occurrence (s, token) increments
    counter[s][h_s(token) mod width]; estimate = min over s. Estimates
    only over-count (hash collisions add), never under — the CM
    guarantee — and every counter is an exact integer, so the oracle
    match is exact, not approximate.

    Scale shape: the token stream fans out ×depth map-side, then ONE
    shuffle onto at most depth·width keys (map-side combine collapses
    each partition to ≤ depth·width partial rows first — asserted in
    tests/test_plans.py style via partial_count). The probe lookup is a
    broadcast join of a literal-sized frame against the sketch. No
    vocabulary-sized state anywhere.
    """
    occ = docs.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
    ).where(F.col("tok") != "")
    fanned = occ.select(
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("s"), "tok"
    )
    bucketed = fanned.select(
        "s",
        (
            h_long(F.concat(F.col("s").cast("string"), F.lit("|"), F.col("tok")))
            % width
        ).alias("b"),
    )
    sketch = bucketed.groupBy("s", "b").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    probe_df = local_frame(
        docs.sparkSession, [(str(p),) for p in probes], "token string"
    ).select(
        "token",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("s"),
    )
    probe_bucketed = probe_df.select(
        "token",
        "s",
        (
            h_long(F.concat(F.col("s").cast("string"), F.lit("|"), F.col("token")))
            % width
        ).alias("b"),
    )
    # Left-outer keeps unseen probes at 0; Spark can only broadcast the
    # non-preserved (right) side of a left join — the sketch, which is
    # ≤ depth·width rows by construction, the smaller side anyway.
    joined = probe_bucketed.join(F.broadcast(sketch), ["s", "b"], "left")
    return (
        joined.groupBy("token")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
        .select("token", "est_count")
    )
