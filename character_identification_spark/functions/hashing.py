"""Deterministic, oracle-parity hashing primitives.

The reference seeds randomness lazily and mutably at featurize time
(reference: python/experiments/latest/model/features.py:195-197,228-231),
which breaks reproducibility and resume. Here every pseudo-random value is a
pure function of its inputs via md5, chosen because BOTH Spark and DuckDB
expose an identical md5() — so the same expression is computable in the
engine and in the SQL oracle, making value-level correctness checks exact.

A fixed-width lowercase-hex md5 prefix orders lexicographically exactly as
its numeric value, so a min over hex strings is a min over the hashes.

``dd_*`` helpers emit the equivalent DuckDB SQL text for oracle queries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX_WIDTH = 15  # 15 hex digits = 60 bits, fits a signed 64-bit long


def h_hex(col: Column | str, width: int = HEX_WIDTH) -> Column:
    """Stable hash of a string column as a fixed-width lowercase hex string."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.md5(c.cast("string")), 1, width)


def h_long(col: Column | str, width: int = HEX_WIDTH) -> Column:
    """Stable hash as a non-negative long (numeric value of the hex prefix)."""
    return F.conv(h_hex(col, width), 16, 10).cast("long")


def h_unit(col: Column | str) -> Column:
    """Stable pseudo-random double in [-1, 1): h_long / 2^59 - 1. The one
    md5 unit draw behind the hyperplane components (operators/similarity)
    and the hash embedding (functions/vectors); the division comes before
    the subtraction so the doubles match ``dd_h_unit`` bit for bit."""
    return (h_long(col) / F.lit(float(2**59))) - 1.0


# --- DuckDB SQL text equivalents (for oracle_sql) ---------------------------

def dd_h_hex(expr: str, width: int = HEX_WIDTH) -> str:
    return f"substr(md5(CAST({expr} AS VARCHAR)), 1, {width})"


def dd_h_long(expr: str, width: int = HEX_WIDTH) -> str:
    return f"CAST(CAST('0x' || {dd_h_hex(expr, width)} AS UBIGINT) AS BIGINT)"


def dd_h_unit(expr: str) -> str:
    return f"(({dd_h_long(expr)} / 576460752303423488.0) - 1.0)"
