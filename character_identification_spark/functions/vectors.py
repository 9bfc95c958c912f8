"""Vector math on ``array<float>`` columns, JVM-side.

Embedding arithmetic stays inside Catalyst via higher-order functions
(``zip_with`` + ``aggregate``) — no Python in the per-row path. For large
batched scoring the pandas-UDF route in operators/similarity.py is used
instead (numpy matmul over Arrow batches).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from character_identification_spark.functions.hashing import h_unit


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(_c(a), F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """NULL (not NaN) when either vector has zero norm: NULLs sort LAST
    under every desc rank window AND match DuckDB, whose division by zero
    yields NULL — so the array_sort nearest-centroid picks and the F.desc
    top-k windows (and their partial group limits) agree on zero-norm
    rows instead of inverting their order."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb))


def hash_embedding(col: Column | str, dim: int = 16, n_gram: int = 3) -> Column:
    """Deterministic bag-of-shingles embedding: component d = Σ over the
    string's distinct character n-grams of the md5 unit draw
    ``h_unit("d|shingle")`` in [-1, 1) (the same draw the sign-LSH and JL
    hyperplanes use, keyed by shingle instead of plane). Strings sharing
    shingles get correlated vectors — a pure-function analog of the
    reference's mention encoder (reference: latest/model/coref.py:40-70)
    with the determinism rule SURVEY.md §7.3 demands, computable
    identically in DuckDB SQL."""
    from character_identification_spark.operators.blocking import char_shingles

    sh = char_shingles(col, n_gram)

    def comp(d: int) -> Column:
        return F.aggregate(
            F.transform(sh, lambda s: h_unit(F.concat_ws("|", F.lit(str(d)), s))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return F.array(*[comp(d) for d in range(dim)])
