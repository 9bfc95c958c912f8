"""Vector math on ``array<float>`` columns, JVM-side.

Embedding arithmetic stays inside Catalyst via higher-order functions
(``zip_with`` + ``aggregate``) — no Python in the per-row path. For large
batched scoring the pandas-UDF route in operators/similarity.py is used
instead (numpy matmul over Arrow batches).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from character_identification_spark.functions.hashing import h_unit

MICROS = 1_000_000.0


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_micros(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance rounded to integer micros,
    round(Σ(a−b)² · 1e6) as a long: a sequential left fold, so the value
    is an integer both engines agree on (the DuckDB twin is
    oracles._dd_l2_micros)."""
    return F.round(
        F.aggregate(
            F.zip_with(_c(a), _c(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        * MICROS
    ).cast("long")


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


# --- the md5-exemplar codebook ----------------------------------------------
# IVF, IVF-PQ, PQ, k-means, k-center and SemDeDup share one contract: the
# codebook is the n rows with the lowest (md5(id), id), it enters the plan
# as literal vectors, and each row ranks the codebook by (dist, id). The
# DuckDB twins are oracles._dd_exemplars and the nearest-centroid CTEs.


def md5_exemplars(df: DataFrame, id_col: str, n: int, *cols) -> list[Row]:
    """The ``n`` rows of ``df`` with the lowest (md5(id), id), projected to
    ``cols``, in that order — an md5-pure "random" sample. The plan is one
    TakeOrderedAndProject (per-partition top-n, then a tiny driver merge),
    and the rows come back to the driver."""
    return (
        df.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n)
        .select(*cols)
        .collect()
    )


def vec_lit(xs) -> Column:
    """A driver-side vector as ONE ``array<double>`` literal (one numpy →
    JVM array conversion, not one ``F.lit`` per component)."""
    return F.lit(np.asarray(xs, dtype=np.float64))


def codebook(vectors) -> Column:
    """The codebook as one ``array<array<double>>`` literal, one literal
    per vector. An empty codebook keeps its type, so the operators over
    it return zero rows instead of failing on a VOID array."""
    if not vectors:
        return F.array().cast("array<array<double>>")
    return F.array(*[vec_lit(v) for v in vectors])


def centroid_dists(
    vec: Column | str, vectors, dist: Callable[[Column, Column], Column]
) -> Column:
    """``dist(vec, c)`` for every centroid ``c`` of the codebook
    ``vectors``, in codebook order: one HOF over the literal codebook, so
    the generated code holds a single ``dist`` lambda whatever k is (an
    array_sort over k unrolled copies of the fold was measured at ~19 s
    of codegen for k·n_blocks = 128 at PQ scale, against ~2 s for this
    shape). ``vec`` enters the lambda as a zip_with argument, never as an
    outer reference: a filter the optimizer infers from a join on the
    result (semantic_dedup's self-join on cid) does not rebind an outer
    reference inside a lambda, and the plan then fails with
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND."""
    cb = codebook(vectors)
    return F.zip_with(cb, F.array_repeat(_c(vec), F.size(cb)), lambda c, v: dist(v, c))


def nearest_centroids(
    vec: Column | str,
    vectors,
    dist: Callable[[Column, Column], Column],
    ids: list[int] | None = None,
) -> Column:
    """The codebook ``vectors`` ranked nearest ``vec`` first: an array of
    struct(dist, id) sorted by (dist, id) over ``centroid_dists``, where
    ``id`` is the centroid's index, or ``ids[index]`` when given. A NULL
    dist (cosine against a zero-norm vector) ranks LAST, as ``ORDER BY …
    DESC`` does in DuckDB: the struct leads with dist IS NULL, since
    array_sort puts a NULL field first. Callers take element 1 (argmin)
    or a slice (probe sets)."""
    id_arr = None
    if ids is not None:
        # the type F.lit gives a Python int: int while every id fits in
        # 32 bits, long otherwise
        small = all(-(2**31) <= x < 2**31 for x in ids)
        id_arr = F.lit(np.asarray(ids, dtype=np.int32 if small else np.int64))

    def entry(d: Column, i: Column) -> Column:
        cid = i if id_arr is None else F.element_at(id_arr, i + 1)
        return F.struct(d.isNull().alias("null_dist"), d.alias("dist"), cid.alias("id"))

    return F.array_sort(F.transform(centroid_dists(vec, vectors, dist), entry))


def cosine_ranked(vec: Column | str, exemplars: list[Row]) -> Column:
    """The (id, vector) exemplar rows ranked from ``vec`` by (cosine desc,
    id) — a zero-norm side last — for the cosine codebooks of
    similarity.ivf_topk and dedup.semantic_dedup; ``id`` is the
    exemplar's id. The DuckDB twin is oracles._dd_cosine_nearest."""
    return nearest_centroids(
        vec,
        [r[1] for r in exemplars],
        lambda v, c: -cosine_sim(v, c),
        ids=[r[0] for r in exemplars],
    )
