"""Similarity search over embedding columns (``array<float>``).

Two tiers, per the training-data-pipeline brief:

  cosine_topk      brute-force exact top-k — the correctness baseline.
                   Queries are broadcast (small side); the big side streams,
                   cosine runs JVM-side via zip_with/aggregate, top-k is a
                   per-query window. No shuffle of the corpus beyond the
                   final k rows per query.
  sign_lsh_bucket / ann_topk
                   sign-random-projection LSH: vectors agreeing on the sign
                   of n_planes deterministic pseudo-random hyperplanes share
                   a bucket; candidates come from bucket equality, then
                   exact rerank. The scale path — bucket join replaces the
                   full cross product.

Hyperplanes are pure functions of (plane, dim) through md5 — no RNG state,
identical across runs, partitionings, and engines (the DuckDB oracle can
build the same planes), following the determinism rule SURVEY.md §7.3
imposes on every pseudo-random feature (the reference's lazy np.random
mutation, features.py:195-197, is the anti-pattern).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from character_identification_spark.functions.hashing import h_long, h_unit
from character_identification_spark.functions.partitioning import topk_per_group
from character_identification_spark.functions.vectors import (
    cosine_ranked,
    cosine_sim,
    md5_exemplars,
)


def planes_for(n_rows: int, target_bucket_size: int = 1000) -> int:
    """Plane count that keeps expected bucket size near ``target``:
    ⌈log₂(n_rows / target_bucket_size)⌉ clamped to [2, 24].

    The flat default the round-4 audit flagged (n_planes=4 → 16 buckets
    regardless of corpus size) made per-bucket volume grow linearly with
    the corpus; deriving planes from a target keeps E[bucket] ≈ target at
    any scale, and the salt cap below bounds the stragglers the
    expectation argument misses (LSH buckets of clustered embeddings are
    SKEWED, not uniform)."""
    if n_rows <= 0:
        return 2
    return max(2, min(24, math.ceil(math.log2(max(2.0, n_rows / target_bucket_size)))))


def plane_dot(v, dim_count, plane: int | str):
    """<v, r_plane> over the md5 hyperplane family: component d of plane
    ``plane`` is ``h_unit("plane|d")`` in [-1, 1), recomputed inside the
    expression (no matrix is ever materialized). ``dim_count`` is a
    Column; the DuckDB twin is oracles._dd_plane_dot."""
    key = F.lit(str(plane))
    return F.aggregate(
        F.zip_with(
            v,
            F.transform(
                F.sequence(F.lit(0), dim_count - 1),
                lambda d: h_unit(F.concat_ws("|", key, d.cast("string"))),
            ),
            lambda x, y: x.cast("double") * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sign_lsh_bucket(vec_col, dim_count, n_planes: int = 8, first_plane: int = 0):
    """Bucket id = integer of sign bits of <v, plane_i>, planes indexed
    first_plane..first_plane+n_planes-1 (bit p ↔ plane first_plane+p),
    computed fully JVM-side (no UDF). Multi-table bucketings take
    disjoint plane windows through ``first_plane``."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bits = [
        F.when(plane_dot(v, dim_count, first_plane + p) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        for p in range(n_planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """→ (query_id, neighbor_id, cos_sim, rank) exact brute force.

    queries(query_id, embedding) is broadcast; ties broken by neighbor_id
    for full determinism. Self-matches (same id) are excluded when ids
    collide across the two sides."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", cosine_sim("cv", "qv"))
        .select("query_id", "neighbor_id", "cos_sim")
    )

    # exact top-k per query: the planner runs a Partial WindowGroupLimit
    # in each map task, so at most k rows per (query, partition) reach the
    # rank shuffle — never the whole scored corpus (see topk_per_group)
    return topk_per_group(
        scored, ["query_id"], [F.desc("cos_sim"), F.asc("neighbor_id")], k, "rank"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_centroids: int = 16,
    nprobe: int = 4,
    broadcast_probes: bool = True,
) -> DataFrame:
    """IVF-style approximate top-k: an inverted-file index over a coarse
    quantizer — the second scale path next to sign-LSH (ann_topk).

      1. centroids = n_centroids exemplar vectors picked deterministically
         (lowest md5(id) — an md5-pure "random" sample, so the DuckDB
         oracle rebuilds the identical codebook; at real scale plug a
         k-means codebook in — the index/probe dataflow is unchanged);
      2. every corpus vector joins its nearest centroid (broadcast
         codebook, top-1 window) → the inverted lists;
      3. a query probes its nprobe nearest centroids and reranks ONLY
         those lists exactly.

    Probing cost is |corpus|/n_centroids × nprobe per query in
    expectation; the corpus-sized cross product never happens.

    ZERO-SHUFFLE list build: the codebook is n_centroids deterministic
    rows (vectors.md5_exemplars — one TakeOrderedAndProject, collected
    once) and enters the plan as one literal per centroid; each
    corpus/query row ranks the codebook with one higher-order function
    over it (vectors.nearest_centroids by (−cosine, cid), a zero-norm
    side last) — no crossJoin row inflation and no rank-window Exchange.
    An empty corpus gives an empty codebook and zero rows."""
    ranked = cosine_ranked(
        vec_col, md5_exemplars(corpus, id_col, n_centroids, id_col, vec_col)
    )

    def nearest(df, idc, topn):
        return df.select(
            F.col(idc), F.col(vec_col), F.explode(F.slice(ranked, 1, topn)).alias("_t")
        ).select(idc, vec_col, F.col("_t.id").alias("cid"))

    lists = nearest(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        "neighbor_id", 1,
    ).select("neighbor_id", F.col(vec_col).alias("cv"), "cid")
    probes = nearest(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col)),
        "query_id", nprobe,
    ).select("query_id", F.col(vec_col).alias("qv"), "cid")
    # broadcast_probes=True is right for the point-lookup shape (few
    # queries × nprobe rows); for corpus-sized query sets (all-pairs kNN)
    # pass False and let AQE pick the strategy — a hard broadcast there
    # would overflow the driver where a shuffle join scales.
    probes_side = F.broadcast(probes) if broadcast_probes else probes
    cand = lists.join(probes_side, "cid").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.withColumn("cos_sim", cosine_sim("cv", "qv"))
    return topk_per_group(
        scored, ["query_id"], [F.desc("cos_sim"), F.asc("neighbor_id")], k, "rank"
    ).select("query_id", "neighbor_id", "cos_sim", "rank")


def ann_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int | None = 6,
    n_tables: int = 2,
    multiprobe: bool = False,
    broadcast_queries: bool = True,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidate pairs (query_id, qv, neighbor_id, cv) from the
    multi-table sign-LSH bucket join — the pair-generation stage of
    ann_topk/knn_graph, exposed so tests can bound its volume.

    SKEW/SIZE CONTROL (the round-4 audit's one scale-killer): with
    ``max_bucket_size`` set, every corpus bucket larger than the cap is
    salt-split into ⌈size/cap⌉ exact sub-buckets (row_number round-robin
    over the bucket ordered by id — the cap_block_sizes discipline from
    operators/blocking.py, data-deterministic and resume-safe), and each
    query probe picks ONE sub-bucket by an md5-pure salt. Candidate
    volume is therefore strictly ≤ probe_rows × cap — LINEAR in the
    query side — instead of Σ_buckets |c_bucket|·|q_bucket|, which for
    corpus-as-queries (knn_graph) was quadratic per bucket. Inside a
    split (hot) bucket a probe sees a deterministic 1/nsplit sample —
    the standard salted-LSH recall trade, bought only where the bucket
    actually overflowed; un-split buckets are exact as before.

    ``n_planes=None`` derives the plane count from the corpus size via
    ``planes_for`` (one count() job) so bucket cardinality scales with
    the data instead of being a flat constant."""
    if n_planes is None:
        n_planes = planes_for(corpus.count(), max_bucket_size or 1000)
    dimc = F.size(F.col(vec_col))

    def bucketed(df, idc, probe: bool = False):
        u = None
        for t in range(n_tables):
            b = sign_lsh_bucket(vec_col, dimc, n_planes, first_plane=t * n_planes)
            if probe:
                # the bucket itself + every 1-bit flip, as one query-side
                # explode — the corpus side stays single-bucket
                variants = F.array(
                    *[
                        b.bitwiseXOR(F.lit(flip))
                        for flip in [0] + [1 << f for f in range(n_planes)]
                    ]
                )
                part = df.select(
                    F.col(idc), F.col(vec_col), F.explode(variants).alias("_b")
                )
            else:
                part = df.select(F.col(idc), F.col(vec_col), b.alias("_b"))
            part = part.select(
                idc,
                vec_col,
                F.concat(F.lit(f"t{t}:"), F.col("_b").cast("string")).alias("bucket"),
            )
            u = part if u is None else u.unionByName(part)
        return u

    qb = bucketed(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col)),
        "query_id",
        probe=multiprobe,
    ).select("query_id", F.col(vec_col).alias("qv"), "bucket")
    cb = bucketed(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)), "neighbor_id"
    ).select("neighbor_id", F.col(vec_col).alias("cv"), "bucket")

    join_keys = ["bucket"]
    if max_bucket_size:
        # exact corpus-side split: the window shuffles on bucket, the
        # same key the join needs anyway; sub-buckets are ≤ cap EXACTLY
        wrn = Window.partitionBy("bucket").orderBy("neighbor_id")
        wsz = Window.partitionBy("bucket")
        cb = (
            cb.withColumn("_rn", F.row_number().over(wrn))
            .withColumn(
                "nsplit",
                F.ceil(F.count(F.lit(1)).over(wsz) / max_bucket_size).cast("long"),
            )
            .withColumn("salt", F.pmod(F.col("_rn") - 1, F.col("nsplit")))
            .drop("_rn")
        )
        # per-bucket split counts are one row per DISTINCT bucket — the
        # small side; a query probing a corpus-empty bucket has no
        # candidates either way, so the inner join loses nothing
        sizes = cb.select("bucket", "nsplit").dropDuplicates(["bucket"])
        qb = qb.join(
            F.broadcast(sizes) if broadcast_queries else sizes, "bucket"
        ).withColumn(
            "salt",
            F.pmod(
                h_long(
                    F.concat_ws(
                        "|",
                        F.lit("qsalt"),
                        F.col("query_id").cast("string"),
                        F.col("bucket"),
                    )
                ),
                F.col("nsplit"),
            ),
        )
        join_keys = ["bucket", "salt"]

    # broadcast_queries=True is the point-lookup shape (few queries);
    # for corpus-sized query sets (knn_graph) pass False — the bucket
    # join becomes a shuffle join on the bucket key, which scales where
    # a corpus-sized broadcast would overflow the driver.
    qside = F.broadcast(qb) if broadcast_queries else qb
    return (
        cb.join(qside, join_keys)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "qv", "neighbor_id", "cv")
    )


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int | None = 6,
    n_tables: int = 2,
    multiprobe: bool = False,
    broadcast_queries: bool = True,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Approximate top-k: n_tables independent sign-LSH bucketings (plane
    indices offset per table); candidates = bucket collisions in any table
    (salt-capped at ``max_bucket_size`` — see ann_candidates); exact
    cosine rerank. Recall rises with n_tables, candidate count falls with
    n_planes — the standard multi-table LSH trade. ``n_planes=None``
    derives the plane count from corpus size (planes_for).

    ``multiprobe=True`` additionally probes, per table, every bucket at
    Hamming distance 1 from the query's bucket (Lv et al. 2007's
    multi-probe LSH, restricted to 1-bit perturbations): the QUERY side
    fans out ×(n_planes+1) — the corpus index is untouched, so the
    storage and build cost of extra tables is traded for a bounded probe
    fan-out on the (always far smaller) query side. Measured recall@10
    (BENCH.md, sf0.001/sf0.01): 2×6 rises 0.075→0.375 / 0.113→0.338;
    2×4 reaches 0.738 / 0.662 — past IVF at nprobe=8 — making
    multiprobe 2×4 the recommended sign-LSH operating point (recall
    unchanged under the default cap at those scales — BENCH.md r5).

    NOTE (default-on trade): ``max_bucket_size=1000`` means any bucket
    past 1000 rows is deterministically split and each probe lands in ONE
    sub-bucket — effectively 1/nsplit sampling of oversize buckets.
    Measured recall drops 0.738→0.562 at the forced-split point
    (BENCH.md r5). Pass ``max_bucket_size=None`` for exact bucket joins
    when the corpus is known skew-free and recall is paramount."""
    cand = ann_candidates(
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        n_planes=n_planes,
        n_tables=n_tables,
        multiprobe=multiprobe,
        broadcast_queries=broadcast_queries,
        max_bucket_size=max_bucket_size,
    )
    scored = cand.withColumn("cos_sim", cosine_sim("cv", "qv"))
    return topk_per_group(
        scored, ["query_id"], [F.desc("cos_sim"), F.asc("neighbor_id")], k, "rank"
    ).select("query_id", "neighbor_id", "cos_sim", "rank")


def knn_graph(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = 4,
    n_tables: int = 2,
    multiprobe: bool = True,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """→ (query_id, neighbor_id, cos_sim, rank): the approximate k-nearest-
    neighbor GRAPH of the whole corpus — every vector is a query. The
    SemDeDup / near-dup / graph-clustering workhorse at pretraining scale.

    Same multi-table (multi-probe) sign-LSH index as ann_topk, but with
    ``broadcast_queries=False``: the query side IS the corpus, so the
    bucket join runs as a shuffle join on the bucket key — both sides
    partition by bucket, candidate generation is per-bucket local, and
    nothing corpus-sized is ever broadcast or crossed. Defaults to the
    measured-best multiprobe 2×4 config (recall@10 0.738/0.662,
    BENCH.md).

    Scale discipline (round-5 fix of the round-4 audit finding): corpus
    buckets are salt-capped at ``max_bucket_size`` (candidate volume ≤
    probe_rows × cap — linear in N, property-tested), and passing
    ``n_planes=None`` sizes the bucket space to the corpus
    (⌈log₂(N/cap)⌉ planes) instead of the flat 4 that made per-bucket
    volume grow with N.

    NOTE (default-on trade): the cap deterministically samples oversize
    buckets (each probe sees ONE of the ⌈size/cap⌉ sub-buckets), so
    recall on skewed corpora is below the uncapped figure — measured
    0.738→0.562 at the forced-split point (BENCH.md r5). Pass
    ``max_bucket_size=None`` to opt back into exact bucket joins."""
    return ann_topk(
        corpus,
        corpus.select(
            F.col(id_col).alias("query_id"), F.col(vec_col)
        ),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col="query_id",
        n_planes=n_planes,
        n_tables=n_tables,
        multiprobe=multiprobe,
        broadcast_queries=False,
        max_bucket_size=max_bucket_size,
    )


def jl_project(
    emb: DataFrame,
    dim_count: int,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (id, proj: array<double>[out_dim]): Johnson-Lindenstrauss
    random projection — proj_j = <v, r_j> / sqrt(out_dim) with r_j the
    md5-derived pseudo-random plane family "jl{j}" (same [-1, 1)
    component construction as the sign-LSH planes, disjoint namespace).

    The cheap dimensionality reducer in front of ANN / clustering at
    scale: a pure zero-shuffle whole-stage-codegen projection — the
    projection matrix never materializes anywhere, each component is
    recomputed from md5 inside the expression, so there is no
    broadcast, no state, and the DuckDB twin replays it exactly.
    Distance preservation follows JL for out_dim = O(log n / eps^2);
    unit-tested against an independent numpy replication.
    """
    v = F.col(vec_col)
    dimc = F.lit(dim_count)
    norm = math.sqrt(float(out_dim))
    comps = [plane_dot(v, dimc, f"jl{j}") / F.lit(norm) for j in range(out_dim)]
    return emb.select(F.col(id_col), F.array(*comps).alias("proj"))
