"""Lloyd's k-means over embedding columns, Spark-first and oracle-exact.

The canonical scalable formulation (MLlib's own dataflow, re-derived
relationally): centroids are a k×dim table that lives on the driver and
enters the plan as LITERALS, so the assignment step is a zero-shuffle
whole-stage-codegen projection over the corpus; the update step is one
(cluster, slot)-keyed aggregation — map-side partial sums collapse each
partition to ≤ k·dim rows before the exchange, so the shuffle is
constant-size at any corpus scale. n_iters driver rounds, like
operators/cc.py's loop discipline.

Determinism contract (what makes the DuckDB twin value-exact):
- init = the k rows with smallest (md5(id), id) — the same md5-exemplar
  codebook rule as dedup.semantic_dedup / similarity.ivf_topk;
- every working centroid is quantized to integer MICROS (round(x·1e6),
  a Spark-side round both engines reproduce — the cluster_embeddings
  precedent), so each round's assignment input is a pure integer
  function of the previous round;
- per-centroid squared distance is rounded to micros BEFORE the argmin
  and ties break on centroid index, so the winner is integer-determined;
- a cluster that loses all members keeps its previous centroid.

Reference anchor: the reference has no clustering beyond transitive
closure; this is the M1-encoder-style geometric counterpart the
curation stack needs (SemDeDup's own step 1 is exactly this k-means).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from character_identification_spark.functions.partitioning import topk_per_group
from character_identification_spark.session import materialize

MICROS = 1_000_000.0


def _best_centroid(vec, centroids: list[list[float]]):
    """(dist_micros, cluster) argmin against a literal centroid table.

    The centroids enter as ONE literal array<array<double>> consumed by
    higher-order functions, so the generated code contains a single
    distance-fold lambda regardless of k — an array_sort over k copies
    of the fold was measured at ~19 s of codegen for k·n_blocks = 128
    at PQ scale vs ~2 s for this shape. Values are identical: same
    sequential fold per centroid, same micros rounding, argmin by
    (dist_micros, index). The two-parameter transform lambda receives
    (element, index) from Spark — the index IS the cluster id here.
    """
    cents = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    dists = F.transform(
        cents,
        lambda c: F.round(
            F.aggregate(
                F.zip_with(vec, c, lambda a, y: (a - y) * (a - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * MICROS
        ).cast("long"),
    )
    pairs = F.transform(
        dists,
        lambda d, i: F.struct(d.alias("dist_micros"), i.alias("cluster")),
    )
    return F.element_at(F.array_sort(pairs), 1)


def _assign(base: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Argmin-by-(dist_micros, cluster) — pure projection, no shuffle,
    no Python."""
    best = _best_centroid(F.col(vec_col), centroids)
    return base.withColumn("cluster", best["cluster"]).withColumn(
        "dist_micros", best["dist_micros"]
    )


def kmeans_fit_predict(
    emb: DataFrame,
    k: int = 8,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (id, cluster, dist_micros): Lloyd's k-means, ``n_iters`` update
    rounds from the md5-exemplar init, final assignment under the final
    centroids. Fixed iteration count (not convergence-tested) keeps the
    result a pure function of the input, exactly replayable by the
    unrolled-CTE oracle twin.
    """
    base = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    # Init: k exemplars by (md5(id), id); micros-quantized in Spark so
    # the oracle's round() is the same round().
    init_rows = (
        base.orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(k)
        .select(
            F.transform(
                F.col("_v"), lambda x: F.round(x * MICROS).cast("long")
            ).alias("m")
        )
        .collect()
    )
    if len(init_rows) < k:
        raise ValueError(
            f"corpus has fewer than k={k} rows ({len(init_rows)}) — "
            "cannot seed the codebook"
        )
    centroids = [[m / MICROS for m in r["m"]] for r in init_rows]
    dim = len(centroids[0])

    for _ in range(n_iters):
        assigned = _assign(base, "_v", centroids)
        new_rows = (
            assigned.select("cluster", F.posexplode(F.col("_v")).alias("slot", "val"))
            .groupBy("cluster", "slot")
            .agg(F.round(F.avg("val") * MICROS).cast("long").alias("m"))
            .collect()
        )
        by_cluster: dict[int, dict[int, int]] = {}
        for r in new_rows:
            by_cluster.setdefault(r["cluster"], {})[r["slot"]] = r["m"]
        centroids = [
            [by_cluster[ci][s] / MICROS for s in range(dim)]
            if ci in by_cluster
            else centroids[ci]  # empty cluster keeps its previous centroid
            for ci in range(k)
        ]

    return _assign(base, "_v", centroids).select(
        F.col("_id").alias(id_col), "cluster", "dist_micros"
    )


def kcenter_fit_predict(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (id, cluster, dist_micros): Gonzalez farthest-first traversal —
    the deterministic k-center seeding (a 2-approximation for the
    k-center objective, Gonzalez 1985) this engine uses where k-means++
    would reach for RNG: seed 0 is the md5-lowest row, each next seed is
    the point FARTHEST from the current seed set (max min-distance, ties
    to the lowest id). The final assignment maps every row to its
    nearest seed.

    Every selection round is integer-determined: seeds are
    micros-quantized, distances micros-rounded (the kmeans contract), so
    the winner of each (dmin desc, id asc) argmax — and therefore the
    whole seed sequence — replays exactly in the unrolled-CTE twin.

    Scale shape: k−1 corpus scans, each a zero-shuffle literal-centroid
    projection feeding ONE TakeOrderedAndProject (per-partition top-1 +
    driver merge of partition winners — no sort, no exchange); the
    result assignment is the same codegen projection kmeans uses. The
    driver holds k vectors. Standard k-center cost: O(k·|corpus|).
    """
    base = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    quant = F.transform(F.col("_v"), lambda x: F.round(x * MICROS).cast("long"))
    first = (
        base.orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(1)
        .select(quant.alias("m"))
        .collect()
    )
    if not first:
        raise ValueError("corpus is empty — cannot seed k-center")
    cents = [[m / MICROS for m in first[0]["m"]]]
    for _ in range(1, k):
        nxt = (
            _assign(base, "_v", cents)
            .orderBy(F.desc("dist_micros"), F.asc("_id"))
            .limit(1)
            .select(quant.alias("m"))
            .collect()
        )
        cents.append([m / MICROS for m in nxt[0]["m"]])
    return _assign(base, "_v", cents).select(
        F.col("_id").alias(id_col), "cluster", "dist_micros"
    )


def pq_train_encode(
    emb: DataFrame,
    n_blocks: int = 8,
    k: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (id, codes: array<int>[n_blocks], recon_micros): product
    quantization (Jégou et al. 2011) — the memory side of IVF-PQ ANN at
    scale: each vector compresses to n_blocks sub-space codebook codes
    (here 64 dims → 8 bytes), distances later approximate via per-block
    lookup tables.

    Training is per-block Lloyd's k-means under the SAME determinism
    contract as kmeans_fit_predict (md5-exemplar init shared across
    blocks, micros-quantized centroids, micros-rounded distances with
    index tie-break, empty clusters keep their centroid) — but FUSED:
    one assignment projection computes every block's argmin in a single
    pass, and one (block, cluster, slot)-keyed aggregation updates all
    n_blocks codebooks per round (map-side partials collapse each
    partition to ≤ n_blocks·k·d_b rows). 2 scans per iteration total,
    independent of n_blocks — not 2·n_blocks.

    recon_micros = Σ_b block-distance-micros of the chosen code — an
    INTEGER sum of integers, so the reconstruction-error column is
    exactly replayable too.
    """
    base = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    centroids, d_b = _pq_train(base, n_blocks, k, n_iters)
    n_b = len(centroids)
    final = _pq_assigned(base, centroids, d_b)
    recon = F.col("d0")
    for b in range(1, n_b):
        recon = recon + F.col(f"d{b}")
    return final.select(
        F.col("_id").alias(id_col),
        F.array(*[F.col(f"c{b}") for b in range(n_b)]).alias("codes"),
        recon.alias("recon_micros"),
    )


def _pq_assigned(base: DataFrame, centroids, d_b: int) -> DataFrame:
    """One fused projection: every block's (code, dist_micros) argmin."""
    cols = [F.col("_id"), F.col("_v")]
    for b in range(len(centroids)):
        sub = F.slice(F.col("_v"), b * d_b + 1, d_b)
        best = _best_centroid(sub, centroids[b])
        cols.append(best["cluster"].alias(f"c{b}"))
        cols.append(best["dist_micros"].alias(f"d{b}"))
    return base.select(*cols)


def _pq_train(base: DataFrame, n_blocks: int, k: int, n_iters: int):
    """Shared PQ codebook trainer → (centroids[b][c] sub-vectors, d_b)."""
    init_rows = (
        base.orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(k)
        .select(
            F.transform(
                F.col("_v"), lambda x: F.round(x * MICROS).cast("long")
            ).alias("m")
        )
        .collect()
    )
    if len(init_rows) < k:
        raise ValueError(
            f"corpus has fewer than k={k} rows ({len(init_rows)}) — "
            "cannot seed the PQ codebooks"
        )
    dim = len(init_rows[0]["m"])
    if dim % n_blocks:
        raise ValueError(f"dim {dim} not divisible by n_blocks {n_blocks}")
    d_b = dim // n_blocks
    # centroids[b][c] = d_b-dim sub-vector of exemplar c
    centroids = [
        [[m / MICROS for m in r["m"][b * d_b : (b + 1) * d_b]] for r in init_rows]
        for b in range(n_blocks)
    ]

    for _ in range(n_iters):
        # materialize cuts projection collapse: without it Catalyst
        # inlines all n_blocks argmin mega-expressions into the exploded
        # update agg and codegen time dominates (measured 25 s/iter on
        # 500 rows; 2 s with the barrier)
        code_arr = F.array(*[F.col(f"c{b}") for b in range(n_blocks)])
        a = materialize(
            _pq_assigned(base, centroids, d_b).select(code_arr.alias("codes"), "_v")
        )
        new_rows = (
            a.select("codes", F.posexplode(F.col("_v")).alias("slot", "val"))
            .select(
                (F.col("slot") / d_b).cast("int").alias("b"),
                F.element_at(
                    F.col("codes"), (F.col("slot") / d_b).cast("int") + 1
                ).alias("cluster"),
                (F.col("slot") % d_b).alias("slot_in"),
                "val",
            )
            .groupBy("b", "cluster", "slot_in")
            .agg(F.round(F.avg("val") * MICROS).cast("long").alias("m"))
            .collect()
        )
        got: dict[tuple[int, int], dict[int, int]] = {}
        for r in new_rows:
            got.setdefault((r["b"], r["cluster"]), {})[r["slot_in"]] = r["m"]
        centroids = [
            [
                [got[(b, ci)][s] / MICROS for s in range(d_b)]
                if (b, ci) in got
                else centroids[b][ci]
                for ci in range(k)
            ]
            for b in range(n_blocks)
        ]

    return centroids, d_b


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_blocks: int = 8,
    k_codebook: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """→ (query_id, neighbor_id, approx_micros, rank): PQ asymmetric-
    distance (ADC) top-k search — train codebooks, encode the corpus to
    n_blocks codes, precompute each query's per-block distance TABLE
    (k_codebook micros-rounded entries), then score every corpus vector
    as an INTEGER table-lookup sum. The Jégou et al. 2011 search path:
    the corpus is touched only through its codes, never its floats.

    Scale shape: the encoded corpus is n_blocks ints per row; the query
    tables (queries × n_blocks × k_codebook ints) broadcast; scoring is
    a zero-shuffle projection of integer lookups + adds — exact replay
    on both engines since every table entry and code is an integer.
    The final per-query rank is topk_per_group over the scored rows: the
    planner keeps ≤ k rows per query in each map task before the rank
    shuffle (a Partial WindowGroupLimit), as in similarity.cosine_topk.
    """
    base = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    centroids, d_b = _pq_train(base, n_blocks, k_codebook, n_iters)
    enc = _pq_assigned(base, centroids, d_b).select(
        F.col("_id"),
        F.array(*[F.col(f"c{b}") for b in range(n_blocks)]).alias("codes"),
    )

    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    qt = _adc_tables(q, centroids, d_b)

    joined = enc.crossJoin(F.broadcast(qt)).where(F.col("_id") != F.col("_qid"))
    scored = joined.select(
        F.col("_qid").alias(query_id_col),
        F.col("_id").alias("neighbor_id"),
        _adc_score().alias("approx_micros"),
    )
    return topk_per_group(
        scored, [query_id_col], [F.asc("approx_micros"), F.asc("neighbor_id")], k, "rank"
    )


def _adc_tables(q: DataFrame, centroids, d_b: int) -> DataFrame:
    """(_qid, tabs): per-query per-block integer distance tables against
    the PQ codebooks — tabs[b][c] = micros-rounded ||q_b − centroid||²."""

    # Closure factory, NOT `lambda c, sub=sub`: a two-parameter lambda
    # would receive (element, array_index) and bind the index as `sub`
    # (CLAUDE.md invariant).
    def _tab(sub):
        return lambda c: F.round(
            F.aggregate(
                F.zip_with(sub, c, lambda a, y: (a - y) * (a - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * MICROS
        ).cast("long")

    tab_cols = []
    for b in range(len(centroids)):
        sub = F.slice(F.col("_qv"), b * d_b + 1, d_b)
        cents = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids[b]]
        )
        tab_cols.append(F.transform(cents, _tab(sub)))
    return q.select(F.col("_qid"), F.array(*tab_cols).alias("tabs"))


def _adc_score():
    """codes ⊗ tabs → integer ADC distance (lookup-sum projection)."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("tabs"),
            lambda code, tab: F.element_at(tab, code + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_blocks: int = 8,
    k_codebook: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """→ (query_id, neighbor_id, approx_micros, rank): IVF-PQ — the
    FAISS-style composition of the engine's two ANN tiers: an inverted
    file over a coarse quantizer PRUNES (each query probes its nprobe
    nearest coarse cells, |corpus|·nprobe/n_centroids candidates in
    expectation), and product-quantization ADC SCORES the survivors
    through their n_blocks integer codes only (the memory tier — corpus
    floats are never touched at query time). Jégou et al. 2011 §IV's
    IVFADC with by_residual=false: codes quantize the raw vectors, not
    the cell residuals, which keeps one global codebook and an exactly
    replayable integer contract.

    Determinism: the coarse codebook is the md5-exemplar rule
    (n_centroids lowest (md5(id), id) rows, micros-quantized) with
    micros-rounded L2 argmin + index tie-break — the kmeans/PQ contract
    — so cell assignment, probe sets, codes, and every ADC distance are
    integers both engines reproduce.

    Scale shape: ONE fused zero-shuffle projection computes each corpus
    row's cell AND its PQ codes (literal centroids, whole-stage
    codegen); the index is (cell, 8 codes) per row; the query side
    (queries × nprobe cells + integer tables) broadcasts; scoring is a
    cell-equality join + integer lookup-sum; only the rank window
    shuffles, and only candidate rows reach it."""
    base = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    coarse_rows = (
        base.orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(n_centroids)
        .select(
            F.transform(
                F.col("_v"), lambda x: F.round(x * MICROS).cast("long")
            ).alias("m")
        )
        .collect()
    )
    coarse = [[m / MICROS for m in r["m"]] for r in coarse_rows]
    centroids, d_b = _pq_train(base, n_blocks, k_codebook, n_iters)

    # index build: cell + codes in one literal-centroid projection
    enc = _pq_assigned(base, centroids, d_b).select(
        F.col("_id"),
        _best_centroid(F.col("_v"), coarse)["cluster"].alias("cell"),
        F.array(*[F.col(f"c{b}") for b in range(n_blocks)]).alias("codes"),
    )

    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    # probe set: nprobe nearest coarse cells by (dist_micros, cell)
    ccents = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in coarse])
    cdists = F.transform(
        ccents,
        lambda c, i: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(F.col("_qv"), c, lambda a, y: (a - y) * (a - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                * MICROS
            )
            .cast("long")
            .alias("dist_micros"),
            i.alias("cell"),
        ),
    )
    probes = q.select(
        "_qid", F.explode(F.slice(F.array_sort(cdists), 1, nprobe)).alias("_p")
    ).select("_qid", F.col("_p.cell").alias("cell"))
    qside = _adc_tables(q, centroids, d_b).join(probes, "_qid")

    joined = enc.join(F.broadcast(qside), "cell").where(F.col("_id") != F.col("_qid"))
    scored = joined.select(
        F.col("_qid").alias(query_id_col),
        F.col("_id").alias("neighbor_id"),
        _adc_score().alias("approx_micros"),
    )
    return topk_per_group(
        scored, [query_id_col], [F.asc("approx_micros"), F.asc("neighbor_id")], k, "rank"
    )
