"""Similarity search: exact top-k baseline + LSH recall."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
needs_data = pytest.mark.skipif(not os.path.exists(SF), reason="testdata absent")

from character_identification_spark.operators.similarity import (
    ann_topk,
    cosine_topk,
    sign_lsh_bucket,
)


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(0)
    vecs = rng.randn(60, 8).astype(np.float32)
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_cosine_topk_matches_numpy(spark, emb):
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in rows}
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = cosine_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cos_sim"]))
    for q in range(3):
        qv = vecs[q]
        sims = {
            i: float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
            for i, v in vecs.items()
            if i != q
        }
        expect = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        ours = sorted(by_q[q])
        assert [n for _, n, _ in ours] == [i for i, _ in expect]
        for (_, _, s), (_, es) in zip(ours, expect):
            assert s == pytest.approx(es, abs=1e-5)


def test_sign_lsh_bucket_deterministic(spark, emb):
    a = sorted(
        map(
            tuple,
            emb.select("vec_id", sign_lsh_bucket("embedding", F.lit(8), 6).alias("b")).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            emb.repartition(5)
            .select("vec_id", sign_lsh_bucket("embedding", F.lit(8), 6).alias("b"))
            .collect(),
        )
    )
    assert a == b
    assert all(0 <= x[1] < 64 for x in a)

    # bucket bits replayed from the md5 planes: bit p is the sign of the
    # left-fold dot with plane first_plane+p (ann_candidates' table t
    # uses first_plane = t*n_planes, so this pins the per-table buckets)
    import hashlib

    def comp(plane, d):
        h = int(hashlib.md5(f"{plane}|{d}".encode()).hexdigest()[:15], 16)
        return h / float(2**59) - 1.0

    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    for first in (0, 6):
        got = dict(
            emb.select(
                "vec_id", sign_lsh_bucket("embedding", F.lit(8), 6, first_plane=first)
            ).collect()
        )
        planes = np.array([[comp(first + p, d) for d in range(8)] for p in range(6)])
        for i, v in vecs.items():
            expect = 0
            for p in range(6):
                dp = 0.0
                for x, c in zip(v, planes[p]):
                    dp += float(x) * float(c)
                expect |= (1 << p) if dp >= 0 else 0
            assert got[i] == expect, (first, i)


def test_ann_topk_recall(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=3).collect()
    approx = ann_topk(emb, queries, k=3, n_planes=4, n_tables=4).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, recall  # multi-table LSH at 8 dims: moderate bar
    # every reported sim must still be exact (rerank is exact)
    by_pair = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in by_pair:
            assert r["cos_sim"] == pytest.approx(by_pair[key], abs=1e-6)


@needs_data
def test_ivf_topk_recall_and_shape(spark):
    """IVF probes a subset of lists; results are a subset of the exact
    ranking universe with decent recall@10 on clustered data."""
    from character_identification_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             cosine_topk(e, q, k=10).collect()}
    ivf = [(r["query_id"], r["neighbor_id"], r["rank"]) for r in
           ivf_topk(e, q, k=10, n_centroids=8, nprobe=3).collect()]
    assert len(ivf) > 0
    # per query at most k rows, ranks dense from 1
    import collections

    per = collections.defaultdict(list)
    for qid, nid, rk in ivf:
        per[qid].append(rk)
    for ranks in per.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    hits = sum((qid, nid) in exact for qid, nid, _ in ivf)
    assert hits / len(exact) >= 0.3  # probing 3/8 lists on label-clustered vectors


@needs_data
def test_ann_recall_gates(spark):
    """Measured recall@10 gates (BENCH.md table — every number is
    md5-deterministic, so the bounds are measured − a small margin, and
    the IVF nprobe knob must be monotone). Round 4 flips the similarity_ann
    CONTRACT default to the measured-good 2-table × 4-plane point; the old
    2×6 config stays here as the retained determinism fixture (weak recall,
    gated at its own measured bound)."""
    from character_identification_spark.operators.similarity import ivf_topk

    e = spark.read.parquet(SF + "/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    ).cache()
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             cosine_topk(e, q, k=10).collect()}

    def recall(df):
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(exact & got) / len(exact)

    # sign-LSH: more tables / fewer planes raise recall (measured 0.188).
    # 2×4 is the round-4 CONTRACT default (q_similarity_ann) — its gate is
    # the binding one; 2×6 is the retained round-3 determinism fixture.
    base24 = recall(ann_topk(e, q, k=10, n_planes=4, n_tables=2))
    assert base24 >= 0.17
    assert recall(ann_topk(e, q, k=10, n_planes=6, n_tables=4)) >= 0.17
    assert recall(ann_topk(e, q, k=10, n_planes=6, n_tables=2)) >= 0.06
    # round-4 multi-probe (1-bit query-side perturbations): measured
    # 0.738 sf0.001 / 0.662 sf0.01 at 2×4 — the best sign-LSH point,
    # past IVF nprobe=8; must also dominate its unprobed base
    mp24 = recall(ann_topk(e, q, k=10, n_planes=4, n_tables=2, multiprobe=True))
    assert mp24 >= 0.60 and mp24 >= base24, (base24, mp24)
    # round-5 contract point (max_bucket_size=32 forces splits at this
    # SF: buckets avg 31/max 42 → nsplit ≤ 2): measured 0.562 sf0.001 /
    # 0.475 sf0.01 — the documented deterministic 1/nsplit sampling
    # trade on hot buckets; at production sizing (planes_for keeps
    # E[bucket] ≈ cap) splits only hit stragglers
    mp24_cap = recall(
        ann_topk(e, q, k=10, n_planes=4, n_tables=2, multiprobe=True,
                 max_bucket_size=32)
    )
    assert 0.50 <= mp24_cap <= mp24, (mp24_cap, mp24)
    assert recall(
        ann_topk(e, q, k=10, n_planes=6, n_tables=2, multiprobe=True)
    ) >= 0.30
    # IVF: measured 0.338 / 0.500 / 0.650 across nprobe 2/4/8 — gate the
    # levels and the monotonicity of the quality knob
    r2 = recall(ivf_topk(e, q, k=10, n_centroids=16, nprobe=2))
    r4 = recall(ivf_topk(e, q, k=10, n_centroids=16, nprobe=4))
    r8 = recall(ivf_topk(e, q, k=10, n_centroids=16, nprobe=8))
    assert r4 >= 0.45 and r8 >= 0.60, (r2, r4, r8)
    assert r2 <= r4 <= r8, (r2, r4, r8)
    e.unpersist()


@needs_data
def test_knn_graph_shape_and_no_query_broadcast(spark):
    """Every vector gets ≤ k ranked neighbors, the graph contains no
    self-edges, and the corpus-as-queries side carries NO forced
    broadcast hint — join strategy is left to AQE (which may still pick
    broadcast at this tiny scale, but a corpus-sized query set will get
    a shuffle join; a hard hint would pin the driver-overflow plan)."""
    from character_identification_spark.operators.similarity import ann_topk, knn_graph

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    g = knn_graph(e, k=5)
    assert "ResolvedHint" not in g._jdf.queryExecution().optimizedPlan().toString()
    # sanity: the point-lookup default DOES hint broadcast
    q = e.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    hinted = ann_topk(e, q, k=3, n_planes=4, n_tables=2)
    assert "broadcast" in hinted._jdf.queryExecution().analyzed().toString()
    rows = g.collect()
    assert rows
    per = {}
    for r in rows:
        assert r["query_id"] != r["neighbor_id"]
        per.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 5


def test_planes_for_scales_bucket_space(spark):
    """n_planes derives from the corpus/target ratio: E[bucket] stays
    near the target at any scale instead of growing linearly (the
    round-4 audit's scale-killer at flat n_planes=4)."""
    from character_identification_spark.operators.similarity import planes_for

    assert planes_for(0) == 2
    assert planes_for(1000, 1000) == 2            # clamp floor
    assert planes_for(16_000, 1000) == 4
    assert planes_for(1_000_000_000, 1000) == 20  # 1B vectors → 2^20 buckets
    assert planes_for(10**12, 1000) == 24         # clamp ceiling
    prev = 0
    for n in (10**3, 10**5, 10**7, 10**9, 10**11):
        cur = planes_for(n, 1000)
        assert cur >= prev
        prev = cur
    # n_planes=None wires the derivation into the operator (one count job)
    from character_identification_spark.operators.similarity import ann_candidates

    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(8).tolist()) for i in range(40)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = e.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    # 40 rows, target 10 → ceil(log2(4)) = 2 planes → buckets t{0,1}:0..3
    cand = ann_candidates(e, q, n_planes=None, n_tables=1, max_bucket_size=10)
    assert cand.count() > 0


def test_ann_candidates_cap_bounds_volume(spark):
    """The round-5 skew fix, property-tested: with every vector forced
    into ONE bucket (identical vectors — the worst-case hot key), the
    salted cap bounds candidate volume to probe_rows × cap (linear in
    N) where the uncapped join is quadratic."""
    from character_identification_spark.operators.similarity import ann_candidates

    n, cap = 120, 10
    base = [1.0, 0.5, -0.25, 0.125]
    rows = [(i, [x * (1 + 1e-9 * i) for x in base]) for i in range(n)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = e.select(F.col("vec_id").alias("query_id"), "embedding")

    capped = ann_candidates(
        e, q, n_planes=2, n_tables=2, broadcast_queries=False, max_bucket_size=cap
    )
    uncapped = ann_candidates(
        e, q, n_planes=2, n_tables=2, broadcast_queries=False, max_bucket_size=None
    )
    n_capped, n_uncapped = capped.count(), uncapped.count()
    probe_rows = n * 2  # one probe per table, no multiprobe
    assert n_capped <= probe_rows * cap, (n_capped, probe_rows * cap)
    assert n_uncapped == n * (n - 1)  # all-in-one-bucket quadratic blowup
    assert n_capped < n_uncapped / 4
    # salting is data-deterministic: physical partitioning must not matter
    again = ann_candidates(
        e.repartition(7), q.repartition(3),
        n_planes=2, n_tables=2, broadcast_queries=False, max_bucket_size=cap,
    )
    a = sorted((r["query_id"], r["neighbor_id"]) for r in capped.collect())
    b = sorted((r["query_id"], r["neighbor_id"]) for r in again.collect())
    assert a == b


def test_ann_topk_cap_vacuous_when_buckets_fit(spark, emb):
    """A cap larger than every bucket must be a no-op — the salted plan
    and the raw bucket join agree row-for-row."""
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    raw = ann_topk(
        emb, queries, k=5, n_planes=4, n_tables=2, max_bucket_size=None
    ).collect()
    capped = ann_topk(
        emb, queries, k=5, n_planes=4, n_tables=2, max_bucket_size=1000
    ).collect()
    assert sorted(map(tuple, raw)) == sorted(map(tuple, capped))


def test_jl_project_matches_numpy_replication(spark):
    from character_identification_spark.operators.similarity import jl_project
    import hashlib

    rng = np.random.RandomState(11)
    vecs = rng.randn(5, 12)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: list(r["proj"]) for r in jl_project(df, 12, out_dim=4).collect()}

    def comp(j, d):
        h = int(hashlib.md5(f"jl{j}|{d}".encode()).hexdigest()[:15], 16)
        return h / float(2**59) - 1.0

    R = np.array([[comp(j, d) for d in range(12)] for j in range(4)])
    for i, v in enumerate(vecs):
        expect = (R @ v) / np.sqrt(4.0)
        assert np.allclose(out[i], expect, atol=1e-9), (i, out[i], expect)


def test_jl_project_preserves_relative_distances(spark):
    from character_identification_spark.operators.similarity import jl_project

    # Deterministic (md5 planes, fixed input): a far pair must stay
    # farther than a near pair after 64→16 projection.
    rng = np.random.RandomState(2)
    base = rng.randn(64)
    near = base + 0.01 * rng.randn(64)
    far = rng.randn(64) * 3
    rows = [(0, base.tolist()), (1, near.tolist()), (2, far.tolist())]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: np.array(r["proj"]) for r in jl_project(df, 64, out_dim=16).collect()}
    d_near = np.linalg.norm(out[0] - out[1])
    d_far = np.linalg.norm(out[0] - out[2])
    assert d_near < d_far


@needs_data
@pytest.mark.parametrize("name", ["dedup_semantic", "similarity_ivf"])
def test_cosine_codebook_queries_match_twins(spark, name):
    # dedup_semantic self-joins on the ranked cid over a projected
    # (float → double) embedding: the filter the optimizer infers for
    # both join sides must still bind the vector the rank reads
    import duckdb

    from character_identification_spark.driver_contract import QUERIES
    from character_identification_spark.oracles import ORACLES

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{SF}/embeddings.parquet'")
    got = sorted(map(tuple, QUERIES[name](spark, SF).collect()), key=repr)
    assert got and got == sorted(con.sql(ORACLES[name]).fetchall(), key=repr)
