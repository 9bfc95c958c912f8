"""Deduplication operators: exact, MinHash-LSH, SimHash, embedding."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from character_identification_spark.functions.minhash import minhash_bands
from character_identification_spark.operators.dedup import (
    dedup_clusters,
    embedding_dup_pairs,
    exact_dedup,
    minhash_dup_pairs,
    simhash,
    simhash_dup_pairs,
    word_shingles,
)

DOC = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun"
)
DOC_EDIT = DOC.replace("lazy dog", "lazy hound")  # near-dup: 1 word changed
DOC_OTHER = (
    "completely different content about spark dataframes shuffles and "
    "catalyst optimizer internals nothing shared with animals at all"
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(0, DOC), (1, DOC), (2, DOC_EDIT), (3, DOC_OTHER)],
        "doc_id long, text string",
    ).cache()


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r for r in exact_dedup(docs).collect()}
    assert out[0]["canonical_id"] == 0 and not out[0]["is_duplicate"]
    assert out[1]["canonical_id"] == 0 and out[1]["is_duplicate"]
    assert out[2]["canonical_id"] == 2 and not out[2]["is_duplicate"]
    assert out[0]["group_size"] == 2 and out[3]["group_size"] == 1


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    (row,) = df.select(word_shingles("text", 3).alias("s")).collect()
    assert row["s"] == ["a b c", "b c d"]


def test_minhash_dup_pairs(spark, docs):
    pairs = {
        (r["id1"], r["id2"]): r
        for r in minhash_dup_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert pairs[(0, 1)]["jaccard"] == 1.0 and pairs[(0, 1)]["is_dup"]
    assert (0, 2) in pairs and pairs[(0, 2)]["is_dup"]  # near-dup caught
    assert all(not v["is_dup"] for k, v in pairs.items() if 3 in k)


def test_minhash_signatures_deterministic(spark, docs):
    def sigs(d):
        bands = minhash_bands(d, word_shingles("text", 3), ["doc_id"], 16, 2)
        return sorted(map(tuple, bands.collect()))

    a = sigs(docs)
    assert len(a) == 4 * 8  # 8 bands of 2 per doc
    assert a == sigs(docs.repartition(7))


def test_simhash_properties(spark, docs):
    h = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert h[0] == h[1]  # identical text → identical hash
    assert all(v >= 0 for v in h.values())
    ham_edit = bin(h[0] ^ h[2]).count("1")
    ham_other = bin(h[0] ^ h[3]).count("1")
    assert ham_edit < ham_other  # near-dup closer than unrelated


def test_simhash_dup_pairs(spark, docs):
    hashes = simhash(docs)
    h = {r["doc_id"]: r["simhash"] for r in hashes.collect()}
    pairs = simhash_dup_pairs(hashes, max_hamming=8, n_bands=4)
    got = {(r["id1"], r["id2"]): r for r in pairs.collect()}
    assert (0, 1) in got and got[(0, 1)]["hamming"] == 0 and got[(0, 1)]["is_dup"]
    # hamming values are true XOR popcounts
    for (i, j), r in got.items():
        assert r["hamming"] == bin(h[i] ^ h[j]).count("1")
    # pigeonhole guarantee: every pair with hamming <= n_bands-1 is found
    ids = sorted(h)
    for i in ids:
        for j in ids:
            if i < j and bin(h[i] ^ h[j]).count("1") <= 3:
                assert (i, j) in got


def test_embedding_dup_pairs_exact(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.01, 0.0]),
            (2, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    got = {(r["id1"], r["id2"]): r for r in
           embedding_dup_pairs(emb, threshold=0.99, n_planes=0).collect()}
    assert got[(0, 1)]["is_dup"]
    assert not got[(0, 2)]["is_dup"]
    # default LSH path: a subset of the exact pairs, and near-parallel
    # vectors (identical plane signs) are never pruned
    lsh = {(r["id1"], r["id2"]): r for r in
           embedding_dup_pairs(emb, threshold=0.99).collect()}
    assert set(lsh) <= set(got)
    assert (0, 1) in lsh and lsh[(0, 1)]["is_dup"]


def test_dedup_clusters_transitive(spark, docs):
    pairs = spark.createDataFrame(
        [(0, 1, True), (1, 2, True), (2, 3, False)],
        "id1 long, id2 long, is_dup boolean",
    )
    out = {r["doc_id"]: (r["dup_group"], r["keep"]) for r in dedup_clusters(pairs, docs).collect()}
    assert out[0] == (0, True)
    assert out[1] == (0, False)
    assert out[2] == (0, False)  # transitive through 1
    assert out[3] == (3, True)


def test_simhash_numpy_equals_relational(spark):
    """The mapInPandas scale path and the relational oracle twin are
    bit-identical over adversarial texts (unicode, repeated tokens, odd
    whitespace, empty string)."""
    rows = [
        (0, "a"),
        (1, ""),
        (2, "   "),
        (3, "a a a b"),
        (4, "tab\tseparated\tand  double  spaced"),
        (5, "ünïcode tökens naïve café café"),
        (6, " ".join(f"w{i % 17}" for i in range(500))),
        (7, "punctuation, stays! as-is? yes."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r["simhash"] for r in simhash(docs, impl="numpy").collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash(docs, impl="relational").collect()}
    assert a == b
    # null text: both implementations drop the row
    docs_null = spark.createDataFrame([(9, None)], "doc_id long, text string")
    assert simhash(docs_null, impl="numpy").count() == 0
    assert simhash(docs_null, impl="relational").count() == 0


def test_simhash_numpy_is_partitioning_invariant(spark, docs):
    one = {r["doc_id"]: r["simhash"] for r in
           simhash(docs.repartition(1), impl="numpy").collect()}
    many = {r["doc_id"]: r["simhash"] for r in
            simhash(docs.repartition(7), impl="numpy").collect()}
    assert one == many


def test_duplicated_spans_merges_islands(spark):
    """Span-level exact-substring dedup (duplicated_spans): shared k-token
    windows merge into maximal per-document spans; unshared documents and
    sub-k documents produce nothing."""
    from character_identification_spark.operators.dedup import duplicated_spans

    a_toks = [f"a{i}" for i in range(20)]
    b_toks = a_toks[5:16] + ["bx", "by", "bz"]  # shares a5..a15 (11 tokens)
    rows = [
        (1, " ".join(a_toks)),
        (2, " ".join(b_toks)),
        (3, "totally unrelated words only once here"),
        (4, "too short"),  # < k tokens → no windows, no crash
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicated_spans(docs, k=4, min_docs=2)
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"], r["max_share"])
        for r in out.collect()
    }
    # 11 shared tokens → 8 overlapping 4-windows, merged into ONE span
    assert spans[1] == (5, 16, 8, 2)   # a-coordinates [5, 16)
    assert spans[2] == (0, 11, 8, 2)   # b-coordinates [0, 11)
    assert 3 not in spans and 4 not in spans
    # partitioning invariance: the md5 window hash is a pure function
    out2 = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"], r["max_share"])
        for r in duplicated_spans(docs.repartition(5), k=4, min_docs=2).collect()
    }
    assert out2 == spans


def test_decontaminate_flags_probe_overlap(spark):
    """Benchmark decontamination: docs sharing a verbatim k-window with a
    probe flag, everything else (incl. sub-k docs) stays clean."""
    from character_identification_spark.operators.dedup import decontaminate

    bench = " ".join(f"q{i}" for i in range(10))  # the "benchmark" text
    docs = spark.createDataFrame(
        [
            (1, "intro words " + bench + " outro"),  # verbatim inclusion
            (2, "totally clean document with enough words to window"),
            (3, "q0 q1 q2 shuffled q4 q3 q5 q6 q7 q8 q9"),  # broken order
            (4, "short"),
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame([(100, bench)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in decontaminate(docs, probes, k=4).collect()}
    assert out[1]["contaminated"] and out[1]["n_hits"] >= 7
    assert not out[2]["contaminated"] and out[2]["n_hits"] == 0
    # the shuffle breaks every 4-window except the q5..q9 tail run
    assert out[3]["contaminated"] and out[3]["n_hits"] <= 2
    assert not out[4]["contaminated"]


def test_semantic_dedup(spark):
    """Keep/drop law: a vector is dropped iff a LOWER-id member of its
    cluster exceeds tau; orthogonal vectors all survive."""
    from character_identification_spark.operators.dedup import semantic_dedup

    # 3 near-identical vectors (ids 0,1,2) + 2 orthogonal ones
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.14, 0.0, 0.0]),   # cos ≈ 0.99 with id 0
        (2, [0.97, 0.0, 0.24, 0.0]),   # cos ≈ 0.97 with id 0
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 1.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in
           semantic_dedup(e, n_centroids=2, tau=0.9).collect()}
    assert len(out) == 5  # every input row appears
    assert out[0]["keep"]            # lowest id of its similar group
    # 1 and 2 land with 0 iff they share its cluster; when they do, drop
    for vid in (1, 2):
        same_cluster = out[vid]["cid"] == out[0]["cid"]
        assert out[vid]["keep"] == (not same_cluster)
    assert out[3]["keep"] and out[4]["keep"]  # orthogonal → no dominator


def test_prefix_jaccard_equals_brute_force(spark):
    """The prefix filter must be COMPLETE: the pair set at tau equals
    the all-pairs Jaccard≥tau set exactly (guarantee, not recall)."""
    from character_identification_spark.operators.dedup import (
        prefix_jaccard_pairs,
        word_shingles,
    )

    base = [
        "the quick brown fox jumps over the lazy dog tonight",
        "the quick brown fox jumps over the lazy dog today",
        "a completely different document about spark shuffles",
        "a completely different document about spark shuffles and joins",
        "the quick brown fox jumps over the lazy dog tonight",  # exact dup
        "entirely unrelated text with unique tokens here",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(base)], "doc_id long, text string"
    )
    for tau in (0.5, 0.7, 0.9):
        got = {(r["id1"], r["id2"]): r["jaccard"]
               for r in prefix_jaccard_pairs(docs, tau=tau, n=3).collect()}
        sh = docs.select("doc_id", word_shingles("text", 3).alias("sh"))
        a = sh.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1"))
        b = sh.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2"))
        brute = {
            (r["id1"], r["id2"]): r["j"]
            for r in a.crossJoin(b)
            .filter(F.col("id1") < F.col("id2"))
            .select(
                "id1", "id2",
                (F.size(F.array_intersect("sh1", "sh2"))
                 / F.size(F.array_union("sh1", "sh2")).cast("double")).alias("j"),
            )
            .filter(F.col("j") >= tau)
            .collect()
        }
        assert got == brute, (tau, got, brute)


def test_minhash_dup_pairs_buckets_stable_under_repartition(spark, docs):
    """The capped bucket rows feeding minhash_dup_pairs are a pure
    function of the data: physical partitioning changes nothing, also
    when a cap of 1 salt-splits every shared bucket."""
    from character_identification_spark.operators.dedup import (
        _doc_buckets,
        _doc_shingles,
    )

    def rows(d, cap):
        out = _doc_buckets(_doc_shingles(d, "doc_id", "text", 3), "doc_id", 16, 2, cap)
        return sorted(map(tuple, out.collect()))

    for cap in (1000, 1):
        a = rows(docs, cap)
        assert len(a) == 4 * 8  # 8 bands per doc
        assert any("#" in bucket for _, bucket in a) == (cap == 1)
        assert a == rows(docs.repartition(7), cap), cap


@pytest.mark.parametrize("cap", [2, 1000])
def test_minhash_dup_pairs_matches_capped_duckdb_twin(spark, docs, cap):
    """The oracle twin mirrors the bucket cap: at cap=2 the three-doc
    buckets salt-split, and Spark and DuckDB still agree row for row."""
    import duckdb

    from character_identification_spark.oracles import _dedup_minhash_verified

    got = sorted(
        map(
            tuple,
            minhash_dup_pairs(docs, max_bucket_size=cap)
            .select("id1", "id2", "jaccard")
            .collect(),
        )
    )
    con = duckdb.connect()
    con.register("fixture", docs.toPandas())
    exp = sorted(
        con.sql(
            "WITH docs AS (SELECT doc_id, text FROM fixture),"
            + _dedup_minhash_verified(cap)
            + "SELECT id1, id2, jaccard FROM verified"
        ).fetchall()
    )
    assert got == exp and got
    if cap == 2:
        from character_identification_spark.operators.dedup import (
            _doc_buckets,
            _doc_shingles,
        )

        sh = _doc_shingles(docs, "doc_id", "text", 3)
        buckets = _doc_buckets(sh, "doc_id", 16, 2, cap).collect()
        assert any("#" in r["bucket"] for r in buckets)
