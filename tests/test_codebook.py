"""The md5-exemplar codebook (functions/vectors): one exemplar draw, one
literal per vector and one nearest-centroid rank behind IVF, IVF-PQ, PQ,
k-means, k-center and SemDeDup, each checked against its DuckDB twin."""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from character_identification_spark import oracles
from character_identification_spark.functions.vectors import (
    md5_exemplars,
    vec_lit,
)
from character_identification_spark.operators.cluster import (
    kcenter_fit_predict,
    kmeans_fit_predict,
    pq_train_encode,
)
from character_identification_spark.operators.dedup import semantic_dedup
from character_identification_spark.operators.similarity import ivf_topk

PKG = Path(__file__).resolve().parents[1] / "character_identification_spark"
SCHEMA = "vec_id long, embedding array<float>"

# vector 0 has zero norm: its cosine with every centroid is NULL, and a
# NULL must rank last, never capture the row
ZERO_NORM = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.9, 0.1]),
             (3, [0.0, 1.0]), (4, [0.1, 0.9])]


def _twin(emb, sql):
    con = duckdb.connect()
    con.register("embeddings", emb.toPandas())
    return con.sql(sql).fetchall()


def test_vec_lit_is_one_double_array_literal(spark):
    df = spark.range(1).select(vec_lit([1, 0.5, -2.25]).alias("v"))
    assert df.first()["v"] == [1.0, 0.5, -2.25]
    assert df.schema["v"].dataType.simpleString() == "array<double>"


def test_md5_exemplars_match_duckdb_draw(spark):
    emb = spark.createDataFrame([(i, [float(i)]) for i in range(40)], SCHEMA)
    got = [r[0] for r in md5_exemplars(emb, "vec_id", 7, "vec_id")]
    exp = _twin(
        emb,
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) "
        f"SELECT vec_id FROM {oracles._dd_exemplars(7)} ORDER BY r",
    )
    assert got == [r[0] for r in exp] and len(got) == 7


def test_semantic_dedup_zero_norm_centroid_ranks_last(spark):
    emb = spark.createDataFrame(ZERO_NORM, SCHEMA)
    got = sorted(map(tuple, semantic_dedup(emb, n_centroids=16, tau=0.35).collect()))
    # every vector is its own exemplar, so each is its own cell and stays
    assert got == [(i, i, True) for i in range(5)]
    assert got == sorted(_twin(emb, oracles.SQL_DEDUP_SEMANTIC))


def test_ivf_topk_zero_norm_centroid_ranks_last(spark):
    emb = spark.createDataFrame(ZERO_NORM, SCHEMA)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(emb, queries, k=10, n_centroids=16, nprobe=4).select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank"
    )
    got = sorted(map(tuple, out.collect()), key=repr)
    assert len(got) == 15  # 5 queries × 3 probed non-self cells
    assert got == sorted(_twin(emb, oracles.SQL_SIMILARITY_IVF), key=repr)


def test_empty_corpus_gives_zero_rows(spark):
    empty = spark.createDataFrame([], SCHEMA)
    out = semantic_dedup(empty)
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<vec_id:bigint,cid:int,keep:boolean>"
    assert _twin(spark.createDataFrame([(0, [1.0])], SCHEMA).limit(0),
                 oracles.SQL_DEDUP_SEMANTIC) == []

    queries = spark.createDataFrame(ZERO_NORM, SCHEMA).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert ivf_topk(empty, queries).collect() == []
    assert ivf_topk(empty, queries.limit(0)).collect() == []


@pytest.mark.parametrize(
    "fit",
    [
        lambda df: kmeans_fit_predict(df, k=2),
        lambda df: kcenter_fit_predict(df, k=2),
        lambda df: pq_train_encode(df, n_blocks=1, k=2),
    ],
    ids=["kmeans", "kcenter", "pq"],
)
def test_fitted_codebooks_reject_empty_corpus(spark, fit):
    with pytest.raises(ValueError):
        fit(spark.createDataFrame([], SCHEMA))


def test_codebook_written_only_in_vectors_and_one_oracle_fragment():
    # the exemplar draw and the per-vector literal live in functions/
    # vectors.py; a second copy anywhere else is a hand-written codebook
    spark_copy = re.compile(
        r"orderBy\(F\.md5\(|F\.lit\(float\(x\)\) for x in|F\.lit\(x\) for x in r\["
    )
    found = [
        f"{path.relative_to(PKG).as_posix()}:{i}"
        for path in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if spark_copy.search(line)
    ]
    assert found and all(f.startswith("functions/vectors.py:") for f in found), found

    src = (PKG / "oracles.py").read_text()
    assert src.count("ORDER BY md5(CAST(vec_id AS VARCHAR))") == 1
    draw = src.index("ORDER BY md5(CAST(vec_id AS VARCHAR))")
    assert src.rindex("def ", 0, draw) == src.index("def _dd_exemplars(")
