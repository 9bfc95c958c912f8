"""Full-text retrieval over the documents table: BM25 ranking.

The inverted-index dataflow, expressed relationally (Robertson &
Zaragoza 2009; idf in Lucene's non-negative form). A 100 TB corpus
never materializes an index structure here — the *shape* of the plan IS
the index probe:

  1. one scan tokenizes each doc and keeps its length (dl);
  2. the posting explode is filtered to the query terms IMMEDIATELY
     (isin over a literal list — Catalyst pushes it against the
     generator), so only matching postings survive: the shuffled data is
     O(postings of the query terms), not O(corpus tokens);
  3. tf = groupBy (doc, term) count, df = distinct docs per term — both
     map-side-combining aggs over that filtered posting stream;
  4. N and avgdl are single-row corpus aggregates, broadcast;
  5. score = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)),
     top-k by (rounded score desc, doc_id) — ranking on the ROUNDED
     score keeps Spark and the DuckDB oracle ulp-stable.

Tokenization is ``regexp_extract_all('[a-z0-9]+')`` over lowercased
text — pure, and identical in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from character_identification_spark.functions.partitioning import topk_per_group


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 15,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """→ (doc_id, n_terms_hit, score, rank): top-k docs for the query.

    ``n_terms_hit`` = how many distinct query terms the doc contains
    (coordination count). Ties broken by doc_id; scores rounded to 6 dp
    before ranking so the order is reproducible across engines.
    """
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks")).select(
        "doc_id", "toks", F.size("toks").alias("dl")
    )

    # corpus-level constants: one tiny agg, broadcast into the join
    consts = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    postings = (
        base.select("doc_id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin([t.lower() for t in query_terms]))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_stats = postings.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df")
    )

    scored = (
        postings.join(F.broadcast(df_stats), "term")
        .crossJoin(F.broadcast(consts))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
            F.round(F.sum("term_score"), 6).alias("score"),
        )
    )
    # a global rank filter: the planner turns it into TakeOrderedAndProject
    # (per-partition top-k, tiny driver merge) — no single-partition rank
    # shuffle of the full match set; the rank window runs over ≤ k rows.
    return topk_per_group(
        scored, [], [F.desc("score"), F.asc("doc_id")], k, "rank"
    ).select("doc_id", "n_terms_hit", "score", "rank")


def rrf_fuse(
    rank_a: DataFrame,
    rank_b: DataFrame,
    k: int = 60,
    top_k: int = 10,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """→ (doc_id, rank_lexical, rank_semantic, rrf_micros, rank):
    reciprocal-rank fusion (Cormack et al. 2009) of two rankings —
    the standard hybrid-retrieval combiner (BM25 ⊕ embedding ANN) in
    RAG data pipelines. score(d) = Σ_lists 1/(k + rank_d); a doc
    missing from a list contributes 0.

    Determinism: the score is a two-term sum of int-derived double
    divisions in a FIXED order, quantized to integer micros before the
    final (micros desc, doc_id) rank — so fusion order is exact on both
    engines. Input ranks are preserved as nullable columns for
    provenance.

    Scale shape: both inputs are top-k lists (already reduced), so the
    full-outer join and the rank window run on k-sized data — driver-
    trivial regardless of corpus size; fusing per-query rankings at
    scale is the same plan partitioned by query id.
    """
    a = rank_a.select(
        F.col(id_col).alias("doc_id"), F.col(rank_col).alias("rank_lexical")
    )
    b = rank_b.select(
        F.col(id_col).alias("doc_id"), F.col(rank_col).alias("rank_semantic")
    )
    fused = a.join(b, "doc_id", "full_outer").withColumn(
        "rrf_micros",
        F.round(
            (
                F.coalesce(F.lit(1.0) / (F.lit(k) + F.col("rank_lexical")), F.lit(0.0))
                + F.coalesce(
                    F.lit(1.0) / (F.lit(k) + F.col("rank_semantic")), F.lit(0.0)
                )
            )
            * 1_000_000.0
        ).cast("long"),
    )
    return topk_per_group(
        fused, [], [F.desc("rrf_micros"), F.asc("doc_id")], top_k, "rank"
    ).select("doc_id", "rank_lexical", "rank_semantic", "rrf_micros", "rank")
