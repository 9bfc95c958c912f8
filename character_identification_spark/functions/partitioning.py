"""Scale-adaptive minimum parallelism for compute-heavy projections.

The engine's hot per-row work (md5 shingle fan-outs, vectorized batch
UDFs, gram explodes) runs inside the SCAN stage when the operator is a
zero-shuffle projection — which is exactly the shape the round-5/6 perf
reworks produced. On production inputs a scan has thousands of splits and
parallelism is free; on small inputs (one or two file splits, e.g. a
sub-MB parquet) the same projection runs on a handful of tasks while the
rest of the cluster idles.

``fan_out`` hash-repartitions by a data key to the session's default
parallelism when — and only when — the input has fewer partitions than
that. At scale (splits ≫ cores) it is a no-op, so no extra shuffle is
ever paid where parallelism already exists. Hash partitioning on data
keys is deterministic (no round-robin, no RNG — see SPARK-38388 for why
that matters under task retry), so results stay partitioning-invariant.

``topk_per_group`` is the engine's one per-group rank filter ("best k
rows per key"), in the shape the planner reduces below the shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def fan_out(df: DataFrame, *key_cols: str, target: int | None = None) -> DataFrame:
    """Repartition ``df`` by ``key_cols`` to ``target`` (default: the
    session's default parallelism) iff it currently has fewer partitions.
    Use immediately before an expensive projection/batch-UDF over a
    possibly-tiny input; keep the keys high-cardinality (row ids) so the
    hash spreads evenly."""
    t = target or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= t:
        return df
    return df.repartition(t, *[F.col(c) for c in key_cols])


def topk_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    k: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Rows of ``df`` whose ``row_number()`` over
    ``Window.partitionBy(*keys).orderBy(*order)`` is ≤ ``k``; with no
    ``keys`` the window is global. The rank is kept as ``rank_col``, or
    dropped when ``rank_col`` is None. Give ``order`` a total order (end
    it on a unique id) and the result is deterministic.

    What the planner does with it (Spark 4.1.2):
      * keyed, ``k ≤ spark.sql.optimizer.windowGroupLimitThreshold``
        (1000): ``WindowGroupLimit Partial → Exchange → WindowGroupLimit
        Final`` — each map task keeps ≤ k rows per key before the
        shuffle, so no hand-written pre-reduction is needed (cosine_topk
        used to run a mapInPandas reducer directly under the Partial
        limit, doing the same work twice);
      * keyed, ``k`` above the threshold (e.g. resolve_in_context's
        ``max_anchors_per_ctx`` = 10000): no group limit, the full window
        runs — still exact;
      * no keys: the filter becomes ``TakeOrderedAndProject`` (per-
        partition top-k plus a driver merge), never a single-partition
        rank shuffle.

    Rank windows that stay hand-written, on purpose:
      * a second window function shares the window
        (``curation.keep_best_per_cluster``'s member count,
        ``transcript_link``'s pick share): it stops the group limit from
        being planned, so the helper would hide nothing;
      * salt ranks, not top-k (``blocking.cap_block_sizes``,
        ``similarity.ann_candidates``): the rank numbers every row of a
        bucket to split it;
      * full numberings (``transcript_link`` mention index,
        ``fixtures/transcript`` ``mention_idx``);
      * the DuckDB twins in ``oracles.py``.
    """
    w = (Window.partitionBy(*keys) if keys else Window).orderBy(*order)
    rc = rank_col or "_topk_rank"
    out = df.withColumn(rc, F.row_number().over(w)).filter(F.col(rc) <= k)
    return out if rank_col else out.drop(rc)
