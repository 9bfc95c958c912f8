"""Graph analytics over edge DataFrames (src, dst).

Connected components live in operators/cc.py (the ER transitive-closure
core, which enters its loop through ``undirected`` below); this module
holds the rank/centrality side. Same iteration discipline as CC: a driver
loop of DataFrame joins with session.materialize between rounds (lineage
stays O(1) per round), every shuffle keyed on the node id — the Pregel
dataflow expressed relationally, no RDDs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from character_identification_spark.session import materialize


def undirected(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """(a, b): the undirected view of an edge set — self-loops dropped,
    each edge canonicalized to (least, greatest), duplicates removed."""
    return (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .filter(F.col("s") != F.col("d"))
        .select(F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b"))
        .distinct()
    )


def _adjacency(und: DataFrame) -> DataFrame:
    """(node, nbr) in both directions of the undirected (a, b) edges,
    materialized: the per-round operators join it every round."""
    return materialize(
        und.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionByName(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    )


def pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """→ (node, rank): ``n_iters`` synchronous PageRank rounds (Page et
    al. 1999; fixed iteration count, not convergence-tested, so the
    result is a pure function of the edge set and both engines replay it
    exactly).

    Semantics: r₀ = 1/N; r_{t+1}(v) = (1−d)/N + d·Σ_{u→v} r_t(u)/deg(u).
    Dangling mass (nodes with no out-edges) is dropped, not
    redistributed — the common sparse formulation; the DuckDB twin
    mirrors it. Final ranks rounded to 6 dp (parallel summation order).

    Scale shape: per round, ONE shuffle — contributions grouped by dst
    (map-side combined); the rank table is node-sized and joins the
    edge table on src. Out-degrees are computed once. N is a 1-row agg
    broadcast into the plan. 100 TB edges → standard Pregel cost:
    O(|E|) per round through a single keyed exchange.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = materialize(e.join(deg, "src"))

    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    base = (1.0 - damping) / n_nodes
    for _ in range(n_iters):
        contrib = (
            ed.join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = materialize(
            nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + damping * F.coalesce(F.col("in_mass"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def oriented_edges(und: DataFrame) -> DataFrame:
    """(a, b) undirected canonical edges → (lo, hi, deg_hi) DEGREE-
    oriented edges: each edge points from its (degree asc, id asc)-
    smaller endpoint to the larger one. Exposed so tests can bound the
    wedge enumeration directly."""
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = (
        und.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b"))
    return ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("deg_hi"),
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """→ (node, n_triangles): per-node triangle membership counts over
    the UNDIRECTED view of the edge set (direction and duplicates
    dropped; self-loops ignored).

    Dataflow: canonicalize each edge to (a, b), dedup, DEGREE-orient
    (every edge points at its (degree, id)-larger endpoint —
    oriented_edges), then enumerate each wedge exactly once at its
    LOWEST-ORDER corner: (u→v) ⋈ (u→w) with (deg_v, v) < (deg_w, w),
    closed by the oriented edge (v→w). Degree orientation is the
    standard skew-proof trick: a hub of degree d has ≤ √(2|E|)
    out-edges under this order (out-edges only point to HIGHER-degree
    nodes), so wedge fan-out per node is capped at O(|E|) total even on
    power-law graphs, where id-ordering lets a low-id hub enumerate
    O(d²) wedges. Cost: one extra degree aggregation + two node-keyed
    joins, all on the edge table. Tie-break by id keeps the order
    total, so every triangle still materializes exactly once; the
    DuckDB twin replays the identical (deg, id) row-value comparisons.
    """
    und = materialize(undirected(edges, src_col, dst_col))
    o = materialize(oriented_edges(und))
    wedge = (
        o.select(
            F.col("lo").alias("u"),
            F.col("hi").alias("v"),
            F.col("deg_hi").alias("deg_v"),
        )
        .join(
            o.select(
                F.col("lo").alias("u"),
                F.col("hi").alias("w"),
                F.col("deg_hi").alias("deg_w"),
            ),
            "u",
        )
        .filter(
            F.struct(F.col("deg_v"), F.col("v"))
            < F.struct(F.col("deg_w"), F.col("w"))
        )
    )
    tri = wedge.join(
        o.select(F.col("lo").alias("v"), F.col("hi").alias("w")), ["v", "w"]
    ).select("u", "v", "w")
    corner = tri.select(
        F.explode(F.array("u", "v", "w")).alias("node")
    ).groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    nodes = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .distinct()
    )
    return nodes.join(corner, "node", "left").select(
        "node", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    n_rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """→ (node, dist): multi-source BFS hop distances over the
    undirected view of the edge set, for every node reachable from a
    seed within ``n_rounds`` hops (seeds themselves at dist 0).

    FRONTIER dataflow, not whole-table relaxation: round r joins the
    edge table against only the nodes first reached at round r−1, and
    an anti-join against the settled set keeps each node's FIRST
    (= minimum) distance — under BFS a settled node never improves, so
    the per-round join input shrinks to the frontier instead of
    re-scanning every settled node. The fixed round count makes the
    result a pure function of (edges, seeds); an exhausted frontier
    just contributes empty rounds, so early-emptiness cannot diverge
    from the oracle's unrolled min-distance formulation (BFS layers ARE
    the hop-distance minima).

    Scale shape: per round, one node-keyed join (frontier × adjacency)
    + one anti-join against settled — both keyed on node ids; frontier
    volume is bounded by the reachable set, and materialize caps
    lineage exactly as cc.py's loop does. Degree skew is bounded for
    kNN graphs (deg ≤ 2k); power-law graphs salt the frontier join.
    """
    adj = _adjacency(undirected(edges, src_col, dst_col))
    settled = materialize(
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
    )
    frontier = settled.select("node")
    for r in range(1, n_rounds + 1):
        reached = (
            adj.join(frontier, "node")
            .select(F.col("nbr").alias("node"))
            .distinct()
        )
        fresh = reached.join(settled.select("node"), "node", "left_anti").withColumn(
            "dist", F.lit(r)
        )
        settled = materialize(settled.unionByName(fresh))
        frontier = settled.filter(F.col("dist") == r).select("node")
    return settled


def label_propagation(
    edges: DataFrame,
    n_iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """→ (node, community): synchronous label propagation (Raghavan et
    al. 2007) over the undirected view of the edge set, ``n_iters``
    rounds from community := node id.

    Each round every node adopts the most frequent label among its
    neighbors, ties broken by the SMALLEST label; isolated rounds keep
    the previous label. Fixed iteration count + deterministic
    tie-break means the whole computation is integer arithmetic — the
    DuckDB twin unrolls the rounds and matches exactly (contrast
    GraphX's LPA, whose hash-partitioned tie-breaks are
    run-dependent).

    Scale shape: per round, TWO keyed shuffles — neighbor-label counts
    on (node, label), then the (count desc, label asc) argmax per node
    — both map-side combined; the label table is node-sized. Degree
    skew is bounded for kNN graphs (deg ≤ 2k); for power-law graphs the
    count stage is the standard salt-and-resum target.
    """
    adj = _adjacency(undirected(edges, src_col, dst_col))
    labels = adj.select("node").distinct().withColumn("community", F.col("node"))
    for _ in range(n_iters):
        votes = (
            adj.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("community").alias("lbl")
                ),
                "nbr",
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        best = votes.groupBy("node").agg(
            F.min(
                F.struct((-F.col("n")).alias("neg_n"), F.col("lbl").alias("lbl"))
            )["lbl"].alias("new_lbl")
        )
        labels = materialize(
            labels.join(best, "node", "left").select(
                "node",
                F.coalesce("new_lbl", "community").alias("community"),
            )
        )
    return labels
