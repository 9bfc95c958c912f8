"""Transitive clustering: large-star / small-star connected components.

Replaces (not ports) the reference's greedy, order-dependent incremental
clusterer (reference: latest/tools/state.py:44-207 — cursor-driven merge of
mutable cluster lists). The replacement is the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14) expressed as DataFrame self-joins: order-free,
deterministic (component id = min member id), and O(log n) rounds.

Equivalence to the reference: its greedy decode merges exactly the
transitive closure of accepted pairwise links within a block (the gold-
replay fidelity test, reference latest/tools/test.py:4-36, asserts this
closure reproduces gold clusters) — which is precisely what connected
components computes, minus the order-dependence.

Scale notes: each round is one groupBy + one join on longs; localCheckpoint
truncates lineage so plans don't grow with rounds; high-degree nodes are
handled by large-star's design (neighbors > u re-attach to the min, so hot
components star-collapse instead of chaining); AQE re-sizes each round's
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _orient(edges: DataFrame) -> DataFrame:
    """Canonical oriented-distinct edge set: u > v, no self-loops, one row
    per undirected edge — the loop invariant both star rounds rely on."""
    return (
        edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each u: every neighbor v > u links to min(N(u) ∪ {u}).

    Input contract (round-6 perf rework): ``edges`` is oriented-distinct
    (u > v, no self-loops, no duplicate rows) — guaranteed by _orient at
    loop entry and preserved by both stars. The symmetric view is then a
    plain union (the two halves can't overlap: u > v vs u < v), saving the
    old _symmetrize distinct — one Exchange + dedup aggregate per round.
    Output is again oriented-distinct: each emitted row is (v, mn) with
    mn = min(N(u) ∪ {u}) ≤ u < v."""
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("mn"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Every v in N⁻(u) ∪ {u} links to its min.

    Input contract: oriented-distinct (u > v) — _large_star's output
    already satisfies it, so the old greatest/least re-orientation and its
    distinct (one Exchange + dedup per round) are gone. Output rows are
    (v, mn) and (u, mn) with mn = min over the group's v's, so mn < u and
    mn ≤ v with equality filtered — oriented-distinct again."""
    mins = edges.groupBy("u").agg(F.min("v").alias("mn"))
    relink = (
        edges.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
    )
    self_link = mins.select(F.col("u"), F.col("mn").alias("v"))
    return (
        relink.union(self_link)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    converge_check_every: int = 1,
) -> DataFrame:
    """edges(u, v) → assignments(node, component) where component is the
    minimum node id in the component (ids may be longs or strings — only
    ordering and equality are used). Nodes that appear in no edge are
    absent (caller unions singletons; see attach_singletons).

    ``converge_check_every`` > 1 skips the convergence-check job on
    intermediate rounds. Round-6 default: check EVERY round — the check
    is one keyed agg over the localCheckpointed (memory-resident) edge
    set, far cheaper than a star round, so skipping checks buys nothing
    and costs extra full rounds after convergence.

    Convergence is detected STRUCTURALLY, not by comparing consecutive
    edge sets: the loop's terminal states are exactly the "stars rooted
    at the component minimum" sets, recognizable the round one first
    appears by (1) every source u occurring exactly ONCE and (2) no
    target v also occurring as a source. (1)∧(2) means the edge set is a
    height-1 forest u→root with root < every member (the loop's u > v
    orientation invariant), i.e. root = component min — and such a set
    is a fixpoint of both stars, so breaking on it yields the same
    assignments as running to signature equality while saving the one
    extra large+small round that a compare-to-previous check needs to
    observe the set repeat. Both conditions are required: a set where a
    node keeps TWO parents (u duplicated) can satisfy (2) alone while
    its parents still await merging."""
    cur = _orient(edges).localCheckpoint(eager=True)
    for i in range(max_iter):
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        if (i + 1) % converge_check_every and i + 1 < max_iter:
            continue
        ends = cur.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("node"), F.lit(1).alias("src")),
                    F.struct(F.col("v").alias("node"), F.lit(0).alias("src")),
                )
            ).alias("e")
        ).select("e.node", "e.src")
        violations = (
            ends.groupBy("node")
            .agg(F.sum("src").alias("n_src"), F.count("*").alias("n_all"))
            .filter(
                (F.col("n_src") > 1)
                | ((F.col("n_src") >= 1) & (F.col("n_all") > F.col("n_src")))
            )
        )
        if violations.isEmpty():
            break
    # converged: every edge is (node, root) with root = component min
    assign = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = cur.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return assign.unionByName(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )


def attach_singletons(nodes: DataFrame, assign: DataFrame, id_col: str = "mention_uid") -> DataFrame:
    """Mentions untouched by any accepted link become their own cluster —
    the reference's singleton fill (reference: latest/tools/state.py:209-215)
    as a left join + coalesce."""
    return (
        nodes.join(
            assign.withColumnRenamed("node", id_col), id_col, "left"
        )
        .withColumn("cluster_id", F.coalesce(F.col("component"), F.col(id_col)))
        .drop("component")
    )
