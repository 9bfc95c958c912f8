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

Scale notes: an undirected edge set of at most ``_DRIVER_EDGES`` rows
(2^17, about 2 MB of long pairs) is fetched in one collect and finished on
the driver with numpy, then handed back as a local frame — a small graph
costs one job, not rounds of shuffles, convergence checks and checkpoints.
The bound caps driver memory; it is not a per-workload tuning. Larger edge
sets run the star loop: each round is one groupBy + one join on longs;
session.materialize cuts the lineage after every round so plans don't
grow with rounds; high-degree nodes are handled by large-star's design
(neighbors > u re-attach to the min, so hot components star-collapse
instead of chaining); AQE re-sizes each round's shuffle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from character_identification_spark.operators.graph import undirected
from character_identification_spark.session import local_frame, materialize

# largest undirected edge set finished on the driver (a driver-memory bound)
_DRIVER_EDGES = 1 << 17


def _large_star(edges: DataFrame) -> DataFrame:
    """For each u: every neighbor v > u links to min(N(u) ∪ {u}).

    Input contract: ``edges`` is oriented-distinct (u > v, no self-loops,
    no duplicate rows) — connected_components' loop entry (the undirected
    view, greatest endpoint first) guarantees it and both stars preserve
    it. The symmetric view is then a plain union (the two halves can't
    overlap: u > v vs u < v), with no distinct. Output is again
    oriented-distinct: each emitted row is (v, mn) with
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
    already satisfies it, so no re-orientation or distinct runs here.
    Output rows are (v, mn) and (u, mn) with mn = min over the group's
    v's, so mn < u and mn ≤ v with equality filtered — oriented-distinct
    again."""
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


def _driver_components(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, components) of the undirected edges u–v, on the driver.

    ``np.unique`` maps the endpoints to sorted indices, so the minimum
    index of a component is its minimum node id. Each round lowers the
    label of both endpoints of every edge, and of their current labels, to
    the lesser of the two labels (min-label propagation over both edge
    directions), then pointer-jumps (``label = label[label]``) until every
    node points at a root. A label is always an index in the node's own
    component and never above it, so the fixpoint — every edge's
    endpoints share a root — labels each component with its minimum."""
    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[: len(u)], idx[len(u):]
    label = np.arange(len(nodes))
    while True:
        la, lb = label[a], label[b]
        lo = np.minimum(la, lb)
        new = label.copy()
        for ends in (a, b, la, lb):
            np.minimum.at(new, ends, lo)
        while not np.array_equal(jumped := new[new], new):
            new = jumped
        if np.array_equal(new, label):
            return nodes, nodes[label]
        label = new


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    converge_check_every: int = 1,
) -> DataFrame:
    """edges(u, v) → assignments(node, component) where component is the
    minimum node id in the component (ids may be longs or strings — only
    ordering and equality are used). Nodes that appear in no edge are
    absent (caller unions singletons; see attach_singletons).

    ``converge_check_every`` > 1 skips the convergence-check job (one
    keyed agg over the materialized edge set) on intermediate rounds; the
    last round is always checked. Skipping can cost extra full rounds
    after convergence. plans/pipeline.run_pipeline and perfbench's
    vocab_link pass 2; every other caller checks every round. Which
    cadence is cheaper depends on the round counts, which are unmeasured.

    Convergence is detected STRUCTURALLY: the loop's terminal states are
    the stars rooted at the component minimum, recognizable the round one
    first appears by (1) every source u occurring exactly ONCE and (2) no
    target v also occurring as a source. (1)∧(2) make the edge set a
    height-1 forest u→root with root < every member (the u > v
    invariant), i.e. root = component min, a fixpoint of both stars. Both
    are required: a node with TWO parents (u duplicated) can satisfy (2)
    while its parents still await merging. When ``max_iter`` rounds end
    without that forest the edge set holds partial merges, not
    components, so the call raises RuntimeError.

    An undirected edge set of at most ``_DRIVER_EDGES`` rows never enters
    the loop: one ``limit(_DRIVER_EDGES + 1)`` collect fetches it, the
    components are finished on the driver (_driver_components) and come
    back as a local frame with the same (node, component) contract. So
    ``max_iter`` and ``converge_check_every`` bound only the star rounds
    of larger edge sets."""
    cur = materialize(
        undirected(edges, "u", "v").select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    head = cur.limit(_DRIVER_EDGES + 1).toArrow()
    if head.num_rows <= _DRIVER_EDGES:
        nodes, comps = _driver_components(
            head.column("u").to_numpy(), head.column("v").to_numpy()
        )
        key = cur.schema["u"].dataType.simpleString()
        return local_frame(
            cur.sparkSession,
            list(zip(nodes.tolist(), comps.tolist())),
            f"node {key}, component {key}",
        )
    for i in range(max_iter):
        cur = materialize(_small_star(_large_star(cur)))
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
    else:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} rounds"
        )
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
