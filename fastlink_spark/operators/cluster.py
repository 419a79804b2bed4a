"""Iterative large-star / small-star connected components.

Absent in the reference (fastLink stops at pairs + 1:1 dedupe,
``R/dedupeMatches.R``); REQUIRED by BASELINE.json north_star:
"thresholded pairs are clustered into entities via iterative
large-star/small-star connected components". Algorithm: Kiveris et al.
2014, "Connected Components in MapReduce and Beyond" (public paper) —
converges in O(log n) rounds vs O(diameter) for naive label
propagation, which is what makes it the right choice for web-scale
chain-y duplicate graphs.

Driver-looped DataFrame program: each round is two shuffles
(groupBy-min + join), cut per round by the injectable ``materializer``
(default: a parquet cut in a fresh scratch namespace, plans.materialize)
so the plan doesn't grow unboundedly. The loop stops at the first round
whose output is a star forest (every node has at most one out-edge and
no edge target has one): such an oriented edge set is a fixpoint of
large-star + small-star, so no round is spent only to confirm
convergence. The test rides the round's own cut as a query observation
over the node grouping that dedups the round's edges, so it costs no
Spark job. The edge-set fixpoint check (count + order-insensitive
xxhash64 checksum) stays as a second stop.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.materialize import Materializer, resolve


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(neighborhood ∪ {u})."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nbr_min = sym.groupBy("u").agg(F.min("v").alias("mn"))
    return (
        sym.join(nbr_min, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.least("mn", "u").alias("v"))
        .distinct()
    )


def _small_star_by_node(e: DataFrame, *, oriented: bool = False) -> DataFrame:
    """Small-star, grouped by node: orient edges high->low; connect
    every smaller neighbor (and u itself) to the minimum of the
    smaller-neighborhood. Returns one row per node of the output edge
    set: ``(node, outs, hit)`` with ``outs`` the node's distinct
    out-targets and ``hit`` true when some edge points at the node.
    Grouping by node is the exchange that dedups the output edges, and
    it is also all the star-forest stop needs (``_star_forest_aggs``).

    ``oriented=True`` (r8 optimization): skip the re-orientation +
    distinct when the input provably already satisfies the
    postcondition — ``_large_star`` emits ``(u', v') = (v, least(mn, u))``
    only for rows with ``v > u``, so ``v' <= u < v = u'`` strictly (no
    self-loops, already high->low) and it ends in ``.distinct()``. The
    loop always feeds small-star from large-star, so this removes one
    full exchange + dedup of the edge set per CC round."""
    if oriented:
        o = e
    else:
        o = (
            e.where(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )
    nbr_min = o.groupBy("u").agg(F.min("v").alias("mn"))
    joined = o.join(nbr_min, "u")
    out = joined.select(F.col("v").alias("u"), F.col("mn").alias("v")).union(
        nbr_min.select(F.col("u"), F.col("mn").alias("v"))
    )
    return _by_node(out.where(F.col("u") != F.col("v")))


def _by_node(e: DataFrame) -> DataFrame:
    """Edge set (duplicates allowed) -> one row per node:
    ``(node, outs, hit)``."""
    ends = e.select(
        F.col("u").alias("node"), F.col("v").alias("nbr"), F.lit(True).alias("out")
    ).union(e.select("v", "u", F.lit(False)))
    return ends.groupBy("node").agg(
        F.collect_set(F.when(F.col("out"), F.col("nbr"))).alias("outs"),
        F.bool_or(~F.col("out")).alias("hit"),
    )


def _node_edges(by_node: DataFrame) -> DataFrame:
    return by_node.select(F.col("node").alias("u"), F.explode("outs").alias("v"))


def _small_star(e: DataFrame, *, oriented: bool = False) -> DataFrame:
    """Small-star output as distinct ``(u, v)`` edges."""
    return _node_edges(_small_star_by_node(e, oriented=oriented))


def _star_forest_aggs() -> list:
    """Aggregates over ``_by_node`` rows that decide whether the edge
    set is a star forest: every node has at most one out-edge and no
    edge target has an out-edge."""
    return [
        F.max(F.size("outs")).alias("max_out"),
        F.count(F.when(F.col("hit") & (F.size("outs") > 0), 1)).alias("mid"),
    ]


def _is_star_forest(aggs) -> bool:
    return (aggs["max_out"] or 0) <= 1 and aggs["mid"] == 0


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    *,
    materializer: Materializer | None = None,
) -> DataFrame:
    """Edges ``(u, v)`` (any orientation; any orderable id type — long
    hashes or string keys) -> ``(id, cluster_id)`` with cluster_id =
    min node id of the component. Every round shuffles the ids twice.

    `nodes`: optional single-column ('id') universe; nodes without edges
    come back as singleton clusters (cluster_id = id).
    `materializer`: per-round lineage cut (see the module docstring).
    """
    mat = resolve(materializer)
    e0 = edges.select(
        F.col(edges.columns[0]).alias("u"),
        F.col(edges.columns[1]).alias("v"),
    ).where(F.col("u") != F.col("v")).distinct()

    # the iteration-bound/convergence fingerprint rides the
    # materializer's own action as a query observation (r8: the r5 fix
    # merged count+fingerprint into ONE extra scan; this removes that
    # scan entirely — the cut write streams every row anyway)
    from ..plans.checkpoint import fingerprint_observation, observation

    e0, _fp0 = fingerprint_observation(e0)
    e = mat(e0, "cc_edges")
    n_edges, prev = _fp0(fallback_df=e)
    # large/small-star converges in O(log^2 n) worst case, ~log n in
    # practice; generous bound, asserted below.
    max_iter = max(10, 2 * int(math.log2(max(n_edges, 2))) + 10)
    converged = False
    for _ in range(max_iter):
        # large-star output is strictly oriented + distinct, so
        # small-star skips its re-orientation exchange (see
        # _small_star_by_node)
        by_node, _star = observation(
            _small_star_by_node(_large_star(e), oriented=True), *_star_forest_aggs()
        )
        ss, _fp = fingerprint_observation(_node_edges(by_node))
        e2 = mat(ss, "cc_round")
        cur = _fp(fallback_df=e2)[1]
        e = e2
        # Small-star output is oriented high->low (u > v). Such an edge
        # set that is also a star forest is a fixpoint of large-star +
        # small-star: large-star maps each star onto itself (a center's
        # neighbours are all larger leaves, a leaf's only neighbour is
        # its smaller center) and small-star then re-emits exactly each
        # leaf's one edge. Stopping here saves the round that would
        # only confirm it; the fingerprint check stays for any other
        # fixpoint.
        if cur == prev or _is_star_forest(_star(fallback_df=_by_node(e2))):
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(f"connected components did not converge in {max_iter} rounds")

    # fixpoint edges are star edges node->root (root = component min)
    labels = e.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("id")).distinct().withColumn(
        "cluster_id", F.col("id")
    )
    labels = labels.union(roots).groupBy("id").agg(F.min("cluster_id").alias("cluster_id"))

    if nodes is not None:
        nodes_n = nodes.select(F.col(nodes.columns[0]).alias("id"))
        labels = (
            nodes_n.join(labels, "id", "left")
            .select("id", F.coalesce("cluster_id", "id").alias("cluster_id"))
        )
    else:
        # no universe given: nodes whose ONLY edge was a self-loop were
        # dropped by the entry u != v filter and are absent from the
        # fixpoint — restore them as singletons. Only the self-loop
        # subset (normally empty/tiny) is shuffled, not the edge set.
        selfs = (
            edges.where(F.col(edges.columns[0]) == F.col(edges.columns[1]))
            .select(F.col(edges.columns[0]).alias("id"))
            .distinct()
        )
        labels = labels.unionByName(
            selfs.join(labels, "id", "left_anti").withColumn(
                "cluster_id", F.col("id")
            )
        )
    return labels
