"""One-to-one match assignment — ``R/dedupeMatches.R • dedupeMatches``
(SURVEY.md J8/G11/W1).

The reference offers two modes: linear-sum-assignment via lpSolve
(``linprog=TRUE``) and greedy winner-take-all; both are ported.

Greedy fixpoint semantics (``method='greedy'``, the default — matches
the reference's default behavior): repeatedly accept pairs that are the
current best (by zeta desc, deterministic tie-break) for BOTH
endpoints, remove matched endpoints, repeat. This reproduces sequential
greedy matching exactly, in O(rounds) shuffles instead of a driver loop
over pairs.

Exact LSAP (``method='lsap'`` == linprog=TRUE): connected components of
the pair graph partition the problem into independent bipartite blocks;
each block is solved exactly with a pure-NumPy Hungarian (shortest
augmenting path, O(n^3) — scipy/lpSolve absent in this container) in
one grouped-map pass (``_by_component``, which also finishes greedy
chains longer than ``MAX_ROUNDS``). Components are almost always tiny
(a record matches a handful of candidates); blocks above
``MAX_LSAP_BLOCK`` nodes fall back to within-block greedy (documented
bound — an adversarial giant bipartite clique would otherwise pin one
task at O(n^3)).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.materialize import Materializer, resolve

MAX_ROUNDS = 20  # mutual-best rounds before the per-component greedy tail
MAX_LSAP_BLOCK = 2000  # component nodes (a + b) above which lsap runs greedy


def _hungarian_min(cost: np.ndarray) -> list[tuple[int, int]]:
    """Exact square LSAP (minimize): shortest-augmenting-path Hungarian
    with row/col potentials (the standard O(n^3) formulation, e.g.
    cp-algorithms' 'Hungarian algorithm'); inner relaxation vectorized
    over columns. Returns [(row, col)] for all n rows."""
    n = cost.shape[0]
    INF = np.inf
    u = np.zeros(n + 1)
    v = np.zeros(n + 1)
    p = np.zeros(n + 1, dtype=np.int64)  # p[j] = row matched to col j (1-based)
    way = np.zeros(n + 1, dtype=np.int64)
    for i in range(1, n + 1):
        p[0] = i
        j0 = 0
        minv = np.full(n + 1, INF)
        used = np.zeros(n + 1, dtype=bool)
        while True:
            used[j0] = True
            i0 = p[j0]
            cur = cost[i0 - 1, :] - u[i0] - v[1:]
            cur[used[1:]] = INF
            upd = cur < minv[1:]
            minv[1:][upd] = cur[upd]
            way[1:][upd] = j0
            free_min = np.where(used[1:], INF, minv[1:])
            j1 = int(np.argmin(free_min)) + 1
            delta = free_min[j1 - 1]
            u[p[used]] += delta
            v[used] -= delta
            minv[~used] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        while j0:
            j1 = way[j0]
            p[j0] = p[j1]
            j0 = j1
    return [(int(p[j]) - 1, j - 1) for j in range(1, n + 1) if p[j] > 0]


def _solve_block_lsap(pdf: pd.DataFrame, id_a: str, id_b: str, score: str) -> pd.DataFrame:
    """Exact max-total-score 1:1 assignment within one bipartite block.

    Max-WEIGHT, not max-cardinality (matching lpSolve's objective in the
    reference's dedupeMatches(linprog=TRUE)): leaving a node unmatched
    is free, so a single 0.9 edge beats a {0.1, 0.2} perfect matching.
    Reduction: (na+nb)-square matrix where real edges cost -score,
    missing real cells are forbidden (+big), and nb dummy rows / na
    dummy cols at cost 0 let any node opt out; Hungarian minimizes, so
    the optimum takes exactly the matches whose total score is maximal."""
    a_ids = np.sort(pdf[id_a].unique())
    b_ids = np.sort(pdf[id_b].unique())
    na, nb = len(a_ids), len(b_ids)
    n = na + nb
    a_pos = {x: i for i, x in enumerate(a_ids)}
    b_pos = {x: i for i, x in enumerate(b_ids)}
    smax = float(pdf[score].max())
    forbidden = (abs(smax) + 1.0) * (n + 1)
    cost = np.zeros((n, n))
    cost[:na, :nb] = forbidden
    for r in pdf.itertuples(index=False):
        cost[a_pos[getattr(r, id_a)], b_pos[getattr(r, id_b)]] = -float(getattr(r, score))
    keep = set()
    for ri, ci in _hungarian_min(cost):
        if ri < na and ci < nb and cost[ri, ci] < 0:
            keep.add((a_ids[ri], b_ids[ci]))
    mask = [(getattr(r, id_a), getattr(r, id_b)) in keep for r in pdf.itertuples(index=False)]
    return pdf.loc[mask, [id_a, id_b, score]]


def _solve_block_greedy(pdf: pd.DataFrame, id_a: str, id_b: str, score: str) -> pd.DataFrame:
    """Within-block sequential greedy (same semantics as the
    distributed fixpoint: the two sides are separate id namespaces)."""
    pdf = pdf.sort_values([score, id_a, id_b], ascending=[False, True, True])
    used_a: set = set()
    used_b: set = set()
    rows = []
    for r in pdf.itertuples(index=False):
        a, b = getattr(r, id_a), getattr(r, id_b)
        if a not in used_a and b not in used_b:
            used_a.add(a)
            used_b.add(b)
            rows.append(r)
    return pd.DataFrame(rows, columns=pdf.columns)[[id_a, id_b, score]]


def _canonical_pairs(pairs: DataFrame, id_a: str, id_b: str, score: str) -> DataFrame:
    """Shared input contract for BOTH methods (r5 review — the two
    paths used to disagree on these edges):
    - non-positive scores never match: lpSolve's max-weight objective
      leaves such nodes unmatched for free, while greedy accepted them
      — now neither does;
    - duplicate (id_a, id_b) rows collapse to their best score
      (deterministic max): the LSAP block solver otherwise emitted the
      duplicate rows verbatim, breaking the 1:1 contract."""
    return (
        pairs.select(id_a, id_b, score)
        .where(F.col(score) > 0)
        .groupBy(id_a, id_b)
        .agg(F.max(score).alias(score))
    )


def _side_key(side: str, col: str):
    """Node key of one pair endpoint, tagged with its side ('a:'/'b:')."""
    return F.concat(F.lit(side), F.col(col).cast("string"))


def _by_component(
    pairs: DataFrame, id_a: str, id_b: str, score: str, solve, materializer: Materializer | None
) -> DataFrame:
    """Run ``solve(pdf, id_a, id_b, score)`` once per connected
    component of the pair graph, in one grouped-map pass; returns the
    rows it keeps. CC runs over side-tagged node keys: the two sides
    are separate id namespaces, so a-side 5 and b-side 5 must be two
    nodes. Raw ids would glue unrelated blocks into one component that
    can cross MAX_LSAP_BLOCK and be solved greedily instead of exactly."""
    # looked up per call, so a wrapper patched onto the module sees it
    from .cluster import connected_components

    comp = connected_components(
        pairs.select(_side_key("a:", id_a), _side_key("b:", id_b)),
        materializer=materializer,
    )
    tagged = pairs.withColumn("__ka", _side_key("a:", id_a)).join(
        comp.select(F.col("id").alias("__ka"), F.col("cluster_id").alias("__comp")),
        "__ka",
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return solve(pdf.drop(columns=["__ka", "__comp"]), id_a, id_b, score)

    return tagged.groupBy("__comp").applyInPandas(run, schema=pairs.schema)


def dedupe_matches(
    pairs: DataFrame,
    *,
    id_a: str = "a_rec_id",
    id_b: str = "b_rec_id",
    score: str = "zeta",
    method: str = "greedy",
    materializer: Materializer | None = None,
) -> DataFrame:
    """Matched pairs -> 1:1 subset. method='greedy' (mutual-best
    fixpoint, the reference default) or 'lsap' (exact linear-sum
    assignment, ``linprog=TRUE``: maximize total score subject to each
    a/b id matched at most once).

    The a-side and b-side are SEPARATE id namespaces — the two-table
    linkage semantics of the reference's fastLink(dfA, dfB) flow, and
    what the lsap reduction assumes (a numeric id appearing on both
    sides is two different records).

    Pairs with non-positive score never match, and duplicate
    (id_a, id_b) rows collapse to their best score (_canonical_pairs)
    — identical contract on both methods.

    Deterministic: ties broken by (score desc, partner id asc).
    """
    if method not in ("greedy", "lsap"):
        raise ValueError(f"unknown method {method!r}: use 'greedy' or 'lsap'")
    slim = _canonical_pairs(pairs, id_a, id_b, score)
    if method == "lsap":
        # bound on the driver: the solver runs on workers, which
        # re-import this module and would read the global afresh
        max_block = MAX_LSAP_BLOCK

        def solve(pdf: pd.DataFrame, id_a: str, id_b: str, score: str) -> pd.DataFrame:
            n_nodes = pdf[id_a].nunique() + pdf[id_b].nunique()
            block = _solve_block_greedy if n_nodes > max_block else _solve_block_lsap
            return block(pdf, id_a, id_b, score)

        return _by_component(slim, id_a, id_b, score, solve, materializer)
    from ..plans.checkpoint import observation

    mat = resolve(materializer)

    def cut(df: DataFrame, name: str) -> tuple[DataFrame, int]:
        """Materialize ``df``; its row count rides the cut's own write
        as an observation (an isEmpty() probe after the cut would be
        one more Spark job per cut)."""
        observed, rows = observation(df, F.count(F.lit(1)).alias("rows"))
        out = mat(observed, name)
        return out, rows(fallback_df=out)["rows"]

    remaining, n_remaining = cut(slim, "greedy_remaining")
    accepted: DataFrame | None = None

    exhausted = True
    for _ in range(MAX_ROUNDS):
        if n_remaining == 0:
            exhausted = False
            break
        wa = Window.partitionBy(id_a).orderBy(F.desc(score), F.asc(id_b))
        wb = Window.partitionBy(id_b).orderBy(F.desc(score), F.asc(id_a))
        ranked = remaining.withColumn("ra", F.row_number().over(wa)).withColumn(
            "rb", F.row_number().over(wb)
        )
        mutual, n_mutual = cut(
            ranked.where((F.col("ra") == 1) & (F.col("rb") == 1)).select(
                id_a, id_b, score
            ),
            "greedy_mutual",
        )
        if n_mutual == 0:
            exhausted = False
            break
        # Roll the accumulated union through a retained cut every round:
        # `accepted` only ever references the NEWEST 'greedy_accepted'
        # cut, or after the first round the first 'greedy_mutual' cut
        # itself (already a cut: no copy). A parquet materializer keeps
        # only the newest two cuts of each name, so it never deletes
        # data still reachable from `accepted`: round 2 re-cuts it
        # before round 3's mutual cut deletes round 1's. Unioning raw
        # mutual cuts instead would keep round 0's 'greedy_mutual'
        # parquet live while round 2's write deletes it.
        accepted = (
            mutual
            if accepted is None
            else mat(accepted.unionByName(mutual), "greedy_accepted")
        )
        used_a = mutual.select(F.col(id_a).alias("uid")).distinct()
        used_b = mutual.select(F.col(id_b).alias("uid")).distinct()
        remaining, n_remaining = cut(
            remaining.join(used_a.withColumnRenamed("uid", id_a), id_a, "left_anti")
            .join(used_b.withColumnRenamed("uid", id_b), id_b, "left_anti")
            .select(id_a, id_b, score),
            "greedy_remaining",
        )

    if exhausted and n_remaining > 0:
        # Dependency chains longer than MAX_ROUNDS accept one pair per
        # round; dropping the viable remainder would silently diverge
        # from sequential greedy. Finish the (by now small) residue
        # exactly: per-component sequential greedy — identical
        # semantics, one pass, bounded by component size.
        tail = mat(
            _by_component(
                remaining, id_a, id_b, score, _solve_block_greedy, materializer
            ),
            "greedy_tail",
        )
        accepted = (
            tail if accepted is None else mat(accepted.unionByName(tail), "greedy_accepted")
        )

    if accepted is None:
        return pairs.select(id_a, id_b, score).limit(0)
    return accepted
