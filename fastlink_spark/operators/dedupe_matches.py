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
augmenting path, O(n^3) — scipy/lpSolve absent in this container) inside
one ``applyInPandas`` pass. Components are almost always tiny (a record
matches a handful of candidates); blocks above ``max_lsap_block`` nodes
fall back to within-block greedy (documented bound — an adversarial
giant bipartite clique would otherwise pin one task at O(n^3)).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.materialize import Materializer, resolve


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


def _solve_block_greedy(
    pdf: pd.DataFrame,
    id_a: str,
    id_b: str,
    score: str,
    shared_id_space: bool = False,
) -> pd.DataFrame:
    """Within-block sequential greedy (same semantics as the
    distributed fixpoint, including the side-namespace rule)."""
    pdf = pdf.sort_values([score, id_a, id_b], ascending=[False, True, True])
    used_a: set = set()
    used_b = used_a if shared_id_space else set()
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


def dedupe_matches_lsap(
    pairs: DataFrame,
    *,
    id_a: str = "a_rec_id",
    id_b: str = "b_rec_id",
    score: str = "zeta",
    max_lsap_block: int = 2000,
    materializer: Materializer | None = None,
) -> DataFrame:
    """Exact 1:1 assignment (``dedupeMatches(linprog=TRUE)``): maximize
    total score subject to each a/b id matched at most once. Distributed
    shape: CC over the pair graph -> one applyInPandas per component,
    each solved with the exact Hungarian (greedy fallback above
    max_lsap_block nodes)."""
    from .cluster import connected_components

    slim = _canonical_pairs(pairs, id_a, id_b, score)
    # CC over side-tagged node keys: the two sides are separate id
    # namespaces, so a-side 5 and b-side 5 must be two nodes. Raw ids
    # would glue unrelated blocks into one component that can cross
    # max_lsap_block and be solved greedily instead of exactly.
    comp = connected_components(
        slim.select(_side_key("a:", id_a), _side_key("b:", id_b)),
        materializer=materializer,
    )
    tagged = slim.withColumn("__ka", _side_key("a:", id_a)).join(
        comp.select(F.col("id").alias("__ka"), F.col("cluster_id").alias("__comp")),
        "__ka",
    )

    out_schema = slim.schema

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.drop(columns=["__ka", "__comp"])
        n_nodes = pdf[id_a].nunique() + pdf[id_b].nunique()
        if n_nodes > max_lsap_block:
            return _solve_block_greedy(pdf, id_a, id_b, score)
        return _solve_block_lsap(pdf, id_a, id_b, score)

    return tagged.groupBy("__comp").applyInPandas(solve, schema=out_schema)


def dedupe_matches(
    pairs: DataFrame,
    *,
    id_a: str = "a_rec_id",
    id_b: str = "b_rec_id",
    score: str = "zeta",
    max_rounds: int = 20,
    method: str = "greedy",
    shared_id_space: bool = False,
    materializer: Materializer | None = None,
) -> DataFrame:
    """Matched pairs -> 1:1 subset. method='greedy' (mutual-best
    fixpoint, the reference default) or 'lsap' (exact linear-sum
    assignment, ``linprog=TRUE``).

    ``shared_id_space``: False (default) treats the a-side and b-side
    as SEPARATE id namespaces — the two-table linkage semantics of the
    reference's fastLink(dfA, dfB) flow, and what the lsap reduction
    assumes (a numeric id appearing on both sides is two different
    records). True pools both sides into one namespace (single-table
    self-dedupe: a record matched on either side is consumed on both);
    greedy only — the bipartite LSAP reduction cannot express it.
    r5 review: the fixpoint used to pool unconditionally while its own
    tail fallback and lsap separated, silently dropping valid pairs
    whenever the two tables' id spaces overlap.

    Pairs with non-positive score never match, and duplicate
    (id_a, id_b) rows collapse to their best score (_canonical_pairs)
    — identical contract on both methods.

    Deterministic: ties broken by (score desc, partner id asc).
    """
    if method not in ("greedy", "lsap"):
        raise ValueError(f"unknown method {method!r}: use 'greedy' or 'lsap'")
    if method == "lsap":
        if shared_id_space:
            raise ValueError(
                "shared_id_space=True is greedy-only: the bipartite LSAP "
                "reduction cannot express a pooled id namespace"
            )
        return dedupe_matches_lsap(
            pairs, id_a=id_a, id_b=id_b, score=score, materializer=materializer
        )
    from ..plans.checkpoint import observation

    mat = resolve(materializer)

    def cut(df: DataFrame, name: str) -> tuple[DataFrame, int]:
        """Materialize ``df``; its row count rides the cut's own write
        as an observation (an isEmpty() probe after the cut would be
        one more Spark job per cut)."""
        observed, rows = observation(df, F.count(F.lit(1)).alias("rows"))
        out = mat(observed, name)
        return out, rows(fallback_df=out)["rows"]

    remaining, n_remaining = cut(
        _canonical_pairs(pairs, id_a, id_b, score), "greedy_remaining"
    )
    accepted: DataFrame | None = None

    exhausted = True
    for _ in range(max_rounds):
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
        # itself (already a cut: no copy), so a parquet materializer's
        # retention (keep newest keep_per_name >= 2 cuts per name) can
        # never delete data still reachable from it — round 2 re-cuts
        # `accepted` before round 3's mutual cut deletes round 1's.
        # Unioning raw mutual cuts instead would keep round-0's
        # 'greedy_mutual' parquet live while round-2's write deletes it
        # (materialize.py retention contract).
        accepted = (
            mutual
            if accepted is None
            else mat(accepted.unionByName(mutual), "greedy_accepted")
        )
        if shared_id_space:
            used_a = used_b = (
                mutual.select(F.col(id_a).alias("uid"))
                .union(mutual.select(F.col(id_b).alias("uid")))
                .distinct()
            )
        else:
            used_a = mutual.select(F.col(id_a).alias("uid")).distinct()
            used_b = mutual.select(F.col(id_b).alias("uid")).distinct()
        remaining, n_remaining = cut(
            remaining.join(used_a.withColumnRenamed("uid", id_a), id_a, "left_anti")
            .join(used_b.withColumnRenamed("uid", id_b), id_b, "left_anti")
            .select(id_a, id_b, score),
            "greedy_remaining",
        )

    if exhausted and n_remaining > 0:
        # Dependency chains longer than max_rounds accept one pair per
        # round; dropping the viable remainder would silently diverge
        # from sequential greedy. Finish the (by now small) residue
        # exactly: per-component applyInPandas sequential greedy —
        # identical semantics, one pass, bounded by component size.
        from .cluster import connected_components

        comp = connected_components(
            remaining.select(id_a, id_b), materializer=materializer
        )
        tagged = remaining.join(
            comp.select(F.col("id").alias(id_a), F.col("cluster_id").alias("__comp")),
            id_a,
        )
        out_schema = remaining.schema

        def solve(pdf: pd.DataFrame) -> pd.DataFrame:
            return _solve_block_greedy(
                pdf.drop(columns=["__comp"]), id_a, id_b, score,
                shared_id_space=shared_id_space,
            )

        tail = mat(
            tagged.groupBy("__comp").applyInPandas(solve, schema=out_schema),
            "greedy_tail",
        )
        accepted = (
            tail if accepted is None else mat(accepted.unionByName(tail), "greedy_accepted")
        )

    if accepted is None:
        return pairs.select(id_a, id_b, score).limit(0)
    return accepted
