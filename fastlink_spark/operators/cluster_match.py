"""clusterMatch-style k-means blocking (SURVEY.md A6,
``R/clusterMatch.R • clusterMatch(vecA, vecB, nclusters)``).

The reference embeds strings with an "alphabetical encoding" (letter
frequencies), runs weighted k-means over the union of both tables, and
uses the cluster id as the block. This module re-expresses that as
DataFrame aggregations with one deliberate strengthening: the per-
cluster sufficient statistic is an EXACT integer sum (26 ASCII-letter
counts + string length, all longs), so the Lloyd update is reduce-order
independent — the fitted centroids are bit-identical at any partition
count or cluster width. MLlib's KMeans float tree-aggregation cannot
promise that, and the determinism is what makes the whole fit hard-
oracle-able (q30: a frozen NumPy twin reproduces the centroids exactly
and DuckDB recomputes the assignment from injected literals).

Scale shape: each Lloyd iteration is one map-side-combining groupBy
over k×28 longs — shuffle volume is O(k·partitions), independent of
row count. Assignment is one kernel, ``assign_clusters``: a
broadcast-centroid Arrow pandas-UDF NumPy argmin whose distances
accumulate (x_i−c_i)² left-associated in fixed dim order and whose
argmin takes the FIRST minimum (ties -> lowest cluster id). The
centroids ride the UDF closure, so no plan embeds them as literals
and no round pays a compile that grows with k. The q30 hard oracle
pins this kernel against a frozen NumPy twin and a DuckDB argmin.
Letter counts are case-pair character classes (``[aA]``), never
locale lowercasing, so JVM / Python / DuckDB agree
codepoint-for-codepoint.

Deterministic blocking remains the pipeline default (BASELINE.json:6 —
host + MinHash bands); this operator is the optional clusterMatch
analogue for schema-free string blocking.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.materialize import Materializer, resolve

LETTERS = "abcdefghijklmnopqrstuvwxyz"
N_DIMS = len(LETTERS) + 1  # 26 letter counts + total length
_NP_CHUNK = 2_048  # rows per (chunk, k) distance block (~k*16KB each)


def _letter_features_udf():
    """Arrow-batched 27-dim letter embedding: ONE vectorized pass per
    batch (flatten codepoints, mask a-z/A-Z, bincount on
    row*26+letter) instead of the 26 per-letter JVM regexp_replace
    scans of the full text the expression form paid (r8 optimization,
    guide §4.2 — 26 regex passes over document text dominated the
    feature stage). Counts are exact integers, identical to the regex
    form for every input: Python len() and Spark length() both count
    code points, and [xX] occurrence count == codepoint-equality count.
    """
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(texts: pd.Series) -> pd.Series:
        vals = ["" if v is None else v for v in texts.tolist()]
        n = len(vals)
        lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=n)
        counts = np.zeros((n, 26), dtype=np.int64)
        total = int(lens.sum())
        if total:
            flat = np.frombuffer("".join(vals).encode("utf-32-le"), dtype=np.uint32)
            row_of = np.repeat(np.arange(n), lens)
            is_letter = ((flat >= 65) & (flat <= 90)) | ((flat >= 97) & (flat <= 122))
            if is_letter.any():
                lower = flat[is_letter] | np.uint32(0x20)  # ASCII case-fold
                idx = row_of[is_letter] * 26 + (lower - 97)
                counts.reshape(-1)[:] += np.bincount(idx, minlength=n * 26)
        out = np.concatenate([counts, lens[:, None]], axis=1)
        return pd.Series(list(out))

    return _udf


def letter_features(df: DataFrame, col: str) -> DataFrame:
    """Adds ``lf_vec``, the 27-dim integer embedding: count of [aA],
    [bB], ... [zZ] plus total length (the reference's alphabetical
    encoding, kept integer so downstream sums are exact). Computed by
    a vectorized Arrow UDF (_letter_features_udf) — value-identical to
    the original 26-regex expression form, ~one pass over the text
    instead of 26."""
    s = F.coalesce(F.col(col), F.lit(""))
    return df.withColumn("lf_vec", _letter_features_udf()(s))


def _np_dists(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """(n,k) squared distances, accumulated LEFT-ASSOCIATED over dims
    in fixed dim order (acc starts at 0.0; 0.0+t == t for the
    non-negative squared terms) — the IEEE op order the q30 oracle's
    NumPy twin and DuckDB sum replicate, so all three agree
    bit-for-bit. A np.sum over the dim axis would pairwise-sum and
    drift in the last ulp, which is enough to flip an argmin tie."""
    acc = np.zeros((X.shape[0], C.shape[0]))
    for i in range(N_DIMS):
        d = X[:, None, i] - C[None, :, i]
        acc += d * d
    return acc


def _pandas_assign(centroids: list[list[float]]):
    """Broadcast-centroid Arrow argmin. np.argmin returns the FIRST
    minimum, so a row equidistant from several centroids goes to the
    lowest cluster id."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        # null vec -> null cluster
        mask = v.notna().to_numpy()
        res = pd.array([None] * len(v), dtype="Int32")
        if mask.any():
            X = _vec_matrix(v[mask])
            out = np.empty(len(X), dtype=np.int32)
            for s in range(0, len(X), _NP_CHUNK):
                out[s : s + _NP_CHUNK] = _np_dists(X[s : s + _NP_CHUNK], C).argmin(axis=1)
            # rows with a null/NaN ELEMENT (Arrow conflates the two:
            # both arrive as nan) -> null cluster, not the cluster 0
            # an argmin over all-nan distances would give
            vals = pd.array(out, dtype="Int32")
            vals[np.isnan(X).any(axis=1)] = None
            res[mask] = vals
        return pd.Series(res)

    return assign


def _vec_matrix(v_masked: pd.Series) -> "np.ndarray":
    """Non-null vector rows -> (n, N_DIMS) float64 with null ELEMENTS
    as nan (Arrow already delivers list<double> nulls as nan; a caller
    handing plain Python lists with None goes through the same
    object->float conversion instead of raising TypeError).

    Wrong-LENGTH rows never fail the task and never depend on their
    batch neighbours: longer rows are truncated to their first N_DIMS
    dims, shorter rows are nan-padded, so they get a null cluster."""
    rows = [
        r[:N_DIMS] if len(r) >= N_DIMS else list(r) + [float("nan")] * (N_DIMS - len(r))
        for r in v_masked.tolist()
    ]
    try:
        return np.asarray(rows, dtype=np.float64)
    except (TypeError, ValueError):
        return pd.DataFrame(rows).to_numpy(dtype=np.float64)


def assign_clusters(feats: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Adds ``cluster``: the index of the nearest centroid to ``lf_vec``
    (ties -> lowest cluster id; a null vector, a null/NaN element or a
    short vector -> NULL). The one assignment kernel: the Lloyd rounds
    and both clusterMatch forms call it."""
    return feats.withColumn("cluster", _pandas_assign(centroids)(F.col("lf_vec")))


def _check_k(k: int) -> None:
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")


def fit_kmeans(
    feats: DataFrame,
    k: int,
    *,
    id_col: str = "rec_id",
    weight_col: str | None = None,
    n_iter: int = 8,
) -> list[list[float]]:
    """Lloyd's algorithm with exact-integer sufficient statistics.

    Init: the k rows with the smallest md5(id) (ties by id) — a
    deterministic pseudo-random sample that plain Python/DuckDB can
    recompute (the q30 oracle twin does). Fewer than k usable rows
    give fewer centroids. Weighted mode (``weight_col``, integer
    weights) implements the reference's balanced two-table fit. Empty
    clusters keep their previous centroid. Converges early when an
    update is an exact fixpoint.
    """
    _check_k(k)
    # seeds must come from USABLE vectors: a null vector would crash
    # the float() unpack and a null/NaN ELEMENT would poison every
    # distance to its centroid (all-NaN -> the whole table degenerates
    # to NULL clusters). Such rows still flow through assignment —
    # they land in cluster NULL, which the Lloyd aggregation skips
    # (r6 review). letter_features can't produce them (coalesce ''),
    # so for the normal path this filter is a plan-only no-op.
    feats = feats.where(
        F.col("lf_vec").isNotNull()
        & (F.size(F.col("lf_vec")) == N_DIMS)
        & ~F.exists(F.col("lf_vec"), lambda x: x.isNull() | F.isnan(x))
    )
    seed_rows = (
        feats.select(
            F.col("lf_vec"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
            F.col(id_col).alias("_i"),
        )
        .orderBy("_h", "_i")
        .limit(k)
        .collect()
    )
    if not seed_rows:
        raise ValueError("empty input for k-means blocking")
    cents = [[float(x) for x in r["lf_vec"]] for r in seed_rows]

    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    sum_cols = [
        F.sum(F.try_element_at(F.col("lf_vec"), F.lit(i + 1)) * w).alias(f"s{i}")
        for i in range(N_DIMS)
    ]
    for _ in range(n_iter):
        agg = (
            assign_clusters(feats, cents)
            # defense-in-depth: the usable-vector filter above should
            # make a null cluster unreachable inside fit, but if one
            # ever forms the None group would crash new_cents[None]
            # below (r6 review)
            .where(F.col("cluster").isNotNull())
            .groupBy("cluster")
            .agg(*sum_cols, F.sum(w).alias("n"))
            .collect()
        )
        new_cents = [list(c) for c in cents]
        for r in agg:
            if r["n"]:
                new_cents[r["cluster"]] = [r[f"s{i}"] / r["n"] for i in range(N_DIMS)]
        if new_cents == cents:
            break
        cents = new_cents
    return cents


def _blocked(feats: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Final assignment plus the ``km:<cluster>`` block key."""
    return (
        assign_clusters(feats, cents)
        .withColumn("block_key", F.concat(F.lit("km:"), F.col("cluster")))
        .drop("lf_vec")
    )


def cluster_match(
    df: DataFrame,
    col: str,
    k: int,
    *,
    id_col: str = "rec_id",
    n_iter: int = 8,
    materializer: Materializer | None = None,
) -> DataFrame:
    """Single-table clusterMatch: adds ``cluster`` and ``block_key``
    columns; feed the result to ``blockData``-style pairing. The
    feature stream is materialized ONCE before the fit: the seed
    collect, every Lloyd aggregation, and the final assignment all
    re-read the cut instead of re-running the letter-feature UDF over
    the table per job (n_iter+2 jobs)."""
    _check_k(k)
    feats = resolve(materializer)(letter_features(df, col), "km_features")
    return _blocked(feats, fit_kmeans(feats, k, id_col=id_col, n_iter=n_iter))


def cluster_match_two(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    k: int,
    *,
    id_col: str = "rec_id",
    n_iter: int = 8,
    materializer: Materializer | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Two-table clusterMatch (the reference's primary form): fit one
    k-means over A ∪ B with integer weights |B| resp. |A| (reduced by
    their gcd) so both tables pull centroids equally regardless of
    size — the reference's weighted k-means, kept in exact integer
    arithmetic. Note: weight × letter-count sums must fit a long; at
    extreme table sizes pre-sample the fit input (assignment is
    unaffected)."""
    _check_k(k)
    # Counts come from the MATERIALIZED feature cuts, not separate
    # pre-scan jobs: letter_features has to scan each table anyway, and
    # a count over the parquet cut is answered from row-group metadata —
    # the two full input re-scans the r3 shape paid are gone.
    mat = resolve(materializer)
    fa = mat(letter_features(df_a, col), "km_features_a")
    fb = mat(letter_features(df_b, col), "km_features_b")
    na, nb = fa.count(), fb.count()
    if na == 0 or nb == 0:
        raise ValueError("cluster_match_two needs non-empty tables")
    g = math.gcd(na, nb)
    wa, wb = nb // g, na // g
    both = fa.select(id_col, "lf_vec", F.lit(wa).cast("long").alias("_w")).unionByName(
        fb.select(id_col, "lf_vec", F.lit(wb).cast("long").alias("_w"))
    )
    cents = fit_kmeans(both, k, id_col=id_col, weight_col="_w", n_iter=n_iter)
    return _blocked(fa, cents), _blocked(fb, cents)
