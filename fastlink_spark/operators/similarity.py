"""Approximate-nearest-neighbor search over an embedding column.

Brute-force cosine top-k (exact baseline: broadcast queries × corpus,
window top-k) and an IVF-style variant (coarse quantizer = deterministic
centroid subset; search only the n_probe nearest cells) as the scale
path — at 10^12 vectors the brute force is O(Q·N·d) while IVF is
O(Q·(C + N/C·n_probe)·d) with the standard recall tradeoff.

Pure DataFrame + JVM array expressions (F.zip_with/F.aggregate for the
dot products). A Pandas-UDF matmul variant is deliberately NOT the
default: for moderate d the JVM codegen path avoids Arrow transfer
entirely; swap in BLAS via mapInPandas only when d*k makes it win.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from .dedup import cosine_sim


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 10,
    include_self: bool = False,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).
    Deterministic tie-break on neighbor id. Queries side is broadcast —
    the idiomatic shape when |queries| << |corpus|."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    j = c.join(F.broadcast(q), F.lit(True))
    if not include_self:
        j = j.where(F.col("query_id") != F.col("neighbor_id"))
    scored = j.withColumn("cosine", cosine_sim(F.col("qv"), F.col("cv")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _assign_cells(vectors: DataFrame, centroids: DataFrame, n_probe: int) -> DataFrame:
    """For each vector: the n_probe nearest centroid ids (by cosine)."""
    j = vectors.join(F.broadcast(centroids), F.lit(True)).withColumn(
        "csim", cosine_sim(F.col("vec"), F.col("cvec"))
    )
    w = Window.partitionBy("id").orderBy(F.desc("csim"), F.asc("cell"))
    return j.withColumn("r", F.row_number().over(w)).where(F.col("r") <= n_probe).select(
        "id", "vec", "cell"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    include_self: bool = False,
    centroid_rule: str = "hash",
    refine_iters: int = 0,
) -> DataFrame:
    """IVF ANN: centroids = deterministic corpus subset (seed-free,
    reproducible, resumable); corpus vectors live in their 1 nearest
    cell, queries probe n_probe cells. Output schema matches
    brute_force_topk.

    centroid_rule: 'hash' (lowest xxhash64(id) — a pseudo-random sample,
    the production default) or 'min_id' (lowest id — fully
    SQL-expressible, the oracle-twin rule; equivalent when ids carry no
    ordering information).

    refine_iters > 0 runs that many Lloyd rounds on the seed centroids
    (spherical k-means flavor: cosine assignment, per-cell mean update).
    Each round is ONE map-side-combining groupBy producing n_cells x d
    doubles — shuffle volume independent of corpus size — plus a
    driver-side collect of the tiny centroid table. Cuts the seed-
    sampling quantization error (better recall at the same n_probe);
    float means are reduce-order dependent, so the default stays 0 for
    the bit-reproducible paths (q19 oracle uses min_id + no refinement).
    """
    v = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    order_key = F.xxhash64("id") if centroid_rule == "hash" else F.col("id")
    # seed from NON-NULL vectors only (r5 review): a null-vec seed is a
    # dead cell at best, and with refinement on, null seeds were
    # dropped from the centroid map — all-null seeds (e.g. earliest
    # ingested rows failed embedding) collapsed the table to EMPTY and
    # returned zero neighbors for a non-empty corpus.
    cent = (
        v.where(F.col("vec").isNotNull())
        .withColumn("h", order_key)
        .orderBy("h", "id")
        .limit(n_cells)
        .select(F.col("id").alias("cell"), F.col("vec").alias("cvec"))
        .localCheckpoint(eager=False)
    )
    if refine_iters > 0:
        spark = corpus.sparkSession
        # dimension from the first NON-NULL vector; empty corpus / all
        # nulls -> skip refinement entirely (the groupBy().agg() below
        # would reject an empty expression list, and there is nothing
        # to refine)
        first = v.where(F.col("vec").isNotNull()).select("vec").first()
        d = len(first["vec"]) if first is not None else 0
        if d == 0:
            refine_iters = 0
        cent_map = {
            r["cell"]: [float(x) for x in r["cvec"]]
            for r in cent.collect()
            if r["cvec"] is not None
        }
        cell_type = dict(cent.dtypes)["cell"] if cent_map else "long"
        if not cent_map:
            refine_iters = -1  # sentinel: keep the ORIGINAL cent table
                               # (never rebuild from an empty map)
        for _ in range(refine_iters):
            cdf = local_frame(
                spark, cent_map.items(), f"cell {cell_type}, cvec array<double>"
            )
            agg = (
                _assign_cells(v, cdf, 1)
                .groupBy("cell")
                .agg(*[F.avg(F.element_at("vec", i + 1)).alias(f"m{i}") for i in range(d)])
                .collect()
            )
            for r in agg:  # empty cells keep their previous centroid
                mean = [r[f"m{i}"] for i in range(d)]
                if all(m is not None for m in mean):
                    cent_map[r["cell"]] = [float(m) for m in mean]
        if refine_iters >= 0:
            cent = local_frame(
                spark, cent_map.items(), f"cell {cell_type}, cvec array<double>"
            )
    corpus_cells = _assign_cells(v, cent, 1).select(
        F.col("cell"), F.col("id").alias("neighbor_id"), F.col("vec").alias("cv")
    )
    q = queries.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    query_cells = _assign_cells(q, cent, n_probe).select(
        F.col("cell"), F.col("id").alias("query_id"), F.col("vec").alias("qv")
    )
    j = corpus_cells.join(query_cells, "cell")
    if not include_self:
        j = j.where(F.col("query_id") != F.col("neighbor_id"))
    # no dedupe shuffle needed: each corpus vector lives in EXACTLY one
    # cell, so a (query, neighbor) pair appears at most once even with
    # n_probe > 1
    scored = j.withColumn("cosine", cosine_sim(F.col("qv"), F.col("cv")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
