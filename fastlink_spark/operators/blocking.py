"""Blocking: deterministic block-key generation + skew profiling.

Reference analogue: ``R/blockData.R • blockData()`` (exact / window /
k-means blocks as index lists). Spark-first re-expression: blocks are
KEY COLUMNS, not index lists — the per-block loop of the reference's
vignette dissolves into one shuffle (SURVEY.md §3.2).

Keys per BASELINE.json north_star:
  - ``h:{normalized url host}``     (exact, disjoint)
  - ``b{j}:{minhash band hash}``    (overlapping, from text shingles)

Oversized blocks (skew) are handled EXPLICITLY, not left to AQE
(SURVEY.md X5): the block-size profile drives salted self-joins in
operators/pairs.py, and the pipeline sub-refines host blocks larger
than ``refine_host_above`` by the first minhash band so a mega-host
never produces an unbounded quadratic block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import minhash as mh
from ..functions import normalize as nz


def with_block_keys(
    pages: DataFrame,
    *,
    text_col: str = "text",
    url_col: str = "url",
    use_host: bool = True,
    use_minhash: bool = True,
    shingle_w: int = mh.DEFAULT_SHINGLE_W,
    bands: int = mh.DEFAULT_BANDS,
    rows_per_band: int = mh.DEFAULT_ROWS_PER_BAND,
) -> DataFrame:
    """Add ``block_keys: array<string>`` (host key + minhash band keys)."""
    if not (use_host or use_minhash):
        raise ValueError("at least one blocking scheme required")
    df = pages
    parts = []
    if use_host:
        host_key = F.concat(F.lit("h:"), nz.url_host(F.col(url_col)))
        df = df.withColumn(
            "__hk", F.when(host_key.isNotNull(), F.array(host_key)).otherwise(F.array())
        )
        parts.append(F.col("__hk"))
    if use_minhash:
        df = mh.add_minhash_bands(
            df, text_col, "__bk", w=shingle_w, bands=bands, rows_per_band=rows_per_band
        )
        parts.append(F.coalesce(F.col("__bk"), F.array()))
    allk = parts[0]
    for p in parts[1:]:
        allk = F.concat(allk, p)
    return df.withColumn("block_keys", allk).drop("__hk", "__bk")


def block_profile(blocked: DataFrame) -> DataFrame:
    """Block-size profile ``(block_key, n)`` — drives explicit skew
    splitting (salt count per block) and the _metrics lineage counters."""
    return blocked.groupBy("block_key").agg(F.count("*").alias("n"))
