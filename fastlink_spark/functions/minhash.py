"""MinHash signatures + LSH band keys.

Reference analogue: none — fastLink blocks via exact keys / windows /
k-means (``R/blockData.R``, ``R/clusterMatch.R``); BASELINE.json
north_star replaces k-means with deterministic text-shingle MinHash
band keys (SURVEY.md G20/G14). Deterministic => reproducible => resumable.

Design notes (scale): the JVM tokenizes and hashes each token once
(split / filter / transform / xxhash64); one vectorized numpy pandas
UDF per Arrow batch mixes w-token shingles and builds the
one-permutation signature (Shrivastava & Li: one hash per shingle,
bucket j = h & (k-1), min per bucket, rotation densification of empty
buckets); the band keys are Catalyst expressions again. No shuffle,
and int64 wraparound is the hash mixing (ANSI-mode safe: no
overflowing a*x+b mod p permutation).

CRITICAL plan-size note: the b band keys are built with
``F.transform(F.sequence(...), ...)`` — O(1) expression-tree size in b.
Building them as Python-generated ``F.array(*[...])`` literals embeds
the upstream signature subtree b times, which blows up analysis/codegen
and stalls executors (observed: 64-wide array hung a 100-row task
indefinitely).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SHINGLE_W = 5
DEFAULT_BANDS = 16
DEFAULT_ROWS_PER_BAND = 4


def tokens(text: Column) -> Column:
    """Lowercased alphanumeric tokens (deterministic tokenizer)."""
    toks = F.split(F.lower(F.coalesce(text, F.lit(""))), r"[^a-z0-9]+")
    return F.filter(toks, lambda t: t != "")


_EMPTY_SENTINEL = np.iinfo(np.int64).max
_MIX_PRIME = np.int64(-7046029254386353131)  # 0x9E3779B97F4A7C15 as int64


def _flatten_hash_lists(hash_arrays: "pd.Series") -> tuple[int, np.ndarray, np.ndarray]:
    """(n, per-row lens, flat int64 concat) for a Series of
    array<bigint>/None rows."""
    n = len(hash_arrays)
    lens = np.fromiter(
        (0 if h is None else len(h) for h in hash_arrays), np.int64, count=n
    )
    if n and lens.sum() > 0:
        flat = np.concatenate(
            [np.asarray(h, dtype=np.int64) for h in hash_arrays if h is not None and len(h)]
        )
    else:
        flat = np.empty(0, dtype=np.int64)
    return n, lens, flat


def _rolling_shingles(flat: np.ndarray, lens: np.ndarray, w: int) -> tuple[np.ndarray, np.ndarray]:
    """Token hashes (flat, row lens) -> (shingle hashes flat, row index
    per shingle). Rolling multiply-xor mix of w consecutive token
    hashes, vectorized over the whole batch (int64 wraparound is the
    hash mixing). Rows with 0 < len < w emit ONE whole-row shingle."""
    n = len(lens)
    row_of = np.repeat(np.arange(n), lens)
    ends = np.cumsum(lens)
    starts = ends - lens
    with np.errstate(over="ignore"):
        acc = flat.copy()
        for j in range(1, w):
            shifted = np.empty_like(flat)
            shifted[:-j] = flat[j:]
            if j > 0:
                shifted[-j:] = 0
            acc = (acc ^ shifted) * _MIX_PRIME + np.int64(j)
        # position p (global) is a valid w-shingle start iff p + w <= row end
        pos_in_row = np.arange(len(flat)) - starts[row_of]
        valid = pos_in_row + w <= lens[row_of]
        # short rows (0 < len < w): one whole-row shingle = mix of all tokens
        short = (lens > 0) & (lens < w)
        if short.any():
            sidx = np.nonzero(short)[0]
            svals = []
            for r in sidx:  # rare path: rows shorter than w tokens
                seg = flat[starts[r] : ends[r]]
                v = np.int64(len(seg))
                for x in seg:
                    v = (v ^ x) * _MIX_PRIME
                svals.append(v)
            return (
                np.concatenate([acc[valid], np.array(svals, dtype=np.int64)]),
                np.concatenate([row_of[valid], sidx]),
            )
    return acc[valid], row_of[valid]


def oph_from_token_hashes_udf(k: int, w: int):
    """pandas UDF: array<bigint> TOKEN hashes -> array<bigint> OPH
    signature. Shingle mixing + one-permutation min-bucketing + rotation
    densification all happen in one vectorized numpy pass — the JVM does
    only one xxhash64 per token. Building shingles in the JVM instead
    (a slice + concat_ws HOF lambda per shingle) measured ~88us/shingle,
    ~30x this path."""
    from pyspark.sql.types import ArrayType, LongType

    if k & (k - 1):
        raise ValueError("OPH signature length k must be a power of two")

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(token_hashes: pd.Series) -> pd.Series:
        n, lens, flat = _flatten_hash_lists(token_hashes)
        if n == 0:
            return pd.Series([], dtype=object)
        if lens.sum() == 0:
            return pd.Series([None] * n, dtype=object)
        sh, row_of = _rolling_shingles(flat, lens, w)
        sig = _bucket_min_densify(sh, row_of, n, k)
        return pd.Series(
            [None if lens[i] == 0 else sig[i].tolist() for i in range(n)], dtype=object
        )

    return _udf


def _bucket_min_densify(
    values: np.ndarray, row_of: np.ndarray, n: int, k: int
) -> np.ndarray:
    """OPH core: scatter each value into bucket ``value & (k-1)`` of
    its row, keep the per-bucket min (stable-sort + reduceat, no
    per-row Python), then rotation-densify empty buckets."""
    sig = np.full((n, k), _EMPTY_SENTINEL, dtype=np.int64)
    if len(values):
        bucket = values & (k - 1)
        gidx = row_of * k + bucket
        order = np.argsort(gidx, kind="stable")
        gs, fs = gidx[order], values[order]
        starts = np.nonzero(np.r_[True, gs[1:] != gs[:-1]])[0]
        mins = np.minimum.reduceat(fs, starts)
        sig.reshape(-1)[gs[starts]] = mins
    return _densify(sig, k)


def _densify(sig: np.ndarray, k: int) -> np.ndarray:
    """Rotation densification of empty OPH buckets (vectorized; operates
    only on rows that still have empties). All-sentinel rows (null/empty
    input — the caller emits them as None) are excluded: they can never
    densify and would otherwise force the full k-1 rotation sweep on
    every batch containing one."""
    with np.errstate(over="ignore"):
        has_empty = (sig == _EMPTY_SENTINEL).any(axis=1)
        has_value = (sig != _EMPTY_SENTINEL).any(axis=1)
        empty_rows = np.nonzero(has_empty & has_value)[0]
        if len(empty_rows) == 0:
            return sig
        sub = sig[empty_rows]
        empty = sub == _EMPTY_SENTINEL
        shift = 1
        while empty.any() and shift < k:
            donor = np.roll(sub, -shift, axis=1)
            fill = empty & (donor != _EMPTY_SENTINEL)
            if fill.any():
                sub[fill] = donor[fill] + np.int64(shift) * _MIX_PRIME
                empty = sub == _EMPTY_SENTINEL
            shift += 1
        sig[empty_rows] = sub
    return sig


def band_keys_from_signature(
    sig: Column, bands: int = DEFAULT_BANDS, rows_per_band: int = DEFAULT_ROWS_PER_BAND
) -> Column:
    """array<string> LSH band keys 'b{j}:{chained xxhash64 of the j-th
    r-row signature slice}' (S-curve threshold ~ (1/b)^(1/r))."""
    r = rows_per_band
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.concat_ws(
            "",
            F.lit("b"),
            j.cast("string"),
            F.lit(":"),
            F.aggregate(
                F.slice(sig, j * F.lit(r) + F.lit(1), F.lit(r)),
                F.lit(0).cast("long"),
                lambda acc, x: F.xxhash64(acc, x),
            ).cast("string"),
        ),
    )


def add_minhash_bands(
    df: DataFrame,
    text_col: str,
    out_col: str = "band_keys",
    *,
    w: int = DEFAULT_SHINGLE_W,
    bands: int = DEFAULT_BANDS,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
) -> DataFrame:
    """text -> `out_col`: array<string> of LSH band keys (null text or
    empty token set -> null). Staged projections keep each level
    computed once per row: one xxhash64 per token (JVM), then the
    one-permutation signature in a vectorized pandas UDF."""
    k = bands * rows_per_band
    tok_hashes = F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t))
    df = df.withColumn("__mh_sh", tok_hashes)
    df = df.withColumn("__mh_sig", oph_from_token_hashes_udf(k, w)(F.col("__mh_sh")))
    df = df.withColumn(
        out_col,
        F.when(
            F.col("__mh_sig").isNotNull(),
            band_keys_from_signature(F.col("__mh_sig"), bands, rows_per_band),
        ),
    )
    return df.drop("__mh_sh", "__mh_sig")
