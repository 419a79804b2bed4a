"""Corpus deduplication operators for training-data pipelines:
MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup, and
``corpus_dedup`` (exact + near duplicates clustered). Driver-mandated
first-class components beyond the reference's ER scope.

Scale notes: every LSH bucket join (minhash bands / simhash tables / hyperplane
buckets) is routed through ``operators.pairs.candidate_pairs`` — the
profiled, triangle-salted self-join — so a hot bucket (one popular band
value on a boilerplate-heavy corpus) is split into bounded sub-joins
instead of an O(n^2) single task. n-gram Jaccard / cosine verify ONLY
candidate pairs, never the cross product. Inputs are spread across
cores only when the scan yields fewer partitions than cores
(``_spread``) — at 100TB the scan already yields thousands of splits
and no repartition happens.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import minhash as mh
from ..functions import simhash as sh
from ..functions.textmeta import tokens
from ..plans.materialize import Materializer, resolve
from .pairs import DEFAULT_SKEW_THRESHOLD, DEFAULT_TARGET_BLOCK, candidate_pairs


def _spread(df: DataFrame) -> DataFrame:
    """Repartition ONLY if the input arrives in fewer partitions than
    cores (small local parquet = 1 split); a large scan already has
    thousands of splits and must not be reshuffled just to spread CPU."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _bucket_pairs(
    bucketed: DataFrame,
    id_col: str,
    attr_cols: list[str],
    *,
    skew_threshold: int,
    target_block: int,
) -> DataFrame:
    """(block_key, id, attrs...) -> canonical (id_a < id_b) pairs via the
    salted triangle self-join (operators.pairs), deduped across buckets.
    Output columns: id_a, id_b, a_<attr>, b_<attr>."""
    pairs = candidate_pairs(
        bucketed,
        id_col=id_col,
        skew_threshold=skew_threshold,
        target_block=target_block,
    )
    return pairs.select(
        F.col(f"a_{id_col}").alias("id_a"),
        F.col(f"b_{id_col}").alias("id_b"),
        *[F.col(f"a_{c}").alias(f"a_{c}") for c in attr_cols],
        *[F.col(f"b_{c}").alias(f"b_{c}") for c in attr_cols],
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    w: int = mh.DEFAULT_SHINGLE_W,
    bands: int = mh.DEFAULT_BANDS,
    rows_per_band: int = mh.DEFAULT_ROWS_PER_BAND,
    skew_threshold: int = DEFAULT_SKEW_THRESHOLD,
    target_block: int = DEFAULT_TARGET_BLOCK,
    materializer: Materializer | None = None,
) -> DataFrame:
    """Near-dup candidate pairs (id_a < id_b) colliding in >=1 LSH band.
    shingle→minhash→band→salted bucket self-join; hot bands are
    triangle-salted (pairs.candidate_pairs), deduped across bands."""
    # _spread: spread the (CPU-heavy) signature computation; then EAGERLY
    # materialize before explode (HOF arrays inlined into Generate are
    # evaluated pathologically — see minhash.py plan-size note).
    src = _spread(df.select(id_col, text_col))
    keyed = resolve(materializer)(
        mh.add_minhash_bands(
            src, text_col, "bk", w=w, bands=bands, rows_per_band=rows_per_band
        ),
        "minhash_bands",
    )
    bucketed = keyed.select(
        F.explode("bk").alias("block_key"), F.col(id_col).alias("id")
    )
    return _bucket_pairs(
        bucketed, "id", [], skew_threshold=skew_threshold, target_block=target_block
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    w: int = mh.DEFAULT_SHINGLE_W,
    bands: int = mh.DEFAULT_BANDS,
    rows_per_band: int = mh.DEFAULT_ROWS_PER_BAND,
    min_jaccard: float = 0.8,
    skew_threshold: int = DEFAULT_SKEW_THRESHOLD,
    target_block: int = DEFAULT_TARGET_BLOCK,
    materializer: Materializer | None = None,
) -> DataFrame:
    """MinHash-LSH candidates EXACT-verified with w-token-shingle
    Jaccard >= min_jaccard: (id_a, id_b, n_inter, n_union). The output
    is the verified near-dup set, not raw hash collisions — with enough
    bands the LSH miss probability at J=t is (1-t^r)^b (~2e-4 at t=0.8,
    b=16, r=4), so the verified set equals the exact-threshold set with
    overwhelming probability (oracle-checked exactly at test SF)."""
    cand = minhash_lsh_pairs(
        df,
        id_col,
        text_col,
        w=w,
        bands=bands,
        rows_per_band=rows_per_band,
        skew_threshold=skew_threshold,
        target_block=target_block,
        materializer=materializer,
    )
    verified = ngram_jaccard_pairs(
        cand, df, id_col, text_col, n=w, min_jaccard=min_jaccard, materializer=materializer
    )
    return verified.select("id_a", "id_b", "n_inter", "n_union")


def ngram_jaccard_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    min_jaccard: float = 0.0,
    materializer: Materializer | None = None,
) -> DataFrame:
    """Verify candidate pairs with exact n-gram (token shingle) Jaccard.
    Output: (id_a, id_b, n_inter, n_union, jaccard). Set sizes are
    integers so correctness oracles compare exactly. Zero-token docs get
    an EMPTY gram set (never a single ''-gram): two empty docs score
    jaccard 0, not 1."""
    toks = tokens(F.col("__t"))
    gram_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - F.lit(n), F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + F.lit(1), F.lit(n))),
        )
    )
    grams = resolve(materializer)(
        _spread(docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))).select(
            "id",
            F.when(F.size(toks) > 0, gram_arr)
            .otherwise(F.array().cast("array<string>"))
            .alias("grams"),
        ),
        "grams",
    )
    ga = grams.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = grams.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    out = (
        pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("grams_a", "grams_b")).cast("long"))
        .withColumn(
            "n_union",
            (F.size("grams_a") + F.size("grams_b") - F.col("n_inter")).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.when(F.col("n_union") > 0, F.col("n_inter") / F.col("n_union")).otherwise(F.lit(0.0)),
        )
        .select("id_a", "id_b", "n_inter", "n_union", "jaccard")
    )
    if min_jaccard > 0:
        out = out.where(F.col("jaccard") >= min_jaccard)
    return out


def _simhash_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    hash_impl: str = "xxhash64",
    materializer: Materializer | None = None,
) -> DataFrame:
    return resolve(materializer)(
        _spread(df.select(id_col, text_col))
        .select(
            F.col(id_col).alias("id"),
            sh.simhash(F.col(text_col), hash_impl=hash_impl).alias("fp"),
        )
        .where(F.col("fp").isNotNull()),
        "simhash_fp",
    )


def simhash_pairs_multi(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    n_tables: int = 4,
    bits: int = 64,
    hash_impl: str = "xxhash64",
    skew_threshold: int = DEFAULT_SKEW_THRESHOLD,
    target_block: int = DEFAULT_TARGET_BLOCK,
    materializer: Materializer | None = None,
) -> DataFrame:
    """Chunk-table SimHash LSH: block on each of n_tables bit slices of
    the fingerprint; by pigeonhole a pair within Hamming r < n_tables
    MUST agree exactly on >=1 slice, so recall at radius
    max_hamming <= n_tables - 1 is 100% GUARANTEED (not probabilistic).
    Exact-verify Hamming then dedupe across tables. Hot slices are
    triangle-salted via pairs.candidate_pairs.

    hash_impl='md5' + bits=60 gives the oracle-twin fingerprint (DuckDB
    computes the identical value — see simhash.md5_hash60)."""
    if max_hamming > n_tables - 1:
        # the pigeonhole guarantee is exactly max_hamming <= n_tables-1;
        # beyond it pairs can differ in EVERY slice and silently vanish
        # while the docstring promises exact recall (r5 review finding)
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole recall bound "
            f"n_tables-1={n_tables - 1}; raise n_tables (recall at radius r "
            "is guaranteed only for r <= n_tables-1)"
        )
    fp = _simhash_fingerprints(df, id_col, text_col, hash_impl=hash_impl, materializer=materializer)
    per = bits // n_tables
    # per-table keys built explicitly: n_tables is tiny, the union is
    # cheap and the plan stays small
    parts = []
    for t in range(n_tables):
        width = per if t < n_tables - 1 else bits - per * (n_tables - 1)
        # width == 64 (n_tables=1 at bits=64): (1<<64)-1 overflows a
        # Java long literal; the all-ones mask is -1 in two's complement
        mask = -1 if width >= 64 else (1 << width) - 1
        key = F.concat_ws(
            ":",
            F.lit(str(t)),
            F.shiftrightunsigned(F.col("fp"), t * per)
            .bitwiseAND(F.lit(mask))
            .cast("string"),
        )
        parts.append(fp.select(key.alias("block_key"), "id", "fp"))
    tabs = parts[0]
    for p in parts[1:]:
        tabs = tabs.unionByName(p)
    out = _bucket_pairs(
        tabs, "id", ["fp"], skew_threshold=skew_threshold, target_block=target_block
    )
    return (
        out.withColumn("hamming", sh.hamming64(F.col("a_fp"), F.col("b_fp")).cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def corpus_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    w: int = mh.DEFAULT_SHINGLE_W,
    bands: int = mh.DEFAULT_BANDS,
    rows_per_band: int = mh.DEFAULT_ROWS_PER_BAND,
    min_jaccard: float = 0.8,
    skew_threshold: int = DEFAULT_SKEW_THRESHOLD,
    target_block: int = DEFAULT_TARGET_BLOCK,
    materializer: Materializer | None = None,
) -> DataFrame:
    """The full training-data dedup DECISION: exact duplicates (identical
    text, star edges root->member — never the quadratic within-group pair
    set) UNION verified near-duplicates (MinHash candidates at shingle
    Jaccard >= t), clustered with large-star/small-star CC. Output
    (id, cluster_id, keep) — keep = the cluster's min-id canonical doc.

    Exact edges matter even at Jaccard 1.0: zero-token docs (empty text)
    have EMPTY shingle sets, so only text equality can tie them.
    Exact-dup grouping keys on a 128-bit two-seed hash: a single 64-bit
    hash at the 10^12-doc scale this module targets would silently merge
    ~1e4 unrelated documents by birthday collisions."""
    from .cluster import connected_components

    near = minhash_near_dup_pairs(
        docs,
        id_col,
        text_col,
        w=w,
        bands=bands,
        rows_per_band=rows_per_band,
        min_jaccard=min_jaccard,
        skew_threshold=skew_threshold,
        target_block=target_block,
        materializer=materializer,
    ).select("id_a", "id_b")
    h = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.xxhash64(text_col).alias("th"),
        F.xxhash64(F.lit("th_hi"), F.col(text_col)).alias("th2"),
    )
    roots = h.groupBy("th", "th2").agg(F.min("id").alias("root"))
    exact_edges = (
        h.join(roots, ["th", "th2"])
        .where(F.col("id") != F.col("root"))
        .select(F.col("root").alias("id_a"), F.col("id").alias("id_b"))
    )
    edges = near.unionByName(exact_edges)
    cc = connected_components(
        edges, docs.select(F.col(id_col).alias("id")), materializer=materializer
    )
    return cc.withColumn("keep", F.col("id") == F.col("cluster_id"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine_sim(a: Column, b: Column) -> Column:
    na = F.sqrt(_dot(a, a))
    nb = F.sqrt(_dot(b, b))
    return F.when((na > 0) & (nb > 0), _dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def embedding_dup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    min_cosine: float = 0.95,
    n_buckets_hint: int | None = None,
    n_tables: int = 1,
    skew_threshold: int = DEFAULT_SKEW_THRESHOLD,
    target_block: int = DEFAULT_TARGET_BLOCK,
    materializer: Materializer | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH bucketing +
    exact cosine verify. Deterministic hyperplanes (xxhash64-seeded
    signs over dimension index). Output (id_a, id_b, cosine).

    n_tables > 1 = multi-table LSH (amplification): each table hashes
    with its own `planes` hyperplanes; a pair is a candidate if it
    collides in ANY table. Miss probability at cosine c is
    (1 - (1 - theta/pi)^planes)^n_tables (theta = arccos c) — e.g. 8
    tables x 6 planes at c=0.95 -> ~0.2% miss vs ~72% for one 12-plane
    table. Use multi-table when the output must approximate the exact
    cosine-threshold set; single-table when candidates feed a further
    verify stage."""
    planes = 12 if n_buckets_hint is None else n_buckets_hint
    if not 1 <= planes <= 63:
        # the per-table signature packs one sign bit per plane into a
        # single long; plane p ORs into bit p, so p >= 64 would silently
        # alias onto bit p mod 64 (shiftleft wraps) and collapse buckets
        raise ValueError(
            f"n_buckets_hint={planes} is a HYPERPLANE count (buckets = 2^planes); "
            "must be in [1, 63] — use n_tables for amplification instead"
        )
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))

    # sign bit p (plane index `off + p` globally) of vector x:
    # sum_d sign_hash(plane, d) * x_d  > 0
    def bucket_bits(vec: Column, off: int) -> Column:
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(planes - 1)),
            F.lit(0).cast("long"),
            lambda acc, p: acc.bitwiseOR(
                F.when(
                    F.aggregate(
                        F.zip_with(
                            vec,
                            F.sequence(F.lit(0), F.size(vec) - 1),
                            lambda x, d: x
                            * F.when(
                                F.pmod(F.xxhash64(p + F.lit(off), d), F.lit(2)) == 0, 1.0
                            ).otherwise(-1.0),
                        ),
                        F.lit(0.0),
                        lambda a2, x: a2 + x,
                    )
                    > 0,
                    F.call_function("shiftleft", F.lit(1).cast("long"), p),
                ).otherwise(F.lit(0).cast("long"))
            ),
        )

    keyed = _spread(v)
    for t in range(n_tables):
        keyed = keyed.withColumn(f"__bkt{t}", bucket_bits(F.col("vec"), t * planes))
    keyed = resolve(materializer)(keyed, "emb_buckets")
    parts = [
        keyed.select(
            F.concat_ws(":", F.lit(str(t)), F.col(f"__bkt{t}").cast("string")).alias(
                "block_key"
            ),
            "id",
            "vec",
        )
        for t in range(n_tables)
    ]
    bucketed = parts[0]
    for part in parts[1:]:
        bucketed = bucketed.unionByName(part)
    p = _bucket_pairs(
        bucketed, "id", ["vec"], skew_threshold=skew_threshold, target_block=target_block
    )
    return (
        p.withColumn("cosine", cosine_sim(F.col("a_vec"), F.col("b_vec")))
        .where(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )
