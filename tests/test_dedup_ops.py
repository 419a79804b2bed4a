"""Tests for training-data dedup/similarity operators."""

import numpy as np
from pyspark.sql import functions as F

from fastlink_spark.operators.dedup import (
    embedding_dup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs_multi,
)
from fastlink_spark.operators.similarity import brute_force_topk, ivf_topk


def _docs(spark):
    base = " ".join(f"tok{i}" for i in range(150))
    near = " ".join(f"tok{i}" for i in range(130))  # 87% prefix overlap
    other = " ".join(f"zzz{i}" for i in range(150))
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, near),  # near dup of 1
        (4, other),
        (5, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_and_jaccard(spark):
    docs = _docs(spark)
    cand = minhash_lsh_pairs(docs, "doc_id", "text")
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (1, 2) in pairs and (1, 3) in pairs
    assert not any(4 in p or 5 in p for p in pairs)
    verified = ngram_jaccard_pairs(cand, docs, "doc_id", "text", n=3)
    d = {(r["id_a"], r["id_b"]): r for r in verified.collect()}
    assert d[(1, 2)]["jaccard"] == 1.0
    assert 0.5 < d[(1, 3)]["jaccard"] < 1.0
    assert d[(1, 2)]["n_inter"] == d[(1, 2)]["n_union"]


def test_simhash_multi(spark):
    # n_tables must satisfy the pigeonhole bound max_hamming <= n_tables-1
    # (r5: radii beyond the bound now raise instead of silently losing recall)
    out = simhash_pairs_multi(_docs(spark), "doc_id", "text", max_hamming=8, n_tables=9)
    d = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert d[(1, 2)] == 0
    assert (1, 3) in d  # near dup within hamming 8
    assert (1, 4) not in d


def _emb(spark, n=40, d=8):
    rng = np.random.default_rng(4)
    base = rng.normal(size=(n, d))
    base[1] = base[0] + rng.normal(scale=0.01, size=d)  # near-dup of 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, vec array<double>")


def test_brute_force_topk(spark):
    emb = _emb(spark)
    out = brute_force_topk(emb, emb.where(F.col("vec_id") == 0), "vec_id", "vec", k=3)
    rows = sorted((r["rank"], r["neighbor_id"]) for r in out.collect())
    assert rows[0] == (1, 1)  # nearest neighbor of 0 is its near-dup 1
    assert len(rows) == 3


def test_ivf_topk_recall(spark):
    emb = _emb(spark, n=60)
    q = emb.where(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, "vec_id", "vec", k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, q, "vec_id", "vec", k=3, n_cells=8, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_embedding_dup_pairs(spark):
    emb = _emb(spark)
    out = embedding_dup_pairs(emb, "vec_id", "vec", min_cosine=0.99)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 1) in pairs
