"""Round-2 additions: exact LSAP assignment, Damerau-Levenshtein (OSA),
movers-priors data path, string-id CC, checkpoint content-fingerprint
invalidation, within-batch incremental clustering, empty-doc Jaccard
guard."""

import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- LSAP

def test_lsap_beats_greedy_on_tie_block(spark):
    from fastlink_spark.operators.dedupe_matches import dedupe_matches

    pairs = spark.createDataFrame(
        [(1, 101, 0.9), (1, 102, 0.8), (2, 101, 0.8)],
        "a_rec_id long, b_rec_id long, zeta double",
    )
    greedy = dedupe_matches(pairs)
    lsap = dedupe_matches(pairs, method="lsap")
    g = {(r.a_rec_id, r.b_rec_id) for r in greedy.collect()}
    l = {(r.a_rec_id, r.b_rec_id) for r in lsap.collect()}
    assert g == {(1, 101)}  # greedy takes the single best, strands 2/102
    assert l == {(1, 102), (2, 101)}  # exact LSAP: total 1.6 > 0.9


def _brute_force_best(rows):
    """Max-total-score 1:1 matching by enumeration (test oracle)."""
    best = 0.0
    n = len(rows)
    for r in range(n + 1):
        for combo in itertools.combinations(range(n), r):
            a_used, b_used, tot, ok = set(), set(), 0.0, True
            for i in combo:
                a, b, s = rows[i]
                if a in a_used or b in b_used:
                    ok = False
                    break
                a_used.add(a)
                b_used.add(b)
                tot += s
            if ok:
                best = max(best, tot)
    return best


def test_lsap_matches_brute_force_fuzz(spark):
    from fastlink_spark.operators.dedupe_matches import dedupe_matches

    # crafted: max-WEIGHT must beat max-cardinality — {a1-b2}=0.9 over
    # the perfect matching {a1-b1, a2-b2}=0.3 (lpSolve objective parity)
    pairs = spark.createDataFrame(
        [(1, 101, 0.1), (1, 102, 0.9), (2, 102, 0.2)],
        "a_rec_id long, b_rec_id long, zeta double",
    )
    out = {(r.a_rec_id, r.b_rec_id) for r in dedupe_matches(pairs, method="lsap").collect()}
    assert out == {(1, 102)}

    rng = np.random.default_rng(7)
    for trial in range(12):
        na, nb = rng.integers(2, 5), rng.integers(2, 5)
        rows = []
        for a in range(na):
            for b in range(nb):
                if rng.random() < 0.7:
                    rows.append((a + 1, 100 + b, float(round(rng.random(), 3))))
        if not rows:
            continue
        pairs = spark.createDataFrame(rows, "a_rec_id long, b_rec_id long, zeta double")
        out = dedupe_matches(pairs, method="lsap").collect()
        # 1:1 + subset of input
        assert len({r.a_rec_id for r in out}) == len(out)
        assert len({r.b_rec_id for r in out}) == len(out)
        inp = {(a, b) for a, b, _ in rows}
        assert all((r.a_rec_id, r.b_rec_id) in inp for r in out)
        # exact optimum
        tot = sum(r.zeta for r in out)
        assert tot == pytest.approx(_brute_force_best(rows), abs=1e-9), f"trial {trial}"


def test_lsap_disconnected_components_and_fallback(spark, monkeypatch):
    from fastlink_spark.operators import dedupe_matches as dm
    from fastlink_spark.operators.dedupe_matches import dedupe_matches

    rows = [(1, 101, 0.9), (1, 102, 0.8), (2, 101, 0.8), (50, 500, 0.4), (60, 600, 0.7)]
    pairs = spark.createDataFrame(rows, "a_rec_id long, b_rec_id long, zeta double")
    out = {(r.a_rec_id, r.b_rec_id) for r in dedupe_matches(pairs, method="lsap").collect()}
    assert out == {(1, 102), (2, 101), (50, 500), (60, 600)}
    # oversized component falls back to greedy (still 1:1, deterministic)
    monkeypatch.setattr(dm, "MAX_LSAP_BLOCK", 2)
    fb = dedupe_matches(pairs, method="lsap").collect()
    assert len({r.a_rec_id for r in fb}) == len(fb)
    assert {(r.a_rec_id, r.b_rec_id) for r in fb} == {(1, 101), (50, 500), (60, 600)}


def test_lsap_components_keep_sides_apart(spark, monkeypatch):
    """a-side and b-side ids are separate namespaces, also for the CC
    that splits the problem into blocks: a chain whose b-side ids reach
    the block's a-side id 10 must not glue the two into one component
    (that component would exceed MAX_LSAP_BLOCK and be solved greedily,
    total 0.9, instead of exactly, total 1.6)."""
    from fastlink_spark.operators import dedupe_matches as dm
    from fastlink_spark.operators.dedupe_matches import dedupe_matches

    block = [(10, 900001, 0.9), (10, 900002, 0.8), (900003, 900001, 0.8)]
    chain = [(i, i + 1, 0.5) for i in range(10)]
    pairs = spark.createDataFrame(block + chain, "a_rec_id long, b_rec_id long, zeta double")
    monkeypatch.setattr(dm, "MAX_LSAP_BLOCK", 5)
    out = {(r.a_rec_id, r.b_rec_id) for r in dedupe_matches(pairs, method="lsap").collect()}
    assert out == {(10, 900002), (900003, 900001)} | {(a, b) for a, b, _ in chain}


# ---------------------------------------------------- Damerau-Levenshtein

def test_osa_distance_transpositions():
    from fastlink_spark.functions.dl import osa_distance

    assert osa_distance("ab", "ba") == 1  # plain lv = 2
    assert osa_distance("abcd", "acbd") == 1
    assert osa_distance("", "abc") == 3
    assert osa_distance("abc", "abc") == 0
    assert osa_distance("kitten", "sitting") == 3
    # OSA (no substring edited twice): ca -> abc is 3 under OSA (2 under full DL)
    assert osa_distance("ca", "abc") == 3


def test_osa_vs_python_reference_fuzz():
    from fastlink_spark.functions.dl import osa_distance

    def ref_osa(a, b):
        la, lb = len(a), len(b)
        d = [[0] * (lb + 1) for _ in range(la + 1)]
        for i in range(la + 1):
            d[i][0] = i
        for j in range(lb + 1):
            d[0][j] = j
        for i in range(1, la + 1):
            for j in range(1, lb + 1):
                c = 0 if a[i - 1] == b[j - 1] else 1
                d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + c)
                if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
                    d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
        return d[la][lb]

    rng = np.random.default_rng(3)
    alpha = "abcde"
    for _ in range(200):
        a = "".join(rng.choice(list(alpha), size=rng.integers(0, 9)))
        b = "".join(rng.choice(list(alpha), size=rng.integers(0, 9)))
        assert osa_distance(a, b) == ref_osa(a, b), (a, b)


def test_dl_fieldspec_gamma(spark):
    from fastlink_spark.operators.gammas import FieldSpec, with_gammas

    pairs = spark.createDataFrame(
        [
            ("hte quick fox", "the quick fox"),  # 1 transposition
            ("completely", "different!!"),
            (None, "x"),
        ],
        "a_t string, b_t string",
    )
    out = with_gammas(pairs, [FieldSpec("t", "dl", cut_full=0.9, cut_partial=0.5)]).collect()
    got = [r["gamma_t"] for r in out]
    assert got[0] == 2  # 1 - 1/13 = 0.923 >= 0.9 (lv would give 2/13 -> gamma 1)
    assert got[1] == 0
    assert got[2] is None


# ---------------------------------------------------- movers priors table

def test_movers_priors_from_table_shifts_em(spark):
    from fastlink_spark.em import emlink_mar
    from fastlink_spark.operators.reweight import movers_priors_from_table

    mig_hi = spark.createDataFrame(
        [("CA", "CA", 900), ("CA", "NY", 100)], "geo_from string, geo_to string, n long"
    )
    mig_lo = spark.createDataFrame(
        [("CA", "CA", 100), ("CA", "NY", 900)], "geo_from string, geo_to string, n long"
    )
    hi = movers_priors_from_table(mig_hi, 100, 100, weight=50.0)
    lo = movers_priors_from_table(mig_lo, 100, 100, weight=50.0)
    assert hi["lambda_prior"] > lo["lambda_prior"] > 0

    patt = pd.DataFrame({"gamma_x": [2, 0], "cnt": [50, 5000]})
    em_hi = emlink_mar(patt, ["gamma_x"], **hi)
    em_lo = emlink_mar(patt, ["gamma_x"], **lo)
    assert em_hi.lam > em_lo.lam  # prior pulls the mixing weight


# ------------------------------------------------- CC id-genericity

def test_connected_components_string_ids(spark):
    from fastlink_spark.operators.cluster import connected_components

    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "u string, v string"
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("x",), ("y",), ("z",)], "id string")
    out = {r["id"]: r["cluster_id"] for r in connected_components(edges, nodes).collect()}
    assert out == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "z"}


# ---------------------------------------------- checkpoint fingerprints

def test_checkpoint_fingerprint_invalidates_downstream(spark, tmp_path):
    from fastlink_spark.plans.checkpoint import CheckpointManager

    root = str(tmp_path / "ckpt")

    def run(v):
        ckpt = CheckpointManager(spark, root, config_token="t")
        s1 = ckpt.stage("s1", lambda: spark.range(v).select(F.col("id")))
        s2 = ckpt.stage("s2", lambda: s1.select((F.col("id") * 2).alias("id")), inputs=("s1",))
        return ckpt, s2

    ckpt1, _ = run(5)
    assert not ckpt1.metrics["s2"]["resumed"]
    ckpt2, _ = run(5)
    assert ckpt2.metrics["s1"]["resumed"] and ckpt2.metrics["s2"]["resumed"]

    # upstream rebuilt to DIFFERENT contents under the same dir: s1's
    # fingerprint changes, s2 must NOT resume from stale parquet
    import shutil

    shutil.rmtree(root + "/s1")
    (tmp_path / "ckpt" / "s1.manifest.json").unlink()
    ckpt3, s2 = run(9)
    assert not ckpt3.metrics["s1"]["resumed"]
    assert not ckpt3.metrics["s2"]["resumed"], "stale downstream resume"
    assert s2.count() == 9


# ------------------------------------- incremental within-batch clusters

def _toy_em():
    from fastlink_spark.em import EMResult

    levels = {"gamma_url_norm": [0, 1, 2], "gamma_title": [0, 1, 2], "gamma_text_hash": [0, 2]}
    flat = {"gamma_url_norm": [1 / 3, 1 / 3, 1 / 3]}
    m = dict(flat, gamma_title=[0.2, 0.05, 0.75], gamma_text_hash=[0.25, 0.75])
    u = dict(flat, gamma_title=[0.9, 0.05, 0.05], gamma_text_hash=[0.95, 0.05])
    return EMResult(
        gamma_cols=list(levels), levels=levels, lam=0.5, m=m, u=u, iterations=1, converged=True
    )


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


def test_incremental_within_batch_duplicates(spark, tmp_path):
    """3 mutual duplicates arriving in ONE batch must all land in ONE
    cluster labeled min(rec_id) — the r1 bug gave them 2 clusters."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    text = "the quick brown fox jumps over the lazy dog again and again " * 4
    pages = _mk_pages(
        spark,
        [(f"https://dups.example.com/p{i}", "same title here", text) for i in range(3)],
    )
    linker = IncrementalLinker(
        spark, str(tmp_path / "st"), _toy_em(), LinkageConfig(threshold=0.5)
    )
    ents = linker.process_batch(pages).collect()
    assert len(ents) == 3
    labels = {r["cluster_id"] for r in ents}
    assert len(labels) == 1
    assert labels == {min(r["rec_id"] for r in ents)}


def test_incremental_transitive_chain_relabel(spark, tmp_path):
    """A-B match (same text), B-C match (same title), A-C don't: the
    label-conflict relabel map must still put all three in one cluster
    (readable via linker.entities())."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    t2 = "one two three four five six seven eight nine ten eleven " * 4
    pages = _mk_pages(
        spark,
        [
            ("https://chain.example.com/a", "title-q", t1),
            ("https://chain.example.com/b", "title-r", t1),
            ("https://chain.example.com/c", "title-r", t2),
        ],
    )
    linker = IncrementalLinker(
        spark, str(tmp_path / "st"), _toy_em(), LinkageConfig(threshold=0.5)
    )
    linker.process_batch(pages)
    ents = linker.entities().collect()
    assert len(ents) == 3
    assert len({r["cluster_id"] for r in ents}) == 1


def test_incremental_bridge_merges_old_clusters(spark, tmp_path):
    """A new record matching two records from DIFFERENT earlier batches
    must merge their clusters in the entities() view."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    t2 = "one two three four five six seven eight nine ten eleven " * 4
    linker = IncrementalLinker(
        spark, str(tmp_path / "st"), _toy_em(), LinkageConfig(threshold=0.5)
    )
    linker.process_batch(
        _mk_pages(spark, [("https://br.example.com/a", "title-q", t1)])
    )
    linker.process_batch(
        _mk_pages(spark, [("https://br.example.com/c", "title-r", t2)])
    )
    # bridge: same text as A (text_hash agree), same title as C
    linker.process_batch(
        _mk_pages(spark, [("https://br.example.com/b", "title-r", t1)])
    )
    ents = linker.entities().collect()
    assert len(ents) == 3
    assert len({r["cluster_id"] for r in ents}) == 1, ents


# ---------------------------------------------- empty-doc jaccard guard

def test_ngram_jaccard_empty_docs_zero(spark):
    from fastlink_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, ""), (2, None), (3, "real text with several tokens in it")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    out = {(r.id_a, r.id_b): r for r in ngram_jaccard_pairs(pairs, docs, "doc_id", "text").collect()}
    assert out[(1, 2)]["jaccard"] == 0.0 and out[(1, 2)]["n_union"] == 0
    assert out[(1, 3)]["jaccard"] == 0.0 and out[(1, 3)]["n_inter"] == 0


# ------------------------------------------- hot-band salting + F1 guard

def test_minhash_hot_band_salted_equals_unsalted(spark):
    """Deliberately hot buckets (tiny skew threshold forces salting on
    every band) must produce the IDENTICAL pair set as the unsalted
    path — the q02 invariant, here on the LSH band join."""
    from fastlink_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plain = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    salted = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", skew_threshold=3, target_block=3
        ).collect()
    }
    assert plain == salted and len(plain) > 0


def test_f1_gate_without_deterministic_pass(spark):
    """The FS mixture ALONE (deterministic url_norm pass disabled) must
    clear the 0.99 F1 gate — the deterministic pass is a layered
    precision-safe extra, never a mask for EM regressions."""
    from fastlink_spark.eval import pairwise_f1
    from fastlink_spark.plans.pipeline import LinkageConfig, link_dedupe
    from fastlink_spark.sources.fixtures import generate_pages

    fx = generate_pages(n_base=300)
    res = link_dedupe(
        spark,
        spark.createDataFrame(fx.pages),
        LinkageConfig(deterministic_fields=()),
    )
    stats = pairwise_f1(res.entities, spark.createDataFrame(fx.labeled_pairs))
    assert stats["f1"] >= 0.99, stats
