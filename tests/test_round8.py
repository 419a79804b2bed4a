"""Round-8 optimization equivalence pins: every r8 performance change
claims output-identity with the shape it replaced — these tests freeze
each claim so a future edit can't silently break it.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


# --------------------------- slim pair mode (operators/pairs.py r8)

def _blocked_fixture(spark, n=400, hot=120):
    """Blocked rows with a hot block (forces salting) and wide (string)
    attrs (forces slim mode)."""
    return spark.range(n).select(
        F.when(F.col("id") < hot, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 37).cast("string")))
        .alias("block_key"),
        F.col("id").alias("rec_id"),
        F.concat(F.lit("name-"), (F.col("id") % 50).cast("string")).alias("name"),
        (F.col("id") % 7).cast("long").alias("n_chars"),
    )


def test_candidate_pairs_slim_equals_ride_along(spark, monkeypatch):
    """Slim mode (dedupe ids, attach attrs once) must emit EXACTLY the
    ride-along path's rows — same columns, same order, same values —
    under forced salting."""
    import fastlink_spark.operators.pairs as P

    blocked = _blocked_fixture(spark)
    kw = dict(skew_threshold=20, target_block=15)
    slim_rows = sorted(
        map(tuple, P.candidate_pairs(blocked, **kw).collect())
    )
    cols_slim = P.candidate_pairs(blocked, **kw).columns
    monkeypatch.setattr(P, "_wide_attrs", lambda df, cols: False)
    ride = P.candidate_pairs(blocked, **kw)
    assert ride.columns == cols_slim
    assert sorted(map(tuple, ride.collect())) == slim_rows
    assert len(slim_rows) > 0


def test_candidate_pairs_two_slim_equals_ride_along(spark, monkeypatch):
    """Two-table slim mode: same equivalence under a forced S x T grid."""
    import fastlink_spark.operators.pairs as P

    base = _blocked_fixture(spark)
    a = base.where(F.col("rec_id") % 2 == 0)
    b = base.where(F.col("rec_id") % 2 == 1)
    kw = dict(skew_threshold=20, target_block=15)
    slim = P.candidate_pairs_two(a, b, **kw)
    slim_rows = sorted(map(tuple, slim.collect()))
    monkeypatch.setattr(P, "_wide_attrs", lambda df, cols: False)
    ride = P.candidate_pairs_two(a, b, **kw)
    assert ride.columns == slim.columns
    assert sorted(map(tuple, ride.collect())) == slim_rows
    assert len(slim_rows) > 0


def test_slim_gate_fixed_width_attrs_keep_ride_along(spark):
    """A single long attr (simhash fp shape) must NOT trigger slim mode
    (its dedupe is already a hash aggregate; extra joins are a loss)."""
    import fastlink_spark.operators.pairs as P

    long_only = _blocked_fixture(spark).drop("name")
    assert not P._wide_attrs(long_only, ["n_chars"])
    assert P._wide_attrs(_blocked_fixture(spark), ["name", "n_chars"])


# --------------------------- matched_from_zeta one-pass (plans/pipeline.py r8)

def test_matched_from_zeta_one_pass_semantics(spark):
    """One-pass rule == old two-branch union+groupBy(max) semantics on
    a frame covering: FS-only, det-only, both, neither, null det field,
    and a pattern missing from zeta_df (det-only survival)."""
    from fastlink_spark.plans.pipeline import matched_from_zeta

    scored = spark.createDataFrame(
        [
            # (id_a, id_b, a_url_norm, b_url_norm, gamma_u)
            (1, 2, "u1", "u1", 2),   # both: det + zeta 0.9 -> zeta 1.0
            (3, 4, "u3", "u9", 2),   # FS only -> zeta 0.9
            (5, 6, "u5", "u5", 0),   # det only (zeta 0.1) -> zeta 1.0
            (7, 8, "u7", "u9", 0),   # neither -> dropped
            (9, 10, None, "u9", 2),  # null det side, FS -> zeta 0.9
            (11, 12, "ux", "ux", 7), # pattern NOT in zeta_df, det -> 1.0
            (13, 14, "ua", "ub", 7), # pattern NOT in zeta_df, no det -> dropped
        ],
        "a_rec_id long, b_rec_id long, a_url_norm string, b_url_norm string, gamma_url_norm int",
    )
    zdf = spark.createDataFrame([(2, 0.9), (0, 0.1)], "gamma_url_norm int, zeta double")
    got = {
        (r["a_rec_id"], r["b_rec_id"]): r["zeta"]
        for r in matched_from_zeta(
            scored,
            zdf,
            ["gamma_url_norm"],
            threshold=0.85,
            deterministic_fields=("url_norm",),
        ).collect()
    }
    assert got == {(1, 2): 1.0, (3, 4): 0.9, (5, 6): 1.0, (9, 10): 0.9, (11, 12): 1.0}


# --------------------------- observation fingerprint (plans/checkpoint.py r8)

def test_fingerprint_observation_matches_scan(spark, tmp_path):
    """Observed fingerprint (write-action piggyback) == standalone-scan
    fingerprint, including the empty-frame case; fallback path agrees."""
    from fastlink_spark.plans.checkpoint import (
        content_fingerprint,
        fingerprint_observation,
    )

    df = spark.range(0, 5000, 1, 4).select(
        "id", (F.col("id") % 13).cast("string").alias("s")
    )
    observed, resolve = fingerprint_observation(df)
    observed.write.mode("overwrite").parquet(str(tmp_path / "d"))
    assert resolve() == content_fingerprint(df)

    empty = df.where(F.lit(False))
    observed_e, resolve_e = fingerprint_observation(empty)
    observed_e.write.mode("overwrite").parquet(str(tmp_path / "e"))
    rows, fp = resolve_e()
    assert (rows, fp) == content_fingerprint(empty)
    assert rows == 0

    # resolver without any action: falls back to the standalone scan
    _, resolve_lazy = fingerprint_observation(df)
    assert resolve_lazy(timeout=0.2) == content_fingerprint(df)


# --------------------------- oriented small-star (operators/cluster.py r8)

def test_small_star_oriented_skip_is_identical(spark):
    """On large-star output (strictly oriented + distinct), the
    oriented=True fast path must equal the general path exactly."""
    from fastlink_spark.operators.cluster import _large_star, _small_star

    rng = np.random.default_rng(3)
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in rng.integers(0, 60, (300, 2)) if a != b],
        "u long, v long",
    ).distinct()
    ls = _large_star(edges).localCheckpoint(eager=True)
    fast = sorted(map(tuple, _small_star(ls, oriented=True).collect()))
    slow = sorted(map(tuple, _small_star(ls).collect()))
    assert fast == slow and len(fast) > 0


# --------------------------- letter features UDF (operators/cluster_match.py r8)

def test_letter_features_udf_equals_regex_form(spark):
    """Vectorized Arrow letter features == the original 26-regex
    expression form on unicode / null / empty / long-string edges."""
    from fastlink_spark.operators import cluster_match as cm

    texts = [
        "", None, "Hello World", "ABC abc zZ", "héllo wörld ÄÖÜ",
        "日本語 text 123", "a" * 1000 + "Q", "x y z", "ZzZzZ@@@9",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    s = F.coalesce(F.col("text"), F.lit(""))
    dims = [
        (F.length(s) - F.length(F.regexp_replace(s, f"[{ch}{ch.upper()}]", ""))).cast("long")
        for ch in cm.LETTERS
    ]
    dims.append(F.length(s).cast("long"))
    old = {r["id"]: r["v"] for r in df.withColumn("v", F.array(*dims)).collect()}
    new = {r["id"]: r["lf_vec"] for r in cm.letter_features(df, "text").collect()}
    assert old == new


# --------------------------- JW equality fast path (functions/jw.py r8)

def test_jw_equality_fast_path_bit_identical():
    """jaro_winkler_series (with the equal-pair shortcut) must be
    bit-identical to the raw kernel over a mix heavy in equal pairs."""
    from fastlink_spark.functions import jw

    rng = np.random.default_rng(11)
    words = [
        "".join(chr(97 + c) for c in rng.integers(0, 26, rng.integers(0, 24)))
        for _ in range(300)
    ]
    idx = rng.integers(0, 300, 4000)
    a = pd.Series([words[i] for i in idx])
    b = pd.Series(
        [words[i] if rng.random() < 0.5 else words[(i * 13 + 7) % 300] for i in idx]
    )
    got = jw.jaro_winkler_series(a, b).to_numpy()
    ref = jw.jaro_winkler_np(a.to_numpy(dtype=object), b.to_numpy(dtype=object))
    eq_frac = float((a == b).mean())
    assert eq_frac > 0.3  # the shortcut is actually exercised
    assert np.array_equal(got, ref)


# ------------------- two-table S x T grid skew stress (r7 verdict #5)

def test_two_table_skew_stress_one_hot_block(spark):
    """Mirror of r7's self-join one-hot-block stress for
    candidate_pairs_two: ONE block key owns 30% of BOTH sides. The
    S x T grid must (a) emit exactly sum(na*nb) pairs and (b) bound
    every reduce cell — read off the grid's own cell keys, not a copy
    of its salt formula — to 2x target^2 comparisons, vs the
    na*nb = 7.2M a one-sided or unsalted plan would put in a single
    task."""
    from fastlink_spark.operators.pairs import _two_table_grid, candidate_pairs_two

    n_a, n_b, hot_a, hot_b, target = 10_000, 8_000, 3_000, 2_400, 500
    dfa = spark.range(n_a).select(
        F.col("id").alias("rec_id"),
        F.when(F.col("id") < hot_a, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 700).cast("string")))
        .alias("block_key"),
    )
    dfb = spark.range(n_b).select(
        (F.col("id") + 1_000_000).alias("rec_id"),
        F.when(F.col("id") < hot_b, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 350).cast("string")))
        .alias("block_key"),
    )
    pairs = candidate_pairs_two(
        dfa, dfb, skew_threshold=1_000, target_block=target, dedupe_pairs=False
    )
    na = {r["block_key"]: r["n"] for r in dfa.groupBy("block_key").agg(F.count("*").alias("n")).collect()}
    nb = {r["block_key"]: r["n"] for r in dfb.groupBy("block_key").agg(F.count("*").alias("n")).collect()}
    expected = sum(n * nb[k] for k, n in na.items() if k in nb)
    assert pairs.count() == expected
    # per-cell load from the cell keys the grid actually assigned
    a, b = _two_table_grid(
        dfa, dfb, id_col="rec_id", skew_threshold=1_000, target_block=target
    )
    cell_a = a.groupBy("__bk_a", "__i", "__j").agg(F.count("*").alias("na"))
    cell_b = b.groupBy(
        F.col("__bk_b").alias("__bk_a"),
        F.col("__i_b").alias("__i"),
        F.col("__j_b").alias("__j"),
    ).agg(F.count("*").alias("nb"))
    loads = (
        cell_a.join(cell_b, ["__bk_a", "__i", "__j"])
        .select("__bk_a", (F.col("na") * F.col("nb")).alias("load"))
        .collect()
    )
    assert sum(r["load"] for r in loads) == expected
    hot_cells = sum(r["__bk_a"] == "hot" for r in loads)
    assert hot_cells > 1, "the hot block must be split over several cells"
    max_cell = max(r["load"] for r in loads)
    assert max_cell <= 2 * target * target, f"cell load {max_cell} breaks the bound"
    # and the single-task disaster the grid prevents, for the record
    assert hot_a * hot_b > 10 * 2 * target * target
