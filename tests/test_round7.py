"""Round-7 regression tests: the r6 ADVICE items and the r7 verdict
work list (compact's VACUUM contract, skew stress, LSAP oracle twin)."""

from __future__ import annotations

import os


def _page_rows(n_base: int, seed: int):
    from fastlink_spark.sources.fixtures import generate_pages

    fx = generate_pages(n_base=n_base, seed=seed)
    pdf = fx.pages.reset_index(drop=True)
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    rows = [
        (r["url"], r["warc_ts"].to_pydatetime(), r["html"], r["text"], r["lang"])
        for _, r in pdf.iterrows()
    ]
    return rows, schema


# --------------------------- compact(): the VACUUM contract


def test_compact_default_contract_unchanged(spark, tmp_path):
    """The strict VACUUM contract: the superseded segments are gone
    right after compact()."""
    from fastlink_spark.plans.pipeline import LinkageConfig, link_dedupe
    from fastlink_spark.streaming.incremental import IncrementalLinker

    rows, schema = _page_rows(20, 23)
    batch = link_dedupe(spark, spark.createDataFrame(rows, schema), LinkageConfig())
    linker = IncrementalLinker(spark, str(tmp_path / "st0"), batch.em, LinkageConfig())
    linker.process_batch(spark.createDataFrame(rows, schema), batch_id=0)
    gen0_dirs = set(linker._load_manifest()["records"])
    linker.compact()
    assert not any(os.path.isdir(tmp_path / "st0" / d) for d in gen0_dirs)


# --------------------------- verdict item 5: adversarial skew stress


def test_skew_stress_one_hot_block(spark):
    """r7 verdict item 5: pinned adversarial fixture — ONE block key
    owns 30% of all rows (the boilerplate-corpus shape). The grid salt
    must (a) emit exactly the sum-of-triangles pair count, and (b)
    bound every reduce cell to ~target^2 comparisons: the max cell
    load, recomputed from the plan's own salt assignment, stays within
    2x target^2 (hash spread headroom) — vs the ~n^2/2 = 4.5M a single
    unsalted task would take."""
    import math

    from pyspark.sql import functions as F

    from fastlink_spark.operators.pairs import candidate_pairs

    n_total, hot, target = 10_000, 3_000, 500
    df = spark.range(n_total).select(
        F.col("id").alias("rec_id"),
        F.when(F.col("id") < hot, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 700).cast("string")))
        .alias("block_key"),
    )
    pairs = candidate_pairs(
        df, skew_threshold=1_000, target_block=target, dedupe_pairs=False
    )
    sizes = {r["block_key"]: r["n"] for r in df.groupBy("block_key").agg(F.count("*").alias("n")).collect()}
    expected = sum(n * (n - 1) // 2 for n in sizes.values())
    assert pairs.count() == expected
    # per-cell bound from the plan's own salt assignment
    s_cnt = math.ceil(hot / target)
    per_salt = {
        r["s"]: r["n"]
        for r in df.where(F.col("block_key") == "hot")
        .select(F.pmod(F.xxhash64("rec_id"), F.lit(s_cnt)).alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert sum(per_salt.values()) == hot
    max_cell = 0
    for sa in range(s_cnt):
        for sb in range(sa, s_cnt):
            ca, cb = per_salt.get(sa, 0), per_salt.get(sb, 0)
            load = ca * (ca - 1) // 2 if sa == sb else ca * cb
            max_cell = max(max_cell, load)
    assert max_cell <= 2 * target * target, f"cell load {max_cell} breaks the bound"
    # and the unsalted disaster this prevents, for the record
    assert hot * (hot - 1) // 2 > 15 * max_cell
