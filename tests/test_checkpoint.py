"""Checkpoint manifests, schema-carrying read-backs and observation
resolvers (plans/checkpoint.py, plans/materialize.py)."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F


def _jobs(spark, fn):
    """(result, number of Spark jobs fn submitted)."""
    sc = spark.sparkContext
    group = f"jobs_{time.perf_counter_ns()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _frame(spark):
    # xxhash64 and range ids are non-nullable; parquet read-backs are not
    return spark.range(0, 1000, 1, 4).select(
        F.xxhash64("id").alias("h"),
        "id",
        F.array(F.col("id"), F.lit(1)).alias("arr"),
        (F.col("id") % 7).cast("string").alias("s"),
    )


@pytest.mark.parametrize("empty", [False, True])
def test_stage_manifest_counters_and_schema(spark, tmp_path, empty):
    """Per-part-file counters from parquet footers sum to the row count;
    the read-back (after a build and after a resume) has the schema that
    inference finds; a build costs one Spark job (the write) and a
    resume none."""
    from fastlink_spark.plans.checkpoint import CheckpointManager

    df = _frame(spark)
    if empty:
        df = df.where(F.lit(False))
    assert not df.schema["h"].nullable
    root = str(tmp_path / "ck")
    path = os.path.join(root, "s")
    out, n_jobs = _jobs(spark, lambda: CheckpointManager(spark, root).stage("s", lambda: df))
    assert n_jobs == 1
    with open(os.path.join(root, "s.manifest.json")) as f:
        man = json.load(f)
    parts = [p for p in os.listdir(path) if not p.startswith(("_", "."))]
    assert len(man["partitions"]) == len(parts)
    assert sum(man["partitions"].values()) == man["rows"] == (0 if empty else 1000)
    inferred = spark.read.parquet(path).schema
    assert out.schema == inferred
    assert man["schema"] == inferred.jsonValue()

    mgr = CheckpointManager(spark, root)
    back, n_jobs = _jobs(spark, lambda: mgr.stage("s", lambda: df))
    assert n_jobs == 0 and mgr.metrics["s"]["resumed"] is True
    assert back.schema == inferred
    assert sorted(map(tuple, back.select("h", "id").collect())) == sorted(
        map(tuple, df.select("h", "id").collect())
    )


def test_parquet_cut_read_back_schema(spark, tmp_path):
    from fastlink_spark.plans.materialize import parquet_materializer

    out, n_jobs = _jobs(spark, lambda: parquet_materializer(str(tmp_path))(_frame(spark), "c"))
    assert n_jobs == 1
    assert out.schema == spark.read.parquet(str(tmp_path / "c_000")).schema


def test_resolver_without_action_does_not_wait(spark):
    """A resolver whose observed plan never ran falls back at once
    instead of waiting out its timeout."""
    from fastlink_spark.plans.checkpoint import content_fingerprint, fingerprint_observation

    df = _frame(spark)
    _, resolve = fingerprint_observation(df)
    t0 = time.perf_counter()
    assert resolve(timeout=30) == content_fingerprint(df)
    assert time.perf_counter() - t0 < 10


def test_identity_materializer_same_output_no_stall(spark):
    """dedupe_matches and connected_components with a materializer that
    runs no action give the default's output, and the operator call,
    which runs every cut's resolver, returns in under 10 s (the resolver
    used to wait 60 s per cut before falling back)."""
    from fastlink_spark.operators.cluster import connected_components
    from fastlink_spark.operators.dedupe_matches import dedupe_matches

    def identity(df, name):
        return df

    # inputs cut to the JVM block store: with no materialization every
    # resolver fallback recomputes the lineage down to its source, and
    # a Python-side source would pay Python workers on each recompute
    pairs = spark.createDataFrame(
        [(1, 1, 0.9), (1, 2, 0.8), (3, 3, 0.6), (4, 3, 0.5)],
        "a_rec_id long, b_rec_id long, zeta double",
    ).localCheckpoint()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 11), (7, 7)], "u long, v long"
    ).localCheckpoint()
    for op in (
        lambda m: dedupe_matches(pairs, materializer=m),
        lambda m: connected_components(edges, materializer=m),
    ):
        expected = sorted(map(tuple, op(None).collect()))
        t0 = time.perf_counter()
        out = op(identity)
        assert time.perf_counter() - t0 < 10
        assert sorted(map(tuple, out.collect())) == expected
