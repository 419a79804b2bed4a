"""T5 (F1 gate) + T6 (resume) on the deterministic pages fixture."""

import os
import shutil

import pytest

from fastlink_spark.eval import match_summary, pairwise_f1
from fastlink_spark.plans.pipeline import LinkageConfig, link_dedupe
from fastlink_spark.sources.fixtures import generate_pages


@pytest.fixture(scope="module")
def fixture_and_result(spark, tmp_path_factory):
    fx = generate_pages(n_base=300)
    pages = spark.createDataFrame(fx.pages)
    res = link_dedupe(spark, pages, LinkageConfig())
    return fx, res


def test_f1_gate(spark, fixture_and_result):
    fx, res = fixture_and_result
    lp = spark.createDataFrame(fx.labeled_pairs)
    stats = pairwise_f1(res.entities, lp)
    assert stats["f1"] >= 0.99, stats  # BASELINE.json hard gate
    assert stats["precision"] >= 0.99


def test_em_behaviour(fixture_and_result):
    _, res = fixture_and_result
    assert res.em.converged
    assert 0.0 < res.em.lam < 0.5  # candidate pairs are mostly non-matches
    # agreement on url_norm must be far more likely under match class
    assert res.em.m["gamma_url_norm"][-1] > res.em.u["gamma_url_norm"][-1]
    summ = match_summary(res.pattern_counts)
    assert summ["0.85"]["matches"] > 0
    assert summ["0.85"]["expected_fdr"] < 0.05


def test_entities_cover_all_pages(spark, fixture_and_result):
    fx, res = fixture_and_result
    assert res.entities.count() == len(fx.pages)


def test_resume_byte_identical(spark, tmp_path):
    fx = generate_pages(n_base=80)
    pages = spark.createDataFrame(fx.pages)
    ck = str(tmp_path / "ckpt")
    cfg = LinkageConfig(checkpoint_dir=ck)
    op_stages = os.path.join(ck, "_op_stages")

    def live_invocations():
        # CC's operator scratch is freed once the clusters stage is written
        if not os.path.isdir(op_stages):
            return []
        return [d for d in os.listdir(op_stages) if d.startswith("inv_")]

    r1 = link_dedupe(spark, pages, cfg)
    assert live_invocations() == []
    c1 = {r["url"]: r["cluster_id"] for r in r1.entities.collect()}
    # full resume
    r2 = link_dedupe(spark, pages, cfg)
    assert all(v["resumed"] for k, v in r2.metrics.items() if isinstance(v, dict) and "resumed" in v)
    c2 = {r["url"]: r["cluster_id"] for r in r2.entities.collect()}
    assert c1 == c2
    # kill downstream stages -> partial recompute, identical output (T6)
    for st in ("matched_pairs", "clusters"):
        shutil.rmtree(os.path.join(ck, st))
        os.remove(os.path.join(ck, f"{st}.manifest.json"))
    r3 = link_dedupe(spark, pages, cfg)
    assert r3.metrics["candidate_pairs"]["resumed"] is True
    assert r3.metrics["matched_pairs"]["resumed"] is False
    assert live_invocations() == []
    c3 = {r["url"]: r["cluster_id"] for r in r3.entities.collect()}
    assert c1 == c3


def test_truncated_stage_manifest_rebuilds(spark, tmp_path):
    """Crash injection: a half-written stage manifest is stale lineage.
    Resume rebuilds that stage (it used to raise JSONDecodeError) and
    the clusters come out identical."""
    import json

    fx = generate_pages(n_base=40)
    pages = spark.createDataFrame(fx.pages)
    ck = str(tmp_path / "ckpt")
    cfg = LinkageConfig(checkpoint_dir=ck)
    r1 = link_dedupe(spark, pages, cfg)
    c1 = {r["url"]: r["cluster_id"] for r in r1.entities.collect()}
    man = os.path.join(ck, "matched_pairs.manifest.json")
    with open(man, "rb") as f:
        body = f.read()
    with open(man, "wb") as f:
        f.write(body[: len(body) // 2])
    r2 = link_dedupe(spark, pages, cfg)
    assert r2.metrics["candidate_pairs"]["resumed"] is True
    assert r2.metrics["matched_pairs"]["resumed"] is False
    with open(man) as f:
        assert json.load(f)["stage"] == "matched_pairs"
    c2 = {r["url"]: r["cluster_id"] for r in r2.entities.collect()}
    assert c1 == c2


def test_put_json_crash_before_rename_keeps_old_payload(spark, tmp_path, monkeypatch):
    """put_json commits through the shared atomic protocol: a crash
    before the rename leaves the previous payload readable."""
    from fastlink_spark.plans.checkpoint import CheckpointManager

    ckpt = CheckpointManager(spark, str(tmp_path / "ck"))
    ckpt.put_json("em_x", '{"v": 1}')

    def crash(src, dst):
        raise OSError("injected crash before rename")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError, match="injected"):
        ckpt.put_json("em_x", '{"v": 2}')
    monkeypatch.undo()
    assert ckpt.get_json("em_x") == '{"v": 1}'


def test_config_change_invalidates_checkpoint(spark, tmp_path):
    fx = generate_pages(n_base=40)
    pages = spark.createDataFrame(fx.pages)
    ck = str(tmp_path / "ckpt2")
    link_dedupe(spark, pages, LinkageConfig(checkpoint_dir=ck))
    r2 = link_dedupe(spark, pages, LinkageConfig(checkpoint_dir=ck, threshold=0.9))
    # threshold participates in the config token -> matched_pairs must rebuild
    assert r2.metrics["matched_pairs"]["resumed"] is False
