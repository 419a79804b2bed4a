"""Round-5 hardening tests: manifest-pointer atomic incremental-state
commit (VERDICT r4 item 2), scoped scratch lifecycle (ADVICE r4
medium), deterministic entities() tiebreak (ADVICE r4 low),
scratch-leak warning (VERDICT item 6), and the
randomized incremental-vs-batch equivalence sweep (VERDICT item 5).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.test_round3 import _RECRAWL_TOKENS, _toy_em
from tests.test_round4 import _mk_pages4


def _manifest(state_dir):
    with open(os.path.join(state_dir, "MANIFEST.json")) as f:
        return json.load(f)


def _ent_rows(linker):
    return sorted(
        (r["rec_id"], r["cluster_id"], r["url"]) for r in linker.entities().collect()
    )


# --------------------------- atomic commit


def test_crash_between_segment_writes_serves_prebatch_state(
    spark, tmp_path, monkeypatch
):
    """Kill the batch BETWEEN the two segment writes (records staged,
    entities write raises): the manifest must be untouched and every
    read must serve exactly the pre-batch state — no
    superseded-but-present rows, no partially-applied relabels. A
    subsequent replay of the same batch must then produce state
    identical to a never-crashed run (VERDICT r4 item 2 'Done =')."""
    from pyspark.sql.readwriter import DataFrameWriter

    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    t1 = " ".join(_RECRAWL_TOKENS)
    t2 = " ".join(f"other{i}" for i in range(40))
    cfg = LinkageConfig(threshold=0.5)
    st = str(tmp_path / "st")
    linker = IncrementalLinker(spark, st, _toy_em(), cfg)
    linker.process_batch(
        _mk_pages4(spark, [("https://hostone.example.com/a", "title one", t1)]),
        batch_id=0,
    )
    pre_rows = _ent_rows(linker)
    pre_manifest = _manifest(st)

    orig = DataFrameWriter.parquet

    def boom(self, path, *a, **kw):
        base = os.path.basename(path.rstrip("/"))
        if base.startswith("seg_") and base.endswith("_entities"):
            raise RuntimeError("injected crash between state writes")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    batch2 = [
        ("https://hostone.example.com/b", "title one", t1),  # dup of /a
        ("https://hosttwo.example.com/c", "title two", t2),
    ]
    with pytest.raises(RuntimeError, match="injected crash"):
        linker.process_batch(_mk_pages4(spark, batch2), batch_id=1)
    monkeypatch.setattr(DataFrameWriter, "parquet", orig)

    # manifest untouched -> reads serve EXACTLY the pre-batch state,
    # even though an orphan records segment exists on disk
    assert _manifest(st) == pre_manifest
    assert _ent_rows(linker) == pre_rows
    assert os.path.isdir(os.path.join(st, "seg_000002_records"))  # orphan

    # replay commits; orphan is overwritten + referenced; final state
    # identical to a reference linker that never crashed
    linker.process_batch(_mk_pages4(spark, batch2), batch_id=1)
    ref = IncrementalLinker(spark, str(tmp_path / "ref"), _toy_em(), cfg)
    ref.process_batch(
        _mk_pages4(spark, [("https://hostone.example.com/a", "title one", t1)]),
        batch_id=0,
    )
    ref.process_batch(_mk_pages4(spark, batch2), batch_id=1)
    assert _ent_rows(linker) == _ent_rows(ref)
    got_m, ref_m = _manifest(st), _manifest(str(tmp_path / "ref"))
    assert got_m == ref_m
    # no unreferenced segment dirs remain after the successful commit
    live = set(got_m["records"]) | set(got_m["entities"])
    on_disk = {d for d in os.listdir(st) if d.startswith("seg_")}
    assert on_disk == live


def test_crash_before_manifest_swap_serves_prebatch_state(
    spark, tmp_path, monkeypatch
):
    """Kill AFTER both segment writes but BEFORE the manifest rename:
    same guarantee — the swap is the single commit point."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    t1 = " ".join(_RECRAWL_TOKENS)
    cfg = LinkageConfig(threshold=0.5)
    st = str(tmp_path / "st")
    linker = IncrementalLinker(spark, st, _toy_em(), cfg)
    linker.process_batch(
        _mk_pages4(spark, [("https://hostone.example.com/a", "title one", t1)]),
        batch_id=0,
    )
    pre_rows = _ent_rows(linker)
    pre_manifest = _manifest(st)

    monkeypatch.setattr(
        linker,
        "_commit_manifest",
        lambda m: (_ for _ in ()).throw(RuntimeError("injected pre-swap crash")),
    )
    with pytest.raises(RuntimeError, match="pre-swap"):
        linker.process_batch(
            _mk_pages4(
                spark, [("https://hostone.example.com/b", "title one", t1)]
            ),
            batch_id=1,
        )
    monkeypatch.undo()
    assert _manifest(st) == pre_manifest
    assert _ent_rows(linker) == pre_rows
    # both orphan segments exist on disk but are invisible to reads
    assert os.path.isdir(os.path.join(st, "seg_000002_records"))
    assert os.path.isdir(os.path.join(st, "seg_000002_entities"))


def test_crash_mid_compact_preserves_state(spark, tmp_path, monkeypatch):
    """compact() uses the same commit protocol: a crash before its
    manifest swap leaves batches + relabel map fully intact."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    t1 = " ".join(_RECRAWL_TOKENS)
    t1p = " ".join(
        ["CHANGED" if i == 20 else t for i, t in enumerate(_RECRAWL_TOKENS)]
    )
    t2 = " ".join(f"other{i}" for i in range(40))
    cfg = LinkageConfig(threshold=0.5)
    st = str(tmp_path / "st")
    linker = IncrementalLinker(spark, st, _toy_em(), cfg)
    linker.process_batch(
        _mk_pages4(
            spark,
            [
                ("https://hostone.example.com/a", "bridge title x", t1),
                ("https://hosttwo.example.com/b", "bridge title x", t2),
            ],
        )
    )
    linker.process_batch(
        _mk_pages4(
            spark, [("https://hosttwo.example.com/c", "bridge title x", t1p)]
        )
    )
    assert linker._read_relabels(), "bridge batch must produce a merge event"
    pre_rows = _ent_rows(linker)
    pre_manifest = _manifest(st)

    monkeypatch.setattr(
        linker,
        "_commit_manifest",
        lambda m: (_ for _ in ()).throw(RuntimeError("injected compact crash")),
    )
    with pytest.raises(RuntimeError, match="compact crash"):
        linker.compact()
    monkeypatch.undo()
    assert _manifest(st) == pre_manifest
    assert _ent_rows(linker) == pre_rows
    # real compact still works afterwards and GCs the orphans
    linker.compact()
    m = _manifest(st)
    assert m["relabels"] == {}
    live = set(m["records"]) | set(m["entities"])
    on_disk = {d for d in os.listdir(st) if d.startswith("seg_")}
    assert on_disk == live
    assert _ent_rows(linker) == pre_rows  # partition unchanged by compaction


def test_compact_twice_no_segment_collision(spark, tmp_path):
    """Two compact() calls with no intervening batch: the second must
    stage under a FRESH seq (a reused seq would name its overwrite-mode
    staging writes identically to the LIVE committed segments and
    delete them mid-stage — r5 review finding). Entities must survive
    both compactions unchanged."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    t1 = " ".join(_RECRAWL_TOKENS)
    cfg = LinkageConfig(threshold=0.5)
    st = str(tmp_path / "st")
    linker = IncrementalLinker(spark, st, _toy_em(), cfg)
    linker.process_batch(
        _mk_pages4(
            spark,
            [
                ("https://hostone.example.com/a", "t", t1),
                ("https://hostone.example.com/b", "t", t1),
            ],
        )
    )
    rows0 = _ent_rows(linker)
    linker.compact()
    segs1 = set(_manifest(st)["entities"]) | set(_manifest(st)["records"])
    assert _ent_rows(linker) == rows0
    linker.compact()
    m2 = _manifest(st)
    segs2 = set(m2["entities"]) | set(m2["records"])
    assert segs1.isdisjoint(segs2), "second compact must not reuse live segment names"
    assert _ent_rows(linker) == rows0
    # and the retired first-compact segments are GC'd
    on_disk = {d for d in os.listdir(st) if d.startswith("seg_")}
    assert on_disk == segs2


def test_cluster_match_pandas_path_null_vec_matches_codegen(spark):
    """A NULL feature vector must yield a NULL cluster (the pandas
    kernel used to crash on the ragged list — r5 review finding), and
    a row equidistant from two centroids takes the FIRST minimum
    (cluster 0)."""
    import fastlink_spark.operators.cluster_match as cm

    feats = spark.createDataFrame(
        [(1, [1] * 27), (2, None), (3, [5] * 27), (4, [2] * 27)],
        "rec_id long, lf_vec array<long>",
    )
    cents = [[0.0] * 27, [4.0] * 27]
    got = {r["rec_id"]: r["cluster"] for r in cm.assign_clusters(feats, cents).collect()}
    assert got == {1: 0, 2: None, 3: 1, 4: 0}


# --------------------------- scratch lifecycle


def test_scoped_materializer_releases_scratch(spark):
    from fastlink_spark.plans.materialize import ScopedMaterializer

    mat = ScopedMaterializer()
    df = spark.range(10)
    out = mat(df, "cut")
    assert out.count() == 10
    inv = mat._inv_dir
    assert inv is not None and os.path.isdir(inv)
    mat.close()
    assert not os.path.exists(inv)
    mat.close()  # idempotent
    # reopens lazily on next use, in a FRESH namespace
    out2 = mat(df, "cut")
    assert out2.count() == 10 and mat._inv_dir != inv
    mat.close()


def test_process_batch_leaves_no_scratch_behind(spark, tmp_path):
    """ADVICE r4 medium: a long-running stream must not accumulate an
    inv_<n> parquet namespace per batch until JVM exit. After N batches
    the scratch root holds no more invocation dirs than before."""
    from fastlink_spark.plans.materialize import _app_scratch
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker

    t1 = " ".join(_RECRAWL_TOKENS)
    cfg = LinkageConfig(threshold=0.5)
    linker = IncrementalLinker(spark, str(tmp_path / "st"), _toy_em(), cfg)
    linker.process_batch(
        _mk_pages4(spark, [("https://hostone.example.com/a", "t", t1)])
    )
    root = _app_scratch[spark.sparkContext.applicationId]["root"]
    assert root is not None
    before = {d for d in os.listdir(root) if d.startswith("inv_")}
    for i in range(3):
        linker.process_batch(
            _mk_pages4(
                spark, [(f"https://hostone.example.com/p{i}", "t", t1)]
            )
        )
    linker.compact()
    after = {d for d in os.listdir(root) if d.startswith("inv_")}
    assert after == before


def test_linkage_results_close_their_scratch(spark):
    """link_records and link_dedupe without checkpoint_dir cut into
    scratch that only the caller knows is dead: each result's close()
    frees it, so repeated calls in one JVM leave no inv_<n> dir behind
    (three link_records(one_to_one=True) calls used to leave 2, 4, then
    6)."""
    from fastlink_spark.operators.gammas import FieldSpec
    from fastlink_spark.plans.link_two import link_records
    from fastlink_spark.plans.materialize import _discover_root
    from fastlink_spark.plans.pipeline import LinkageConfig, link_dedupe
    from fastlink_spark.sources.fixtures import generate_pages, generate_persons

    a_pdf, b_pdf, _ = generate_persons()
    df_a, df_b = spark.createDataFrame(a_pdf), spark.createDataFrame(b_pdf)
    root = _discover_root(df_a)
    assert root is not None

    def inv_dirs():
        return {d for d in os.listdir(root) if d.startswith("inv_")}

    before = inv_dirs()
    fields = [FieldSpec("firstname", "string"), FieldSpec("lastname", "string")]
    for _ in range(3):
        res = link_records(
            spark, df_a, df_b, fields, id_col="pid", block_cols=["city"],
            one_to_one=True,
        )
        assert res.matched_pairs.count() > 0
        assert inv_dirs() != before  # the result reads live scratch
        res.close()
        assert inv_dirs() == before
    pages = spark.createDataFrame(generate_pages(n_base=20).pages)
    res = link_dedupe(spark, pages, LinkageConfig())
    assert res.entities.count() > 0
    assert inv_dirs() != before
    res.close()
    assert inv_dirs() == before


def test_rm_path_warns_on_failed_remote_delete(spark, capsys):
    from fastlink_spark.plans.materialize import _rm_path

    _rm_path(spark, "definitely-not-a-scheme://bucket/prefix")
    err = capsys.readouterr().err
    assert "leaked scratch path" in err
    assert "definitely-not-a-scheme://bucket/prefix" in err


# --------------------------- read determinism


def test_entities_tiebreak_deterministic(spark, tmp_path):
    """Two state rows for one rec_id with EQUAL _seq (crash-replay
    duplicates): entities() must serve the content-hash winner —
    compact()'s exact order (_seq desc, xxhash64 asc) — not a
    partition-order-dependent row, and cluster_id/url must come from
    the SAME winning row (ADVICE r4). Reading the two segments is one
    multi-path read: at most one schema job, not one per segment."""
    from fastlink_spark.plans.pipeline import LinkageConfig
    from fastlink_spark.streaming.incremental import IncrementalLinker
    from tests.test_checkpoint import _jobs

    st = tmp_path / "st"
    os.makedirs(st)
    rows = [(7, 100, "https://a.example.com/x"), (7, 200, "https://b.example.com/y")]
    schema = "rec_id long, cluster_id long, url string, _seq long"
    for i, (rid, cid, url) in enumerate(rows):
        spark.createDataFrame([(rid, cid, url, 0)], schema).write.parquet(
            str(st / f"seg_{i:06d}_entities")
        )
    with open(st / "MANIFEST.json", "w") as f:
        json.dump(
            {
                "version": 2,
                "seq": 0,
                "last_batch_id": -1,
                "records": [],
                "entities": [f"seg_{i:06d}_entities" for i in range(2)],
                "relabels": {},
            },
            f,
        )
    linker = IncrementalLinker(spark, str(st), _toy_em(), LinkageConfig())
    ent, n_jobs = _jobs(spark, linker.entities)
    assert n_jobs <= 1
    got = ent.collect()
    assert len(got) == 1
    # expected winner: min xxhash64(cluster_id, url) — compact()'s order
    h = (
        spark.createDataFrame(rows, "rec_id long, cluster_id long, url string")
        .select("cluster_id", "url", F.xxhash64("cluster_id", "url").alias("h"))
        .collect()
    )
    want = min(h, key=lambda r: r["h"])
    assert got[0]["cluster_id"] == want["cluster_id"]
    assert got[0]["url"] == want["url"]  # same row, not mixed


# --------------------------- review pass 2 fixes (operators)


def test_gamma_numeric_coercion_failures_are_na(spark):
    """Null, non-numeric (try_cast null) and NaN values must yield
    gamma NULL (MAR-missing), never 0 — the old input-null check let
    coercion failures fall through to hard-disagreement, biasing the
    EM's u-probabilities on dirty numeric fields (r5 review)."""
    from fastlink_spark.operators.gammas import gamma_numeric

    df = spark.createDataFrame(
        [
            ("1.0", "1.5"),      # within full window
            ("1.0", "9.9"),      # disagree
            ("unknown", "2.0"),  # coercion failure -> NA
            (None, "2.0"),       # null -> NA
            ("NaN", "2.0"),      # NaN -> NA
        ],
        "a_x string, b_x string",
    )
    got = [
        r["g"]
        for r in df.select(
            gamma_numeric(F.col("a_x"), F.col("b_x"), cut_full=1.0).alias("g")
        ).collect()
    ]
    assert got == [2, 0, None, None, None]


def test_numeric_fieldspec_requires_explicit_cut_full():
    from fastlink_spark.operators.gammas import FieldSpec

    with pytest.raises(ValueError, match="explicit"):
        FieldSpec("price", "numeric").possible_levels()
    # similarity kinds keep the shared default
    assert FieldSpec("title").possible_levels() == [0, 1, 2]


def test_candidate_pairs_attr_named_salt_survives(spark):
    """Input attribute columns named like the join's internal working
    columns (salt/sa/sb, i/j) must come through a_*/b_* untouched —
    they used to be clobbered by the salting machinery (r5 review)."""
    from fastlink_spark.operators.pairs import candidate_pairs, candidate_pairs_two

    blocked = spark.createDataFrame(
        [("k", i, f"v{i}", i * 10) for i in range(6)],
        "block_key string, rec_id long, salt string, i long",
    )
    out = candidate_pairs(blocked).collect()
    assert len(out) == 15  # C(6,2)
    for r in out:
        assert r["a_salt"] == f"v{r['a_rec_id']}" and r["b_salt"] == f"v{r['b_rec_id']}"
        assert r["a_i"] == r["a_rec_id"] * 10 and r["b_i"] == r["b_rec_id"] * 10
    two = candidate_pairs_two(blocked, blocked).collect()
    assert len(two) == 36
    for r in two:
        assert r["a_salt"] == f"v{r['a_rec_id']}" and r["b_salt"] == f"v{r['b_rec_id']}"


def test_simhash_radius_beyond_pigeonhole_raises(spark):
    from fastlink_spark.operators.dedup import simhash_pairs_multi

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs_multi(docs, "doc_id", "text", max_hamming=4, n_tables=4)


# --------------------------- review pass 4 fixes (checkpoint/CC/streaming/ANN)


def test_checkpoint_stale_manifest_removed_on_rebuild(spark, tmp_path, monkeypatch):
    """A rebuild must remove the stale manifest BEFORE overwriting the
    data dir: a crash inside the (wide) rebuild window used to leave
    the OLD manifest next to NEW data, so a later run under the old
    config token silently resumed wrong content (r5 review)."""
    import fastlink_spark.plans.checkpoint as cp

    ck = str(tmp_path / "ck")
    m_a = cp.CheckpointManager(spark, ck, config_token="A")
    m_a.stage("s", lambda: spark.range(5).withColumn("cfg", F.lit("A")))

    # config B rebuild crashes after the data overwrite, before the
    # manifest write (content_fingerprint poisoned)
    m_b = cp.CheckpointManager(spark, ck, config_token="B")
    real_fmt = cp._fp_format
    # r8: the happy-path fingerprint rides the write as an Observation;
    # _fp_format is the shared choke point both the observation resolver
    # and the standalone-scan fallback pass through, so poisoning it
    # still models "crash after the data overwrite, before the manifest
    # write" for the current mechanism.
    monkeypatch.setattr(
        cp,
        "_fp_format",
        lambda row: (_ for _ in ()).throw(RuntimeError("injected crash")),
    )
    with pytest.raises(RuntimeError, match="injected"):
        m_b.stage("s", lambda: spark.range(5).withColumn("cfg", F.lit("B")))
    monkeypatch.setattr(cp, "_fp_format", real_fmt)
    assert not os.path.exists(os.path.join(ck, "s.manifest.json"))

    # back under config A: must REBUILD (content is B's on disk), not
    # resume the stale manifest
    m_a2 = cp.CheckpointManager(spark, ck, config_token="A")
    out = m_a2.stage("s", lambda: spark.range(5).withColumn("cfg", F.lit("A")))
    assert m_a2.metrics["s"]["resumed"] is False
    assert {r["cfg"] for r in out.collect()} == {"A"}


def test_checkpoint_root_uri_rejected(spark):
    from fastlink_spark.plans.checkpoint import CheckpointManager

    with pytest.raises(ValueError, match="local filesystem"):
        CheckpointManager(spark, "s3://bucket/prefix")


def test_ivf_refine_survives_null_low_id_seeds(spark):
    """The 16 lowest-id corpus rows have vec=null (earliest-ingested
    embedding failures): with refine on, the centroid table used to
    collapse to EMPTY (null seeds dropped, table rebuilt from the
    empty map) and every query got zero neighbors (r5 review). Seeds
    now come from non-null vectors only."""
    import numpy as np

    from fastlink_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(3)
    rows = [(i, None) for i in range(16)] + [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(16, 80)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    queries = corpus.where(F.col("vec_id").between(16, 19))
    out = ivf_topk(
        corpus, queries, "vec_id", "vec",
        k=3, n_cells=16, n_probe=4, centroid_rule="min_id", refine_iters=1,
    ).collect()
    assert len(out) > 0
    assert {r["query_id"] for r in out} == {16, 17, 18, 19}


# --------------------------- review pass 5 fixes (assignment/EM-log/media)


def test_greedy_separate_side_namespaces(spark):
    """An id appearing on BOTH sides is two different records under the
    default two-table semantics: the old pooled 'used' set wrongly
    eliminated viable pairs (r5 review scenario)."""
    from fastlink_spark.operators.dedupe_matches import dedupe_matches

    rows = [
        (5, 72, 0.5), (7, 72, 0.9), (7, 73, 0.95),
        (9, 73, 0.99), (9, 74, 1.0), (2, 5, 0.95),
    ]
    pairs = spark.createDataFrame(rows, "a_rec_id long, b_rec_id long, zeta double")
    got = {
        (r["a_rec_id"], r["b_rec_id"])
        for r in dedupe_matches(pairs).collect()
    }
    # sequential greedy, sides separate: (9,74), (2,5), (7,73), (5,72)
    assert got == {(9, 74), (2, 5), (7, 73), (5, 72)}
    # lsap agrees on this input (total 0.95+1.0+0.95+0.5 is optimal)
    got_l = {
        (r["a_rec_id"], r["b_rec_id"])
        for r in dedupe_matches(pairs, method="lsap").collect()
    }
    assert got_l == got


def test_dedupe_matches_shared_contract_and_validation(spark):
    from fastlink_spark.operators.dedupe_matches import dedupe_matches

    pairs = spark.createDataFrame(
        [(1, 10, 0.9), (1, 10, 0.4), (2, 20, 0.0), (3, 30, -1.0)],
        "a_rec_id long, b_rec_id long, zeta double",
    )
    for method in ("greedy", "lsap"):
        out = dedupe_matches(pairs, method=method).collect()
        # duplicate (1,10) collapses to best score; 0.0/negative never match
        assert [(r["a_rec_id"], r["b_rec_id"], r["zeta"]) for r in out] == [(1, 10, 0.9)]
    with pytest.raises(ValueError, match="unknown method"):
        dedupe_matches(pairs, method="linprog")


def test_emlink_log_grid_guard():
    import pandas as pd

    from fastlink_spark.em_log import emlink_log

    cols = [f"gamma_f{i}" for i in range(13)]
    patt = pd.DataFrame([dict({c: 0 for c in cols}, cnt=50),
                         dict({c: 2 for c in cols}, cnt=5)])
    with pytest.raises(ValueError, match="joint grid"):
        emlink_log(
            patt, cols,
            level_universe={c: [0, 1, 2] for c in cols},  # 3^13 cells
        )


def test_window_size_validated(spark):
    from fastlink_spark.operators.subset import window_block_keys

    with pytest.raises(ValueError, match="window_size"):
        window_block_keys(F.col("x"), 0)


def test_value_frequencies_single_pass_values(spark):
    from fastlink_spark.operators.reweight import value_frequencies

    recs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, None)], "rec_id long, name string"
    )
    got = {r["value"]: r["p_v"] for r in value_frequencies(recs, "name").collect()}
    assert got == {"a": 2 / 3, "b": 1 / 3}


# --------------------------- review pass 6 fixes (link_two/dl/session)


def test_link_two_null_blocks_dropped(spark):
    """Rows with a NULL blocking value must be dropped from pairing —
    the old '\\x00' sentinel put every null-blocked row of BOTH tables
    into one block (null==null 'agreement', O(na*nb) pair blow-up)."""
    from fastlink_spark.operators.gammas import FieldSpec
    from fastlink_spark.plans.link_two import link_records

    rows_a = [(i, None if i < 30 else f"b{i % 3}", f"name{i % 7}") for i in range(60)]
    rows_b = [(1000 + i, None if i < 30 else f"b{i % 3}", f"name{i % 7}") for i in range(60)]
    df_a = spark.createDataFrame(rows_a, "pid long, blk string, name string")
    df_b = spark.createDataFrame(rows_b, "pid long, blk string, name string")
    res = link_records(
        spark, df_a, df_b,
        [FieldSpec("name", "exact", cut_partial=None)],
        id_col="pid", block_cols=["blk"], threshold=0.2, p_m=0.3,
    )
    matched = res.matched_pairs.collect()
    a_ids = {r["a_pid"] for r in matched}
    assert matched, "non-null blocks must still produce matches"
    assert all(i >= 30 for i in a_ids), "null-blocked rows must never pair"


def test_link_two_em_deterministic(spark):
    """Same input, two runs -> byte-identical EM fit (the r5 pattern-
    sort determinism fix applied to the link_two path too)."""
    from fastlink_spark.operators.gammas import FieldSpec
    from fastlink_spark.plans.link_two import link_records

    rows_a = [(i, f"b{i % 5}", f"name{i % 11}", f"t{i % 4}") for i in range(120)]
    rows_b = [(1000 + i, f"b{i % 5}", f"name{(i + (i % 9 == 0)) % 11}", f"t{i % 4}") for i in range(120)]
    df_a = spark.createDataFrame(rows_a, "pid long, blk string, name string, town string")
    df_b = spark.createDataFrame(rows_b, "pid long, blk string, name string, town string")
    fields = [FieldSpec("name", "exact"), FieldSpec("town", "exact")]

    def run():
        return link_records(
            spark, df_a, df_b, fields, id_col="pid", block_cols=["blk"]
        ).em.to_json()

    assert run() == run()


def test_osa_sim_series_cap_and_types():
    import pandas as pd

    from fastlink_spark.functions.dl import osa_sim_series

    # long inputs are capped (equal 1000-char strings score via their
    # 128-char prefixes, instantly)
    long_a = pd.Series(["x" * 1000, "x" * 1000])
    long_b = pd.Series(["x" * 1000, "x" * 999 + "y"])
    out = osa_sim_series(long_a, long_b).tolist()
    assert out[0] == 1.0 and out[1] == 1.0  # the differing tail is past the cap
    # numeric values compare via str() instead of silently nulling
    nums = osa_sim_series(pd.Series([12.5, None]), pd.Series([12.5, "x"])).tolist()
    assert nums[0] == 1.0
    assert pd.isna(nums[1])


def test_get_spark_warns_on_ignored_config(spark, capsys):
    from fastlink_spark.session import get_spark

    cur = spark.conf.get("spark.sql.shuffle.partitions")
    get_spark(shuffle_partitions=int(cur) + 7)
    err = capsys.readouterr().err
    assert "requested configs not applied" in err


# --------------------------- ADVICE r4 low fixes


def test_similarity_partial_not_phantom(spark):
    """A similarity cut_partial AT or ABOVE cut_full makes level 1
    unreachable (full is checked first) — possible_levels must not
    advertise it (phantom universe levels soak up Dirichlet mass in
    sample-fit mode), mirroring the numeric guard."""
    from fastlink_spark.operators.gammas import FieldSpec, with_gammas

    for kind in ("string", "levenshtein", "dl"):
        assert FieldSpec("x", kind, cut_full=0.9, cut_partial=0.9).possible_levels() == [0, 2]
        assert FieldSpec("x", kind, cut_full=0.9, cut_partial=0.95).possible_levels() == [0, 2]
        assert FieldSpec("x", kind, cut_full=0.9, cut_partial=0.7).possible_levels() == [0, 1, 2]
        assert FieldSpec("x", kind, cut_full=0.9, cut_partial=None).possible_levels() == [0, 2]
    # and the computed gammas agree with the degenerate-partial contract:
    # cut_partial == cut_full behaves exactly like no partial level
    pairs = spark.createDataFrame(
        [("martha", "martha"), ("martha", "marhta"), ("abc", "zzz"), (None, "x")],
        "a_x string, b_x string",
    )
    g_deg = with_gammas(pairs, [FieldSpec("x", "string", 0.94, 0.94)]).collect()
    g_none = with_gammas(pairs, [FieldSpec("x", "string", 0.94, None)]).collect()
    assert [r["gamma_x"] for r in g_deg] == [r["gamma_x"] for r in g_none]
    assert {r["gamma_x"] for r in g_deg} <= {0, 2, None}


def test_sample_fraction_validation(spark):
    from fastlink_spark.plans.pipeline import LinkageConfig, link_dedupe
    from fastlink_spark.sources.fixtures import generate_pages

    pages = spark.createDataFrame(generate_pages(n_base=10).pages)
    for bad in (0.0, -0.5, 15):
        with pytest.raises(ValueError, match="sample_fraction"):
            link_dedupe(spark, pages, LinkageConfig(sample_fraction=bad))


def test_em_checkpoint_invalidated_by_changed_input(spark, tmp_path):
    """The EM checkpoint key chains the pairs_gamma content fingerprint
    (r5 review): re-running the same config over CHANGED input must
    re-fit, not serve the stale EM. Same-input resume still hits."""
    import glob

    from fastlink_spark.plans.pipeline import LinkageConfig, link_dedupe
    from fastlink_spark.sources.fixtures import generate_pages

    ck = str(tmp_path / "ck")
    cfg = LinkageConfig(checkpoint_dir=ck)
    p1 = spark.createDataFrame(generate_pages(n_base=40, seed=1).pages)
    p2 = spark.createDataFrame(generate_pages(n_base=40, seed=2).pages)
    r1 = link_dedupe(spark, p1, cfg)
    n_em1 = len(glob.glob(f"{ck}/em_*.json"))
    r1b = link_dedupe(spark, p1, cfg)  # same data: EM checkpoint hit
    assert len(glob.glob(f"{ck}/em_*.json")) == n_em1
    assert r1.em.to_json() == r1b.em.to_json()
    r2 = link_dedupe(spark, p2, cfg)  # changed data: fresh EM key + fit
    assert len(glob.glob(f"{ck}/em_*.json")) == n_em1 + 1
    assert r2.em.to_json() != r1.em.to_json()


def test_sample_fraction_one_fits_like_full(spark, tmp_path):
    """sample_fraction=1.0 performs no sampling, so it must fit the EM
    exactly like sample_fraction=None — no level_universe/dirichlet
    perturbation (ADVICE r4: the two predicates disagreed)."""
    from fastlink_spark.plans.pipeline import LinkageConfig, link_dedupe
    from fastlink_spark.sources.fixtures import generate_pages

    fx = generate_pages(n_base=40)
    pages = spark.createDataFrame(fx.pages)
    full = link_dedupe(spark, pages, LinkageConfig())
    one = link_dedupe(spark, pages, LinkageConfig(sample_fraction=1.0))
    assert full.em.to_json() == one.em.to_json()


# --------------------------- randomized equivalence sweep


@pytest.mark.parametrize("seed", [11, 23, 37, 51, 68])
def test_incremental_plus_compact_equals_batch_randomized(spark, tmp_path, seed):
    """Property form of the strongest invariant in the engine (VERDICT
    r4 item 5): for RANDOM batch splits (1-5 batches), random re-crawl
    injections (perturbed text, later batch) and the batch-fitted EM
    frozen, streaming all batches + compact() must reproduce the
    partition of a single from-scratch link_dedupe over the LATEST
    crawl of every url."""
    import numpy as np

    from fastlink_spark.plans.pipeline import LinkageConfig, link_dedupe
    from fastlink_spark.sources.fixtures import generate_pages
    from fastlink_spark.streaming.incremental import IncrementalLinker

    rng = np.random.default_rng(seed)
    fx = generate_pages(n_base=45, seed=seed)
    pdf = fx.pages.reset_index(drop=True)
    n = len(pdf)
    k = int(rng.integers(1, 6))  # 1..5 batches
    assign = rng.integers(0, k, size=n)

    # re-crawl injection: for a few urls, a perturbed LATER crawl
    # (different title token -> possibly different pairing) lands in
    # the LAST batch; the reference batch run sees only the latest row
    recrawl_idx = []
    if k >= 2:
        cand = [i for i in range(n) if assign[i] < k - 1]
        take = min(len(cand), int(rng.integers(1, 4)))
        recrawl_idx = list(rng.choice(cand, size=take, replace=False))

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"

    def rowtuple(i, perturbed=False):
        r = pdf.iloc[i]
        ts = r["warc_ts"].to_pydatetime()
        if not perturbed:
            return (r["url"], ts, r["html"], r["text"], r["lang"])
        toks = (r["text"] or "").split()
        if toks:
            toks[len(toks) // 2] = "recrawled"
        text = " ".join(toks)
        html = (
            f"<html><head><title>recrawl edition</title></head>"
            f"<body>{text}</body></html>"
        ).encode()
        return (r["url"], ts, html, text, r["lang"])

    batches = []
    for b in range(k):
        rows = [rowtuple(i) for i in range(n) if assign[i] == b]
        if b == k - 1:
            rows += [rowtuple(i, perturbed=True) for i in recrawl_idx]
        batches.append(rows)

    latest = [
        rowtuple(i, perturbed=(i in recrawl_idx)) for i in range(n)
    ]
    ref_pages = spark.createDataFrame(latest, schema)
    cfg = LinkageConfig()
    batch = link_dedupe(spark, ref_pages, cfg)

    linker = IncrementalLinker(
        spark, str(tmp_path / f"st{seed}"), batch.em, cfg
    )
    for bid, rows in enumerate(batches):
        if rows:
            linker.process_batch(spark.createDataFrame(rows, schema), batch_id=bid)
    linker.compact()

    def parts(rows):
        by = {}
        for r in rows:
            by.setdefault(r["cluster_id"], set()).add(r["url"])
        return sorted(map(frozenset, by.values()), key=sorted)

    got = parts(linker.entities().collect())
    want = parts(batch.entities.collect())
    assert got == want
