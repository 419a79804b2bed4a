"""Incremental linkage — new pages vs existing clusters, as a
foreachBatch Structured-Streaming extension.

The reference is batch-only (SURVEY.md §2.10); this is the documented
extension path: a frozen EM parameter set (em.json from a batch fit —
the estimate-then-apply contract of ``R/emlinkRS.R``) is applied to
each micro-batch of arriving pages. Per batch:

  1. normalize + block keys (same frozen functions as batch);
  2. candidate pairs = new records x (existing ∪ new) via block-key
     equi-join over the persisted inverted index, PRUNED to the batch's
     own block keys (per-batch cost scales with the batch, not the
     corpus) and deduped to each record's latest crawl;
  3. gamma scoring, then the batch pipeline's own scoring tail
     (pipeline.fit_and_match with the frozen EM: pattern counts ->
     zeta -> the matched_from_zeta threshold + deterministic-fields
     pass) — one code path, no drift;
  4. accepted pairs assign each new record to min(own rec_id, partner
     labels) — a single distributed groupBy, no iteration;
  5. label DISAGREEMENT edges (matched pairs whose two endpoints ended
     up with different labels — within-batch transitive chains, or a
     new record bridging old clusters) are collected to the driver
     (only conflicting LABEL pairs, never the pair stream), resolved
     with a tiny union-find, and persisted as a relabel map;
  6. state (records index + entities + relabel map) written to the
     state dir with a monotone ``_seq`` stamp; ``entities()`` serves
     each rec_id's LATEST assignment with the (broadcast) relabel map
     applied, so merged clusters read as one entity and a re-crawled
     url has exactly one row.

Delivery semantics: foreachBatch is at-least-once; the state commit
is a MANIFEST-POINTER transaction (r5, closing the r4 verdict's top
streaming item). Each batch writes its rows to fresh per-seq parquet
SEGMENT dirs (``seg_<seq>_records`` / ``seg_<seq>_entities``,
mode=overwrite), then commits by atomically renaming a rewritten
``MANIFEST.json`` — the single pointer naming the valid segment set,
the seq, the applied batch_id AND the relabel map. Consequences:

- a crash anywhere before the rename leaves the manifest untouched:
  the next read serves EXACTLY the pre-batch state (no
  superseded-but-present rows, no partially-applied relabels — the
  relabel map commits in the same rename as the segments);
- a replay of the crashed batch recomputes the same seq and
  OVERWRITES the orphan segment dirs, then commits — effectively
  exactly-once state;
- an already-committed ``batch_id`` is skipped outright (replay
  no-op); orphan segments from crashes are garbage-collected
  opportunistically after each successful commit.

The rename is atomic against process crash (POSIX rename; same
guarantee for HDFS). Power-loss durability of the segment parquet
bytes themselves is the filesystem's problem (Spark does not fsync
local writes); on a real cluster the equivalent is an Iceberg
transaction per batch — this layout is the same commit protocol
(segment files + atomic pointer swap) in plain parquet.

Between compactions cluster membership is MERGE-MONOTONE: batches add
match edges and merge clusters but never retract — a re-crawl whose
text stops matching supersedes its own row yet cannot split a cluster
in-stream (retraction is the classically-hard half of incremental CC).
``compact()`` is the split point: it re-links the LATEST crawl rows
from scratch through the batch linkage core
(``pipeline.link_prepared``) under the frozen EM, so stale merges
dissolve there and the relabel map (which grows with the merge count)
empties. The caller schedules it — per N batches or by segment count /
relabel-map size, the same tradeoff as any streaming CC. On Iceberg
the relabel would be a MERGE INTO over the affected partition subset
instead of a read-time map.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..em import EMResult
from ..operators import gammas
from ..operators.pairs import candidate_pairs_two
from ..plans.checkpoint import CheckpointManager, atomic_write_text
from ..plans.pipeline import (
    LinkageConfig,
    fit_and_match,
    link_prepared,
    prepare_pages,
    scored_columns,
)
from ..session import local_frame


class IncrementalLinker:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        em: EMResult,
        cfg: LinkageConfig | None = None,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.em = em
        self.cfg = cfg or LinkageConfig()
        # stage-wall counters of the most recent process_batch (see
        # _process_batch_inner) — observability only, never read back
        # by the engine itself
        self.last_batch_metrics: dict | None = None
        os.makedirs(state_dir, exist_ok=True)

    # -- state: manifest-pointer layout -----------------------------------
    # MANIFEST.json is the ONE commit point: {"version": 2, "seq": N,
    # "last_batch_id": B, "records": [segdir...], "entities":
    # [segdir...], "relabels": {label: label}}.
    # Segment dirs are immutable once referenced; writers stage new
    # segments then swap the manifest via atomic rename.
    def _path(self, name: str) -> str:
        return os.path.join(self.state_dir, name)

    def _load_manifest(self) -> dict:
        p = self._path("MANIFEST.json")
        if not os.path.exists(p):  # nothing committed yet
            return {
                "version": 2,
                "seq": 0,
                "last_batch_id": -1,
                "records": [],
                "entities": [],
                "relabels": {},
            }
        with open(p) as f:
            return json.load(f)

    def _commit_manifest(self, manifest: dict) -> None:
        """THE transaction: tmp-write + fsync + atomic rename + dir
        fsync. Everything a batch changes (segments, seq, batch_id,
        relabel map) becomes visible in this single rename or not at
        all."""
        atomic_write_text(self._path("MANIFEST.json"), json.dumps(manifest))

    def _gc_unreferenced(self, manifest: dict) -> None:
        """Best-effort removal of state dirs no manifest references —
        orphan segments from crashed batches and segments retired by
        compact(). Runs AFTER a successful commit only, so nothing
        live is ever touched."""
        import shutil

        live = set(manifest["records"]) | set(manifest["entities"])
        for d in os.listdir(self.state_dir):
            full = os.path.join(self.state_dir, d)
            if d.startswith("seg_") and d not in live and os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)

    def _read_segments(self, manifest: dict, kind: str) -> DataFrame | None:
        names = manifest[kind]
        if not names:
            return None
        # every segment of one kind has one schema, so ONE multi-path
        # read: a read per path would run one schema job per segment
        return self.spark.read.parquet(*[self._path(n) for n in names])

    def _relabels_from(self, manifest: dict) -> dict:
        # JSON object keys are strings; labels are long rec_ids
        return {int(k): int(v) for k, v in manifest.get("relabels", {}).items()}

    def _read_relabels(self) -> dict:
        return self._relabels_from(self._load_manifest())

    def entities(
        self, manifest: dict | None = None, _prune_keys: DataFrame | None = None
    ) -> DataFrame | None:
        """Entity state: one row per rec_id (its LATEST assignment by
        _seq — re-crawls supersede, never duplicate) with the relabel
        map applied as a broadcast join (tiny: one row per merge
        event). compact() collapses both read-time layers to a plain
        scan.

        ``_prune_keys`` (internal, r6 verdict item 1): a DataFrame with
        a ``rec_id`` column; when given, the segment union is left-semi
        filtered to those keys BEFORE the latest-wins groupBy. Both
        read-time layers are per-key (max_by per rec_id; relabel per
        cluster_id of the surviving row), so pruning by key is
        semantics-preserving: the result is exactly
        ``entities().join(keys, "rec_id", "leftsemi")`` without the
        full-corpus aggregation. process_batch uses this to scale the
        per-batch partner lookup with the batch, not the corpus — the
        symmetric twin of the r4 records-index pruning.

        The winning row is picked by max_by over a struct of
        (_seq, ~xxhash64(cluster_id,url)) — i.e. _seq desc with a
        content-hash tiebreak, the SAME deterministic order compact()
        uses (ADVICE r4): crash-replay duplicates share a _seq, so
        without the tiebreak a record's served row would be
        partition-order nondeterministic. Taking cluster_id and
        url from ONE struct also pins them to the same winning row
        (two independent max_by calls could mix rows on a tie)."""
        manifest = manifest if manifest is not None else self._load_manifest()
        ent = self._read_segments(manifest, "entities")
        if ent is None:
            return None
        if _prune_keys is not None:
            ent = ent.join(
                _prune_keys.select("rec_id").distinct(), "rec_id", "leftsemi"
            )
        # bitwise_not flips the total order of the hash without the
        # overflow hazard of negating Long.MIN_VALUE, so max_by(~h)
        # == asc-hash winner — mirroring compact()'s ORDER BY
        # (_seq DESC, xxhash64 ASC)
        win = F.max_by(
            F.struct("cluster_id", "url"),
            F.struct(F.col("_seq"), F.bitwise_not(F.xxhash64("cluster_id", "url"))),
        )
        ent = (
            ent.groupBy("rec_id")
            .agg(win.alias("_w"))
            .select("rec_id", F.col("_w.cluster_id").alias("cluster_id"), F.col("_w.url").alias("url"))
        )
        mapping = self._relabels_from(manifest)
        if not mapping:
            return ent
        mdf = local_frame(self.spark, mapping.items(), "cluster_id long, __to long")
        return (
            ent.join(F.broadcast(mdf), "cluster_id", "left")
            .select(
                *[c for c in ent.columns if c != "cluster_id"],
                F.coalesce("__to", "cluster_id").alias("cluster_id"),
            )
        )

    # -- core -------------------------------------------------------------
    def process_batch(
        self, new_pages: DataFrame, batch_id: int | None = None
    ) -> DataFrame | None:
        """Link one micro-batch; returns the new entities rows.

        ``batch_id``: pass the foreachBatch id
        (``writeStream.foreachBatch(lambda df, bid:
        linker.process_batch(df, bid))``) to make redelivered batches
        no-ops after a full commit; direct ad-hoc calls may omit it (no
        replay dedup)."""
        manifest = self._load_manifest()
        if batch_id is not None and batch_id <= manifest["last_batch_id"]:
            return None  # replayed batch, already fully applied
        seq = manifest["seq"] + 1
        # ONE rootless manager for the whole batch: every cut is one of
        # its stages, deleted right after the manifest commit, so a
        # long-running stream never accumulates scratch. Safe: the
        # returned DataFrame is re-read from the COMMITTED state segment.
        ckpt = CheckpointManager(self.spark, None)
        try:
            return self._process_batch_inner(
                new_pages, batch_id, manifest, seq, ckpt
            )
        finally:
            ckpt.close()

    def _process_batch_inner(
        self,
        new_pages: DataFrame,
        batch_id: int | None,
        manifest: dict,
        seq: int,
        ckpt: CheckpointManager,
    ) -> DataFrame:
        cfg = self.cfg
        fields = list(cfg.fields)
        # per-stage wall counters (north-star "per-partition lineage
        # and counters"): each entry closes at a real Spark action
        # boundary (a stage's parquet write / toPandas / collect), so the
        # walls are true stage costs, not lazy-plan noise. Read them
        # from ``last_batch_metrics`` after the call — BENCH/
        # stream_scale.py uses them to evidence that state-dependent
        # stages stay flat as the corpus grows (r4+r6 prunes).
        walls: dict = {}
        t0 = time.time()
        new_rec = ckpt.stage("new_rec", lambda: prepare_pages(new_pages, cfg))
        walls["prepare"] = round(time.time() - t0, 3)

        old_rec = self._read_segments(manifest, "records")
        attrs = ["rec_id"] + [f.name for f in fields]
        new_blocked = new_rec.select(F.explode("block_keys").alias("block_key"), *attrs)
        if old_rec is not None:
            # inverted-index LOOKUP, not a corpus re-scan: keep only
            # index rows in blocks the batch actually touches (leftsemi
            # on the batch's key set — AQE broadcasts it when small),
            # then resolve each (block, rec_id) to its latest crawl's
            # attributes (max_by _seq) so re-crawled records never score
            # with stale fields. Per-batch cost now scales with the
            # touched blocks, not the corpus.
            batch_keys = new_blocked.select("block_key").distinct()
            old_blocked = (
                old_rec.select(
                    F.explode("block_keys").alias("block_key"), *attrs, "_seq"
                )
                .join(batch_keys, "block_key", "leftsemi")
                .groupBy("block_key", "rec_id")
                .agg(
                    *[
                        F.max_by(f.name, "_seq").alias(f.name)
                        for f in fields
                    ]
                )
            )
            index = old_blocked.select("block_key", *attrs).union(new_blocked)
        else:
            index = new_blocked

        # new-batch bands x (touched corpus ∪ new) bands through the
        # salted S x T grid (operators.pairs.candidate_pairs_two): a hot
        # band in the persisted index — boilerplate-heavy corpora
        # collide massively on one band value — would otherwise put
        # batch_rows x corpus_rows of that band into ONE reduce task,
        # the straggler class the batch path eliminated in r3. Same
        # pair semantics as the raw equi-join it replaces: both
        # orientations of new x new pairs survive (harmless duplicates
        # the downstream min-label assignment tolerates), self-pairs
        # filtered — which also means a re-crawl never pairs with its
        # own older crawl (same rec_id): its assignment comes from its
        # CURRENT matches, superseding the old row via _seq, exactly
        # the latest-crawl semantics compact()/batch use.
        pairs = candidate_pairs_two(
            new_blocked,
            index,
            id_col="rec_id",
            skew_threshold=cfg.skew_threshold,
            target_block=cfg.target_block,
        ).where(F.col("a_rec_id") != F.col("b_rec_id"))
        t0 = time.time()
        # cut once: the pattern collect and the matched-pair rule both
        # read the scored pairs, which would otherwise run the pair join
        # and the JW UDFs twice
        scored = ckpt.stage(
            "scored",
            lambda: gammas.with_gammas(pairs, fields).select(*scored_columns(cfg)),
        )
        walls["index_pairs_gamma"] = round(time.time() - t0, 3)
        t0 = time.time()
        # THE batch pipeline's scoring tail under the frozen EM —
        # identical by construction to link_dedupe and compact(). The
        # matched pairs are cut once: the frame feeds the prune-key
        # scan, the partner join AND the conflict check. No pattern at
        # all (no candidate pair) skips the cut and the state reads.
        _, patterns, matched_plan = fit_and_match(
            self.spark, scored, cfg, ckpt, em=self.em
        )
        matched = (
            ckpt.stage("matched", lambda: matched_plan) if len(patterns) else None
        )
        walls["matched"] = round(time.time() - t0, 3)
        t0 = time.time()

        # partner lookup pruned to the batch's matched partner-id set
        # (r6 verdict item 1): the latest-wins groupBy runs over ONLY
        # the entity-segment rows this batch can touch, so per-batch
        # cost scales with the batch — the records index got the same
        # treatment in r4; this was the last O(corpus)-per-batch term.
        # When nothing matched, the state read is skipped outright.
        if matched is not None:
            old_ent = self.entities(
                manifest,
                _prune_keys=matched.select(F.col("b_rec_id").alias("rec_id")),
            )
        else:
            old_ent = None
        if matched is not None and old_ent is not None:
            partner_clusters = matched.join(
                old_ent.select(F.col("rec_id").alias("b_rec_id"), "cluster_id"),
                "b_rec_id",
                "left",
            )
        elif matched is not None:
            partner_clusters = matched.withColumn(
                "cluster_id", F.lit(None).cast("long")
            )
        else:
            partner_clusters = None

        new_ids = new_rec.select("rec_id")
        if partner_clusters is not None:
            # new record -> min(existing partner cluster, partner rec_id, own rec_id).
            # Including the record's OWN rec_id in the min is load-bearing: a
            # batch of mutual duplicates {A<B<C} must all converge on A — the
            # partner-only min labels A with B's id while B/C get A's
            # (within-batch duplicates never co-clustered otherwise).
            assign = (
                partner_clusters.withColumn(
                    "cand_cluster", F.coalesce("cluster_id", "b_rec_id")
                )
                .groupBy(F.col("a_rec_id").alias("rec_id"))
                .agg(F.min("cand_cluster").alias("cluster_id"))
            )
            new_ent = new_ids.join(assign, "rec_id", "left").select(
                "rec_id",
                F.least(F.coalesce("cluster_id", "rec_id"), F.col("rec_id")).alias("cluster_id"),
            )
        else:
            new_ent = new_ids.withColumn("cluster_id", F.col("rec_id"))
        new_ent = ckpt.stage(
            "new_ent", lambda: new_ent.join(new_rec.select("rec_id", "url"), "rec_id")
        )
        # the pruned entities-state read + partner join + assignment —
        # THE stage that must stay O(batch) as the corpus grows
        walls["entities_partner_assign"] = round(time.time() - t0, 3)
        t0 = time.time()

        # Reconcile: matched pairs whose endpoints got DIFFERENT labels
        # (within-batch transitive chains; new record bridging old
        # clusters). Only the distinct conflicting LABEL pairs reach the
        # driver — O(merge events), not O(pairs).
        new_relabels = dict(manifest.get("relabels", {}))
        if matched is not None:
            lab_a = new_ent.select(
                F.col("rec_id").alias("a_rec_id"), F.col("cluster_id").alias("la")
            )
            lab_b_new = new_ent.select(
                F.col("rec_id").alias("b_rec_id"), F.col("cluster_id").alias("lb")
            )
            if old_ent is not None:
                lab_b = old_ent.select(
                    F.col("rec_id").alias("b_rec_id"), F.col("cluster_id").alias("lb")
                ).unionByName(lab_b_new)
            else:
                lab_b = lab_b_new
            conflicts = (
                matched.join(lab_a, "a_rec_id")
                .join(lab_b, "b_rec_id")
                .where(F.col("la") != F.col("lb"))
                .select("la", "lb")
                .distinct()
                .collect()
            )
            if conflicts:
                mapping = self._relabels_from(manifest)
                parent: dict = {}

                def find(x):
                    r = x
                    while parent.get(r, r) != r:
                        r = parent[r]
                    while parent.get(x, x) != x:
                        parent[x], x = r, parent[x]
                    return r

                def union(x, y) -> None:
                    rx, ry = find(x), find(y)
                    if rx != ry:
                        # canonical = min label, the same order
                        # cluster.py's F.min canonicalizes by
                        lo, hi = (rx, ry) if rx < ry else (ry, rx)
                        parent[hi] = lo

                for k, v in mapping.items():
                    union(k, v)
                for r in conflicts:
                    union(r["la"], r["lb"])
                resolved = {x: find(x) for x in parent}
                # staged for the manifest commit below — a crash
                # between here and the rename publishes NOTHING, so
                # merges never become visible without the batch's rows
                new_relabels = {
                    str(k): v for k, v in resolved.items() if k != v
                }
                mdf = local_frame(
                    self.spark,
                    [(k, v) for k, v in resolved.items() if k != v],
                    "cluster_id long, __to long",
                )
                new_ent = ckpt.stage(
                    "new_ent_relabel",
                    lambda: new_ent.join(F.broadcast(mdf), "cluster_id", "left").select(
                        "rec_id",
                        F.coalesce("__to", "cluster_id").alias("cluster_id"),
                        "url",
                    ),
                )

        walls["reconcile"] = round(time.time() - t0, 3)
        t0 = time.time()
        # stage segments (overwrite: a replay of a crashed batch
        # recomputes the same seq and clobbers its own orphans), then
        # commit everything in one manifest rename
        stamp = F.lit(seq).cast("long")
        rec_seg = f"seg_{seq:06d}_records"
        ent_seg = f"seg_{seq:06d}_entities"
        new_rec.withColumn("_seq", stamp).write.mode("overwrite").parquet(
            self._path(rec_seg)
        )
        ent_out = new_ent.withColumn("_seq", stamp)
        ent_out.write.mode("overwrite").parquet(self._path(ent_seg))
        committed = {
            "version": 2,
            "seq": seq,
            "last_batch_id": batch_id if batch_id is not None else manifest["last_batch_id"],
            "records": manifest["records"] + [rec_seg],
            "entities": manifest["entities"] + [ent_seg],
            "relabels": new_relabels,
        }
        self._commit_manifest(committed)
        self._gc_unreferenced(committed)
        walls["stage_commit"] = round(time.time() - t0, 3)
        self.last_batch_metrics = {
            "batch_id": batch_id,
            "seq": seq,
            "n_record_segments": len(committed["records"]),
            "n_relabels": len(new_relabels),
            "walls": walls,
        }
        # serve the batch's rows from COMMITTED state, not scratch —
        # the frame outlives ckpt.close(), and stays readable until the
        # next compact() retires this segment (same VACUUM contract as
        # expiring Iceberg snapshots: materialize before compacting if
        # you need it longer). The written schema spares the read-back
        # its schema-inference job.
        return (
            self.spark.read.schema(ent_out.schema)
            .parquet(self._path(ent_seg))
            .drop("_seq")
        )

    def compact(self) -> DataFrame | None:
        """Periodic state compaction — the module-docstring tradeoff
        ("a periodic re-run of batch CC compacts the relabel map")
        made a first-class op. Takes the LATEST crawl of every
        persisted record and runs the batch linkage core
        (``pipeline.link_prepared``: salted grid self-join -> gamma
        scoring -> the shared matched_from_zeta rule -> large-star/
        small-star CC) with the FROZEN EM, rewrites BOTH states to
        those rows (records keeps one row per rec_id; entities gets the
        CC labels), and empties the relabel map. After compact(),
        ``entities()`` serves the clusters ``link_dedupe`` gives over
        the same pages with the same frozen parameters — by
        construction, one code path — and read-time relabel/latest-wins
        cost is zero until the next batch. Cost = one batch link over
        the corpus; schedule it off-peak. Commit protocol: the
        compacted rows are staged to fresh ``seg_<seq>_compact_*``
        segments and published by the same atomic manifest rename as a
        batch — a crash mid-compact leaves the pre-compact state fully
        intact; the retired segments are garbage-collected after the
        commit. NOTE the VACUUM contract: that GC invalidates
        DataFrames handed out by earlier process_batch()/entities()
        calls (their lazy plans point at retired segment dirs) — the
        same semantics as expiring Iceberg snapshots; materialize
        anything you need across a compaction."""
        manifest = self._load_manifest()
        state = self._read_segments(manifest, "records")
        if state is None:
            return None
        # re-crawled urls appear once per batch in the append-only
        # records state (same rec_id = xxhash64(url)); keep the LATEST
        # crawl deterministically (_seq desc; content-hash tiebreak for
        # replay duplicates sharing a _seq) — a bare dropDuplicates
        # picks a partition-order-dependent row, making compaction
        # output nondeterministic and possibly linking on stale
        # attributes.
        wins = Window.partitionBy("rec_id").orderBy(
            F.desc("_seq"),
            F.asc(F.xxhash64(*[c for c in state.columns if c != "rec_id"])),
        )
        # compaction BUMPS seq: reusing manifest['seq'] would name the
        # staged segments identically to a previous compact's LIVE
        # committed segments when no batch ran in between — the
        # mode=overwrite staging write would then delete directories
        # the current manifest still references, exactly the corruption
        # the pointer protocol exists to prevent (r5 review finding)
        seq = manifest["seq"] + 1
        rec_seg = f"seg_{seq:06d}_compact_records"
        ent_seg = f"seg_{seq:06d}_compact_entities"
        # no root: every stage is a scratch cut, freed once the compacted
        # segments are written (nothing reads the cuts after that)
        ckpt = CheckpointManager(self.spark, None)
        try:
            records = ckpt.stage(
                "compact_records",
                lambda: state.withColumn("_rn", F.row_number().over(wins))
                .where(F.col("_rn") == 1)
                .drop("_rn"),
            )
            linked = link_prepared(self.spark, records, self.cfg, ckpt, em=self.em)
            new_ent = linked.entities.select("rec_id", "cluster_id", "url").withColumn(
                "_seq", F.lit(seq).cast("long")
            )
            # stage the compacted states as fresh segments (records
            # state compacts too: superseded crawl rows are dead weight
            # for every future batch's index scan), then swap the manifest
            new_ent.write.mode("overwrite").parquet(self._path(ent_seg))
            records.write.mode("overwrite").parquet(self._path(rec_seg))
        finally:
            ckpt.close()
        committed = {
            "version": 2,
            "seq": seq,  # bumped: the compacted rows supersede everything
            "last_batch_id": manifest["last_batch_id"],
            "records": [rec_seg],
            "entities": [ent_seg],
            "relabels": {},
        }
        self._commit_manifest(committed)
        self._gc_unreferenced(committed)
        return (
            self.spark.read.schema(new_ent.schema)
            .parquet(self._path(ent_seg))
            .drop("_seq")
        )
