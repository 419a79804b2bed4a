"""Streaming-path scale evidence (r7 verdict item 2): stream a 2-4x
corpus through ``IncrementalLinker`` in FIXED-SIZE batches, compacting
whenever the state reaches --auto-segments record segments, and record
per-batch wall + per-stage walls as the persisted corpus state grows.

What this proves: per-batch cost is bounded by the BATCH size, not the
corpus — the r4 records-index prune + r6 entities-state prune removed
every O(corpus)-per-batch term, so the wall series must be FLAT (no
upward trend) while cumulative state grows ~linearly. The
``entities_partner_assign`` stage wall is the one to watch: before r6
it re-aggregated the full entity state every batch.

Protocol: pages fixture at --nbase (8000 -> ~24k pages, the 2x corpus),
shuffled deterministically (seed pinned), split into fixed
--batch-pages chunks; EM frozen from a batch fit over the FIRST chunk
(the estimate-then-apply contract of R/emlinkRS.R); compaction before
any batch that finds >= --auto-segments record segments in the
committed manifest, timed inside that batch's wall. One JSON line per
batch on stdout with the wall, stage walls (IncrementalLinker.last_batch_metrics) and state size;
a final SUMMARY line with the flatness ratio
(median wall of the last third / median wall of the first third,
compact batches excluded from both — compaction is the scheduled
O(corpus) op by design).

Usage:
  python BENCH/stream_scale.py [--nbase 8000] [--batch-pages 1500]
      [--cpus 16] [--auto-segments 8] [--seed 7]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

# script lives in BENCH/; the package is at the repo root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--nbase", type=int, default=8000)
    ap.add_argument("--batch-pages", type=int, default=1500)
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument("--auto-segments", type=int, default=8)
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()

    from fastlink_spark.plans.pipeline import LinkageConfig, link_dedupe
    from fastlink_spark.session import get_spark
    from fastlink_spark.sources.fixtures import generate_pages
    from fastlink_spark.streaming.incremental import IncrementalLinker

    spark = get_spark(
        app_name="stream_scale",
        master=f"local[{args.cpus}]",
        shuffle_partitions=2 * args.cpus,
    )

    fx = generate_pages(n_base=args.nbase)
    pdf = fx.pages.sample(frac=1.0, random_state=args.seed).reset_index(drop=True)
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    rows = [
        (r["url"], r["warc_ts"].to_pydatetime(), r["html"], r["text"], r["lang"])
        for _, r in pdf.iterrows()
    ]
    chunks = [
        rows[i : i + args.batch_pages] for i in range(0, len(rows), args.batch_pages)
    ]
    # frozen EM from a batch fit over the first chunk only — the
    # estimate-then-apply contract; the stream never refits
    em = link_dedupe(spark, spark.createDataFrame(chunks[0], schema), LinkageConfig()).em

    state_dir = tempfile.mkdtemp(prefix="stream_scale_state_")
    linker = IncrementalLinker(spark, state_dir, em, LinkageConfig())
    walls: list[dict] = []
    cum = 0
    for i, chunk in enumerate(chunks):
        cum += len(chunk)
        # compact-before-batch: bounds the read amplification at
        # --auto-segments segments and keeps the compaction in this
        # batch's wall
        compacting = len(linker._load_manifest()["records"]) >= args.auto_segments
        t0 = time.time()
        if compacting:
            linker.compact()
        linker.process_batch(spark.createDataFrame(chunk, schema), batch_id=i)
        wall = round(time.time() - t0, 3)
        bm = linker.last_batch_metrics or {}
        rec = {
            "batch": i,
            "batch_pages": len(chunk),
            "cum_pages": cum,
            "wall_sec": wall,
            "compacted_first": compacting,
            "n_record_segments": bm.get("n_record_segments"),
            "n_relabels": bm.get("n_relabels"),
            "stage_walls": bm.get("walls"),
        }
        walls.append(rec)
        print(json.dumps(rec))
        sys.stdout.flush()

    plain = [r for r in walls if not r["compacted_first"]]
    third = max(1, len(plain) // 3)
    first = [r["wall_sec"] for r in plain[:third]]
    last = [r["wall_sec"] for r in plain[-third:]]
    stage_key = "entities_partner_assign"
    sfirst = [
        r["stage_walls"][stage_key]
        for r in plain[:third]
        if r.get("stage_walls") and stage_key in r["stage_walls"]
    ]
    slast = [
        r["stage_walls"][stage_key]
        for r in plain[-third:]
        if r.get("stage_walls") and stage_key in r["stage_walls"]
    ]
    # equal-segment-count comparison (the clean signal): raw first-vs-
    # last-third medians conflate TWO effects — per-batch cost grows
    # with the manifest's segment count (reset by every compaction)
    # AND with corpus size. Comparing the earliest vs latest FULL batch
    # at the SAME segment count isolates the corpus-size effect, which
    # is the one the r4+r6 prunes must keep flat.
    eq_seg = {}
    for r in plain:
        k = r["n_record_segments"]
        if r["batch_pages"] < args.batch_pages:
            continue  # the ragged tail batch is not comparable
        if k not in eq_seg:
            eq_seg[k] = [r, r]
        else:
            eq_seg[k][1] = r
    eq_seg_flatness = {
        str(k): {
            "first": {"cum_pages": a["cum_pages"], "wall_sec": a["wall_sec"]},
            "last": {"cum_pages": b["cum_pages"], "wall_sec": b["wall_sec"]},
            "corpus_ratio": round(b["cum_pages"] / a["cum_pages"], 2),
            "wall_ratio": round(b["wall_sec"] / a["wall_sec"], 3),
        }
        for k, (a, b) in sorted(eq_seg.items())
        if b["cum_pages"] > a["cum_pages"]
    }
    summary = {
        "summary": True,
        "nbase": args.nbase,
        "cpus": args.cpus,
        "batches": len(walls),
        "compactions": sum(1 for r in walls if r["compacted_first"]),
        "total_pages": cum,
        "flatness_wall": round(statistics.median(last) / statistics.median(first), 3),
        "flatness_entities_stage": (
            round(statistics.median(slast) / statistics.median(sfirst), 3)
            if sfirst and slast
            else None
        ),
        "median_wall_first_third": round(statistics.median(first), 3),
        "median_wall_last_third": round(statistics.median(last), 3),
        "equal_segment_flatness": eq_seg_flatness,
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
