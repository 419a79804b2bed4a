"""Outside-in tracing for the traced run (``--trace 1``).

Spans are recorded by wrappers installed from here around public calls
into the program; the program itself is not edited. Each span sets the
Spark local property ``perfbench.layer`` while it is open, so every job
Spark submits inside it carries the layer name into the event log, and
``layer_task_metrics`` can attribute task time, GC, shuffle and spill to
the layer that caused them.

Spans sit where a Spark action runs, never where a lazy plan is built:
``gammas.with_gammas`` and ``pairs.candidate_pairs_two`` return at once,
so their work is timed at the materialization that consumes them (the
checkpoint stage in the dedupe pipeline, the ``link_two_pairs`` /
``link_two_scored`` cuts in two-table linkage).

A ``CheckpointManager.stage`` call is split three ways. Its ``build``
callable and its parquet write (the action that computes the stage, so
the two cannot be told apart) are child spans of the operator layer
that owns the stage; what is left of the stage span (re-reading the
written data, the partition-counter job, the fingerprint and the
manifest) is ``plans.checkpoint``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

LAYER_PROP = "perfbench.layer"
OP_PROP = "perfbench.op"

# CheckpointManager.stage(name) -> the layer whose work the stage's build
# and write run; the rest of the stage span is plans.checkpoint
STAGE_LAYER = {
    "records": "operators.blocking",
    "candidate_pairs": "operators.pairs",
    "pairs_gamma": "operators.gammas",
    "matched_pairs": "plans.pipeline",
    "clusters": "operators.cluster",
}
# link_records' materializer cuts -> layer
CUT_LAYER = {
    "link_two_pairs": "operators.pairs",
    "link_two_scored": "operators.gammas",
}
# layers whose Spark task metrics are reported (em runs on the driver only)
TASK_LAYERS = (
    "operators.blocking",
    "operators.pairs",
    "operators.gammas",
    "plans.pipeline",
    "plans.link_two",
    "plans.checkpoint",
    "operators.cluster",
    "operators.dedupe_matches",
)


class Tracer:
    """In-memory span recorder. A span is (name, layer, start, end,
    parent index, op id); spans of one op share the op id."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self.op_windows: dict[str, tuple[float, float]] = {}
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(
            {"name": name, "layer": layer, "parent": parent, "op": self.op_id,
             "start": time.perf_counter(), "end": None}
        )
        self._stack.append(idx)
        self.sc.setLocalProperty(LAYER_PROP, layer)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                LAYER_PROP, self.spans[self._stack[-1]]["layer"] if self._stack else None
            )

    @contextmanager
    def op(self, op_id: str, layer: str):
        """The root span of one timed op; tags its jobs with the op id and
        keeps the op's epoch-time window for ``untagged_jobs``."""
        self.op_id = op_id
        self.sc.setLocalProperty(OP_PROP, op_id)
        start = time.time()
        try:
            with self.span("op", layer):
                yield
        finally:
            self.op_windows[op_id] = (start, time.time())
            self.sc.setLocalProperty(OP_PROP, None)
            self.op_id = None

    # -- wrappers ------------------------------------------------------
    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from fastlink_spark import em
        from fastlink_spark.operators import cluster, gammas
        from fastlink_spark.plans import checkpoint, link_two

        tr = self

        def spanned(name, layer):
            def make(orig):
                def wrapper(*a, **k):
                    with tr.span(name, layer):
                        return orig(*a, **k)
                return wrapper
            return make

        def stage(orig):
            def wrapper(mgr, name, build, *a, **k):
                def spanned_build():
                    with tr.span(f"build:{name}", STAGE_LAYER[name]):
                        return build()
                with tr.span(f"stage:{name}", "plans.checkpoint"):
                    return orig(mgr, name, spanned_build, *a, **k)
            return wrapper

        # only the write a stage issues itself (operator-internal parquet
        # cuts run inside build spans and are left alone)
        def write_parquet(orig):
            def wrapper(writer, *a, **k):
                cur = tr.spans[tr._stack[-1]]["name"] if tr._stack else ""
                if not cur.startswith("stage:"):
                    return orig(writer, *a, **k)
                name = cur[len("stage:"):]
                with tr.span(f"write:{name}", STAGE_LAYER[name]):
                    return orig(writer, *a, **k)
            return wrapper

        def resolve(orig):
            def wrapper(materializer):
                inner = orig(materializer)

                def cut(df, name=""):
                    with tr.span(f"cut:{name}", CUT_LAYER.get(name, "plans.link_two")):
                        return inner(df, name)
                return cut
            return wrapper

        # pattern_counts is lazy; its work runs in the toPandas() the
        # caller applies to the returned frame, so that call is the span
        def pattern_counts(orig):
            def wrapper(*a, **k):
                df = orig(*a, **k)
                collect = df.toPandas

                def to_pandas(*a2, **k2):
                    with tr.span("pattern_collect", "operators.gammas"):
                        return collect(*a2, **k2)
                df.toPandas = to_pandas
                return df
            return wrapper

        self._patch(checkpoint.CheckpointManager, "stage", stage)
        self._patch(DataFrameWriter, "parquet", write_parquet)
        self._patch(em, "emlink_mar", spanned("emlink_mar", "em"))
        self._patch(em, "apply_em", spanned("apply_em", "em"))
        self._patch(cluster, "connected_components", spanned("connected_components", "operators.cluster"))
        self._patch(link_two, "dedupe_matches", spanned("dedupe_matches", "operators.dedupe_matches"))
        self._patch(link_two, "_resolve_mat", resolve)
        self._patch(gammas, "pattern_counts", pattern_counts)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- span arithmetic -----------------------------------------------
    def span_summary(self, op_id: str) -> dict:
        """Per-op totals: wall per span name, self time per layer (span
        time minus its child spans) and the root's self time."""
        ids = [i for i, s in enumerate(self.spans) if s["op"] == op_id]
        dur = {i: self.spans[i]["end"] - self.spans[i]["start"] for i in ids}
        root = next(i for i in ids if self.spans[i]["parent"] is None)
        child_sum: dict[int, float] = defaultdict(float)
        for i in ids:
            if self.spans[i]["parent"] is not None:
                child_sum[self.spans[i]["parent"]] += dur[i]
        by_name: dict[str, float] = defaultdict(float)
        layer_self: dict[str, float] = defaultdict(float)
        for i in ids:
            by_name[self.spans[i]["name"]] += dur[i]
            layer_self[self.spans[i]["layer"]] += dur[i] - child_sum[i]
        return {
            "op_s": dur[root],
            "self_s": dur[root] - child_sum[root],
            "by_name": dict(by_name),
            "layer_self": dict(layer_self),
        }


def untagged_jobs(events: list[dict], op_id: str, window: tuple[float, float]) -> int:
    """Jobs submitted while the op ran that do not carry its op id and a
    layer, so their task metrics would be attributed to no layer (a job
    submitted from a thread other than the one the spans are set on)."""
    lo, hi = (int(t * 1e3) for t in window)
    n = 0
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart" or not lo <= ev["Submission Time"] <= hi:
            continue
        props = ev.get("Properties") or {}
        if props.get(OP_PROP) != op_id or not props.get(LAYER_PROP):
            n += 1
    return n


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single, finished) application log in log_dir."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


def layer_task_metrics(events: list[dict], op_ids: set[str], layer_self_s: dict, cores: int) -> dict:
    """Attribute every task of the timed ops to its layer via the stage's
    submission properties, and sum Spark's task metrics per layer.

    busy_ratio = task run time / (layer self wall x cores): the share of
    the layer's own wall time the cores spent running its tasks.
    task_skew = max / median task run time in the layer's heaviest stage.
    """
    stage_layer: dict[tuple, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    for ev in events:
        kind = ev.get("Event")
        props = ev.get("Properties") or {}
        if props.get(OP_PROP) not in op_ids:
            continue
        layer = props.get(LAYER_PROP) or "unattributed"
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_layer[(info["Stage ID"], info["Stage Attempt ID"])] = layer
        elif kind == "SparkListenerJobStart":
            jobs[layer] += 1
    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_runs: dict[tuple, list[float]] = defaultdict(list)
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        key = (ev["Stage ID"], ev["Stage Attempt ID"])
        layer = stage_layer.get(key)
        tm = ev.get("Task Metrics")
        if layer is None or not tm:
            continue
        a = acc[layer]
        run_s = tm.get("Executor Run Time", 0) / 1e3
        a["tasks"] += 1
        a["run_s"] += run_s
        a["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        a["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
        a["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
        stage_runs[key].append(run_s)
    out: dict[str, float] = {}
    for layer in TASK_LAYERS:
        a = acc.get(layer, {})
        for m in ("tasks", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb"):
            out[f"{layer}.{m}"] = float(a.get(m, 0.0))
        wall = layer_self_s.get(layer, 0.0)
        out[f"{layer}.busy_ratio"] = a.get("run_s", 0.0) / (wall * cores) if wall > 0 else 0.0
        out[f"{layer}.jobs"] = float(jobs.get(layer, 0))
    pair_stages = [runs for key, runs in stage_runs.items() if stage_layer[key] == "operators.pairs"]
    if pair_stages:
        heavy = max(pair_stages, key=sum)
        med = statistics.median(heavy)
        out["operators.pairs.task_skew"] = max(heavy) / med if med > 0 else 1.0
    else:
        out["operators.pairs.task_skew"] = 0.0
    return out
