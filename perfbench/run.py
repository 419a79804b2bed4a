"""Benchmark of record for fastlink_spark.

    python3 perfbench/run.py --workload dedupe_batch --seed 7 --seconds 1 --trace 0

Run from the repository root. One run: start Spark (local[nproc],
2 x nproc shuffle partitions) in a fresh JVM, generate the workload's
inputs from --seed and load them, then run ops in a closed loop until
--seconds have passed (at least one op; the first op of the JVM is
cold), checking every op's result. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 installs the span wrappers of
perfbench/trace.py, enables Spark's event log and reports the per-layer
metrics instead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_LOAD_REPS = 3
DRIVER_MEM = "2g"


def process_tree(root_pid: int) -> dict[int, int]:
    """{pid: resident pages} of root_pid and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = pages
    tree, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        tree[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return tree


class RssSampler(threading.Thread):
    """Peak summed RSS (MB) of this process and all its descendants (the
    driver JVM and the Python workers)."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mb = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        pid, page_mb = os.getpid(), os.sysconf("SC_PAGE_SIZE") / 2**20
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, sum(process_tree(pid).values()) * page_mb)
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_mb


def stop_spark(spark) -> None:
    """Stop Spark and wait until the driver JVM and every Python worker
    it started have exited. The JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    # marks the client disconnected, so finalizers of Java objects still
    # referenced from Python do not try to reach the exiting JVM
    gateway.close()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


class Timer:
    elapsed = 0.0


@contextmanager
def timed(tracer=None, op_id: str = "", layer: str = ""):
    t = Timer()
    start = time.perf_counter()
    if tracer is None:
        yield t
    else:
        with tracer.op(op_id, layer):
            yield t
    t.elapsed = time.perf_counter() - start


def pin_environment(tmp_root: str, nproc: int) -> None:
    """Everything Spark and its Python workers inherit: the package on
    PYTHONPATH (UDF workers import it), scratch and temp dirs under the
    run's temp root, and a driver heap that fits a small box."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(tmp_root, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp_root, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp_root, "tmp")
    os.environ["FASTLINK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYSPARK_PYTHON"] = sys.executable


def code_hash() -> str:
    """Hash of the program's sources, so counts are only compared between
    runs of the same code."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "fastlink_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def counts_record(workload: str, seed: int, counts: list[dict]) -> dict:
    """Compare this run's exact counts with the first run of the same
    workload, seed and program sources in this checkout (stored on first
    sight)."""
    store = os.path.join(ROOT, ".perfbench_counts")
    os.makedirs(store, exist_ok=True)
    path = os.path.join(store, f"{workload}-seed{seed}-{code_hash()}.json")
    if os.path.exists(path):
        with open(path) as f:
            first = json.load(f)
    else:
        first = counts[0]
        with open(path, "w") as f:
            json.dump(first, f)
    return {"counts": counts[0], "matches_first_run": all(c == first for c in counts)}


def run(args, tmp_root: str, nproc: int) -> dict:
    from fastlink_spark.session import get_spark

    from perfbench import trace as trace_mod
    from perfbench.workloads import WORKLOADS

    wl_cls = WORKLOADS[args.workload]
    conf = {
        "spark.sql.warehouse.dir": "file:" + os.path.join(tmp_root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    event_dir = os.path.join(tmp_root, "events")
    if args.trace:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{nproc}]", shuffle_partitions=2 * nproc, extra_conf=conf
    )
    session_s = time.perf_counter() - t0
    try:
        load_s = []
        for _ in range(SETUP_LOAD_REPS):
            t = time.perf_counter()
            wl = wl_cls(args.seed)
            wl.load(spark)
            load_s.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(load_s)

        # instrumentation runs only in the traced run
        tracer = rss = None
        if args.trace:
            tracer = trace_mod.Tracer(spark)
            tracer.install()
            rss = RssSampler()
            rss.start()
        ops, failed, op_ids = [], 0, []
        phase_start = time.perf_counter()
        steal0, total0 = cpu_jiffies()
        try:
            while True:
                op_id = f"op-{len(ops) + failed}"
                spark.sparkContext.setJobGroup(op_id, op_id)
                try:
                    r = wl.run_op(spark, tmp_root, op_id, lambda: timed(tracer, op_id, wl.op_layer))
                except Exception:
                    traceback.print_exc()
                    failed += 1
                else:
                    if r.correct:
                        ops.append(r)
                        op_ids.append(op_id)
                    else:
                        print(f"perfbench: {op_id} failed checks: {r.failures}", file=sys.stderr)
                        failed += 1
                if time.perf_counter() - phase_start >= args.seconds:
                    break
        finally:
            steal1, total1 = cpu_jiffies()
            if tracer:
                peak_rss_mb = rss.stop()
                tracer.uninstall()

        attempted = len(ops) + failed
        record = counts_record(args.workload, args.seed, [r.counts for r in ops]) if ops else None
        print("perfbench counts " + json.dumps(record))
        if record and not record["matches_first_run"]:
            print("perfbench: FLAG counts differ from this seed's first run", file=sys.stderr)

        print(
            "perfbench ops: "
            + json.dumps({"n": len(ops), "walls_s": [r.wall_s for r in ops], "session_s": session_s,
                          "load_s": load_s, "steal_share": (steal1 - steal0) / max(total1 - total0, 1)})
        )
        if not args.trace:
            metrics = {
                "records_per_s": (statistics.median(r.records / r.wall_s for r in ops), "records/s"),
                "pairwise_f1": (statistics.median(r.f1 for r in ops), "ratio"),
                "setup_s": (setup_s, "s"),
            } if ops else {}
            correct = bool(ops) and failed == 0
        else:
            stop_spark(spark)  # flushes the event log
            spark = None
            events = trace_mod.read_event_log(event_dir)
            per_op = [
                layer_metrics(tracer, events, r, op_id, wl.op_layer, nproc)
                for r, op_id in zip(ops, op_ids)
            ]
            trace_ok = True
            for r, op_id in zip(ops, op_ids):
                op_s = tracer.span_summary(op_id)["op_s"]
                untagged = trace_mod.untagged_jobs(events, op_id, tracer.op_windows[op_id])
                if abs(op_s - r.wall_s) > 0.01 + 0.01 * r.wall_s or untagged:
                    print(f"perfbench: {op_id} trace check failed: op span {op_s:.3f} s vs "
                          f"op wall {r.wall_s:.3f} s, {untagged} jobs without op/layer tags",
                          file=sys.stderr)
                    trace_ok = False
            metrics = {}
            if per_op:
                for k in per_op[0]:
                    metrics[k] = (statistics.median(m[k] for m in per_op), unit_of(k))
                metrics["session.start_s"] = (session_s, "s")
                metrics["process.peak_rss_mb"] = (peak_rss_mb, "MB")
            correct = bool(ops) and failed == 0 and trace_ok
        return {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last.endswith("_per_s"):
        return "1/s"
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last in ("match_yield", "busy_ratio", "task_skew"):
        return "ratio"
    return "count"


def layer_metrics(tracer, events, r, op_id, op_layer, nproc) -> dict:
    """Per-layer metrics of one traced op."""
    from perfbench.trace import STAGE_LAYER, layer_task_metrics

    s = tracer.span_summary(op_id)
    by = s["by_name"]

    def stage(name: str) -> float:
        """Wall of a checkpoint stage's build and write: its operator work."""
        return by.get(f"build:{name}", 0.0) + by.get(f"write:{name}", 0.0)

    pairs_s = stage("candidate_pairs") + by.get("cut:link_two_pairs", 0.0)
    scoring_s = stage("pairs_gamma") + by.get("cut:link_two_scored", 0.0)
    n_pairs = r.counts["candidate_pairs"]
    m = {
        "trace.op_s": s["op_s"],
        "trace.records_per_s": r.records / s["op_s"],
        "operators.blocking.records_s": stage("records"),
        "operators.pairs.candidate_pairs_s": pairs_s,
        "operators.pairs.pairs": float(n_pairs),
        "operators.pairs.match_yield": r.counts["matched_pairs"] / n_pairs if n_pairs else 0.0,
        "operators.gammas.scoring_s": scoring_s,
        "operators.gammas.pairs_per_s": n_pairs / scoring_s if scoring_s else 0.0,
        "operators.gammas.pattern_collect_s": by.get("pattern_collect", 0.0),
        "em.fit_s": by.get("emlink_mar", 0.0) + by.get("apply_em", 0.0),
        "em.iterations": float(r.counts["em_iterations"]),
        "em.patterns": float(r.counts["gamma_patterns"]),
        "plans.pipeline.matched_s": stage("matched_pairs"),
        "plans.pipeline.self_s": 0.0,
        "plans.link_two.self_s": 0.0,
        "plans.checkpoint.overhead_s": s["layer_self"].get("plans.checkpoint", 0.0),
        "plans.checkpoint.write_mb": r.checkpoint_mb,
        "operators.cluster.cc_s": by.get("connected_components", 0.0),
        "operators.dedupe_matches.assign_s": by.get("dedupe_matches", 0.0),
    }
    for name in STAGE_LAYER:
        m[f"plans.checkpoint.{name}_s"] = by.get(f"stage:{name}", 0.0)
    m[f"{op_layer}.self_s"] = s["self_s"]
    m.update(layer_task_metrics(events, {op_id}, s["layer_self"], nproc))
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["dedupe_batch", "two_table_1to1"])
    ap.add_argument("--seed", type=int, default=7, help="7 = default, 123 = held out for claims")
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "fastlink_spark", "session.py")):
        print(f"perfbench: no fastlink_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    tmp_root = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    pin_environment(tmp_root, nproc)
    try:
        result = run(args, tmp_root, nproc)
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp_root))
        except OSError:
            pass  # another run is using it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
