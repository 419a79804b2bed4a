"""The benchmark's workloads: input generation from a seed, one timed
operation, the correctness checks on its result and its exact counts.

Each workload is a closed loop with one client: the next op starts only
after the previous one returned and was checked. Why each workload is
in the benchmark is recorded in perfbench/README.md.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# dedupe_batch: generate_pages(n_base) gives ~3.05 pages per base page
PAGES_N_BASE = 200
DEDUPE_F1_GATE = 0.99  # BASELINE.json gate

# two_table_1to1: table sizes and the share of B copied from A
PERSONS_N_A = 8000
PERSONS_N_B = 6000
COPY_SHARE = 0.6
EDIT_SHARE = 0.3  # copied rows that get one QWERTY edit in the first or last name
TWO_TABLE_PR_GATE = 0.95  # precision and recall floor


@dataclass
class OpResult:
    """One op: its wall, its quality figure, its exact counts (for the
    per-seed determinism record) and the checks it failed."""

    wall_s: float
    records: int
    f1: float
    counts: dict
    failures: list = field(default_factory=list)
    checkpoint_mb: float = 0.0

    @property
    def correct(self) -> bool:
        return not self.failures


def _fresh_dir(root: str, name: str) -> str:
    path = os.path.join(root, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _jobs_in_group(spark, group: str) -> int:
    # the status store is fed asynchronously by the listener bus; drain
    # it so the last job of the op is counted
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _du_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 2**20


# -- dedupe_batch ---------------------------------------------------------
class DedupeBatch:
    """link_dedupe over the pages fixture; one op = one full pipeline run
    with a fresh checkpoint dir, ending when the entities are collected."""

    name = "dedupe_batch"
    op_layer = "plans.pipeline"

    def __init__(self, seed: int):
        from fastlink_spark.sources.fixtures import generate_pages

        fx = generate_pages(n_base=PAGES_N_BASE, seed=seed)
        self.pages = fx.pages
        self.labeled_pairs = fx.labeled_pairs

    def load(self, spark) -> None:
        self.pages_df = spark.createDataFrame(self.pages)
        self.lp_df = spark.createDataFrame(self.labeled_pairs)

    def run_op(self, spark, tmp_root: str, group: str, timer) -> OpResult:
        from fastlink_spark.eval import pairwise_f1
        from fastlink_spark.plans.pipeline import LinkageConfig, link_dedupe

        ckpt = _fresh_dir(tmp_root, "op_ckpt")
        try:
            with timer() as t:
                res = link_dedupe(spark, self.pages_df, LinkageConfig(checkpoint_dir=ckpt))
                ents = res.entities.toPandas()
            jobs = _jobs_in_group(spark, group)
            ckpt_mb = _du_mb(ckpt)
            f1 = pairwise_f1(res.entities, self.lp_df)["f1"]
            m = res.metrics
            counts = {
                "candidate_pairs": m["candidate_pairs"]["rows"],
                "matched_pairs": m["matched_pairs"]["rows"],
                "gamma_patterns": len(res.pattern_counts),
                "em_iterations": res.em.iterations,
                "entities": len(ents),
                "clusters": int(ents["cluster_id"].nunique()),
                "spark_jobs": jobs,
            }
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        n = len(self.pages)
        failures = []
        if not f1 >= DEDUPE_F1_GATE:
            failures.append(f"pairwise_f1 {f1:.4f} < {DEDUPE_F1_GATE}")
        if len(ents) != n or ents["url"].nunique() != n or set(ents["url"]) != set(self.pages["url"]):
            failures.append(f"entities: {len(ents)} rows, {ents['url'].nunique()} urls for {n} pages")
        return OpResult(t.elapsed, n, f1, counts, failures, ckpt_mb)


# -- two_table_1to1 -------------------------------------------------------
FIELDS = ("first", "last", "street")
NAMES = ("first", "last")


def generate_person_tables(seed: int, n_a: int = PERSONS_N_A, n_b: int = PERSONS_N_B):
    """Two person tables and their true links. B holds COPY_SHARE copies
    of A rows, an EDIT_SHARE of them with one QWERTY edit in the first or
    last name, plus new persons drawn independently of A."""
    from fastlink_spark.sources.fixtures import _qwerty_perturb, _word

    rng = np.random.default_rng(seed)
    first = [_word(rng, 4, 8) for _ in range(300)]
    last = [_word(rng, 5, 10) for _ in range(1500)]
    street = [_word(rng, 6, 12) for _ in range(400)]
    zips = [f"{z:05d}" for z in rng.choice(100_000, 500, replace=False)]

    def persons(n: int, start: int) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "pid": np.arange(start, start + n),
                "first": rng.choice(first, n),
                "last": rng.choice(last, n),
                "street": rng.choice(street, n),
                "zip": rng.choice(zips, n),
                "byear": rng.integers(1930, 2005, n),
            }
        )

    a = persons(n_a, 0)
    n_copy = int(COPY_SHARE * n_b)
    src = rng.choice(n_a, n_copy, replace=False)
    copies = a.iloc[src].reset_index(drop=True)
    copies["pid"] = np.arange(1_000_000, 1_000_000 + n_copy)
    for i in np.flatnonzero(rng.random(n_copy) < EDIT_SHARE):
        col = NAMES[int(rng.integers(0, len(NAMES)))]
        copies.at[i, col] = _qwerty_perturb(rng, copies.at[i, col], 1)

    new = persons(n_b - n_copy, 2_000_000)
    b = pd.concat([copies, new], ignore_index=True)
    b = b.iloc[rng.permutation(len(b))].reset_index(drop=True)
    truth = pd.DataFrame({"pid_a": a["pid"].to_numpy()[src], "pid_b": copies["pid"].to_numpy()})
    return a, b, truth


class TwoTable1to1:
    """fastLink(dfA, dfB) + dedupeMatches: link_records(one_to_one=True);
    one op ends when the 1:1 matched pairs are collected."""

    name = "two_table_1to1"
    op_layer = "plans.link_two"

    def __init__(self, seed: int):
        self.a, self.b, truth = generate_person_tables(seed)
        self.truth = set(zip(truth["pid_a"], truth["pid_b"]))

    def load(self, spark) -> None:
        self.a_df = spark.createDataFrame(self.a)
        self.b_df = spark.createDataFrame(self.b)

    def run_op(self, spark, tmp_root: str, group: str, timer) -> OpResult:
        from fastlink_spark.operators.gammas import FieldSpec
        from fastlink_spark.plans.link_two import link_records

        fields = [FieldSpec(c) for c in FIELDS] + [FieldSpec("zip", "exact")]
        with timer() as t:
            res = link_records(
                spark, self.a_df, self.b_df, fields, id_col="pid", block_cols=["byear"], one_to_one=True
            )
            m = res.matched_pairs.toPandas()
        jobs = _jobs_in_group(spark, group)
        got = set(zip(m["a_pid"], m["b_pid"]))
        tp = len(got & self.truth)
        prec = tp / len(got) if got else 0.0
        rec = tp / len(self.truth)
        f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
        counts = {
            "candidate_pairs": int(res.pattern_counts["cnt"].sum()),
            "matched_pairs": len(m),
            "gamma_patterns": len(res.pattern_counts),
            "em_iterations": res.em.iterations,
            "spark_jobs": jobs,
        }
        failures = []
        if not (prec >= TWO_TABLE_PR_GATE and rec >= TWO_TABLE_PR_GATE):
            failures.append(f"precision {prec:.4f} / recall {rec:.4f} below {TWO_TABLE_PR_GATE}")
        if m["a_pid"].duplicated().any() or m["b_pid"].duplicated().any():
            failures.append("an id is matched twice (not 1:1)")
        return OpResult(t.elapsed, len(self.a) + len(self.b), f1, counts, failures)


WORKLOADS = {w.name: w for w in (DedupeBatch, TwoTable1to1)}
