"""Stage checkpointing with per-partition lineage + counters.

BASELINE.json north_star/north_rule: "Every stage checkpoints to
Iceberg with per-partition lineage and counters so the pipeline resumes
mid-run". This sandbox has no Iceberg runtime jar, so the manager
writes the identical layout to a Parquet directory per stage:

    <root>/<stage>/                 parquet data (the checkpoint)
    <root>/<stage>.manifest.json    lineage: stage name, input stages,
                                    config hash, row count, schema,
                                    per-part-file row counters

Resume: if a stage directory + manifest exist and the manifest's
resume token matches, the stage is READ instead of recomputed. The
token chains CONTENT: it includes the config hash, the input stage
names, AND each upstream manifest's content fingerprint (row count +
order-insensitive bit_xor of per-row xxhash64). Deleting and rebuilding
an upstream stage to different contents therefore invalidates every
stage downstream of it automatically; the first stage takes an
``extra_token`` from the caller (an Iceberg snapshot id in production;
the input plan's semanticHash in this sandbox) to tie it to the raw
input.

A stage costs one Spark job: its parquet write. Everything else the
manifest records is already known on the driver once the write
returns: the row count and fingerprint ride the write as a query
observation, the read-back takes the schema of the frame just written
(no parquet schema-inference job), and the per-part-file row counters
come from the part files' parquet footers, read on the driver (the
root is a local path).
On a cluster the same class pointed at an Iceberg catalog would use
``df.writeTo(tbl).createOrReplace()``; the interface is the only thing
the pipeline sees.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .materialize import ScopedMaterializer


def atomic_write_text(path: str, text: str) -> None:
    """THE commit protocol for every small state file (stage manifests,
    the EM fit, the incremental MANIFEST.json): tmp-write + fsync +
    atomic rename + directory fsync. A reader sees the old file or the
    new one, never a torn write."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _fp_aggs(df: DataFrame) -> list:
    """THE fingerprint aggregate recipe — one definition shared by the
    standalone scan (content_fingerprint) and the piggybacked
    observation (fingerprint_observation) so the two can never drift."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return [
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(h).alias("xor"),
        F.sum(h.cast("decimal(38,0)")).alias("hsum"),
    ]


def _fp_format(row) -> tuple[int, str]:
    rows = int(row["rows"])
    fingerprint = (
        f"{rows}:{row['xor'] if row['xor'] is not None else 0}"
        f":{row['hsum'] if row['hsum'] is not None else 0}"
    )
    return rows, fingerprint


def content_fingerprint(df: DataFrame) -> tuple[int, str]:
    """One-pass (row_count, checksum) over every column. bit_xor ALONE
    is self-canceling on duplicate rows (an upstream rebuild swapping
    two copies of row X for two copies of row Y would fingerprint
    identically); the decimal SUM term breaks that — any multiplicity
    change moves the sum. Both terms are order-insensitive, so the
    checksum is partitioning-independent."""
    return _fp_format(df.agg(*_fp_aggs(df)).collect()[0])


def observation(df: DataFrame, *aggs):
    """(observed_df, resolver): attach aggregate expressions to ``df``
    as a query Observation, so the NEXT action over the returned frame
    (a parquet cut, a localCheckpoint) computes them in the SAME pass.
    resolver() returns the aggregates as a mapping. When no action has
    run the observed plan (an injected materializer that defers its
    action), resolver computes the same aggregates over
    ``fallback_df`` (default: ``df``) instead — correctness never
    depends on the observation firing.

    The resolver never sleeps on a clock: an action that ran the
    observed plan has posted its completion event before it returned,
    so draining Spark's listener bus (bounded by ``timeout`` seconds)
    is enough to tell "fired" from "never ran"; with nothing queued the
    drain returns at once."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *aggs)

    def resolver(fallback_df: DataFrame | None = None, timeout: float = 60.0):
        fired = obs._jo.future().isCompleted
        if not fired():
            try:
                df.sparkSession.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(
                    int(timeout * 1000)
                )
            except Py4JJavaError:  # TimeoutException: bus still busy
                pass
        if fired():
            return obs.get
        src = fallback_df if fallback_df is not None else df
        return src.agg(*aggs).collect()[0].asDict()

    return observed, resolver


def fingerprint_observation(df: DataFrame):
    """(observed_df, resolver): the content fingerprint as an
    ``observation`` — the standalone content_fingerprint scan re-read
    every byte of a stage that the write had just streamed (r8
    optimization, guide §1.2 "don't compute things twice": one
    full-column scan per checkpoint stage and per CC round removed).
    resolver() returns (rows, fingerprint) identical to
    content_fingerprint by shared recipe (_fp_aggs/_fp_format)."""
    observed, resolve = observation(df, *_fp_aggs(df))

    def resolver(fallback_df: DataFrame | None = None, timeout: float = 60.0):
        return _fp_format(resolve(fallback_df, timeout))

    return observed, resolver


def _part_file_rows(data_path: str) -> dict[int, int]:
    """Row count of every part file of a parquet directory, keyed by its
    index in name order, from the files' footers (no Spark job)."""
    import pyarrow.parquet as pq

    parts = sorted(f for f in os.listdir(data_path) if not f.startswith(("_", ".")))
    return {
        i: pq.read_metadata(os.path.join(data_path, f)).num_rows
        for i, f in enumerate(parts)
    }


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str | None, config_token: str = ""):
        if root is not None and "://" in root:
            # manifest/json IO here is os-path based (open/exists/
            # rmtree) — a URI root would write parquet remotely but
            # then crash (or silently skip the orphan wipe) on the
            # manifest step. Loud beats half-working (r5 review); the
            # production shape for remote checkpointing is an Iceberg
            # catalog (module docstring), or mount the shared FS.
            raise ValueError(
                f"CheckpointManager root must be a local filesystem path, "
                f"got URI {root!r} — use an Iceberg catalog or a mounted "
                "path for remote checkpoint storage"
            )
        self.spark = spark
        self.root = root
        self.config_token = config_token
        self.metrics: dict[str, dict] = {}
        # per-stage content fingerprints (filled on build OR resume);
        # downstream tokens chain these so upstream content changes
        # invalidate automatically
        self.fingerprints: dict[str, str] = {}
        self._op_stages_wiped = False
        # no root: every stage is cut into this one scratch namespace
        self._scratch = ScopedMaterializer()

    def _paths(self, name: str) -> tuple[str, str]:
        assert self.root is not None
        return os.path.join(self.root, name), os.path.join(self.root, f"{name}.manifest.json")

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        *,
        inputs: tuple[str, ...] = (),
        extra_token: str = "",
    ) -> DataFrame:
        """Build-or-resume one stage; records lineage + counters +
        content fingerprint. `extra_token` lets the caller bind the
        first stage to its raw input (snapshot id / plan hash)."""
        if self.root is None:
            # no on-disk checkpoint root: still materialize + cut lineage
            # (generator/HOF expressions must never be re-inlined into
            # downstream Generate/Join nodes — see minhash.py plan-size
            # note). All stages share one scratch namespace (parquet
            # when a directory is discoverable, DISK_ONLY otherwise —
            # plans/materialize.py), freed by close().
            df = self._scratch(build(), name)
            self.metrics[name] = {"rows": None, "resumed": False}
            return df
        data_path, manifest_path = self._paths(name)
        upstream_fp = ",".join(
            f"{i}:{self.fingerprints.get(i, '')}" for i in inputs
        )
        token = (
            f"{self.config_token}|inputs={','.join(inputs)}"
            f"|fp={upstream_fp}|extra={extra_token}"
        )
        if os.path.exists(manifest_path):
            try:
                with open(manifest_path) as f:
                    man = json.load(f)
            except ValueError:
                # torn manifest (a crash mid-write under a non-atomic
                # writer): unreadable lineage is stale lineage
                man = {}
            if man.get("token") == token and os.path.exists(
                os.path.join(data_path, "_SUCCESS")
            ):
                self.metrics[name] = {"rows": man["rows"], "resumed": True}
                self.fingerprints[name] = man.get("fingerprint", "")
                return self.spark.read.schema(
                    StructType.fromJson(man["schema"])
                ).parquet(data_path)
            # stale manifest: REMOVE it before the data overwrite. The
            # rebuild window (parquet write + footer reads before the
            # new manifest lands) is wide; a crash inside it
            # must leave no manifest at all — keeping the old one lets
            # a later run under the OLD config token resume its stale
            # lineage against the NEW data dir (r5 review finding).
            os.remove(manifest_path)

        import time

        t0 = time.time()
        df = build()
        # fingerprint piggybacks on the write action (observation) —
        # the stage data used to be fully re-scanned post-write just to
        # hash it; the observed metrics are computed over the exact rows
        # the write streamed out, so the manifest content is unchanged.
        observed, fp_resolve = fingerprint_observation(df)
        observed.write.mode("overwrite").parquet(data_path)
        # file reads make every field nullable, so the written frame's
        # schema IS the schema inference would find — passing it skips
        # the inference job
        out = self.spark.read.schema(df.schema).parquet(data_path)
        rows, fingerprint = fp_resolve(fallback_df=out)
        man: dict = {
            "stage": name,
            "token": token,
            "inputs": list(inputs),
            "rows": rows,
            "fingerprint": fingerprint,
            "schema": out.schema.jsonValue(),
            "partitions": _part_file_rows(data_path),
        }
        man["wall_sec"] = round(time.time() - t0, 3)
        atomic_write_text(manifest_path, json.dumps(man, indent=1))
        self.metrics[name] = {"rows": rows, "resumed": False, "wall_sec": man["wall_sec"]}
        self.fingerprints[name] = fingerprint
        return out

    def close(self) -> None:
        """Free the stage cuts of a manager without a root; frames read
        from its stages are dead afterwards. A rooted manager's stages
        are the checkpoint and stay on disk."""
        self._scratch.close()

    def materializer(self):
        """Handle for OPERATOR-INTERNAL lineage cuts (CC rounds, LSH
        key tables, greedy-fixpoint state): a ``ScopedMaterializer``
        whose namespace lives under ``<root>/_op_stages`` when a
        checkpoint root exists (the fault-tolerant production shape),
        else under the application's scratch root. These cuts are
        transient scratch — they carry no resume token and are
        rewritten on every run. Call once per operator invocation: each
        handle binds its own ``inv_<n>`` namespace (plans/materialize.py
        says why), and ``close()`` frees it once nothing reads its cuts."""
        if self.root is None:
            return ScopedMaterializer()
        scratch = os.path.join(self.root, "_op_stages")
        if not self._op_stages_wiped:
            # wipe prior-RUN orphans once per manager (a shorter re-run
            # would otherwise leave higher-suffix round dirs behind
            # forever); never mid-run — a later wipe could delete
            # scratch that an earlier invocation's live frames read.
            import shutil

            shutil.rmtree(scratch, ignore_errors=True)
            self._op_stages_wiped = True
        return ScopedMaterializer(scratch)

    def put_json(self, name: str, payload: str) -> None:
        if self.root is None:
            return
        os.makedirs(self.root, exist_ok=True)
        atomic_write_text(os.path.join(self.root, f"{name}.json"), payload)

    def get_json(self, name: str) -> str | None:
        if self.root is None:
            return None
        p = os.path.join(self.root, f"{name}.json")
        if os.path.exists(p):
            with open(p) as f:
                return f.read()
        return None
