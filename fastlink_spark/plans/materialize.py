"""Injectable stage materialization for operator-internal lineage cuts.

Iterative operators (CC rounds, the greedy 1:1 fixpoint) and
HOF-expression producers (minhash band arrays, gram sets, simhash
fingerprints) must cut lineage mid-operator: the plan would otherwise
grow unboundedly / re-inline generator expressions pathologically (see
functions/minhash.py plan-size note). HOW that cut happens is a
deployment decision, so every operator takes an optional
``materializer`` callback instead of hard-coding one:

- scratch-aware default (no materializer passed): discovers a parquet
  scratch root — ``spark.fastlink.scratchDir`` conf first (the knob for
  real clusters; any Hadoop URI), else ``spark.local.dir``/tmp when the
  master is local[*] — and cuts through ``parquet_materializer``.
  Falls back to DISK_ONLY localCheckpoint only on a cluster master
  with no conf set (no shared path is knowable there).
- ``disk_only``: ``localCheckpoint(eager=True, storageLevel=
  DISK_ONLY)``. The DEFAULT deserialized (MEMORY_AND_DISK)
  localCheckpoint measurably ANTI-SCALES in a many-thread local block
  manager (132-145 s vs 45.5 s parquet for the same 16.7M-row stage —
  BENCH/BASELINE.md forensics), and pins large intermediates in
  executor memory; DISK_ONLY serialized blocks avoid both. Still NOT
  fault-tolerant on a real cluster (executor loss loses the block).
- ``parquet_materializer(root)``: writes each cut to a parquet subdir
  and reads it back — the production shape (an Iceberg table write on a
  real cluster): fault-tolerant, splittable, off-heap. The pipeline's
  CheckpointManager passes one per operator invocation (a
  ``ScopedMaterializer`` under ``<checkpoint>/_op_stages``).

Signature: ``materializer(df, name) -> DataFrame`` where ``name`` is a
short stage hint (unique-ified by the parquet materializer).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

Materializer = Callable[[DataFrame, str], DataFrame]
KEEP_PER_NAME = 2  # newest cuts of one name a parquet materializer keeps


def disk_only(df: DataFrame, name: str = "") -> DataFrame:
    """Last-resort lineage cut: serialized DISK_ONLY localCheckpoint.
    NOT fault-tolerant on a real cluster (executor loss loses the
    block) — the scratch-aware default below prefers parquet whenever
    it can discover a usable directory."""
    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)


def _join(root: str, name: str) -> str:
    return f"{root}/{name}" if "://" in root else os.path.join(root, name)


def _rm_path(spark, path: str) -> None:
    """Best-effort scratch deletion: Hadoop FS for URI paths (s3://,
    hdfs:// — shutil can't touch those), shutil locally. A failed
    remote delete is only best-effort, but it must be OBSERVABLE: a
    silently leaked object-store prefix accrues cost forever."""
    if "://" in path:
        try:
            jvm = spark._jvm
            jsc = spark._jsc
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = hpath.getFileSystem(jsc.hadoopConfiguration())
            fs.delete(hpath, True)
        except Exception as exc:
            import sys

            print(
                f"fastlink: WARNING leaked scratch path {path!r} "
                f"(delete failed: {exc}) — remove it manually or point "
                "spark.fastlink.scratchDir at a TTL-managed prefix",
                file=sys.stderr,
            )
    else:
        import shutil

        shutil.rmtree(path, ignore_errors=True)


def parquet_materializer(root: str) -> Materializer:
    """Production-shape cut: parquet write + read-back under ``root``
    (any Hadoop-compatible URI — a local dir here, an object-store
    prefix / Iceberg scratch namespace on a cluster). Repeated cuts
    with the same name get an incrementing suffix (an operator may cut
    several rounds under one hint).

    Retention: only the newest ``KEEP_PER_NAME`` cuts of each name are
    kept on disk — when cut N is written, cut N-keep is deleted. An
    iterative operator's round N-2 data fed round N-1's write and
    nothing reads it afterwards, so without this a 15-round CC would
    hold 15 full edge-set copies of dead scratch. Contract: a cut's
    returned DataFrame must not be re-read after ``KEEP_PER_NAME``
    newer cuts of the SAME name (iterative operators roll their
    accumulators through retained cuts — see dedupe_matches)."""
    counts: dict[str, int] = {}

    def mat(df: DataFrame, name: str = "") -> DataFrame:
        base = name or "stage"
        idx = counts.get(base, 0)
        counts[base] = idx + 1
        path = _join(root, f"{base}_{idx:03d}")
        df.write.mode("overwrite").parquet(path)
        # the written schema read back (file reads make it nullable,
        # exactly what inference would find) — no inference job
        out = df.sparkSession.read.schema(df.schema).parquet(path)
        old = idx - KEEP_PER_NAME
        if old >= 0:
            _rm_path(df.sparkSession, _join(root, f"{base}_{old:03d}"))
        return out

    return mat


# per-app scratch root (or None), discovered once per application
_app_scratch: dict[str, dict] = {}
# next inv_<n> index per namespace root (an app scratch root or a
# checkpoint's _op_stages). Every OPERATOR INVOCATION gets its own
# inv_<n> subdirectory and fresh suffix counters. Isolation in BOTH
# directions is load-bearing: unique subdirs mean two invocations
# cutting the same hint can never overwrite each other's live scratch,
# and retention (KEEP_PER_NAME) only ever deletes cuts WITHIN one
# invocation — a later bare `dedupe_matches()` call can't delete the
# parquet backing the DataFrame a caller still holds from an earlier
# call (cuts of the SAME name never span invocations; the old
# shared-counter design broke exactly that way at 3+ invocations).
_inv_counts: dict[str, int] = {}


def _discover_root(df: DataFrame) -> str | None:
    """Scratch root for operators called WITHOUT an explicit
    materializer:

    1. ``spark.fastlink.scratchDir`` conf (any Hadoop URI — THE knob to
       set on a real cluster, where executor-local paths aren't shared)
       -> parquet cuts under <dir>/fastlink_scratch_<appId>. NOTE:
       nothing can clean a remote prefix after the JVM exits — point it
       at a lifecycle-managed (TTL) prefix; local-tmp roots are removed
       by an atexit hook instead.
    2. local[*] master: first entry of ``spark.local.dir`` (else the
       system tmpdir) — driver FS == executor FS in local mode, so a
       plain directory is a valid shared parquet target.
    3. otherwise (cluster master, no conf): None -> DISK_ONLY
       localCheckpoint — the only cut that needs no shared storage;
       non-fault-tolerant, documented here rather than silently writing
       to paths executors can't all see.
    """
    spark = df.sparkSession
    sc = spark.sparkContext
    app = sc.applicationId
    state = _app_scratch.get(app)
    if state is not None:
        return state["root"]
    try:
        root = spark.conf.get("spark.fastlink.scratchDir")
    except Exception:
        root = None
    scratch: str | None
    if root:
        scratch = root.rstrip("/") + f"/fastlink_scratch_{app}"
    elif sc.master.startswith("local"):
        try:
            base = spark.conf.get("spark.local.dir")
        except Exception:
            base = None
        if not base:
            import tempfile

            base = tempfile.gettempdir()
        scratch = os.path.join(base.split(",")[0], f"fastlink_scratch_{app}")
        try:
            os.makedirs(scratch, exist_ok=True)
            ok = os.access(scratch, os.W_OK)
        except OSError:
            ok = False
        if ok:
            import atexit
            import shutil

            atexit.register(shutil.rmtree, scratch, ignore_errors=True)
        else:
            scratch = None
    else:
        scratch = None
    _app_scratch[app] = {"root": scratch}
    return scratch


def _new_invocation_dir(root: str) -> str:
    """Allocate the next inv_<n> namespace under ``root``."""
    n = _inv_counts.get(root, 0)
    _inv_counts[root] = n + 1
    return _join(root, f"inv_{n:04d}")


class ScopedMaterializer:
    """An invocation-scoped scratch materializer: on its first cut it
    binds a fresh inv_<n> parquet namespace under ``root`` (None: the
    application's scratch root, else ``disk_only`` when none is
    usable), taking the session from the frame it cuts.
    ``resolve(None)`` returns one per operator invocation;
    ``CheckpointManager.materializer`` returns one rooted at
    ``<checkpoint>/_op_stages``. Without ``close()`` a namespace lives
    until JVM exit (the app root's atexit hook) or the next checkpoint
    run's orphan wipe — fine for a one-shot batch job, but a
    long-running streaming driver calling an operator per micro-batch
    would accumulate a parquet copy of every batch's intermediates
    until shutdown (ADVICE r4). A caller that knows its cuts' lifetime
    (e.g. IncrementalLinker.process_batch: nothing re-reads the cuts
    after the state commit) creates one of these per unit of work and
    closes it when done. close() is idempotent; a call after close
    lazily re-opens a fresh namespace."""

    def __init__(self, root: str | None = None):
        self._root = root
        self._spark = None
        self._inv_dir: str | None = None
        self._mat: Materializer | None = None

    def __call__(self, df: DataFrame, name: str = "") -> DataFrame:
        if self._mat is None:
            self._spark = df.sparkSession
            root = self._root if self._root is not None else _discover_root(df)
            self._inv_dir = None if root is None else _new_invocation_dir(root)
            self._mat = (
                disk_only
                if self._inv_dir is None
                else parquet_materializer(self._inv_dir)
            )
        return self._mat(df, name)

    def close(self) -> None:
        if self._inv_dir is not None:
            _rm_path(self._spark, self._inv_dir)
        self._inv_dir = None
        self._mat = None


def resolve(materializer: Materializer | None) -> Materializer:
    """Explicit materializer passes through; None returns a fresh
    ScopedMaterializer, bound lazily (at first cut) to its own per-
    invocation namespace."""
    if materializer is not None:
        return materializer
    return ScopedMaterializer()
