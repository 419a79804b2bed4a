"""SparkSession factory tuned for the linkage workload.

Local-mode testing runs on ``local[N]``; the same configuration is what
we would ship to a multi-executor cluster via ``spark-submit --py-files``
(BASELINE.json north_rule) — nothing here is local-only except the
master URL default.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def local_frame(spark: SparkSession, rows: Iterable[tuple], ddl: str) -> DataFrame:
    """A small literal frame built in Python (zeta table, relabel map,
    partition offsets, centroids), typed exactly by ``ddl``, as a JVM
    ``LocalRelation``.

    Never ``createDataFrame(<list>)``: it parallelizes pickled rows as a
    Python RDD, and the first job to read it starts a second
    ``pyspark.daemon`` with fresh workers just to unpickle a few rows
    (2.6 s against 0.2 s here, measured at local[2] on a 4-core box).
    An Arrow table handed to the JVM needs no Python worker at all."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    table = pa.table(
        [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def _default_driver_mem() -> str:
    """min(24g, half of physical RAM): in local mode the driver heap is
    every executor's heap too, and a heap larger than the host lets the
    JVM grow until the kernel's OOM killer ends it."""
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    except (AttributeError, OSError, ValueError):
        return "24g"
    return f"{min(24 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "fastlink_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with Arrow + AQE enabled.

    - Arrow on: every UDF in this engine is a pandas/Arrow UDF
      (BASELINE.json input_hint: "no per-row Python").
    - AQE on with skew-join backstop: primary skew handling is explicit
      salting (operators/pairs.py), AQE is the safety net (SURVEY.md X5).
    - shuffle.partitions defaults to DEFAULT_SHUFFLE_PARTITIONS (32)
      unless overridden; on a real cluster set it to 2-3x total
      executor cores via --conf (perfbench/run.py passes 2x cores
      explicitly).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = os.environ.get("FASTLINK_SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("FASTLINK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE rewrite sort-merge joins to shuffled-hash when EVERY
        # post-shuffle partition fits this per-task build budget (guide
        # §3.1; default 0 = never). The salted pair self-join sorts both
        # replicated sides otherwise; SHJ skips both sorts (measured
        # -22% on the candidate_pairs stage, identical output). The
        # knob is size-GATED, not local-mode tuning: with production
        # partition sizing (100 MB-1 GB post-shuffle partitions) the
        # rewrite simply never fires, and 128 MB/task build memory is
        # within standard executor sizing.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(128 * 1024 * 1024),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("FASTLINK_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.shuffle.spill.compress", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate() on a live session IGNORES every requested config —
    # surface the divergences instead of silently running with stale
    # settings (r5 review). The check runs UNCONDITIONALLY against the
    # returned session (r6 ADVICE): getActiveSession() is thread-local,
    # so gating on it missed exactly the cross-thread DEFAULT-session
    # reuse the warning exists for; a freshly created session trivially
    # matches every requested value and stays silent. Runtime-settable
    # keys could be re-applied, but master/memory can't; one loud line
    # beats a half-applied mix.
    import sys

    wanted = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        **({k: str(v) for k, v in (extra_conf or {}).items()}),
    }
    diffs = []
    for k, v in wanted.items():
        try:
            cur = spark.conf.get(k)
        except Exception:
            cur = None
        if cur != v:
            diffs.append(f"{k}={cur!r} (wanted {v!r})")
    if spark.sparkContext.master != master:
        diffs.append(f"master={spark.sparkContext.master!r} (wanted {master!r})")
    if diffs:
        print(
            "fastlink: WARNING get_spark() returned an EXISTING "
            "session; requested configs not applied: " + "; ".join(diffs),
            file=sys.stderr,
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
