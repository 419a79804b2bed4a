"""Candidate-pair generation: salted blocked self-join with explicit
skew splitting.

Reference analogue: the implicit |A|x|B| pair space of
``R/gammaCKpar.R`` / ``R/tableCounts.R`` (sparse unique-value index
algebra, ``src/ m_func_par``) — dissolved here into blocking + equi-join
(SURVEY.md X3/X5, J3/J7). The Zipf-skewed host distribution of web data
makes hot block keys inevitable; per BASELINE.json north_star the skew
split is EXPLICIT (grid-cell-salted self-join), with AQE skew-join only
as backstop.

Triangle salting (self-join form): each row in a skewed block gets salt
s = pmod(xxhash64(id), S); the quadratic block is covered exactly once
by the S*(S+1)/2 grid cells {(sa, sb) : sa <= sb}. BOTH sides replicate
over the grid (a-row with salt x -> cells (x, sb >= x); b-row with salt
y -> cells (sa <= y, y)) so the shuffle-join key is the full cell
(block_key, sa, sb): every reduce unit is bounded by ~target_block^2
comparisons regardless of block size. Keying only (block_key, sb) —
the one-sided variant — leaves S co-resident cells per reduce key
(~target^2 * S pairs), a straggler that flattens scaling (measured:
one 4.7k-row unsalted block emitted 11.3M/17M pairs in one task;
wall identical at local[4] and local[16]). Unskewed blocks ride the
same path with S=1 (single (0,0) cell) — one code path, no union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SKEW_THRESHOLD = 1_000  # block size above which we salt
DEFAULT_TARGET_BLOCK = 500  # aim for ~target^2/2 comparisons per reduce cell
# Salt-count cap: the per-cell bound (~target^2 comparisons) holds only
# for blocks up to MAX_SALTS * target rows (~2M at defaults). The cap
# can be high because grid replication volume is n*(S+1) rows ~
# pairs/target — proportional to the pair stream the join emits anyway,
# never a blow-up. Blocks beyond the cap are a config smell (the
# pipeline's mega-host band refinement splits them upstream); the
# explode of a sequence(0..S) array (~16 KB transient at the cap) is
# the only per-row cost.
MAX_SALTS = 4_096


def _wide_attrs(df: DataFrame, cols: list[str]) -> bool:
    """True if any of `cols` is variable-width (string/binary/array/
    map/struct). Drives slim-pair mode: fixed-width attrs keep first()
    aggregation buffers mutable, so the ride-along dedupe stays a cheap
    HashAggregate and two attach joins would be a net loss; a single
    variable-width attr flips dropDuplicates to a SortAggregate over
    the full pre-dedupe pair stream with the payload riding along."""
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        NumericType,
        TimestampNTZType,
        TimestampType,
    )

    fixed = (NumericType, BooleanType, DateType, TimestampType, TimestampNTZType)
    types = {f.name: f.dataType for f in df.schema.fields}
    return any(not isinstance(types[c], fixed) for c in cols)


def _salt_plan(profile: DataFrame, skew_threshold: int, target: int) -> DataFrame:
    """(block_key, n) -> (block_key, __s_cnt) for blocks needing S>1.

    All internal working columns in this module are __-prefixed so a
    caller's attribute column named e.g. ``salt`` or ``i`` is never
    silently clobbered into the a_*/b_* output (r5 review finding)."""
    return (
        profile.filter(F.col("n") > skew_threshold)
        .select(
            "block_key",
            F.least(F.ceil(F.col("n") / target), F.lit(MAX_SALTS)).cast("int").alias("__s_cnt"),
        )
    )


def candidate_pairs(
    blocked: DataFrame,
    *,
    id_col: str = "rec_id",
    skew_threshold: int = DEFAULT_SKEW_THRESHOLD,
    target_block: int = DEFAULT_TARGET_BLOCK,
    dedupe_pairs: bool = True,
) -> DataFrame:
    """Blocked self-join -> candidate pairs ``(a_*, b_*)`` with
    ``id_a < id_b`` canonical order (reference: dedupe branch of
    ``R/fastLink.R`` + i<j canonicalization, SURVEY.md J7).

    `blocked`: one row per (block_key, record), carrying `id_col` plus
    the slim comparison attributes. Attribute columns come out prefixed
    ``a_`` / ``b_``.

    Overlapping blocking schemes (minhash bands + host) produce the same
    pair under several keys; ``dedupe_pairs`` keeps one winner via
    dropDuplicates on the canonical pair id (SURVEY.md O2).
    """
    from .blocking import block_profile  # shared (block_key, n) definition

    plan = _salt_plan(block_profile(blocked), skew_threshold, target_block)

    attr_cols = [c for c in blocked.columns if c not in ("block_key",)]
    other_attrs = [c for c in attr_cols if c != id_col]
    # Slim-pair mode (r8, guide §8 "decide with small rows, move big
    # rows once"): when pairs must be deduped across overlapping block
    # keys AND carry non-id attributes, run the whole grid join +
    # canonicalization + dedupe over (block_key, salts, id) ONLY, then
    # attach the attributes once per side from the per-record
    # projection of `blocked`. The old shape replicated every attribute
    # through the grid explode, shuffled it through the pair join, and
    # — because ``first(string)`` aggregation buffers are sort-based —
    # paid a FULL SORT of the pre-dedupe pair stream with the payloads
    # riding along (plans/r08/candidate_pairs_before.txt: Exchange +
    # Sort + SortAggregate). Slim pairs dedupe as a hash aggregate
    # over two ids, and the payload crosses the network once per side
    # (records-sized, AQE broadcasts it when it fits). Output rows are
    # identical: a record's attributes are constant across its blocked
    # rows, so any representative equals every other.
    slim = dedupe_pairs and _wide_attrs(blocked, other_attrs)
    rows = (
        (blocked.select("block_key", id_col) if slim else blocked)
        .join(F.broadcast(plan), "block_key", "left")
        .withColumn("__s_cnt", F.coalesce(F.col("__s_cnt"), F.lit(1)))
        .withColumn(
            "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.col("__s_cnt")).cast("int")
        )
    )
    side_cols = [id_col] if slim else attr_cols
    # Grid replication via explode(sequence(...)): a-row with salt x
    # covers cells (x, sb in [x, S)), b-row with salt y covers cells
    # (sa in [0, y], y). Per-row fan-out totals S+1 across the two
    # sides — slim rows, and only for blocks the plan actually salts.
    a = rows.withColumn(
        "__sb", F.explode(F.sequence(F.col("__salt"), F.col("__s_cnt") - F.lit(1)))
    ).select(
        F.col("block_key").alias("__bk_a"),
        F.col("__salt").alias("__sa"),
        F.col("__sb").cast("int").alias("__sb"),
        *[F.col(c).alias(f"a_{c}") for c in side_cols],
    )
    b = rows.withColumn(
        "__sa", F.explode(F.sequence(F.lit(0), F.col("__salt")))
    ).select(
        F.col("block_key").alias("__bk_b"),
        F.col("__sa").cast("int").alias("__sa_b"),
        F.col("__salt").alias("__sb_b"),
        *[F.col(c).alias(f"b_{c}") for c in side_cols],
    )
    # Oriented triangle: each unordered pair is produced exactly once —
    # a pair with salts (x, y), x < y, materializes only in cell (x, y)
    # (the a-side never covers (y, x): it explodes sb >= its own salt),
    # and equal-salt pairs live on the diagonal where the id inequality
    # keeps one orientation. The id inequality must NOT be applied to
    # off-diagonal cells (salt order is independent of id order;
    # filtering by both silently drops ~half the cross-salt pairs —
    # caught by the q02 salted-vs-unsalted DuckDB oracle).
    pairs = a.join(
        b,
        on=[
            F.col("__bk_a") == F.col("__bk_b"),
            F.col("__sa") == F.col("__sa_b"),
            F.col("__sb") == F.col("__sb_b"),
            (F.col("__sa") < F.col("__sb"))
            | (
                (F.col("__sa") == F.col("__sb"))
                & (F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))
            ),
        ],
        how="inner",
    ).drop("__sa", "__sb", "__sa_b", "__sb_b", "__bk_a", "__bk_b")

    # canonicalize to id_a < id_b (swap whole attr sets where needed)
    swap = F.col(f"a_{id_col}") > F.col(f"b_{id_col}")
    pairs = pairs.select(
        *[
            F.when(swap, F.col(f"b_{c}")).otherwise(F.col(f"a_{c}")).alias(f"a_{c}")
            for c in side_cols
        ],
        *[
            F.when(swap, F.col(f"a_{c}")).otherwise(F.col(f"b_{c}")).alias(f"b_{c}")
            for c in side_cols
        ],
    )

    if dedupe_pairs:
        pairs = pairs.dropDuplicates([f"a_{id_col}", f"b_{id_col}"])
    if not slim:
        return pairs
    # attach attributes once per side (see slim-pair note above). The
    # per-record side table dedupes blocked's per-key replication —
    # records-sized, and joined unhinted so AQE broadcasts it when
    # small and shuffle-joins it at scale.
    attr_src = blocked.select(id_col, *other_attrs).dropDuplicates([id_col])
    out = pairs.join(
        attr_src.select(
            F.col(id_col).alias(f"a_{id_col}"),
            *[F.col(c).alias(f"a_{c}") for c in other_attrs],
        ),
        f"a_{id_col}",
    ).join(
        attr_src.select(
            F.col(id_col).alias(f"b_{id_col}"),
            *[F.col(c).alias(f"b_{c}") for c in other_attrs],
        ),
        f"b_{id_col}",
    )
    return out.select(
        *[F.col(f"a_{c}") for c in attr_cols], *[F.col(f"b_{c}") for c in attr_cols]
    )


def _two_table_grid(
    blocked_a: DataFrame,
    blocked_b: DataFrame,
    *,
    id_col: str,
    skew_threshold: int,
    target_block: int,
) -> tuple[DataFrame, DataFrame]:
    """Both sides of candidate_pairs_two's S x T skew grid, each row
    keyed by its cell: A as (__bk_a, __i, __j), B as (__bk_b, __i_b,
    __j_b), every other column prefixed a_/b_. Joining the two on the
    cell emits each in-block pair exactly once."""
    prof = (
        blocked_a.groupBy("block_key").agg(F.count("*").alias("__na"))
        .join(
            blocked_b.groupBy("block_key").agg(F.count("*").alias("__nb")),
            "block_key",
        )
        .withColumn("__n", F.col("__na") + F.col("__nb"))
    )
    plan = (
        prof.filter(F.col("__n") > skew_threshold)
        .select(
            "block_key",
            F.least(F.ceil(F.col("__na") / target_block), F.lit(MAX_SALTS)).cast("int").alias("__s_cnt"),
            F.least(F.ceil(F.col("__nb") / target_block), F.lit(MAX_SALTS)).cast("int").alias("__t_cnt"),
        )
    )

    a_side_cols = [c for c in blocked_a.columns if c != "block_key"]
    b_side_cols = [c for c in blocked_b.columns if c != "block_key"]
    a = (
        blocked_a.join(F.broadcast(plan), "block_key", "left")
        .withColumn("__s_cnt", F.coalesce(F.col("__s_cnt"), F.lit(1)))
        .withColumn("__t_cnt", F.coalesce(F.col("__t_cnt"), F.lit(1)))
        .withColumn(
            "__i", F.pmod(F.xxhash64(F.col(id_col)), F.col("__s_cnt")).cast("int")
        )
        .withColumn("__j", F.explode(F.sequence(F.lit(0), F.col("__t_cnt") - F.lit(1))))
        .select(
            F.col("block_key").alias("__bk_a"),
            "__i",
            F.col("__j").cast("int").alias("__j"),
            *[F.col(c).alias(f"a_{c}") for c in a_side_cols],
        )
    )
    b = (
        blocked_b.join(F.broadcast(plan), "block_key", "left")
        .withColumn("__s_cnt", F.coalesce(F.col("__s_cnt"), F.lit(1)))
        .withColumn("__t_cnt", F.coalesce(F.col("__t_cnt"), F.lit(1)))
        .withColumn(
            "__j", F.pmod(F.xxhash64(F.col(id_col)), F.col("__t_cnt")).cast("int")
        )
        .withColumn("__i", F.explode(F.sequence(F.lit(0), F.col("__s_cnt") - F.lit(1))))
        .select(
            F.col("block_key").alias("__bk_b"),
            F.col("__i").cast("int").alias("__i_b"),
            F.col("__j").alias("__j_b"),
            *[F.col(c).alias(f"b_{c}") for c in b_side_cols],
        )
    )
    return a, b


def candidate_pairs_two(
    blocked_a: DataFrame,
    blocked_b: DataFrame,
    *,
    id_col: str = "rec_id",
    skew_threshold: int = DEFAULT_SKEW_THRESHOLD,
    target_block: int = DEFAULT_TARGET_BLOCK,
    dedupe_pairs: bool = True,
) -> DataFrame:
    """Two-table (dfA x dfB) blocked join — the reference's primary
    linkage mode (``R/fastLink.R • fastLink(dfA, dfB, ...)``), as
    opposed to the dedupe self-join. Skew split is a full S x T grid:
    in a hot block, A-rows get i = pmod(xxhash64(id), S) and replicate
    over j in [0, T); B-rows get j = pmod(xxhash64(id), T) and
    replicate over i in [0, S); the shuffle-join key is the cell
    (block_key, i, j), so every reduce unit is bounded by
    ~target_block^2 comparisons even when BOTH sides of a block are
    huge (one-sided salting leaves (na/S) * nb per cell — unbounded
    in nb). Replicated row volume is na*T + nb*S ~ 2*na*nb/target:
    proportional to the pair count the cell join must emit anyway.

    Inputs: (block_key, id, attrs...) per side; outputs a_*/b_* columns.
    """
    a_cols = [c for c in blocked_a.columns if c != "block_key"]
    b_cols = [c for c in blocked_b.columns if c != "block_key"]
    a_others = [c for c in a_cols if c != id_col]
    b_others = [c for c in b_cols if c != id_col]
    # slim-pair mode: same rationale and equivalence argument as the
    # self-join form above — grid-replicate and dedupe ids only, attach
    # each side's attributes once afterwards.
    slim = dedupe_pairs and (
        _wide_attrs(blocked_a, a_others) or _wide_attrs(blocked_b, b_others)
    )
    if slim:
        blocked_a_j = blocked_a.select("block_key", id_col)
        blocked_b_j = blocked_b.select("block_key", id_col)
    else:
        blocked_a_j, blocked_b_j = blocked_a, blocked_b

    a, b = _two_table_grid(
        blocked_a_j, blocked_b_j, id_col=id_col,
        skew_threshold=skew_threshold, target_block=target_block,
    )
    pairs = a.join(
        b,
        on=[
            F.col("__bk_a") == F.col("__bk_b"),
            F.col("__i") == F.col("__i_b"),
            F.col("__j") == F.col("__j_b"),
        ],
        how="inner",
    ).drop("__bk_a", "__bk_b", "__i", "__j", "__i_b", "__j_b")
    if dedupe_pairs:
        pairs = pairs.dropDuplicates([f"a_{id_col}", f"b_{id_col}"])
    if not slim:
        return pairs
    if a_others:
        pairs = pairs.join(
            blocked_a.select(
                F.col(id_col).alias(f"a_{id_col}"),
                *[F.col(c).alias(f"a_{c}") for c in a_others],
            ).dropDuplicates([f"a_{id_col}"]),
            f"a_{id_col}",
        )
    if b_others:
        pairs = pairs.join(
            blocked_b.select(
                F.col(id_col).alias(f"b_{id_col}"),
                *[F.col(c).alias(f"b_{c}") for c in b_others],
            ).dropDuplicates([f"b_{id_col}"]),
            f"b_{id_col}",
        )
    return pairs.select(
        *[F.col(f"a_{c}") for c in a_cols], *[F.col(f"b_{c}") for c in b_cols]
    )
