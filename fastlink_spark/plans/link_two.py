"""Two-table linkage — the reference's flagship entry point
``R/fastLink.R • fastLink(dfA, dfB, varnames, stringdist.match,
partial.match, numeric.match, ...)`` (SURVEY.md §3.1), Spark-first.

Unlike plans/pipeline.link_dedupe (the dedupe branch + clustering that
the BASELINE north star centers on), this returns MATCHED PAIRS with
posteriors — fastLink's native output shape — plus the optional 1:1
``dedupeMatches`` pass and ``getMatches``-style row materialization.
The scoring tail (pattern counts -> EM -> zeta -> threshold) is the
dedupe pipeline's own ``pipeline.fit_and_match``; the one cut, the
scored pairs, is stage ``pairs_gamma`` of a rootless
``CheckpointManager`` that the result keeps, so ``close()`` frees it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import em as em_mod
from ..operators import gammas
from ..operators.dedupe_matches import dedupe_matches
from ..operators.pairs import candidate_pairs_two
from .checkpoint import CheckpointManager
# unused here; perfbench/trace.py patches this name, so it must import
from .materialize import resolve as _resolve_mat  # noqa: F401
from .pipeline import LinkageConfig, fit_and_match


@dataclass
class LinkTwoResult:
    matched_pairs: DataFrame  # (a_<id>, b_<id>, zeta)
    em: em_mod.EMResult
    pattern_counts: "object"
    checkpoint: CheckpointManager

    def close(self) -> None:
        """Free the scratch ``matched_pairs`` reads; it is dead afterwards."""
        self.checkpoint.close()


def link_records(
    spark: SparkSession,
    df_a: DataFrame,
    df_b: DataFrame,
    fields: list[gammas.FieldSpec],
    *,
    id_col: str,
    block_cols: list[str],
    threshold: float = 0.85,
    p_m: float = 0.1,
    tol: float = 1e-5,
    iter_max: int = 5000,
    one_to_one: bool = False,
    assignment: str = "greedy",
    skew_threshold: int = 5000,
) -> LinkTwoResult:
    """fastLink(dfA, dfB): block on exact `block_cols`, score `fields`,
    EM over pattern counts, keep pairs with zeta >= threshold; optional
    1:1 pass (dedupeMatches): assignment='greedy' (reference default) or
    'lsap' (exact, linprog=TRUE). Column names follow the a_/b_ contract.
    """
    attrs = [id_col] + [f.name for f in fields]

    def blocked(df: DataFrame) -> DataFrame:
        # rows with a NULL blocking value are DROPPED from pairing, not
        # coalesced to a shared sentinel (r5 review): a "\x00" sentinel
        # put every null-blocked row of BOTH tables into one block —
        # null==null scored as block agreement and an O(na*nb) pair
        # blow-up from semantically meaningless pairs. Matches
        # blocking.with_block_keys, which drops null host keys.
        notnull = F.lit(True)
        for c in block_cols:
            notnull = notnull & F.col(c).isNotNull()
        key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in block_cols])
        return df.where(notnull).select(key.alias("block_key"), *attrs)

    pairs = candidate_pairs_two(
        blocked(df_a), blocked(df_b), id_col=id_col, skew_threshold=skew_threshold
    )
    cfg = LinkageConfig(
        fields=tuple(fields), threshold=threshold, p_m=p_m, tol=tol,
        iter_max=iter_max, deterministic_fields=(),
    )
    ckpt = CheckpointManager(spark, None)
    id_a, id_b = f"a_{id_col}", f"b_{id_col}"
    # ONE slim cut, after scoring: the pattern collect and the
    # matched-pair rule both read it, and only its ids and gamma_*
    # (the compared strings are dead once scored; scored_columns keeps
    # the dedupe pipeline's pairs_gamma stage slim the same way)
    scored = ckpt.stage(
        "pairs_gamma",
        lambda: gammas.with_gammas(pairs, fields).select(
            id_a, id_b, *[f"gamma_{f.name}" for f in fields]
        ),
    )
    em, scored_patterns, matched = fit_and_match(
        spark, scored, cfg, ckpt, id_a=id_a, id_b=id_b
    )
    if one_to_one:
        matched = dedupe_matches(
            matched, id_a=id_a, id_b=id_b, method=assignment,
            materializer=ckpt.materializer(),
        )
    return LinkTwoResult(
        matched_pairs=matched, em=em, pattern_counts=scored_patterns, checkpoint=ckpt
    )


def get_matches(
    df_a: DataFrame, df_b: DataFrame, result: LinkTwoResult, id_col: str
) -> DataFrame:
    """getMatches (``R/getMatches.R``): materialize matched source rows
    side by side with the posterior."""
    a = df_a.select([F.col(c).alias(f"a_{c}") for c in df_a.columns])
    b = df_b.select([F.col(c).alias(f"b_{c}") for c in df_b.columns])
    return (
        result.matched_pairs.join(a, f"a_{id_col}")
        .join(b, f"b_{id_col}")
    )
