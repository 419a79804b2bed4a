"""Two-table linkage — the reference's flagship entry point
``R/fastLink.R • fastLink(dfA, dfB, varnames, stringdist.match,
partial.match, numeric.match, ...)`` (SURVEY.md §3.1), Spark-first.

Unlike plans/pipeline.link_dedupe (the dedupe branch + clustering that
the BASELINE north star centers on), this returns MATCHED PAIRS with
posteriors — fastLink's native output shape — plus the optional 1:1
``dedupeMatches`` pass and ``getMatches``-style row materialization.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import em as em_mod
from ..operators import gammas
from ..operators.dedupe_matches import dedupe_matches
from ..operators.pairs import candidate_pairs_two
from .materialize import resolve as _resolve_mat


@dataclass
class LinkTwoResult:
    matched_pairs: DataFrame  # (a_<id>, b_<id>, zeta)
    em: em_mod.EMResult
    pattern_counts: "object"


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
    gcols = [f"gamma_{f.name}" for f in fields]
    # ONE slim cut, after scoring: pattern_counts and matched_from_zeta
    # both read it (uncut, every string-field UDF would score the pairs
    # twice), and they read only the ids and gamma_*. The compared
    # strings are dead once scored, so a cut of the raw pairs, or
    # strings kept in this one, would only be written and read back
    # (the pipeline's pairs_gamma stage keeps columns the same way).
    scored = _resolve_mat(None)(
        gammas.with_gammas(pairs, fields).select(
            f"a_{id_col}", f"b_{id_col}", *gcols
        ),
        "link_two_scored",
    )
    # sort before fitting: emlink_mar's float accumulation is row-order
    # dependent and toPandas() order is shuffle-nondeterministic (same
    # r5 determinism fix as the pipeline path)
    patt = (
        gammas.pattern_counts(scored, fields)
        .toPandas()
        .sort_values(gcols, na_position="last")
        .reset_index(drop=True)
    )
    em = em_mod.emlink_mar(patt, gcols, p_m=p_m, tol=tol, iter_max=iter_max)
    scored_patterns = em_mod.apply_em(patt, em)

    # the SHARED matched-pair rule (plans.pipeline) — an inline copy
    # here had already drifted from the pipeline's version once
    from .pipeline import matched_from_zeta, zeta_pattern_df

    zdf = zeta_pattern_df(spark, scored_patterns, gcols)
    matched = matched_from_zeta(
        scored, zdf, gcols, id_a=f"a_{id_col}", id_b=f"b_{id_col}", threshold=threshold
    )
    if one_to_one:
        matched = dedupe_matches(
            matched, id_a=f"a_{id_col}", id_b=f"b_{id_col}", method=assignment
        )
    return LinkTwoResult(matched_pairs=matched, em=em, pattern_counts=scored_patterns)


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
