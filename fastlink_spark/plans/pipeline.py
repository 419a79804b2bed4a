"""End-to-end dedupe/linkage pipeline — the Spark re-expression of the
reference's flagship entry point ``R/fastLink.R • fastLink()``
(SURVEY.md §3.1):

    read pages -> normalize (host, title, url_norm, text_hash, bands)
    -> explode block keys (+ oversized-host refinement)
    -> salted blocked self-join (candidate pairs)        [checkpoint]
    -> gamma columns (pandas-UDF JW + F.when ladders)    [checkpoint]
    -> groupBy(gamma*).count().toPandas()                [sufficient stats]
    -> driver NumPy EM (emlinkMARmov semantics)          [em.json]
    -> broadcast zeta join -> threshold                  [checkpoint]
    -> large-star/small-star connected components        [checkpoint]
    -> entities (url -> cluster)

Shuffle inventory (scale notes): (a) block-key exchange into the pair
join, (b) pair dropDuplicates, (c) gamma-pattern agg (map-side combined
to <=3^K rows), (d) two shuffles per CC round. The EM itself moves only
a few hundred rows to the driver. gamma scoring rides whole-stage
codegen except the one Arrow-batched JW UDF per string field.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import em as em_mod
from ..functions import minhash as mh
from ..functions import normalize as nz
from ..operators import blocking, cluster, gammas, pairs as pairs_mod
from ..session import local_frame
from .checkpoint import CheckpointManager

DEFAULT_FIELDS = (
    gammas.FieldSpec("url_norm", "string"),
    gammas.FieldSpec("title", "string"),
    gammas.FieldSpec("text_hash", "exact"),
)


@dataclass
class LinkageConfig:
    """Pipeline knobs; defaults follow fastLink (`R/fastLink.R`):
    threshold.match=0.85, cut.a=0.94, cut.p=0.88, p.m=0.1, tol=1e-5."""

    fields: tuple[gammas.FieldSpec, ...] = DEFAULT_FIELDS
    threshold: float = 0.85
    p_m: float = 0.1
    tol: float = 1e-5
    iter_max: int = 5000
    use_host_block: bool = True
    use_minhash_block: bool = True
    shingle_w: int = mh.DEFAULT_SHINGLE_W
    bands: int = mh.DEFAULT_BANDS
    rows_per_band: int = mh.DEFAULT_ROWS_PER_BAND
    skew_threshold: int = pairs_mod.DEFAULT_SKEW_THRESHOLD
    target_block: int = pairs_mod.DEFAULT_TARGET_BLOCK
    refine_host_above: int = 50_000
    # deterministic-match pass layered on FS (standard practice, and the
    # dedupe ground truth for web pages: identical canonical URL == same
    # entity): pairs exactly equal+non-null on ALL listed fields are
    # accepted regardless of zeta. Catches e.g. pattern (2,0,0) — same
    # url_norm, heavily-perturbed short title, truncated text — which
    # the mixture correctly ranks low on its own evidence.
    deterministic_fields: tuple[str, ...] = ("url_norm",)
    sample_fraction: float | None = None  # emlinkRS mode: fit EM on a pair sample
    checkpoint_dir: str | None = None

    def token(self) -> str:
        blob = json.dumps(
            {
                "fields": [(f.name, f.kind, f.cut_full, f.cut_partial) for f in self.fields],
                "threshold": self.threshold,
                "p_m": self.p_m,
                "tol": self.tol,
                "iter_max": self.iter_max,
                "blocks": [
                    self.use_host_block,
                    self.use_minhash_block,
                    self.shingle_w,
                    self.bands,
                    self.rows_per_band,
                    self.skew_threshold,
                    self.target_block,
                    self.refine_host_above,
                ],
                "sample": self.sample_fraction,
                "deterministic": list(self.deterministic_fields),
            },
            sort_keys=True,
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


@dataclass
class LinkageResult:
    entities: DataFrame  # (rec_id, url, cluster_id)
    matched_pairs: DataFrame  # (a_rec_id, b_rec_id, zeta)
    em: em_mod.EMResult
    pattern_counts: "object"  # pandas DataFrame (gamma_*, cnt, zeta)
    metrics: dict
    checkpoint: CheckpointManager

    def close(self) -> None:
        """Free the run's scratch; without ``checkpoint_dir`` that kills
        ``entities`` and ``matched_pairs`` (``CheckpointManager.close``)."""
        self.checkpoint.close()


def prepare_pages(pages: DataFrame, cfg: "LinkageConfig | None" = None) -> DataFrame:
    """Input table (url, warc_ts, html, text, lang) -> linkage attrs +
    block_keys. Computed in ONE stage so the checkpoint write
    materializes the minhash band keys before any explode/join consumes
    them (minhash.py plan-size note).

    rec_id = xxhash64(url): stable under recompute (never
    monotonically_increasing_id — SURVEY.md D3). A 64-bit key is exact
    at every test SF; at 10^12 docs it would have ~1e4 expected
    birthday collisions.
    """
    cfg = cfg or LinkageConfig()
    prep = pages.select(
        F.xxhash64("url").alias("rec_id"),
        "url",
        "warc_ts",
        "lang",
        nz.url_host(F.col("url")).alias("host"),
        nz.url_norm(F.col("url")).alias("url_norm"),
        nz.html_to_title(F.col("html")).alias("title"),
        F.col("text"),
        F.when(F.col("text").isNotNull(), F.xxhash64("text")).alias("text_hash"),
    )
    return blocking.with_block_keys(
        prep,
        use_host=cfg.use_host_block,
        use_minhash=cfg.use_minhash_block,
        shingle_w=cfg.shingle_w,
        bands=cfg.bands,
        rows_per_band=cfg.rows_per_band,
    ).drop("text")


def zeta_pattern_df(
    spark: SparkSession, scored_patterns, gcols: list[str]
) -> DataFrame:
    """Fitted (gamma pattern -> zeta) pandas frame -> the <=3^K-row
    literal DataFrame broadcast into the matched-pair join (NULL gamma
    levels stay NULL), a JVM LocalRelation (``session.local_frame``
    says why)."""
    import pandas as pd

    zrows = [
        tuple(None if pd.isna(r[c]) else int(r[c]) for c in gcols) + (float(r["zeta"]),)
        for _, r in scored_patterns.iterrows()
    ]
    zschema = ", ".join(f"{c} int" for c in gcols) + ", zeta double"
    return local_frame(spark, zrows, zschema)


def matched_from_zeta(
    scored: DataFrame,
    zeta_df: DataFrame,
    gcols: list[str],
    *,
    threshold: float,
    deterministic_fields: tuple[str, ...] = (),
    id_a: str = "a_rec_id",
    id_b: str = "b_rec_id",
) -> DataFrame:
    """THE matched-pair rule, called in the package only from
    ``fit_and_match`` — the one scoring tail of the batch pipeline (which state compaction
    runs), the incremental linker and two-table ``link_records``, so
    the paths cannot split or merge clusters differently. Lazy: the
    caller cuts it. Null-safe broadcast zeta join + FS threshold, with
    the deterministic-fields exact-match pass accepted regardless of
    zeta (such a pair carries zeta 1.0, the max of both verdicts).

    One projected pass over the pair stream: input pairs are unique
    per (id_a, id_b) — every producer dedupes on that key — so no
    union + groupBy(max) of two branches is needed. The LEFT join lets
    a pattern absent from ``zeta_df`` (impossible when it covers the
    observed patterns, as every caller's does) survive iff
    deterministic."""
    cond = None
    for c in gcols:
        eq = scored[c].eqNullSafe(zeta_df[c])
        cond = eq if cond is None else (cond & eq)
    det_cond = None
    for f in deterministic_fields:
        eq = (
            F.col(f"a_{f}").isNotNull()
            & F.col(f"b_{f}").isNotNull()
            & (F.col(f"a_{f}") == F.col(f"b_{f}"))
        )
        det_cond = eq if det_cond is None else (det_cond & eq)
    # no fields: Spark folds the constant away (the OR, the CASE) and
    # turns the left join into the plain inner join
    det_flag = F.lit(False) if det_cond is None else F.coalesce(det_cond, F.lit(False))
    return (
        scored.join(F.broadcast(zeta_df), cond, "left")
        .where((F.col("zeta") >= threshold) | det_flag)
        .select(
            id_a,
            id_b,
            F.when(det_flag, F.lit(1.0)).otherwise(F.col("zeta")).alias("zeta"),
        )
    )


def _blocked_records(records: DataFrame, cfg: LinkageConfig) -> DataFrame:
    """Explode block keys (materialized by the records stage), carrying
    only slim comparison attrs; refine oversized host blocks by the
    first minhash band (explicit skew control for mega-hosts —
    SURVEY.md X5 hard-part (c))."""
    attrs = ["rec_id"] + [f.name for f in cfg.fields]
    # try_element_at: ANSI mode (Spark 4 default) makes element_at throw
    # on empty arrays (rows with null text have no band keys)
    band0 = F.try_element_at(F.filter(F.col("block_keys"), lambda k: k.startswith("b0:")), F.lit(1))
    keyed = records.withColumn("band0", band0)
    blocked = keyed.select(
        F.explode("block_keys").alias("block_key"), *attrs, "band0"
    )
    if cfg.use_host_block:
        # host sizes from the UN-exploded records stream (1 row/record,
        # not 1 row per block key): ~bands+1 times less data through the
        # agg than profiling the exploded stream; the only remaining
        # full block profile is the one inside candidate_pairs (computed
        # over the FINAL refined keys, which this one cannot know)
        big_hosts = (
            records.where(F.col("host").isNotNull())
            .groupBy("host")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > cfg.refine_host_above)
            .select(F.concat(F.lit("h:"), F.col("host")).alias("block_key"))
        )
        blocked = blocked.join(F.broadcast(big_hosts.withColumn("is_big", F.lit(True))), "block_key", "left")
        blocked = blocked.withColumn(
            "block_key",
            F.when(
                F.col("is_big") & F.col("band0").isNotNull(),
                F.concat(F.col("block_key"), F.lit("|"), F.col("band0")),
            ).otherwise(F.col("block_key")),
        ).drop("is_big")
    return blocked.drop("band0")


def scored_columns(cfg: LinkageConfig) -> list[str]:
    """The columns of a gamma-scored pair stream that anything
    downstream reads: the pattern fit reads gamma_*, matched_from_zeta
    the ids, gamma_* and the deterministic fields. The other a_/b_
    comparison attrs (title, text_hash, ... on the default spec) are
    dead after the gamma ladder, and the scored pairs are a run's
    largest table, so a cut keeps only these (~40% of the stage's bytes
    saved at the default field spec)."""
    return list(
        dict.fromkeys(
            ["a_rec_id", "b_rec_id"]
            + [c for f in cfg.deterministic_fields for c in (f"a_{f}", f"b_{f}")]
            + [f"gamma_{f.name}" for f in cfg.fields]
        )
    )


def fit_and_match(
    spark: SparkSession,
    scored: DataFrame,
    cfg: LinkageConfig,
    ckpt: CheckpointManager,
    em: em_mod.EMResult | None = None,
    *,
    id_a: str = "a_rec_id",
    id_b: str = "b_rec_id",
) -> tuple[em_mod.EMResult, "object", DataFrame]:
    """THE scoring tail of ``link_prepared``, ``link_two.link_records``
    and ``IncrementalLinker.process_batch``: pattern counts -> EM
    (``R/emlinkMARmov.R``) -> zeta per pattern -> threshold, over a CUT
    scored pair stream. ``em=None`` fits the EM (sampled when
    ``cfg.sample_fraction`` asks, kept in ``ckpt`` as ``em_*.json``); a
    given ``em`` is applied frozen (``R/emlinkRS.R``): no sampling, no
    ``em_*.json``. Returns ``(em, scored_patterns, matched)``, with
    ``matched`` lazy: the caller decides where it is cut."""
    fields = list(cfg.fields)
    gcols = [f"gamma_{f.name}" for f in fields]
    # ONE predicate decides both whether sampling happens and whether
    # the fit gets sample-mode regularization below
    if cfg.sample_fraction is not None and not (0 < cfg.sample_fraction <= 1):
        raise ValueError(
            f"sample_fraction={cfg.sample_fraction} must be in (0, 1] "
            "(1.0 = fit on everything; a percentage like 15 is not a fraction)"
        )
    sampled = (
        em is None and cfg.sample_fraction is not None and 0 < cfg.sample_fraction < 1
    )
    fit_src = scored.sample(cfg.sample_fraction, seed=42) if sampled else scored
    # SORT before fitting: emlink_mar's float accumulation is row-order
    # dependent and toPandas() order is shuffle-nondeterministic (the
    # oracle twin _fit_em sorts for the same reason). na_position pins
    # NA patterns.
    fit_patterns = (
        gammas.pattern_counts(fit_src, fields)
        .toPandas()
        .sort_values(gcols, na_position="last")
        .reset_index(drop=True)
    )

    if em is None:
        # keyed on the config hash AND the pairs_gamma content
        # fingerprint: without the data term a resumed run over CHANGED
        # input would rebuild the pattern table yet serve the stale fit
        _fp = ckpt.fingerprints.get("pairs_gamma", "")
        em_key = f"em_{cfg.token()}_{hashlib.md5(_fp.encode()).hexdigest()[:12]}"
        em_json = ckpt.get_json(em_key)
        if em_json is not None:
            em = em_mod.EMResult.from_json(em_json)
        else:
            # sample-fit mode must model the COMPLETE level universe: a
            # rare agreement level absent from the sample would
            # otherwise be scored as MAR-missing on the full table —
            # dropping the field's evidence exactly on the rarest (most
            # informative) patterns. Full-fit mode keeps data-derived
            # levels (identical behavior and fits to every prior round).
            em = em_mod.emlink_mar(
                fit_patterns,
                gcols,
                p_m=cfg.p_m,
                tol=cfg.tol,
                iter_max=cfg.iter_max,
                level_universe=(
                    {f"gamma_{f.name}": f.possible_levels() for f in fields}
                    if sampled
                    else None
                ),
                # one pseudo-pair so a universe level with zero sample
                # counts keeps the init's level ordering as evidence
                dirichlet_w=1.0 if sampled else 0.0,
            )
            ckpt.put_json(em_key, em.to_json())

    full_patterns = (
        fit_patterns
        if not sampled  # no sampling happened -> fit table IS the full table
        else gammas.pattern_counts(scored, fields).toPandas()
    )
    scored_patterns = em_mod.apply_em(full_patterns, em)

    zeta_df = zeta_pattern_df(spark, scored_patterns, gcols)
    matched = matched_from_zeta(
        scored,
        zeta_df,
        gcols,
        threshold=cfg.threshold,
        deterministic_fields=cfg.deterministic_fields,
        id_a=id_a,
        id_b=id_b,
    )
    return em, scored_patterns, matched


def link_dedupe(
    spark: SparkSession, pages: DataFrame, cfg: LinkageConfig | None = None
) -> LinkageResult:
    """Dedupe-mode linkage (dfA ≡ dfB branch of ``fastLink()``) over a
    Common-Crawl-style pages table; returns entity clusters."""
    cfg = cfg or LinkageConfig()
    ckpt = CheckpointManager(spark, cfg.checkpoint_dir, cfg.token())

    # bind the first stage to its raw input: Iceberg snapshot id in
    # production; the input plan's semanticHash here (catches a changed
    # input path/plan — in-place content edits need the snapshot id)
    try:
        input_tok = str(pages.semanticHash())
    except Exception:
        input_tok = ""
    records = ckpt.stage(
        "records", lambda: prepare_pages(pages, cfg), inputs=("pages",), extra_token=input_tok
    )
    return link_prepared(spark, records, cfg, ckpt)


def link_prepared(
    spark: SparkSession,
    records: DataFrame,
    cfg: LinkageConfig,
    ckpt: CheckpointManager,
    em: em_mod.EMResult | None = None,
) -> LinkageResult:
    """The linkage core after the records stage: blocking -> candidate
    pairs -> gamma scoring -> pattern counts -> EM -> matched pairs ->
    connected components, each a stage of ``ckpt``. ``records`` is a
    cut ``prepare_pages`` table (block keys materialized).

    ``em=None`` fits the EM; a given ``em`` is applied frozen — the
    estimate-then-apply contract of ``R/emlinkRS.R``, used by
    ``IncrementalLinker.compact()`` (``fit_and_match``). The result
    keeps ``ckpt``: its ``close()`` frees the run's scratch."""
    blocked = _blocked_records(records, cfg)
    cand = ckpt.stage(
        "candidate_pairs",
        lambda: pairs_mod.candidate_pairs(
            blocked,
            skew_threshold=cfg.skew_threshold,
            target_block=cfg.target_block,
        ),
        inputs=("records",),
    )

    fields = list(cfg.fields)
    # Repartition before the UDF stage ONLY when the pair stream arrives
    # in fewer partitions than 4x cores: smooths per-partition JW-content
    # skew (the gamma wall is set by the slowest task) for small/skewed
    # inputs, but at 100 TB the candidate-pair table is the job's largest
    # table and already lands in thousands of well-distributed partitions
    # — a full exchange there would be the bottleneck. AQE's skew
    # handling covers the residual case.
    par = spark.sparkContext.defaultParallelism * 4
    gamma_src = cand if cand.rdd.getNumPartitions() >= par else cand.repartition(par)
    # 50k-row Arrow batches for the scoring stage only: amortizes
    # per-batch UDF overhead and widens the JW kernel's unique-pair
    # factorization window (~7% measured). Pair rows are slim strings
    # (~20 MB/batch); the OPH UDF stage keeps the 10k default — its
    # rows carry token arrays.
    _arrow_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    _arrow_prev = spark.conf.get(_arrow_key, "10000")
    spark.conf.set(_arrow_key, "50000")
    try:
        scored = ckpt.stage(
            "pairs_gamma",
            lambda: gammas.with_gammas(gamma_src, fields).select(*scored_columns(cfg)),
            inputs=("candidate_pairs",),
        )
    finally:
        spark.conf.set(_arrow_key, _arrow_prev)
    em, scored_patterns, matched_plan = fit_and_match(spark, scored, cfg, ckpt, em)
    matched = ckpt.stage("matched_pairs", lambda: matched_plan, inputs=("pairs_gamma",))

    # CC's round cuts are read only while the clusters stage is
    # written; its read-back replaces them, so the namespace is freed as
    # soon as the stage returns. A resumed stage opens none (the
    # materializer binds its namespace at its first cut).
    cc_mat = ckpt.materializer()
    try:
        labels = ckpt.stage(
            "clusters",
            lambda: cluster.connected_components(
                matched.select("a_rec_id", "b_rec_id"),
                records.select(F.col("rec_id").alias("id")),
                materializer=cc_mat,
            ),
            inputs=("matched_pairs",),
        )
    finally:
        cc_mat.close()

    entities = labels.withColumnRenamed("id", "rec_id").join(
        records.select("rec_id", "url"), "rec_id"
    )

    metrics = dict(ckpt.metrics)
    metrics["em_iterations"] = em.iterations
    metrics["em_converged"] = em.converged
    metrics["em_lambda"] = em.lam
    return LinkageResult(
        entities=entities,
        matched_pairs=matched,
        em=em,
        pattern_counts=scored_patterns,
        metrics=metrics,
        checkpoint=ckpt,
    )
