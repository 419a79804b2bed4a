"""Two-table linkage (fastLink(dfA, dfB) mode) on the samplematch
analogue (persons_a/persons_b, FIXTURES.md §3): recover the ~50 injected
true links with high F1 — mirroring the reference's packaged-example
test pattern (SURVEY.md §5.1)."""

from pyspark.sql import functions as F

from fastlink_spark.operators.gammas import FieldSpec
from fastlink_spark.plans.link_two import get_matches, link_records
from fastlink_spark.sources.fixtures import generate_persons


def test_persons_linkage(spark):
    a_pdf, b_pdf, links = generate_persons()
    df_a = spark.createDataFrame(a_pdf)
    df_b = spark.createDataFrame(b_pdf)
    fields = [
        FieldSpec("firstname", "string"),
        FieldSpec("middlename", "string"),
        FieldSpec("lastname", "string"),
        FieldSpec("housenum", "numeric", cut_full=0.5),
        FieldSpec("streetname", "string"),
        FieldSpec("birthyear", "numeric", cut_full=0.5, cut_partial=1.5),
    ]
    res = link_records(
        spark, df_a, df_b, fields, id_col="pid", block_cols=["city"], threshold=0.85
    )
    got = {(r["a_pid"], r["b_pid"]) for r in res.matched_pairs.collect()}
    truth = {(int(r.pid_a), int(r.pid_b)) for _, r in links.iterrows()}
    tp = len(got & truth)
    prec = tp / max(len(got), 1)
    rec = tp / len(truth)
    f1 = 2 * prec * rec / max(prec + rec, 1e-9)
    assert f1 >= 0.90, {"precision": prec, "recall": rec, "tp": tp, "got": len(got)}
    assert res.em.converged

    # 1:1 mode yields injective matching
    res2 = link_records(
        spark, df_a, df_b, fields, id_col="pid", block_cols=["city"], one_to_one=True
    )
    rows = res2.matched_pairs.collect()
    assert len({r["a_pid"] for r in rows}) == len(rows)
    assert len({r["b_pid"] for r in rows}) == len(rows)

    # getMatches materializes full rows
    mat = get_matches(df_a, df_b, res, "pid")
    assert "a_firstname" in mat.columns and "b_lastname" in mat.columns
    assert mat.count() == len(got)
    _ = F


def test_link_records_one_slim_cut(spark, monkeypatch):
    """Two-table linkage cuts lineage once, after scoring, and writes
    only what pattern_counts and matched_from_zeta read: the ids and
    gamma_* (no pair cut, no compared strings)."""
    from fastlink_spark.plans import link_two

    cuts = []

    def recording(materializer):
        def cut(df, name=""):
            cuts.append((name, df.columns))
            return df
        return cut

    monkeypatch.setattr(link_two, "_resolve_mat", recording)
    a_pdf, b_pdf, _ = generate_persons()
    fields = [FieldSpec("firstname", "string"), FieldSpec("lastname", "string")]
    res = link_records(
        spark, spark.createDataFrame(a_pdf), spark.createDataFrame(b_pdf), fields,
        id_col="pid", block_cols=["city"],
    )
    assert res.matched_pairs.count() > 0
    assert cuts == [
        ("link_two_scored", ["a_pid", "b_pid", "gamma_firstname", "gamma_lastname"])
    ]
