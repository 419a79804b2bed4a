"""Driver-memory default of get_spark (fastlink_spark/session.py)."""

import os

from fastlink_spark import session


def test_default_driver_mem_is_half_of_ram_capped(monkeypatch):
    page = 4096

    def sysconf(total_bytes):
        sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": total_bytes // page}
        return lambda name: sizes[name]

    monkeypatch.setattr(os, "sysconf", sysconf(15 * 2**30))
    assert session._default_driver_mem() == f"{15 * 1024 // 2}m"
    monkeypatch.setattr(os, "sysconf", sysconf(256 * 2**30))
    assert session._default_driver_mem() == f"{24 * 1024}m"


# ------------------------- literal frames built in Python (session.local_frame)

def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_local_frame_is_jvm_local_relation(spark):
    """Literal frames are LocalRelations (no Python RDD, so no second
    pyspark.daemon), typed exactly by the DDL, NULLs and wide longs kept."""
    rows = [(2**62 + 1, 3), (5, None)]
    df = session.local_frame(spark, rows, "cluster_id long, __to long")
    assert "LocalRelation" in _plan(df) and "LogicalRDD" not in _plan(df)
    assert df.dtypes == [("cluster_id", "bigint"), ("__to", "bigint")]
    assert [tuple(r) for r in df.collect()] == rows

    s = session.local_frame(spark, {"a": "b"}.items(), "cluster_id string, __to string")
    assert s.dtypes == [("cluster_id", "string"), ("__to", "string")]
    assert [tuple(r) for r in s.collect()] == [("a", "b")]

    c = session.local_frame(
        spark, [(1, [0.1, 1e-300]), (2, None)], "cell bigint, cvec array<double>"
    )
    assert c.dtypes == [("cell", "bigint"), ("cvec", "array<double>")]
    assert [tuple(r) for r in c.collect()] == [(1, [0.1, 1e-300]), (2, None)]

    empty = session.local_frame(spark, [], "__pid int, __off long")
    assert "LocalRelation" in _plan(empty)
    assert empty.dtypes == [("__pid", "int"), ("__off", "bigint")]
    assert empty.collect() == []


def test_zeta_pattern_df_is_local_relation_bit_identical(spark):
    """zeta_pattern_df keeps NULL gamma levels NULL, the int/double
    types and every zeta bit, and builds no Python RDD."""
    import pandas as pd

    from fastlink_spark.plans.pipeline import zeta_pattern_df

    zetas = [0.1 + 0.2, 1 - 2**-53, 5e-324, 0.0]
    patt = pd.DataFrame(
        {
            # toPandas() shape of pattern_counts: NULL levels -> NaN floats
            "gamma_a": [2.0, float("nan"), 0.0, 1.0],
            "gamma_b": [0.0, 1.0, float("nan"), float("nan")],
            "cnt": [5, 6, 7, 8],
            "zeta": zetas,
        }
    )
    zdf = zeta_pattern_df(spark, patt, ["gamma_a", "gamma_b"])
    assert "LocalRelation" in _plan(zdf) and "LogicalRDD" not in _plan(zdf)
    assert zdf.dtypes == [("gamma_a", "int"), ("gamma_b", "int"), ("zeta", "double")]
    got = [tuple(r) for r in zdf.collect()]
    assert [g[:2] for g in got] == [(2, 0), (None, 1), (0, None), (1, None)]
    assert [g[2].hex() for g in got] == [z.hex() for z in zetas]
