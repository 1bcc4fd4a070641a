"""Round-12 shared-cutpoint cache (``_shared.cached_percentiles``) and
the hier-fit registry-cache generality guard (r11 verdict #6).

The cache serves the exact_percentiles RESULT from the fixture-keyed
``cache.memo`` store as a pure-JVM VALUES LocalRelation — values must be
bit-identical to the direct call, wide results must stay
distributed/uncached, and the literal-frame builder must round-trip
every compared-surface cell type.
"""

import math

import pytest

from bearly_spark import cache
from bearly_spark.registry import _shared


def _quartiles_direct(spark, sf_dir):
    from bearly_spark.operators.aggregate import exact_percentiles
    from bearly_spark.sources.tables import load_table

    return exact_percentiles(
        load_table(spark, sf_dir, "lineitem"),
        ["l_returnflag"], "l_extendedprice", (0.25, 0.50, 0.75),
        names=["p25", "p50", "p75"], scale=2,
    )


def test_cached_percentiles_matches_direct(spark, sf_dir):
    from bearly_spark.sources.tables import load_table

    direct = {
        r["l_returnflag"]: (r["p25"], r["p50"], r["p75"])
        for r in _quartiles_direct(spark, sf_dir).collect()
    }
    cached = _shared.cached_percentiles(
        spark, sf_dir, ["lineitem"], "test-li-quartiles",
        lambda: load_table(spark, sf_dir, "lineitem"),
        ["l_returnflag"], "l_extendedprice", (0.25, 0.50, 0.75),
        names=["p25", "p50", "p75"], scale=2,
    )
    got = {
        r["l_returnflag"]: (r["p25"], r["p50"], r["p75"])
        for r in cached.collect()
    }
    assert got == direct
    # identical column names/types/order as the direct form (the VALUES
    # literal is non-nullable where the window form is nullable — the
    # driver's pandas hasher sees names + dtypes only)
    assert [(f.name, f.dataType) for f in cached.schema.fields] == [
        (f.name, f.dataType)
        for f in _quartiles_direct(spark, sf_dir).schema.fields
    ]


def test_cached_percentiles_serves_from_cache(spark, sf_dir):
    from bearly_spark.sources.tables import load_table

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return load_table(spark, sf_dir, "lineitem")

    args = (
        spark, sf_dir, ["lineitem"], "test-cache-hit", build,
        ["l_returnflag"], "l_extendedprice", (0.25, 0.75),
    )
    first = _shared.cached_percentiles(*args, names=["a", "b"], scale=2)
    second = _shared.cached_percentiles(*args, names=["a", "b"], scale=2)
    assert calls["n"] == 1  # hit: build_df (and the passes) never re-run
    assert sorted(map(tuple, first.collect())) == sorted(
        map(tuple, second.collect())
    )
    # the served frame is a LocalRelation — no PythonRDD scan, so a
    # chained crossJoin of cut frames cannot plan a 32^3 cartesian
    assert "LocalRelation" in second._jdf.queryExecution().optimizedPlan().toString()


def test_cached_percentiles_wide_result_stays_distributed(
    spark, sf_dir, monkeypatch
):
    from bearly_spark.sources.tables import load_table

    monkeypatch.setattr(_shared, "_PCTL_CACHE_MAX_ROWS", 1)
    load_table(spark, sf_dir, "lineitem")  # its schema entry lands before the snapshot
    before = dict(cache._MEMO)
    res = _shared.cached_percentiles(
        spark, sf_dir, ["lineitem"], "test-too-wide",
        lambda: load_table(spark, sf_dir, "lineitem"),
        ["l_returnflag"], "l_extendedprice", (0.25,), names=["p25"], scale=2,
    )
    # 3 groups > max_rows=1: nothing new cached, values still correct
    assert dict(cache._MEMO) == before
    direct = {
        r["l_returnflag"]: r["p25"]
        for r in _quartiles_direct(spark, sf_dir).select(
            "l_returnflag", "p25"
        ).collect()
    }
    assert {r["l_returnflag"]: r["p25"] for r in res.collect()} == direct


def test_values_frame_roundtrips_compared_surface_cells(spark):
    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StringType, StructField,
        StructType,
    )

    schema = StructType([
        StructField("s", StringType()),
        StructField("d", DoubleType()),
        StructField("n", LongType()),
        StructField("b", BooleanType()),
    ])
    rows = [
        ("it's quoted", 0.1 + 0.2, 2**62, True),
        (None, float("nan"), None, False),
        ("plain", -1.5e-300, -7, None),
    ]
    got = _shared._values_frame(spark, rows, schema)
    assert got.schema == schema
    out = sorted(got.collect(), key=lambda r: str(r["s"]))
    exp = sorted(rows, key=lambda r: str(r[0]))
    for o, e in zip(out, exp):
        assert o["s"] == e[0] and o["n"] == e[2] and o["b"] == e[3]
        if e[1] is not None and math.isnan(e[1]):
            assert math.isnan(o["d"])
        else:
            assert o["d"] == e[1]  # bit-exact double round-trip


def test_values_frame_empty_rows(spark):
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType([StructField("x", DoubleType())])
    got = _shared._values_frame(spark, [], schema)
    assert got.schema == schema and got.count() == 0


def test_hier_fit_cache_guard_keeps_wide_fits_distributed(
    spark, sf_dir, monkeypatch
):
    from bearly_spark.registry import clustering_q
    from bearly_spark.sources.tables import load_table

    monkeypatch.setattr(clustering_q, "_HIER_CACHE_MAX_CELLS", 1)
    emb = load_table(spark, sf_dir, "embeddings")  # its schema entry lands first
    before = dict(cache._MEMO)
    coarse, fine = clustering_q._fitted_hier(emb, sf_dir, "test-guard")
    # k1*k2 = 16 > 1: nothing cached, the fine frame is the operator's
    # own distributed output (not a literal rebuild)
    assert dict(cache._MEMO) == before
    assert fine.count() > 0
