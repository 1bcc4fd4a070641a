"""Focused pins for the round-14 optimization internals. Semantics are
covered by the oracle gate; these pin the edge cases and invariants the
round-14 changes introduced so a refactor cannot silently undo them."""

import pyspark.sql.functions as F

from bearly_spark.operators.quality import standardize


def test_standardize_overflow_falls_back_to_join_form(spark):
    """Values overflowing the decimal(18,2) stats cast NULL the sums
    while _n still counts raw rows; the literal fast path must detect
    that and fall back to the join form, which emits NULL z columns
    (the pre-r13 semantics) instead of raising TypeError (ADVICE r13)."""
    df = spark.createDataFrame(
        [(1, 1e17), (2, 2e17), (3, 3e17)], ["id", "v"]
    )
    out = standardize(df, ["v"]).orderBy("id").collect()
    assert [r["v_z"] for r in out] == [None, None, None]
    # sane inputs still take the literal path and produce real z values
    ok = standardize(
        spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)], ["id", "v"]),
        ["v"],
    )
    zs = [r["v_z"] for r in ok.orderBy("id").collect()]
    assert zs == [-1.0, 0.0, 1.0]
    # and the literal plan has no join (the r13 invariant)
    assert "Join" not in ok._jdf.queryExecution().executedPlan().toString()


def test_graph_round_pin_truncates_lineage_lazily(spark):
    """The rank/label loops MUST truncate lineage every round — an
    un-pinned round-i broadcast subtree re-executes rounds 0..i-1
    (Θ(rounds²) recompute, measured +25-120% at 10x scale) — and the
    pin must be the LAZY localCheckpoint form so no per-round driver
    job launches. Pins both halves: the returned frame's logical plan
    is an RDD scan (truncated), and the source rows are intact."""
    from bearly_spark.operators.graph import _pin_round

    df = spark.range(8).select(
        F.col("id").alias("node"), (F.col("id") * 2).alias("label")
    )
    pinned = _pin_round(df)
    plan = pinned._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan
    assert not pinned._jdf.queryExecution().analyzed().rdd().isCheckpointed()
    assert sorted(r["label"] for r in pinned.collect()) == [
        0, 2, 4, 6, 8, 10, 12, 14
    ]


def test_graph_loop_pins_last_round_eagerly(spark):
    """The rank/label loop skeleton checkpoints its LAST round eagerly,
    so the whole loop has run before the operator releases the
    edge/degree/node frames it persisted: the returned frame reads a
    materialized checkpoint, never the released caches."""
    from bearly_spark.operators.graph import _run_rounds

    out = _run_rounds(
        spark.range(4), 3, lambda df: df.select((F.col("id") + 1).alias("id"))
    )
    assert out._jdf.queryExecution().analyzed().rdd().isCheckpointed()
    assert sorted(r["id"] for r in out.collect()) == [3, 4, 5, 6]


def test_label_propagation_many_rounds_stays_exact(spark):
    """Ten rounds through the lazily-pinned loop on a barbell graph:
    the fixed-point labels must match the 4-round result (the graph
    converges in <=2 rounds), proving repeated pins neither drop rows
    nor perturb the deterministic tie-breaks."""
    from bearly_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        ["src", "dst"],
    )
    a = {
        r["node"]: r["community"]
        for r in label_propagation(edges, rounds=4).collect()
    }
    b = {
        r["node"]: r["community"]
        for r in label_propagation(edges, rounds=10).collect()
    }
    assert a == b and set(a) == {1, 2, 3, 10, 11, 12}


def test_make_big_sf_int32_keys_stay_disjoint(spark, tmp_path, monkeypatch):
    """The 10x fixture builder shifts replica keys by a 1e8 stride: a
    fixture storing keys as int32 must not wrap at factor >= 23
    (ADVICE r14), so shifted keys are always cast to long."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "make_big_sf", Path(__file__).resolve().parent.parent / "tools" / "make_big_sf.py"
    )
    mbs = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mbs)
    monkeypatch.setattr(mbs, "_SHIFTS", {"orders": {"o_orderkey": 100_000_000}})
    monkeypatch.setattr(mbs, "_COPY_ONLY", [])
    src, out = tmp_path / "src", tmp_path / "out"
    spark.createDataFrame([(1,), (2,), (3,)], "o_orderkey int").write.parquet(
        str(src / "orders.parquet")
    )
    mbs.build(spark, 23, str(src), str(out))
    big = spark.read.parquet(str(out / "orders.parquet"))
    assert big.schema["o_orderkey"].dataType.simpleString() == "bigint"
    keys = sorted(r[0] for r in big.collect())
    assert keys == sorted(i * 100_000_000 + k for i in range(23) for k in (1, 2, 3))
