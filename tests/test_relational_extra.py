"""Planted-fixture tests for the temporal joins, approx aggregates, and
non-parquet scan round trips added on top of the core relational surface."""

import pyspark.sql.functions as F
import pytest

from bearly_spark.operators import relational as R
from bearly_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def ticks_and_quotes(spark):
    """Classic as-of fixture: trades must pick the latest quote <= trade ts."""
    quotes = spark.createDataFrame(
        [
            (1, 10, 100, 9.9),
            (1, 20, 101, 10.1),
            (1, 20, 102, 10.2),  # tie on ts: greater quote_id must win
            (1, 50, 103, 10.5),
            (2, 30, 200, 55.0),
        ],
        ["sym", "ts", "quote_id", "px"],
    )
    trades = spark.createDataFrame(
        [
            (1, 5, 1000),   # before any quote -> NULL match
            (1, 20, 1001),  # exactly at quote time -> quote 102 (<= semantics, tie max id)
            (1, 35, 1002),  # between -> quote 102
            (1, 60, 1003),  # after all -> quote 103
            (2, 30, 2000),  # exact hit other key -> quote 200
            (3, 40, 3000),  # key with no quotes -> NULL
        ],
        ["sym", "ts", "trade_id"],
    )
    return trades, quotes


def test_asof_join_planted(spark, ticks_and_quotes):
    trades, quotes = ticks_and_quotes
    out = R.asof_join(
        trades, quotes, key="sym", left_ts="ts", right_ts="ts",
        value_cols=["quote_id", "px"], tie_cols=["quote_id"],
    )
    got = {r.trade_id: r.asof_quote_id for r in out.collect()}
    assert got == {1000: None, 1001: 102, 1002: 102, 1003: 103, 2000: 200, 3000: None}


def test_asof_join_carries_consistent_value_struct(spark, ticks_and_quotes):
    trades, quotes = ticks_and_quotes
    out = R.asof_join(
        trades, quotes, key="sym", left_ts="ts", right_ts="ts",
        value_cols=["quote_id", "px"], tie_cols=["quote_id"],
    ).filter(F.col("asof_quote_id").isNotNull())
    px_by_quote = {100: 9.9, 101: 10.1, 102: 10.2, 103: 10.5, 200: 55.0}
    for r in out.collect():
        assert r.asof_px == px_by_quote[r.asof_quote_id]


def test_interval_join_planted(spark):
    left = spark.createDataFrame([(1, 100, "a"), (1, 200, "b")], ["k", "ts", "tag"])
    right = spark.createDataFrame(
        [(1, 100, "x0"), (1, 150, "x1"), (1, 161, "x2"), (2, 120, "y")],
        ["k", "ts", "ev"],
    )
    out = R.interval_join(left, right, key="k", left_ts="ts", right_ts="ts",
                          lower_offset=0, upper_offset=60)
    pairs = {(r["tag"], r["ev"]) for r in out.select("l.tag", "r.ev").collect()}
    # strictly-after lower bound (ts > 100), inclusive upper (ts <= 160)
    assert pairs == {("a", "x1")}


def test_approx_count_distinct_error_bound(spark, sf_dir):
    od = load_table(spark, sf_dir, "orders")
    row = od.agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
        F.countDistinct("o_custkey").alias("exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.05


def test_csv_json_round_trips_preserve_values(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    p_csv = str(tmp_path / "nation_csv")
    nation.write.mode("overwrite").option("header", True).csv(p_csv)
    back = spark.read.schema("n_nationkey int, n_name string, n_regionkey int").option(
        "header", True
    ).csv(p_csv)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))

    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    p_json = str(tmp_path / "orders_json")
    od.write.mode("overwrite").json(p_json)
    back_j = spark.read.schema("o_orderkey long, o_totalprice double").json(p_json)
    assert back_j.count() == od.count()
    assert back_j.agg(F.round(F.sum("o_totalprice"), 2).alias("s")).collect()[0].s == \
        od.agg(F.round(F.sum("o_totalprice"), 2).alias("s")).collect()[0].s


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Salting must be a pure execution-strategy change — result identical
    to the plain equi join."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    plain = li.join(part, "l_partkey")
    salted = R.salted_join(li, part, on="l_partkey", salt=8)
    assert sorted(map(tuple, salted.select("l_partkey", "l_orderkey", "p_brand").collect())) == \
        sorted(map(tuple, plain.select("l_partkey", "l_orderkey", "p_brand").collect()))


@pytest.mark.parametrize("how", ["inner", "left", "right", "full"])
def test_salted_join_all_modes_match_plain_join(spark, how):
    """All four salted modes must be pure execution-strategy changes.
    Fixture engineered so every interesting case exists: a hot key (skew),
    big-side-only keys (left/full null-extension), small-side-only keys
    (right/full null-extension), and a key matched under only some salts
    (the spurious-replicate trap the composition must not fall into)."""
    big = spark.createDataFrame(
        [(1, i) for i in range(500)]      # hot key
        + [(2, 900), (3, 901)]            # matched keys with 1 row each
        + [(4, 902)],                     # big-side-only key
        "k long, b long",
    )
    small = spark.createDataFrame(
        [(1, "hot"), (2, "two"), (3, "three"), (5, "small_only"), (5, "small_dup")],
        "k long, s string",
    )
    plain = big.join(small, "k", how)
    salted = R.salted_join(big, small, on="k", how=how, salt=16)
    assert sorted(map(tuple, salted.select("k", "b", "s").collect())) == \
        sorted(map(tuple, plain.select("k", "b", "s").collect()))


def test_connector_wrappers_validate_args(spark):
    """No DB/broker in this container — pin the argument contracts and the
    clean failure mode for the missing Kafka package."""
    from bearly_spark.sources.connectors import jdbc_read, kafka_stream

    with pytest.raises(ValueError, match="lower_bound"):
        jdbc_read(spark, "jdbc:postgresql://h/db", "t", partition_column="id")

    with pytest.raises(Exception) as ei:
        kafka_stream(spark, "localhost:9092", "events").printSchema()
    assert "kafka" in str(ei.value).lower()


def test_approx_percentile_accuracy(spark, sf_dir):
    """approx_percentile with accuracy=10000 must rank-match the exact
    percentile within the sketch's rank-error bound (~1/accuracy ~ 1e-4
    of rows; allow 1% of the group as slack on the discrete rank)."""
    import pyspark.sql.functions as F

    from bearly_spark.registry import QUERIES
    from bearly_spark.sources.tables import load_table

    got = {
        r.l_returnflag: (r.approx_p50, r.approx_p95)
        for r in QUERIES["approx_percentile_lineitem"](spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    for flag, (p50, p95) in got.items():
        vals = sorted(
            r.l_extendedprice
            for r in li.filter(F.col("l_returnflag") == flag).collect()
        )
        n = len(vals)
        slack = max(2, n // 100)
        import bisect

        for q, v in ((0.5, p50), (0.95, p95)):
            rank = bisect.bisect_left(vals, v)
            assert abs(rank - q * n) <= slack, (flag, q, v, rank, q * n)


def test_foreach_batch_sink_accumulates_all_rows(spark, sf_dir, tmp_path):
    """foreachBatch: the arbitrary-sink escape hatch — each microbatch is
    handed to plain batch code (here: parquet append tagged with the batch
    id); after availableNow drains, the sink holds every source row
    exactly once."""
    import shutil

    import pyspark.sql.functions as F

    from bearly_spark.streaming import events_stream

    src = tmp_path / "fb_src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "events.parquet")
    out = str(tmp_path / "fb_out")

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out)

    q = (
        events_stream(spark, str(src))
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "fb_ck"))
        .start()
    )
    q.awaitTermination(300)
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    written = spark.read.parquet(out)
    assert written.count() == n_src
    assert written.select("event_id").distinct().count() == n_src


def test_join_strategy_hints_control_physical_plan(spark, sf_dir):
    """Join-strategy hints must reach the physical plan: broadcast() ->
    BroadcastHashJoin, hint('shuffle_hash') -> ShuffledHashJoin,
    hint('merge') -> SortMergeJoin — the knobs that let a 100 TB job pin
    the right strategy when stats mislead the optimizer."""
    import pyspark.sql.functions as F

    from bearly_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in plan(o.join(F.broadcast(c), o.o_custkey == c.c_custkey))
    assert "ShuffledHashJoin" in plan(
        o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
    )
    assert "SortMergeJoin" in plan(o.join(c.hint("merge"), o.o_custkey == c.c_custkey))


def test_aqe_coalesces_shuffle_partitions(spark, sf_dir):
    """AQE must shrink the static shuffle width for small data: after
    materialization the final plan's shuffle read coalesces to fewer
    partitions than spark.sql.shuffle.partitions (the runtime re-plan that
    keeps small intermediate stages from fanning into thousands of tiny
    tasks at scale)."""
    import pyspark.sql.functions as F

    from bearly_spark.sources.tables import load_table

    static = int(spark.conf.get("spark.sql.shuffle.partitions"))
    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    agg.collect()  # materialize so AQE finalizes the plan
    final = agg._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead coalesced" in final, final[:500]
    assert agg.rdd.getNumPartitions() < static


def test_json_corrupt_record_modes(spark, tmp_path):
    """Malformed-input contract for JSON ingestion: PERMISSIVE captures the
    bad line in _corrupt_record (good rows survive), DROPMALFORMED drops
    it, FAILFAST raises — the data-quality triage every 100 TB ingest
    needs to choose deliberately."""
    import pytest

    p = tmp_path / "events.jsonl"
    p.write_text(
        '{"event_id": 1, "value": 1.5}\n'
        "{BROKEN not json}\n"
        '{"event_id": 3, "value": 3.5}\n'
    )
    schema = "event_id long, value double, _corrupt_record string"

    permissive = spark.read.schema(schema).json(str(p)).cache()
    assert permissive.count() == 3
    bad = permissive.filter("_corrupt_record IS NOT NULL").collect()
    assert len(bad) == 1 and "BROKEN" in bad[0]._corrupt_record
    assert permissive.filter("event_id IS NOT NULL").count() == 2
    permissive.unpersist()

    dropped = (
        spark.read.schema("event_id long, value double")
        .option("mode", "DROPMALFORMED")
        .json(str(p))
    )
    assert [r.event_id for r in dropped.orderBy("event_id").collect()] == [1, 3]

    with pytest.raises(Exception):
        spark.read.schema("event_id long, value double").option(
            "mode", "FAILFAST"
        ).json(str(p)).collect()


def test_hll_rollup_estimates_match_exact_distinct(spark, sf_dir):
    """The daily HLL estimate (unioned from hourly sketches, lgK=14) must
    track the exact daily distinct user count within 2% — the accuracy
    contract that makes sketch rollups usable in place of
    COUNT(DISTINCT)."""
    import pyspark.sql.functions as F

    from bearly_spark.registry import QUERIES
    from bearly_spark.sources.tables import load_table

    got = {
        (r.event_type, r.day_sec): r.approx_users
        for r in QUERIES["events_hll_rollup"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    day_sec = (
        ((F.col("ts") / F.lit(1_000_000_000)).cast("long") / 86400).cast("long") * 86400
    )
    exact = {
        (r.event_type, r.day_sec): r.n
        for r in ev.groupBy("event_type", day_sec.alias("day_sec"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for key, est in got.items():
        assert abs(est - exact[key]) <= max(2, 0.02 * exact[key]), (key, est, exact[key])


def test_python_datasource_synthetic_docs(spark):
    """Spark 4 Python DataSource API: the registered generator source must
    (a) parallelize into its declared partitions, (b) produce identical
    rows across repeated reads (deterministic per-row seeding — safe under
    task retries), and (c) compose with ordinary DataFrame ops."""
    from bearly_spark.sources.pydatasource import register

    register(spark)
    df = spark.read.format("synthetic_docs").option("n_rows", 500).option("n_parts", 4).load()
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 500

    a = sorted(tuple(r) for r in df.collect())
    b = sorted(
        tuple(r)
        for r in spark.read.format("synthetic_docs")
        .option("n_rows", 500)
        .option("n_parts", 4)
        .load()
        .collect()
    )
    assert a == b
    assert {r.doc_id for r in df.select("doc_id").collect()} == set(range(500))

    import pyspark.sql.functions as F

    stats = df.agg(F.min("n_words"), F.max("n_words")).collect()[0]
    assert 10 <= stats[0] and stats[1] <= 60


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """AQE runtime bloom-filter injection (on by default in Spark 4): a
    selective dimension filter gets turned into a bloom filter applied on
    the FACT side's scan, pruning shuffle input before the join — a
    headline 100 TB feature (the fixture is below the default size
    thresholds, so they're lowered to exercise the path; production
    defaults only engage at real scale)."""
    import pyspark.sql.functions as F

    from bearly_spark.sources.tables import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        od = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(od, li.l_orderkey == od.o_orderkey).groupBy(
            "o_orderstatus"
        ).count()
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan or "BloomFilter" in plan, plan[:2000]
        # and it still computes the right thing
        got = {r.o_orderstatus: r["count"] for r in joined.collect()}
        import duckdb

        want = dict(
            duckdb.sql(
                f"""SELECT o_orderstatus, COUNT(*) FROM '{sf_dir}/lineitem.parquet' l
                JOIN '{sf_dir}/orders.parquet' o ON l.l_orderkey = o.o_orderkey
                WHERE o_orderpriority = '1-URGENT' GROUP BY 1"""
            ).fetchall()
        )
        assert got == want
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scd2_apply_edge_semantics(spark):
    """SCD2 apply: changed key versions; identical-attr change is a
    no-op; out-of-order (stale) change dropped; new key inserted;
    duplicate change rows for one key collapse to the latest."""
    import datetime as dt

    from bearly_spark.operators.maintenance import scd2_apply

    d = dt.date
    hist = spark.createDataFrame(
        [
            (1, "a", d(2000, 1, 1), None),
            (2, "b", d(2000, 1, 1), None),
            (3, "c0", d(2000, 1, 1), d(2001, 1, 1)),  # closed historical row
            (3, "c", d(2001, 1, 1), None),
            (4, "d", d(2005, 1, 1), None),
        ],
        "k long, attr string, valid_from date, valid_to date",
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", d(2002, 1, 1)),  # real change
            (1, "a1", d(2001, 1, 1)),  # older duplicate -> collapsed away
            (2, "b", d(2002, 1, 1)),  # identical attrs -> no-op
            (3, "c2", d(2002, 1, 1)),  # change on a key with history
            (4, "d2", d(2004, 1, 1)),  # STALE: before current valid_from
            (9, "new", d(2002, 1, 1)),  # brand-new key
        ],
        "k long, attr string, change_ts date",
    )
    out = scd2_apply(hist, changes, ["k"], ["attr"])
    got = sorted(tuple(r) for r in out.collect())
    assert got == sorted(
        [
            (1, "a", d(2000, 1, 1), d(2002, 1, 1)),
            (1, "a2", d(2002, 1, 1), None),
            (2, "b", d(2000, 1, 1), None),
            (3, "c0", d(2000, 1, 1), d(2001, 1, 1)),
            (3, "c", d(2001, 1, 1), d(2002, 1, 1)),
            (3, "c2", d(2002, 1, 1), None),
            (4, "d", d(2005, 1, 1), None),
            (9, "new", d(2002, 1, 1), None),
        ]
    )
    # exactly one current row per live key, and re-applying the same
    # batch is a no-op (every change now matches current state or is stale)
    assert out.filter(F.col("valid_to").isNull()).count() == 5
    again = scd2_apply(out, changes, ["k"], ["attr"])
    assert sorted(tuple(r) for r in again.collect()) == got


def test_expectations_report_edge_semantics(spark):
    """DQ expectations: NULL predicate results count as violations
    (unevaluable expectation = failed); unique counts surplus rows
    only; FK ignores null child keys; composite FK keys work; empty
    rule set yields an empty report."""
    from bearly_spark.operators.quality import expectations_report

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (1, None, "a"), (2, -3.0, None), (3, 5.0, "z")],
        "k long, v double, fk string",
    )
    dim = spark.createDataFrame([("a",), ("b",)], "d string")
    rep = {
        r["rule"]: r["violations"]
        for r in expectations_report(
            df,
            row_rules={"v_nonneg": ~(F.col("v") >= 0)},  # NULL v -> violation
            unique_keys={"k_unique": ["k"]},
            foreign_keys={"fk_in_dim": (["fk"], dim, ["d"])},
        ).collect()
    }
    assert rep == {"v_nonneg": 2, "k_unique": 1, "fk_in_dim": 1}

    assert expectations_report(df, row_rules={}).count() == 0

    dim2 = spark.createDataFrame([(1, "a")], "x long, y string")
    child = spark.createDataFrame(
        [(1, "a"), (1, "b"), (None, "a")], "x long, y string"
    )
    rep2 = expectations_report(
        child, row_rules={}, foreign_keys={"comp": (["x", "y"], dim2, ["x", "y"])}
    ).collect()
    assert [(r["rule"], r["violations"]) for r in rep2] == [("comp", 1)]


def _star_edges(spark):
    """Symmetrized star: hub 0, leaves 1..4."""
    star = [(0, i) for i in range(1, 5)]
    return spark.createDataFrame(star + [(b, a) for a, b in star], "src long, dst long")


def test_pagerank_star_graph_semantics(spark):
    """PageRank on a symmetrized star (hub 0 — leaves 1..4): the hub
    must strictly dominate, leaves tie exactly; ranks sum to ~1; a
    second run is identical (determinism contract)."""
    from bearly_spark.operators.graph import pagerank

    edges = _star_edges(spark)
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=3).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    leaves = {got[i] for i in range(1, 5)}
    assert len(leaves) == 1  # exact tie
    assert got[0] > next(iter(leaves))
    assert abs(sum(got.values()) - 1.0) < 1e-6
    again = {r["node"]: r["rank"] for r in pagerank(edges, iterations=3).collect()}
    assert again == got


def test_pagerank_keeps_source_only_nodes(spark):
    """Non-symmetric graph: a node with out-edges but no in-edges must
    stay in the rank vector at base rank and keep contributing to its
    targets through every iteration (review catch, round 6: grouping
    only the contribution stream dropped it after iteration 1)."""
    from bearly_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 1)], "src long, dst long"
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=3).collect()}
    assert set(got) == {1, 2, 3}
    base = round((1.0 - 0.85) / 3, 10)
    assert got[3] == base  # no in-edges: exactly the damping base
    # node 1 receives from BOTH 2 and 3 every iteration -> strictly
    # more rank than 2, which receives only from 1
    assert got[1] > got[2] > got[3]


def test_triangle_counts_semantics(spark):
    """Dirty input tolerated (dups, self-loops, both orientations);
    K4 gives every node 3 triangles; a pendant node and a hub with no
    closing edges (star) give none; empty graph -> empty output."""
    from bearly_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        # K4 on {1,2,3,4}, dirty: reversed dup, self-loop, exact dup;
        # pendant 5; plus a 3-leaf star at 10 (wedges but no triangles)
        [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5),
         (3, 3), (1, 2), (10, 11), (10, 12), (10, 13)],
        "src long, dst long",
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    empty = spark.createDataFrame([], "src long, dst long")
    assert triangle_counts(empty).count() == 0


def test_interpolate_linear_edge_semantics(spark):
    """Leading/trailing gaps stay NULL (no extrapolation); interior
    gaps interpolate on the time axis (not row index); non-null rows
    pass through; an all-null key yields all NULLs."""
    import pyspark.sql.functions as F

    from bearly_spark.operators.windows import interpolate_linear

    rows = [
        # key a: t=0 null (leading), t=10 v=1.0, t=20 null, t=40 v=4.0,
        # t=50 null (trailing) -> t=20 interpolates to 1 + 3*(10/30) = 2.0
        ("a", 0, None), ("a", 10, 1.0), ("a", 20, None), ("a", 40, 4.0), ("a", 50, None),
        ("b", 0, None), ("b", 5, None),  # all-null key
    ]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    out = interpolate_linear(
        df, ["k"], [F.asc("t")], F.col("t"), F.col("v"), "vi"
    )
    got = {(r["k"], r["t"]): r["vi"] for r in out.collect()}
    assert got[("a", 0)] is None and got[("a", 50)] is None
    assert got[("a", 10)] == 1.0 and got[("a", 40)] == 4.0
    assert got[("a", 20)] == 2.0
    assert got[("b", 0)] is None and got[("b", 5)] is None


def test_equi_depth_histogram_depth_and_ties(spark):
    """Distinct values spread ~evenly across buckets; heavy duplicate
    values collapse into ONE bucket (ties never split)."""
    import pyspark.sql.functions as F

    from bearly_spark.operators.aggregate import equi_depth_histogram

    # 80 distinct values 1..80 -> 8 buckets of ~10 rows each
    df = spark.range(1, 81).select(F.col("id").cast("double").alias("x"))
    got = {r["bucket"]: r["n"] for r in equi_depth_histogram(df, "x", 8).collect()}
    assert len(got) == 8 and sum(got.values()) == 80
    assert all(6 <= n <= 14 for n in got.values()), got

    # 100 copies of one value + 10 distinct: the duplicate mass lands in
    # exactly one bucket
    dup = spark.range(100).select(F.lit(5.0).alias("x")).unionAll(
        spark.range(90, 100).select(F.col("id").cast("double").alias("x"))
    )
    rows = equi_depth_histogram(dup, "x", 4).collect()
    heavy = [r for r in rows if r["min_v"] <= 5.0 <= r["max_v"]]
    assert len(heavy) == 1 and heavy[0]["n"] == 100


def test_scd2_temporal_join_boundaries(spark):
    """Fact ts exactly at valid_from joins the NEW version (closed
    lower bound); ts just before joins the old (open upper bound);
    open-ended current version catches late facts; inner drops
    unmatched keys, left keeps them with NULL attrs; fact columns
    pass through."""
    from bearly_spark.operators.maintenance import scd2_temporal_join

    hist = spark.createDataFrame(
        [
            (1, "v1", "2020-01-01", "2021-01-01"),
            (1, "v2", "2021-01-01", None),
            (2, "w1", "2020-01-01", None),
        ],
        "k long, attr string, valid_from string, valid_to string",
    ).selectExpr(
        "k", "attr", "CAST(valid_from AS DATE) valid_from",
        "CAST(valid_to AS DATE) valid_to"
    )
    fact = spark.createDataFrame(
        [
            (100, 1, "2020-12-31"),  # last day of v1
            (101, 1, "2021-01-01"),  # boundary -> v2
            (102, 1, "2025-06-01"),  # open-ended current
            (103, 3, "2020-06-01"),  # no dim key
        ],
        "fid long, k long, ts string",
    ).selectExpr("fid", "k", "CAST(ts AS DATE) ts")

    got = {
        r["fid"]: r["attr"]
        for r in scd2_temporal_join(fact, hist, ["k"], "ts").collect()
    }
    assert got == {100: "v1", 101: "v2", 102: "v2"}

    left = {
        r["fid"]: r["attr"]
        for r in scd2_temporal_join(fact, hist, ["k"], "ts", how="left").collect()
    }
    assert left == {100: "v1", 101: "v2", 102: "v2", 103: None}


def test_local_clustering_coefficients(spark):
    """K3 nodes score 1.0; a hub whose neighbors are unconnected scores
    by 2T/(deg(deg-1)); pendant (deg 1) nodes report 0.0 and stay in
    the output."""
    from bearly_spark.operators.graph import local_clustering

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {
        r["node"]: (r["n_triangles"], r["deg"], r["coeff"])
        for r in local_clustering(edges).collect()
    }
    assert got[1] == (1, 2, 1.0) and got[2] == (1, 2, 1.0)
    assert got[3] == (1, 3, round(2 / 6, 6))
    assert got[4] == (0, 1, 0.0)


def test_drift_report_identical_and_shifted(spark):
    """Identical distributions report zero drift in every bucket;
    a planted shift produces positive chi2/tvd mass; a bucket with
    after-mass but zero before-mass carries NULL chi2 (undefined)
    and nonzero tvd."""
    from bearly_spark.operators.quality import drift_report

    base = spark.range(1, 101).selectExpr("CAST(id AS DOUBLE) AS v")
    same = drift_report(base, base, "v", buckets=4).collect()
    assert all(r["chi2_term"] == 0.0 and r["tvd_term"] == 0.0 for r in same)
    assert sum(r["p_before"] for r in same) == 1.0

    shifted = spark.range(1, 101).selectExpr("CAST(id * 3 AS DOUBLE) AS v")
    drift = drift_report(base, shifted, "v", buckets=4).collect()
    assert sum(r["tvd_term"] for r in drift) > 0.3
    # everything above the before-max lands in the top bucket: chi2
    # defined everywhere here (before has mass in all 4)
    assert all(r["chi2_term"] is not None for r in drift)


def test_iqr_outlier_report_planted_and_constant(spark):
    """A planted far point is counted on the right side of the fence;
    a constant-valued group has IQR 0 and zero outliers."""
    from bearly_spark.operators.quality import iqr_outlier_report

    rows = [("a", float(x)) for x in range(1, 101)] + [
        ("a", 10000.0),  # planted high outlier
        ("a", -10000.0),  # planted low outlier
    ] + [("b", 7.0)] * 10
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["g"]: r for r in iqr_outlier_report(df, ["g"], "v").collect()}
    assert got["a"]["n_high"] == 1 and got["a"]["n_low"] == 1
    assert got["a"]["n"] == 102
    assert got["b"]["n_low"] == 0 and got["b"]["n_high"] == 0
    assert got["b"]["lo_fence"] == 7.0 and got["b"]["hi_fence"] == 7.0


def test_null_exclusion_across_percentile_family(spark):
    """NULLs in the monitored column are excluded everywhere the
    rank-window percentile path feeds (review catch, round 6):
    exact_percentiles matches quantile_cont (nulls ignored), the
    equi-depth histogram buckets only non-null mass, the IQR report
    still catches a planted outlier with NULLs present, and a batch
    that only adds NULLs reports zero drift."""
    import pyspark.sql.functions as F

    from bearly_spark.operators.aggregate import (
        equi_depth_histogram,
        exact_percentiles,
    )
    from bearly_spark.operators.quality import drift_report, iqr_outlier_report

    vals = [(float(x),) for x in range(1, 101)]
    with_nulls = spark.createDataFrame(
        vals + [(None,)] * 60, "v double"
    )
    clean = spark.createDataFrame(vals, "v double")

    p_n = exact_percentiles(with_nulls, [], "v", (0.5,), names=["p50"]).collect()[0]
    p_c = exact_percentiles(clean, [], "v", (0.5,), names=["p50"]).collect()[0]
    assert p_n["p50"] == p_c["p50"] == 50.5

    hist = equi_depth_histogram(with_nulls, "v", 4).collect()
    assert sum(r["n"] for r in hist) == 100  # NULL rows not bucketed

    outl = spark.createDataFrame(
        [("a", float(x)) for x in range(1, 101)]
        + [("a", 10000.0)] + [("a", None)] * 60,
        "g string, v double",
    )
    rep = iqr_outlier_report(outl, ["g"], "v").collect()[0]
    assert rep["n_high"] == 1 and rep["n"] == 101  # fence real, NULLs excluded

    drift = drift_report(clean, with_nulls, "v", buckets=4).collect()
    assert all(r["tvd_term"] == 0.0 for r in drift)  # only-NULLs-added: no drift


def test_max_cosine_vs_set_empty_eval_raises(spark):
    """An eval filter matching nothing raises a clear ValueError at
    kernel build (batch AND stream start) instead of an opaque numpy
    axis error mid-job."""
    import pytest as _pytest

    from bearly_spark.operators.similarity import max_cosine_vs_set

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    empty = corpus.filter("vec_id < 0")
    with _pytest.raises(ValueError, match="eval_set is empty"):
        max_cosine_vs_set(corpus, empty)


def test_table_checksum_order_independent_and_sensitive(spark):
    """Same rows in any partitioning/order give the same checksum; one
    changed row changes it; n_rows rides along."""
    import pyspark.sql.functions as F

    from bearly_spark.operators.maintenance import table_checksum

    df = spark.range(1, 1001).select(
        F.col("id"), (F.col("id") * 7 % 13).alias("v")
    )
    canon = F.concat_ws("|", F.col("id"), F.col("v"))
    a = table_checksum(df, canon).collect()[0]
    b = table_checksum(df.repartition(17).sortWithinPartitions(F.desc("id")), canon).collect()[0]
    assert a["checksum"] == b["checksum"] and a["n_rows"] == b["n_rows"] == 1000

    changed = df.withColumn(
        "v", F.when(F.col("id") == 500, F.lit(999)).otherwise(F.col("v"))
    )
    c = table_checksum(changed, canon).collect()[0]
    assert c["checksum"] != a["checksum"] and c["n_rows"] == 1000


def test_drift_categorical_semantics(spark):
    """Identical distributions: zero drift everywhere; a vanished
    category keeps chi2 (p>0) while a NEW category reports NULL chi2
    and positive tvd; NULL categories form their own bucket."""
    from bearly_spark.operators.quality import drift_report_categorical

    b = spark.createDataFrame(
        [("x",)] * 6 + [("y",)] * 3 + [(None,)], "c string"
    )
    same = drift_report_categorical(b, b, "c").collect()
    assert all(r["chi2_term"] == 0.0 and r["tvd_term"] == 0.0 for r in same)
    assert {r["category"] for r in same} == {"x", "y", None}

    a = spark.createDataFrame([("x",)] * 5 + [("z",)] * 5, "c string")
    drift = {r["category"]: r for r in drift_report_categorical(b, a, "c").collect()}
    assert drift["z"]["chi2_term"] is None and drift["z"]["tvd_term"] > 0
    assert drift["y"]["q_after"] == 0.0 and drift["y"]["chi2_term"] is not None
    assert drift[None]["q_after"] == 0.0


def test_rolling_zscore_planted(spark):
    """Flat baseline then a spike: spike flagged, first n rows NULL
    (no full lookback), zero-variance baseline reports NULL not inf."""
    import pyspark.sql.functions as F

    from bearly_spark.operators.windows import rolling_zscore

    # days 1..8 alternate 10/12 (variance > 0); day 9 spikes to 100
    vals = [10, 12, 10, 12, 10, 12, 10, 12, 100]
    df = spark.createDataFrame(
        [(i + 1, v) for i, v in enumerate(vals)], "day int, v int"
    ).select("day", F.col("v").cast("decimal(18,2)").alias("v"))
    got = {r["day"]: r for r in rolling_zscore(df, "day", "v", n=4, z_thresh=2.0).collect()}
    assert all(got[d]["z"] is None for d in (1, 2, 3, 4))
    assert got[5]["z"] is not None and not got[5]["is_anomaly"]
    assert got[9]["is_anomaly"]
    import statistics

    base = vals[4:8]
    want = (100 - statistics.mean(base)) / statistics.stdev(base)
    assert abs(float(got[9]["z"]) - want) < 1e-4

    flat = spark.createDataFrame(
        [(i, 5) for i in range(1, 8)], "day int, v int"
    ).select("day", F.col("v").cast("decimal(18,2)").alias("v"))
    fz = rolling_zscore(flat, "day", "v", n=4).collect()
    assert all(r["z"] is None for r in fz)  # zero variance -> no verdict


def test_rolling_zscore_blocked_equals_global_window(spark):
    """The round-10 blocked sliding-window form must be bit-identical
    to a plain global window on the same series — across sizes that
    exercise every block-boundary regime: series shorter than one
    lookback, series smaller than the partition count (empty range
    partitions), block boundaries mid-lookback, and a multi-block
    tail."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from bearly_spark.operators.windows import rolling_zscore

    rng = random.Random(100)
    for size in (1, 3, 7, 8, 9, 40, 257):
        rows = [(i, rng.randint(0, 10_000)) for i in range(size)]
        df = spark.createDataFrame(rows, "day int, v long").select(
            "day", F.col("v").cast("decimal(18,2)").alias("v")
        )
        got = {
            r["day"]: (r["prev_n"], r["z"], r["is_anomaly"])
            for r in rolling_zscore(df, "day", "v", n=7).collect()
        }
        # reference: the single global window (the pre-r10 plan)
        w = Window.orderBy("day").rowsBetween(-7, -1)
        v = F.col("v")
        cnt, s, ss = F.count(v).over(w), F.sum(v).over(w), F.sum(v * v).over(w)
        m = s.cast("double") / cnt
        var = (ss.cast("double") - cnt * m * m) / (cnt - 1)
        z = F.round((v.cast("double") - m) / F.sqrt(var), 6)
        z_ok = F.when((cnt == 7) & (var > 0), z)
        want = {
            r["day"]: (r["prev_n"], r["z"], r["is_anomaly"])
            for r in df.select(
                "day",
                cnt.alias("prev_n"),
                z_ok.alias("z"),
                F.when(z_ok.isNotNull(), F.abs(z_ok) > 2.5).alias("is_anomaly"),
            ).collect()
        }
        assert got == want, f"size={size}"


def test_kaplan_meier_driver_fold_equals_window_fallback(spark):
    """The round-10 driver-side fold and the retained window fallback
    must agree exactly (same integer recurrence, same emission)."""
    import random

    import pyspark.sql.functions as F

    from bearly_spark.operators.windows import _kaplan_meier_window, kaplan_meier

    rng = random.Random(7)
    rows = [(rng.randint(1, 40), rng.randint(0, 1)) for _ in range(500)]
    df = spark.createDataFrame(rows, "dur int, ev int")
    got = sorted(map(tuple, kaplan_meier(df, "dur", "ev").collect()))
    tt = df.groupBy(F.col("dur").cast("long").alias("duration")).agg(
        F.sum(F.col("ev").cast("int")).cast("long").alias("n_events"),
        (F.count(F.lit(1)) - F.sum(F.col("ev").cast("int")))
        .cast("long")
        .alias("n_censored"),
        F.count(F.lit(1)).alias("_n_at"),
    )
    want = sorted(map(tuple, _kaplan_meier_window(tt, df.count()).collect()))
    assert got == want


def test_rolling_active_users_planted(spark):
    """3-day window: WAU(d) counts distinct users over {d-2, d-1, d};
    stickiness = dau/wau; silent days absent."""
    import datetime as dt

    from bearly_spark.operators.windows import rolling_active_users

    d = dt.date
    rows = [
        (d(2024, 1, 1), 1), (d(2024, 1, 1), 2),
        (d(2024, 1, 2), 2), (d(2024, 1, 2), 3),
        # Jan 3 silent
        (d(2024, 1, 4), 1),
    ]
    df = spark.createDataFrame(rows, "day date, user_id int")
    got = {str(r["day"]): r for r in rolling_active_users(df, "user_id", "day", 3).collect()}
    assert set(got) == {"2024-01-01", "2024-01-02", "2024-01-04"}
    assert got["2024-01-01"]["dau"] == 2 and got["2024-01-01"]["wau3"] == 2
    assert got["2024-01-02"]["dau"] == 2 and got["2024-01-02"]["wau3"] == 3
    # Jan 4 window = {Jan 2..4}: users {2,3,1}
    assert got["2024-01-04"]["dau"] == 1 and got["2024-01-04"]["wau3"] == 3
    assert got["2024-01-04"]["stickiness"] == round(1 / 3, 6)


def test_label_propagation_barbell_and_ties(spark):
    """Two 4-cliques bridged by one edge resolve to two communities
    (each clique converges to its min id); deterministic min-label
    tie-break on a symmetric pair."""
    from bearly_spark.operators.graph import label_propagation

    cliq1 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    cliq2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = spark.createDataFrame(
        cliq1 + cliq2 + [(4, 10)], "src long, dst long"
    )
    got = {r["node"]: r["community"] for r in label_propagation(edges, rounds=4).collect()}
    assert {got[n] for n in (1, 2, 3)} == {1}
    assert {got[n] for n in (11, 12, 13)} == {10}

    pair = spark.createDataFrame([(7, 9)], "src long, dst long")
    got2 = {r["node"]: r["community"] for r in label_propagation(pair, rounds=2).collect()}
    # round 1: 7 adopts 9's label, 9 adopts 7's; round 2 swaps back —
    # fixed-round semantics are deterministic either way
    assert set(got2) == {7, 9} and got2[7] in (7, 9)
    again = {r["node"]: r["community"] for r in label_propagation(pair, rounds=2).collect()}
    assert got2 == again


def test_graph_canonical_fast_path_equivalence(spark):
    """``canonical=True`` (the cached-edge-list fast path that skips the
    Θ(|E|) dedup shuffle) returns row-identical results to the default
    path when the input really is canonical (u<v exactly once, no
    loops) — for all four undirected-graph operators."""
    from bearly_spark.operators.graph import (
        bfs_levels,
        label_propagation,
        local_clustering,
        triangle_counts,
    )

    cliq = [(a, b) for a in range(1, 6) for b in range(1, 6) if a < b]
    edges = spark.createDataFrame(cliq + [(5, 8), (8, 9)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")

    for fn, kwargs in [
        (triangle_counts, {}),
        (local_clustering, {}),
        (label_propagation, {"rounds": 3}),
    ]:
        slow = {tuple(r) for r in fn(edges, **kwargs).collect()}
        fast = {tuple(r) for r in fn(edges, canonical=True, **kwargs).collect()}
        assert fast == slow, fn.__name__
    slow = {tuple(r) for r in bfs_levels(edges, seeds, rounds=2).collect()}
    fast = {tuple(r) for r in bfs_levels(edges, seeds, rounds=2, canonical=True).collect()}
    assert fast == slow


def test_winsorize_semantics(spark):
    """Values clamp to the [p01, p99] cutpoints; NULLs pass through
    unclipped with NULL flag; interior values untouched."""
    import pyspark.sql.functions as F

    from bearly_spark.operators.quality import winsorize

    vals = [float(x) for x in range(1, 101)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)] + [(999, None)], "id int, v double"
    )
    got = {r["id"]: r for r in winsorize(df, "v", 0.05, 0.95).collect()}
    # quantile_cont over 1..100: p05 = 5.95, p95 = 95.05 (4dp)
    assert got[0]["v_winsorized"] == 5.95 and got[0]["was_clipped"]
    assert got[99]["v_winsorized"] == 95.05 and got[99]["was_clipped"]
    assert got[49]["v_winsorized"] == 50.0 and not got[49]["was_clipped"]
    assert got[999]["v_winsorized"] is None and got[999]["was_clipped"] is None


def test_bfs_levels_path_and_unreached(spark):
    """Hop distances along a path graph; nodes beyond the round budget
    or disconnected are absent; seed reports dist 0."""
    from bearly_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(1,)], "node int")
    got = {r["node"]: r["dist"] for r in bfs_levels(edges, seeds, rounds=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}
    # two seeds: distances are min over sources
    seeds2 = spark.createDataFrame([(1,), (5,)], "node int")
    got2 = {r["node"]: r["dist"] for r in bfs_levels(edges, seeds2, rounds=3).collect()}
    assert got2 == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_ewma_hand_computed(spark):
    """Horner-fold adjusted EWMA: with α=0.5 over [1,2,4], full history
    gives [1, 5/3, 3]; a span-2 frame forgets the first point at t2
    (→ 10/3); NULL observations are dropped, not zero-filled."""
    from bearly_spark.operators.windows import ewma

    df = spark.createDataFrame(
        [("k", 1, 1.0), ("k", 2, 2.0), ("k", 3, 4.0), ("k", 4, None)],
        "key string, t int, v double",
    )
    full = {r["t"]: r["v_ewma"] for r in ewma(df, ["key"], "t", "v", 0.5, span=3).collect()}
    assert full == {1: 1.0, 2: round(5 / 3, 6), 3: 3.0}
    short = {r["t"]: r["v_ewma"] for r in ewma(df, ["key"], "t", "v", 0.5, span=2).collect()}
    assert short == {1: 1.0, 2: round(5 / 3, 6), 3: round(10 / 3, 6)}


def test_ewma_midpoint_rounding_pinned(spark):
    """6dp rounding-midpoint pin (the round-6 driver failure class): a
    single-row EWMA is the value itself, and 1.0000015 sits exactly on
    a 6dp midpoint where Spark's plain ROUND (shortest-decimal half-up)
    and DuckDB's (binary value, version-dependent) disagree. The
    exact-integer fold rounds it half-up by integral division — pin
    that Spark emits exactly what rational arithmetic says."""
    import math

    from bearly_spark.operators.windows import ewma

    v = 1.0000015
    df = spark.createDataFrame([("k", 1, v)], "key string, t int, v double")
    [row] = ewma(df, ["key"], "t", "v", 0.3, span=14).collect()
    assert row["v_ewma"] == math.floor(v * 1e6 + 0.5) / 1e6 == 1.000002


def test_ewma_exact_rational_reference(spark):
    """The round-7 driver failure class: the floor-form float fold died
    when a pre-floor argument landed EXACTLY on an integer (micro
    441350099202, a 6-digit-revenue regime) with a 1-ulp cross-build
    neighbor. Pin the exact-integer fold against an independent
    ``fractions.Fraction`` reference — s/w computed in exact rationals,
    6dp round-half-up — over DECIMAL(18,2) rows spanning magnitudes
    from cents to the 10^7 regime (micro ~10^13, the boundary-exact
    row's scale), per key, per prefix length. Any 1-ulp drift anywhere
    in either engine's fold would flip at least one of these."""
    import random
    from decimal import Decimal
    from fractions import Fraction

    from bearly_spark.operators.windows import ewma

    rng = random.Random(8)
    rows, series = [], {}
    for key, mag in [("a", 100), ("b", 10**7), ("c", 441350)]:
        vals = [
            Decimal(rng.randrange(1, mag * 100)) / 100 for _ in range(20)
        ]
        series[key] = vals
        rows += [(key, t, v) for t, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "key string, t int, v decimal(18,2)")
    got = {(r["key"], r["t"]): r["v_ewma"]
           for r in ewma(df, ["key"], "t", "v", alpha=0.3, span=14).collect()}
    decay = Fraction(7, 10)
    for key, vals in series.items():
        for t in range(len(vals)):
            frame = vals[max(0, t - 13): t + 1]
            s, w = Fraction(0), Fraction(0)
            for x in frame:
                s = s * decay + Fraction(x)
                w = w * decay + 1
            micro = (2 * 10**6 * s.numerator * w.denominator
                     + s.denominator * w.numerator) // (
                2 * s.denominator * w.numerator)
            assert got[(key, t)] == float(micro) / 1e6, (key, t)


def test_correlation_matrix_semantics(spark):
    """Perfect positive/negative correlations hit ±1; constant columns
    report NULL; listwise deletion drops rows with any NULL."""
    from bearly_spark.operators.quality import correlation_matrix

    df = spark.createDataFrame(
        [(1.0, 2.0, 7.0, 3.0), (2.0, 4.0, 7.0, 2.0), (3.0, 6.0, 7.0, 1.0),
         (None, 9.0, 7.0, 9.0)],
        "a double, b double, c double, d double",
    )
    got = {(r["col_a"], r["col_b"]): r
           for r in correlation_matrix(df, ["a", "b", "c", "d"]).collect()}
    assert got[("a", "b")]["corr"] == 1.0 and got[("a", "b")]["n"] == 3
    assert got[("a", "d")]["corr"] == -1.0
    assert got[("a", "c")]["corr"] is None and got[("b", "c")]["corr"] is None


def test_topn_with_others_rollup(spark):
    """Top-N keep labels, rest fold to 'other'; shares sum to 1 per
    group; NULL category competes as its own bucket."""
    from bearly_spark.operators.relational import topn_with_others

    rows = (
        [("g", "x")] * 5 + [("g", "y")] * 3 + [("g", "z")] * 2
        + [("g", "w")] * 1 + [("g", None)] * 4
    )
    df = spark.createDataFrame(rows, "grp string, cat string")
    got = {r["category"]: r for r in
           topn_with_others(df, ["grp"], "cat", n=2).collect()}
    # counts: x=5, NULL=4, y=3, z=2, w=1 -> top2 = x, NULL
    assert got["x"]["n_rows"] == 5 and got[None]["n_rows"] == 4
    assert got["other"]["n_rows"] == 6  # y + z + w
    assert abs(sum(r["share"] for r in got.values()) - 1.0) < 1e-9


def test_mad_outliers_robustness(spark):
    """A planted extreme value flags while the bulk doesn't; the
    median/MAD center cannot be dragged by the outlier itself; NULL
    values report NULL."""
    from bearly_spark.operators.quality import mad_outliers

    vals = [float(v) for v in [10, 11, 12, 13, 14, 15, 16, 17, 18, 1000]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)] + [(99, None)], "id int, v double"
    )
    got = {r["id"]: r for r in mad_outliers(df, "v", 3.5).collect()}
    assert got[9]["is_outlier"] is True          # the planted 1000
    assert all(got[i]["is_outlier"] is False for i in range(9))
    assert got[99]["robust_z"] is None and got[99]["is_outlier"] is None
    # zero-MAD: constant bulk -> NULL verdicts, not division blowups
    cdf = spark.createDataFrame([(i, 5.0) for i in range(10)], "id int, v double")
    assert all(r["robust_z"] is None for r in mad_outliers(cdf, "v").collect())


def test_seasonality_profile_weekday_math(spark):
    """Weekday 0 = Monday via the anchor formula; indices average to 1
    over a balanced two-week span."""
    import datetime

    from bearly_spark.operators.windows import seasonality_profile

    start = datetime.date(2024, 1, 1)  # a Monday
    rows = [(start + datetime.timedelta(days=i), float(100 + (i % 7))) for i in range(14)]
    df = spark.createDataFrame(rows, "day date, v double")
    got = {r["weekday"]: r for r in seasonality_profile(df, "day", "v").collect()}
    assert set(got) == set(range(7)) and all(got[w]["n_days"] == 2 for w in got)
    assert got[0]["mean_value"] == 100.0  # Mondays carry i%7 == 0
    s = sum(got[w]["seasonal_index"] for w in got)
    assert abs(s - 7.0) < 1e-9


def test_personalized_pagerank_seed_bias(spark):
    """Rank concentrates near the seed: on a path graph seeded at one
    end, rank decays monotonically with distance; unreachable nodes
    report 0; an absent seed raises."""
    import pytest

    from bearly_spark.operators.graph import personalized_pagerank

    # triangle (aperiodic — a path graph oscillates between parities)
    # plus a disconnected pair
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1), (10, 11), (11, 10)],
        "src int, dst int",
    )
    seeds = spark.createDataFrame([(1,)], "node int")
    got = {r["node"]: r["rank"] for r in
           personalized_pagerank(edges, seeds, iterations=4).collect()}
    assert got[1] > got[2] and got[2] == got[3]
    assert got[10] == 0.0 and got[11] == 0.0
    with pytest.raises(ValueError):
        personalized_pagerank(
            edges, spark.createDataFrame([(99,)], "node int"), iterations=1
        )


def test_pagerank_is_all_seed_personalized_pagerank(spark):
    """PageRank is personalized PageRank seeded at every source node,
    bit for bit: on the symmetric star and on the non-symmetric graph
    whose node 3 has out-edges only."""
    from bearly_spark.operators.graph import pagerank, personalized_pagerank

    for edges in (
        _star_edges(spark),
        spark.createDataFrame([(1, 2), (2, 1), (3, 1)], "src long, dst long"),
    ):
        every = edges.select(F.col("src").alias("node")).distinct()
        pr = {r["node"]: r["rank"] for r in pagerank(edges, iterations=3).collect()}
        ppr = {
            r["node"]: r["rank"]
            for r in personalized_pagerank(edges, every, iterations=3).collect()
        }
        assert pr == ppr


def test_graph_loops_past_broadcast_cutover_match_default_regime(spark, monkeypatch):
    """With the broadcast cutover at 0 nodes every graph loop takes the
    past-cutover regime (edges pinned on the input key, one node-keyed
    shuffle per round) and must return exactly the default regime's
    rows."""
    from bearly_spark.operators import graph

    barbell = spark.createDataFrame(
        [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
        + [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
        + [(4, 10)],
        "src long, dst long",
    )
    tri = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1), (10, 11), (11, 10)],
        "src long, dst long",
    )
    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "src long, dst long"
    )
    seed1 = spark.createDataFrame([(1,)], "node long")
    runs = [
        lambda: graph.pagerank(_star_edges(spark), iterations=3),
        lambda: graph.personalized_pagerank(tri, seed1, iterations=4),
        lambda: graph.label_propagation(barbell, rounds=4),
        lambda: graph.bfs_levels(path, seed1, rounds=3),
    ]
    default = [sorted(tuple(r) for r in run().collect()) for run in runs]

    regimes = []
    pin_edges = graph._pin_edges

    def recording_pin_edges(*args):
        pinned = pin_edges(*args)
        regimes.append(pinned[3])
        return pinned

    monkeypatch.setattr(graph, "BROADCAST_NODES_MAX", 0)
    monkeypatch.setattr(graph, "_pin_edges", recording_pin_edges)
    past = [sorted(tuple(r) for r in run().collect()) for run in runs]
    assert regimes == [False] * 4
    assert past == default


def test_kaplan_meier_hand_computed(spark):
    """Textbook KM: censoring shrinks the risk set without an event;
    survival steps only at event times and hits 0 when the last
    at-risk subject events."""
    from bearly_spark.operators.windows import kaplan_meier

    subj = spark.createDataFrame(
        [(5, 1), (5, 1), (10, 0), (15, 1)], "duration int, ev int"
    )
    got = {r["duration"]: r for r in kaplan_meier(subj, "duration", "ev").collect()}
    assert got[5]["n_risk"] == 4 and got[5]["n_events"] == 2
    assert got[5]["survival"] == 0.5
    assert got[10]["n_censored"] == 1 and got[10]["survival"] == 0.5
    assert got[15]["n_risk"] == 1 and got[15]["survival"] == 0.0


def test_gini_known_values(spark):
    """Perfect equality -> 0; one customer holding everything -> (n-1)/n."""
    from bearly_spark.registry import QUERIES  # noqa: F401 (query twin covers fixture)
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    def gini(rows):
        df = spark.createDataFrame(rows, "k int, rev double")
        rk = df.select(
            "rev", F.row_number().over(Window.orderBy("rev", "k")).alias("i")
        )
        s = rk.agg(
            F.count(F.lit(1)).alias("n"), F.sum("rev").alias("t"),
            F.sum(F.col("i") * F.col("rev")).alias("w"),
        ).collect()[0]
        n = float(s["n"])
        return 2.0 * s["w"] / (n * s["t"]) - (n + 1.0) / n

    assert abs(gini([(i, 10.0) for i in range(4)]) - 0.0) < 1e-12
    assert abs(gini([(0, 0.0), (1, 0.0), (2, 0.0), (3, 100.0)]) - 0.75) < 1e-12
