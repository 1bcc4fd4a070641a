"""Relational core: filter/project, every join family, sorts/top-k, set ops, pivot/unpivot/explode, subqueries, lateral, temporal/as-of/range joins."""

from __future__ import annotations

import pyspark.sql.functions as F

from bearly_spark.operators import maintenance as MT
from bearly_spark.operators import relational as R
from bearly_spark.operators.aggregate import grouped_agg
from bearly_spark.sources.tables import load_table

from bearly_spark.registry._core import register
from bearly_spark.registry._shared import _ev_sec_spark


# ===================================================================
# Scans, projection, filters (pushdown-friendly)
# ===================================================================


@register(
    "filter_project_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_discount > 0.05
    ORDER BY l_orderkey, l_linenumber LIMIT 100
    """,
)
def q_filter_project(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return R.sort_limit(
        R.project_filter(
            li,
            ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") > 0.05),
        ),
        [F.col("l_orderkey"), F.col("l_linenumber")],
        100,
    )


# ===================================================================
# Joins
# ===================================================================


@register(
    "join_revenue_by_nation",
    oracle="""
    SELECT n_name, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_join_nation(spark, sf_dir):
    """Fact⋈dim⋈dim chain: customer/nation broadcast, orders never
    shuffles before the final group-by."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = R.join_broadcast(
        R.join(o, c, F.col("o_custkey") == F.col("c_custkey")),
        n,
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return grouped_agg(
        joined,
        ["n_name"],
        [F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue")],
    )


@register(
    "semi_join_big_spenders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
    """,
)
def q_semi(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return R.join(c, o, F.col("c_custkey") == F.col("o_custkey"), "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "anti_join_no_pending_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
    """,
)
def q_anti(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return R.join(c, o, F.col("c_custkey") == F.col("o_custkey"), "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "outer_join_order_counts",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def q_outer(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        R.join(c, o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@register(
    "broadcast_join_part_agg",
    oracle="""
    SELECT p_brand, COUNT(*) AS n_items, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def q_broadcast_part(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        R.join_broadcast(li, p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


# ===================================================================
# Sorts, limits, top-k, set ops
# ===================================================================


@register(
    "top_orders_by_price",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_top_orders(spark, sf_dir):
    return R.sort_limit(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        10,
    )


@register(
    "topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def q_topk_per_customer(spark, sf_dir):
    return R.top_k_per_group(
        load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        3,
    )


@register(
    "set_intersect_custkeys",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_set_intersect(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return R.intersect(
        o.filter(F.col("o_orderstatus") == "F").select("o_custkey"),
        o.filter(F.col("o_orderstatus") == "O").select("o_custkey"),
    )


@register(
    "set_except_custkeys",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
)
def q_set_except(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return R.except_(
        o.filter(F.col("o_orderstatus") == "F").select("o_custkey"),
        o.filter(F.col("o_orderstatus") == "P").select("o_custkey"),
    )


@register(
    "set_union_ids",
    oracle="""
    SELECT c_custkey AS id FROM customer WHERE c_acctbal > 5000
    UNION
    SELECT o_custkey AS id FROM orders WHERE o_totalprice > 200000
    """,
)
def q_set_union(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return R.union_all(
        c.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("id")),
        o.filter(F.col("o_totalprice") > 200000).select(F.col("o_custkey").alias("id")),
    ).distinct()


# ===================================================================
# Temporal joins (as-of / interval) — SURVEY §2.2 joins row
# ===================================================================


@register(
    "asof_join_orders_events",
    oracle="""
    WITH e AS (SELECT event_id, user_id,
                      CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_sec FROM events),
    o AS (SELECT o_custkey AS user_id, CAST(epoch(o_orderdate) AS BIGINT) AS t,
                 o_orderkey, o_totalprice FROM orders),
    u AS (
      SELECT user_id, ts_sec AS t, 1 AS is_l, event_id, ts_sec,
             NULL::BIGINT AS o_orderkey, NULL::DOUBLE AS o_totalprice FROM e
      UNION ALL
      SELECT user_id, t, 0, NULL, NULL, o_orderkey, o_totalprice FROM o
    ),
    w AS (SELECT *,
        last_value(o_orderkey IGNORE NULLS) OVER win AS asof_o_orderkey,
        last_value(o_totalprice IGNORE NULLS) OVER win AS asof_o_totalprice
      FROM u
      WINDOW win AS (PARTITION BY user_id ORDER BY t, is_l, o_orderkey NULLS FIRST
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_id, user_id, ts_sec, asof_o_orderkey, asof_o_totalprice
    FROM w WHERE is_l = 1
    """,
)
def q_asof_join(spark, sf_dir):
    """Backward as-of join: each event picks the user's latest order at or
    before the event (merge-as-of via union + running window — one shuffle,
    no non-equi candidate blowup; see relational.asof_join)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", _ev_sec_spark().cast("long").alias("ts_sec")
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").cast("long").alias("o_sec"),
        "o_orderkey",
        "o_totalprice",
    )
    out = R.asof_join(
        ev, od, key="user_id", left_ts="ts_sec", right_ts="o_sec",
        value_cols=["o_orderkey", "o_totalprice"], tie_cols=["o_orderkey"],
    )
    return out.select("event_id", "user_id", "ts_sec", "asof_o_orderkey", "asof_o_totalprice")


@register(
    "range_join_purchase_follow",
    oracle="""
    WITH e AS (SELECT event_id, user_id,
                      CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS ts_sec,
                      event_type FROM events)
    SELECT p.event_id AS purchase_event_id,
           COUNT(*) AS n_follow,
           COUNT(DISTINCT f.event_type) AS n_types
    FROM e p JOIN e f
      ON p.user_id = f.user_id
     AND f.ts_sec > p.ts_sec AND f.ts_sec <= p.ts_sec + 3600
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
)
def q_range_join(spark, sf_dir):
    """Interval join: events within 1h after each purchase by the same
    user (equi key + residual range predicate — shuffles on user_id only)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", _ev_sec_spark().cast("long").alias("ts_sec"), "event_type"
    )
    purch = ev.filter(F.col("event_type") == "purchase")
    joined = R.interval_join(purch, ev, key="user_id", left_ts="ts_sec", right_ts="ts_sec",
                             lower_offset=0, upper_offset=3600)
    return joined.groupBy(F.col("l.event_id").alias("purchase_event_id")).agg(
        F.count(F.lit(1)).alias("n_follow"),
        F.countDistinct(F.col("r.event_type")).alias("n_types"),
    )


# ===================================================================
# Subqueries (scalar-correlated / EXISTS — Catalyst decorrelation)
# ===================================================================


@register(
    "subquery_above_avg_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice > (
        SELECT 1.5 * AVG(o2.o_totalprice) FROM orders o2
        WHERE o2.o_orderstatus = o.o_orderstatus)
    ORDER BY o.o_orderkey LIMIT 200
    """,
)
def q_subquery_above_avg(spark, sf_dir):
    """Scalar correlated subquery — Catalyst decorrelates it into an
    aggregate + join (no per-row re-execution; check the plan for a single
    Aggregate feeding a Join)."""
    od = load_table(spark, sf_dir, "orders")
    od.createOrReplaceTempView("_bearly_orders_sq")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice
        FROM _bearly_orders_sq o
        WHERE o.o_totalprice > (
            SELECT 1.5 * AVG(o2.o_totalprice) FROM _bearly_orders_sq o2
            WHERE o2.o_orderstatus = o.o_orderstatus)
        ORDER BY o.o_orderkey LIMIT 200
        """
    )


@register(
    "subquery_exists_customers",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
    ORDER BY c_custkey
    """,
)
def q_subquery_exists(spark, sf_dir):
    """EXISTS / NOT EXISTS pair — decorrelated to left-semi + left-anti
    joins by Catalyst."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_bearly_cust_sq")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_bearly_orders_sq2")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM _bearly_cust_sq c
        WHERE EXISTS (SELECT 1 FROM _bearly_orders_sq2 o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
          AND NOT EXISTS (SELECT 1 FROM _bearly_orders_sq2 o2
                          WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
        ORDER BY c_custkey
        """
    )


@register(
    "pivot_orders_status",
    oracle="""
    SELECT o_orderpriority,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS F,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS O,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot(spark, sf_dir):
    """Pivot: order counts by priority x status. Explicit pivot values —
    at scale an unvalued pivot() runs a distinct scan first; always
    enumerate the columns when the domain is known."""
    od = load_table(spark, sf_dir, "orders")
    out = (
        od.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("F", "O", "P")],
    )


@register(
    "set_intersect_all_quantities",
    oracle="""
    SELECT CAST(l_quantity AS DOUBLE) AS q FROM lineitem WHERE l_returnflag = 'A'
    INTERSECT ALL
    SELECT CAST(l_quantity AS DOUBLE) AS q FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def q_intersect_all(spark, sf_dir):
    """Multiset INTERSECT ALL (duplicate-preserving — distinct from the
    set-semantics intersect already covered)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_quantity").alias("q"))
    r = li.filter(F.col("l_returnflag") == "R").select(F.col("l_quantity").alias("q"))
    return a.intersectAll(r)


@register(
    "posexplode_embeddings",
    oracle="""
    SELECT vec_id, CAST(u.pos AS INTEGER) AS pos,
           ROUND(CAST(u.val AS DOUBLE), 6) AS val
    FROM embeddings,
         LATERAL (SELECT UNNEST(embedding) AS val,
                         UNNEST(range(len(embedding))) AS pos) u
    WHERE vec_id < 10
    """,
)
def q_posexplode(spark, sf_dir):
    """posexplode: array -> (ordinal, element) rows — UNNEST WITH
    ORDINALITY semantics (vector-to-long-format for feature pipelines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("vec_id") < 10)
        .select("vec_id", F.posexplode("embedding").alias("pos", "val"))
        .select("vec_id", "pos", F.round(F.col("val").cast("double"), 6).alias("val"))
    )


@register(
    "unpivot_lineitem_measures",
    oracle="""
    WITH s AS (
      SELECT l_returnflag, ROUND(SUM(l_quantity), 2) AS sum_qty,
             ROUND(SUM(l_extendedprice), 2) AS sum_price,
             ROUND(SUM(l_discount), 2) AS sum_disc
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM s
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM s
    UNION ALL
    SELECT l_returnflag, 'sum_disc' AS measure, sum_disc AS value FROM s
    """,
)
def q_unpivot(spark, sf_dir):
    """unpivot/melt: wide measure columns -> long (measure, value) rows —
    the inverse of pivot. Runs on the already-aggregated (tiny) frame, so
    the melt itself is shuffle-free."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_discount"), 2).alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "measure", "value"
    )


@register(
    "sample_hash_orders",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_sampled,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    WHERE substr(sha256(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
    GROUP BY o_orderstatus
    """,
)
def q_sample_hash(spark, sf_dir):
    """Deterministic content-hash sampling (~1/16 of rows): the stable,
    engine-independent way to sample at 100 TB — the same rows are chosen
    on every run, every engine, every partitioning, unlike TABLESAMPLE /
    rand()-based sampling. The predicate is map-side (no shuffle) and the
    hash input is the key column only."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.substring(F.sha2(F.col("o_orderkey").cast("string"), 256), 1, 1) == "0")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "set_except_all_quantities",
    oracle="""
    SELECT CAST(l_quantity AS DOUBLE) AS q FROM lineitem WHERE l_returnflag = 'A'
    EXCEPT ALL
    SELECT CAST(l_quantity AS DOUBLE) AS q FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def q_except_all(spark, sf_dir):
    """Multiset EXCEPT ALL (duplicate-preserving difference) — completes
    the set-op family next to intersectAll/exceptAll-distinct."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_quantity").alias("q"))
    r = li.filter(F.col("l_returnflag") == "R").select(F.col("l_quantity").alias("q"))
    return a.exceptAll(r)


@register(
    "cross_join_priority_status",
    oracle="""
    SELECT p.o_orderpriority, s.o_orderstatus
    FROM (SELECT DISTINCT o_orderpriority FROM orders) p
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def q_cross_join(spark, sf_dir):
    """Explicit cartesian product of two (small, distinct-reduced) dims —
    the only sane cross-join shape at scale: reduce both sides first, the
    product itself is broadcast-nested-loop over tiny inputs."""
    o = load_table(spark, sf_dir, "orders")
    p = o.select("o_orderpriority").distinct()
    s = o.select("o_orderstatus").distinct()
    return p.crossJoin(s)


@register(
    "null_funcs_lineitem",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) - COUNT(NULLIF(l_discount, 0)) AS n_zero_disc,
           ROUND(AVG(NULLIF(l_discount, 0)), 6) AS avg_nonzero_disc,
           ROUND(SUM(CASE WHEN l_tax > 0.05 THEN l_extendedprice ELSE 0 END), 2)
             AS high_tax_price,
           ROUND(SUM(COALESCE(NULLIF(l_tax, 0), 0.01)), 2) AS floored_tax
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_null_funcs(spark, sf_dir):
    """Null-handling expression pack: NULLIF / COALESCE / CASE WHEN
    compositions (three-valued logic on the fast JVM expression path)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (F.count(F.lit(1)) - F.count(F.nullif(F.col("l_discount"), F.lit(0)))).alias(
            "n_zero_disc"
        ),
        F.round(F.avg(F.nullif(F.col("l_discount"), F.lit(0))), 6).alias(
            "avg_nonzero_disc"
        ),
        F.round(
            F.sum(F.when(F.col("l_tax") > 0.05, F.col("l_extendedprice")).otherwise(0.0)),
            2,
        ).alias("high_tax_price"),
        F.round(
            F.sum(F.coalesce(F.nullif(F.col("l_tax"), F.lit(0)), F.lit(0.01))), 2
        ).alias("floored_tax"),
    )


@register(
    "temporal_join_orders_customer",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           CASE WHEN o.o_custkey % 13 = 0
                     AND CAST(o.o_orderdate AS DATE) >= DATE '1997-03-01'
                THEN (c.c_nationkey + 3) % 25
                WHEN o.o_custkey % 11 = 0
                     AND CAST(o.o_orderdate AS DATE) >= DATE '1995-06-01'
                THEN (c.c_nationkey + 7) % 25
                ELSE c.c_nationkey END AS c_nationkey,
           CASE WHEN o.o_custkey % 13 = 0
                     AND CAST(o.o_orderdate AS DATE) >= DATE '1997-03-01'
                THEN 'SEG2' ELSE c.c_mktsegment END AS c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_temporal_join(spark, sf_dir):
    """Fact-to-versioned-dimension TEMPORAL join
    (``maintenance.scd2_temporal_join``): every order joins the
    customer version valid AT ITS OWN order date against the same
    3-version SCD2 history `scd2_customer_history` builds (nation
    reassignment 1995-06-01 for every 11th key, segment migration
    1997-03-01 for every 13th) — the per-row generalization of
    `scd2_asof_customer`'s single-instant read, and the
    reproducibility join for training-data lineage. Equi-join on the
    key with the validity interval as a residual predicate (no
    range-join blowup); SCD2 invariants mean exactly one version
    matches per row. The oracle states the contemporaneous attributes
    in closed form."""
    cust = load_table(spark, sf_dir, "customer")
    hist = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.to_date(F.lit("1992-01-01")).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    keys, attrs = ["c_custkey"], ["c_nationkey", "c_mktsegment"]
    chg1 = cust.filter(F.col("c_custkey") % 11 == 0).select(
        "c_custkey",
        ((F.col("c_nationkey") + 7) % 25).alias("c_nationkey"),
        "c_mktsegment",
        F.to_date(F.lit("1995-06-01")).alias("change_ts"),
    )
    chg2 = cust.filter(F.col("c_custkey") % 13 == 0).select(
        "c_custkey",
        ((F.col("c_nationkey") + 3) % 25).alias("c_nationkey"),
        F.lit("SEG2").alias("c_mktsegment"),
        F.to_date(F.lit("1997-03-01")).alias("change_ts"),
    )
    h = MT.scd2_apply(hist, chg1, keys, attrs)
    h = MT.scd2_apply(h, chg2, keys, attrs)
    orders = load_table(spark, sf_dir, "orders")
    fact = orders.select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderdate").cast("date").alias("o_date"),
    )
    out = MT.scd2_temporal_join(fact, h, keys, "o_date")
    return out.select(
        "o_orderkey",
        F.col("c_custkey").alias("o_custkey"),
        "c_nationkey",
        "c_mktsegment",
    )


@register(
    "lateral_topk_orders",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
      FROM orders WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) o
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def q_lateral_topk(spark, sf_dir):
    """Correlated LATERAL subquery with per-row ORDER BY ... LIMIT (the
    SQL spelling of per-group top-k; Catalyst decorrelates it into a
    ranked window join rather than re-executing the subquery per row)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM v_customer c, LATERAL (
          SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
          FROM v_orders WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) o
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


@register(
    "full_outer_status_counts",
    oracle="""
    WITH p AS (SELECT o_custkey, COUNT(*) AS n_pending FROM orders
               WHERE o_orderstatus = 'P' GROUP BY o_custkey),
    f AS (SELECT o_custkey, COUNT(*) AS n_filled FROM orders
          WHERE o_orderstatus = 'F' GROUP BY o_custkey)
    SELECT COALESCE(p.o_custkey, f.o_custkey) AS o_custkey,
           COALESCE(n_pending, 0) AS n_pending,
           COALESCE(n_filled, 0) AS n_filled
    FROM p FULL OUTER JOIN f ON p.o_custkey = f.o_custkey
    """,
)
def q_full_outer(spark, sf_dir):
    """FULL OUTER join (completes the outer-join family next to the left
    outer in outer_join_order_counts): customers pending-only, filled-only,
    and both, with COALESCE'd keys/counts. Aggregate-then-join, so the
    outer join runs on the small per-customer side."""
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.filter(F.col("o_orderstatus") == "P")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_pending"))
        .withColumnRenamed("o_custkey", "p_custkey")
    )
    f = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_filled"))
        .withColumnRenamed("o_custkey", "f_custkey")
    )
    return p.join(f, p.p_custkey == f.f_custkey, "full_outer").select(
        F.coalesce("p_custkey", "f_custkey").alias("o_custkey"),
        F.coalesce("n_pending", F.lit(0)).alias("n_pending"),
        F.coalesce("n_filled", F.lit(0)).alias("n_filled"),
    )


@register(
    "crosstab_orders",
    oracle="""
    SELECT o_orderstatus AS o_orderstatus_o_orderpriority,
           COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS "1-URGENT",
           COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS "2-HIGH",
           COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
           COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
           COUNT(*) FILTER (o_orderpriority = '5-LOW') AS "5-LOW"
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_crosstab(spark, sf_dir):
    """Contingency table via ``df.stat.crosstab`` (exact pairwise
    frequency counts — one shuffle on the pair key, then a pivot with
    the distinct column values; same plan shape as the explicit-values
    pivot already covered, surfaced through the stat API)."""
    return load_table(spark, sf_dir, "orders").stat.crosstab(
        "o_orderstatus", "o_orderpriority"
    )
