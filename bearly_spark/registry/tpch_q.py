"""The complete TPC-H query-shape suite (Q1-Q22)."""

from __future__ import annotations

import pyspark.sql.functions as F

from bearly_spark.operators import relational as R
from bearly_spark.operators.aggregate import grouped_agg
from bearly_spark.sources.tables import load_table

from bearly_spark.registry._core import register


# ===================================================================
# Aggregations (grouped, distinct, rollup, cube)
# ===================================================================


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)      AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4)      AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 4)      AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_q1(spark, sf_dir):
    """TPC-H Q1-style pricing summary — partial+final hash agg, 2 grouping
    keys, scan-level filter pushdown on l_shipdate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
    )
    return grouped_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        ],
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1999-01-01'
      AND l_shipdate > TIMESTAMP '1996-06-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q_q3(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-06-01").cast("timestamp_ntz")
    )
    # decimal(18,6) per row before SUM (the q7 pattern): a double SUM is
    # summation-order-dependent and lands near 2dp midpoints on real
    # fixtures (round-7 midpoint audit); the decimal aggregate is exact
    # and order-independent, and ROUND over DECIMAL is exact half-up in
    # both engines.
    # Round 14 (guide §2, the q18/q10 move): aggregate BELOW the join —
    # the per-orderkey decimal sum is exact (order-free regrouping) and
    # o_orderdate is functionally dependent on the unique o_orderkey,
    # so the join probes Θ(distinct orders) aggregate rows instead of
    # every lineitem row, and the orderkey shuffle carries (key,
    # decimal) partials instead of (key, date, decimal) fact rows.
    per_order = li.groupBy("l_orderkey").agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ),
            2,
        )
        .cast("double")
        .alias("revenue")
    )
    agg = per_order.join(
        R.join_broadcast(o, c, F.col("o_custkey") == F.col("c_custkey")),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return R.sort_limit(
        agg.select("l_orderkey", "revenue", "o_orderdate"),
        [F.desc("revenue"), F.asc("l_orderkey")],
        10,
    )


@register(
    "q5_regional_revenue",
    oracle="""
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q_q5(spark, sf_dir):
    """Six-table join; all dims broadcast, lineitem⋈orders is the only
    shuffle pair (AQE picks the small side at runtime)."""
    t = {n: load_table(spark, sf_dir, n) for n in ["customer", "orders", "lineitem", "supplier", "nation", "region"]}
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@register(
    "q7_nation_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    WHERE sn.n_name <> cn.n_name
    GROUP BY sn.n_name, cn.n_name, l_year
    """,
)
def q_q7(spark, sf_dir):
    """TPC-H Q7 shape: 5-way join with the nation dim joined TWICE under
    different roles + a cross-dim inequality. Both nation sides broadcast;
    the fact chain shuffles only on its join keys."""
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    sn = na.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = na.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        # decimal(18,6) per row before SUM: with 4188 groups, double
        # summation-order noise crossed the 2dp rounding boundary on ~15
        # groups; an exact decimal aggregate is order-independent.
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")), 2
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q_q10(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue ranking — filter pushed to
    the lineitem scan, broadcast nation, deterministic top-20.

    Round 14 (guide §2, the q18 move): revenue pre-aggregates per
    ``l_orderkey`` — map-side partials + one NARROW (orderkey, decimal)
    shuffle — then per ``o_custkey`` over the Θ(orders) partials, and
    customer/nation join the Θ(customers) aggregate instead of riding
    through a Θ(lineitem) join. Result-identical: the per-row
    decimal(18,6) sums are EXACT (order-free regrouping — this rewrite
    is only legal because of the q7/q3 decimal pattern; an IEEE-double
    sum could not be regrouped), and the group keys are functionally
    dependent on ``c_custkey`` through inner equi-joins on unique keys."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    na = load_table(spark, sf_dir, "nation")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        ).alias("_rev")
    )
    per_cust = (
        per_order.join(od, per_order.l_orderkey == od.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.round(F.sum("_rev"), 2).cast("double").alias("revenue"))
    )
    return (
        per_cust.join(cu, cu.c_custkey == per_cust.o_custkey)
        .join(F.broadcast(na), na.n_nationkey == cu.c_nationkey)
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q18_large_volume_orders",
    oracle="""
    SELECT c.c_name, o.o_custkey, o.o_orderkey,
           ROUND(o.o_totalprice, 2) AS o_totalprice,
           ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_name, o.o_custkey, o.o_orderkey, o.o_totalprice
    HAVING SUM(l.l_quantity) > 250
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50
    """,
)
def q_q18(spark, sf_dir):
    """TPC-H Q18 shape: GROUP BY ... HAVING over a 3-way join.

    Round 14 (guide §2, shuffle fewer bytes / aggregate before joining):
    the quantity sum is pre-aggregated per ``l_orderkey`` — a map-side
    partial + ONE narrow (orderkey, qty) shuffle — and the very
    selective HAVING is applied BEFORE the joins, so only qualifying
    orders (a handful per million) ever join orders/customer, instead
    of dragging customer+orders payloads through a Θ(lineitem) join
    into the final hash aggregate. Result-identical to the joined-first
    form: ``o_orderkey`` is unique (TPC-H key), the other group keys
    are functionally dependent on it through INNER equi-joins, and the
    per-group sum is exactly the per-orderkey sum (10x-scale
    interleaved best-of-4: 3.85 -> 1.77 s; oracle hash-exact at
    sf0.001 and sf0.01)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(50)
    )


@register(
    "q22_idle_rich_customers",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def q_q22(spark, sf_dir):
    """TPC-H Q22 shape: uncorrelated scalar subquery in a predicate +
    NOT EXISTS anti-join + aggregation. Expressed in SQL so Catalyst plans
    the scalar subquery as a broadcast one-row relation and the NOT EXISTS
    as a left-anti hash join."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS total_bal
        FROM v_customer c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM v_customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM v_orders o WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
        """
    )


@register(
    "q4_order_priority_check",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q_q4(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS between two fact tables (orders
    with any line shipped >60 days after ordering). Catalyst plans the
    EXISTS as a left-semi hash join on the correlation key — the fact-fact
    semi join shuffles both sides on l_orderkey/o_orderkey only."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM v_orders
        WHERE EXISTS (SELECT 1 FROM v_lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        """
    )


@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT p_brand, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 5 AND 30 AND p_size <= 20)
       OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 10 AND 40 AND p_size <= 30)
    GROUP BY p_brand
    """,
)
def q_q19(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive (OR-of-ANDs) mixed-table predicate over
    a fact-dim join. Catalyst splits the disjunction into per-table
    implied filters (l_quantity range, p_size/p_brand) that push to both
    scans, keeping the residual OR as the join filter — the broadcast dim
    join then sees pre-filtered inputs."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).filter(
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("l_quantity").between(5, 30)
            & (F.col("p_size") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("l_quantity").between(10, 40)
            & (F.col("p_size") <= 30)
        )
    )
    return joined.groupBy("p_brand").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_q6(spark, sf_dir):
    """TPC-H Q6 shape: the canonical pure-scan benchmark — all predicates
    push to the parquet scan (PushedFilters on shipdate/discount/quantity),
    4 of 11 columns read, and the single global aggregate needs no
    shuffle (partial+final over a 1-row exchange)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ===================================================================
# TPC-H suite completion (round 2) — the 12 remaining query SHAPES
# ===================================================================
#
# The fixture star schema has no partsupp table and lineitem lacks
# commitdate/receiptdate/shipmode, so the partsupp-dependent queries
# (Q2/Q11/Q16/Q20) derive supplier-part facts from lineitem and the
# date-arithmetic queries (Q12/Q21) define lateness as
# l_shipdate > o_orderdate + k days. Every adaptation preserves the
# query's CHARACTERISTIC plan shape (the thing worth testing at scale):
# Q2's correlated-MIN supplier pick, Q8's share-of-total, Q9's profit
# rollup, Q11's group-vs-global-threshold scalar subquery, Q13's
# distribution-of-distribution, Q15's agg-equals-MAX(agg), Q17's
# per-part correlated AVG, Q20's nested IN over derived aggregates,
# Q21's EXISTS + NOT-EXISTS double correlation on the same fact table.
# All money aggregates go through the decimal(18,6) pre-cast rule from
# the module docstring. Exact-valued derived costs (MIN(l_extendedprice),
# integer-valued quantity sums) are chosen over AVG-of-double wherever a
# cross-engine equality lands on the derived value, so Spark and DuckDB
# compare identical bit patterns.


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
        SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS supplycost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT s_name, n_name, p_partkey, p_type,
           ROUND(supplycost, 2) AS min_cost
    FROM part
    JOIN cost ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE') AND p_type = 'LARGE' AND p_size <= 25
      AND supplycost = (
          SELECT MIN(c2.supplycost)
          FROM cost c2
          JOIN supplier s2 ON s2.s_suppkey = c2.l_suppkey
          JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
          JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
          WHERE c2.l_partkey = p_partkey AND r2.r_name IN ('ASIA', 'EUROPE'))
    """,
)
def q_q2(spark, sf_dir):
    """TPC-H Q2 shape: pick each part's minimum-cost supplier within a
    region via a correlated scalar-MIN subquery (Catalyst decorrelates it
    into an aggregate + join on the correlation key — one pass over the
    cost table, not a per-row re-execution). Supply cost is derived from
    lineitem (no partsupp in the fixtures) as MIN(l_extendedprice) —
    exact in both engines, so the equality join on the derived value is
    bit-stable."""
    for n in ("lineitem", "part", "supplier", "nation", "region"):
        load_table(spark, sf_dir, n).createOrReplaceTempView(f"v_{n}")
    return spark.sql(
        """
        WITH cost AS (
            SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS supplycost
            FROM v_lineitem GROUP BY l_partkey, l_suppkey
        )
        SELECT s_name, n_name, p_partkey, p_type,
               ROUND(supplycost, 2) AS min_cost
        FROM v_part
        JOIN cost ON p_partkey = l_partkey
        JOIN v_supplier ON s_suppkey = l_suppkey
        JOIN v_nation ON n_nationkey = s_nationkey
        JOIN v_region ON r_regionkey = n_regionkey
        WHERE r_name IN ('ASIA', 'EUROPE') AND p_type = 'LARGE' AND p_size <= 25
          AND supplycost = (
              SELECT MIN(c2.supplycost)
              FROM cost c2
              JOIN v_supplier s2 ON s2.s_suppkey = c2.l_suppkey
              JOIN v_nation n2 ON n2.n_nationkey = s2.s_nationkey
              JOIN v_region r2 ON r2.r_regionkey = n2.n_regionkey
              WHERE c2.l_partkey = p_partkey AND r2.r_name IN ('ASIA', 'EUROPE'))
        """
    )


@register(
    "q8_nation_market_share",
    oracle="""
    WITH volumes AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
               CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON n1.n_nationkey = c_nationkey
        JOIN region ON r_regionkey = n1.n_regionkey
        JOIN nation n2 ON n2.n_nationkey = s_nationkey
        WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    )
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume
                               ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM volumes GROUP BY o_year
    """,
)
def q_q8(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of regional revenue per year —
    a conditional-sum-over-total ratio on top of an 8-table snowflake
    join (both nation roles + region broadcast; the fact chain shuffles
    on join keys only). Sums are exact decimals; the ratio divides the
    two decimal totals as doubles so both engines round identical
    inputs."""
    for n in ("lineitem", "part", "supplier", "orders", "customer", "nation", "region"):
        load_table(spark, sf_dir, n).createOrReplaceTempView(f"v_{n}")
    return spark.sql(
        """
        WITH volumes AS (
            SELECT YEAR(o_orderdate) AS o_year,
                   CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume,
                   n2.n_name AS supp_nation
            FROM v_lineitem
            JOIN v_part ON p_partkey = l_partkey
            JOIN v_supplier ON s_suppkey = l_suppkey
            JOIN v_orders ON o_orderkey = l_orderkey
            JOIN v_customer ON c_custkey = o_custkey
            JOIN v_nation n1 ON n1.n_nationkey = c_nationkey
            JOIN v_region ON r_regionkey = n1.n_regionkey
            JOIN v_nation n2 ON n2.n_nationkey = s_nationkey
            WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        )
        SELECT o_year,
               ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume
                                   ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                     / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
        FROM volumes GROUP BY o_year
        """
    )


@register(
    "q9_product_type_profit",
    oracle="""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               - p_retailprice * 0.6 * l_quantity
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q_q9(spark, sf_dir):
    """TPC-H Q9 shape: profit (revenue minus derived unit cost — the
    fixtures have no partsupp, so cost = 60% of retail price) rolled up
    by supplier nation and order year, with a LIKE filter on part name
    feeding the join. Decimal pre-cast keeps the many-group sum
    order-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    su = load_table(spark, sf_dir, "supplier")
    od = load_table(spark, sf_dir, "orders")
    na = load_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.lit(0.6) * F.col("l_quantity")
    ).cast("decimal(18,6)")
    return (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).cast("double").alias("profit"))
    )


@register(
    "q11_important_part_value",
    oracle="""
    WITH value AS (
        SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS val
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE n_name IN ('NATION_3', 'NATION_4')
        GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, CAST(ROUND(val, 2) AS DOUBLE) AS part_value
    FROM value
    WHERE val > (SELECT CAST(SUM(val) AS DOUBLE) * 0.002 FROM value)
    """,
)
def q_q11(spark, sf_dir):
    """TPC-H Q11 shape: per-part value within a nation group, kept only
    when above a fraction of the GLOBAL total — an uncorrelated scalar
    subquery over the same aggregate (Catalyst materializes it once as a
    broadcast one-row relation, not per-row). Exact decimal sums make the
    threshold comparison engine-stable."""
    for n in ("lineitem", "supplier", "nation"):
        load_table(spark, sf_dir, n).createOrReplaceTempView(f"v_{n}")
    return spark.sql(
        """
        WITH value AS (
            SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS val
            FROM v_lineitem
            JOIN v_supplier ON s_suppkey = l_suppkey
            JOIN v_nation ON n_nationkey = s_nationkey
            WHERE n_name IN ('NATION_3', 'NATION_4')
            GROUP BY l_partkey
        )
        SELECT l_partkey AS partkey, CAST(ROUND(val, 2) AS DOUBLE) AS part_value
        FROM value
        WHERE val > (SELECT CAST(SUM(val) AS DOUBLE) * 0.002 FROM value)
        """
    )


@register(
    "q12_late_shipment_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
    GROUP BY l_linestatus
    """,
)
def q_q12(spark, sf_dir):
    """TPC-H Q12 shape: late shipments (no shipmode/receiptdate in the
    fixtures — lateness is shipdate > orderdate + 30d) bucketed by line
    status with priority CASE-counts. One fact-fact equi join + residual
    date predicate + conditional aggregation, all map-side after the
    join shuffle."""
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        od.join(li, od.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q13_customer_order_histogram",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer
          LEFT JOIN orders ON o_custkey = c_custkey
               AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) counted
    GROUP BY c_count
    """,
)
def q_q13(spark, sf_dir):
    """TPC-H Q13 shape: distribution-of-a-distribution — orders per
    customer (LEFT join keeps zero-order customers; the filter lives in
    the JOIN CONDITION, where it cannot turn the outer join inner), then
    a histogram over those counts. Two shuffles: by custkey, then by
    count."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders")
    counted = (
        cu.join(
            od,
            (cu.c_custkey == od.o_custkey) & (od.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return counted.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,6))) AS DOUBLE), 6) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-03-01'
    """,
)
def q_q14(spark, sf_dir):
    """TPC-H Q14 shape: promo share of revenue in a date window —
    conditional-sum ratio over a broadcast part join, date predicate
    pushed to the lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-03-01").cast("timestamp"))
        )
        .join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_revenue")
        )
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-07-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(ROUND(total_revenue, 2) AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q_q15(spark, sf_dir):
    """TPC-H Q15 shape: the revenue 'view' reused twice — once joined to
    supplier, once under MAX() — selecting the top supplier(s) by exact
    aggregate equality (ties all surface, deterministically). Exact
    decimal revenue makes agg = MAX(agg) engine-stable."""
    for n in ("lineitem", "supplier"):
        load_table(spark, sf_dir, n).createOrReplaceTempView(f"v_{n}")
    return spark.sql(
        """
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                       AS total_revenue
            FROM v_lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-07-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name,
               CAST(ROUND(total_revenue, 2) AS DOUBLE) AS total_revenue
        FROM v_supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        """
    )


@register(
    "q16_part_supplier_variety",
    oracle="""
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q_q16(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier variety per (brand, type,
    size) with a NOT IN exclusion subquery (complaint suppliers →
    negative-balance suppliers here). NOT IN over a non-null key plans
    as a null-aware anti join; COUNT(DISTINCT) expands then merges."""
    for n in ("lineitem", "part", "supplier"):
        load_table(spark, sf_dir, n).createOrReplaceTempView(f"v_{n}")
    return spark.sql(
        """
        SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM v_lineitem JOIN v_part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
          AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM v_supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        """
    )


@register(
    "q17_small_qty_revenue",
    oracle="""
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                 / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    """,
)
def q_q17(spark, sf_dir):
    """TPC-H Q17 shape: lines below half their part's average quantity —
    a correlated AVG subquery on the same fact table, decorrelated into
    one per-part aggregate + join (quantities are small integers stored
    as doubles, so the AVG and the 0.5x threshold are IEEE-identical in
    both engines)."""
    for n in ("lineitem", "part"):
        load_table(spark, sf_dir, n).createOrReplaceTempView(f"v_{n}")
    return spark.sql(
        """
        SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                     / 7.0, 2) AS avg_yearly
        FROM v_lineitem JOIN v_part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23'
          AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity) FROM v_lineitem l2
                            WHERE l2.l_partkey = p_partkey)
        """
    )


@register(
    "q20_promotion_suppliers",
    oracle="""
    WITH per_sp AS (
        SELECT l_suppkey, l_partkey, SUM(l_quantity) AS qty
        FROM lineitem GROUP BY l_suppkey, l_partkey
    ),
    per_p AS (
        SELECT l_partkey, SUM(l_quantity) AS total FROM lineitem GROUP BY l_partkey
    )
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_5', 'NATION_8')
      AND s_suppkey IN (
          SELECT per_sp.l_suppkey
          FROM per_sp JOIN per_p ON per_sp.l_partkey = per_p.l_partkey
          WHERE qty > 0.1 * total
            AND per_sp.l_partkey IN
                (SELECT p_partkey FROM part WHERE p_type = 'PROMO'))
    """,
)
def q_q20(spark, sf_dir):
    """TPC-H Q20 shape: suppliers holding a significant share of any
    promo part's volume — nested IN subqueries over two derived
    aggregates of the same fact (per-(supp,part) vs per-part totals).
    Quantity sums are integer-valued doubles → the 10%-share comparison
    is exact in both engines; both INs plan as semi joins."""
    for n in ("lineitem", "part", "supplier", "nation"):
        load_table(spark, sf_dir, n).createOrReplaceTempView(f"v_{n}")
    return spark.sql(
        """
        WITH per_sp AS (
            SELECT l_suppkey, l_partkey, SUM(l_quantity) AS qty
            FROM v_lineitem GROUP BY l_suppkey, l_partkey
        ),
        per_p AS (
            SELECT l_partkey, SUM(l_quantity) AS total FROM v_lineitem GROUP BY l_partkey
        )
        SELECT s_suppkey, s_name, n_name
        FROM v_supplier JOIN v_nation ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_5', 'NATION_8')
          AND s_suppkey IN (
              SELECT per_sp.l_suppkey
              FROM per_sp JOIN per_p ON per_sp.l_partkey = per_p.l_partkey
              WHERE qty > 0.1 * total
                AND per_sp.l_partkey IN
                    (SELECT p_partkey FROM v_part WHERE p_type = 'PROMO'))
        """
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 45 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 45 DAY)
    GROUP BY s_name
    """,
)
def q_q21(spark, sf_dir):
    """TPC-H Q21 shape: the hardest subquery pattern in the suite — an
    EXISTS (some other supplier on the order) AND a NOT EXISTS (no other
    supplier was ALSO late) both correlated on the same fact table, with
    the NOT EXISTS additionally referencing the outer orders table's
    o_orderdate. Catalyst decorrelates to a left-semi plus a left-anti
    hash join on l_orderkey (lateness = shipdate > orderdate + 45d; the
    fixtures have no receipt/commit dates)."""
    for n in ("lineitem", "orders", "supplier", "nation"):
        load_table(spark, sf_dir, n).createOrReplaceTempView(f"v_{n}")
    return spark.sql(
        """
        SELECT s_name, COUNT(*) AS numwait
        FROM v_supplier
        JOIN v_lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN v_orders ON o_orderkey = l1.l_orderkey
        JOIN v_nation ON n_nationkey = s_nationkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 45 DAY
          AND EXISTS (SELECT 1 FROM v_lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM v_lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o_orderdate + INTERVAL 45 DAY)
        GROUP BY s_name
        """
    )
