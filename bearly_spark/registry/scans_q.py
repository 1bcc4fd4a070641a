"""File-format and layout scans: CSV/JSON/ORC/XML, partitioned, clustered, Z-ordered."""

from __future__ import annotations

import pyspark.sql.functions as F

from bearly_spark.sources.tables import load_table, read_parquet

from bearly_spark.cache import SCRATCH, sf_tag
from bearly_spark.registry._core import register


@register(
    "csv_scan_nation",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_name
    FROM nation GROUP BY n_regionkey
    """,
)
def q_csv_scan(spark, sf_dir):
    """CSV sink + scan round trip: write nation as headered CSV, read it
    back with an explicit schema (no inference job), aggregate. Exercises
    the text-source path end to end; correctness = parquet-derived oracle."""
    path = f"{SCRATCH}/{sf_tag(sf_dir)}/nation_csv"
    load_table(spark, sf_dir, "nation").write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema("n_nationkey int, n_name string, n_regionkey int").option(
        "header", True
    ).csv(path)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"), F.min("n_name").alias("first_name")
    )


@register(
    "json_scan_orders",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS sum_total
    FROM orders WHERE o_orderkey % 10 = 0
    GROUP BY o_orderstatus
    """,
)
def q_json_scan(spark, sf_dir):
    """JSON-lines sink + scan round trip (explicit schema on read)."""
    path = f"{SCRATCH}/{sf_tag(sf_dir)}/orders_json"
    (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .json(path)
    )
    back = spark.read.schema(
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double"
    ).json(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
    )


@register(
    "orc_scan_supplier",
    oracle="""
    SELECT n_name, COUNT(*) AS n_suppliers, ROUND(SUM(s_acctbal), 2) AS sum_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_orc_scan(spark, sf_dir):
    """ORC sink + scan round trip (columnar format #2), then a broadcast
    dim join — correctness = parquet-derived oracle."""
    path = f"{SCRATCH}/{sf_tag(sf_dir)}/supplier_orc"
    load_table(spark, sf_dir, "supplier").write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    nat = load_table(spark, sf_dir, "nation")
    return (
        back.join(F.broadcast(nat), back.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"), F.round(F.sum("s_acctbal"), 2).alias("sum_bal"))
    )


@register(
    "partitioned_scan_orders",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def q_partitioned_scan(spark, sf_dir):
    """Hive-partitioned parquet sink + partition-pruned scan: write orders
    laid out as ``o_orderstatus=<v>/`` directories, read back with a
    partition predicate — the scan lists ONLY the matching directory
    (PartitionFilters; zero I/O against other partitions). At 100 TB this
    is the difference between scanning 1/3 of the table and all of it;
    the pruning itself is asserted on the physical plan in
    tests/test_sinks.py. The sink write runs on every call and is part
    of the measured work, not a cacheable setup step."""
    path = f"{SCRATCH}/{sf_tag(sf_dir)}/orders_part"
    load_table(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(path)
    back = read_parquet(spark, path)
    return (
        back.filter(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "clustered_scan_lineitem",
    oracle="""
    SELECT CAST(EXTRACT(month FROM l_shipdate) AS INTEGER) AS ship_month,
           COUNT(*) AS n_items, ROUND(SUM(l_extendedprice), 2) AS total_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-03-01' AND l_shipdate < TIMESTAMP '1995-06-01'
    GROUP BY 1
    """,
)
def q_clustered_scan(spark, sf_dir):
    """Range-clustered data layout: repartitionByRange + sortWithinPartitions
    on l_shipdate before writing, so each parquet file (and row group) holds
    a narrow, near-disjoint shipdate span — a time filter then prunes whole
    files/row-groups via min/max statistics instead of scanning everything.
    The hive-partition complement for high-cardinality ordering keys where
    one-directory-per-value would explode. Clustering quality (disjoint
    file spans) is asserted in tests/test_sinks.py. The clustered write
    runs on every call and is part of the measured work, not a cacheable
    setup step."""
    path = f"{SCRATCH}/{sf_tag(sf_dir)}/lineitem_clustered"
    li = load_table(spark, sf_dir, "lineitem")
    (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = read_parquet(spark, path)
    return (
        back.filter(
            (F.col("l_shipdate") >= F.lit("1995-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-06-01").cast("timestamp"))
        )
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


@register(
    "zorder_scan_lineitem",
    oracle="""
    SELECT COUNT(*) AS n_items,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           ROUND(SUM(l_extendedprice), 2) AS total_price
    FROM lineitem
    WHERE l_partkey <= 5000 AND l_suppkey <= 250
    """,
)
def q_zorder_scan(spark, sf_dir):
    """Z-order (Morton) clustered layout: lineitem rewritten with the bits
    of grid-normalized (l_partkey, l_suppkey) interleaved into one sort
    key, so each parquet file holds a compact RECTANGLE of the 2-D key
    space and a conjunctive predicate on EITHER/BOTH columns prunes whole
    files via footer min/max stats — the multi-dimensional complement of
    ``clustered_scan_lineitem``'s single-key range clustering (where the
    second column spans its full domain in every file). Layout quality
    (per-file spans bounded on BOTH dimensions simultaneously) is
    asserted in tests/test_sinks.py. The Z-order write runs on every call
    and is part of the measured work, not a cacheable setup step."""
    from bearly_spark.operators.layout import zorder_write

    path = f"{SCRATCH}/{sf_tag(sf_dir)}/lineitem_zorder"
    li = load_table(spark, sf_dir, "lineitem")
    zorder_write(li, path, ["l_partkey", "l_suppkey"], bits=16, num_files=8)
    back = read_parquet(spark, path)
    return (
        back.filter((F.col("l_partkey") <= 5000) & (F.col("l_suppkey") <= 250))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )




@register(
    "xml_scan_supplier",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS n_supp, ROUND(SUM(s_acctbal), 2) AS sum_bal
    FROM supplier GROUP BY s_nationkey
    """,
)
def q_xml_scan(spark, sf_dir):
    """XML sink + scan round trip (Spark 4 ships the XML datasource
    in-core): write supplier as <row> elements, read back with an
    explicit schema (no inference job), aggregate. Completes the
    file-format family: parquet/CSV/JSON/ORC/text/binary/XML."""
    path = f"{SCRATCH}/{sf_tag(sf_dir)}/supplier_xml"
    (
        load_table(spark, sf_dir, "supplier")
        .write.mode("overwrite")
        .option("rowTag", "supplier")
        .format("xml")
        .save(path)
    )
    back = (
        spark.read.schema("s_suppkey long, s_name string, s_nationkey int, s_acctbal double")
        .option("rowTag", "supplier")
        .format("xml")
        .load(path)
    )
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.round(F.sum("s_acctbal"), 2).alias("sum_bal"),
    )
