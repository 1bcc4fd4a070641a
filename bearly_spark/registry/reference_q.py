"""Reference-parity surface (SURVEY §2.1): the bearly sum/produce API over Arrow interchange."""

from __future__ import annotations

from bearly_spark.operators.aggregate import sum_int64
from bearly_spark.producers import produce_array, produce_stream
from bearly_spark.sources.tables import load_table

from bearly_spark.registry._core import register


# ===================================================================
# Reference-parity surface (SURVEY §2.1)
# ===================================================================


@register(
    "sum_lineitem_int64",
    oracle="""
    SELECT CAST(COALESCE(SUM(l_orderkey), 0) AS BIGINT) AS l_orderkey,
           CAST(COALESCE(SUM(l_partkey), 0) AS BIGINT)  AS l_partkey,
           CAST(COALESCE(SUM(l_suppkey), 0) AS BIGINT)  AS l_suppkey
    FROM lineitem
    """,
)
def q_sum_lineitem(spark, sf_dir):
    """Flagship: the reference's sum over every int64 column of lineitem
    (type-gated projection O2 + columnar sum O3, bearly_ext.cc:26-90)."""
    return sum_int64(load_table(spark, sf_dir, "lineitem"))


@register(
    "produce_array",
    oracle="SELECT * FROM (VALUES (42), (555), (NULL)) t(awesome_numbers)",
)
def q_produce_array(spark, sf_dir):
    return produce_array(spark)


@register(
    "produce_stream",
    oracle="""
    SELECT * FROM (VALUES (CAST(42 AS INTEGER), CAST(555 AS BIGINT)),
                          (84, 1110), (NULL, NULL)) t(column0, column1)
    """,
)
def q_produce_stream(spark, sf_dir):
    return produce_stream(spark)


@register(
    "sum_produce_stream",
    oracle="SELECT CAST(1665 AS BIGINT) AS column1",
)
def q_sum_produce_stream(spark, sf_dir):
    """Golden-pin: sum(produce_stream()) drops the int32 column and null
    counts as 0 → one row {column1: 1665} (reference test semantics)."""
    return sum_int64(produce_stream(spark))
