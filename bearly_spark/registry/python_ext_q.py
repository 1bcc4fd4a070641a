"""Python extension points: pandas UDF/UDAF/UDTF, cogroup, Arrow-native batch transforms."""

from __future__ import annotations

import pyspark.sql.functions as F

from bearly_spark.sources.tables import load_table

from bearly_spark.registry._core import register


# ===================================================================
# UDF / UDAF surface — SURVEY §2.2 user-extension row
# ===================================================================


@register(
    "pandas_udf_charge",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pandas_udf_charge(spark, sf_dir):
    """Scalar Arrow-batched UDF path (the sanctioned Python extension
    point): per-row charge in numpy, JVM-side aggregation on top.

    Lambda form: ``from __future__ import annotations`` stringifies
    signature annotations, which pandas_udf cannot introspect.
    """
    charge = F.pandas_udf(
        lambda price, disc, tax: price * (1.0 - disc) * (1.0 + tax), "double"
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.withColumn("c", charge("l_extendedprice", "l_discount", "l_tax"))
        .groupBy("l_returnflag")
        .agg(F.round(F.sum("c"), 2).alias("sum_charge"))
    )


@register(
    "udaf_weighted_avg_price",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4) AS w_avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_udaf_weighted_avg(spark, sf_dir):
    """UDAF surface via applyInPandas: quantity-weighted mean price per
    return flag, computed in pandas per group (Arrow exchange both ways)."""
    import pandas as pd

    def wavg(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "w_avg_price": [
                    round(
                        float(
                            (pdf["l_extendedprice"] * pdf["l_quantity"]).sum()
                            / pdf["l_quantity"].sum()
                        ),
                        4,
                    )
                ],
            }
        )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return li.groupBy("l_returnflag").applyInPandas(
        wavg, "l_returnflag string, w_avg_price double"
    )


@register(
    "udtf_tokenize_docs",
    oracle="""
    WITH d AS (SELECT doc_id, [x for x in string_split_regex(text, '\\s+') if x <> ''] AS toks
               FROM documents WHERE doc_id < 20)
    SELECT doc_id,
           CAST(generate_subscripts(toks, 1) - 1 AS INTEGER) AS pos,
           unnest(toks) AS tok
    FROM d
    """,
)
def q_udtf(spark, sf_dir):
    """Python UDTF surface (Spark 4 @udtf): lateral-join tokenizer emitting
    (pos, tok) rows per document. UDTFs run row-at-a-time in Python — fine
    for control-plane expansion like this, wrong for bulk transforms (use
    mapInPandas there)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, tok string")
    class TokenizeUdtf:
        def eval(self, text: str):
            for i, t in enumerate((text or "").split()):
                yield i, t

    spark.udtf.register("bearly_tokenize", TokenizeUdtf)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    d.createOrReplaceTempView("_bearly_docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.tok
        FROM _bearly_docs_udtf d, LATERAL bearly_tokenize(d.text) s
        """
    )


@register(
    "cogroup_user_behavior",
    oracle="""
    WITH p AS (SELECT user_id, COUNT(*) AS n_purchases,
                      ROUND(SUM(value), 2) AS purchase_value
               FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    o AS (SELECT user_id, COUNT(*) AS n_other
          FROM events WHERE event_type <> 'purchase' GROUP BY user_id)
    SELECT COALESCE(p.user_id, o.user_id) AS user_id,
           COALESCE(n_purchases, 0) AS n_purchases,
           COALESCE(purchase_value, 0.0) AS purchase_value,
           COALESCE(n_other, 0) AS n_other
    FROM p FULL OUTER JOIN o ON p.user_id = o.user_id
    """,
)
def q_cogroup(spark, sf_dir):
    """cogroup().applyInPandas: both groups for a key delivered to ONE
    Python function as two pandas frames — the escape hatch for per-key
    logic that needs both sides at once (custom as-of merges, per-entity
    reconciliation) without a pre-join. One shuffle per side on the key;
    Arrow-batched transfer. Here: purchase vs non-purchase behavior per
    user, so the result is SQL-checkable against a full-outer-join twin."""
    import pandas as pd

    # Prune to the consumed columns BEFORE the cogroup: every column in
    # the grouped frames crosses the JVM->Python Arrow boundary once per
    # key — shipping the wide event rows (json props, timestamps) tripled
    # the query's wall clock at sf0.1.
    ev = load_table(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "value")
        .groupBy("user_id")
    )
    others = (
        ev.filter(F.col("event_type") != "purchase").select("user_id").groupBy("user_id")
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        uid = left["user_id"].iloc[0] if len(left) else right["user_id"].iloc[0]
        return pd.DataFrame(
            {
                "user_id": [int(uid)],
                "n_purchases": [len(left)],
                "purchase_value": [round(float(left["value"].sum()), 2) if len(left) else 0.0],
                "n_other": [len(right)],
            }
        )

    return purchases.cogroup(others).applyInPandas(
        merge, "user_id long, n_purchases long, purchase_value double, n_other long"
    )




@register(
    "arrow_grouped_discount_stats",
    oracle="""
    SELECT l_linestatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_extendedprice * l_discount), 2) AS discount_amount
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q_apply_in_arrow(spark, sf_dir):
    """Spark 4 arrow-NATIVE grouped map (``applyInArrow``): the zero-copy
    sibling of applyInPandas — groups arrive as ``pyarrow.Table`` and
    aggregate via pyarrow.compute kernels, skipping the pandas
    conversion entirely (the fastest Python-UDF path for columnar
    math)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(t: "pa.Table") -> "pa.Table":
        amount = pc.multiply(t["l_extendedprice"], t["l_discount"])
        return pa.table(
            {
                "l_linestatus": [t["l_linestatus"][0].as_py()],
                "n_rows": [t.num_rows],
                "discount_amount": [round(pc.sum(amount).as_py(), 2)],
            }
        )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_linestatus", "l_extendedprice", "l_discount"
    )
    return li.groupBy("l_linestatus").applyInArrow(
        stats, "l_linestatus string, n_rows long, discount_amount double"
    )


@register(
    "arrow_map_charge_buckets",
    oracle="""
    SELECT CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) / 10000)
                AS BIGINT) AS charge_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem GROUP BY charge_bucket
    """,
)
def q_map_in_arrow(spark, sf_dir):
    """Spark 4 ``mapInArrow``: per-batch pyarrow.compute transformation
    (charge formula + bucketing) with no pandas materialization, feeding
    a JVM-side aggregate — the pattern for Python columnar math inside
    an otherwise built-in pipeline."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def charge(batches):
        for b in batches:
            amount = pc.multiply(
                pc.multiply(
                    b["l_extendedprice"], pc.subtract(pa.scalar(1.0), b["l_discount"])
                ),
                pc.add(pa.scalar(1.0), b["l_tax"]),
            )
            bucket = pc.floor(pc.divide(amount, pa.scalar(10000.0)))
            yield pa.RecordBatch.from_arrays(
                [pc.cast(bucket, pa.int64())], names=["charge_bucket"]
            )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_discount", "l_tax"
    )
    mapped = li.mapInArrow(charge, "charge_bucket long")
    return mapped.groupBy("charge_bucket").agg(F.count(F.lit(1)).alias("n_items"))
