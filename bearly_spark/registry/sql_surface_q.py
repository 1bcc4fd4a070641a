"""Scalar function packs (string/date/math/json/array/map/regexp/variant) and Spark-4 SQL-language surfaces (pipe syntax, variables, parameter markers, scripting, recursive CTE)."""

from __future__ import annotations

import pyspark.sql.functions as F

from bearly_spark.operators import relational as R
from bearly_spark.operators import similarity as S
from bearly_spark.sources.tables import load_table

from bearly_spark.registry._core import register


# ===================================================================
# Scalar function packs (string / date / math / json / array)
# ===================================================================


@register(
    "string_funcs_part",
    oracle="""
    SELECT p_partkey, UPPER(p_name) AS name_upper, LENGTH(p_name) AS name_len,
           SUBSTRING(p_type, 1, 5) AS type_prefix,
           CONCAT(p_brand, '#', CAST(p_size AS VARCHAR)) AS brand_size,
           REPLACE(p_name, ' ', '_') AS name_snake
    FROM part
    """,
)
def q_string_funcs(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_size").cast("string")).alias(
            "brand_size"
        ),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
    )


@register(
    "date_funcs_orders",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS o_month,
           COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders GROUP BY 1, 2
    """,
)
def q_date_funcs(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
            "o_totalprice",
        )
        .groupBy("o_year", "o_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "math_funcs_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(SQRT(l_extendedprice), 6) AS sqrt_price,
           ROUND(LN(l_extendedprice + 1), 6) AS ln_price,
           CAST(CEIL(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
           CAST(FLOOR(l_tax * 100) AS BIGINT) AS tax_pct_floor,
           ROUND(ABS(l_quantity - 25.0), 2) AS qty_dev
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber LIMIT 500
    """,
)
def q_math_funcs(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return R.sort_limit(
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_price"),
            F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("ln_price"),
            F.ceil(F.col("l_discount") * 100).cast("long").alias("disc_pct_ceil"),
            F.floor(F.col("l_tax") * 100).cast("long").alias("tax_pct_floor"),
            F.round(F.abs(F.col("l_quantity") - 25.0), 2).alias("qty_dev"),
        ),
        [F.asc("l_orderkey"), F.asc("l_linenumber")],
        500,
    )


@register(
    "json_extract_events",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1
    """,
)
def q_json_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("long").alias("k"), "value"
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "array_funcs_embeddings",
    oracle="""
    SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
           ROUND(SQRT(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                for x in embedding])), 4) AS l2_norm,
           label
    FROM embeddings
    """,
)
def q_array_funcs(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(S.l2_norm(F.col("embedding")), 4).alias("l2_norm"),
        "label",
    )


@register(
    "map_funcs_events",
    oracle="""
    SELECT event_id,
           array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_value
    FROM events WHERE event_id < 200
    """,
)
def q_map_funcs(spark, sf_dir):
    """Map-typed column surface: parse the JSON props into map<string,long>,
    then map_keys / element_at. The key list is emitted as a sorted
    comma-joined STRING, not array<string> — the driver harness's
    canonical sort crashes on unhashable list cells (r10:
    ``TypeError: unhashable type: 'list'`` in pandas sort_values)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return ev.select(
        "event_id",
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("prop_keys"),
        F.element_at(m, "k").alias("k_value"),
    )


@register(
    "regexp_funcs_documents",
    oracle="""
    SELECT lang,
           COUNT(*) FILTER (WHERE regexp_matches(text, 'spark\\s+\\w+ine')) AS n_spark_ine,
           CAST(SUM(len(regexp_extract_all(text, '\\b(merge|join)\\b'))) AS BIGINT)
             AS n_merge_join,
           CAST(COUNT(DISTINCT regexp_extract(text, '([a-z]{6,})', 1)) AS BIGINT)
             AS n_first_long_words
    FROM documents GROUP BY lang
    """,
)
def q_regexp_funcs(spark, sf_dir):
    """Regexp expression pack: rlike predicate (conditional count),
    regexp_count-style match totals via regexp_extract_all, and
    regexp_extract first-group capture — all JVM-side codegen expressions
    (no UDF)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.when(F.col("text").rlike(r"spark\s+\w+ine"), 1)).alias("n_spark_ine"),
        F.sum(F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\b(merge|join)\b")))).alias(
            "n_merge_join"
        ),
        F.countDistinct(F.regexp_extract("text", "([a-z]{6,})", 1)).alias(
            "n_first_long_words"
        ),
    )


@register(
    "variant_events_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
             AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
             AS max_k,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def q_variant_props(spark, sf_dir):
    """Spark 4 VARIANT ingestion: parse_json once into a binary-encoded
    variant column, then typed variant_get extraction — the
    schema-on-read path for ragged semi-structured payloads (no schema
    inference pass over 100 TB, unlike from_json; unchanged fields stay
    un-shredded bytes)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    k = F.variant_get(F.col("v"), "$.k", "int").cast("long")
    return v.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.count(F.lit(1)).alias("n_events"),
    )




@register(
    "recursive_order_hierarchy",
    oracle="""
    WITH RECURSIVE walk(key, root, depth) AS (
        SELECT o_orderkey, o_orderkey, 0
        FROM orders o WHERE o.o_orderkey < 10
        UNION ALL
        SELECT c.o_orderkey, w.root, w.depth + 1
        FROM walk w JOIN orders c
          ON c.o_orderkey >= 10 AND c.o_orderkey // 10 = w.key
    )
    SELECT root, COUNT(*) AS tree_size, MAX(depth) AS max_depth
    FROM walk GROUP BY root
    """,
)
def q_recursive_hierarchy(spark, sf_dir):
    """Recursive CTE (new in Spark 4.1): BOM/org-chart-style hierarchy
    walk — single-digit orderkeys are roots (the keyspace is dense from
    0, so a no-parent-present test finds none and 0 would self-loop),
    children attach via the derived parent edge key DIV 10, and each tree reports size and
    max depth. One join per recursion level, each level a normal
    shuffle-planned batch (Spark executes recursive CTEs as iterative
    UNION ALL steps — same execution shape as the hand-rolled loops in
    ``dedup.connected_components``, but expressed declaratively).
    UNION-distinct recursion (cyclic closure) is not yet supported in
    Spark 4.1 — cyclic graphs stay on the connected-components
    operators."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        WITH RECURSIVE walk(key, root, depth) AS (
            SELECT o_orderkey, o_orderkey, 0
            FROM v_orders o WHERE o.o_orderkey < 10
            UNION ALL
            SELECT c.o_orderkey, w.root, w.depth + 1
            FROM walk w JOIN v_orders c
              ON c.o_orderkey >= 10 AND c.o_orderkey DIV 10 = w.key
        )
        SELECT root, COUNT(*) AS tree_size, MAX(depth) AS max_depth
        FROM walk GROUP BY root
        """
    )




# ----- Spark 4 SQL-language surfaces (pipe syntax, variables, ---------
# ----- parameter markers, procedural scripting) -----------------------


@register(
    "pipe_syntax_orders",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders WHERE o_totalprice > 1000 GROUP BY o_orderstatus
    """,
)
def q_pipe_syntax(spark, sf_dir):
    """SQL pipe syntax (Spark 4.0+, `|>`): linear dataflow SQL — each
    stage reads top-to-bottom like a DataFrame chain. Compiles to the
    SAME logical plan as the classic formulation (the oracle), so this
    pins both the parser surface and plan equivalence."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_pipe")
    return spark.sql(
        """
        FROM v_orders_pipe
        |> WHERE o_totalprice > 1000
        |> AGGREGATE COUNT(*) AS n_orders,
                     ROUND(SUM(o_totalprice), 2) AS total_price
           GROUP BY o_orderstatus
        |> SELECT o_orderstatus, n_orders, total_price
        """
    )


@register(
    "sql_variables_orders",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders WHERE o_totalprice > 150000.0 GROUP BY o_orderpriority
    """,
)
def q_sql_variables(spark, sf_dir):
    """Session variables (Spark 4: DECLARE / SET VARIABLE): server-side
    named state usable in any later statement — the SQL-native way to
    parameterize dashboards/jobs without string interpolation."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_var")
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("SET VARIABLE price_floor = 150000.0")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM v_orders_var WHERE o_totalprice > price_floor
        GROUP BY o_orderpriority
        """
    )


@register(
    "parameterized_orders",
    oracle="""
    SELECT o_orderstatus, ROUND(AVG(o_totalprice), 2) AS avg_price
    FROM orders WHERE o_custkey % 10 = 3 GROUP BY o_orderstatus
    """,
)
def q_parameterized(spark, sf_dir):
    """Named parameter markers (spark.sql(..., args={...})): values bind
    as literals in the plan — injection-safe, cache-friendly
    parameterization (the PySpark twin of a prepared statement)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_param")
    return spark.sql(
        """
        SELECT o_orderstatus, ROUND(AVG(o_totalprice), 2) AS avg_price
        FROM v_orders_param WHERE o_custkey % :modulus = :bucket
        GROUP BY o_orderstatus
        """,
        args={"modulus": 10, "bucket": 3},
    )


@register(
    "sql_scripting_orders",
    oracle="""
    SELECT 'F' AS status_checked, COUNT(*) AS n_orders FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def q_sql_scripting(spark, sf_dir):
    """SQL scripting (Spark 4.1: BEGIN ... END with DECLARE/SET and
    control flow): procedural multi-statement logic executed entirely
    engine-side; the script's final statement is the result set."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_script")
    return spark.sql(
        """
        BEGIN
          DECLARE chosen STRING DEFAULT 'O';
          SET chosen = 'F';
          SELECT chosen AS status_checked, COUNT(*) AS n_orders
          FROM v_orders_script WHERE o_orderstatus = chosen;
        END
        """
    )
