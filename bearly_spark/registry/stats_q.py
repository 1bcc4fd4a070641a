"""Feature prep, robust statistics and sketches: standardization, correlation, winsorization, MAD/IQR/z-score outliers, Gini, survival, RFM, basket rules, CMS/Bloom, drift reports."""

from __future__ import annotations

import pyspark.sql.functions as F

from bearly_spark.operators import relational as R
from bearly_spark.operators import rounding as _R
from bearly_spark.sources.tables import load_table

from bearly_spark.registry._core import register
from bearly_spark.cache import derived_dir
from bearly_spark.registry._shared import quantile_cuts_sql

# Exact-integer quantile cut blocks (round-8 midpoint audit: every
# FLOOR(quantile_cont(..)·10^d + 0.5) site is a cross-build landmine;
# the generator replays exact_percentiles' integer index/interpolation
# arithmetic). Sources name CTEs defined in the host oracle strings.
_Q_RFM = [
    quantile_cuts_sql("agg", col, [0.25, 0.50, 0.75],
                      [f"{tag}{k}" for k in (1, 2, 3)], scale=s)
    for col, tag, s in [("r_days", "r", 0), ("f", "f", 0), ("m", "m", 2)]
]



@register(
    "basket_rules_lineitem",
    oracle="""
    WITH b AS (SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
               FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    pairs AS (SELECT l.item AS item_a, r.item AS item_b, COUNT(*) AS pair_count
              FROM b l JOIN b r ON l.basket = r.basket AND l.item < r.item
              GROUP BY 1, 2 HAVING COUNT(*) >= 5),
    rules AS (SELECT item_a AS antecedent, item_b AS consequent, pair_count FROM pairs
              UNION ALL
              SELECT item_b, item_a, pair_count FROM pairs),
    ic AS (SELECT item, COUNT(*) AS cnt FROM b GROUP BY 1),
    t AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM b)
    SELECT antecedent, consequent, pair_count,
           ROUND(CAST(pair_count AS DOUBLE) / n_baskets, 6) AS support,
           ROUND(CAST(pair_count AS DOUBLE) / ca.cnt, 6) AS confidence,
           ROUND((CAST(pair_count AS DOUBLE) / ca.cnt)
                 / (CAST(cb.cnt AS DOUBLE) / n_baskets), 6) AS lift,
           ROUND(CAST(pair_count AS DOUBLE)
                 / (sqrt(CAST(ca.cnt AS DOUBLE)) * sqrt(CAST(cb.cnt AS DOUBLE))),
                 6) AS cosine
    FROM rules JOIN ic ca ON rules.antecedent = ca.item
               JOIN ic cb ON rules.consequent = cb.item, t
    """,
)
def q_basket_rules(spark, sf_dir):
    """Market-basket association rules (``mining.association_rules``):
    orders are baskets, part BRANDS the items (joined via a broadcast
    part dim) — support / confidence / lift per directed rule with ≥5
    co-occurrences. Pairwise Apriori core: one distinct pass, one
    basket-keyed self-join bounded by Σ basket_size², counts broadcast;
    ratio SHAPE fixed (lift = confidence ÷ consequent-support) so the
    IEEE doubles reproduce exactly in the twin."""
    from bearly_spark.operators.mining import association_rules

    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    baskets = li.join(
        F.broadcast(pt.select("p_partkey", "p_brand")),
        li["l_partkey"] == pt["p_partkey"],
    ).select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
    return association_rules(baskets, "basket", "item", min_pair_count=5)


@register(
    "anomaly_zscore_orders",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
                 AS revenue
      FROM orders GROUP BY 1),
    w AS (
      SELECT day, revenue,
             COUNT(revenue) OVER win AS prev_n,
             SUM(revenue) OVER win AS s,
             -- DECIMAL(19,2) widening forces int128 multiplication:
             -- sf0.1 daily revenues (~1.6e7, 1.6e9 hundredths) square
             -- past DuckDB's int64 DECIMAL(18) product path (round-7
             -- midpoint-audit discovery — the unwidened form errors at
             -- sf0.1); values are identical where both run
             SUM(CAST(revenue AS DECIMAL(19,2)) * revenue) OVER win AS ss
      FROM daily
      WINDOW win AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
    sc AS (
      SELECT day, revenue, prev_n,
             CAST(s AS DOUBLE) / prev_n AS m,
             (CAST(ss AS DOUBLE) - prev_n * (CAST(s AS DOUBLE) / prev_n)
                                          * (CAST(s AS DOUBLE) / prev_n))
                 / (prev_n - 1) AS var
      FROM w)
    SELECT CAST(day - DATE '1992-01-01' AS INTEGER) AS day_idx,
           CAST(revenue * 100 AS BIGINT) AS revenue_cents, prev_n,
           CASE WHEN prev_n = 7 AND var > 0
                THEN ROUND((CAST(revenue AS DOUBLE) - m) / sqrt(var), 6) END AS z,
           CASE WHEN prev_n = 7 AND var > 0
                THEN abs(ROUND((CAST(revenue AS DOUBLE) - m) / sqrt(var), 6)) > 2.5
                END AS is_anomaly
    FROM sc
    """,
)
def q_anomaly_zscore(spark, sf_dir):
    """Trailing-7-day z-score anomaly detection
    (``windows.rolling_zscore``) over the daily revenue series: each
    day scored against the previous week's mean/std. Daily sums are
    exact DECIMAL (order-independent), the z arithmetic a fixed IEEE
    tree on those sums, so the twin reproduces every 6dp z exactly;
    zero-variance baselines report NULL, not ±inf. The compared
    surface is integer/double-only (r10 verdict: the driver's hasher
    diverges on DATE/DECIMAL output columns while values are equal —
    ``day_idx INT`` = days since 1992-01-01, ``revenue_cents BIGINT``
    = the exact DECIMAL(18,2) scaled to cents)."""
    from bearly_spark.operators.windows import rolling_zscore

    od = load_table(spark, sf_dir, "orders")
    daily = od.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("decimal(18,2)")
        .alias("revenue")
    )
    z = rolling_zscore(daily, "day", "revenue", n=7, z_thresh=2.5)
    return z.select(
        F.datediff(F.col("day"), F.lit("1992-01-01").cast("date"))
        .cast("int")
        .alias("day_idx"),
        (F.col("revenue") * 100).cast("long").alias("revenue_cents"),
        "prev_n",
        "z",
        "is_anomaly",
    )


@register(
    "rfm_segments_customer",
    oracle=f"""
    WITH agg AS (SELECT o_custkey,
                        CAST(MAX(CAST(o_orderdate AS DATE)) - DATE '1992-01-01'
                             AS BIGINT) AS r_days,
                        COUNT(*) AS f, ROUND(SUM(o_totalprice), 2) AS m
                 FROM orders GROUP BY o_custkey),
    c AS (SELECT * FROM
          ({_Q_RFM[0]}) tr, ({_Q_RFM[1]}) tf, ({_Q_RFM[2]}) tm)
    SELECT o_custkey,
           1 + (CASE WHEN r_days > r1 THEN 1 ELSE 0 END)
             + (CASE WHEN r_days > r2 THEN 1 ELSE 0 END)
             + (CASE WHEN r_days > r3 THEN 1 ELSE 0 END) AS r_score,
           1 + (CASE WHEN f > f1 THEN 1 ELSE 0 END)
             + (CASE WHEN f > f2 THEN 1 ELSE 0 END)
             + (CASE WHEN f > f3 THEN 1 ELSE 0 END) AS f_score,
           1 + (CASE WHEN m > m1 THEN 1 ELSE 0 END)
             + (CASE WHEN m > m2 THEN 1 ELSE 0 END)
             + (CASE WHEN m > m3 THEN 1 ELSE 0 END) AS m_score
    FROM agg, c
    """,
)
def q_rfm_segments(spark, sf_dir):
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic marketing-analytics scoring: per-customer last-order
    recency, order count and total spend, each quartile-scored 1-4
    against the population via the same cutpoint rule as the equi-depth
    histogram (exact quantile_cont cutpoints rounded to 4dp before
    assignment; ties stick to the lower score). One groupBy over
    orders, one distributed-selection cutpoint pass per metric (r9 —
    no single-task sort) over the (small)
    per-customer aggregate, then a broadcast 1-row cutpoint frame into
    a map-only score expression — Θ(customers) end to end. The three
    1-row cut frames ride the shared fixture-keyed cache (round 12)."""
    from bearly_spark.operators.aggregate import bucket_assign
    from bearly_spark.registry._shared import cached_percentiles

    od = load_table(spark, sf_dir, "orders")
    agg = od.groupBy("o_custkey").agg(
        F.datediff(
            F.max(F.col("o_orderdate").cast("date")), F.lit("1992-01-01").cast("date")
        )
        .cast("long")
        .alias("r_days"),
        F.count(F.lit(1)).alias("f"),
        F.round(F.sum("o_totalprice"), 2).alias("m"),
    )
    qs = (0.25, 0.50, 0.75)
    cuts = None
    for col in ("r_days", "f", "m"):
        # scale inference: r_days/f are integral (scale 0), m is a
        # 2dp-rounded double (scale 2) — matching the twin's cut blocks
        c = cached_percentiles(
            spark, sf_dir, ["orders"], f"rfm-{col}", lambda: agg,
            [], col, qs, names=[f"_{col}{k}" for k in (1, 2, 3)],
            scale=2 if col == "m" else None,
        )
        cuts = c if cuts is None else cuts.crossJoin(c)

    def score(col):
        v = F.col(col) if col == "m" else F.col(col).cast("double")
        return bucket_assign(v, [f"_{col}{k}" for k in (1, 2, 3)])

    return agg.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        score("r_days").alias("r_score"),
        score("f").alias("f_score"),
        score("m").alias("m_score"),
    )


@register(
    "drift_report_orders",
    oracle=f"""
    WITH a AS (SELECT CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                           ELSE o_totalprice END AS v FROM orders),
    c AS ({quantile_cuts_sql(
        "orders", "o_totalprice",
        [k / 10 for k in range(1, 10)], [f"c{k}" for k in range(1, 10)],
    )}),
    pb AS (SELECT 1 + (o_totalprice > c1)::INT + (o_totalprice > c2)::INT
                    + (o_totalprice > c3)::INT + (o_totalprice > c4)::INT
                    + (o_totalprice > c5)::INT + (o_totalprice > c6)::INT
                    + (o_totalprice > c7)::INT + (o_totalprice > c8)::INT
                    + (o_totalprice > c9)::INT AS bucket, COUNT(*) AS n
           FROM orders, c GROUP BY bucket),
    qb AS (SELECT 1 + (v > c1)::INT + (v > c2)::INT + (v > c3)::INT
                    + (v > c4)::INT + (v > c5)::INT + (v > c6)::INT
                    + (v > c7)::INT + (v > c8)::INT + (v > c9)::INT AS bucket,
                  COUNT(*) AS n
           FROM a, c GROUP BY bucket),
    ps AS (SELECT bucket,
                  {_R.rational_micro_sql('n', '(SELECT SUM(n) FROM pb)', 6)}
                      AS pm FROM pb),
    qsh AS (SELECT bucket,
                   {_R.rational_micro_sql('n', '(SELECT SUM(n) FROM qb)', 6)}
                       AS qm FROM qb),
    j AS (SELECT COALESCE(ps.bucket, qsh.bucket) AS bucket,
                 COALESCE(pm, 0) AS pm, COALESCE(qm, 0) AS qm
          FROM ps FULL OUTER JOIN qsh ON ps.bucket = qsh.bucket)
    SELECT bucket,
           CAST(pm AS DOUBLE) / 1000000.0 AS p_before,
           CAST(qm AS DOUBLE) / 1000000.0 AS q_after,
           CASE WHEN pm > 0
                THEN {_R.rational_round_sql(
                    '(qm - pm) * (qm - pm)', '1000000 * pm', 6)}
                END AS chi2_term,
           {_R.rational_round_sql('ABS(qm - pm)', '2000000', 6)} AS tvd_term
    FROM j
    """,
)
def q_drift_report(spark, sf_dir):
    """Distribution-drift monitoring (``quality.drift_report``): the
    order-price distribution BEFORE vs a deterministically shifted
    AFTER state (every 3rd key's price ×1.1 — a 10% shift on a third
    of the mass), bucketed against the BEFORE decile cutpoints, with
    ln-free per-bucket drift statistics (chi-square and TVD
    contributions — PSI's ln is deliberately not emitted: libm ln can
    differ in the last ulp between engines). The ML-ops
    drift-detection face of the DQ family. The BEFORE decile cutpoints
    ride the shared fixture-keyed cache (round 12) — repeated monitoring
    runs re-bucket without re-fitting the snapshot deciles."""
    from bearly_spark.operators.quality import drift_report
    from bearly_spark.registry._shared import cached_percentiles

    od = load_table(spark, sf_dir, "orders")
    before = od.select(F.col("o_totalprice").alias("v"))
    after = od.select(
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * 1.1
        )
        .otherwise(F.col("o_totalprice"))
        .alias("v")
    )
    cuts = cached_percentiles(
        spark, sf_dir, ["orders"], "orders-price-deciles",
        lambda: before.filter(F.col("v").isNotNull()),
        [], "v", tuple(k / 10 for k in range(1, 10)),
        names=[f"_c{k}" for k in range(1, 10)], scale=2,
    )
    return drift_report(before, after, "v", buckets=10, scale=2, cuts=cuts)


@register(
    "outliers_iqr_lineitem",
    oracle=f"""
    WITH q AS ({quantile_cuts_sql(
        "lineitem", "l_extendedprice", [0.25, 0.75], ["q1", "q3"],
        group_by=["l_returnflag"],
    )}),
    f AS (SELECT l_returnflag, ROUND(q1 - 1.5 * (q3 - q1), 6) AS lo_fence,
                 ROUND(q3 + 1.5 * (q3 - q1), 6) AS hi_fence FROM q)
    SELECT li.l_returnflag, COUNT(*) AS n,
           CAST(SUM(CASE WHEN l_extendedprice < lo_fence THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN l_extendedprice > hi_fence THEN 1 ELSE 0 END)
                AS BIGINT) AS n_high,
           MIN(lo_fence) AS lo_fence, MIN(hi_fence) AS hi_fence
    FROM lineitem li JOIN f ON li.l_returnflag = f.l_returnflag
    GROUP BY li.l_returnflag
    """,
)
def q_outliers_iqr(spark, sf_dir):
    """Tukey-fence (1.5×IQR) outlier counts per return-flag group
    (``quality.iqr_outlier_report``) — the anomaly-detection face of
    the DQ family, counts-not-booleans so outlier-mass drift is
    visible. Quartiles via the twin-proven exact percentile
    path; fences are fixed-shape arithmetic on the rounded quartiles
    so both engines flag identically. Round 12: the quartiles are the
    SAME cache entry ``percentiles_lineitem`` serves (its p25/p75
    renamed) — the shared passes run once per fixture for both."""
    from bearly_spark.operators.quality import iqr_outlier_report
    from bearly_spark.registry._shared import cached_percentiles

    li = load_table(spark, sf_dir, "lineitem")
    cuts = cached_percentiles(
        spark, sf_dir, ["lineitem"], "li-price-quartiles",
        lambda: li,
        ["l_returnflag"], "l_extendedprice", (0.25, 0.50, 0.75),
        names=["p25", "p50", "p75"], scale=2,
    ).select(
        "l_returnflag",
        F.col("p25").alias("_q1"),
        F.col("p75").alias("_q3"),
    )
    return iqr_outlier_report(
        li, ["l_returnflag"], "l_extendedprice", k=1.5, scale=2, cuts=cuts
    )


@register(
    "drift_categorical_orders",
    oracle=f"""
    WITH a AS (SELECT CASE WHEN o_orderkey % 5 = 0 THEN '1-URGENT'
                           ELSE o_orderpriority END AS category FROM orders),
    pb AS (SELECT o_orderpriority AS category, COUNT(*) AS n FROM orders GROUP BY 1),
    qb AS (SELECT category, COUNT(*) AS n FROM a GROUP BY 1),
    ps AS (SELECT category,
                  {_R.rational_micro_sql('n', '(SELECT SUM(n) FROM pb)', 6)}
                      AS pm FROM pb),
    qsh AS (SELECT category,
                   {_R.rational_micro_sql('n', '(SELECT SUM(n) FROM qb)', 6)}
                       AS qm FROM qb),
    j AS (SELECT COALESCE(ps.category, qsh.category) AS category,
                 COALESCE(pm, 0) AS pm, COALESCE(qm, 0) AS qm
          FROM ps FULL OUTER JOIN qsh ON ps.category IS NOT DISTINCT FROM qsh.category)
    SELECT category,
           CAST(pm AS DOUBLE) / 1000000.0 AS p_before,
           CAST(qm AS DOUBLE) / 1000000.0 AS q_after,
           CASE WHEN pm > 0
                THEN {_R.rational_round_sql(
                    '(qm - pm) * (qm - pm)', '1000000 * pm', 6)}
                END AS chi2_term,
           {_R.rational_round_sql('ABS(qm - pm)', '2000000', 6)} AS tvd_term
    FROM j
    """,
)
def q_drift_categorical(spark, sf_dir):
    """Categorical drift (``quality.drift_report_categorical``): the
    order-priority distribution before vs an after state where every
    5th key is escalated to 1-URGENT — per-category shares + the same
    ln-free chi-square/TVD contributions as the numeric drift report.
    Categories are the buckets; one-side-only categories get 0.0 on
    the other side (chi2 NULL when the before-share is 0 — the honest
    "new category appeared" signal)."""
    from bearly_spark.operators.quality import drift_report_categorical

    od = load_table(spark, sf_dir, "orders")
    before = od.select(F.col("o_orderpriority").alias("cat"))
    after = od.select(
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("1-URGENT"))
        .otherwise(F.col("o_orderpriority"))
        .alias("cat")
    )
    return drift_report_categorical(before, after, "cat")


@register(
    "winsorize_lineitem",
    oracle=f"""
    WITH c AS ({quantile_cuts_sql(
        "lineitem", "l_extendedprice", [0.01, 0.99], ["lo", "hi"],
    )})
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           LEAST(GREATEST(l_extendedprice, lo), hi) AS l_extendedprice_winsorized,
           LEAST(GREATEST(l_extendedprice, lo), hi) <> l_extendedprice
               AS was_clipped
    FROM lineitem, c
    """,
)
def q_winsorize(spark, sf_dir):
    """Percentile winsorization (``quality.winsorize``): prices clamped
    to the exact [p01, p99] cutpoints (twin-proven distributed-selection
    percentiles, 4dp) attached as a 1-row broadcast — the clip itself
    is map-only LEAST/GREATEST, no second shuffle."""
    from bearly_spark.operators.quality import winsorize

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return winsorize(li, "l_extendedprice", 0.01, 0.99, scale=2)


# ===================================================================
# Join-key skew diagnostics
# ===================================================================


@register(
    "skew_report_lineitem",
    oracle="""
    WITH c AS (SELECT l_suppkey AS key_value, COUNT(*) AS n_rows
               FROM lineitem GROUP BY 1),
    t AS (SELECT COUNT(*) AS total FROM lineitem)
    SELECT key_value, n_rows,
           ROUND(n_rows / total, 6) AS share,
           CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, key_value) AS INTEGER) AS rank
    FROM c, t
    QUALIFY rank <= 10
    """,
)
def q_skew_report(spark, sf_dir):
    """Join-key skew diagnostic (``relational.key_skew_report``): the
    top-10 heaviest l_suppkey values with row shares — the profiling
    step that decides plain-shuffle vs AQE-skew-split vs salted_join
    before a 100 TB fact-fact join. Partial-aggregated counts + a
    bounded rank window; nothing key-space-sized reaches the driver."""
    return R.key_skew_report(load_table(spark, sf_dir, "lineitem"), "l_suppkey", top_n=10)


@register(
    "standardize_lineitem",
    oracle="""
    WITH st AS (SELECT
        COUNT(l_quantity) AS nq,
        SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
        SUM(CAST(l_quantity AS DECIMAL(18,2))
            * CAST(l_quantity AS DECIMAL(18,2))) AS ssq,
        COUNT(l_extendedprice) AS np,
        SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
        SUM(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(l_extendedprice AS DECIMAL(18,2))) AS ssp
      FROM lineitem),
    d AS (SELECT CAST(nq AS DOUBLE) AS nqd, CAST(sq AS DOUBLE) / CAST(nq AS DOUBLE) AS mq,
                 CAST(ssq AS DOUBLE) AS ssqd,
                 CAST(np AS DOUBLE) AS npd, CAST(sp AS DOUBLE) / CAST(np AS DOUBLE) AS mp,
                 CAST(ssp AS DOUBLE) AS sspd
          FROM st),
    v AS (SELECT mq, mp,
                 (ssqd - nqd * mq * mq) / (nqd - 1.0) AS vq,
                 (sspd - npd * mp * mp) / (npd - 1.0) AS vp
          FROM d)
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           CASE WHEN vq > 0
                THEN ROUND((CAST(l_quantity AS DOUBLE) - mq) / sqrt(vq), 6)
           END AS l_quantity_z,
           CASE WHEN vp > 0
                THEN ROUND((CAST(l_extendedprice AS DOUBLE) - mp) / sqrt(vp), 6)
           END AS l_extendedprice_z
    FROM lineitem, v
    """,
)
def q_standardize(spark, sf_dir):
    """Z-score standardization (``quality.standardize``) of two lineitem
    measures in one stats pass — the feature-scaling sibling of
    ``winsorize_lineitem``. Column sums and sums-of-squares are exact
    DECIMAL (order-independent), mean/variance ONE fixed IEEE tree over
    those scalars (the ``rolling_zscore`` determinism contract), the
    1-row stats frame a broadcast, the z map-only."""
    from bearly_spark.operators.quality import standardize

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    return standardize(li, ["l_quantity", "l_extendedprice"])


def _corr_oracle() -> str:
    """Twin of ``correlation_matrix_lineitem``: the one-pass DECIMAL
    sums + fixed IEEE r tree, pair rows via UNION ALL."""
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    sums = ["COUNT(*) AS n"]
    for c in cols:
        d = f"CAST({c} AS DECIMAL(18,2))"
        sums.append(f"SUM({d}) AS s_{c}")
        sums.append(f"SUM({d} * {d}) AS ss_{c}")
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            sums.append(
                f"SUM(CAST({a} AS DECIMAL(18,2)) * CAST({b} AS DECIMAL(18,2)))"
                f" AS sp_{a}_{b}"
            )
    pair_rows = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            expr = (
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, n,\n"
                f"  CASE WHEN (CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE)) > 0\n"
                f"        AND (CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
                f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)) > 0\n"
                f"  THEN ROUND((CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))\n"
                f"    / (sqrt(CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))\n"
                f"       * sqrt(CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
                f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))), 6)\n"
                f"  END AS corr FROM st"
            )
            pair_rows.append(expr)
    return (
        "WITH st AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(pair_rows)
    )


@register("correlation_matrix_lineitem", oracle=_corr_oracle())
def q_correlation_matrix(spark, sf_dir):
    """Pearson correlation matrix (``quality.correlation_matrix``) over
    four lineitem measures in ONE aggregate pass — exact DECIMAL
    Σx/Σx²/Σxy (order-independent under any partitioning), each r a
    fixed IEEE tree over those scalars, zero-variance → NULL. The EDA /
    feature-selection primitive."""
    from bearly_spark.operators.quality import correlation_matrix

    li = load_table(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


_CMS_HASH = (
    "CAST(('0x' || substr(md5(CAST({salt} AS VARCHAR) || ':' "
    "|| CAST({key} AS VARCHAR)), 1, 13))::UBIGINT % {mod} AS BIGINT)"
)


def _cms_freq_oracle() -> str:
    """Shared by the inline-build and index-served CMS queries: counter
    additivity means the union of per-batch deltas sums to exactly the
    batch-built sketch, so both faces answer identically."""
    return f"""
    WITH pairs AS (
      SELECT r, {_CMS_HASH.format(salt="r", key="o_custkey", mod=1024)} AS bucket
      FROM orders, LATERAL unnest([0, 1, 2, 3]) AS t(r)),
    sk AS (SELECT r, bucket, COUNT(*) AS cnt FROM pairs GROUP BY 1, 2),
    topk AS (SELECT o_custkey, COUNT(*) AS true_cnt FROM orders
             GROUP BY 1 ORDER BY true_cnt DESC, o_custkey LIMIT 20),
    probe AS (
      SELECT o_custkey, true_cnt, r,
             {_CMS_HASH.format(salt="r", key="o_custkey", mod=1024)} AS bucket
      FROM topk, LATERAL unnest([0, 1, 2, 3]) AS t(r))
    SELECT o_custkey, true_cnt, MIN(COALESCE(cnt, 0)) AS est
    FROM probe LEFT JOIN sk USING (r, bucket)
    GROUP BY o_custkey, true_cnt
    """


@register("cms_frequencies_orders", oracle=_cms_freq_oracle())
def q_cms_frequencies(spark, sf_dir):
    """Count-min sketch frequencies (``sketches.cms_build`` /
    ``cms_estimate``): order counts per customer summarized into a
    4×1024 counter table (Θ(d·w) state at ANY input size — the
    bounded-memory heavy-hitter summary), then the top-20 true keys
    point-estimated back out (est ≥ true, the one-sided CMS
    guarantee). The md5-derived hash family makes the whole sketch —
    not just its answers — bit-reproducible in the twin."""
    from bearly_spark.operators.sketches import cms_build, cms_estimate

    od = load_table(spark, sf_dir, "orders")
    sketch = cms_build(od, "o_custkey", depth=4, width=1024)
    true_top = (
        od.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("o_custkey"))
        .limit(20)
    )
    est = cms_estimate(
        sketch, true_top.select("o_custkey"), "o_custkey", depth=4, width=1024
    )
    return true_top.join(est, true_top["o_custkey"] == est["key"]).select(
        "o_custkey", "true_cnt", "est"
    )


@register(
    "bloom_prefilter_customers",
    oracle=f"""
    WITH ck AS (SELECT DISTINCT o_custkey AS k FROM orders),
    bits AS (SELECT DISTINCT
               {_CMS_HASH.format(salt="i", key="k", mod=8192)} AS bit
             FROM ck, LATERAL unnest([0, 1, 2, 3]) AS t(i)),
    probe AS (SELECT c_custkey,
                     {_CMS_HASH.format(salt="i", key="c_custkey", mod=8192)} AS bit
              FROM customer, LATERAL unnest([0, 1, 2, 3]) AS t(i)),
    hit AS (SELECT c_custkey, COUNT(b.bit) = 4 AS bloom_hit
            FROM probe LEFT JOIN bits b USING (bit) GROUP BY c_custkey)
    SELECT h.c_custkey, bloom_hit, (ck.k IS NOT NULL) AS has_orders
    FROM hit h LEFT JOIN ck ON h.c_custkey = ck.k
    """,
)
def q_bloom_prefilter(spark, sf_dir):
    """Bloom-filter join prefilter (``sketches.bloom_build`` /
    ``bloom_probe``): the distinct has-orders custkey set compressed to
    ≤ 8192 set-bit rows, every customer membership-tested against the
    broadcast bit table (no false negatives; false positives visible
    as bloom_hit ∧ ¬has_orders). The semi-join-prefilter shape that at
    100 TB skips the real join for the vast majority of non-members —
    and, via the shared md5 hash family, exactly twinnable."""
    from bearly_spark.operators.sketches import bloom_build, bloom_probe

    od = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    bloom = bloom_build(od, "o_custkey", m_bits=8192, k_hashes=4)
    probed = bloom_probe(bloom, cust, "c_custkey", m_bits=8192, k_hashes=4)
    actual = od.select(F.col("o_custkey").alias("k")).distinct()
    return (
        probed.join(actual, probed["key"] == actual["k"], "left")
        .select(
            F.col("key").alias("c_custkey"),
            "bloom_hit",
            F.col("k").isNotNull().alias("has_orders"),
        )
    )


@register("cms_index_query", oracle=_cms_freq_oracle())
def q_cms_index_query(spark, sf_dir):
    """CMS frequencies served from the MATERIALIZED at-ingest sketch
    (``streaming.cms_index``): orders ingested as two batches (even /
    odd orderkeys), each folding its Θ(d·w) delta into
    ``sketch/batch=<id>``; the read side sums deltas — counter
    additivity makes the streamed sketch EXACTLY the batch-built one,
    so this shares ``cms_frequencies_orders``' oracle verbatim. The
    index builds once under ``.scratch/`` and is reused across runs."""
    from bearly_spark.operators.sketches import cms_estimate
    from bearly_spark.streaming.cms_index import read_cms, upsert_cms_batch

    od = load_table(spark, sf_dir, "orders")

    def build(d: str) -> None:
        upsert_cms_batch(od.filter(F.col("o_orderkey") % 2 == 0), 0, d, "o_custkey")
        upsert_cms_batch(od.filter(F.col("o_orderkey") % 2 == 1), 1, d, "o_custkey")

    index_dir, _ = derived_dir(sf_dir, "cms-index", [f"{sf_dir}/orders.parquet"], build)
    sketch = read_cms(spark, index_dir)
    true_top = (
        od.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("o_custkey"))
        .limit(20)
    )
    est = cms_estimate(
        sketch, true_top.select("o_custkey"), "o_custkey", depth=4, width=1024
    )
    return true_top.join(est, true_top["o_custkey"] == est["key"]).select(
        "o_custkey", "true_cnt", "est"
    )


@register(
    "mad_outliers_lineitem",
    oracle=f"""
    WITH m AS ({quantile_cuts_sql(
        "lineitem", "l_extendedprice", [0.5], ["med"],
    )}),
    d AS ({quantile_cuts_sql(
        "(SELECT ABS(CAST(l_extendedprice AS DOUBLE) - med) AS dev"
        " FROM lineitem, m WHERE l_extendedprice IS NOT NULL) devs",
        "dev", [0.5], ["mad"], scale=4,
    )}),
    s AS (SELECT l_orderkey, l_linenumber, l_extendedprice,
                 CASE WHEN l_extendedprice IS NOT NULL AND mad > 0
                      THEN 0.6745 * (CAST(l_extendedprice AS DOUBLE) - med) / mad
                 END AS robust_z
          FROM lineitem, m, d)
    SELECT l_orderkey, l_linenumber, l_extendedprice, robust_z,
           CASE WHEN robust_z IS NOT NULL THEN ABS(robust_z) > 3.5 END
               AS is_outlier
    FROM s
    """,
)
def q_mad_outliers(spark, sf_dir):
    """Modified-z-score robust outliers (``quality.mad_outliers``,
    Iglewicz–Hoaglin): |0.6745·(x−median)/MAD| > 3.5 — the
    breakdown-0.5 member of the outlier-detection family beside the
    Tukey IQR fence and the trailing mean/std z. Two twin-proven
    distributed-selection percentile passes + a map-only raw-IEEE score."""
    from bearly_spark.operators.quality import mad_outliers

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return mad_outliers(li, "l_extendedprice", z_thresh=3.5, scale=2)


@register(
    "survival_repeat_orders",
    oracle="""
    WITH r AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
                      ROW_NUMBER() OVER (PARTITION BY o_custkey
                                         ORDER BY CAST(o_orderdate AS DATE),
                                                  o_orderkey) AS rn
               FROM orders),
    m AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
    fs AS (SELECT o_custkey, MIN(CASE WHEN rn = 1 THEN d END) AS d1,
                  MIN(CASE WHEN rn = 2 THEN d END) AS d2
           FROM r WHERE rn <= 2 GROUP BY 1),
    subj AS (SELECT CASE WHEN d2 IS NOT NULL THEN d2 - d1
                         ELSE maxd - d1 END AS duration,
                    CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
             FROM fs, m),
    tt AS (SELECT CAST(duration AS BIGINT) AS duration,
                  CAST(SUM(ev) AS BIGINT) AS n_events,
                  CAST(COUNT(*) - SUM(ev) AS BIGINT) AS n_censored,
                  COUNT(*) AS n_at
           FROM subj GROUP BY 1),
    n AS (SELECT CAST(SUM(n_at) AS BIGINT) AS total FROM tt),
    r2 AS (SELECT *, COALESCE(SUM(n_at) OVER (ORDER BY duration
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS removed
           FROM tt),
    f AS (SELECT duration, n_events, n_censored,
                 CAST(total - removed AS BIGINT) AS n_risk,
                 (2000000 * CAST(total - removed - n_events AS HUGEINT)
                  + CAST(total - removed AS HUGEINT))
                 // (2 * CAST(total - removed AS HUGEINT)) AS f_micro
          FROM r2, n),
    s AS (SELECT duration, n_events, n_censored, n_risk,
                 list(f_micro) OVER (ORDER BY duration
                                     ROWS UNBOUNDED PRECEDING) AS fcts
          FROM f)
    SELECT duration, n_events, n_censored, n_risk,
           CAST(list_reduce(
                    list_prepend(1000000000000::HUGEINT, fcts),
                    (a, b) -> (2 * a * b + 1000000) // 2000000)
                AS DOUBLE) / 1e12 AS survival
    FROM s
    """,
)
def q_survival_repeat(spark, sf_dir):
    """Kaplan–Meier survival curve (``windows.kaplan_meier``) for
    days-to-second-order: one-order customers enter CENSORED at the
    corpus horizon (reducing the risk set without counting as events —
    the bias a naive "average days to repeat" metric eats). Survival
    is the ascending-duration QUANTIZED-EXACT integer fold (round 8,
    LONG-sized round 9: 6dp micro factors, 12-digit running product —
    every step fits 64-bit, the picorank fast path — all integral
    ops; the float fold this replaced was the round-7 cross-build
    failure class), replayed identically by the twin's
    sentinel-prepended ``list_reduce``."""
    from pyspark.sql import Window

    from bearly_spark.operators.windows import kaplan_meier

    od = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy(d, F.col("o_orderkey"))
    r = od.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    fs = r.groupBy("o_custkey").agg(
        F.min(F.when(F.col("rn") == 1, d)).alias("d1"),
        F.min(F.when(F.col("rn") == 2, d)).alias("d2"),
    )
    maxd = od.agg(F.max(d).alias("maxd"))
    subj = fs.crossJoin(F.broadcast(maxd)).select(
        F.when(
            F.col("d2").isNotNull(), F.datediff("d2", "d1")
        )
        .otherwise(F.datediff("maxd", "d1"))
        .alias("duration"),
        F.col("d2").isNotNull().cast("int").alias("ev"),
    )
    return kaplan_meier(subj, "duration", "ev")


@register(
    "gini_customer_revenue",
    oracle="""
    WITH cr AS (SELECT o_custkey,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                            AS DECIMAL(18,2)) AS rev
                FROM orders GROUP BY 1),
    rk AS (SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS i FROM cr),
    s AS (SELECT COUNT(*) AS n,
                 CAST(SUM(rev) AS DECIMAL(28,2)) AS total,
                 CAST(SUM(i * rev) AS DECIMAL(38,2)) AS weighted
          FROM rk)
    SELECT n, CAST(total * 100 AS BIGINT) AS total_cents,
           (2.0 * CAST(weighted AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
    FROM s
    """,
)
def q_gini(spark, sf_dir):
    """Revenue-concentration Gini coefficient over per-customer totals
    (the inequality/whale-dependence KPI): the discrete formula
    ``G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n`` over ascending revenue with a
    deterministic id tie-break. Σx and Σ i·x are exact DECIMAL
    (order-independent), the G a fixed raw-IEEE tree over those three
    scalars (no rounding — the midpoint rule). One Θ(customers)
    aggregate, then one GLOBAL rank over the aggregated frame — fine
    up to many millions of customers; at extreme cardinality swap the
    window for a two-pass distributed prefix-rank (per-partition
    counts → offsets), the standard fix, with identical output."""
    from pyspark.sql import Window

    od = load_table(spark, sf_dir, "orders")
    cr = od.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("decimal(18,2)")
        .alias("rev")
    )
    # distributed global rank (round 9): the window form compiled to a
    # single-task whole-frame sort; the two-pass range rank scales with
    # customer cardinality at identical output (ties broken by custkey)
    from bearly_spark.operators.relational import global_row_number

    rk = global_row_number(cr, ["rev", "o_custkey"], out_col="_r").select(
        "rev", (F.col("_r") + 1).alias("i")
    )
    s = rk.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev").cast("decimal(28,2)").alias("total"),
        F.sum(F.col("i") * F.col("rev")).cast("decimal(38,2)").alias("weighted"),
    )
    n = F.col("n").cast("double")
    # integer/double-only compared surface (r10 verdict: driver hasher
    # diverges on DECIMAL output columns) — total emitted as exact cents
    return s.select(
        "n",
        (F.col("total") * 100).cast("long").alias("total_cents"),
        (
            (F.lit(2.0) * F.col("weighted").cast("double"))
            / (n * F.col("total").cast("double"))
            - (n + F.lit(1.0)) / n
        ).alias("gini"),
    )
