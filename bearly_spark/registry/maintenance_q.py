"""Lakehouse table maintenance: CoW MERGE, SCD2, snapshot diff/checksum, incremental rollup, DQ expectations."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F

from bearly_spark.operators import maintenance as MT
from bearly_spark.sources import txlog as TXL
from bearly_spark.sources.tables import load_table, read_parquet

from bearly_spark.cache import SCRATCH, derived_dir, sf_tag
from bearly_spark.registry._core import register


@register(
    "table_diff_orders",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders)
    SELECT o_orderkey, 'changed' AS change FROM orders
    WHERE o_orderkey % 37 = 0 AND o_orderkey % 43 <> 0
    UNION ALL
    SELECT o_orderkey, 'removed' FROM orders WHERE o_orderkey % 43 = 0
    UNION ALL
    SELECT o_orderkey + (SELECT m FROM mx) + 1, 'added' FROM orders
    WHERE o_orderkey % 41 = 0
    """,
)
def q_table_diff(spark, sf_dir):
    """Keyed snapshot diff (round 6, ``maintenance.table_diff``): what
    a revision actually did — the before state vs an after state
    carrying updates (every 37th key), inserts (shifted keys) and
    deletes (every 43rd key), classified added/removed/changed in one
    slim full-outer join over (key, row-hash) pairs. The audit view
    over ``snapshot_table`` versions; output is Θ(difference), never
    Θ(table), which is what makes diffing production snapshots
    affordable. The oracle states the change set in closed form
    (37∧43 keys end as 'removed' — the delete wins the final state)."""
    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0]
    upd = (
        orders.filter(F.col("o_orderkey") % 37 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(10.0))
    )
    ins = orders.filter(F.col("o_orderkey") % 41 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(mx + 1)
    )
    after = (
        orders.join(upd.select("o_orderkey"), "o_orderkey", "left_anti")
        .unionByName(upd.select(*orders.columns))
        .unionByName(ins.select(*orders.columns))
        .filter(~((F.col("o_orderkey") % 43 == 0) & (F.col("o_orderkey") <= mx)))
    )
    return MT.table_diff(orders, after, ["o_orderkey"])


@register(
    "table_checksum_orders",
    oracle="""
    WITH c AS (SELECT CONCAT(o_orderkey, '|', o_custkey, '|', o_orderstatus,
                             '|', CAST(o_totalprice AS DECIMAL(18,2)), '|',
                             CAST(o_orderdate AS DATE), '|', o_orderpriority)
                      AS canon FROM orders),
    h AS (SELECT ('0x' || substr(md5(canon), 1, 16))::UBIGINT AS hv FROM c),
    s AS (SELECT COUNT(*) AS n_rows,
                 SUM(hv::HUGEINT) % 18446744073709551616::HUGEINT AS checksum
          FROM h)
    SELECT n_rows,
           CAST(checksum // 4294967296 AS BIGINT) AS checksum_hi,
           CAST(checksum % 4294967296 AS BIGINT) AS checksum_lo
    FROM s
    """,
)
def q_table_checksum(spark, sf_dir):
    """Order-independent table fingerprint
    (``maintenance.table_checksum``): sum mod 2^64 of a 64-bit
    md5-derived hash per row over an explicit canonical string (column
    order fixed, price cast to DECIMAL(18,2) and date to DATE so both
    engines render identical text — raw doubles format differently).
    The cheap replica-verification primitive: no sort, no key shuffle,
    scan-shaped partial sums; `table_diff` then tells you WHAT changed
    when checksums disagree."""
    from bearly_spark.operators.maintenance import table_checksum

    od = load_table(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)"),
        F.col("o_orderdate").cast("date"),
        F.col("o_orderpriority"),
    )
    cs = table_checksum(od, canon)
    # the mod-2^64 checksum exceeds int64, so the compared surface
    # splits it into two exact BIGINT halves (DECIMAL outputs diverge
    # under the driver's hasher — r10 verdict)
    lo = F.col("checksum") % F.lit(4294967296)
    return cs.select(
        "n_rows",
        ((F.col("checksum") - lo) / F.lit(4294967296))
        .cast("long")
        .alias("checksum_hi"),
        lo.cast("long").alias("checksum_lo"),
    )


@register(
    "dq_expectations_orders",
    oracle="""
    SELECT 'custkey_not_null' AS rule,
           CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS violations
    FROM orders
    UNION ALL
    SELECT 'totalprice_nonnegative',
           CAST(COUNT(*) FILTER (WHERE NOT (o_totalprice >= 0)
                                 OR o_totalprice IS NULL) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'status_open_or_final',
           CAST(COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F')
                                 OR o_orderstatus IS NULL) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orderkey_unique',
           (SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
            FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey))
    UNION ALL
    SELECT 'custkey_in_customer',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE o_custkey IS NOT NULL
              AND o_custkey NOT IN (SELECT c_custkey FROM customer
                                    WHERE c_custkey IS NOT NULL))
    """,
)
def q_dq_expectations(spark, sf_dir):
    """Data-quality expectations report (round 6,
    ``operators/quality.py``): five declarative rules over orders —
    nullability, a range check, a value domain (deliberately failing:
    'P' rows count), key uniqueness, and referential integrity against
    customer — compiled to ONE aggregate pass for the row rules plus
    one groupBy (unique) and one anti-join (FK). The per-batch
    validation gate a 100 TB pipeline runs before a revision ships;
    counts (not booleans) so drift is visible and the DuckDB twin can
    state every rule as a FILTERed count."""
    from bearly_spark.operators.quality import expectations_report

    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    return expectations_report(
        od,
        row_rules={
            "custkey_not_null": F.col("o_custkey").isNull(),
            "totalprice_nonnegative": ~(F.col("o_totalprice") >= 0),
            "status_open_or_final": ~F.col("o_orderstatus").isin("O", "F"),
        },
        unique_keys={"orderkey_unique": ["o_orderkey"]},
        foreign_keys={"custkey_in_customer": (["o_custkey"], cu, ["c_custkey"])},
    )


@register(
    "merge_upsert_orders",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             o_totalprice + 10.0 AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 37 = 0
      UNION ALL
      SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM orders), o_custkey, 'N',
             o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 41 = 0
    ),
    merged AS (
      SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
      UNION ALL SELECT * FROM src
    )
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS total_price
    FROM merged GROUP BY o_orderstatus
    """,
)
def q_merge_upsert(spark, sf_dir):
    """Copy-on-write MERGE (round 6, ``maintenance.merge_into``): a
    Delta-style upsert on a plain parquet table — updates (+10.0 price,
    status 'U' for every 37th key) and inserts (shifted keys, status
    'N') applied in ONE merge. The entry exercises the real
    file-pruned path end-to-end: range-clustered scratch table build,
    ``_metadata.file_path`` semi-join to find touched files, untouched
    files hard-linked into the new snapshot, atomic
    ``RENAME_EXCHANGE`` swap, then aggregates the merged table
    read back from disk. Rebuilt per invocation (a merge MUTATES its
    table — reuse would double-apply). File-level pruning and crash
    semantics are pinned in tests/test_sinks.py."""
    import shutil
    from pathlib import Path

    orders = load_table(spark, sf_dir, "orders")
    work_root = Path(f"{SCRATCH}/{sf_tag(sf_dir)}/merge_orders")
    shutil.rmtree(work_root, ignore_errors=True)
    work = str(work_root / "table")
    orders.repartitionByRange(8, "o_orderkey").write.parquet(work)

    mx = orders.agg(F.max("o_orderkey")).collect()[0][0]
    upd = (
        orders.filter(F.col("o_orderkey") % 37 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(10.0))
    )
    ins = (
        orders.filter(F.col("o_orderkey") % 41 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(mx))
        .withColumn("o_orderstatus", F.lit("N"))
    )
    MT.merge_into(spark, work, upd.unionByName(ins), ["o_orderkey"])
    return (
        read_parquet(spark, work)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )


@register(
    "scd2_customer_history",
    oracle="""
    WITH v1 AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             DATE '1992-01-01' AS valid_from,
             CASE WHEN c_custkey % 11 = 0 THEN DATE '1995-06-01'
                  WHEN c_custkey % 13 = 0 THEN DATE '1997-03-01'
                  ELSE NULL END AS valid_to
      FROM customer
    ),
    v2 AS (
      SELECT c_custkey, (c_nationkey + 7) % 25 AS c_nationkey, c_mktsegment,
             DATE '1995-06-01' AS valid_from,
             CASE WHEN c_custkey % 13 = 0 THEN DATE '1997-03-01'
                  ELSE NULL END AS valid_to
      FROM customer WHERE c_custkey % 11 = 0
    ),
    v3 AS (
      SELECT c_custkey, (c_nationkey + 3) % 25 AS c_nationkey,
             'SEG2' AS c_mktsegment,
             DATE '1997-03-01' AS valid_from, NULL AS valid_to
      FROM customer WHERE c_custkey % 13 = 0
    )
    SELECT c_custkey, c_nationkey, c_mktsegment,
           CAST(valid_from - DATE '1992-01-01' AS INTEGER) AS valid_from_idx,
           CAST(valid_to - DATE '1992-01-01' AS INTEGER) AS valid_to_idx
    FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2
          UNION ALL SELECT * FROM v3)
    """,
)
def q_scd2_customer(spark, sf_dir):
    """SCD Type 2 history maintenance (round 6,
    ``maintenance.scd2_apply``): two change batches applied in sequence
    to a customer dimension snapshot — a nation reassignment (every
    11th key, 1995-06-01) then a segment migration (every 13th key,
    1997-03-01). Each apply closes the changed keys' current version
    and appends the new one; keys hit by both batches carry a 3-deep
    version chain. The oracle states the resulting history in closed
    form. Edge semantics (no-op changes dropped, out-of-order changes
    dropped, new-key inserts, latest-per-key collapse) are pinned in
    tests/test_relational_extra.py. The validity DATEs are compared as
    day indexes since 1992-01-01 (NULL open intervals stay NULL) —
    DATE output columns diverge under the driver's hasher (r10)."""
    hist = _scd2_customer_history(spark, sf_dir)
    epoch = F.lit("1992-01-01").cast("date")
    return hist.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.datediff("valid_from", epoch).cast("int").alias("valid_from_idx"),
        F.datediff("valid_to", epoch).cast("int").alias("valid_to_idx"),
    )


def _scd2_customer_history(spark, sf_dir):
    """The two-apply SCD2 history with its native DATE validity columns
    — shared by the registry emission above and the as-of reader."""
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
    return MT.scd2_apply(h, chg2, keys, attrs)


@register(
    "scd2_asof_customer",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_custkey % 11 = 0 THEN (c_nationkey + 7) % 25
                ELSE c_nationkey END AS c_nationkey,
           c_mktsegment
    FROM customer
    """,
)
def q_scd2_asof(spark, sf_dir):
    """The READ side of SCD2 (round 6, ``maintenance.scd2_asof``): the
    customer dimension AS OF 1996-01-01 — after the nation
    reassignment (1995-06-01) but before the segment migration
    (1997-03-01) — reconstructed from the same two-apply history as
    ``scd2_customer_history``. One map-only interval filter; the
    oracle states the expected as-of state in closed form. This is the
    reproducibility primitive: join facts against the as-of dimension
    and every attribute reads as it did at snapshot time."""
    hist = _scd2_customer_history(spark, sf_dir)
    return MT.scd2_asof(hist, datetime.date(1996, 1, 1)).select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )


@register(
    "incremental_rollup_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    """,
)
def q_incremental_rollup(spark, sf_dir):
    """Materialized-view maintenance (round 6,
    ``maintenance.incremental_rollup``): a persisted rollup of orders by
    (status, priority) — mergeable partials: count + DECIMAL(18,6)
    price sum — built from two thirds of the table, then refreshed from
    the remaining third as a DELTA: delta partials merge into affected
    stored groups by addition (semi-filtered, broadcast-joined) and the
    update is one copy-on-write MERGE touching only the files holding
    affected groups — Θ(delta), never a base rescan. The refreshed
    table must equal the one-shot rollup over ALL orders, which is
    exactly what the oracle states. DECIMAL partials make the merge
    order-independent, so the hash compare is exact."""
    import shutil
    from pathlib import Path

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,6)").alias("o_totalprice"),
    )
    keys = ["o_orderstatus", "o_orderpriority"]
    work_root = Path(f"{SCRATCH}/{sf_tag(sf_dir)}/rollup_orders")
    shutil.rmtree(work_root, ignore_errors=True)
    work = str(work_root / "table")
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    (
        base.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("sum_o_totalprice"),
        )
        .repartition(4, *[F.col(k) for k in keys])
        .write.parquet(work)
    )
    MT.incremental_rollup(
        spark,
        work,
        orders.filter(F.col("o_orderkey") % 3 == 0),
        keys,
        ["o_totalprice"],
    )
    return read_parquet(spark, work).select(
        *keys,
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_o_totalprice").cast("double").alias("total_price"),
    )


# ===================================================================
# Commit-log table format (sources/txlog): versioned reads, time
# travel, stats-based file skipping, compaction — the object-store
# table layer (Delta/Iceberg pattern) over an orders-derived fixture
# ===================================================================

#: Version layout of the txlog fixtures: v1 = first 3 distinct order
#: years, v2 = next 2, v3 = the rest. Oracles state the same chunks
#: rank-based (DISTINCT year ... ORDER BY y LIMIT/OFFSET), so the
#: split is closed-form at every SF without hard-coded years.
_TXLOG_YEAR_CHUNKS = (3, 2)

#: Money aggregate both engines compute exactly: per-row decimal cast
#: makes the SUM order-independent, so the 2dp round is noise-free.
_TX_PRICE_SQL = "ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2)"


def _tx_orders(spark, sf_dir: str, *extra):
    """The orders columns the commit-log fixtures store, plus ``extra``
    columns ahead of the ``o_datekey`` yyyymmdd int."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        "o_totalprice",
        *extra,
        (
            F.year("o_orderdate") * 10000
            + F.month("o_orderdate") * 100
            + F.dayofmonth("o_orderdate")
        )
        .cast("int")
        .alias("o_datekey"),
    )


def _tx_price_col():
    return F.round(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double"), 2
    )


def _txlog_orders_fixture(
    spark, sf_dir: str, compacted: bool = False
) -> tuple[str, list[int]]:
    """Build (once per orders fixture) a commit-log table from orders:
    one commit per year-chunk, one data FILE per year (each year
    arrives as its own single-partition member of the union, and Spark
    writes one file per partition), so every file's ``o_datekey``
    footer stats span exactly its year and pruning decisions are
    deterministic at every SF. ``compacted`` adds one OPTIMIZE commit
    (a separate entry). Returns (path, years)."""

    def build(path):
        orders = _tx_orders(spark, sf_dir)
        years = [
            r["y"]
            for r in orders.select(F.year(F.to_date(F.col("o_datekey").cast("string"), "yyyyMMdd")).alias("y"))
            .distinct()
            .orderBy("y")
            .collect()
        ]
        a, b = _TXLOG_YEAR_CHUNKS
        for chunk in (years[:a], years[a : a + b], years[a + b :]):
            if not chunk:
                continue
            per_year = [
                orders.filter(
                    (F.col("o_datekey") >= y * 10000)
                    & (F.col("o_datekey") <= y * 10000 + 1231)
                ).coalesce(1)
                for y in chunk
            ]
            TXL.write_table(per_year, path, stats_cols=["o_datekey"])
        if compacted:
            TXL.compact(
                spark, path, target_files=2, stats_cols=["o_datekey"], order_by=["o_datekey"]
            )
        return years

    name = "orders_txlog_compacted" if compacted else "orders_txlog"
    return derived_dir(sf_dir, name, [f"{sf_dir}/orders.parquet"], build)


@register(
    "txlog_read_orders",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {_TX_PRICE_SQL} AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_txlog_read(spark, sf_dir):
    """Snapshot read of the commit-log table (``sources/txlog``): three
    commits of orders (chunked by year) replayed from the JSON log into
    one live file set — the Delta/Iceberg pattern where the LOG, not a
    directory listing, is the source of truth (object-store safe, no
    eventual-consistency hazard). The read must see exactly the union
    of all three commits, i.e. all of orders."""
    path, _ = _txlog_orders_fixture(spark, sf_dir)
    return (
        TXL.read_table(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _tx_price_col().alias("total_price"),
        )
    )


@register(
    "txlog_time_travel_orders",
    oracle=f"""
    WITH yrs AS (
        SELECT DISTINCT year(o_orderdate) AS y FROM orders ORDER BY y LIMIT 3
    )
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {_TX_PRICE_SQL} AS total_price
    FROM orders
    WHERE year(o_orderdate) IN (SELECT y FROM yrs)
    GROUP BY o_orderstatus
    """,
)
def q_txlog_time_travel(spark, sf_dir):
    """Time travel: reading VERSION 1 of the commit-log table replays
    only the create commit, so the result is exactly the first
    year-chunk (rank-based first 3 distinct order years — the oracle
    states the same chunk in closed form). Old versions stay readable
    because commits only de-reference files, never rewrite them."""
    path, _ = _txlog_orders_fixture(spark, sf_dir)
    return (
        TXL.read_table(spark, path, version=1)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _tx_price_col().alias("total_price"),
        )
    )


@register(
    "txlog_skipping_orders",
    oracle=f"""
    WITH yrs AS (SELECT DISTINCT year(o_orderdate) AS y FROM orders),
         tgt AS (SELECT y FROM yrs ORDER BY y LIMIT 1 OFFSET 1)
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           {_TX_PRICE_SQL} AS total_price,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM yrs
            WHERE y = (SELECT y FROM tgt)) AS n_files_scanned,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM yrs) AS n_files_total
    FROM orders
    WHERE year(o_orderdate) = (SELECT y FROM tgt)
    GROUP BY o_orderpriority
    """,
)
def q_txlog_skipping(spark, sf_dir):
    """Stats-based file skipping: the fixture holds one file per order
    year (footer min/max of ``o_datekey`` span exactly that year), so a
    one-year range predicate must plan exactly ONE of the live files —
    the logged-stats pruning that stands in for partition pruning when
    the table is not partitioned on the predicate column. The planned
    file counts are emitted alongside the aggregate; the oracle states
    them in data terms (files == distinct years by construction). The
    predicate is re-applied row-level, so pruning is an I/O
    optimization, never a correctness dependence."""
    path, years = _txlog_orders_fixture(spark, sf_dir)
    y = years[1]
    where = {"o_datekey": (y * 10000, y * 10000 + 1231)}
    scanned, total = TXL.plan_files(path, where=where)
    return (
        TXL.read_table(spark, path, where=where)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _tx_price_col().alias("total_price"),
        )
        .withColumn("n_files_scanned", F.lit(len(scanned)).cast("bigint"))
        .withColumn("n_files_total", F.lit(total).cast("bigint"))
    )


@register(
    "txlog_compact_orders",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {_TX_PRICE_SQL} AS total_price,
           {_TX_PRICE_SQL} AS total_price_precompact
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_txlog_compact(spark, sf_dir):
    """Compaction with history: OPTIMIZE rewrites the live set into two
    range-clustered files in ONE commit (adds + removes); the data must
    be bit-identical, and the pre-compaction version must still time
    travel because its files remain until vacuum. Both reads are
    emitted side by side — the oracle states the same aggregate twice,
    which is exactly the invariant compaction promises."""
    path, _ = _txlog_orders_fixture(spark, sf_dir, compacted=True)
    latest = (
        TXL.read_table(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _tx_price_col().alias("total_price"),
        )
    )
    pre = (
        TXL.read_table(spark, path, version=3)
        .groupBy("o_orderstatus")
        .agg(_tx_price_col().alias("total_price_precompact"))
    )
    return latest.join(pre, "o_orderstatus")


@register(
    "txlog_changes_orders",
    oracle="""
    WITH yrs AS (SELECT DISTINCT year(o_orderdate) AS y FROM orders),
         tgt AS (SELECT y FROM yrs ORDER BY y LIMIT 2 OFFSET 3)
    SELECT o_orderkey,
           CAST(year(o_orderdate) * 10000 + month(o_orderdate) * 100
                + day(o_orderdate) AS INTEGER) AS o_datekey,
           CAST(2 AS INTEGER) AS change_version,
           'insert' AS change_type
    FROM orders WHERE year(o_orderdate) IN (SELECT y FROM tgt)
    """,
)
def q_txlog_changes(spark, sf_dir):
    """Change data feed over the commit-log table
    (``txlog.read_changes``): the logical row changes committed in
    version 2 — exactly the second year-chunk as inserts (versions are
    the fixture contract, so the twin states the chunk rank-based and
    the version as the literal it must be). The incremental-consumer
    primitive: downstream jobs reprocess Θ(delta) by reading ONLY the
    files the picked commits added/removed — compaction emits nothing
    because it is logically a no-op, which only a log (never a file
    listing) can know."""
    path, _ = _txlog_orders_fixture(spark, sf_dir)
    return TXL.read_changes(spark, path, from_version=1, to_version=2).select(
        "o_orderkey",
        "o_datekey",
        F.col("_change_version").alias("change_version"),
        F.col("_change_type").alias("change_type"),
    )


def _txlog_derived_fixture(spark, sf_dir: str, name: str, apply_dml) -> dict:
    """Copy the shared base table, apply ONE DML mutation via
    ``apply_dml(path, years) -> stats``, and cache the result keyed on
    the base table's files (a rebuilt base rebuilds every derived
    table). Returns the DML stats dict plus ``path``. The protocol
    lives HERE once so the delete and merge queries cannot silently
    diverge on it."""
    import shutil as _shutil

    base, years = _txlog_orders_fixture(spark, sf_dir)

    def build(path):
        _shutil.copytree(base, path)
        return apply_dml(path, years)

    path, stats = derived_dir(
        sf_dir, name, [f"{sf_dir}/orders.parquet", base], build
    )
    return {"path": path, **stats}


def _txlog_dml_result(spark, path: str, stats: dict):
    """The shared compared surface of the DML queries: post-DML
    aggregate by status plus the rewrite-pruning stats as literals."""
    return (
        TXL.read_table(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _tx_price_col().alias("total_price"),
        )
        .withColumn(
            "files_rewritten", F.lit(stats["files_rewritten"]).cast("bigint")
        )
        .withColumn("files_total", F.lit(stats["files_total"]).cast("bigint"))
    )


@register(
    "txlog_delete_orders",
    oracle=f"""
    WITH yrs AS (SELECT DISTINCT year(o_orderdate) AS y FROM orders),
         tgt AS (SELECT y FROM yrs ORDER BY y LIMIT 1 OFFSET 1)
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {_TX_PRICE_SQL} AS total_price,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM yrs
            WHERE y = (SELECT y FROM tgt)) AS files_rewritten,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM yrs) AS files_total
    FROM orders
    WHERE NOT (year(o_orderdate) = (SELECT y FROM tgt)
               AND month(o_orderdate) <= 6)
    GROUP BY o_orderstatus
    """,
)
def q_txlog_delete(spark, sf_dir):
    """Row-level DELETE on the commit-log table
    (``txlog.delete_where``): remove the first half of the second
    order year as ONE copy-on-write commit whose rewrite is
    STATS-PRUNED to the single file that can contain matches — the
    takedown/opt-out primitive at 100 TB (Θ(affected files), never
    Θ(table), when the layout clusters the predicate column). The
    rewrite stats are emitted beside the post-delete aggregate; the
    oracle states both in data terms (files == distinct years by
    construction, exactly one year is touched). Pre-delete versions
    still time-travel; the change feed shows the file-granular
    delete+reinsert."""

    def dml(path, years):
        y = years[1]
        _, stats = TXL.delete_where(
            spark,
            path,
            {"o_datekey": (y * 10000, y * 10000 + 630)},
            stats_cols=["o_datekey"],
        )
        return stats

    stats = _txlog_derived_fixture(spark, sf_dir, "orders_txlog_deleted", dml)
    return _txlog_dml_result(spark, stats["path"], stats)


@register(
    "txlog_merge_orders",
    oracle=f"""
    WITH y1 AS (SELECT MIN(year(o_orderdate)) AS y FROM orders),
    aug AS (
      SELECT o_orderstatus,
             o_totalprice
             + CASE WHEN year(o_orderdate) = (SELECT y FROM y1)
                     AND month(o_orderdate) = 3 THEN 100.0 ELSE 0.0 END AS p
      FROM orders
      UNION ALL
      SELECT o_orderstatus, o_totalprice + 100.0
      FROM orders
      WHERE year(o_orderdate) = (SELECT y FROM y1)
        AND month(o_orderdate) = 3
    )
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE), 2)
               AS total_price,
           (SELECT CAST(COUNT(DISTINCT year(o_orderdate)) AS BIGINT)
            FROM orders WHERE year(o_orderdate) = (SELECT y FROM y1))
               AS files_rewritten,
           (SELECT CAST(COUNT(DISTINCT year(o_orderdate)) AS BIGINT)
            FROM orders) AS files_total
    FROM aug GROUP BY o_orderstatus
    """,
)
def q_txlog_merge(spark, sf_dir):
    """UPSERT on the commit-log table (``txlog.merge_into_table``):
    month 3 of the first order year gets a +100 price revision (update
    arm) AND a re-keyed copy of the same rows (insert arm), as ONE
    copy-on-write commit whose rewrite is pruned by the verified prune
    zone to the single year file that can hold a match — the
    crawl-refresh primitive (revised documents replace, new documents
    insert, cost Θ(affected files)). The oracle states the post-merge
    state and the pruning in data terms (files == distinct years;
    exactly one year is touched). The merge keys (order keys) are
    zone-stable here — a row's o_datekey never changes across the
    fixture's revisions — which is the invariant the pruned form
    requires (see ``merge_into_table``)."""

    def dml(path, years):
        y = years[0]
        zone = (y * 10000 + 301, y * 10000 + 331)
        month = TXL.read_table(spark, path, where={"o_datekey": zone})
        mx = (
            read_parquet(spark, f"{sf_dir}/orders.parquet")
            .agg(F.max("o_orderkey"))
            .collect()[0][0]
        )
        upd = month.withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(100.0)
        )
        ins = upd.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(mx + 1))
        _, stats = TXL.merge_into_table(
            spark,
            path,
            upd.unionByName(ins),
            ["o_orderkey"],
            prune={"o_datekey": zone},
            stats_cols=["o_datekey"],
        )
        return stats

    stats = _txlog_derived_fixture(spark, sf_dir, "orders_txlog_merged", dml)
    return _txlog_dml_result(spark, stats["path"], stats)


@register(
    "txlog_dv_delete_orders",
    oracle=f"""
    WITH yrs AS (SELECT DISTINCT year(o_orderdate) AS y FROM orders),
         tgt AS (SELECT y FROM yrs ORDER BY y LIMIT 1 OFFSET 1)
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {_TX_PRICE_SQL} AS total_price,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM yrs
            WHERE y = (SELECT y FROM tgt)) AS files_masked,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
            WHERE year(o_orderdate) = (SELECT y FROM tgt)
              AND month(o_orderdate) >= 7) AS rows_masked
    FROM orders
    WHERE NOT (year(o_orderdate) = (SELECT y FROM tgt)
               AND month(o_orderdate) >= 7)
    GROUP BY o_orderstatus
    """,
)
def q_txlog_dv_delete(spark, sf_dir):
    """DELETION-VECTOR delete on the commit-log table
    (``txlog.delete_where_dv``): the second half of the second order
    year is removed WITHOUT rewriting any file — the matching rows'
    (file, row-position) pairs land in one small DV file and readers
    anti-join them via the parquet row index (merge-on-read; Delta's
    DV mechanism). Θ(matched rows) written instead of Θ(file)
    rewritten — the right trade for small frequent takedowns; compact
    later materializes the masks. The oracle states the post-delete
    state, the single masked file (== one year by construction) and
    the masked-row count in closed form; read results are pinned
    identical to the copy-on-write form by the operator tests."""

    def dml(path, years):
        y = years[1]
        _, stats = TXL.delete_where_dv(
            spark, path, {"o_datekey": (y * 10000 + 701, y * 10000 + 1231)}
        )
        return stats

    stats = _txlog_derived_fixture(
        spark, sf_dir, "orders_txlog_dv_deleted", dml
    )
    return (
        TXL.read_table(spark, stats["path"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _tx_price_col().alias("total_price"),
        )
        .withColumn("files_masked", F.lit(stats["files_masked"]).cast("bigint"))
        .withColumn("rows_masked", F.lit(stats["rows_masked"]).cast("bigint"))
    )


# ===================================================================
# Round 13: partition columns + DV-backed (merge-on-read) MERGE
# ===================================================================


def _txlog_partitioned_fixture(spark, sf_dir: str) -> tuple[str, list[int]]:
    """Build (once per orders fixture) a commit-log table
    HIVE-PARTITIONED on the derived ``o_year`` column
    (``txlog.write_table(partition_by=["o_year"])``): a single
    coalesce(1) commit writes exactly one file per year value under
    ``data/o_year=<y>/``, so partition pruning decisions are
    deterministic at every SF (files == distinct order years).
    Returns (path, years)."""

    def build(path):
        orders = _tx_orders(
            spark, sf_dir, F.year("o_orderdate").cast("int").alias("o_year")
        )
        years = [
            r["o_year"]
            for r in orders.select("o_year").distinct().orderBy("o_year").collect()
        ]
        TXL.write_table(
            orders.coalesce(1),
            path,
            partition_by=["o_year"],
            stats_cols=["o_datekey"],
        )
        return years

    return derived_dir(sf_dir, "orders_txlog_part", [f"{sf_dir}/orders.parquet"], build)


@register(
    "txlog_partitioned_scan_orders",
    oracle=f"""
    WITH yrs AS (SELECT DISTINCT year(o_orderdate) AS y FROM orders),
         tgt AS (SELECT y FROM yrs ORDER BY y LIMIT 1 OFFSET 2)
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           {_TX_PRICE_SQL} AS total_price,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM yrs
            WHERE y = (SELECT y FROM tgt)) AS n_files_planned,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM yrs) AS n_files_total
    FROM orders
    WHERE year(o_orderdate) = (SELECT y FROM tgt)
    GROUP BY o_orderpriority
    """,
)
def q_txlog_partitioned_scan(spark, sf_dir):
    """Partition pruning on the commit-log table
    (``txlog.write_table(partition_by=...)`` + ``plan_files``): the
    table is hive-partitioned on the derived order year — files live
    under ``data/o_year=<y>/`` and every log add-entry records its
    typed partition value — so a one-year equality predicate prunes to
    exactly ONE of the live files from the LOG alone, before footer
    stats are even consulted. This is the first-order file filter at
    100 TB (Delta/Iceberg's leading feature): stats skipping needs
    clustered writes to bite, partition pruning needs only the layout.
    The planned/total file counts ride beside the aggregate; the twin
    states them in data terms (files == distinct years by
    construction). The predicate is re-applied row-level, so pruning
    stays a pure I/O optimization."""
    path, years = _txlog_partitioned_fixture(spark, sf_dir)
    y = years[2]
    where = {"o_year": (y, y)}
    planned, total = TXL.plan_files(path, where=where)
    return (
        TXL.read_table(spark, path, where=where)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _tx_price_col().alias("total_price"),
        )
        .withColumn("n_files_planned", F.lit(len(planned)).cast("bigint"))
        .withColumn("n_files_total", F.lit(total).cast("bigint"))
    )


@register(
    "txlog_dv_merge_orders",
    oracle=f"""
    WITH m AS (SELECT * FROM orders WHERE o_orderkey % 100 = 0),
    aug AS (
      SELECT o_orderstatus,
             o_totalprice
             + CASE WHEN o_orderkey % 100 = 0 THEN 100.0 ELSE 0.0 END AS p
      FROM orders
      UNION ALL
      SELECT o_orderstatus, o_totalprice + 100.0 FROM m
    )
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE), 2)
               AS total_price,
           (SELECT CAST(COUNT(DISTINCT year(o_orderdate)) AS BIGINT) FROM m)
               AS files_masked,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS rows_masked
    FROM aug GROUP BY o_orderstatus
    """,
)
def q_txlog_dv_merge(spark, sf_dir):
    """MERGE-ON-READ upsert on the commit-log table
    (``txlog.merge_into_table_dv``): every 100th order key — keys
    SCATTERED across all year files, the regime where the CoW merge
    honestly rewrites the whole table — gets a +100 price revision
    (update arm) plus a re-keyed copy (insert arm) in ONE commit that
    writes Θ(matched) deletion-vector rows and Θ(delta) appended rows,
    rewriting ZERO files. The masks apply at read (anti-join on the
    parquet row index) until compaction materializes them; the twin
    states the post-merge table, the masked-file count (== distinct
    years holding a matched key) and the masked-row count in closed
    form. CoW-equivalence, layout preservation and the change-feed
    emission are pinned by tests/test_txlog.py."""

    def dml(path, years):
        tab = TXL.read_table(spark, path)
        upd = tab.filter(F.col("o_orderkey") % 100 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(100.0)
        )
        mx = (
            read_parquet(spark, f"{sf_dir}/orders.parquet")
            .agg(F.max("o_orderkey"))
            .collect()[0][0]
        )
        ins = upd.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(mx + 1))
        _, stats = TXL.merge_into_table_dv(
            spark, path, upd.unionByName(ins), ["o_orderkey"]
        )
        return stats

    stats = _txlog_derived_fixture(
        spark, sf_dir, "orders_txlog_dv_merged", dml
    )
    return (
        TXL.read_table(spark, stats["path"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _tx_price_col().alias("total_price"),
        )
        .withColumn("files_masked", F.lit(stats["files_masked"]).cast("bigint"))
        .withColumn("rows_masked", F.lit(stats["rows_masked"]).cast("bigint"))
    )
