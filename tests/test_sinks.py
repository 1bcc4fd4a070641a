"""Partitioned-write sink: layout, partition pruning, value fidelity."""

import pyspark.sql.functions as F

from bearly_spark.registry import QUERIES
from bearly_spark.sources.tables import load_table


def test_partitioned_write_layout_and_pruning(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_part")
    orders.write.partitionBy("o_orderstatus").parquet(path)

    import os

    subdirs = sorted(d for d in os.listdir(path) if d.startswith("o_orderstatus="))
    assert subdirs == ["o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"]

    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "O")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1].split("]")[0]

    expect = orders.filter(F.col("o_orderstatus") == "O").count()
    assert back.count() == expect


def test_partitioned_scan_query_matches_direct(spark, sf_dir):
    got = {
        tuple(r)
        for r in QUERIES["partitioned_scan_orders"](spark, sf_dir).collect()
    }
    direct = {
        tuple(r)
        for r in load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .collect()
    }
    assert got == direct


def test_range_clustered_write_produces_disjoint_file_spans(spark, sf_dir, tmp_path):
    """repartitionByRange+sortWithinPartitions must yield parquet files
    whose l_shipdate [min,max] spans are pairwise non-overlapping (modulo
    boundary duplicates) — the property that makes min/max row-group
    pruning effective. An unclustered write has every file spanning the
    whole range."""
    import os

    import pyarrow.parquet as pq

    orders = load_table(spark, sf_dir, "lineitem")
    path = str(tmp_path / "clustered")
    (
        orders.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.parquet(path)
    )
    spans = []
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["l_shipdate"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    assert len(spans) >= 4
    spans.sort()
    overlaps = sum(1 for (a, b), (c, d) in zip(spans, spans[1:]) if c < b)
    assert overlaps == 0, spans


def test_observe_collects_metrics_without_extra_pass(spark, sf_dir):
    """df.observe: aggregate data-quality metrics piggyback on the main
    action (no second scan) — how a 100 TB pipeline gets row counts /
    null counts / sums for monitoring without re-reading the input."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    obs = Observation("quality")
    li = load_table(spark, sf_dir, "lineitem")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity")).alias("total_qty"),
        F.count(F.when(F.col("l_discount").isNull(), 1)).alias("null_discounts"),
    )
    n = observed.filter(F.col("l_quantity") > 0).count()
    m = obs.get
    assert m["n_rows"] >= n
    assert m["null_discounts"] == 0
    assert m["total_qty"] > 0


def test_parquet_zstd_and_file_sizing(spark, sf_dir, tmp_path):
    """Write knobs that matter at scale: compression codec selection
    (zstd) must reach the file metadata, and maxRecordsPerFile must bound
    output file row counts (file-count/size control for downstream
    readers)."""
    import os

    import pyarrow.parquet as pq

    li = load_table(spark, sf_dir, "lineitem").coalesce(1)
    n_rows = li.count()
    path = str(tmp_path / "zstd_sized")
    (
        li.write.option("compression", "zstd")
        .option("maxRecordsPerFile", 3000)
        .parquet(path)
    )
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) >= -(-n_rows // 3000)
    total = 0
    for f in files:
        pf = pq.ParquetFile(os.path.join(path, f))
        assert pf.metadata.num_rows <= 3000
        total += pf.metadata.num_rows
        assert pf.metadata.row_group(0).column(0).compression == "ZSTD"
    assert total == n_rows


def test_text_source_round_trip(spark, sf_dir, tmp_path):
    """spark.read.text: the line-oriented raw-text format (one row per
    line). Newlines are escaped before writing so each document stays one
    line; count and content survive the round trip."""
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_txt")
    one_line = docs.select(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit("\t"),
            F.regexp_replace("text", r"[\r\n]", " "),
        ).alias("value")
    )
    one_line.write.text(path)
    back = spark.read.text(path)
    assert back.count() == docs.count()
    parsed = back.select(
        F.split_part("value", F.lit("\t"), F.lit(1)).cast("long").alias("doc_id")
    )
    assert parsed.distinct().count() == docs.count()


def test_binary_file_source_for_multimodal_payloads(spark, tmp_path):
    """spark.read.format('binaryFile'): the blob-ingestion source for
    multimodal corpora — one row per file with (path, length, content
    bytes); pathGlobFilter selects a modality by extension."""
    blobs = {"a.img": b"\x89PNGfake", "b.img": b"\x89PNGother", "c.txt": b"not image"}
    for name, data in blobs.items():
        (tmp_path / name).write_bytes(data)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.img")
        .load(str(tmp_path))
    )
    rows = {r.path.rsplit("/", 1)[-1]: (r.length, bytes(r.content)) for r in df.collect()}
    assert rows == {
        "a.img": (8, b"\x89PNGfake"),
        "b.img": (9, b"\x89PNGother"),
    }


def test_parquet_schema_evolution_merge(spark, tmp_path_factory):
    """Schema evolution on read: two file batches with different (but
    compatible) schemas — the 100 TB reality where a column was added
    mid-history. mergeSchema unions the schemas; old files surface NULL
    for the new column. (Off by default because footer-merging every
    file is a planning cost at scale — enable per-read, as here.)"""
    import pyspark.sql.functions as F

    d = str(tmp_path_factory.mktemp("evolve"))
    spark.range(0, 5).select(F.col("id").alias("k")).write.parquet(f"{d}/b1")
    spark.range(5, 10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).write.parquet(f"{d}/b2")
    merged = spark.read.option("mergeSchema", True).parquet(f"{d}/b1", f"{d}/b2")
    assert set(merged.columns) == {"k", "v"}
    rows = {r.k: r.v for r in merged.collect()}
    assert rows[0] is None and rows[7] == 14 and len(rows) == 10


def test_catalog_statistics_for_cbo(spark, sf_dir, tmp_path_factory):
    """ANALYZE TABLE COMPUTE STATISTICS: persisted row-count/size stats
    are what the cost-based optimizer's join reordering and broadcast
    decisions read at scale. Assert the stats land in the catalog."""
    from bearly_spark.sources.tables import load_table

    load_table(spark, sf_dir, "nation").write.mode("overwrite").saveAsTable(
        "nation_stats_t"
    )
    try:
        spark.sql("ANALYZE TABLE nation_stats_t COMPUTE STATISTICS")
        desc = {
            r.col_name: r.data_type
            for r in spark.sql("DESCRIBE TABLE EXTENDED nation_stats_t").collect()
        }
        assert "Statistics" in desc, desc.keys()
        assert "rows" in desc["Statistics"], desc["Statistics"]
    finally:
        spark.sql("DROP TABLE IF EXISTS nation_stats_t")


def test_zorder_layout_bounds_both_dimensions(spark, sf_dir, tmp_path_factory):
    """Z-order clustering quality: every output file must cover a compact
    rectangle of the (l_partkey, l_suppkey) key space — per-file footer
    min/max spans bounded on BOTH dimensions at once — whereas a
    single-key range clustering leaves the second dimension spanning its
    full domain in every file (so min/max stats cannot prune on it)."""
    import glob

    import pyarrow.parquet as pq

    from bearly_spark.operators.layout import zorder_write
    from bearly_spark.sources.tables import load_table

    root = tmp_path_factory.mktemp("zorder")
    li = load_table(spark, sf_dir, "lineitem")
    zorder_write(li, f"{root}/z", ["l_partkey", "l_suppkey"], bits=16, num_files=8)
    (
        li.repartitionByRange(8, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(f"{root}/single")
    )

    lo = li.agg(F.min("l_partkey"), F.min("l_suppkey")).collect()[0]
    hi = li.agg(F.max("l_partkey"), F.max("l_suppkey")).collect()[0]
    dom_p, dom_s = hi[0] - lo[0], hi[1] - lo[1]

    def span_fractions(path):
        fr = []
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.read_metadata(f)
            names = md.schema.names
            pi, si = names.index("l_partkey"), names.index("l_suppkey")
            stats = [
                (md.row_group(i).column(ci).statistics)
                for i in range(md.num_row_groups)
                for ci in (pi, si)
            ]
            pstats = stats[0::2]
            sstats = stats[1::2]
            pspan = max(s.max for s in pstats) - min(s.min for s in pstats)
            sspan = max(s.max for s in sstats) - min(s.min for s in sstats)
            fr.append((pspan / dom_p, sspan / dom_s))
        return fr

    z = span_fractions(f"{root}/z")
    single = span_fractions(f"{root}/single")
    assert len(z) >= 4 and len(single) >= 4

    zp = sum(p for p, _ in z) / len(z)
    zs = sum(s for _, s in z) / len(z)
    # z-order: BOTH dimensions bounded well below their domains on average
    assert zp < 0.7 and zs < 0.7, (zp, zs, z)
    # single-key contrast: the second dimension is unprunable
    ss = sum(s for _, s in single) / len(single)
    assert ss > 0.9, (ss, single)


def test_zorder_value_exact_bit_interleave(spark):
    """Pin the Morton code bit-for-bit: bit b of grid column c lands at
    position b*ncols + c (x gets even bits, y gets odd bits for 2
    columns) — checked against a pure-Python interleave."""
    from bearly_spark.operators.layout import zorder_value

    def py_morton(x, y, bits=16):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    cases = [(0, 0), (1, 0), (0, 1), (3, 5), (255, 1), (65535, 65535)]
    df = spark.createDataFrame(cases, "x long, y long").select(
        "x", "y", zorder_value([F.col("x"), F.col("y")], bits=16).alias("z")
    )
    got = {(r.x, r.y): r.z for r in df.collect()}
    for x, y in cases:
        assert got[(x, y)] == py_morton(x, y), (x, y, got[(x, y)], py_morton(x, y))


def test_compact_parquet_dir_preserves_content_and_pruning(spark, sf_dir, tmp_path_factory):
    """Small-files compaction on a hive-partitioned table: file count
    must drop to ~1 per partition, content must be identical, and the
    partition layout must survive (directory-level pruning still
    applies on the compacted table)."""
    from bearly_spark.operators.layout import compact_parquet_dir
    from bearly_spark.sources.tables import load_table

    root = tmp_path_factory.mktemp("compact") / "orders_p"
    od = load_table(spark, sf_dir, "orders")
    # simulate micro-batch accretion: many tiny files per partition
    od.repartition(24).write.partitionBy("o_orderstatus").mode("overwrite").parquet(str(root))

    import pathlib

    def n_files():
        return len([p for p in pathlib.Path(root).rglob("*.parquet")])

    before_files = n_files()
    assert before_files > 30  # 24 writers x 3 status dirs, minus empties

    before = sorted(map(tuple, spark.read.parquet(str(root)).collect()))
    after_count = compact_parquet_dir(
        spark, str(root), target_file_bytes=1 << 30, partition_cols=["o_orderstatus"]
    )
    assert after_count == n_files()
    assert after_count <= 3  # one file per status partition
    after = sorted(map(tuple, spark.read.parquet(str(root)).collect()))
    assert after == before

    # directory-level pruning still works on the compacted layout
    plan = (
        spark.read.parquet(str(root))
        .filter(F.col("o_orderstatus") == "O")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "o_orderstatus" in plan


def test_compact_parquet_dir_empty_and_missing_dir(spark, tmp_path_factory):
    """Round-4 ADVICE: a missing or data-free table dir must early-return
    (spark.read.parquet on an empty dir throws before any guard)."""
    from bearly_spark.operators.layout import compact_parquet_dir

    root = tmp_path_factory.mktemp("compact_empty") / "t"
    assert compact_parquet_dir(spark, str(root)) == 0  # missing entirely
    root.mkdir()
    assert compact_parquet_dir(spark, str(root)) == 0  # exists but empty
    (root / "_SUCCESS").write_text("")
    assert compact_parquet_dir(spark, str(root)) == 0  # marker files only


def test_exchange_dirs_swaps_trees(tmp_path_factory):
    """The renameat2(RENAME_EXCHANGE) primitive behind the atomic
    compaction swap: both trees fully change places."""
    import pytest

    from bearly_spark.operators.layout import exchange_dirs

    base = tmp_path_factory.mktemp("xchg")
    a, b = base / "a", base / "b"
    a.mkdir(), b.mkdir()
    (a / "fa.txt").write_text("A")
    (b / "sub").mkdir()
    (b / "sub" / "fb.txt").write_text("B")
    if not exchange_dirs(a, b):
        pytest.skip("renameat2(RENAME_EXCHANGE) unsupported on this fs/kernel")
    assert (a / "sub" / "fb.txt").read_text() == "B"
    assert (b / "fa.txt").read_text() == "A"
    assert not (a / "fa.txt").exists()


def test_compact_concurrent_reader_never_sees_dup_or_loss(spark, sf_dir, tmp_path_factory):
    """Round-4 verdict #6 fault injection: a reader racing repeated
    compactions must NEVER observe duplicates or loss. With the atomic
    RENAME_EXCHANGE swap the table path always resolves to exactly one
    complete snapshot; the only legal race is a loud FileNotFound when a
    reader's file listing predates the swap (it retries). Any successful
    read returning a wrong row count is a hard failure."""
    import threading

    import pytest

    from bearly_spark.operators.layout import compact_parquet_dir, exchange_dirs

    probe = tmp_path_factory.mktemp("xchg_probe")
    (probe / "x").mkdir(), (probe / "y").mkdir()
    if not exchange_dirs(probe / "x", probe / "y"):
        pytest.skip("atomic swap unavailable; fallback path documents its window")

    root = tmp_path_factory.mktemp("compact_race") / "orders"
    od = load_table(spark, sf_dir, "orders")
    n = od.count()
    od.repartition(16).write.mode("overwrite").parquet(str(root))

    rounds, errors = 4, []

    def compact_loop():
        try:
            for _ in range(rounds):
                compact_parquet_dir(spark, str(root), target_file_bytes=1 << 30)
        except Exception as e:  # surfaced after join
            errors.append(e)

    t = threading.Thread(target=compact_loop)
    t.start()
    successes = retried = 0
    while t.is_alive() or successes == 0:
        try:
            got = spark.read.parquet(str(root)).count()
        except Exception:
            retried += 1  # listing race: loud, retryable — never silent
            continue
        assert got == n, f"reader saw {got} rows, expected {n} (dup or loss!)"
        successes += 1
    t.join()
    assert not errors, errors
    assert successes >= 1
    # final state intact and compacted
    assert spark.read.parquet(str(root)).count() == n


def test_compact_crash_between_fallback_renames_heals(spark, sf_dir, tmp_path_factory):
    """Fallback-path crash state (root renamed away, new data not yet in
    place) must self-heal on the next invocation with zero data loss."""
    from bearly_spark.operators.layout import compact_parquet_dir

    root = tmp_path_factory.mktemp("compact_heal") / "orders"
    od = load_table(spark, sf_dir, "orders")
    n = od.count()
    od.repartition(8).write.mode("overwrite").parquet(str(root))

    # simulate the crash window: root moved to .old-<name>, no root
    old = root.parent / f".old-{root.name}"
    root.rename(old)
    assert not root.exists()

    files_after = compact_parquet_dir(spark, str(root), target_file_bytes=1 << 30)
    assert files_after >= 1
    assert not old.exists()
    assert spark.read.parquet(str(root)).count() == n


# ---------------------------------------------------------------- merge_into


def _inode_map(root):
    from pathlib import Path

    return {
        p.relative_to(root): p.stat().st_ino
        for p in Path(root).rglob("*.parquet")
        if not p.name.startswith(("_", "."))
    }


def test_merge_into_upsert_prunes_files_and_matches_algebra(
    spark, sf_dir, tmp_path_factory
):
    """Copy-on-write MERGE: result equals the anti-join∪source algebra;
    only the files containing matched keys are rewritten; untouched
    files are hard-linked (same inode — zero data copy)."""
    from bearly_spark.operators.maintenance import merge_into

    root = tmp_path_factory.mktemp("merge") / "orders"
    od = load_table(spark, sf_dir, "orders")
    od.repartitionByRange(8, "o_orderkey").write.parquet(str(root))
    before = _inode_map(root)

    # delta clustered into the LOW key range so range layout keeps most
    # files untouched — the pruning property under test
    lo = od.filter(F.col("o_orderkey") % 64 == 0)
    cut = od.agg(F.expr("percentile(o_orderkey, 0.25)")).collect()[0][0]
    upd = (
        lo.filter(F.col("o_orderkey") <= cut)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
        .withColumn("o_orderstatus", F.lit("U"))
    )
    mx = od.agg(F.max("o_orderkey")).collect()[0][0]
    ins = od.limit(5).withColumn("o_orderkey", F.col("o_orderkey") + F.lit(mx))
    src = upd.unionByName(ins.select(*upd.columns))

    stats = merge_into(spark, str(root), src, ["o_orderkey"])
    assert 0 < stats["files_rewritten"] < stats["files_total"]

    merged = spark.read.parquet(str(root))
    expected = (
        od.join(src.select("o_orderkey"), "o_orderkey", "left_anti")
        .select(*od.columns)
        .unionByName(src.select(*od.columns))
    )
    assert merged.exceptAll(expected).count() == 0
    assert expected.exceptAll(merged).count() == 0
    # untouched files carried over by hard link: same inode as before
    after = _inode_map(root)
    carried = set(before) & set(after)
    assert len(carried) == stats["files_total"] - stats["files_rewritten"]
    assert all(before[p] == after[p] for p in carried)


def test_merge_into_delete_and_insert_only(spark, sf_dir, tmp_path_factory):
    from bearly_spark.operators.maintenance import merge_into

    root = tmp_path_factory.mktemp("merge_del") / "orders"
    od = load_table(spark, sf_dir, "orders")
    od.repartitionByRange(4, "o_orderkey").write.parquet(str(root))
    n = od.count()

    dels = od.filter(F.col("o_orderkey") % 10 == 0).select("o_orderkey")
    ndel = dels.count()
    stats = merge_into(spark, str(root), dels, ["o_orderkey"], when_matched="delete")
    assert stats["files_rewritten"] > 0
    left = spark.read.parquet(str(root))
    assert left.count() == n - ndel
    assert left.filter(F.col("o_orderkey") % 10 == 0).count() == 0

    # insert-only merge (no key matches): zero files rewritten, pure append
    before = _inode_map(root)
    mx = od.agg(F.max("o_orderkey")).collect()[0][0]
    ins = od.limit(7).withColumn("o_orderkey", F.col("o_orderkey") + F.lit(mx + 1))
    stats2 = merge_into(spark, str(root), ins, ["o_orderkey"])
    assert stats2["files_rewritten"] == 0
    after = _inode_map(root)
    assert all(after[p] == ino for p, ino in before.items())  # originals untouched
    assert spark.read.parquet(str(root)).count() == n - ndel + 7


def test_merge_into_over_broadcast_threshold_takes_shuffle_path(
    spark, tmp_path_factory, monkeypatch
):
    """Same guard on the snapshot-tree MERGE: a delta past
    ``BROADCAST_KEYS_MAX`` drops the broadcast hint and still produces
    the identical merged table."""
    from bearly_spark.operators.maintenance import merge_into
    from bearly_spark.sources import tables

    root = tmp_path_factory.mktemp("merge_guard") / "t"
    spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    ).coalesce(2).write.parquet(str(root))
    src = spark.range(10, 30).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("v")
    )
    monkeypatch.setattr(tables, "BROADCAST_KEYS_MAX", 5)
    stats = merge_into(spark, str(root), src, ["k"])
    assert stats["files_rewritten"] >= 1
    got = {r["k"]: r["v"] for r in spark.read.parquet(str(root)).collect()}
    assert len(got) == 40
    assert got[10] == 1000 and got[29] == 2900
    assert got[9] == 90 and got[30] == 300


def test_merge_into_edge_semantics(spark, sf_dir, tmp_path_factory):
    """Duplicate SOURCE keys raise; duplicate TARGET rows for a matched
    key all collapse to the one source row (upsert-by-key); a
    fallback-crash state (.old- dir, no root) heals on entry."""
    import pytest as _pytest

    from bearly_spark.operators.maintenance import merge_into

    root = tmp_path_factory.mktemp("merge_edge") / "t"
    spark.createDataFrame(
        [(1, "a"), (1, "a-dup"), (2, "b")], "k long, v string"
    ).coalesce(1).write.parquet(str(root))

    with _pytest.raises(ValueError, match="multiple rows"):
        merge_into(
            spark,
            str(root),
            spark.createDataFrame([(1, "x"), (1, "y")], "k long, v string"),
            ["k"],
        )

    merge_into(
        spark, str(root), spark.createDataFrame([(1, "new")], "k long, v string"), ["k"]
    )
    got = sorted(tuple(r) for r in spark.read.parquet(str(root)).collect())
    assert got == [(1, "new"), (2, "b")]

    # heal a simulated fallback crash: root renamed away pre-swap
    old = root.parent / f".old-{root.name}"
    root.rename(old)
    merge_into(
        spark, str(root), spark.createDataFrame([(2, "b2")], "k long, v string"), ["k"]
    )
    assert not old.exists()
    got = sorted(tuple(r) for r in spark.read.parquet(str(root)).collect())
    assert got == [(1, "new"), (2, "b2")]


def test_snapshot_restore_roundtrip_zero_copy(spark, sf_dir, tmp_path_factory):
    """Hard-link snapshots: zero data copy (same inodes), immutable
    through later merges (CoW never modifies bytes in place), and
    restore swaps the old state back atomically — restorable again."""
    from bearly_spark.operators.maintenance import (
        list_table_versions,
        merge_into,
        restore_table,
        snapshot_table,
    )

    root = tmp_path_factory.mktemp("snap") / "orders"
    od = load_table(spark, sf_dir, "orders")
    od.repartitionByRange(4, "o_orderkey").write.parquet(str(root))
    rows_v1 = sorted(tuple(r) for r in spark.read.parquet(str(root)).collect())

    v = snapshot_table(str(root))
    assert v == 1 and list_table_versions(str(root)) == [1]
    snap_dir = root.parent / f".history-{root.name}" / "v1"
    live = {p.name: p.stat().st_ino for p in root.glob("*.parquet")}
    snap = {p.name: p.stat().st_ino for p in snap_dir.glob("*.parquet")}
    assert live == snap  # linked, not copied

    dels = od.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    merge_into(spark, str(root), dels, ["o_orderkey"], when_matched="delete")
    assert spark.read.parquet(str(root)).count() < len(rows_v1)
    # snapshot unchanged by the merge
    assert sorted(
        tuple(r) for r in spark.read.parquet(str(snap_dir)).collect()
    ) == rows_v1

    v2 = snapshot_table(str(root))
    assert v2 == 2
    restore_table(spark, str(root), 1)
    assert sorted(tuple(r) for r in spark.read.parquet(str(root)).collect()) == rows_v1
    restore_table(spark, str(root), 2)  # roll forward again
    assert spark.read.parquet(str(root)).filter(F.col("o_orderkey") % 3 == 0).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no snapshot"):
        restore_table(spark, str(root), 99)


def test_restore_heals_a_half_finished_swap(spark, tmp_path_factory):
    """A fallback swap that crashed between its two renames leaves the
    table at ``.old-<name>`` and no table dir; restore heals that first
    and then swaps the snapshot in, like every other swap."""
    from bearly_spark.operators.maintenance import restore_table, snapshot_table

    root = tmp_path_factory.mktemp("half_swap") / "t"
    spark.range(0, 10).coalesce(1).write.parquet(str(root))
    snapshot_table(str(root))
    spark.range(10, 13).coalesce(1).write.mode("append").parquet(str(root))
    old = root.parent / f".old-{root.name}"
    root.rename(old)  # the crash window: no root, the tree at .old-
    restore_table(spark, str(root), 1)
    got = sorted(r["id"] for r in spark.read.parquet(str(root)).collect())
    assert got == list(range(10))
    assert not old.exists()
    assert not (root.parent / f".restoring-{root.name}").exists()


def test_scd2_apply_table_equals_full_rewrite(spark, sf_dir, tmp_path_factory):
    """Merge-backed incremental SCD2 == the full-frame scd2_apply, while
    rewriting only the files holding affected current versions."""
    from bearly_spark.operators.maintenance import scd2_apply, scd2_apply_table

    cust = load_table(spark, sf_dir, "customer")
    hist = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.to_date(F.lit("1992-01-01")).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    root = tmp_path_factory.mktemp("scd2t") / "hist"
    hist.repartitionByRange(8, "c_custkey").write.parquet(str(root))

    keys, attrs = ["c_custkey"], ["c_nationkey", "c_mktsegment"]
    chg = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        ((F.col("c_nationkey") + 5) % 25).alias("c_nationkey"),
        "c_mktsegment",
        F.to_date(F.lit("1999-09-09")).alias("change_ts"),
    )
    stats = scd2_apply_table(spark, str(root), chg, keys, attrs)
    assert stats["files_rewritten"] > 0
    got = sorted(tuple(r) for r in spark.read.parquet(str(root)).collect())
    want = sorted(tuple(r) for r in scd2_apply(hist, chg, keys, attrs).collect())
    assert got == want
    # idempotent: the same batch re-applied changes nothing (all
    # changes now match current state)
    scd2_apply_table(spark, str(root), chg, keys, attrs)
    assert sorted(tuple(r) for r in spark.read.parquet(str(root)).collect()) == got


def test_incremental_rollup_matches_full_and_is_delta_bounded(
    spark, sf_dir, tmp_path_factory
):
    """MV maintenance: refreshing a persisted rollup from a delta equals
    the one-shot rollup over base∪delta; the merge rewrites only files
    holding affected groups; a delta touching ONE group leaves the
    other group-files linked in place."""
    from bearly_spark.operators.maintenance import incremental_rollup

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,6)").alias("p"),
    )
    root = tmp_path_factory.mktemp("mv") / "rollup"
    base = od.filter(F.col("o_orderkey") % 4 != 0)
    (
        base.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("p").alias("sum_p"))
        .repartition(3, "o_orderstatus")
        .write.parquet(str(root))
    )
    delta = od.filter(F.col("o_orderkey") % 4 == 0)
    stats = incremental_rollup(spark, str(root), delta, ["o_orderstatus"], ["p"])
    assert stats["files_rewritten"] <= stats["files_total"]
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(str(root))
        .select("o_orderstatus", "n", F.col("sum_p").cast("double"))
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in od.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("p").cast("double").alias("s"))
        .collect()
    )
    assert got == want

    # single-group delta: only that group's file(s) rewrite
    before = _inode_map(root)
    one = od.filter(F.col("o_orderstatus") == "F").limit(10)
    stats2 = incremental_rollup(spark, str(root), one, ["o_orderstatus"], ["p"])
    assert stats2["files_rewritten"] < stats2["files_total"]
    after = _inode_map(root)
    carried = set(before) & set(after)
    assert carried and all(before[p] == after[p] for p in carried)
    # the mixed old/new file set must still read as ONE schema: the
    # refresh casts merged sums back to the stored decimal type (review
    # catch: decimal addition widens (p,s)->(p+1,s) per refresh, which
    # would leave rewritten files at a different parquet decimal width
    # than the hard-linked ones)
    reread = spark.read.parquet(str(root))
    assert dict(reread.dtypes)["sum_p"] == "decimal(28,6)"
    assert reread.count() == 3


def test_merge_into_partitioned_target_and_delete_all(spark, sf_dir, tmp_path_factory):
    """Hive-partitioned targets keep their layout through a merge
    (partition dirs preserved, values correct); deleting EVERY row
    leaves a readable empty table that accepts a follow-up insert-only
    merge (no wedged file-less dir)."""
    from pathlib import Path

    from bearly_spark.operators.maintenance import merge_into

    root = tmp_path_factory.mktemp("merge_part") / "orders"
    od = load_table(spark, sf_dir, "orders")
    od.write.partitionBy("o_orderstatus").parquet(str(root))

    upd = od.filter(F.col("o_orderkey") % 33 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(5.0)
    )
    merge_into(spark, str(root), upd, ["o_orderkey"], partition_cols=["o_orderstatus"])
    back = spark.read.parquet(str(root)).select(*od.columns)
    exp = (
        od.join(upd.select("o_orderkey"), "o_orderkey", "left_anti")
        .select(*od.columns)
        .unionByName(upd.select(*od.columns))
    )
    assert back.exceptAll(exp).count() == 0 and exp.exceptAll(back).count() == 0
    dirs = {d.name for d in Path(root).iterdir() if d.is_dir()}
    assert {"o_orderstatus=O", "o_orderstatus=F", "o_orderstatus=P"} <= dirs

    flat = tmp_path_factory.mktemp("merge_all") / "t"
    od.limit(50).coalesce(2).write.parquet(str(flat))
    merge_into(
        spark,
        str(flat),
        spark.read.parquet(str(flat)).select("o_orderkey"),
        ["o_orderkey"],
        when_matched="delete",
    )
    assert spark.read.parquet(str(flat)).count() == 0
    stats = merge_into(spark, str(flat), od.limit(3), ["o_orderkey"])
    assert stats["rows_written"] == 3
    assert spark.read.parquet(str(flat)).count() == 3


def test_table_diff_edge_semantics(spark):
    """table_diff edges: identical keys absent from the output;
    null-vs-value column changes detected (null-safe hashing);
    duplicate keys per side compare as sorted hash MULTISETS (a
    reordered duplicate pair is NOT a change; a dup-count-only
    difference IS); schema mismatch (names OR types) raises;
    NULL keys join null-safely; multi-column payload splits and
    null-sentinel lookalikes cannot collide (JSON row encoding)."""
    import pytest as _pytest

    from bearly_spark.operators.maintenance import table_diff

    before = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d"), (5, "x"), (5, "y")],
        "k long, v string",
    )
    after = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c"), (6, "n"), (5, "y"), (5, "x")],
        "k long, v string",
    )
    got = {(r["k"], r["change"]) for r in table_diff(before, after, ["k"]).collect()}
    assert got == {(2, "changed"), (3, "changed"), (4, "removed"), (6, "added")}
    # 1 identical and 5 (same pair, reordered) are absent

    with _pytest.raises(ValueError, match="schemas differ"):
        table_diff(before, after.withColumnRenamed("v", "w"), ["k"])
    # same names, different TYPE: also a schema mismatch (a string-cast
    # hash would otherwise call int 1 vs string '1' unchanged)
    with _pytest.raises(ValueError, match="schemas differ"):
        table_diff(before, after.withColumn("v", F.col("v").cast("binary")), ["k"])

    # dup-count-only difference is a change (multiset, not set semantics)
    b2 = spark.createDataFrame([(5, "x"), (5, "x")], "k long, v string")
    a2 = spark.createDataFrame([(5, "x")], "k long, v string")
    assert [(r["k"], r["change"]) for r in table_diff(b2, a2, ["k"]).collect()] == [
        (5, "changed")
    ]

    # NULL key: identical on both sides -> absent; changed -> reported once
    b3 = spark.createDataFrame([(None, "a"), (7, "q")], "k long, v string")
    a3 = spark.createDataFrame([(None, "a"), (7, "Q")], "k long, v string")
    assert {(r["k"], r["change"]) for r in table_diff(b3, a3, ["k"]).collect()} == {
        (7, "changed")
    }
    a4 = spark.createDataFrame([(None, "Z"), (7, "q")], "k long, v string")
    assert {(r["k"], r["change"]) for r in table_diff(b3, a4, ["k"]).collect()} == {
        (None, "changed")
    }

    # adversarial payloads that defeat delimiter-concatenation hashing:
    # a value containing the old \x01 delimiter split differently across
    # two columns, and a literal '\x00null' string vs a real NULL
    b5 = spark.createDataFrame(
        [(1, "x\x01y", "z"), (2, None, "w")], "k long, a string, b string"
    )
    a5 = spark.createDataFrame(
        [(1, "x", "y\x01z"), (2, "\x00null", "w")], "k long, a string, b string"
    )
    assert {(r["k"], r["change"]) for r in table_diff(b5, a5, ["k"]).collect()} == {
        (1, "changed"),
        (2, "changed"),
    }
