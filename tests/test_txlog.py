"""Commit-log table format (sources/txlog): ACID protocol, time travel,
stats-based file skipping, compaction, vacuum, checkpoints.

Every test builds its table from planted rows (no fixture dependence) so
the expected state of every version is known in closed form.
"""

from __future__ import annotations

import json

import pytest

import pyspark.sql.functions as F

from bearly_spark.sources import tables
from bearly_spark.sources import txlog as TX


def _rows(spark, lo, hi, cat="a"):
    """(k, v, cat) rows for k in [lo, hi)."""
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit(cat).alias("cat"),
    )


def _collect(df):
    return sorted((r["k"], r["v"], r["cat"]) for r in df.collect())


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tx")


def test_create_append_read_roundtrip(spark, table):
    v1 = TX.write_table(_rows(spark, 0, 5), table, stats_cols=["k"])
    v2 = TX.write_table(_rows(spark, 5, 8), table, stats_cols=["k"])
    assert (v1, v2) == (1, 2)
    assert _collect(TX.read_table(spark, table)) == _collect(_rows(spark, 0, 8))
    assert TX.latest_version(table) == 2


def test_time_travel_every_version(spark, table):
    TX.write_table(_rows(spark, 0, 3), table)
    TX.write_table(_rows(spark, 3, 6), table)
    TX.write_table(_rows(spark, 6, 9), table)
    for v, hi in [(1, 3), (2, 6), (3, 9)]:
        assert _collect(TX.read_table(spark, table, version=v)) == _collect(
            _rows(spark, 0, hi)
        )


def test_timestamp_time_travel(spark, table):
    """as_of_ts resolves to the newest commit at or before that time
    (Delta's timestampAsOf): between-commit timestamps pick the earlier
    version, a pre-table timestamp raises, datetime/ISO/epoch forms all
    resolve, and history() surfaces the commit ts that makes the form
    pickable."""
    from datetime import datetime

    TX.write_table(_rows(spark, 0, 3), table)
    TX.write_table(_rows(spark, 3, 6), table)
    TX.write_table(_rows(spark, 6, 9), table)
    hist = TX.history(table)
    assert [h["version"] for h in hist] == [1, 2, 3]
    ts = {h["version"]: h["ts"] for h in hist}
    assert ts[1] <= ts[2] <= ts[3]
    # exactly at v2's commit time -> v2; just before v3 -> still v2
    for probe in (ts[2], (ts[2] + ts[3]) / 2):
        assert _collect(
            TX.read_table(spark, table, as_of_ts=probe)
        ) == _collect(_rows(spark, 0, 6))
    # far future -> latest; datetime and ISO forms resolve identically
    assert _collect(
        TX.read_table(spark, table, as_of_ts=ts[3] + 3600)
    ) == _collect(_rows(spark, 0, 9))
    # +1ms: fromtimestamp truncates to microseconds, which could
    # otherwise land an epsilon BEFORE the first commit and raise
    dt = datetime.fromtimestamp(ts[1] + 0.001)
    assert _collect(TX.read_table(spark, table, as_of_ts=dt)) == _collect(
        TX.read_table(spark, table, as_of_ts=dt.isoformat())
    )
    with pytest.raises(ValueError, match="no commit at or before"):
        TX.read_table(spark, table, as_of_ts=ts[1] - 3600)
    with pytest.raises(ValueError, match="not both"):
        TX.read_table(spark, table, version=1, as_of_ts=ts[1])
    # the DataSource face takes the same pin as an option
    TX.register_source(spark)
    got = (
        spark.read.format("txlog")
        .option("path", table)
        .option("asOfTimestamp", str(ts[2]))
        .load()
    )
    assert _collect(got) == _collect(_rows(spark, 0, 6))


def test_overwrite_replaces_live_set(spark, table):
    TX.write_table(_rows(spark, 0, 5), table)
    TX.write_table(_rows(spark, 100, 103, cat="b"), table, mode="overwrite")
    assert _collect(TX.read_table(spark, table)) == _collect(
        _rows(spark, 100, 103, cat="b")
    )
    # time travel still sees the pre-overwrite state
    assert _collect(TX.read_table(spark, table, version=1)) == _collect(
        _rows(spark, 0, 5)
    )


def test_append_schema_mismatch_raises(spark, table):
    TX.write_table(_rows(spark, 0, 3), table)
    bad = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="schema mismatch"):
        TX.write_table(bad, table)


def test_concurrent_append_retries_past_taken_version(spark, table):
    TX.write_table(_rows(spark, 0, 3), table)
    # a concurrent writer takes v2 out from under us
    TX._atomic_create(
        TX._commit_file(TX._root(table), 2),
        {"version": 2, "operation": "append", "schema": _rows(spark, 0, 1).schema.json(), "add": [], "remove": []},
    )
    v = TX.write_table(_rows(spark, 3, 6), table)
    assert v == 3
    assert _collect(TX.read_table(spark, table)) == _collect(_rows(spark, 0, 6))


def test_overwrite_conflict_raises(spark, table):
    TX.write_table(_rows(spark, 0, 3), table)
    root = TX._root(table)
    # an overwrite that read v1, with an append landing before it commits:
    TX.write_table(_rows(spark, 3, 6), table)  # now at v2
    add = TX._write_data_files(_rows(spark, 9, 10), root, [])
    with pytest.raises(TX.TxConflict):
        TX._commit(
            root,
            "overwrite",
            _rows(spark, 0, 1).schema.json(),
            add,
            [],
            expected_version=1,
        )


def test_stats_skipping_prunes_and_stays_exact(spark, table):
    # four single-file commits covering disjoint k-ranges
    for lo in (0, 100, 200, 300):
        TX.write_table(
            _rows(spark, lo, lo + 50).coalesce(1), table, stats_cols=["k"]
        )
    files, total = TX.plan_files(table, where={"k": (120, 180)})
    assert total == 4 and len(files) == 1
    pruned = TX.read_table(spark, table, where={"k": (120, 180)})
    full = TX.read_table(spark, table).filter((F.col("k") >= 120) & (F.col("k") <= 180))
    assert _collect(pruned) == _collect(full)
    # unbounded side
    files_hi, _ = TX.plan_files(table, where={"k": (240, None)})
    assert len(files_hi) == 2


def test_skipping_never_prunes_without_stats(spark, table):
    TX.write_table(_rows(spark, 0, 5).coalesce(1), table)  # no stats_cols
    files, total = TX.plan_files(table, where={"k": (1000, 2000)})
    assert len(files) == total == 1  # no stats -> must scan
    assert TX.read_table(spark, table, where={"k": (1000, 2000)}).count() == 0


def test_all_null_file_pruned_for_range_predicate(spark, table):
    nulls = spark.range(3).select(
        F.lit(None).cast("long").alias("k"),
        F.col("id").alias("v"),
        F.lit("n").alias("cat"),
    )
    TX.write_table(nulls.coalesce(1), table, stats_cols=["k"])
    TX.write_table(_rows(spark, 0, 5).coalesce(1), table, stats_cols=["k"])
    files, total = TX.plan_files(table, where={"k": (0, 10)})
    assert total == 2 and len(files) == 1  # the all-null file cannot match


def test_compact_preserves_data_and_history(spark, table):
    for lo in (0, 10, 20, 30):
        TX.write_table(_rows(spark, lo, lo + 10).coalesce(1), table, stats_cols=["k"])
    before = _collect(TX.read_table(spark, table))
    v = TX.compact(spark, table, target_files=1, stats_cols=["k"], order_by=["k"])
    assert v == 5
    files, total = TX.plan_files(table)
    assert total == len(files) == 1
    assert _collect(TX.read_table(spark, table)) == before
    # pre-compaction version still reads (old files retained)
    assert _collect(TX.read_table(spark, table, version=4)) == before


def test_vacuum_reclaims_only_unreferenced(spark, table):
    TX.write_table(_rows(spark, 0, 5).coalesce(1), table)
    TX.write_table(_rows(spark, 100, 103, cat="b"), table, mode="overwrite")
    # the retention guard protects fresh files (in-flight writer window)
    assert TX.vacuum(table, keep_from_version=2) == []
    deleted = TX.vacuum(table, keep_from_version=2, min_age_seconds=0)
    assert deleted  # v1's files are unreferenced from v2 on
    assert _collect(TX.read_table(spark, table)) == _collect(
        _rows(spark, 100, 103, cat="b")
    )
    with pytest.raises(ValueError, match="vacuumed"):
        TX.read_table(spark, table, version=1)


def test_vacuum_reclaims_aged_staging_dirs(spark, table):
    """A crashed writer's .staging-<token>/ tree (written, never moved
    into data/) is invisible to readers and reclaimed by vacuum under
    the same age guard as unreferenced data files; a YOUNG staging dir
    (possibly an in-flight writer) is never touched."""
    import os
    from pathlib import Path

    TX.write_table(_rows(spark, 0, 3), table)
    root = Path(table)
    crashed = root / ".staging-deadbeef0000"
    crashed.mkdir()
    (crashed / "part-00000.parquet").write_bytes(b"orphan")
    old = 1e9
    os.utime(crashed, (old, old))
    inflight = root / ".staging-cafecafe0000"
    inflight.mkdir()
    deleted = TX.vacuum(table, keep_from_version=1, min_age_seconds=3600)
    assert ".staging-deadbeef0000" in deleted
    assert not crashed.exists()
    assert inflight.exists()
    assert _collect(TX.read_table(spark, table)) == _collect(_rows(spark, 0, 3))


def test_history_audit_trail(spark, table):
    TX.write_table(_rows(spark, 0, 5), table)
    TX.write_table(_rows(spark, 5, 8), table)
    TX.write_table(_rows(spark, 0, 2, cat="c"), table, mode="overwrite")
    h = TX.history(table)
    assert [x["operation"] for x in h] == ["create", "append", "overwrite"]
    assert [x["rows_added"] for x in h] == [5, 3, 2]
    assert h[2]["n_removed"] > 0


def test_checkpoint_replay_matches_full_replay(spark, table):
    # 12 commits crosses the checkpoint cadence (10)
    for lo in range(0, 12):
        TX.write_table(_rows(spark, lo * 5, lo * 5 + 5).coalesce(1), table)
    root = TX._root(table)
    assert TX._checkpoint_file(root, 10).is_file()
    live_fast = TX._replay(root, 12).live
    # force a full replay by reading with no checkpoint available
    chk = TX._checkpoint_file(root, 10)
    payload = json.loads(chk.read_text())
    chk.unlink()
    live_full = TX._replay(root, 12).live
    assert live_fast == live_full
    assert set(payload["live"]) <= set(live_full)
    assert _collect(TX.read_table(spark, table)) == _collect(_rows(spark, 0, 60))


def test_empty_table_read_keeps_schema(spark, table):
    TX.write_table(_rows(spark, 0, 5).coalesce(1), table, stats_cols=["k"])
    # a predicate that prunes everything must still return the schema
    df = TX.read_table(spark, table, where={"k": (10_000, 20_000)})
    assert df.columns == ["k", "v", "cat"]
    assert df.count() == 0


def test_multipart_commit_is_one_version_many_files(spark, table):
    parts = [_rows(spark, lo, lo + 5).coalesce(1) for lo in (0, 100, 200)]
    v = TX.write_table(parts, table, stats_cols=["k"])
    assert v == 1
    files, total = TX.plan_files(table)
    assert total == len(files) == 3  # one file group per part, one commit
    # each file's stats span exactly its part
    files_mid, _ = TX.plan_files(table, where={"k": (100, 104)})
    assert len(files_mid) == 1
    assert _collect(TX.read_table(spark, table)) == _collect(
        _rows(spark, 0, 5).union(_rows(spark, 100, 105)).union(_rows(spark, 200, 205))
    )


def test_multipart_schema_mismatch_raises(spark, table):
    good = _rows(spark, 0, 3)
    bad = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="schema mismatch"):
        TX.write_table([good, bad], table)


def test_read_changes_per_commit(spark, table):
    TX.write_table(_rows(spark, 0, 3), table)
    TX.write_table(_rows(spark, 3, 6), table)
    TX.write_table(_rows(spark, 100, 102, cat="b"), table, mode="overwrite")

    ins12 = TX.read_changes(spark, table, 0, 2)
    assert sorted(
        (r["k"], r["_change_version"], r["_change_type"]) for r in ins12.collect()
    ) == [(k, 1 if k < 3 else 2, "insert") for k in range(6)]

    ch3 = TX.read_changes(spark, table, 2)
    got = sorted(
        (r["k"], r["_change_type"]) for r in ch3.collect()
    )
    assert got == [(k, "delete") for k in range(6)] + [
        (100, "insert"),
        (101, "insert"),
    ]

    # compaction is logically a no-op: the feed must emit nothing
    TX.compact(spark, table, target_files=1)
    assert TX.read_changes(spark, table, 3).count() == 0


def test_read_changes_empty_range_keeps_schema(spark, table):
    TX.write_table(_rows(spark, 0, 3), table)
    df = TX.read_changes(spark, table, 1)
    assert df.columns == ["k", "v", "cat", "_change_version", "_change_type"]
    assert df.count() == 0


def test_append_stream_commits_batches_and_skips_replays(
    spark, tmp_path_factory
):
    import shutil

    base = tmp_path_factory.mktemp("txstream")
    src = base / "src"
    src.mkdir()
    table = str(base / "table")
    _rows(spark, 0, 4).coalesce(1).write.parquet(str(base / "seed_a"))
    _rows(spark, 4, 7).coalesce(1).write.parquet(str(base / "seed_b"))
    shutil.copy(
        next((base / "seed_a").glob("*.parquet")), src / "a.parquet"
    )
    shutil.copy(
        next((base / "seed_b").glob("*.parquet")), src / "b.parquet"
    )

    def drain(ck):
        stream = (
            spark.readStream.schema(_rows(spark, 0, 1).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            TX.append_stream(stream, table, stats_cols=["k"])
            .option("checkpointLocation", str(base / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain("ck1")
    assert _collect(TX.read_table(spark, table)) == _collect(_rows(spark, 0, 7))
    h = TX.history(table)
    assert len(h) == 2 and all(x["operation"] in ("create", "append") for x in h)

    # a FRESH checkpoint replays batch ids 0..1 over the same files:
    # the idempotency tags must skip both without writing anything
    drain("ck2")
    assert _collect(TX.read_table(spark, table)) == _collect(_rows(spark, 0, 7))
    assert len(TX.history(table)) == 2


def test_read_changes_raises_across_schema_change(spark, table):
    TX.write_table(_rows(spark, 0, 3), table)
    reshaped = spark.range(3).select(
        F.col("id").alias("k"), F.lit("x").alias("note")
    )
    TX.write_table(reshaped, table, mode="overwrite")
    with pytest.raises(ValueError, match="schema change"):
        TX.read_changes(spark, table, 0)
    # the schema-changing overwrite's delete feed is unrepresentable
    # under the new schema: loud error pointing at the old version
    with pytest.raises(ValueError, match="read_table"):
        TX.read_changes(spark, table, 1)
    # a range strictly before the change reads fine under its schema
    assert TX.read_changes(spark, table, 0, 1).count() == 3


def test_read_changes_spans_additive_evolution(spark, table):
    """A feed range spanning a merge_schema append stays readable: the
    whole feed comes back under the evolved schema, pre-evolution rows
    NULL-filled in the new column — the same name-based resolution
    read_table applies. Only drops/retypes split the feed."""
    TX.write_table(_rows(spark, 0, 3).coalesce(1), table, stats_cols=["k"])
    wider = spark.range(3, 5).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit("b").alias("cat"),
        (F.col("id") + 100).alias("score"),
    )
    TX.write_table(
        wider.coalesce(1), table, merge_schema=True, stats_cols=["k"]
    )
    feed = TX.read_changes(spark, table, 0)
    assert feed.columns == ["k", "v", "cat", "score", "_change_version", "_change_type"]
    got = {r["k"]: (r["score"], r["_change_type"]) for r in feed.collect()}
    assert got == {
        0: (None, "insert"),
        1: (None, "insert"),
        2: (None, "insert"),
        3: (103, "insert"),
        4: (104, "insert"),
    }
    # a post-evolution DELETE's feed also spans: its removed file was
    # written pre-evolution and NULL-fills the same way
    TX.delete_where(spark, table, {"k": (0, 0)})
    deletes = TX.read_changes(spark, table, 2).filter(
        F.col("_change_type") == "delete"
    )
    assert [r["k"] for r in deletes.collect()] == [0, 1, 2]


def test_read_changes_clamps_past_latest(spark, table):
    TX.write_table(_rows(spark, 0, 3), table)
    TX.write_table(_rows(spark, 3, 5), table)
    assert TX.read_changes(spark, table, 1, to_version=999).count() == 2


def test_append_schema_recheck_at_commit_time(spark, table):
    """An append whose pre-write check passed must still fail at commit
    if an interleaved overwrite changed the table schema."""
    TX.write_table(_rows(spark, 0, 3), table)
    root = TX._root(table)
    # simulate: data files staged under the OLD schema, then an
    # overwrite lands, then the append tries to commit
    add = TX._write_data_files(_rows(spark, 3, 5), root, [])
    reshaped = spark.range(3).select(
        F.col("id").alias("k"), F.lit("x").alias("note")
    )
    TX.write_table(reshaped, table, mode="overwrite")
    with pytest.raises(ValueError, match="schema mismatch"):
        TX._commit(
            root,
            "append",
            _rows(spark, 0, 1).schema.json(),
            add,
            [],
            expected_version=None,
            check_append_schema=True,
        )


def test_tag_map_rides_checkpoints(spark, table):
    """12 tagged commits cross the checkpoint cadence: the tag lookup
    must resolve from the checkpoint's accumulated map plus the tail,
    and see every tag."""
    for i in range(12):
        TX.write_table(
            _rows(spark, i * 2, i * 2 + 2), table, batch_tag=f"app-{i}"
        )
    root = TX._root(table)
    assert TX._checkpoint_file(root, 10).is_file()
    tags = TX._replay(root, 12).tags
    assert tags == {f"app-{i}": i + 1 for i in range(12)}
    # version-bounded view excludes later tags
    assert "app-11" not in TX._replay(root, 11).tags


def test_append_stream_distinct_app_ids_do_not_collide(
    spark, tmp_path_factory
):
    import shutil

    base = tmp_path_factory.mktemp("txstream2")
    src_a, src_b = base / "a", base / "b"
    src_a.mkdir(), src_b.mkdir()
    table = str(base / "table")
    _rows(spark, 0, 4).coalesce(1).write.parquet(str(base / "seed_a"))
    _rows(spark, 4, 7).coalesce(1).write.parquet(str(base / "seed_b"))
    shutil.copy(next((base / "seed_a").glob("*.parquet")), src_a / "a.parquet")
    shutil.copy(next((base / "seed_b").glob("*.parquet")), src_b / "b.parquet")

    def drain(src, ck, app):
        stream = (
            spark.readStream.schema(_rows(spark, 0, 1).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            TX.append_stream(stream, table, app_id=app)
            .option("checkpointLocation", str(base / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # both streams start at batch_id 0; distinct app ids keep both
    drain(src_a, "ck_a", "appA")
    drain(src_b, "ck_b", "appB")
    assert _collect(TX.read_table(spark, table)) == _collect(_rows(spark, 0, 7))


def test_delete_where_prunes_rewrite_to_touched_files(spark, table):
    for lo in (0, 100, 200, 300):
        TX.write_table(
            _rows(spark, lo, lo + 50).coalesce(1), table, stats_cols=["k"]
        )
    files_before, _ = TX.plan_files(table)
    v, stats = TX.delete_where(
        spark, table, {"k": (120, 140)}, stats_cols=["k"]
    )
    assert v == 5
    assert stats["files_rewritten"] == 1 and stats["files_total"] == 4
    assert stats["rows_kept"] == 50 - 21  # 120..140 inclusive deleted
    files_after, _ = TX.plan_files(table)
    # the three untouched files are byte-identical (same names survive)
    assert len(set(files_before) & set(files_after)) == 3
    got = _collect(TX.read_table(spark, table))
    want = _collect(
        _rows(spark, 0, 50)
        .union(_rows(spark, 100, 120))
        .union(_rows(spark, 141, 150))
        .union(_rows(spark, 200, 250))
        .union(_rows(spark, 300, 350))
    )
    assert got == want
    # pre-delete version still time-travels
    assert len(_collect(TX.read_table(spark, table, version=4))) == 200


def test_delete_where_keeps_null_predicate_rows(spark, table):
    nulls = spark.range(2).select(
        F.lit(None).cast("long").alias("k"),
        F.col("id").alias("v"),
        F.lit("n").alias("cat"),
    )
    TX.write_table([_rows(spark, 0, 5).coalesce(1), nulls.coalesce(1)], table)
    v, stats = TX.delete_where(spark, table, {"k": (0, 100)})
    # no stats were logged, so BOTH files count as touched; the null
    # rows never match the range predicate and survive the rewrite
    assert stats["files_rewritten"] == 2
    rows = TX.read_table(spark, table).collect()
    assert sorted(r["v"] for r in rows) == [0, 1]
    assert all(r["k"] is None for r in rows)


def test_delete_where_noop_commits_nothing(spark, table):
    TX.write_table(_rows(spark, 0, 5).coalesce(1), table, stats_cols=["k"])
    v, stats = TX.delete_where(spark, table, {"k": (1000, 2000)})
    assert v == 1 and stats["files_rewritten"] == 0
    assert TX.latest_version(table) == 1


def test_delete_shows_in_change_feed(spark, table):
    TX.write_table(_rows(spark, 0, 4).coalesce(1), table, stats_cols=["k"])
    TX.delete_where(spark, table, {"k": (1, 2)}, stats_cols=["k"])
    ch = TX.read_changes(spark, table, 1)
    got = sorted((r["k"], r["_change_type"]) for r in ch.collect())
    # file-granular CDF: old file rows out, kept rows back in
    assert got == [
        (0, "delete"),
        (0, "insert"),
        (1, "delete"),
        (2, "delete"),
        (3, "delete"),
        (3, "insert"),
    ]


def test_merge_upserts_with_pruned_rewrite(spark, table):
    for lo in (0, 100, 200, 300):
        TX.write_table(
            _rows(spark, lo, lo + 50).coalesce(1), table, stats_cols=["k"]
        )
    files_before, _ = TX.plan_files(table)
    # updates for k 110..119 (x100 values) + inserts k 1000..1004,
    # all inside the promised zone [100, 1004]
    delta = spark.range(110, 120).union(spark.range(1000, 1005)).select(
        F.col("id").alias("k"),
        (F.col("id") * 100).alias("v"),
        F.lit("m").alias("cat"),
    )
    v, stats = TX.merge_into_table(
        spark, table, delta, ["k"], prune={"k": (100, 1004)}, stats_cols=["k"]
    )
    assert v == 5
    # zone [100,1004] overlaps files [100,150) and [200,250) and [300,350)
    assert stats["files_rewritten"] == 3 and stats["files_total"] == 4
    files_after, _ = TX.plan_files(table)
    assert len(set(files_before) & set(files_after)) == 1  # [0,50) untouched
    got = {r["k"]: (r["v"], r["cat"]) for r in TX.read_table(spark, table).collect()}
    assert len(got) == 205
    assert got[110] == (11000, "m")  # updated
    assert got[111] == (11100, "m")
    assert got[109] == (1090, "a")  # untouched neighbor
    assert got[1000] == (100000, "m")  # inserted
    # pre-merge version intact
    assert len(_collect(TX.read_table(spark, table, version=4))) == 200


def test_merge_over_broadcast_threshold_takes_shuffle_path(spark, table, monkeypatch):
    """A delta past ``BROADCAST_KEYS_MAX`` must not be force-broadcast:
    the guard drops the hint (shuffle/AQE path) and the merged table is
    identical to the broadcast path's result."""
    TX.write_table(_rows(spark, 0, 40).coalesce(1), table, stats_cols=["k"])
    delta = spark.range(10, 30).select(
        F.col("id").alias("k"),
        (F.col("id") * 100).alias("v"),
        F.lit("m").alias("cat"),
    )
    monkeypatch.setattr(tables, "BROADCAST_KEYS_MAX", 5)
    v, stats = TX.merge_into_table(spark, table, delta, ["k"])
    assert v == 2 and stats["files_rewritten"] == 1
    got = {r["k"]: (r["v"], r["cat"]) for r in TX.read_table(spark, table).collect()}
    assert len(got) == 40
    assert got[10] == (1000, "m") and got[29] == (2900, "m")
    assert got[9] == (90, "a") and got[30] == (300, "a")


def test_merge_rejects_delta_outside_prune_zone(spark, table):
    TX.write_table(_rows(spark, 0, 50).coalesce(1), table, stats_cols=["k"])
    stray = spark.range(10, 12).union(spark.range(900, 901)).select(
        F.col("id").alias("k"),
        (F.col("id") * 100).alias("v"),
        F.lit("m").alias("cat"),
    )
    with pytest.raises(ValueError, match="outside the prune zone"):
        TX.merge_into_table(spark, table, stray, ["k"], prune={"k": (0, 49)})
    # NULL in a zone column is also an escape, not a silent keep
    nullk = spark.range(1).select(
        F.lit(None).cast("long").alias("k"),
        F.col("id").alias("v"),
        F.lit("m").alias("cat"),
    )
    with pytest.raises(ValueError, match="outside the prune zone"):
        TX.merge_into_table(spark, table, nullk, ["k"], prune={"k": (0, 49)})


def test_merge_without_prune_rewrites_everything(spark, table):
    for lo in (0, 100):
        TX.write_table(_rows(spark, lo, lo + 5).coalesce(1), table)
    delta = _rows(spark, 3, 4, cat="m")
    v, stats = TX.merge_into_table(spark, table, delta, ["k"])
    assert stats["files_rewritten"] == 2  # honest default: no zone, no pruning
    got = {r["k"]: r["cat"] for r in TX.read_table(spark, table).collect()}
    assert got[3] == "m" and got[4] == "a" and len(got) == 10


def test_datasource_batch_read(spark, table):
    for lo in (0, 100):
        TX.write_table(_rows(spark, lo, lo + 5).coalesce(1), table, stats_cols=["k"])
    TX.register_source(spark)
    df = spark.read.format("txlog").option("path", table).load()
    assert df.columns == ["k", "v", "cat"]
    assert _collect(df) == _collect(_rows(spark, 0, 5).union(_rows(spark, 100, 105)))
    # time travel through the public option surface
    v1 = spark.read.format("txlog").option("path", table).option("version", 1).load()
    assert _collect(v1) == _collect(_rows(spark, 0, 5))


def test_datasource_stream_consumes_appends(spark, table, tmp_path):
    TX.write_table(_rows(spark, 0, 3).coalesce(1), table)
    TX.register_source(spark)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def drain():
        q = (
            spark.readStream.format("txlog")
            .option("path", table)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain()
    assert spark.read.parquet(out).count() == 3
    # new commits arrive; a restart picks up exactly the delta
    TX.write_table(_rows(spark, 3, 8).coalesce(1), table)
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 8
    assert sorted(r["k"] for r in got.collect()) == list(range(8))


def test_datasource_stream_rejects_dml_unless_ignored(spark, table, tmp_path):
    TX.write_table(_rows(spark, 0, 4).coalesce(1), table, stats_cols=["k"])
    TX.delete_where(spark, table, {"k": (1, 2)}, stats_cols=["k"])
    TX.register_source(spark)

    def drain(opts, ck):
        reader = spark.readStream.format("txlog").option("path", table)
        for k_, v_ in opts.items():
            reader = reader.option(k_, v_)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / ck / "out"))
            .option("checkpointLocation", str(tmp_path / ck / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    with pytest.raises(Exception, match="append-only"):
        drain({}, "strict")
    drain({"ignoreChanges": "true"}, "loose")
    got = spark.read.parquet(str(tmp_path / "loose" / "out"))
    # Delta's ignoreChanges contract: the DML commit's ADDED files are
    # emitted (duplicates of rewritten rows, never dropped inserts) —
    # create's 4 rows + the delete rewrite's 2 kept rows
    assert got.count() == 6
    assert sorted(r["k"] for r in got.collect()) == [0, 0, 1, 2, 3, 3]


def test_datasource_stream_starting_version_is_inclusive(
    spark, table, tmp_path
):
    TX.write_table(_rows(spark, 0, 3).coalesce(1), table)
    TX.write_table(_rows(spark, 3, 5).coalesce(1), table)
    TX.register_source(spark)
    q = (
        spark.readStream.format("txlog")
        .option("path", table)
        .option("startingVersion", 2)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert sorted(r["k"] for r in got.collect()) == [3, 4]  # v2 included


def test_delete_where_unbounded_range_keeps_nulls(spark, table):
    nulls = spark.range(2).select(
        F.lit(None).cast("long").alias("k"),
        F.col("id").alias("v"),
        F.lit("n").alias("cat"),
    )
    TX.write_table([_rows(spark, 0, 3).coalesce(1), nulls.coalesce(1)], table)
    TX.delete_where(spark, table, {"k": (None, None)})
    rows = TX.read_table(spark, table).collect()
    # "every value of k" still means every NON-NULL value
    assert len(rows) == 2 and all(r["k"] is None for r in rows)


def test_dv_delete_masks_without_rewrite(spark, table):
    for lo in (0, 100, 200, 300):
        TX.write_table(
            _rows(spark, lo, lo + 50).coalesce(1), table, stats_cols=["k"]
        )
    files_before, _ = TX.plan_files(table)
    v, stats = TX.delete_where_dv(spark, table, {"k": (120, 140)})
    assert v == 5
    assert stats == {"files_masked": 1, "files_total": 4, "rows_masked": 21}
    files_after, _ = TX.plan_files(table)
    assert files_after == files_before  # ZERO files rewritten
    got = _collect(TX.read_table(spark, table))
    want = _collect(
        _rows(spark, 0, 50)
        .union(_rows(spark, 100, 120))
        .union(_rows(spark, 141, 150))
        .union(_rows(spark, 200, 250))
        .union(_rows(spark, 300, 350))
    )
    assert got == want
    # pre-DV version still sees every row
    assert len(_collect(TX.read_table(spark, table, version=4))) == 200


def test_dv_noop_commits_nothing(spark, table):
    TX.write_table(_rows(spark, 0, 5).coalesce(1), table, stats_cols=["k"])
    v, stats = TX.delete_where_dv(spark, table, {"k": (1000, 2000)})
    assert v == 1 and stats["rows_masked"] == 0
    assert TX.latest_version(table) == 1


def test_dv_masked_rows_stay_dead_through_cow(spark, table):
    TX.write_table(_rows(spark, 0, 10).coalesce(1), table, stats_cols=["k"])
    TX.delete_where_dv(spark, table, {"k": (2, 3)})
    # a CoW delete touching the same file must NOT resurrect 2..3
    TX.delete_where(spark, table, {"k": (7, 8)}, stats_cols=["k"])
    got = sorted(r["k"] for r in TX.read_table(spark, table).collect())
    assert got == [0, 1, 4, 5, 6, 9]
    # merge must not resurrect them either
    TX.merge_into_table(spark, table, _rows(spark, 5, 6, cat="m"), ["k"])
    got = sorted(r["k"] for r in TX.read_table(spark, table).collect())
    assert got == [0, 1, 4, 5, 6, 9]


def test_compact_materializes_and_retires_dvs(spark, table):
    TX.write_table(_rows(spark, 0, 10).coalesce(1), table, stats_cols=["k"])
    TX.delete_where_dv(spark, table, {"k": (2, 4)})
    root = TX._root(table)
    assert TX._replay(root, TX.latest_version(table)).dv
    before = _collect(TX.read_table(spark, table))
    TX.compact(spark, table, target_files=1, stats_cols=["k"])
    assert TX._replay(root, TX.latest_version(table)).dv == []
    assert _collect(TX.read_table(spark, table)) == before
    # vacuum now reclaims the retired DV file along with the old data
    deleted = TX.vacuum(table, keep_from_version=3, min_age_seconds=0)
    assert any("dv-" in d for d in deleted)
    assert _collect(TX.read_table(spark, table)) == before


def test_dv_vacuum_protects_active_masks(spark, table):
    TX.write_table(_rows(spark, 0, 10).coalesce(1), table, stats_cols=["k"])
    TX.delete_where_dv(spark, table, {"k": (2, 4)})
    deleted = TX.vacuum(table, keep_from_version=2, min_age_seconds=0)
    assert not any("dv-" in d for d in deleted)
    got = sorted(r["k"] for r in TX.read_table(spark, table).collect())
    assert got == [0, 1, 5, 6, 7, 8, 9]


def test_dv_delete_shows_in_change_feed(spark, table):
    TX.write_table(_rows(spark, 0, 5).coalesce(1), table, stats_cols=["k"])
    TX.delete_where_dv(spark, table, {"k": (1, 2)})
    ch = TX.read_changes(spark, table, 1)
    got = sorted((r["k"], r["_change_type"]) for r in ch.collect())
    assert got == [(1, "delete"), (2, "delete")]  # exact rows, no reinserts


def test_schema_evolution_additive_append(spark, table):
    TX.write_table(_rows(spark, 0, 3).coalesce(1), table, stats_cols=["k"])
    wider = spark.range(3, 6).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit("b").alias("cat"),
        (F.col("id") + 100).alias("score"),
    )
    TX.write_table(wider.coalesce(1), table, merge_schema=True, stats_cols=["score"])
    df = TX.read_table(spark, table)
    assert df.columns == ["k", "v", "cat", "score"]
    got = {r["k"]: r["score"] for r in df.collect()}
    assert got == {0: None, 1: None, 2: None, 3: 103, 4: 104, 5: 105}
    # time travel keeps the ORIGINAL schema at v1
    v1 = TX.read_table(spark, table, version=1)
    assert v1.columns == ["k", "v", "cat"]
    # stats on the new column prune old (column-less) files? No:
    # files without the column have no stats and must be kept
    files, total = TX.plan_files(table, where={"score": (104, 200)})
    assert total == 2 and len(files) == 2  # old file kept (no stats)


def test_schema_evolution_rejects_drops_and_type_changes(spark, table):
    TX.write_table(_rows(spark, 0, 3), table)
    dropped = spark.range(1).select(
        F.col("id").alias("k"), F.lit("x").alias("cat")
    )
    with pytest.raises(ValueError, match="additive-only"):
        TX.write_table(dropped, table, merge_schema=True)
    retyped = spark.range(1).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit("x").alias("cat"),
    )
    with pytest.raises(ValueError, match="additive-only"):
        TX.write_table(retyped, table, merge_schema=True)


def test_datasource_batch_read_applies_deletion_vectors(spark, table):
    TX.write_table(_rows(spark, 0, 6).coalesce(1), table, stats_cols=["k"])
    TX.delete_where_dv(spark, table, {"k": (1, 2)})
    TX.register_source(spark)
    df = spark.read.format("txlog").option("path", table).load()
    assert sorted(r["k"] for r in df.collect()) == [0, 3, 4, 5]


def test_datasource_batch_read_fills_evolved_columns(spark, table):
    TX.write_table(_rows(spark, 0, 2).coalesce(1), table)
    wider = spark.range(2, 4).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit("b").alias("cat"),
        (F.col("id") + 100).alias("score"),
    )
    TX.write_table(wider.coalesce(1), table, merge_schema=True)
    TX.register_source(spark)
    df = spark.read.format("txlog").option("path", table).load()
    assert df.columns == ["k", "v", "cat", "score"]
    got = {r["k"]: r["score"] for r in df.collect()}
    assert got == {0: None, 1: None, 2: 102, 3: 103}
    # and time travel serves v1 under ITS schema
    v1 = spark.read.format("txlog").option("path", table).option("version", 1).load()
    assert v1.columns == ["k", "v", "cat"]
    assert v1.count() == 2


def test_overwrite_retires_deletion_vectors(spark, table):
    TX.write_table(_rows(spark, 0, 6).coalesce(1), table, stats_cols=["k"])
    TX.delete_where_dv(spark, table, {"k": (1, 2)})
    TX.write_table(_rows(spark, 100, 102, cat="b"), table, mode="overwrite")
    root = TX._root(table)
    assert TX._replay(root, TX.latest_version(table)).dv == []
    # the retired DV file is reclaimable once only post-overwrite
    # versions are retained
    deleted = TX.vacuum(table, keep_from_version=3, min_age_seconds=0)
    assert any("dv-" in d for d in deleted)


def test_cdf_does_not_double_emit_dv_masked_rows(spark, table):
    TX.write_table(_rows(spark, 0, 4).coalesce(1), table, stats_cols=["k"])
    TX.delete_where_dv(spark, table, {"k": (1, 2)})  # v2: deletes 1,2
    TX.delete_where(spark, table, {"k": (3, 3)}, stats_cols=["k"])  # v3 CoW
    ch = TX.read_changes(spark, table, 1)
    got = sorted(
        (r["_change_version"], r["k"], r["_change_type"]) for r in ch.collect()
    )
    # v2 deletes 1,2 once; v3's file-granular feed deletes ONLY the
    # still-live rows (0,3) and reinserts the kept 0 — 1,2 never repeat
    assert got == [
        (2, 1, "delete"),
        (2, 2, "delete"),
        (3, 0, "delete"),
        (3, 0, "insert"),
        (3, 3, "delete"),
    ]


def test_dv_files_masked_counts_only_contributing_files(spark, table):
    # file A holds 10..20, file B holds only {50, 90}: a (15, 60)
    # delete touches both by stats but masks rows only in A and B's 50
    a = _rows(spark, 10, 21).coalesce(1)
    b = spark.createDataFrame(
        [(50, 500, "a"), (90, 900, "a")], "k long, v long, cat string"
    ).coalesce(1)
    TX.write_table([a, b], table, stats_cols=["k"])
    _, stats = TX.delete_where_dv(spark, table, {"k": (22, 45)})
    # stats ranges overlap nothing with rows: A max 20 < 22, B min 50 > 45
    assert stats == {"files_masked": 0, "files_total": 2, "rows_masked": 0}
    _, stats = TX.delete_where_dv(spark, table, {"k": (15, 60)})
    assert stats["files_masked"] == 2 and stats["rows_masked"] == 7
    _, stats = TX.delete_where_dv(spark, table, {"k": (85, 95)})
    assert stats["files_masked"] == 1 and stats["rows_masked"] == 1


def test_datasource_sql_surface(spark, table):
    """The registered source is addressable from plain SQL — the
    public face a catalog-driven user actually touches."""
    TX.write_table(_rows(spark, 0, 5).coalesce(1), table)
    TX.register_source(spark)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW tx_sql_view "
        f"USING txlog OPTIONS (path '{table}')"
    )
    row = spark.sql(
        "SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv FROM tx_sql_view"
    ).collect()[0]
    assert (row["n"], row["sv"]) == (5, 100)


# ---------------------------------------------------------------- partitions


def _prows(spark, lo, hi):
    """(k, cat, v) rows where cat cycles a/b — the partition column."""
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("cat"),
        (F.col("id") * 10).alias("v"),
    )


def _pcollect(df):
    return sorted((r["k"], r["cat"], r["v"]) for r in df.collect())


def test_partitioned_write_layout_and_read(spark, table):
    """partition_by lands files under hive value dirs, log entries
    record typed partition values, and the read resolves the partition
    column back — declared order and types intact."""
    TX.write_table(
        _prows(spark, 0, 10), table, partition_by=["cat"], stats_cols=["k"]
    )
    root = TX._root(table)
    files = sorted(p.relative_to(root) for p in root.glob("data/*/*.parquet"))
    assert files and all(p.parts[1] in ("cat=a", "cat=b") for p in files)
    snap = TX._replay(root, 1)
    live, commit = snap.live, snap.commit
    assert TX._table_partition_cols(commit) == ["cat"]
    assert {e["partition"]["cat"] for e in live.values()} == {"a", "b"}
    df = TX.read_table(spark, table)
    assert df.columns == ["k", "cat", "v"]  # declared order kept
    assert dict(df.dtypes)["cat"] == "string"
    assert _pcollect(df) == _pcollect(_prows(spark, 0, 10))


def test_partition_pruning_before_stats(spark, table):
    """A predicate on the partition column prunes at the FILE level
    from the log entries alone — no footer stats needed — and composes
    with stats pruning on a data column."""
    TX.write_table(
        _prows(spark, 0, 100).repartition(4, "k"),
        table,
        partition_by=["cat"],
        stats_cols=["k"],
    )
    planned, total = TX.plan_files(table, where={"cat": ("a", "a")})
    assert 0 < len(planned) < total
    assert all("cat=a/" in rel for rel in planned)
    got = TX.read_table(spark, table, where={"cat": ("a", "a")})
    assert got.count() == 50
    # composed: partition value AND k-range must both survive
    both, _ = TX.plan_files(table, where={"cat": ("b", "b"), "k": (0, 10)})
    assert all("cat=b/" in rel for rel in both)
    assert len(both) <= len(planned)
    rows = TX.read_table(
        spark, table, where={"cat": ("b", "b"), "k": (0, 10)}
    ).count()
    assert rows == 5  # odd ids 1..9


def test_partitioned_append_inherits_and_rejects_repartition(spark, table):
    TX.write_table(_prows(spark, 0, 4), table, partition_by=["cat"])
    TX.write_table(_prows(spark, 4, 8), table)  # inherits cat-partitioning
    root = TX._root(table)
    commit = TX._replay(root, 2).commit
    assert TX._table_partition_cols(commit) == ["cat"]
    assert _pcollect(TX.read_table(spark, table)) == _pcollect(
        _prows(spark, 0, 8)
    )
    with pytest.raises(ValueError, match="cannot[\\s\\S]*repartition"):
        TX.write_table(_prows(spark, 8, 9), table, partition_by=["k"])
    with pytest.raises(ValueError, match="missing from data"):
        TX.write_table(
            spark.range(1).select(F.col("id").alias("x")),
            str(root) + "_2",
            partition_by=["nope"],
        )


def test_partitioned_compact_keeps_layout_and_data(spark, table):
    for lo in (0, 10, 20):
        TX.write_table(
            _prows(spark, lo, lo + 10), table, partition_by=["cat"],
            stats_cols=["k"],
        )
    before = _pcollect(TX.read_table(spark, table))
    v = TX.compact(spark, table, target_files=2, stats_cols=["k"], order_by=["k"])
    root = TX._root(table)
    snap = TX._replay(root, v)
    live, commit = snap.live, snap.commit
    assert TX._table_partition_cols(commit) == ["cat"]
    assert all(e["partition"]["cat"] in ("a", "b") for e in live.values())
    assert _pcollect(TX.read_table(spark, table)) == before
    # partition pruning still bites post-compaction
    planned, total = TX.plan_files(table, where={"cat": ("a", "a")})
    assert 0 < len(planned) < total


def test_partitioned_delete_and_merge_keep_layout(spark, table):
    TX.write_table(
        _prows(spark, 0, 20).repartition(2, "k"),
        table,
        partition_by=["cat"],
        stats_cols=["k"],
    )
    # delete inside one partition value: only cat=b files touched
    _, stats = TX.delete_where(
        spark, table, {"cat": ("b", "b"), "k": (0, 9)}, stats_cols=["k"]
    )
    assert 0 < stats["files_rewritten"] < stats["files_total"]
    root = TX._root(table)
    snap = TX._replay(root, TX.latest_version(table))
    live, commit = snap.live, snap.commit
    assert all("cat=" in rel for rel in live)  # rewrite stayed partitioned
    expect = [
        (k, "a" if k % 2 == 0 else "b", k * 10)
        for k in range(20)
        if not (k % 2 == 1 and k <= 9)
    ]
    assert _pcollect(TX.read_table(spark, table)) == sorted(expect)
    # merge keeps the layout too
    delta = spark.createDataFrame([(2, "a", 999)], "k long, cat string, v long")
    TX.merge_into_table(
        spark, table, delta, ["k"], prune={"cat": ("a", "a")},
        stats_cols=["k"],
    )
    snap = TX._replay(root, TX.latest_version(table))
    live, commit = snap.live, snap.commit
    assert TX._table_partition_cols(commit) == ["cat"]
    assert all("cat=" in rel for rel in live)
    got = {r["k"]: r["v"] for r in TX.read_table(spark, table).collect()}
    assert got[2] == 999 and got[4] == 40


def test_partitioned_datasource_serves_partition_column(spark, table):
    """The Python DataSource fills the partition column from the LOG
    entry (files don't carry it), typed per the declared schema."""
    TX.write_table(_prows(spark, 0, 10), table, partition_by=["cat"])
    TX.register_source(spark)
    got = spark.read.format("txlog").option("path", table).load()
    assert got.columns == ["k", "cat", "v"]
    assert _pcollect(got) == _pcollect(_prows(spark, 0, 10))


def test_partitioned_null_value_round_trip(spark, table):
    """NULL partition values land in the hive default dir, read back
    as NULL, and are pruned by any range predicate on the column."""
    rows = spark.createDataFrame(
        [(0, None, 0), (1, "a", 10)], "k long, cat string, v long"
    )
    TX.write_table(rows, table, partition_by=["cat"], stats_cols=["k"])
    got = sorted((r["k"], r["cat"]) for r in TX.read_table(spark, table).collect())
    assert got == [(0, None), (1, "a")]
    planned, total = TX.plan_files(table, where={"cat": ("a", "z")})
    assert len(planned) < total  # the NULL file pruned
    assert TX.read_table(spark, table, where={"cat": ("a", "z")}).count() == 1


def test_partitioned_overwrite_may_repartition(spark, table):
    TX.write_table(_prows(spark, 0, 4), table, partition_by=["cat"])
    TX.write_table(
        _prows(spark, 0, 6), table, mode="overwrite", partition_by=[]
    )
    root = TX._root(table)
    commit = TX._replay(root, 2).commit
    assert TX._table_partition_cols(commit) == []
    assert _pcollect(TX.read_table(spark, table)) == _pcollect(
        _prows(spark, 0, 6)
    )


# ------------------------------------------------------------- DV-backed MERGE


def test_merge_dv_equals_cow_merge_and_survives_compact(spark, table):
    """CoW-equivalence: merge_into_table_dv produces the same table as
    merge_into_table (update + insert arms), and compaction — which
    materializes and retires the masks — preserves the result."""
    table_cow = table + "_cow"
    for t in (table, table_cow):
        for lo in (0, 50):
            TX.write_table(
                _rows(spark, lo, lo + 50).coalesce(1), t, stats_cols=["k"]
            )
    delta = spark.range(0, 120, 7).select(  # scattered keys across both files
        F.col("id").alias("k"),
        (F.col("id") * 100).alias("v"),
        F.lit("m").alias("cat"),
    )
    v_dv, stats_dv = TX.merge_into_table_dv(spark, table, delta, ["k"])
    v_cow, stats_cow = TX.merge_into_table(spark, table_cow, delta, ["k"])
    assert _collect(TX.read_table(spark, table)) == _collect(
        TX.read_table(spark, table_cow)
    )
    # DV path: zero rewrites — both original files stay live, masks +
    # delta are the only new bytes
    assert stats_dv["files_masked"] == 2  # keys 0,7,...,98 hit both files
    assert stats_dv["rows_masked"] == 15  # multiples of 7 in [0,100)
    assert stats_dv["rows_inserted"] == delta.count()
    assert stats_cow["files_rewritten"] == 2  # the honest CoW contrast
    snap = TX._replay(TX._root(table), v_dv)
    live, dvs = snap.live, snap.dv
    assert len(dvs) >= 1
    # compact materializes the masks and retires them; data unchanged
    before = _collect(TX.read_table(spark, table))
    TX.compact(spark, table, target_files=1, stats_cols=["k"])
    dvs_after = TX._replay(TX._root(table), TX.latest_version(table)).dv
    assert dvs_after == []
    assert _collect(TX.read_table(spark, table)) == before


def test_merge_dv_insert_only_and_zone_contract(spark, table):
    TX.write_table(_rows(spark, 0, 10).coalesce(1), table, stats_cols=["k"])
    # insert-only delta: no matches -> no DV file at all
    ins = _rows(spark, 100, 103, cat="i")
    v, stats = TX.merge_into_table_dv(
        spark, table, ins, ["k"], prune={"k": (100, 103)}
    )
    assert stats == {
        "files_masked": 0,
        "files_total": 1,
        "rows_masked": 0,
        "rows_inserted": 3,
    }
    dvs = TX._replay(TX._root(table), v).dv
    assert dvs == []
    assert len(_collect(TX.read_table(spark, table))) == 13
    # zone violations raise exactly like the CoW form
    with pytest.raises(ValueError, match="outside the prune zone"):
        TX.merge_into_table_dv(
            spark, table, _rows(spark, 500, 501), ["k"], prune={"k": (0, 10)}
        )


def test_merge_dv_change_feed_emits_masks_and_inserts(spark, table):
    TX.write_table(_rows(spark, 0, 10).coalesce(1), table, stats_cols=["k"])
    delta = _rows(spark, 5, 12, cat="m")
    TX.merge_into_table_dv(spark, table, delta, ["k"])
    feed = TX.read_changes(spark, table, 1)
    got = sorted(
        (r["k"], r["cat"], r["_change_type"]) for r in feed.collect()
    )
    expect = sorted(
        [(k, "a", "delete") for k in range(5, 10)]
        + [(k, "m", "insert") for k in range(5, 12)]
    )
    assert got == expect


def test_merge_dv_on_partitioned_table_keeps_layout(spark, table):
    TX.write_table(
        _prows(spark, 0, 20), table, partition_by=["cat"], stats_cols=["k"]
    )
    delta = spark.createDataFrame(
        [(2, "a", 999), (21, "b", 210)], "k long, cat string, v long"
    )
    v, stats = TX.merge_into_table_dv(spark, table, delta, ["k"])
    assert stats["rows_masked"] == 1 and stats["rows_inserted"] == 2
    snap = TX._replay(TX._root(table), v)
    live, commit = snap.live, snap.commit
    assert TX._table_partition_cols(commit) == ["cat"]
    assert all("cat=" in rel for rel in live)  # delta landed partitioned
    got = {r["k"]: (r["cat"], r["v"]) for r in TX.read_table(spark, table).collect()}
    assert got[2] == ("a", 999) and got[21] == ("b", 210) and len(got) == 21


def test_merge_dv_over_broadcast_threshold_same_result(spark, table, monkeypatch):
    TX.write_table(_rows(spark, 0, 40).coalesce(1), table, stats_cols=["k"])
    delta = spark.range(10, 30).select(
        F.col("id").alias("k"),
        (F.col("id") * 100).alias("v"),
        F.lit("m").alias("cat"),
    )
    monkeypatch.setattr(tables, "BROADCAST_KEYS_MAX", 5)
    v, stats = TX.merge_into_table_dv(spark, table, delta, ["k"])
    assert stats["rows_masked"] == 20
    got = {r["k"]: r["v"] for r in TX.read_table(spark, table).collect()}
    assert len(got) == 40 and got[10] == 1000 and got[9] == 90


# ---------------------------------------------- one replay, one DML skeleton


def test_range_walks_replay_once_then_fold_each_commit(spark, table, monkeypatch):
    """``read_changes`` and ``vacuum`` over 12 DML commits across a
    checkpoint read one replay's files (a checkpoint plus fewer than
    ``_CHECKPOINT_EVERY`` commits) plus one commit file per version in
    their range — never a replay per commit."""
    TX.write_table(_rows(spark, 0, 40).coalesce(1), table, stats_cols=["k"])
    for i in range(12):
        k, upsert = 2 * i, _rows(spark, 2 * i, 2 * i + 1, cat="m")
        if i % 4 == 0:
            TX.delete_where(spark, table, {"k": (k, k)}, stats_cols=["k"])
        elif i % 4 == 1:
            TX.delete_where_dv(spark, table, {"k": (k, k)})
        elif i % 4 == 2:
            TX.merge_into_table(spark, table, upsert, ["k"], stats_cols=["k"])
        else:
            TX.merge_into_table_dv(spark, table, upsert, ["k"], stats_cols=["k"])
    root = TX._root(table)
    assert TX.latest_version(table) == 13
    assert TX._checkpoint_file(root, 10).is_file()
    reads = []
    real = TX._read_json
    monkeypatch.setattr(TX, "_read_json", lambda p: reads.append(p) or real(p))
    feed = TX.read_changes(spark, table, 1)
    assert len(reads) <= TX._CHECKPOINT_EVERY + (13 - 1)
    reads.clear()
    TX.vacuum(table, keep_from_version=2)
    assert len(reads) <= TX._CHECKPOINT_EVERY + (13 - 2)
    monkeypatch.undo()
    counts = {r[0]: r[1] for r in feed.groupBy("_change_type").count().collect()}
    net = counts.get("insert", 0) - counts.get("delete", 0)
    assert net == TX.read_table(spark, table).count() - 40


def _even_rows(spark, lo, hi):
    """(k, v, cat) rows for even k in [lo, hi); cat 'a' where 4 | k."""
    return spark.range(lo, hi, 2).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.when(F.col("id") % 4 == 0, "a").otherwise("b").alias("cat"),
    )


#: (entry point, call) -> (operation or None when nothing commits, adds,
#: removes, dv_add logged, returned stats, dv- files on disk), for a flat
#: and a cat-partitioned table of even k in [0, 40), two appends. Each
#: entry point gets a fresh table and its calls in this order.
DML_MATRIX = {
    "flat": {
        ("delete_where", "far"): (None, 0, 0, False, {"files_rewritten": 0, "files_total": 2, "rows_kept": 0}, False),
        ("delete_where", "miss"): ("delete", 1, 1, False, {"files_rewritten": 1, "files_total": 2, "rows_kept": 10}, False),
        ("delete_where", "hit"): ("delete", 1, 1, False, {"files_rewritten": 1, "files_total": 2, "rows_kept": 8}, False),
        ("delete_where_dv", "far"): (None, 0, 0, False, {"files_masked": 0, "files_total": 2, "rows_masked": 0}, False),
        ("delete_where_dv", "miss"): (None, 0, 0, False, {"files_masked": 0, "files_total": 2, "rows_masked": 0}, False),
        ("delete_where_dv", "hit"): ("dv_delete", 0, 0, True, {"files_masked": 1, "files_total": 2, "rows_masked": 2}, True),
        ("merge_into_table", "miss"): ("merge", 3, 2, False, {"files_rewritten": 2, "files_total": 2, "rows_written": 21}, False),
        ("merge_into_table", "hit"): ("merge", 4, 3, False, {"files_rewritten": 3, "files_total": 3, "rows_written": 22}, False),
        ("merge_into_table_dv", "miss"): ("merge_dv", 1, 0, False, {"files_masked": 0, "files_total": 2, "rows_masked": 0, "rows_inserted": 1}, False),
        ("merge_into_table_dv", "hit"): ("merge_dv", 1, 0, True, {"files_masked": 1, "files_total": 3, "rows_masked": 1, "rows_inserted": 2}, True),
    },
    "partitioned": {
        ("delete_where", "far"): (None, 0, 0, False, {"files_rewritten": 0, "files_total": 4, "rows_kept": 0}, False),
        ("delete_where", "miss"): ("delete", 2, 2, False, {"files_rewritten": 2, "files_total": 4, "rows_kept": 10}, False),
        ("delete_where", "hit"): ("delete", 2, 2, False, {"files_rewritten": 2, "files_total": 4, "rows_kept": 8}, False),
        ("delete_where_dv", "far"): (None, 0, 0, False, {"files_masked": 0, "files_total": 4, "rows_masked": 0}, False),
        ("delete_where_dv", "miss"): (None, 0, 0, False, {"files_masked": 0, "files_total": 4, "rows_masked": 0}, False),
        ("delete_where_dv", "hit"): ("dv_delete", 0, 0, True, {"files_masked": 2, "files_total": 4, "rows_masked": 2}, True),
        ("merge_into_table", "miss"): ("merge", 5, 4, False, {"files_rewritten": 4, "files_total": 4, "rows_written": 21}, False),
        ("merge_into_table", "hit"): ("merge", 7, 5, False, {"files_rewritten": 5, "files_total": 5, "rows_written": 22}, False),
        ("merge_into_table_dv", "miss"): ("merge_dv", 1, 0, False, {"files_masked": 0, "files_total": 4, "rows_masked": 0, "rows_inserted": 1}, False),
        ("merge_into_table_dv", "hit"): ("merge_dv", 2, 0, True, {"files_masked": 1, "files_total": 5, "rows_masked": 1, "rows_inserted": 2}, True),
    },
}


def _dml_call(spark, table, entry, call):
    if entry.startswith("delete"):
        where = {"far": (100, 200), "miss": (3, 3), "hit": (4, 6)}[call]
        kw = {"stats_cols": ["k"]} if entry == "delete_where" else {}
        return getattr(TX, entry)(spark, table, {"k": where}, **kw)
    rows = [(3, 30, "b")] if call == "miss" else [(4, 999, "a"), (41, 410, "b")]
    delta = spark.createDataFrame(rows, "k long, v long, cat string").coalesce(1)
    return getattr(TX, entry)(spark, table, delta, ["k"], stats_cols=["k"])


@pytest.mark.parametrize("layout", ["flat", "partitioned"])
@pytest.mark.parametrize(
    "entry", ["delete_where", "delete_where_dv", "merge_into_table", "merge_into_table_dv"]
)
def test_dml_matrix_commits(spark, tmp_path, layout, entry):
    """Each DML entry point's commit rule, log entry and stats, with and
    without a match, on a flat and a partitioned table."""
    table = str(tmp_path / f"{layout}-{entry}")
    part = {"partition_by": ["cat"]} if layout == "partitioned" else {}
    for lo in (0, 20):
        TX.write_table(_even_rows(spark, lo, lo + 20).coalesce(1), table, stats_cols=["k"], **part)
    root = TX._root(table)
    calls = [c for e, c in DML_MATRIX[layout] if e == entry]
    for call in calls:
        before = TX.latest_version(table)
        v, stats = _dml_call(spark, table, entry, call)
        c = TX._read_json(TX._commit_file(root, v)) if v > before else None
        got = (
            c and c["operation"],
            len(c["add"]) if c else 0,
            len(c["remove"]) if c else 0,
            bool(c and c.get("dv_add")),
            stats,
            any(root.rglob("dv-*.parquet")),
        )
        assert got == DML_MATRIX[layout][(entry, call)], (entry, call)
