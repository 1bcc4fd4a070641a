"""Table maintenance: copy-on-write MERGE (upsert/delete) and SCD Type 2.

The reference engine is read-only (nothing in
/root/reference/src/bearly/bearly_ext.cc:9-214 writes anywhere), but a
100 TB training-data pipeline continuously REVISES its tables: crawl
re-fetches replace stale documents, takedown/opt-out lists delete rows,
dimension attributes drift. On plain parquet the naive answer rewrites
the whole table per revision — Θ(table) I/O for a Θ(delta) change. This
module implements the two standard lakehouse maintenance primitives the
Spark-first way, on plain parquet directories, with the same
crash-safety posture as ``layout.compact_parquet_dir``:

- :func:`merge_into` — Delta-style MERGE (upsert or delete by key) as a
  **copy-on-write with file-level pruning**: only the files that
  actually contain a matched key are rewritten (found via one
  ``_metadata.file_path`` semi-join against the broadcast delta keys);
  every untouched file is HARD-LINKED into the new snapshot (an O(1)
  metadata op, no data copy), and the snapshot replaces the table in a
  single atomic ``renameat2(RENAME_EXCHANGE)`` swap — readers always
  see exactly one complete table state. With a key-clustered layout
  (``layout.zorder_write`` / range clustering), a small delta touches
  few files and the merge cost is Θ(delta × files-per-key-range), not
  Θ(table) — the property that makes continuous upserts viable at
  100 TB.
- :func:`scd2_apply` — Slowly-Changing-Dimension Type 2 history
  maintenance: applying a change batch closes the current version of
  each changed key (``valid_to = change_ts``) and appends the new
  version, preserving full attribute history for as-of reprocessing
  (which training snapshot saw which license state). Pure DataFrame
  composition — two broadcast-size joins against the (small) change
  batch; the history table itself never shuffles.

The streaming face (CDC apply at ingest — upserts/deletes arriving as a
change stream, folded into the table per micro-batch via
:func:`merge_into`) lives in ``streaming.cdc``; replaying a batch
re-applies the identical upsert, which is a no-op by construction, so
the at-least-once ``foreachBatch`` contract holds without any
batch-id bookkeeping.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path
from functools import reduce
from urllib.parse import urlparse

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from bearly_spark.operators.layout import dir_swap
from bearly_spark.sources.tables import broadcast_keys, read_parquet


def _local_path(file_uri: str) -> Path:
    """``_metadata.file_path`` yields a ``file:`` URI in local mode."""
    p = urlparse(file_uri)
    return Path(p.path if p.scheme else file_uri)


def _data_files(root: Path) -> list[Path]:
    return [
        p
        for p in root.rglob("*.parquet")
        if not p.name.startswith(("_", "."))
        and not any(part.startswith(".") for part in p.relative_to(root).parts)
    ]


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    when_matched: str = "update",
    partition_cols: list[str] | None = None,
) -> dict:
    """MERGE ``source`` into the parquet table at ``path`` by ``keys``.

    - ``when_matched="update"``: every target row whose key appears in
      ``source`` is replaced by the (single) source row for that key;
      source keys absent from the target are inserted. ``source`` must
      carry the full target schema.
    - ``when_matched="delete"``: target rows whose key appears in
      ``source`` are removed; ``source`` needs only the key columns.

    Source keys must be unique (one row per key — the Delta MERGE
    multiple-match rule); violations raise ``ValueError`` before any
    write. If the target holds several rows for a matched key (parquet
    enforces no constraints), ALL of them are replaced by the one
    source row — upsert-by-key semantics, pinned by tests.

    Scale shape: the delta's distinct keys broadcast into one semi-join
    over the target scan (reading only key + ``_metadata.file_path`` —
    column-pruned), producing the TOUCHED file list — GUARDED by
    ``tables.broadcast_keys``: a bulk delta (a crawl refresh, not a
    takedown list) takes a shuffle join instead of an oversized driver
    broadcast; only those files' rows are re-read and rewritten.
    Untouched files are hard-linked into a staging snapshot (same
    filesystem ⇒ O(1) per file, no data copy), the merged rows are
    written beside them, and the staging dir atomically replaces the
    table through ``layout.dir_swap`` (the same swap and healing
    contract as ``compact_parquet_dir``). A merge that matches nothing
    rewrites nothing.

    Returns ``{"files_total", "files_rewritten", "rows_written"}`` —
    ``rows_written`` (rows in the rewritten slice, counted free via
    ``Observation`` on the write) is the Θ(delta)-vs-Θ(table) evidence.
    """
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be 'update' or 'delete': {when_matched}")
    if source.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).count() > 0:
        raise ValueError(f"source has multiple rows for one {keys} key")
    src_keys = source.select(*keys).dropDuplicates()
    new_rows = None if when_matched == "delete" else source
    return _cow_rewrite(spark, path, keys, src_keys, new_rows, partition_cols)


def _cow_rewrite(
    spark: SparkSession,
    path: str,
    keys: list[str],
    src_keys: DataFrame,
    new_rows: DataFrame | None,
    partition_cols: list[str] | None = None,
) -> dict:
    """Copy-on-write core shared by :func:`merge_into` and the CDC batch
    apply (``streaming.cdc``): drop every target row whose key is in
    ``src_keys``, append ``new_rows`` (if any), rewriting ONLY the files
    that contain a matched key and hard-linking the rest into an
    atomically-swapped snapshot."""
    root = Path(path).resolve()
    with dir_swap(root, "merging") as staging:
        # drop any cached file listing for this path: a prior merge in the
        # same session swapped the files underneath (stale listings read
        # deleted snapshots and fail with FILE_NOT_EXIST)
        spark.catalog.refreshByPath(str(root))
        target = read_parquet(spark, str(root))
        cols = target.columns
        src_keys = broadcast_keys(src_keys)

        files_total = _data_files(root)
        touched_rows = (
            target.withColumn("_file", F.col("_metadata.file_path"))
            .join(src_keys, keys, "left_semi")
            .select("_file")
            .distinct()
            .collect()
        )
        touched_uris = sorted(r[0] for r in touched_rows)
        touched = {_local_path(u).resolve() for u in touched_uris}

        # rows of touched files that keep their identity (key not in source)
        kept = (
            target.withColumn("_file", F.col("_metadata.file_path"))
            .filter(F.col("_file").isin(touched_uris) if touched_uris else F.lit(False))
            .join(src_keys, keys, "left_anti")
            .select(*cols)
        )
        merged = kept if new_rows is None else kept.unionByName(new_rows.select(*cols))

        staging.mkdir()
        for f in files_total:
            if f.resolve() in touched:
                continue
            dst = staging / f.relative_to(root)
            dst.parent.mkdir(parents=True, exist_ok=True)
            os.link(f, dst)

        obs = Observation()
        out = staging / ".merge-out"
        writer = merged.observe(obs, F.count(F.lit(1)).alias("rows"))
        if partition_cols:
            writer.write.partitionBy(*partition_cols).parquet(str(out))
        else:
            writer.write.parquet(str(out))
        rows_written = int(obs.get["rows"])
        # graft the freshly-written data files into the snapshot tree (names
        # are task-UUID-unique — no collision with the linked originals)
        for f in _data_files(out):
            dst = staging / f.relative_to(out)
            dst.parent.mkdir(parents=True, exist_ok=True)
            f.rename(dst)
        shutil.rmtree(out)
    spark.catalog.refreshByPath(str(root))  # new snapshot for same-session readers
    return {
        "files_total": len(files_total),
        "files_rewritten": len(touched),
        "rows_written": rows_written,
    }


def snapshot_table(path: str) -> int:
    """Version snapshot of a parquet table as a HARD-LINKED tree under
    ``<parent>/.history-<name>/v<k>`` — O(files) metadata ops, zero data
    bytes copied, which is what makes per-revision snapshots affordable
    at 100 TB (the same property the MERGE staging dir exploits).
    Because every mutation in this module writes NEW files and swaps
    (never modifies bytes in place), a linked snapshot stays immutable
    through any number of later merges. Returns the version number."""
    root = Path(path).resolve()
    hist = root.parent / f".history-{root.name}"
    versions = (
        [int(d.name[1:]) for d in hist.iterdir() if d.name.startswith("v")]
        if hist.is_dir()
        else []
    )
    v = max(versions, default=0) + 1
    dst_root = hist / f"v{v}"
    for f in sorted(root.rglob("*")):
        if f.is_dir() or any(p.startswith(".") for p in f.relative_to(root).parts):
            continue
        dst = dst_root / f.relative_to(root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        os.link(f, dst)
    dst_root.mkdir(parents=True, exist_ok=True)  # even for an empty table
    return v


def list_table_versions(path: str) -> list[int]:
    root = Path(path).resolve()
    hist = root.parent / f".history-{root.name}"
    if not hist.is_dir():
        return []
    return sorted(int(d.name[1:]) for d in hist.iterdir() if d.name.startswith("v"))


def restore_table(spark: SparkSession, path: str, version: int) -> None:
    """Roll the table back to snapshot ``version`` — a hard-linked copy
    of the snapshot tree swapped in atomically (the snapshot itself
    stays in the history, so a restore can be restored from). Readers
    see exactly one complete state throughout, as with every swap in
    this module."""
    root = Path(path).resolve()
    src = root.parent / f".history-{root.name}" / f"v{version}"
    if not src.is_dir():
        raise ValueError(f"no snapshot v{version} for {path}")
    with dir_swap(root, "restoring") as staging:
        staging.mkdir()
        for f in sorted(src.rglob("*")):
            if f.is_dir():
                continue
            dst = staging / f.relative_to(src)
            dst.parent.mkdir(parents=True, exist_ok=True)
            os.link(f, dst)
    spark.catalog.refreshByPath(str(root))


def scd2_apply(
    history: DataFrame,
    changes: DataFrame,
    keys: list[str],
    attrs: list[str],
    change_ts_col: str = "change_ts",
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
) -> DataFrame:
    """Apply one change batch to an SCD Type 2 history table.

    ``history`` columns: ``keys + attrs + [valid_from, valid_to]`` with
    ``valid_to IS NULL`` marking each key's current version. ``changes``
    columns: ``keys + attrs + [change_ts]``. For each change row:

    - key unknown → insert a new current version
      (``valid_from = change_ts``);
    - key current with DIFFERENT attrs → close the current version
      (``valid_to = change_ts``) and insert the new one;
    - key current with identical attrs → no-op (dropped — re-stating
      the same attributes must not create a phantom version);
    - ``change_ts <= valid_from`` of the current version → dropped
      (out-of-order change older than what the table already holds;
      late-data rule, pinned by tests).

    Several change rows for one key in a batch collapse to the LATEST
    (max ``change_ts``; exact ties broken deterministically on the attr
    values) — apply batches in sequence to record intermediate
    versions. Historical (already-closed) rows are never rewritten.

    Scale shape: the change batch is delta-sized, so both joins
    broadcast it; the history table is touched once with a map-side
    filter + union — no shuffle of the table itself. Null-safe
    attribute comparison (``<=>``) treats NULL→value and value→NULL as
    real changes.
    """
    eff_keys, closed, fresh = _scd2_parts(
        history, changes, keys, attrs, change_ts_col, valid_from_col, valid_to_col
    )
    out_cols = keys + attrs + [valid_from_col, valid_to_col]
    untouched = history.join(
        F.broadcast(eff_keys.select(*keys).withColumn("_hit", F.lit(1))),
        keys,
        "left",
    ).filter(F.col("_hit").isNull() | F.col(valid_to_col).isNotNull()).select(*out_cols)
    return untouched.unionByName(closed).unionByName(fresh)


def _scd2_parts(
    history: DataFrame,
    changes: DataFrame,
    keys: list[str],
    attrs: list[str],
    change_ts_col: str,
    valid_from_col: str,
    valid_to_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The delta of one SCD2 apply: (effective change keys, closed
    current rows, fresh version rows) — shared by the full-output
    :func:`scd2_apply` and the merge-backed :func:`scd2_apply_table`."""
    out_cols = keys + attrs + [valid_from_col, valid_to_col]
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(
        F.desc(change_ts_col), *[F.desc(a) for a in attrs]
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    current = history.filter(F.col(valid_to_col).isNull())
    cur_k = current.select(
        *keys,
        *[F.col(a).alias(f"_cur_{a}") for a in attrs],
        F.col(valid_from_col).alias("_cur_from"),
    )
    joined = latest.join(F.broadcast(cur_k), keys, "left")
    same = None
    for a in attrs:
        eq = F.col(a).eqNullSafe(F.col(f"_cur_{a}"))
        same = eq if same is None else (same & eq)
    effective = joined.filter(
        F.col("_cur_from").isNull()  # brand-new key
        | (~same & (F.col(change_ts_col) > F.col("_cur_from")))
    )

    eff_keys = effective.select(*keys, F.col(change_ts_col).alias("_close_ts"))
    closed = (
        current.join(F.broadcast(eff_keys), keys)
        .withColumn(valid_to_col, F.col("_close_ts"))
        .select(*out_cols)
    )
    fresh = effective.select(
        *keys,
        *attrs,
        F.col(change_ts_col).alias(valid_from_col),
        F.lit(None).cast(history.schema[valid_to_col].dataType).alias(valid_to_col),
    )
    return eff_keys, closed, fresh


def scd2_apply_table(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys: list[str],
    attrs: list[str],
    change_ts_col: str = "change_ts",
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    partition_cols: list[str] | None = None,
) -> dict:
    """INCREMENTAL SCD2 on a persisted history table: instead of
    rewriting the whole history (``scd2_apply`` returns the full new
    frame), the apply reduces to a MERGE of just the delta —
    closed-current rows REPLACE their stored versions and fresh rows
    INSERT, keyed on ``keys + [valid_from]`` (unique per version by
    construction: one version per key per change timestamp). With a
    key-clustered layout, one change batch rewrites only the files
    holding the affected CURRENT versions — Θ(delta), the property that
    lets a 100 TB dimension history absorb daily change feeds. Same
    semantics as :func:`scd2_apply` (equivalence-tested), same atomic
    snapshot swap as every merge. Returns the merge stats dict."""
    history = read_parquet(spark, path)
    _, closed, fresh = _scd2_parts(
        history, changes, keys, attrs, change_ts_col, valid_from_col, valid_to_col
    )
    delta = closed.unionByName(fresh)
    return merge_into(
        spark, path, delta, keys + [valid_from_col], partition_cols=partition_cols
    )


def expire_snapshots(path: str, keep_last: int = 7) -> list[int]:
    """Snapshot retention (the VACUUM face of :func:`snapshot_table`):
    drop all but the newest ``keep_last`` versions. Deleting a
    hard-linked tree only decrements link counts — bytes are reclaimed
    exactly when the LAST reference (live table or another snapshot)
    goes, so retention is safe to run any time. Returns the expired
    version numbers."""
    root = Path(path).resolve()
    hist = root.parent / f".history-{root.name}"
    versions = list_table_versions(path)
    expired = versions[: max(0, len(versions) - keep_last)]
    for v in expired:
        shutil.rmtree(hist / f"v{v}")
    return expired


def scd2_asof(
    history: DataFrame,
    as_of,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
) -> DataFrame:
    """The READ side of SCD2: the dimension exactly as it stood at
    ``as_of`` — rows whose validity interval covers the instant
    (``valid_from <= as_of < valid_to``, open-ended current rows
    included). This is what makes the history table useful for
    REPRODUCING a training snapshot: join facts against
    ``scd2_asof(history, snapshot_ts)`` and every attribute reads as it
    did then. Map-only filter — prunes at the scan when the history is
    stored partitioned/clustered by validity."""
    ts = F.lit(as_of)
    return history.filter(
        (F.col(valid_from_col) <= ts)
        & (F.col(valid_to_col).isNull() | (F.col(valid_to_col) > ts))
    )


def scd2_temporal_join(
    fact: DataFrame,
    history: DataFrame,
    keys: list[str],
    fact_ts_col: str,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    how: str = "inner",
) -> DataFrame:
    """Fact-to-versioned-dimension TEMPORAL join — every fact row joins
    the dimension version that was valid AT ITS OWN timestamp
    (``valid_from <= fact_ts < valid_to``, open-ended current versions
    included). :func:`scd2_asof` reads the whole dimension at ONE
    instant; this is the per-row generalization — the standard
    warehouse pattern for attributing facts to the contemporaneous
    attribute state (which license/segment/region did this row see when
    it happened), i.e. the reproducibility join for training-data
    lineage.

    Plan shape: an EQUI-join on the dimension keys (hash join — the
    interval predicates ride along as a residual filter on the matched
    pairs, so there is no range-join blowup) returning all fact columns
    plus the history's attribute columns (validity bounds dropped).
    SCD2 invariants guarantee at most one matching version per
    (key, instant), so the join never duplicates facts. At 100 TB both
    sides shuffle on the key — or the history broadcasts when small,
    which Catalyst/AQE decides from stats."""
    f = fact.alias("f")
    h = history.alias("h")
    ts = F.col(f"f.{fact_ts_col}")
    cond = reduce(
        lambda x, y: x & y, [F.col(f"f.{k}") == F.col(f"h.{k}") for k in keys]
    )
    cond = (
        cond
        & (ts >= F.col(f"h.{valid_from_col}"))
        & (F.col(f"h.{valid_to_col}").isNull() | (ts < F.col(f"h.{valid_to_col}")))
    )
    attr_cols = [
        c for c in history.columns if c not in keys + [valid_from_col, valid_to_col]
    ]
    return f.join(h, cond, how).select(
        *[F.col(f"f.{c}") for c in fact.columns],
        *[F.col(f"h.{c}") for c in attr_cols],
    )


def incremental_rollup(
    spark: SparkSession,
    rollup_path: str,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    count_col: str = "n",
    partition_cols: list[str] | None = None,
) -> dict:
    """Materialized-view maintenance: refresh a persisted rollup table
    (``keys + [count_col] + sum_<c> partials``) from a DELTA of base
    rows WITHOUT rescanning the base table. Works because the stored
    aggregates are MERGEABLE partials (counts and sums; derive avg as
    sum/count at read time): the delta's partials merge into the
    stored groups by addition, new groups insert — and the whole
    update is one :func:`merge_into` touching only the files holding
    affected groups, Θ(delta groups) not Θ(base).

    The 100 TB rollup-refresh pattern: a day's ingest updates a
    continuous aggregate by merging day-partials, exactly like the
    streaming rollup (``events_rollup_hourly_daily``) but as a batch
    table operation with the CoW merge's atomicity. Returns the merge
    stats dict."""
    dp = delta.groupBy(*keys).agg(
        F.count(F.lit(1)).alias(count_col),
        *[F.sum(F.col(c)).alias(f"sum_{c}") for c in sum_cols],
    )
    stored = read_parquet(spark, rollup_path)
    scols = [count_col] + [f"sum_{c}" for c in sum_cols]
    # only the AFFECTED stored groups participate: semi-filter the (big)
    # rollup by the delta's keys first — broadcast the small side — then
    # both join inputs are delta-sized
    affected = stored.join(F.broadcast(dp.select(*keys)), keys, "left_semi")
    joined = dp.alias("d").join(F.broadcast(affected.alias("s")), keys, "left")
    # cast every merged aggregate BACK to its stored type: decimal
    # addition widens (p,s) -> (p+1,s), and without the cast each
    # refresh would bump the rewritten files' parquet decimal width
    # while the hard-linked untouched files keep the old one — a
    # mixed-width table that fails to read (and precision creep toward
    # the decimal(38) cap)
    stored_types = {c: stored.schema[c].dataType for c in scols}
    merged_groups = joined.select(
        *keys,
        *[
            (F.coalesce(F.col(f"s.{c}"), F.lit(0)) + F.col(f"d.{c}"))
            .cast(stored_types[c])
            .alias(c)
            for c in scols
        ],
    )
    return merge_into(spark, rollup_path, merged_groups, keys, partition_cols=partition_cols)


def table_diff(
    before: DataFrame, after: DataFrame, keys: list[str]
) -> DataFrame:
    """Keyed reconciliation of two table states: one row per key whose
    state differs, tagged ``added`` / ``removed`` / ``changed`` — the
    audit view over :func:`snapshot_table` versions (what did that
    merge/CDC batch actually do?) and the general two-snapshot
    regression diff.

    Row identity is an md5 over the JSON encoding of every non-key
    column (``to_json(struct(...))`` — field names delimit values, so
    no concatenation of payloads can collide with a different payload
    split, and null vs any real value is distinguishable), so the
    comparison shuffles only (keys, one hash) per side — Θ(rows) slim
    rows, never the full payload — and a null-safe full-outer join on
    the keys classifies each key once (a NULL key is a key like any
    other: identical on both sides → absent from the diff). Duplicate
    keys per side collapse to one sorted hash MULTISET, so a
    duplicate-count-only difference is still reported as ``changed``
    (a reconciliation tool must not call [x, x] vs [x] unchanged).

    Returns ``keys + [change]`` with change ∈ {added, removed,
    changed}; identical keys are absent (the common case — the output
    is Θ(difference), the property that makes diffing 100 TB snapshots
    useful)."""
    val_cols = [c for c in before.columns if c not in keys]
    before_sig = [(c, before.schema[c].dataType) for c in before.columns]
    after_sig = [(c, after.schema[c].dataType) for c in after.columns]
    if before_sig != after_sig:
        raise ValueError("before/after schemas differ")

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        h = F.md5(F.to_json(F.struct(*[F.col(c) for c in val_cols])))
        return (
            df.select(*keys, h.alias("_h"))
            .groupBy(*keys)
            .agg(F.array_sort(F.collect_list("_h")).alias(tag))
        )

    hb, ha = hashed(before, "_hb").alias("b"), hashed(after, "_ha").alias("a")
    cond = reduce(
        lambda x, y: x & y,
        [F.col(f"b.{k}").eqNullSafe(F.col(f"a.{k}")) for k in keys],
    )
    joined = hb.join(ha, cond, "full_outer")
    return (
        joined.withColumn(
            "change",
            F.when(F.col("_hb").isNull(), F.lit("added"))
            .when(F.col("_ha").isNull(), F.lit("removed"))
            .when(F.col("_hb") != F.col("_ha"), F.lit("changed")),
        )
        .filter(F.col("change").isNotNull())
        .select(
            *[F.coalesce(F.col(f"b.{k}"), F.col(f"a.{k}")).alias(k) for k in keys],
            "change",
        )
    )


def table_checksum(df: DataFrame, canonical: Column) -> DataFrame:
    """Order-independent table fingerprint — the cheap "did anything
    change at all?" complement to :func:`table_diff` (which tells you
    WHAT changed): one row ``(n_rows, checksum)`` where checksum is the
    sum mod 2^64 of a 64-bit hash per row. Verifying a 100 TB replica
    needs no sort, no shuffle-by-key and no second copy of the data —
    each side computes its scan-shaped partial sums and compares two
    numbers.

    ``canonical`` must be a deterministic STRING expression over the
    row (the caller fixes column order, numeric formatting and null
    handling — cast floats to decimals first; engines render raw
    doubles differently). The row hash is the first 16 md5 hex digits
    as an unsigned 64-bit value (the MinHash family's md5-derived hash
    contract), summed exactly in DECIMAL(38) and reduced mod 2^64 —
    addition commutes, so partitioning/order never matters, and the
    hash is engine-reproducible (exact DuckDB twin).

    A checksum EQUALITY is probabilistic evidence (64-bit collisions
    need ~2^32 differing tables); an INEQUALITY is proof of difference
    — the right asymmetry for replica verification."""
    h = F.conv(F.substring(F.md5(canonical), 1, 16), 16, 10).cast("decimal(38,0)")
    m64 = F.lit("18446744073709551616").cast("decimal(38,0)")
    return df.select(h.alias("_h")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum("_h") % m64).cast("decimal(20,0)").alias("checksum"),
    )
