"""Commit-log table format: versioned parquet with stats-based file skipping.

The reference engine is read-only (``bearly_ext.cc:9-214`` never writes),
and this repo already maintains tables two ways: in-place atomic swaps
with hard-linked history trees (``operators/maintenance.snapshot_table``)
and copy-on-write MERGE (``operators/maintenance.merge_into``). Both
lean on a POSIX filesystem (hard links, ``RENAME_EXCHANGE``). At 100 TB
the table usually lives on an object store with neither, and a version
is too big to materialize as a directory tree per revision. The standard
public answer (Delta Lake's ``_delta_log``, Iceberg's snapshot
manifests) is a **commit log**: the table IS an ordered sequence of
immutable JSON commits, each listing the data files it adds and removes
plus per-file column min/max stats. This module implements that design
on plain parquet, Spark-first:

- **Atomic, optimistic commits** — a commit is one ``link(tmp, final)``
  of ``_txlog/<version>.json`` (creation is exclusive: two writers
  racing on the same version means exactly one wins). Appends retry
  with the next version (append/append never logically conflicts);
  ``overwrite``/``compact`` pin the version they read and raise
  :class:`TxConflict` if anything committed since (their file-removal
  set would be stale).
- **Time travel for free** — a read at version ``v`` replays commits
  ``<= v``; old data files are never modified, only de-referenced, so
  every historical version stays readable until :func:`vacuum`.
- **One replay, one fold step** — a version's state (live files,
  active deletion vectors, batch tags, head commit) is a fold: the
  newest checkpoint at or before it, then each later commit applied
  once by :meth:`_Snapshot.apply`. Every ``_CHECKPOINT_EVERY``-th commit
  writes a checkpoint of that state, so :func:`_replay` reads at most
  one checkpoint + ``_CHECKPOINT_EVERY`` commits, not the whole history
  (Delta's ``_last_checkpoint`` pattern). Range walks
  (:func:`read_changes`, :func:`vacuum`) replay once at the start of
  the range and fold each later commit with the same step; code that
  needs only a commit's schema or partition columns reads that one
  commit file (:func:`_head`).
- **Row-level DML: {delete by range, upsert by key} × {copy-on-write,
  deletion vector}** — :func:`delete_where`, :func:`delete_where_dv`,
  :func:`merge_into_table` and :func:`merge_into_table_dv` are the four
  cells of one skeleton (:func:`_dml`): one prologue (table check,
  stats-pruned plan of the zone, schema; merges also check the delta's
  schema and zone), one match step (the NULL-safe range filter for a
  delete, a key anti/semi join for an upsert behind the key broadcast
  guard) and one write tail — a CoW rewrite of the touched files, or a
  DV file of the matched (file, position) pairs that readers anti-join
  (merge-on-read) until :func:`compact` materializes and retires it. A
  range's rows with NULL in a predicate column never match. Every DML
  commit pins the version it read and raises :class:`TxConflict` if
  anything committed in between. A CoW delete that touches no file and
  a DV delete that masks no row commit nothing; merges always commit.
- **Partition columns** — ``write_table(..., partition_by=[...])``
  lands files under hive-style value directories, records each file's
  typed partition values in its log add-entry, and planning prunes on
  them BEFORE footer stats — the first-order file filter Delta/Iceberg
  lead with (stats skipping only bites when writes are clustered).
  Readers resolve the partition columns from the directory layout
  (``basePath``); the Python DataSource serves them straight from the
  log entry. Compaction and row-level DML keep the layout.
- **Data skipping** — per-file min/max/null-count stats are harvested
  from the parquet FOOTERS at commit time (pyarrow metadata reads: zero
  data bytes, O(files) driver-side metadata ops — the same cost class
  as writing the log entry itself). :func:`read_table` takes
  conjunctive range predicates and plans only the files whose stats
  can match; the predicate is re-applied row-level in Spark, so
  pruning is a pure I/O optimization, never a correctness dependence.
  A file whose every row is NULL in the predicate column is pruned too
  (range predicates never match NULL).
- **Compaction that keeps history** — :func:`compact` rewrites the live
  set into ``target_files`` files as one commit (adds + removes);
  pre-compaction versions still time-travel because their files remain
  on disk until vacuumed.

Scale posture: all data movement is Spark jobs over the referenced
files; the driver touches only O(files-per-commit) metadata (footer
stats, JSON) — exactly the division of labor the public lakehouse
formats use. Readers never list the data directory (no eventual-
consistency hazard); the log is the single source of truth.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from bearly_spark.sources.tables import broadcast_keys

_LOG_DIR = "_txlog"
_DATA_DIR = "data"
_CHECKPOINT_EVERY = 10
#: Stats are harvested and compared only for these parquet logical
#: types; anything else is recorded as absent and never pruned on
#: (safe: a file without usable stats is always scanned).
_STATS_SAFE = (int, float, str, bool)


class TxConflict(RuntimeError):
    """A concurrent commit invalidated this transaction's read version."""


# -------------------------------------------------------------------
# Log primitives
# -------------------------------------------------------------------


def _root(path: str) -> Path:
    return Path(path).resolve()


def _log_path(root: Path) -> Path:
    return root / _LOG_DIR


def _commit_file(root: Path, version: int) -> Path:
    return _log_path(root) / f"{version:020d}.json"


def _checkpoint_file(root: Path, version: int) -> Path:
    return _log_path(root) / f"chk-{version:020d}.json"


def _atomic_create(dst: Path, payload: dict) -> bool:
    """Write ``payload`` to ``dst`` atomically and EXCLUSIVELY: the
    bytes are fully written to a temp file first, then ``os.link``
    publishes them (fails if ``dst`` exists — the optimistic-
    concurrency primitive). Returns False when the version was taken."""
    dst.parent.mkdir(parents=True, exist_ok=True)
    tmp = dst.parent / f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(payload, f, separators=(",", ":"))
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, dst)
        # fsync the DIRECTORY too: without it a crash can drop this
        # dirent while a later commit's survives, leaving a hole the
        # replay would silently skip over
        dfd = os.open(dst.parent, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        return True
    except FileExistsError:
        return False
    finally:
        tmp.unlink(missing_ok=True)


def _versions(root: Path) -> list[int]:
    log = _log_path(root)
    if not log.is_dir():
        return []
    return sorted(
        int(p.stem) for p in log.iterdir() if p.suffix == ".json" and p.stem.isdigit()
    )


def latest_version(path: str | Path) -> int:
    """Highest committed version (0 = never created)."""
    vs = _versions(_root(path))
    return vs[-1] if vs else 0


def _existing_version(root: Path, path: str) -> int:
    """The latest version of a table that must exist (raises if not)."""
    current = latest_version(root)
    if not current:
        raise ValueError(f"no table at {path}")
    return current


def _read_json(p: Path) -> dict:
    with open(p) as f:
        return json.load(f)


def _schema(schema_json: str) -> StructType:
    return StructType.fromJson(json.loads(schema_json))


def _head(root: Path, version: int | None = None) -> dict:
    """The commit at ``version`` (default: the latest): one file read and
    no replay, for callers that need only its schema or partition
    columns."""
    v = latest_version(root) if version is None else version
    if not _commit_file(root, v).is_file():
        raise ValueError(f"no version {v} in {root}")
    return _read_json(_commit_file(root, v))


@dataclass
class _Snapshot:
    """The table at one version, as the replay folds it: live files keyed
    by relative path, active deletion-vector files, the batch-tag map
    (tag -> version) and the head commit. A checkpoint stores the first
    three."""

    live: dict = field(default_factory=dict)
    dv: list = field(default_factory=list)
    tags: dict = field(default_factory=dict)
    commit: dict | None = None

    def apply(self, v: int, c: dict) -> None:
        """The one fold step: commit ``c`` (version ``v``) on top."""
        for rel in c.get("remove", []):
            self.live.pop(rel, None)
        for entry in c.get("add", []):
            self.live[entry["path"]] = entry
        if c.get("dv_remove_all"):
            self.dv = []
        self.dv.extend(c.get("dv_add", []))
        if c.get("batch_tag") is not None:
            self.tags[c["batch_tag"]] = v
        self.commit = c


def _replay(root: Path, version: int) -> _Snapshot:
    """The table at ``version``: the newest checkpoint at or before it,
    then each later commit through :meth:`_Snapshot.apply` — at most
    ``_CHECKPOINT_EVERY`` file reads whatever the table's age."""
    vs = _versions(root)
    if version not in vs:
        raise ValueError(f"no version {version} in {root} (have {vs or 'none'})")
    chks = (int(p.stem[4:]) for p in _log_path(root).glob("chk-*.json"))
    start = max((c for c in chks if c <= version), default=0)
    snap = _Snapshot(**_read_json(_checkpoint_file(root, start))) if start else _Snapshot()
    for v in vs:
        if start < v <= version:
            snap.apply(v, _read_json(_commit_file(root, v)))
    if snap.commit is None:  # the checkpoint is at ``version`` itself
        snap.commit = _read_json(_commit_file(root, version))
    return snap


def _version_at_ts(root: Path, as_of_ts) -> int:
    """Newest version whose commit timestamp is <= ``as_of_ts`` — the
    "table as of yesterday" resolution (Delta's ``timestampAsOf``).
    ``as_of_ts`` is epoch seconds (int/float), a ``datetime``, or an
    ISO-8601 string (naive strings are LOCAL time, like a datetime
    without tzinfo). Commit timestamps are assigned under the
    monotonically-increasing version sequence, so a binary search over
    the version list reads O(log n) commit files, never the whole log.
    Raises if the table did not exist yet at that time."""
    if isinstance(as_of_ts, str):
        try:
            as_of_ts = float(as_of_ts)  # numeric string (epoch seconds)
        except ValueError:
            from datetime import datetime

            as_of_ts = datetime.fromisoformat(as_of_ts)
    if hasattr(as_of_ts, "timestamp"):
        as_of_ts = as_of_ts.timestamp()
    as_of_ts = float(as_of_ts)
    vs = _versions(root)
    if not vs:
        raise ValueError(f"no table at {root}")
    lo, hi = 0, len(vs) - 1
    ans = None
    while lo <= hi:
        mid = (lo + hi) // 2
        if _read_json(_commit_file(root, vs[mid]))["ts"] <= as_of_ts:
            ans = vs[mid]
            lo = mid + 1
        else:
            hi = mid - 1
    if ans is None:
        first = _read_json(_commit_file(root, vs[0]))["ts"]
        raise ValueError(
            f"no commit at or before ts={as_of_ts} in {root} "
            f"(first commit ts={first})"
        )
    return ans


# -------------------------------------------------------------------
# Stats harvesting (parquet footers — metadata-only, no data scan)
# -------------------------------------------------------------------


def _json_stat(v):
    return v if isinstance(v, _STATS_SAFE) else None


#: Spark/Hive's directory name for a NULL partition value.
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _typed_partition_value(raw: str, dtype) -> object:
    """Decode one hive-style directory value (``col=<raw>``) into the
    JSON-typed value the log stores: ints/floats/bools parse to their
    type so range pruning compares numerically; everything else stays
    the (unescaped) string — ISO dates compare correctly as strings,
    and a non-comparable value just never prunes (TypeError guard)."""
    if raw == _HIVE_NULL:
        return None
    from urllib.parse import unquote

    raw = unquote(raw)
    t = dtype.simpleString()
    if t in ("tinyint", "smallint", "int", "bigint"):
        return int(raw)
    if t in ("float", "double"):
        return float(raw)
    if t == "boolean":
        return raw.lower() == "true"
    return raw


def _parse_partition_dir(rel_dir: Path, schema: StructType) -> dict:
    """``a=1/b=x`` relative directory -> {"a": 1, "b": "x"}, typed per
    the table schema."""
    types = {f.name: f.dataType for f in schema.fields}
    values: dict[str, object] = {}
    for seg in rel_dir.parts:
        name, _, raw = seg.partition("=")
        values[name] = _typed_partition_value(raw, types[name])
    return values


def _file_entry(
    root: Path, fp: Path, stats_cols: list[str], partition: dict | None = None
) -> dict:
    """One log entry for a data file: rows + per-column min/max/nulls
    aggregated over the file's row-group footer statistics. Footer
    reads touch zero data pages; at cluster scale this loop would ride
    a tiny Spark job over the file list, but it is the same O(files)
    metadata cost class as writing the commit itself."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fp).metadata
    names = {md.schema.column(i).path: i for i in range(md.num_columns)}
    stats: dict[str, dict] = {}
    for col in stats_cols:
        idx = names.get(col)
        if idx is None:
            continue
        lo = hi = None
        nulls = 0
        usable = True
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(idx).statistics
            if s is None or not s.has_min_max:
                # a row group can legitimately lack min/max (e.g. all
                # nulls); only null_count remains trustworthy then
                if s is not None and s.null_count is not None:
                    nulls += s.null_count
                    if s.null_count == md.row_group(rg).num_rows:
                        continue
                usable = False
                continue
            mn, mx = _json_stat(s.min), _json_stat(s.max)
            if mn is None or mx is None:
                usable = False
            else:
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
            nulls += s.null_count or 0
        entry: dict = {"nulls": nulls}
        if usable and lo is not None:
            entry["min"], entry["max"] = lo, hi
        stats[col] = entry
    out = {
        "path": str(fp.relative_to(root)),
        "rows": md.num_rows,
        "stats": stats,
    }
    if partition:
        out["partition"] = partition
    return out


def _write_data_files(
    df: DataFrame,
    root: Path,
    stats_cols: list[str],
    prefix: str = "c",
    partition_by: list[str] | None = None,
) -> list[dict]:
    """Write ``df`` into the data dir under a fresh commit token and
    return the add-entries. Files are invisible to readers until a
    commit references them, so a crash here leaks only unreferenced
    bytes (vacuum reclaims them, staging trees included). ``prefix``
    distinguishes file roles (data vs deletion vector) for human
    readers; the log, not the name, is what gives a file meaning.
    With ``partition_by``, files land under hive-style value
    directories (``data/col=value/...``) and each entry records its
    typed partition values — the log-served partition pruning input."""
    token = uuid.uuid4().hex[:12]
    staging = root / f".staging-{token}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(staging))
    parts = sorted(
        p
        for p in staging.rglob("*.parquet")
        if p.name[0] not in "._"
        and not any(seg.startswith((".", "_")) for seg in p.relative_to(staging).parts[:-1])
    )
    data_dir = root / _DATA_DIR
    entries = []
    for i, p in enumerate(parts):
        rel_dir = p.parent.relative_to(staging)
        dst_dir = data_dir / rel_dir
        dst_dir.mkdir(parents=True, exist_ok=True)
        dst = dst_dir / f"{prefix}{token}-{i:05d}.parquet"
        os.replace(p, dst)
        partition = (
            _parse_partition_dir(rel_dir, df.schema) if rel_dir.parts else None
        )
        entries.append(_file_entry(root, dst, stats_cols, partition))
    shutil.rmtree(staging, ignore_errors=True)
    if not entries:
        data_dir.mkdir(parents=True, exist_ok=True)
    return entries


# -------------------------------------------------------------------
# Commit protocol
# -------------------------------------------------------------------


def _commit(
    root: Path,
    operation: str,
    schema_json: str,
    add: list[dict],
    remove: list[str],
    expected_version: int | None,
    retries: int = 20,
    batch_tag: str | None = None,
    check_append_schema: bool = False,
    extra: dict | None = None,
    evolve_schema: StructType | None = None,
) -> int:
    """Publish one commit. ``expected_version`` pins optimistic
    concurrency: None = append semantics (retry under the next free
    version — appends never logically conflict); an int = the version
    this transaction read, and any interleaved commit raises
    :class:`TxConflict` (its remove-set would be stale).
    ``batch_tag`` stamps the commit with an idempotency token (the
    streaming-ingest dedup key — Delta's txn/appId pattern).
    ``check_append_schema`` revalidates the incoming schema against the
    CURRENT latest version inside the retry loop — an append's
    pre-write check races the (slow) data write, and an interleaved
    overwrite could change the table schema under it."""
    for _ in range(retries):
        current = latest_version(root)
        if expected_version is not None and current != expected_version:
            raise TxConflict(
                f"table advanced to v{current} (expected v{expected_version})"
            )
        v = current + 1
        payload = {
            "version": v,
            "operation": operation,
            "schema": schema_json,
            "add": add,
            "remove": remove,
            "ts": time.time(),
        }
        if batch_tag is not None:
            payload["batch_tag"] = batch_tag
        if extra:
            payload.update(extra)
        if evolve_schema is not None and current:
            # recomputed per retry: a concurrent evolve append may have
            # added other columns; the committed schema is the union
            payload["schema"] = _check_evolution(
                _schema(_head(root, current)["schema"]), evolve_schema
            ).json()
        elif check_append_schema and current:
            _check_schema(_schema(_head(root, current)["schema"]), _schema(schema_json))
        if _atomic_create(_commit_file(root, v), payload):
            if v % _CHECKPOINT_EVERY == 0:
                snap = _replay(root, v)
                _atomic_create(
                    _checkpoint_file(root, v),
                    {"live": snap.live, "tags": snap.tags, "dv": snap.dv},
                )
            return v
        if expected_version is not None:
            raise TxConflict(f"lost the race for v{v}")
    raise TxConflict(f"gave up after {retries} commit attempts")


def _check_schema(existing: StructType, incoming: StructType) -> None:
    if [(f.name, f.dataType) for f in existing.fields] != [
        (f.name, f.dataType) for f in incoming.fields
    ]:
        raise ValueError(
            f"schema mismatch: table has {existing.simpleString()}, "
            f"append brings {incoming.simpleString()}"
        )


def _check_evolution(existing: StructType, incoming: StructType) -> StructType:
    """Additive schema evolution: the incoming schema must carry every
    existing column with an identical type and may ADD columns (old
    files read back with NULLs there — parquet resolution is by name).
    Returns the evolved schema: existing column order, new columns
    appended. Drops and type changes raise."""
    ex = {f.name: f.dataType for f in existing.fields}
    inc = {f.name: f.dataType for f in incoming.fields}
    missing = [n for n in ex if n not in inc]
    changed = [n for n in ex if n in inc and inc[n] != ex[n]]
    if missing or changed:
        raise ValueError(
            "schema evolution is additive-only: "
            f"dropped={missing or '[]'} type-changed={changed or '[]'} "
            f"(table {existing.simpleString()}, "
            f"append {incoming.simpleString()})"
        )
    from pyspark.sql.types import StructField

    # new columns are nullable BY CONSTRUCTION: every pre-evolution
    # file holds NULLs there
    new = [
        StructField(f.name, f.dataType, nullable=True)
        for f in incoming.fields
        if f.name not in ex
    ]
    return StructType(list(existing.fields) + new)


def _table_partition_cols(commit: dict) -> list[str]:
    return list(commit.get("partition_cols", []))


def write_table(
    df: DataFrame | list[DataFrame],
    path: str,
    mode: str = "append",
    stats_cols: list[str] | None = None,
    batch_tag: str | None = None,
    merge_schema: bool = False,
    partition_by: list[str] | None = None,
) -> int:
    """Commit ``df`` to the table at ``path``. ``mode='append'`` adds
    files (never conflicts; retries under concurrent writers);
    ``mode='overwrite'`` replaces the live set in one commit (raises
    :class:`TxConflict` if anything commits in between). The first
    commit creates the table. A LIST of same-schema DataFrames lands
    as one atomic commit with each member writing its own file group —
    the many-tasks-one-transaction shape of real ingestion (and the
    way to pin file boundaries: Catalyst is free to collapse a single
    unioned plan into fewer partitions than its branches).
    ``merge_schema=True`` allows ADDITIVE schema evolution on append:
    new columns join the table schema and older files read back with
    NULLs there (parquet name-based resolution); drops and type
    changes still raise. ``partition_by`` (create/overwrite only)
    makes the table HIVE-PARTITIONED on those columns: files land
    under value directories, every add-entry records its partition
    values, and readers prune on them BEFORE footer stats — the
    first-order file filter at 100 TB. Partitioning is a table-level
    property: appends inherit it (passing a different ``partition_by``
    raises; passing the same or None is fine) and an overwrite may
    redefine it. Returns the committed version."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    parts = list(df) if isinstance(df, (list, tuple)) else [df]
    if not parts:
        raise ValueError("need at least one DataFrame to commit")
    for extra in parts[1:]:
        _check_schema(parts[0].schema, extra.schema)
    root = _root(path)
    root.mkdir(parents=True, exist_ok=True)
    stats_cols = list(stats_cols or [])
    evolving = merge_schema and mode == "append"
    current = latest_version(root)
    if current and mode == "append":
        existing_commit = _head(root, current)
        existing = _schema(existing_commit["schema"])
        if evolving:
            _check_evolution(existing, parts[0].schema)  # pre-write check
        else:
            _check_schema(existing, parts[0].schema)
        pcols = _table_partition_cols(existing_commit)
        if partition_by is not None and list(partition_by) != pcols:
            raise ValueError(
                f"table is partitioned by {pcols}; an append cannot "
                f"repartition to {list(partition_by)} (overwrite can)"
            )
    else:
        pcols = list(partition_by or [])
    missing_pcols = [c for c in pcols if c not in parts[0].columns]
    if missing_pcols:
        raise ValueError(f"partition columns missing from data: {missing_pcols}")
    add = [
        e
        for p in parts
        for e in _write_data_files(p, root, stats_cols, partition_by=pcols)
    ]
    df = parts[0]
    remove: list[str] = []
    expected = None
    if mode == "overwrite":
        if current:
            remove = sorted(_replay(root, current).live)
        expected = current
    extra: dict = {"partition_cols": pcols}
    if mode == "overwrite":
        # an overwrite de-references every masked file, so its commit
        # also retires all deletion vectors (like compact) — otherwise
        # stale DVs would burden every later read and never vacuum
        extra["dv_remove_all"] = True
    return _commit(
        root,
        "create" if current == 0 else mode,
        df.schema.json(),
        add,
        remove,
        expected,
        batch_tag=batch_tag,
        check_append_schema=(mode == "append" and not evolving),
        evolve_schema=df.schema if evolving else None,
        extra=extra,
    )


def compact(
    spark: SparkSession,
    path: str,
    target_files: int,
    stats_cols: list[str] | None = None,
    order_by: list[str] | None = None,
) -> int:
    """Rewrite the live set into ``target_files`` write tasks
    (optionally range-clustered on ``order_by`` so stats-skipping
    bites harder post-compaction) as ONE commit. Data is
    bit-identical; every pre-compaction version still time-travels
    until vacuumed. A partitioned table keeps its layout: rows
    range-cluster on (partition cols, order_by) so each task holds
    contiguous partition values, and the rewrite lands back under the
    value directories — compaction never un-partitions a table."""
    root = _root(path)
    current = _existing_version(root, path)
    snap = _replay(root, current)
    pcols = _table_partition_cols(snap.commit)
    df = read_table(spark, path, version=current)
    cluster = [*pcols, *(order_by or [])]
    df = (
        df.repartitionByRange(target_files, *cluster)
        if cluster
        else df.repartition(target_files)
    )
    add = _write_data_files(
        df, root, list(stats_cols or []), partition_by=pcols
    )
    return _commit(
        root,
        "compact",
        df.schema.json(),
        add,
        sorted(snap.live),
        expected_version=current,
        # the rewrite read every mask through read_table, so compaction
        # MATERIALIZES all deletion vectors and retires them
        extra={"dv_remove_all": True, "partition_cols": pcols},
    )


# -------------------------------------------------------------------
# Read path
# -------------------------------------------------------------------


def _overlaps(entry: dict, col: str, lo, hi) -> bool:
    """Can any row of this file satisfy lo <= col <= hi? Missing or
    non-comparable stats keep the file (pruning must be sound). A
    PARTITION column is an exact single-value stat served from the log
    entry — the first-order file filter: equality/range on it prunes
    without any footer stats, and a NULL partition value never matches
    a range predicate."""
    part = entry.get("partition") or {}
    if col in part:
        v = part[col]
        if v is None:
            return False
        try:
            if lo is not None and v < lo:
                return False
            if hi is not None and v > hi:
                return False
        except TypeError:
            return True
        return True
    st = entry.get("stats", {}).get(col)
    if st is None:
        return True
    if st.get("nulls") == entry["rows"]:
        return False  # every value NULL: a range predicate matches none
    mn, mx = st.get("min"), st.get("max")
    if mn is None or mx is None:
        return True
    try:
        if lo is not None and mx < lo:
            return False
        if hi is not None and mn > hi:
            return False
    except TypeError:
        return True
    return True


def _plan(
    root: Path, version: int | None, where: dict | None
) -> tuple[list[str], int, dict, list[str]]:
    """One log replay serving the whole read path: (surviving relative
    paths, total live file count, the commit dict at the version —
    which carries the schema — and the active deletion-vector files,
    so readers never replay twice)."""
    snap = _replay(root, latest_version(root) if version is None else version)
    survivors = sorted(
        rel
        for rel, entry in snap.live.items()
        if all(_overlaps(entry, c, lo, hi) for c, (lo, hi) in (where or {}).items())
    )
    return survivors, len(snap.live), snap.commit, snap.dv


def plan_files(
    path: str, version: int | None = None, where: dict | None = None
) -> tuple[list[str], int]:
    """The scan plan: (relative paths that survive stats pruning, total
    live file count). ``where`` maps column -> (lo, hi) inclusive
    bounds (either side None = unbounded)."""
    files, total, _, _ = _plan(_root(path), version, where)
    return files, total


def _range_cond(where: dict):
    """The shared NULL-safe conjunctive range predicate of the DML
    paths: each column contributes at least IS NOT NULL, so an
    unbounded (None, None) range means "every non-null value" and a
    row with NULL in ANY predicate column never matches — consistent
    with how stats pruning treats all-null files. Wrap in
    ``F.coalesce(cond, F.lit(False))`` before filtering."""
    cond = F.lit(True)
    for col, (lo, hi) in where.items():
        cond = cond & F.col(col).isNotNull()
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
    return cond


def _dv_frame(spark: SparkSession, root: Path, dv_rels: list[str]) -> DataFrame:
    return spark.read.schema("fname string, pos long").parquet(
        *[str(root / rel) for rel in dv_rels]
    )


def _read_masked(
    spark: SparkSession,
    root: Path,
    rels: list[str],
    schema: StructType,
    dv_rels: list[str],
    with_pos: bool = False,
) -> DataFrame:
    """Read data files with any active deletion vectors applied: rows
    whose (file name, row position) appear in a DV file are anti-joined
    away via the parquet ``_metadata.row_index`` column — merge-on-read.
    File NAMES are the join key (every data file name embeds a fresh
    uuid, so names never repeat across rewrites and a stale DV row is
    inert). ``with_pos=True`` keeps the ``__fname``/``__pos`` columns
    for callers that build new DVs. ``basePath`` is pinned to the data
    dir so a partitioned table's hive-style value directories resolve
    back into the declared partition columns (typed by the schema);
    for a flat table it is inert."""
    df = (
        spark.read.schema(schema)
        .option("basePath", str(root / _DATA_DIR))
        .parquet(*[str(root / rel) for rel in rels])
    )
    declared = [f.name for f in schema.fields]
    if df.columns != declared:
        # Spark appends directory-resolved partition columns last;
        # the table contract is the DECLARED column order
        df = df.select(*declared)
    if not dv_rels and not with_pos:
        return df
    cols = df.columns
    df = df.select(
        *cols,
        F.element_at(
            F.split(F.col("_metadata.file_path"), "/"), -1
        ).alias("__fname"),
        F.col("_metadata.row_index").alias("__pos"),
    )
    if dv_rels:
        dv = _dv_frame(spark, root, dv_rels).select(
            F.col("fname").alias("__fname"), F.col("pos").alias("__pos")
        )
        df = df.join(dv, ["__fname", "__pos"], "left_anti")
    return df if with_pos else df.drop("__fname", "__pos")


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    where: dict | None = None,
    as_of_ts=None,
) -> DataFrame:
    """Snapshot read at ``version`` (default: latest). ``where`` range
    predicates prune files via the logged stats AND are re-applied
    row-level, so the result is exact regardless of stats quality.
    Deletion vectors at the version are applied (merge-on-read).
    ``as_of_ts`` (epoch seconds / datetime / ISO string, mutually
    exclusive with ``version``) resolves to the newest commit at or
    before that time — timestamp time travel, the form operators
    actually ask ("the table as of yesterday").
    Raises if a referenced file was vacuumed away (loud, not silent)."""
    root = _root(path)
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version OR as_of_ts, not both")
        version = _version_at_ts(root, as_of_ts)
    files, _, commit, dvs = _plan(root, version, where)
    v = commit["version"]
    missing = [rel for rel in files if not (root / rel).is_file()]
    if missing:
        raise ValueError(
            f"version {v} of {path} references vacuumed files: {missing[:3]}"
        )
    schema = _schema(commit["schema"])
    if not files:
        df = spark.createDataFrame([], schema)
    else:
        df = _read_masked(spark, root, files, schema, dvs)
    for col, (lo, hi) in (where or {}).items():
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    return df


def history(path: str) -> list[dict]:
    """Commit audit trail: version, commit timestamp, operation,
    files/rows added, files removed — the metadata view a 100 TB
    operator actually watches (is compaction keeping up with ingest?),
    and the surface that makes ``as_of_ts`` time travel pickable."""
    root = _root(path)
    out = []
    for v in _versions(root):
        c = _read_json(_commit_file(root, v))
        out.append(
            {
                "version": v,
                "ts": c["ts"],
                "operation": c["operation"],
                "n_added": len(c.get("add", [])),
                "n_removed": len(c.get("remove", [])),
                "rows_added": sum(e["rows"] for e in c.get("add", [])),
            }
        )
    return out


def _write_dv(root: Path, hits: DataFrame | None) -> tuple[list[str], int, int]:
    """Write the (file name, row position) pairs of ``hits`` as
    deletion-vector files under the data dir. Returns (relative paths,
    masked rows from the footers, files masked). A DV that masks nothing
    is unlinked again and reads as ``([], 0, 0)``."""
    import pyarrow.parquet as pq

    if hits is None:
        return [], 0, 0
    pairs = hits.select(F.col("__fname").alias("fname"), F.col("__pos").alias("pos"))
    rels = [e["path"] for e in _write_data_files(pairs, root, [], prefix="dv-")]
    masks = [pq.read_table(str(root / rel), columns=["fname"]) for rel in rels]
    rows = sum(t.num_rows for t in masks)
    if not rows:
        for rel in rels:
            (root / rel).unlink(missing_ok=True)
        return [], 0, 0
    files = {f for t in masks for f in t.column("fname").to_pylist()}
    return rels, rows, len(files)


def _dml(
    spark: SparkSession,
    path: str,
    op: str,
    zone: dict | None,
    stats_cols: list[str] | None = None,
    delta: DataFrame | None = None,
    key_cols: list[str] | None = None,
) -> tuple[int, dict]:
    """The one DML skeleton (see the module docstring): delete by the
    ``zone`` ranges, or upsert ``delta`` by ``key_cols`` inside the
    ``zone`` files, written copy-on-write or as a deletion vector
    (``op`` ``delete``/``merge`` vs ``dv_delete``/``merge_dv``)."""
    dv = op in ("dv_delete", "merge_dv")
    root = _root(path)
    current = _existing_version(root, path)
    touched, total, commit, dvs = _plan(root, current, zone)
    schema = _schema(commit["schema"])
    if delta is not None:
        _check_schema(schema, delta.schema)
        _check_zone(delta, zone)
    # the match step keeps the hit rows for a DV, the other rows for CoW
    rows = None
    if touched:
        old = _read_masked(spark, root, touched, schema, dvs, with_pos=dv)
        if delta is None:
            hit = F.coalesce(_range_cond(zone), F.lit(False))
            rows = old.filter(hit if dv else ~hit)
        else:
            keys = broadcast_keys(delta.select(*key_cols))
            rows = old.join(keys, key_cols, "left_semi" if dv else "left_anti")
    pcols = _table_partition_cols(commit)
    extra: dict = {"partition_cols": pcols}
    if dv:  # mask the hit rows; an upsert appends its delta
        masks, n_rows, n_files = _write_dv(root, rows)
        if masks:
            extra["dv_add"] = masks
        written, remove, changed = delta, [], n_rows > 0
    else:  # rewrite the touched files' other rows, plus an upsert's delta
        written = delta if rows is None else rows if delta is None else rows.unionByName(delta)
        remove, changed = sorted(touched), bool(touched)
    add = (
        []
        if written is None
        else _write_data_files(written, root, list(stats_cols or []), partition_by=pcols)
    )
    n_add = sum(e["rows"] for e in add)
    if dv:
        stats = {"files_masked": n_files, "files_total": total, "rows_masked": n_rows}
        if delta is not None:
            stats["rows_inserted"] = n_add
    else:
        rows_key = "rows_kept" if delta is None else "rows_written"
        stats = {"files_rewritten": len(touched), "files_total": total, rows_key: n_add}
    # a delete that changes nothing commits nothing; an upsert always commits
    if delta is None and not changed:
        return current, stats
    v = _commit(root, op, commit["schema"], add, remove, expected_version=current, extra=extra)
    return v, stats


def delete_where(
    spark: SparkSession,
    path: str,
    where: dict,
    stats_cols: list[str] | None = None,
) -> tuple[int, dict]:
    """DELETE the rows inside the ``where`` ranges, copy-on-write: the
    files whose stats can hold a match are rewritten without it and the
    rest ride along, so the cost is Θ(affected files) — small when the
    table is clustered on the predicate column (``compact`` with
    ``order_by``). Returns ``(version, stats)`` with
    files_rewritten/files_total/rows_kept; touching no file commits
    nothing."""
    return _dml(spark, path, "delete", where, stats_cols)


def delete_where_dv(
    spark: SparkSession, path: str, where: dict
) -> tuple[int, dict]:
    """DELETE the rows inside the ``where`` ranges as a deletion vector:
    their (file, position) pairs land in a small DV file and the commit
    references it — Θ(matched rows) written, the right trade for small,
    frequent deletes (takedown queues). Returns ``(version, stats)`` with
    files_masked/files_total/rows_masked; masking 0 rows commits
    nothing."""
    return _dml(spark, path, "dv_delete", where)


def _check_zone(delta: DataFrame, prune: dict | None) -> None:
    """Verify every delta row lies inside the promised prune zone (one
    small aggregate); NULL in a zone column or an out-of-zone value
    raises rather than silently surviving a pruned merge."""
    if not prune:
        return
    checks = []
    for col, (lo, hi) in prune.items():
        bad = F.col(col).isNull()
        if lo is not None:
            bad = bad | (F.col(col) < F.lit(lo))
        if hi is not None:
            bad = bad | (F.col(col) > F.lit(hi))
        checks.append(F.sum(bad.cast("long")).alias(col))
    outside = delta.agg(*checks).collect()[0]
    offenders = {c: int(outside[c]) for c in prune if outside[c]}
    if offenders:
        raise ValueError(
            f"delta rows outside the prune zone (col -> count): "
            f"{offenders} — a pruned merge would silently miss them"
        )


def merge_into_table(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    key_cols: list[str],
    prune: dict | None = None,
    stats_cols: list[str] | None = None,
) -> tuple[int, dict]:
    """UPSERT ``delta`` by ``key_cols``, copy-on-write: delta rows replace
    same-key rows and unmatched delta rows insert. ``prune`` promises
    every delta row lies inside those ranges (verified against the
    delta; an outside or NULL zone value raises) and limits the rewrite
    to the files whose stats overlap it.

    THE ZONE CONTRACT IS STRONGER THAN THE DELTA CHECK CAN VERIFY: it
    also requires that no EXISTING row with a delta key lies outside
    the zone (keys must be zone-stable — a key's zone-column value
    never changes across revisions, e.g. an event's date or a
    document's shard). If a key moved zones, the out-of-zone copy
    survives the pruned rewrite and the table holds a duplicate key;
    verifying that would require scanning every file, which is exactly
    the cost pruning exists to avoid. When keys are not zone-stable,
    pass ``prune=None`` — every file is rewritten (keys like order ids
    are usually uncorrelated with file layout — the honest default).

    Returns ``(version, stats)`` with files_rewritten/files_total/
    rows_written; always commits."""
    return _dml(spark, path, "merge", prune, stats_cols, delta, key_cols)


def merge_into_table_dv(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    key_cols: list[str],
    prune: dict | None = None,
    stats_cols: list[str] | None = None,
) -> tuple[int, dict]:
    """UPSERT as merge-on-read: the matched rows' (file, position) pairs
    land in a DV file, the delta appends as new files, and one commit
    publishes both — Θ(matched + delta) written. This is the regime
    :func:`merge_into_table` degrades in (keys scattered over every
    file): a crawl refresh masks a few rows per file instead of
    rewriting the table. ``prune`` bounds which files are scanned for
    matches, under the contract documented there. Returns
    ``(version, stats)`` with files_masked/files_total/rows_masked/
    rows_inserted; always commits."""
    return _dml(spark, path, "merge_dv", prune, stats_cols, delta, key_cols)


def read_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change data feed: the logical row changes committed in versions
    ``(from_version, to_version]`` — the incremental-consumer primitive
    (downstream jobs re-process Θ(delta), never Θ(table)). Per commit:
    ``create``/``append`` emit their added files' rows as ``insert``;
    ``overwrite``, ``delete`` and ``merge`` emit their adds as
    ``insert`` AND the files they removed as ``delete`` (bytes stay on
    disk until vacuum; for row-level DML the net effect — remove the
    old file rows, re-insert the surviving/updated ones — is the
    standard file-granular CDF approximation); ``compact`` emits
    NOTHING (it is physically large but logically a no-op — exactly
    why consumers must read the LOG, not the file listing). Output = table columns + ``_change_version`` (int) +
    ``_change_type`` ('insert'|'delete'). A ``to_version`` past the
    log is clamped to the latest version. The whole feed is emitted
    under the schema at ``to_version``: a range spanning ADDITIVE
    evolution (``merge_schema`` appends) stays readable — older
    commits' rows come back with NULLs in the later columns, exactly
    as :func:`read_table` resolves them. Only a genuinely
    incompatible schema change in the range (an overwrite that
    dropped or retyped columns) raises, instead of silently reading
    old files under the new schema — split the range at that commit
    to consume it."""
    root = _root(path)
    vs = _versions(root)
    hi = min(vs[-1] if to_version is None else to_version, vs[-1]) if vs else 0
    picked = [v for v in vs if from_version < v <= hi]
    if not picked and from_version not in (*vs, 0):
        raise ValueError(f"no version {from_version} in {root}")
    if not vs:
        raise ValueError(f"no table at {path}")
    commits = [(v, _read_json(_commit_file(root, v))) for v in picked]
    schema = _schema((commits[-1][1] if commits else _head(root, hi))["schema"])
    schema_fields = {(f.name, f.dataType) for f in schema.fields}

    def _fits(commit: dict) -> bool:
        # additive subset: every column the commit wrote exists in the
        # feed schema with an identical type, so NULL-filling the later
        # columns is sound; anything else the feed cannot represent
        got = _schema(commit["schema"])
        return {(f.name, f.dataType) for f in got.fields} <= schema_fields

    def _read(rels: list[str], v: int, dv: list[str], with_pos: bool = False):
        missing = [rel for rel in rels if not (root / rel).is_file()]
        if missing:
            raise ValueError(
                f"changes of v{v} reference vacuumed files: {missing[:3]}"
            )
        return _read_masked(spark, root, rels, schema, dv, with_pos=with_pos)

    def _tag(df: DataFrame, v: int, change_type: str) -> DataFrame:
        return df.withColumn("_change_version", F.lit(v).cast("int")).withColumn(
            "_change_type", F.lit(change_type)
        )

    # one replay to the start of the range, then one fold step per commit
    snap = _replay(root, from_version) if commits and from_version in vs else _Snapshot()
    chunks = []
    for v, c in commits:
        prev, dv_prev = snap.commit, list(snap.dv)
        snap.apply(v, c)
        op = c["operation"]
        if op == "compact":
            continue
        if not _fits(c):
            raise ValueError(
                f"change feed spans an incompatible schema change at v{v} "
                f"({_schema(c['schema']).simpleString()} vs "
                f"{schema.simpleString()}); split the range there"
            )
        if c.get("dv_add"):
            # merge-on-read DML: the masked rows ARE the delete side, read
            # back out of the (still live) data files; a masked file name
            # resolves to its relative path through the live set (a
            # partitioned file lives under value dirs)
            dv = _dv_frame(spark, root, c["dv_add"])
            names = sorted(r["fname"] for r in dv.select("fname").distinct().collect())
            by_name = {rel.rsplit("/", 1)[-1]: rel for rel in snap.live}
            rels = [by_name.get(n, f"{_DATA_DIR}/{n}") for n in names]
            masks = dv.select(F.col("fname").alias("__fname"), F.col("pos").alias("__pos"))
            rows = _read(rels, v, [], with_pos=True).join(
                masks, ["__fname", "__pos"], "left_semi"
            )
            chunks.append(_tag(rows.drop("__fname", "__pos"), v, "delete"))
        sides = [("insert", [e["path"] for e in c.get("add", [])])]
        if op in ("overwrite", "delete", "merge"):
            # the removed files were written under the PREVIOUS schema
            if prev is not None and not _fits(prev):
                raise ValueError(
                    f"v{v} overwrote the table with an incompatible "
                    f"schema; its delete feed "
                    f"({_schema(prev['schema']).simpleString()}) cannot be "
                    f"represented under {schema.simpleString()} — use "
                    f"read_table(version={v - 1}) for the removed rows"
                )
            # read through the DVs active just BEFORE the commit: a row a
            # dv_delete already masked was emitted as a delete back then
            sides.append(("delete", list(c.get("remove", []))))
        chunks.extend(
            _tag(_read(rels, v, dv_prev if change_type == "delete" else []), v, change_type)
            for change_type, rels in sides
            if rels
        )
    if not chunks:
        return (
            spark.createDataFrame([], schema)
            .withColumn("_change_version", F.lit(0).cast("int"))
            .withColumn("_change_type", F.lit(""))
        )
    out = chunks[0]
    for extra in chunks[1:]:
        out = out.unionByName(extra)
    return out


def append_stream(
    changes,
    path: str,
    stats_cols: list[str] | None = None,
    app_id: str = "stream",
):
    """Streaming ingestion into a commit-log table: each micro-batch
    lands as ONE atomic append commit stamped with an idempotency tag
    (``<app_id>-<batch_id>`` — Delta's (appId, version) txn pattern),
    so replaying a batch after a crash is a metadata no-op: the tag is
    found in the log and the batch is skipped without writing a byte.
    DISTINCT streams writing to one table MUST pass distinct
    ``app_id``s — both restart their batch ids at 0, and colliding
    tags would silently drop one stream's batches. The tag lookup
    reads the newest checkpoint's accumulated tag map plus the commits
    after it (O(checkpoint cadence), not O(table age)). Returns the
    ``DataStreamWriter`` (caller starts it)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        tag = f"{app_id}-{batch_id}"
        root = _root(path)
        current = latest_version(root)
        if current and tag in _replay(root, current).tags:
            return
        write_table(batch_df, path, stats_cols=stats_cols, batch_tag=tag)

    return changes.writeStream.foreachBatch(process)


def vacuum(
    path: str, keep_from_version: int, min_age_seconds: float = 3600.0
) -> list[str]:
    """Delete data files not referenced by ANY version >=
    ``keep_from_version``. Versions older than that stop being
    readable (reads fail loudly); newer time travel is unaffected.
    Files younger than ``min_age_seconds`` are NEVER deleted even if
    unreferenced — an in-flight writer moves its files into ``data/``
    BEFORE publishing the commit that references them, and reaping
    that window would corrupt the commit it is about to make (the
    same retention guard Delta's VACUUM applies). A crashed writer's
    ``.staging-<token>/`` directory (files written but never moved
    into ``data/``) is reclaimed under the same age guard — staging
    trees are invisible to readers by construction, so only the age
    check protects an in-flight write. Returns the deleted relative
    paths."""
    root = _root(path)
    vs = [v for v in _versions(root) if v >= keep_from_version]
    if not vs:
        raise ValueError(f"keep_from_version={keep_from_version} retains no versions")
    # one replay to the oldest kept version, then one fold step per
    # later commit; live files and active deletion vectors both count
    snap = _replay(root, vs[0])
    referenced = {*snap.live, *snap.dv}
    for v in vs[1:]:
        snap.apply(v, _read_json(_commit_file(root, v)))
        referenced.update(snap.live, snap.dv)
    data_dir = root / _DATA_DIR
    cutoff = time.time() - min_age_seconds
    deleted = []
    if data_dir.is_dir():
        for p in sorted(data_dir.rglob("*.parquet")):
            rel = str(p.relative_to(root))
            if rel not in referenced and p.stat().st_mtime <= cutoff:
                p.unlink()
                deleted.append(rel)
        # drop value directories a partitioned table no longer uses
        # (deepest-first so nested empties cascade)
        for d in sorted(
            (d for d in data_dir.rglob("*") if d.is_dir()), reverse=True
        ):
            if not any(d.iterdir()):
                d.rmdir()
    for p in sorted(root.glob(".staging-*")):
        if p.is_dir() and p.stat().st_mtime <= cutoff:
            shutil.rmtree(p, ignore_errors=True)
            deleted.append(str(p.relative_to(root)))
    return deleted


# -------------------------------------------------------------------
# Spark 4 Python Data Source integration: spark.read.format("txlog")
# and spark.readStream.format("txlog")
# -------------------------------------------------------------------


def _schema_fields(schema: StructType) -> list[tuple[str, object]]:
    return [(f.name, f.dataType) for f in schema.fields]


def _resolve_version_option(path: str, options) -> int | None:
    """The batch DataSource's snapshot pin: ``version`` (int) or
    ``asOfTimestamp`` (epoch seconds / ISO string) — mutually
    exclusive, None when neither is set (latest)."""
    v = options.get("version")
    ts = options.get("asOfTimestamp")
    if v is not None and ts is not None:
        raise ValueError("pass version OR asOfTimestamp, not both")
    if ts is not None:
        return _version_at_ts(_root(path), ts)
    return int(v) if v is not None else None


def _make_datasource_class():
    """Build the DataSource class lazily (the datasource module needs a
    Spark 4 runtime; importing it at module import would couple every
    txlog user to it)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        InputPartition,
    )

    class _FilePartition(InputPartition):
        def __init__(
            self,
            fpath: str,
            masked=None,
            schema_json: str | None = None,
            partition: dict | None = None,
        ):
            self.fpath = fpath
            self.masked = masked or []  # masked row positions in THIS file
            self.schema_json = schema_json
            self.partition = partition or {}  # log-served partition values

    def _read_file_partition(partition):
        if not partition.fpath:
            return iter(())
        import pyarrow as pa
        import pyarrow.parquet as pq

        tab = pq.read_table(partition.fpath)
        if partition.masked:
            keep = [True] * tab.num_rows
            for pos in partition.masked:
                if 0 <= pos < tab.num_rows:
                    keep[pos] = False
            tab = tab.filter(pa.array(keep))
        if partition.schema_json is not None:
            # align to the DECLARED schema: a partitioned table's files
            # don't carry the partition columns (the LOG entry serves
            # their per-file constant values), and evolved tables have
            # old files missing new columns — filled with NULLs, by
            # name, in declared order (what read_table's name-based
            # resolution does on the DataFrame path)
            from pyspark.sql.pandas.types import to_arrow_schema

            declared = to_arrow_schema(
                _schema(partition.schema_json)
            )
            if tab.schema.names != declared.names:
                arrays = []
                for field in declared:
                    if field.name in tab.schema.names:
                        arrays.append(
                            tab.column(field.name).cast(field.type)
                        )
                    elif field.name in partition.partition:
                        value = partition.partition[field.name]
                        arrays.append(
                            pa.array([value] * tab.num_rows).cast(field.type)
                        )
                    else:
                        arrays.append(pa.nulls(tab.num_rows, field.type))
                tab = pa.Table.from_arrays(arrays, schema=declared)
        return iter(tab.to_batches())

    class TxLogReader(DataSourceReader):
        """Batch scan: one input partition per LIVE file at the
        requested version — the source parallelizes like a parquet
        scan, and the file list comes from the LOG (never a directory
        listing), so snapshot isolation holds through concurrent
        commits. Deletion vectors are resolved on the DRIVER at
        planning time (Θ(masked rows) — DVs are small by design and
        compact retires them) and each partition ships only its own
        file's masked positions; old files of an evolved schema are
        NULL-filled by name at read."""

        def __init__(self, options, schema: StructType):
            self.path = options["path"]
            self.version = _resolve_version_option(self.path, options)
            self.schema_json = json.dumps(schema.jsonValue())

        def partitions(self):
            import pyarrow.parquet as pq

            root = _root(self.path)
            snap = _replay(
                root, latest_version(root) if self.version is None else self.version
            )
            masked: dict[str, list[int]] = {}
            for rel in snap.dv:
                tab = pq.read_table(str(root / rel))
                for fname, pos in zip(
                    tab.column("fname").to_pylist(),
                    tab.column("pos").to_pylist(),
                ):
                    masked.setdefault(fname, []).append(pos)
            return [
                _FilePartition(
                    str(root / rel),
                    masked.get(rel.rsplit("/", 1)[-1]),
                    self.schema_json,
                    entry.get("partition"),
                )
                for rel, entry in sorted(snap.live.items())
            ] or [_FilePartition("")]

        def read(self, partition):
            return _read_file_partition(partition)

    class TxLogStreamReader(DataSourceStreamReader):
        """Streaming source over the commit log: the offset IS the
        version number, so exactly-once replay is free (commits are
        immutable — the same offset range always plans the same files).
        Each planned file is its own input partition read on the
        EXECUTORS as arrow batches — no driver materialization.
        Append-only by default: a DML commit (overwrite/delete/merge)
        in the offset range raises unless ``ignoreChanges=true``, which
        then EMITS the commit's added files (Delta's contract: possible
        duplicates of rewritten rows, never dropped inserts). A commit
        whose schema differs from the stream's declared schema raises —
        restart the stream past the schema change. ``startingVersion``
        is INCLUSIVE, like Delta's."""

        def __init__(self, options, schema: StructType):
            self.path = options["path"]
            self.start = int(options.get("startingVersion", 1))
            self.ignore_changes = (
                str(options.get("ignoreChanges", "false")).lower() == "true"
            )
            self.declared = _schema_fields(schema)
            self.schema_json = json.dumps(schema.jsonValue())

        def initialOffset(self):
            return {"version": self.start - 1}

        def latestOffset(self):
            root = _root(self.path)
            return {"version": latest_version(root) or self.start - 1}

        def partitions(self, start, end):
            root = _root(self.path)
            lo, hi = start["version"], end["version"]
            parts = []
            for v in _versions(root):
                if not (lo < v <= hi):
                    continue
                c = _read_json(_commit_file(root, v))
                op = c["operation"]
                if op == "compact":
                    continue
                if op not in ("create", "append") and not self.ignore_changes:
                    raise ValueError(
                        f"v{v} is a {op!r} commit; the txlog stream is "
                        "append-only (set ignoreChanges=true to emit its "
                        "added files — duplicates of rewritten rows "
                        "included, per the versioned-source contract)"
                    )
                got = _schema(c["schema"])
                if _schema_fields(got) != self.declared:
                    raise ValueError(
                        f"v{v} changed the table schema "
                        f"({got.simpleString()}); restart the stream with "
                        f"startingVersion={v} to continue under it"
                    )
                parts.extend(
                    _FilePartition(
                        str(root / entry["path"]),
                        None,
                        self.schema_json,
                        entry.get("partition"),
                    )
                    for entry in c.get("add", [])
                )
            return parts or [_FilePartition("")]

        def read(self, partition):
            return _read_file_partition(partition)

        def commit(self, end):
            pass  # offsets are durable in the query checkpoint

    class TxLogDataSource(DataSource):
        """``spark.read.format("txlog").option("path", p)`` /
        ``spark.readStream.format("txlog")...`` — the commit-log table
        exposed through Spark's public data source API, schema served
        from the log (at the ``version`` option when given)."""

        @classmethod
        def name(cls):
            return "txlog"

        def schema(self):
            version = _resolve_version_option(self.options["path"], self.options)
            return _schema(_head(_root(self.options["path"]), version)["schema"])

        def reader(self, schema):
            return TxLogReader(self.options, schema)

        def streamReader(self, schema):
            return TxLogStreamReader(self.options, schema)

    return TxLogDataSource


def register_source(spark: SparkSession) -> None:
    """Idempotently register the ``txlog`` data source on a session."""
    spark.dataSource.register(_make_datasource_class())
