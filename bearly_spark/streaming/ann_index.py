"""Incrementally-maintained LSH ANN index over a vector stream.

This is the concrete backing for "LSH is the streaming-friendly ANN
fallback" (registry `embedding_ann_lsh` docstring): hyperplane band keys
are a pure function of the vector and a fixed seed — no centroids, no
corpus pass — so a micro-batch can be indexed the moment it arrives.
IVF (the batch-scale default) cannot do this without periodically
re-fitting and re-assigning against a global k-means model.

Shape at scale:
- ``foreachBatch`` writes each micro-batch's (id, band, bkey) rows to the
  parquet index partitioned by ``(batch, band)``. foreachBatch is
  **at-least-once**: a batch replayed after a failure/restart runs the
  sink again, so the write must be idempotent per ``batch_id`` — we use
  dynamic partition overwrite keyed on the batch id, so a replay
  *rewrites* exactly its own ``batch=<id>/band=*`` partitions instead of
  appending duplicates. That upgrades the index to effectively-once.
- ``band`` stays a partition column under each batch, so a query probing
  band b prunes the other bands' files entirely;
- the vectors themselves stay in the stream's own sink (any store keyed
  by id); the index holds only (id, band, bkey) — the same
  "only ids travel through the blocking structures" rule as the batch
  paths;
- queries run the standard candidate-join + exact rerank against the
  index as of the last committed batch. The query path dedups candidate
  (q_id, c_id) pairs, so it is additionally tolerant of index-row
  duplicates — which makes **compaction crash-safe** (see below).

Compaction: a long-running stream accretes one small file set per
micro-batch (the classic streaming small-files problem — at one batch
per second that is ~86k file sets/day). ``compact_lsh_index`` folds all
committed batch partitions into a single ``batch=-1`` base partition
(one file per band) and then drops the per-batch directories. Crash
safety: the base is written BEFORE the old directories are removed, and
index-row duplicates are harmless to queries (dedup'd in the candidate
join), so a crash mid-compaction degrades to a larger index, never a
wrong one. Run it from a maintenance task between micro-batches (or
foreachBatch every N batches).
"""

from __future__ import annotations

import math
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from bearly_spark.operators.similarity import lsh_band_table, rerank_candidates
from bearly_spark.sources.tables import read_parquet
from bearly_spark.streaming.dedup_index import _pruned_scan

import pyspark.sql.functions as F

#: First (largest) base-partition id for compacted rows; successive
#: compactions count DOWN from here (-1, -2, ...). Real micro-batch ids
#: are >= 0, so a base id can never collide with a replayed batch.
BASE_BATCH_ID = -1

#: Bloom filter on the band key: lets a query's pushed bkey-IN filter
#: skip row groups even in unsorted per-batch dirs (compaction
#: additionally sorts by bkey so min/max stats prune too) — the same
#: layout contract as the dedup index's bands dataset.
_WRITE_OPTS = {"parquet.bloom.filter.enabled#bkey": "true"}


def upsert_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nbits: int = 56,
    bands: int = 8,
    seed: int = 42,
) -> None:
    """Idempotently write one micro-batch's band rows.

    Dynamic partition overwrite only replaces the partitions present in
    the incoming data — here exactly ``batch=<batch_id>/band=*`` — so
    replaying a batch (at-least-once foreachBatch) rewrites its own
    slice byte-for-byte instead of appending a duplicate copy. Exposed
    at module level so tests can simulate a replay directly.

    One file per (batch, band) dir, not one per shuffle partition: a
    micro-batch left at session parallelism writes ~32 files into each
    band dir and a long-running stream turns every query scan into a
    file-listing storm (round-5 dedup-index finding — same fix here)."""
    bt = (
        lsh_band_table(batch_df, id_col, vec_col, dim, nbits, bands, seed)
        .repartition(bands, "band")
        .sortWithinPartitions("band", "bkey")
        .withColumn("batch", F.lit(int(batch_id)))
    )
    w = bt.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    for key, v in _WRITE_OPTS.items():
        w = w.option(key, v)
    w.partitionBy("batch", "band").parquet(index_dir)


def streaming_lsh_index(
    vectors: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nbits: int = 56,
    bands: int = 8,
    seed: int = 42,
    prepare=None,
) -> StreamingQuery:
    """Start a stream that upserts each micro-batch's LSH band rows into
    the parquet index at ``index_dir`` (idempotent per batch — see module
    docstring). availableNow drains the backlog and stops (swap for a
    continuous trigger in production).

    ``prepare`` (optional ``DataFrame -> DataFrame``) runs INSIDE each
    foreachBatch on the plain batch frame — the place for per-batch
    derivations that are illegal on an unbounded stream (aggregating
    featurizers like ``text.hashed_tf_embedding``, joins against
    snapshots). This is what lets a raw document stream feed the index:
    embed the micro-batch the moment it lands, then upsert."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if prepare is not None:
            batch_df = prepare(batch_df)
        upsert_index_batch(
            batch_df, batch_id, index_dir, id_col, vec_col, dim, nbits, bands, seed
        )

    return (
        vectors.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_index(spark: SparkSession, index_dir: str, dedup: bool = False) -> DataFrame:
    """The logical index: (c_id, band, bkey), whatever the physical
    batch layout (``batch`` is dropped).

    ``dedup=True`` adds a distinct over (c_id, band, bkey) — needed only
    when exact index-row counts matter (compaction, invariant checks).
    The QUERY path leaves it off: index duplicates are already collapsed
    by the candidate-level ``dropDuplicates([q_id, c_id])``, so paying a
    full index shuffle per query to de-dup rows the join dedups anyway
    would be pure overhead."""
    idx = read_parquet(spark, index_dir).select("c_id", "band", "bkey")
    return idx.dropDuplicates(["c_id", "band", "bkey"]) if dedup else idx


def compact_lsh_index(spark: SparkSession, index_dir: str) -> int:
    """Fold every batch partition (including any previous base) into ONE
    new base partition with one file per band, then drop the folded
    directories. Returns the number of directories folded in.

    Sequencing makes every crash window safe:

    1. write the full dedup'd snapshot to a hidden ``.compacting`` dir
       (hidden ⇒ invisible to Spark's file listing — readers never see a
       half-written snapshot; a stale one from a crash is removed first);
    2. atomically rename it to ``batch=<next base id>`` (base ids count
       down from -1 so a new base never collides with a replayed
       micro-batch id or the previous base);
    3. delete the folded directories.

    A crash before (2) changes nothing; between (2) and (3) the index
    holds duplicates, which the query path dedups (see module
    docstring) — there is no window where rows are missing."""
    root = Path(index_dir)
    tmp = root / ".compacting"
    if tmp.exists():
        shutil.rmtree(tmp)  # leftover from a previous crash; re-derivable
    batch_dirs = [d for d in root.iterdir() if d.is_dir() and d.name.startswith("batch=")]
    if len(batch_dirs) <= 1:
        return 0  # already compact
    batch_ids = [int(d.name.split("=", 1)[1]) for d in batch_dirs]
    new_base = min(BASE_BATCH_ID, min(batch_ids) - 1)

    idx = read_index(spark, index_dir, dedup=True).localCheckpoint(eager=True)
    n_bands = max(idx.select("band").distinct().count(), 1)
    # File count scales with rows (bounded-size files at 100 TB, one
    # file per band dir at test scale); repartitionByRange keeps a
    # global (band, bkey) sort so every file covers a contiguous bkey
    # range — tight min/max stats for the pruned query scan, plus the
    # bloom every write carries. The checkpoint severs lineage from the
    # batch dirs deleted below (same hazard the dedup index fixed).
    n_files = max(n_bands, math.ceil(idx.count() / 4_000_000))
    shaped = (
        # exactly one file per band dir while a band fits in one file;
        # range-split past that (ranges then subdivide within bands)
        idx.repartition(n_bands, "band")
        if n_files <= n_bands
        else idx.repartitionByRange(n_files, "band", "bkey")
    )
    w = shaped.sortWithinPartitions("band", "bkey").write.mode("overwrite")
    for key, v in _WRITE_OPTS.items():
        w = w.option(key, v)
    w.partitionBy("band").parquet(str(tmp))
    tmp.rename(root / f"batch={new_base}")
    for d in batch_dirs:
        shutil.rmtree(d)
    return len(batch_dirs)


def ann_query_over_index(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    nbits: int = 56,
    bands: int = 8,
    seed: int = 42,
    probe: int = 1,
    scan_prune_max_keys: int = 2048,
) -> DataFrame:
    """Top-k ANN against the incrementally-built index: identical
    semantics to ``lsh_ann_topk`` at the same operating point — the index
    scan replaces the corpus-side signature pass.

    The index scan is PRUNED to the probed buckets (round 5): the query
    set is bounded by the API contract, so its (band, bkey) keys are
    collected and pushed per band — ``band`` is a partition column
    (whole-directory pruning) and the per-band bkey-IN filter skips row
    groups via the sorted-by-bkey layout + bloom every write carries.
    At nbits=56/bands=8 a radius-1 probe touches ≤ 8 of 128 buckets per
    band (~6% of the index) regardless of index size. Falls back to the
    full scan when the key set exceeds ``scan_prune_max_keys`` (huge
    query sets amortize a full scan anyway); 0 disables."""
    cb = read_index(spark, index_dir)
    qb = lsh_band_table(
        queries, id_col, vec_col, dim, nbits, bands, seed, probe=probe, out_id="q_id"
    )
    if scan_prune_max_keys:
        qk = (
            qb.select("band", "bkey")
            .distinct()
            .limit(scan_prune_max_keys + 1)
            .collect()
        )
        if 0 < len(qk) <= scan_prune_max_keys:
            by_band: dict[int, list] = {}
            for r in qk:
                by_band.setdefault(r.band, []).append(r.bkey)
            parts = [
                _pruned_scan(cb.filter(F.col("band") == b), "bkey", ks)
                for b, ks in sorted(by_band.items())
            ]
            pruned = parts[0]
            for p in parts[1:]:
                pruned = pruned.unionByName(p)
            cb = pruned
    cand = (
        cb.join(F.broadcast(qb), ["band", "bkey"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id")
        .dropDuplicates(["q_id", "c_id"])
    )
    return rerank_candidates(cand, corpus, queries, id_col, vec_col, k)
