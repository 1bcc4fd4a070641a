"""Incrementally-maintained LSH ANN index over a vector stream.

This is the concrete backing for "LSH is the streaming-friendly ANN
fallback" (registry `embedding_ann_lsh` docstring): hyperplane band keys
are a pure function of the vector and a fixed seed — no centroids, no
corpus pass — so a micro-batch can be indexed the moment it arrives.
IVF (the batch-scale default) cannot do this without periodically
re-fitting and re-assigning against a global k-means model.

Layout (``streaming.store`` holds the replay, compaction and crash-window
rules): the index is one dataset of (c_id, bkey) rows partitioned by
``(batch, band)``, so a query probing band b prunes the other bands'
files. The vectors themselves stay in the stream's own sink (any store
keyed by id); the index holds only (id, band, bkey) — the same "only
ids travel through the blocking structures" rule as the batch paths.
Queries run the standard candidate-join + exact rerank against the
index as of the last committed batch, and dedup candidate (q_id, c_id)
pairs, so index-row duplicates (the compaction crash window) are
harmless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from bearly_spark.operators.similarity import lsh_band_table, rerank_candidates
from bearly_spark.sources.tables import read_parquet
from bearly_spark.streaming.store import Dataset, compact, distinct, drain, pruned_scan

import pyspark.sql.functions as F

#: The band index. The bloom filter on the band key lets a query's
#: pushed bkey-IN filter skip row groups even in unsorted per-batch
#: dirs (compaction additionally sorts by bkey so min/max stats prune
#: too) — the same layout contract as the dedup index's bands dataset.
_INDEX = Dataset(
    "",
    distinct(("c_id", "band", "bkey")),
    parts=("batch", "band"),
    order=("bkey",),
    opts={"parquet.bloom.filter.enabled#bkey": "true"},
)


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
    """Idempotently write one micro-batch's band rows: a replay
    rewrites exactly its own ``batch=<batch_id>/band=*`` slice, one
    file per band dir. Exposed at module level so tests can simulate a
    replay directly."""
    _INDEX.write(
        lsh_band_table(batch_df, id_col, vec_col, dim, nbits, bands, seed)
        .repartition(bands, "band")
        .sortWithinPartitions("band", "bkey"),
        batch_id,
        index_dir,
    )


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
    the parquet index at ``index_dir`` (idempotent per batch).

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

    return drain(vectors, checkpoint_dir, upsert)


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
    new base partition with one file per band while a band fits in one
    file (``store.compact``), then drop the folded directories. Returns
    the number of directories folded in."""
    return compact(spark, index_dir, [_INDEX])


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
                pruned_scan(cb.filter(F.col("band") == b), "bkey", ks)
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
