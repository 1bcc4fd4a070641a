"""Count-min sketch AT INGEST: incremental frequency summarization.

The batch face is ``sketches.cms_build`` / ``cms_estimate``; a pipeline
that ingests continuously (event firehose, crawl frontier) wants the
sketch MAINTAINED as data arrives, not rebuilt per question. CMS makes
this trivial mathematically — counters are additive, so a stream's
sketch is the elementwise SUM of its batches' sketches — but
at-least-once replay would double-count a replayed batch into any
in-place total. So each batch's DELTA counter table is a batch
partition of the ``sketch/`` store dataset (``streaming.store``): a
replay overwrites its own partition with identical rows, and the
read-side fold sums partitions. Summing is also why this reader, unlike
the deduping index readers, relies on the store skipping the partitions
a compacted base has already folded.

Scale posture: each delta is Θ(depth·width) rows regardless of batch
size (that bound is the sketch's reason to exist); the read-side fold
is Θ(batches·depth·width) and :func:`compact_cms_index` collapses
history back to one Θ(depth·width) partition when batch count grows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from bearly_spark.operators.sketches import cms_build
from bearly_spark.sources.tables import read_parquet
from bearly_spark.streaming.store import (
    Dataset,
    compact,
    drain,
    read_batches,
    write_batch,
)


def _sum_counters(deltas: DataFrame) -> DataFrame:
    return deltas.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


_SKETCH = Dataset(
    "sketch",
    lambda read, _: _sum_counters(read()),
    order=("row", "bucket"),
    sort=False,
)


def upsert_cms_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> None:
    """Fold one micro-batch into the sketch store: the batch's own
    Θ(d·w) delta counter table lands under ``sketch/batch=<id>``
    (replay-idempotent)."""
    _SKETCH.write(
        cms_build(batch_df, key_col, depth, width).coalesce(1), batch_id, index_dir
    )


def read_cms(spark: SparkSession, index_dir: str) -> DataFrame:
    """The current sketch: elementwise sum of all live batch deltas —
    exactly ``cms_build`` of everything ingested so far (additivity is
    the CMS contract that makes the streaming form lossless)."""
    empty = spark.createDataFrame([], "row int, bucket int, cnt long")
    return _sum_counters(read_batches(spark, _SKETCH.path(index_dir), empty))


def compact_cms_index(spark: SparkSession, index_dir: str) -> None:
    """Collapse the batch-delta history to a single base partition
    (``store.compact``): read-side cost returns to Θ(d·w)."""
    compact(spark, index_dir, [_SKETCH])


def cms_ingest_stream(
    df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> StreamingQuery:
    """Start the sketch-maintenance stream (availableNow drain)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            upsert_cms_batch(batch_df, batch_id, index_dir, key_col, depth, width)

    return drain(df, checkpoint_dir, process)


def upsert_bloom_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    key_col: str,
    m_bits: int = 8192,
    k_hashes: int = 4,
) -> None:
    """Bloom-filter maintenance AT INGEST — the set-union sibling of
    the CMS counter sum: each batch's set-bit table (≤ m rows) lands
    under ``bloom/batch=<id>`` (replay-idempotent); the read-side
    DISTINCT over partitions IS the batch-built filter because bit-OR,
    like counter addition, is associative and idempotent."""
    from bearly_spark.operators.sketches import bloom_build

    write_batch(
        bloom_build(batch_df, key_col, m_bits, k_hashes).coalesce(1),
        batch_id,
        f"{index_dir}/bloom",
    )


def read_bloom(spark: SparkSession, index_dir: str) -> DataFrame:
    """The current filter: distinct set bits across all batch deltas."""
    return read_parquet(spark, f"{index_dir}/bloom").select("bit").distinct()
