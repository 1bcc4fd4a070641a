"""Count-min sketch AT INGEST: incremental frequency summarization.

The batch face is ``sketches.cms_build`` / ``cms_estimate``; a pipeline
that ingests continuously (event firehose, crawl frontier) wants the
sketch MAINTAINED as data arrives, not rebuilt per question. CMS makes
this trivial mathematically — counters are additive, so a stream's
sketch is the elementwise SUM of its batches' sketches — but
at-least-once replay (``foreachBatch``'s contract) would double-count
a replayed batch into any in-place total. This module therefore stores
each batch's DELTA counter table under ``sketch/batch=<id>/`` with
dynamic partition overwrite (the ``dedup_index``/``ann_index`` replay
rule): re-processing a batch overwrites its own partition with
identical rows, and the read-side fold sums partitions — idempotent
with NO batch-id bookkeeping in the data itself.

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
    (dynamic partition overwrite → replay-idempotent)."""
    delta = cms_build(batch_df, key_col, depth, width).withColumn(
        "batch", F.lit(int(batch_id))
    )
    (
        delta.coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(f"{index_dir}/sketch")
    )


def read_cms(spark: SparkSession, index_dir: str) -> DataFrame:
    """The current sketch: elementwise sum of all batch deltas —
    exactly ``cms_build`` of everything ingested so far (additivity is
    the CMS contract that makes the streaming form lossless)."""
    return (
        read_parquet(spark, f"{index_dir}/sketch")
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def compact_cms_index(spark: SparkSession, index_dir: str) -> None:
    """Collapse the batch-delta history to a single folded partition
    (``batch=0``): read-side cost returns to Θ(d·w). The folded frame
    is localCheckpointed BEFORE the delete+rewrite so its lineage
    cannot reference the directories being replaced (the
    ``compact_dedup_index`` lesson)."""
    import shutil
    from pathlib import Path

    folded = read_cms(spark, index_dir).localCheckpoint(eager=True)
    root = Path(index_dir) / "sketch"
    for d in root.glob("batch=*"):
        shutil.rmtree(d, ignore_errors=True)
    (
        folded.withColumn("batch", F.lit(0))
        .coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(str(root))
    )


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

    return (
        df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


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
    under ``bloom/batch=<id>`` (dynamic partition overwrite →
    replay-idempotent); the read-side DISTINCT over partitions IS the
    batch-built filter because bit-OR, like counter addition, is
    associative and idempotent."""
    from bearly_spark.operators.sketches import bloom_build

    delta = bloom_build(batch_df, key_col, m_bits, k_hashes).withColumn(
        "batch", F.lit(int(batch_id))
    )
    (
        delta.coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(f"{index_dir}/bloom")
    )


def read_bloom(spark: SparkSession, index_dir: str) -> DataFrame:
    """The current filter: distinct set bits across all batch deltas."""
    return read_parquet(spark, f"{index_dir}/bloom").select("bit").distinct()
