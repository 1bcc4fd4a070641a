"""CDC apply AT INGEST: fold a change stream into a parquet table.

The batch face of table revision is ``maintenance.merge_into``; a
pipeline that receives its revisions CONTINUOUSLY (crawl re-fetches,
takedown/opt-out deletions, upstream dimension feeds) needs the
streaming form: a change stream of ``(row..., op, ts)`` records —
``op = 'u'`` upsert, ``op = 'd'`` delete — applied to the table per
micro-batch. This module does that with one copy-on-write pass per
batch (``maintenance._cow_rewrite``): all of the batch's keys are
dropped from the table, the collapsed upsert rows are appended, only
the files containing a matched key are rewritten, and the new snapshot
replaces the table atomically.

Replay safety (``foreachBatch`` is at-least-once): applying the same
change batch twice is a NO-OP by construction — the second apply
replaces each key's row with the identical row (upserts) or deletes an
already-absent key — so no batch-id bookkeeping is needed, unlike the
append-shaped index sinks, whose idempotency comes from the
``streaming.store`` batch write instead. A crash
mid-apply is covered by the atomic snapshot swap: the table is always
exactly the pre-batch or post-batch state, never a mix.

Within a batch, several change records for one key collapse to the
LATEST by ``ts`` (ties broken on op then the row values, so the
collapse is deterministic); a delete followed by a later upsert in the
same batch therefore nets to the upsert, and vice versa — the standard
CDC compaction rule. ACROSS batches, ordering is the stream's batch
order (micro-batches apply sequentially), which is the contract every
log-shipping CDC consumer has.

Scale shape: per batch, the table is touched once — one broadcast
semi-join to find matched files, one rewrite of Θ(batch × files-per-
key-range) bytes (key-clustered layouts keep that small), zero table
shuffles. The change batch itself is delta-sized by definition.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.streaming import StreamingQuery

from bearly_spark.operators.maintenance import _cow_rewrite
from bearly_spark.streaming.store import drain


def collapse_cdc_batch(
    batch_df: DataFrame, keys: list[str], op_col: str = "op", ts_col: str = "ts"
) -> DataFrame:
    """Latest change per key (max ``ts``; deterministic tie-break on op
    then the remaining row values) — the CDC compaction rule. Returns
    the collapsed batch with its ``op``/``ts`` columns intact."""
    others = [c for c in batch_df.columns if c not in (*keys, op_col, ts_col)]
    w = Window.partitionBy(*keys).orderBy(
        F.desc(ts_col), F.desc(op_col), *[F.desc(c) for c in others]
    )
    return (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_cdc_batch(
    spark: SparkSession,
    table_path: str,
    batch_df: DataFrame,
    keys: list[str],
    op_col: str = "op",
    ts_col: str = "ts",
    partition_cols: list[str] | None = None,
) -> dict:
    """Apply one change batch to the table in ONE copy-on-write pass:
    every key mentioned in the batch is dropped from the table, and the
    collapsed upsert rows are (re-)inserted — which realizes upserts
    and deletes together. Returns the rewrite stats dict."""
    latest = collapse_cdc_batch(batch_df, keys, op_col, ts_col)
    all_keys = latest.select(*keys).dropDuplicates()
    ups = latest.filter(F.col(op_col) == "u").drop(op_col, ts_col)
    return _cow_rewrite(spark, table_path, keys, all_keys, ups, partition_cols)


def cdc_apply_stream(
    changes: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    keys: list[str],
    op_col: str = "op",
    ts_col: str = "ts",
    partition_cols: list[str] | None = None,
) -> StreamingQuery:
    """Start the CDC apply stream: per micro-batch, collapse the batch's
    change records and fold them into the parquet table at
    ``table_path``. ``availableNow`` drains the backlog and stops."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            apply_cdc_batch(
                batch_df.sparkSession,
                table_path,
                batch_df,
                keys,
                op_col,
                ts_col,
                partition_cols,
            )

    return drain(changes, checkpoint_dir, process)


def scd2_apply_stream(
    changes: DataFrame,
    history_path: str,
    checkpoint_dir: str,
    keys: list[str],
    attrs: list[str],
    change_ts_col: str = "change_ts",
    partition_cols: list[str] | None = None,
) -> StreamingQuery:
    """SCD2 maintenance AT INGEST: each micro-batch of change records is
    folded into the persisted history table through the merge-backed
    incremental apply (``maintenance.scd2_apply_table``) — Θ(delta) per
    batch, atomic snapshot swaps. Replay-safe for the same reason the
    CDC upsert is: re-applying a batch finds every change either
    matching current state (no-op filtered) or stale
    (``change_ts <= valid_from``), so the second apply changes nothing.
    Batches apply in stream order, recording one version per key per
    batch-latest change — the SCD2 contract for a change FEED."""
    from bearly_spark.operators.maintenance import scd2_apply_table

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            scd2_apply_table(
                batch_df.sparkSession,
                history_path,
                batch_df,
                keys,
                attrs,
                change_ts_col,
                partition_cols=partition_cols,
            )

    return drain(changes, checkpoint_dir, process)
