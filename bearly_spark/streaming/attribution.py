"""Last-touch attribution AT INGEST: credit conversions to the latest
preceding touch across micro-batch boundaries.

The batch operator (``mining.last_touch_attribution``) needs the whole
stream in one window; at ingest the only cross-batch fact a conversion
needs is "the latest touch so far per user" — a Θ(users) keyed state.
Each micro-batch:

1. reads the latest state SNAPSHOT strictly OLDER than this batch id
   (``state/batch=<id>`` holds the state AFTER batch id — reading
   ``< current`` makes replays deterministic: a crashed-and-replayed
   batch ignores the snapshot it may already have written),
2. runs the same window as the batch operator over (state-as-pseudo-
   events ∪ batch) — intra-batch touches win over carried state
   exactly as they would in one global stream,
3. writes attribution rows under ``attrib/batch=<id>`` and the new
   state under ``state/batch=<id>`` (``streaming.store`` batch writes
   — replays rewrite their own slices byte-for-byte).

Ordered ingest (ts monotone across batches — the Kafka/file-drop
shape) makes the union of per-batch outputs EQUAL the batch-mode
answer (equivalence-tested). Out-of-order arrivals degrade exactly
like every streaming attribution system: a conversion only sees
touches that ARRIVED before it.

Scale: per batch the state read is one Θ(users) scan of the latest
snapshot partition (directory-pruned), the window shuffles only the
batch + state rows. Old snapshots are dead after a newer one exists —
prune them with any retention sweep; the lever is noted, not silent.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bearly_spark.streaming.store import drain, read_batches, write_batch


def _latest_state(
    spark: SparkSession, state_dir: str, before_batch: int, empty: DataFrame
) -> DataFrame:
    """Latest state snapshot with batch id < ``before_batch`` (empty
    frame when none — first batch, or replay of the first)."""
    df = read_batches(spark, state_dir)
    if df is None:
        return empty
    df = df.filter(F.col("batch") < int(before_batch))
    mx = df.agg(F.max("batch")).collect()[0][0]
    if mx is None:
        return empty
    return df.filter(F.col("batch") == mx).drop("batch")


def streaming_attribution(
    data,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    touch_types: tuple[str, ...] = ("view", "click"),
    conversion_type: str = "purchase",
):
    """Start the at-ingest attribution stream (availableNow trigger).

    Layout under ``out_dir``: ``attrib/batch=<id>`` (one row per
    conversion: key, ts, id, touch_type, touch_ts) and
    ``state/batch=<id>`` (one row per key: latest touch so far)."""
    attrib_dir = f"{out_dir}/attrib"
    state_dir = f"{out_dir}/state"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        empty_state = batch_df.select(
            F.col(key_col),
            F.col(type_col).alias("touch_type"),
            F.col(ts_col).alias("touch_ts"),
        ).limit(0)
        state = _latest_state(spark, state_dir, int(batch_id), empty_state)

        # state rows become pseudo-events that sort BEFORE every real
        # event of this batch (ordered ingest ⇒ stored touch_ts <= all
        # batch ts; the NULL id tie-break keeps them first on equality)
        pseudo = state.select(
            F.col(key_col),
            F.col("touch_ts").alias(ts_col),
            F.lit(None).cast(batch_df.schema[id_col].dataType).alias(id_col),
            F.col("touch_type").alias(type_col),
        )
        events = batch_df.select(key_col, ts_col, id_col, type_col).unionByName(
            pseudo
        )
        w = (
            Window.partitionBy(key_col)
            .orderBy(F.asc(ts_col), F.asc_nulls_first(id_col))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        is_touch = F.col(type_col).isin(list(touch_types))
        attributed = (
            events.select(
                key_col,
                ts_col,
                id_col,
                type_col,
                F.last(F.when(is_touch, F.col(type_col)), ignorenulls=True)
                .over(w)
                .alias("touch_type"),
                F.last(F.when(is_touch, F.col(ts_col)), ignorenulls=True)
                .over(w)
                .alias("touch_ts"),
            )
            .where(F.col(type_col) == conversion_type)
            .drop(type_col)
        )
        write_batch(attributed.coalesce(1), batch_id, attrib_dir)

        # new state: latest touch per key over (old state ∪ batch touches)
        touches = batch_df.where(is_touch).select(
            F.col(key_col),
            F.col(type_col).alias("touch_type"),
            F.col(ts_col).alias("touch_ts"),
        )
        wl = Window.partitionBy(key_col).orderBy(
            F.desc("touch_ts"), F.desc_nulls_last("touch_type")
        )
        new_state = (
            state.unionByName(touches)
            .withColumn("rn", F.row_number().over(wl))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        write_batch(new_state.coalesce(1), batch_id, state_dir)

    return drain(data, checkpoint_dir, process)
