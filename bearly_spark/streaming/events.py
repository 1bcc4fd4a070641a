"""Structured Streaming operators over the events fixture.

The reference has no streaming runtime at all (SURVEY §2.2) — its "stream"
is an Arrow chunk iterator. This module supplies the unbounded-stream
surface a production events pipeline needs: file-source ingestion,
watermarked tumbling/sliding/session windows, and a custom stateful
operator via ``applyInPandasWithState``.

Every windowed transform here is also runnable in batch mode (pass a batch
DataFrame) — the tests exercise stream mode with ``trigger(availableNow)``
and assert equality against the batch run of the same transform, which is
exactly the incremental-execution guarantee Structured Streaming makes.

Scale: file-source streaming shards by file; state (windows, sessions) is
partitioned by group key in the state store; watermarks bound state size —
without one, a 100 TB backfill would accrete unbounded window state.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bearly_spark.session import apply_runtime_confs
from bearly_spark.sources.tables import normalize_events_ts, read_parquet

#: Canonical post-normalization schema: ``ts`` is int64 epoch-nanos.
#: (Used by tests that synthesize their own micro-batch files; the
#: on-disk fixture may instead store ts as TIMESTAMP(MICROS) — the file
#: stream infers the directory's actual schema and normalizes.)
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded read of the events directory with a proper event-time
    column ``ts_ts`` (µs truncation of the stored nanos).

    File streams need an explicit schema; rather than hard-coding one we
    read it off the files already present (a batch-scan footer peek, no
    data read), so both fixture generations — ts as TIMESTAMP(NANOS)
    (long via nanosAsLong) and ts as TIMESTAMP(MICROS) — stream
    correctly, normalized to the int64-nanos contract either way.

    A directory with no files yet (a stream started before its producer)
    has nothing to infer from — the batch peek throws — so we fall back
    to :data:`EVENTS_SCHEMA`, the canonical int64-nanos contract, and the
    stream starts empty and picks up files as they land."""
    apply_runtime_confs(spark)
    try:
        schema = read_parquet(spark, sf_dir).schema
    except Exception:  # empty dir / no parquet footers yet (AnalysisException)
        schema = EVENTS_SCHEMA
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{sf_dir}")
    )
    raw = normalize_events_ts(raw)
    return raw.withColumn("ts_ts", F.timestamp_micros(F.expr("ts DIV 1000")))


def _with_event_time(df: DataFrame) -> DataFrame:
    return (
        df
        if "ts_ts" in df.columns
        else df.withColumn("ts_ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    )


def tumbling_window_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Per-(window, event_type) count + value sum; watermark bounds state
    and drops late rows beyond ``watermark``."""
    ev = _with_event_time(events)
    if ev.isStreaming:
        ev = ev.withWatermark("ts_ts", watermark)
    return (
        ev.groupBy(F.window("ts_ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    ev = _with_event_time(events)
    if ev.isStreaming:
        ev = ev.withWatermark("ts_ts", watermark)
    return (
        ev.groupBy(F.window("ts_ts", window, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "n_events")
    )


def session_window_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows with a ``gap`` inactivity timeout
    (``F.session_window`` — dynamic, data-driven window bounds)."""
    ev = _with_event_time(events)
    if ev.isStreaming:
        ev = ev.withWatermark("ts_ts", watermark)
    return (
        ev.groupBy(F.session_window("ts_ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stateful_user_stats_v2(events: DataFrame) -> DataFrame:
    """Per-user running (count, value-sum) via ``transformWithStateInPandas``
    — the Spark 4 arbitrary-stateful API (successor to
    ``applyInPandasWithState``): an explicit ``StatefulProcessor`` holding a
    typed ``ValueState`` in the (RocksDB) state store. Requires
    ``spark.sql.streaming.stateStore.providerClass`` =
    ``RocksDBStateStoreProvider`` on the session, and the python-side
    ``protobuf`` package (the API's state-server wire protocol) — absent
    that, use :func:`stateful_running_max` (applyInPandasWithState)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    class UserStats(StatefulProcessor):
        def init(self, handle):
            self._state = handle.getValueState("stats", "n_seen long, total double")

        def handleInputRows(self, key, rows, timerValues):
            prior = self._state.get()
            n_seen, total = (prior[0], prior[1]) if prior is not None else (0, 0.0)
            for pdf in rows:
                n_seen += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n_seen, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_seen": [n_seen], "total": [round(total, 2)]}
            )

        def close(self):
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType="user_id long, n_seen long, total double",
        outputMode="Update",
        timeMode="None",
    )


def stream_stream_interval_join(
    purchases: DataFrame,
    follows: DataFrame,
    window_seconds: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to same-user events
    in the ``(p_ts, p_ts + window]`` interval.

    Both sides carry watermarks plus the time-bound join condition, which
    is what lets the state store evict: a buffered left row can be dropped
    once the right watermark passes ``p_ts + window``, and vice versa —
    without the bound, stream-stream join state grows forever. Works
    identically on batch inputs (watermarks skipped), so the batch run is
    the correctness twin.
    """
    p = purchases.select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts_ts").alias("p_ts"),
    )
    f = follows.select(
        F.col("event_id").alias("f_id"),
        F.col("user_id").alias("f_user"),
        F.col("ts_ts").alias("f_ts"),
        F.col("event_type").alias("f_type"),
    )
    if p.isStreaming:
        p = p.withWatermark("p_ts", watermark)
    if f.isStreaming:
        f = f.withWatermark("f_ts", watermark)
    cond = (
        (F.col("p_user") == F.col("f_user"))
        & (F.col("f_ts") > F.col("p_ts"))
        & (F.col("f_ts") <= F.col("p_ts") + F.expr(f"interval {window_seconds} seconds"))
    )
    return p.join(f, cond, "inner").select("p_id", "f_id", "f_type", "p_ts", "f_ts")


def streaming_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once-per-key dedup on an unbounded stream:
    ``dropDuplicatesWithinWatermark`` keeps one row per ``event_id`` and
    evicts seen-key state once the watermark passes — bounded memory, the
    streaming twin of batch ``dropDuplicates`` (which it falls back to on a
    batch input). The first step of every streaming ingestion pipeline
    whose upstream is at-least-once (Kafka, file redelivery)."""
    ev = _with_event_time(events)
    if ev.isStreaming:
        ev = ev.withWatermark("ts_ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    else:
        ev = ev.dropDuplicates(["event_id"])
    return ev.select("event_id", "user_id", "event_type", "ts_ts")


def stateful_running_max(events: DataFrame, timeout_ms: int = 60_000) -> DataFrame:
    """Custom stateful operator: per-user running max(value) maintained in
    the state store via ``applyInPandasWithState`` — the escape hatch for
    semantics the built-in windows can't express."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id long, running_max double, n_seen long"
    state_schema = "running_max double, n_seen long"

    def update(key, pdfs, state: GroupState):
        running_max, n_seen = state.get if state.exists else (float("-inf"), 0)
        for pdf in pdfs:
            if len(pdf):
                running_max = max(running_max, float(pdf["value"].max()))
                n_seen += len(pdf)
        state.update((running_max, n_seen))
        yield pd.DataFrame(
            {"user_id": [key[0]], "running_max": [running_max], "n_seen": [n_seen]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
