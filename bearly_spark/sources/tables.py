"""Parquet sources for the driver fixture tables (TESTDATA.md).

All tables are plain parquet scans — Catalyst pushes filters and prunes
columns into the scan (verify with ``df.explain``: ``PushedFilters`` /
``ReadSchema``).  At 100 TB the same code path applies; the only knobs that
change are ``spark.sql.files.maxPartitionBytes`` and the partition layout
of the table directory.

Every parquet read in the package goes through :func:`read_parquet`, which
infers a source's schema once per file signature instead of once per read.

Special case: ``events.ts``. The driver fixture has shipped it both as
parquet ``TIMESTAMP(NANOS)`` (which Spark 4 can only read as raw int64 via
``spark.sql.legacy.parquet.nanosAsLong``) and as ``TIMESTAMP(MICROS)``
(a real Spark timestamp). ``load_table`` normalizes either representation
to the engine-wide contract: **``ts`` is int64 epoch-nanoseconds** (UTC).
Integer bucket math on the raw nanos is both exact and cheaper than
timestamp arithmetic, so batch window queries use the long directly;
``events_with_timestamp`` derives a real timestamp column when one is
needed. DuckDB oracles use ``epoch_ns(ts)``, which yields the same nanos
for either on-disk representation.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType

from bearly_spark.cache import memo
from bearly_spark.session import apply_runtime_confs

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Most delta keys a key join broadcasts (:func:`broadcast_keys`).
BROADCAST_KEYS_MAX = 4_000_000

#: Every session conf that Spark 4.1's parquet schema inference reads:
#: footer conversion (the first six), footer choice and schema merge (the
#: next four) and partition discovery (the last five; ``caseSensitive``
#: also serves it). An unchanged file set with equal values of these has
#: the same inferred schema.
PARQUET_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.sources.validatePartitionColumns",
    "spark.sql.files.ignoreInvalidPartitionPaths",
    "spark.sql.session.timeZone",
    "spark.sql.timestampType",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job on a
    repeat read. The inferred schema is memoized on the source's file
    signature plus :data:`PARQUET_SCHEMA_CONFS` and handed back to the
    reader, which then plans without touching a footer. A miss is the
    plain read: a missing path or an empty directory raises exactly its
    ``AnalysisException``, and nothing is stored."""
    inferred = []

    def infer():
        inferred.append(spark.read.parquet(path))
        return inferred[0].schema

    confs = tuple(spark.conf.get(k) for k in PARQUET_SCHEMA_CONFS)
    schema = memo([path], ("parquet-schema", confs), infer)
    return inferred[0] if inferred else spark.read.schema(schema).parquet(path)


def broadcast_keys(keys: DataFrame) -> DataFrame:
    """The key side of a MERGE's key join, broadcast while it is small.
    ``keys`` is pinned (a lazy ``localCheckpoint``, so the count and the
    joins after it read it once) and counted once; it broadcasts while
    it holds at most :data:`BROADCAST_KEYS_MAX` rows (read at call time).
    A bulk delta past that takes a shuffle join instead of an oversized
    driver broadcast."""
    keys = keys.localCheckpoint(eager=False)
    return F.broadcast(keys) if keys.count() <= BROADCAST_KEYS_MAX else keys


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Coerce an events frame's ``ts`` to int64 epoch-nanos in place
    (column order preserved). Timestamp columns (the TIMESTAMP(MICROS)
    fixture) convert exactly via ``unix_micros * 1000``; long columns
    (the TIMESTAMP(NANOS)+nanosAsLong fixture) pass through untouched."""
    if "ts" not in df.columns or isinstance(df.schema["ts"].dataType, LongType):
        return df
    return df.withColumn(
        "ts", (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast("long")
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. For ``events``, ``ts`` is int64 epoch-nanos."""
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    apply_runtime_confs(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def events_with_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts_ts`` = proper timestamp column (microsecond
    truncation of the stored nanoseconds; session tz is UTC)."""
    ev = load_table(spark, sf_dir, "events")
    # Integer division, not `/ 1000`: double division of epoch-nanos (~2^60)
    # carries ~0.125 absolute rounding error, enough to push an event within
    # ~1us of a window boundary into the wrong window.
    return ev.withColumn("ts_ts", F.timestamp_micros(F.expr("ts DIV 1000")))
