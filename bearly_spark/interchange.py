"""Arrow C-interface ingest/egress (reference operators O1 and O5).

The reference consumes any object exposing ``__arrow_c_stream__`` (Arrow
PyCapsule stream protocol, ``bearly_ext.cc:9-24``) and emits results as a
single-chunk Arrow stream capsule (``bearly_ext.cc:92-110``).

Spark-first mapping:
- ingest: ``pa.table(obj)`` honors ``__arrow_c_stream__``; PySpark 4's
  ``createDataFrame`` takes a ``pyarrow.Table`` directly over the
  Arrow-batch fast path (no per-row python conversion).
- egress: ``DataFrame.toArrow()`` returns a ``pyarrow.Table``, which itself
  implements ``__arrow_c_stream__`` — so any Arrow consumer (polars,
  duckdb, bearly itself) can ingest our results zero-copy on the driver.

Note on scale: this boundary is a *driver-side* interchange for interop and
tests; bulk data at 100 TB flows through ``spark.read``/``write`` (see
``bearly_spark.sources``), never through a single Arrow stream.
"""

from __future__ import annotations

from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


def from_arrow(spark: SparkSession, obj: Any) -> DataFrame:
    """Ingest any Arrow-stream-capable object as a DataFrame (O1).

    Accepts pyarrow Tables/RecordBatchReaders, polars/duckdb results — the
    same contract as ``bearly.sum``'s input (``bearly_ext.cc:10-18``).
    """
    table = obj if isinstance(obj, pa.Table) else pa.table(obj)
    return spark.createDataFrame(table)


def write_arrow_parquet(spark: SparkSession, table: pa.Table, path: str) -> None:
    """Write a small driver-held Arrow table as one parquet file under
    ``path`` (overwrite). The batches go to the JVM as Arrow, so no
    Python worker job runs, unlike ``createDataFrame`` over a row list."""
    from_arrow(spark, table).coalesce(1).write.mode("overwrite").parquet(path)


def to_arrow(df: DataFrame) -> pa.Table:
    """Egress a DataFrame as a pyarrow Table exposing ``__arrow_c_stream__``
    (O5, ``bearly_ext.cc:92-110``)."""
    return df.toArrow()


def to_arrow_capsule(df: DataFrame):
    """Egress as a raw Arrow C stream PyCapsule — the exact return shape of
    ``bearly.sum`` (``bearly_ext.cc:108-110``)."""
    return df.toArrow().__arrow_c_stream__()
