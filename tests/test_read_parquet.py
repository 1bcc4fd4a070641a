"""``read_parquet``: the parquet schema memoized on the source's file
signature and the inference confs. A repeat read launches no Spark job;
anything the inferred schema depends on (the files, the confs) misses."""

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from bearly_spark import cache
from bearly_spark.session import apply_runtime_confs
from bearly_spark.sources.tables import TABLE_NAMES, read_parquet

_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn launched)``, counted through a job
    group and the status tracker."""
    sc = spark.sparkContext
    group = f"read-parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _error(fn):
    with pytest.raises(AnalysisException) as e:
        fn()
    return e.value.getCondition(), str(e.value)


def _schema_entries(path):
    path = os.path.abspath(path)
    return [k for k in cache._MEMO if k[0][0] == "parquet-schema" and k[1] == (path,)]


def test_repeat_read_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(10).selectExpr("id", "cast(id as string) AS s").write.parquet(path)
    first, first_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    again, again_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert first_jobs >= 1  # the miss infers the schema with a job
    assert again_jobs == 0
    assert again.schema == first.schema == spark.read.parquet(path).schema
    assert sorted(again.collect()) == sorted(spark.read.parquet(path).collect())


def test_partitioned_directory_hit_matches_plain_read(spark, tmp_path):
    """Index directories are partitioned (``cell=``/``batch=``): a hit
    keeps the partition columns, their types and their order."""
    path = str(tmp_path / "p")
    spark.range(12).selectExpr(
        "id", "cast(id % 3 AS int) AS cell", "cast(id % 2 AS int) AS batch"
    ).write.partitionBy("cell", "batch").parquet(path)
    read_parquet(spark, path)
    hit, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    plain = spark.read.parquet(path)
    assert jobs == 0
    assert hit.schema == plain.schema
    assert sorted(hit.filter("cell = 1").collect()) == sorted(plain.filter("cell = 1").collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    assert read_parquet(spark, path).columns == ["a"]
    spark.range(3).selectExpr("cast(id AS string) AS b").write.mode("overwrite").parquet(path)
    df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert df.schema == spark.read.parquet(path).schema
    assert df.columns == ["b"]
    assert len(_schema_entries(path)) == 1  # the new generation replaced the old


def test_missing_path_and_empty_directory_raise_like_the_plain_read(spark, tmp_path):
    missing = str(tmp_path / "missing")
    assert _error(lambda: read_parquet(spark, missing)) == _error(
        lambda: spark.read.parquet(missing)
    )
    empty = tmp_path / "empty"
    empty.mkdir()
    got = _error(lambda: read_parquet(spark, str(empty)))
    assert got == _error(lambda: spark.read.parquet(str(empty)))
    assert got[0] == "UNABLE_TO_INFER_SCHEMA"
    assert not _schema_entries(missing) and not _schema_entries(str(empty))
    # nothing was stored: the directory reads once a file lands in it
    spark.range(2).write.mode("overwrite").parquet(str(empty))
    assert read_parquet(spark, str(empty)).count() == 2


def test_nanos_as_long_is_part_of_the_key(spark, tmp_path):
    """TIMESTAMP(NANOS) reads as a long only under ``nanosAsLong``;
    flipping the conf must not serve the long schema memoized under
    the other value."""
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), path)
    try:
        spark.conf.set(_NANOS, "true")
        assert read_parquet(spark, path).schema["ts"].dataType.typeName() == "long"
        spark.conf.set(_NANOS, "false")
        got = _error(lambda: read_parquet(spark, path))
        assert got == _error(lambda: spark.read.parquet(path))
        assert got[0] == "PARQUET_TYPE_ILLEGAL"

        plain = str(tmp_path / "plain")
        spark.range(2).write.parquet(plain)
        read_parquet(spark, plain)
        spark.conf.set(_NANOS, "true")
        _, jobs = _jobs(spark, lambda: read_parquet(spark, plain))
        assert jobs >= 1
        assert len(_schema_entries(plain)) == 2
    finally:
        apply_runtime_confs(spark)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_fixture_schemas_match_the_plain_read(spark, sf_dir, sf):
    sf_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no {sf} fixture")
    apply_runtime_confs(spark)
    for name in TABLE_NAMES:
        path = f"{sf_dir}/{name}.parquet"
        plain = spark.read.parquet(path).schema
        assert read_parquet(spark, path).schema == plain, name  # miss or hit
        assert read_parquet(spark, path).schema == plain, name  # hit
