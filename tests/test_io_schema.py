"""io.read_parquet takes the schema from the parquet footer on the driver:
the DataFrame it builds must have the schema and rows of
``spark.read.parquet`` (which infers it with a Spark job), and building it
must run no job."""

from __future__ import annotations

import datetime as dt
import decimal
import os
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from gmall_flink_230422_spark.io import TABLES, load_table, read_parquet

ROOT = Path(__file__).resolve().parent.parent
TIERS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")


def _checksum(df):
    return df.select(
        F.count("*"), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
    ).first()


def _assert_same(spark, path, rows=_checksum):
    ours, inferred = read_parquet(spark, path), spark.read.parquet(path)
    assert ours.schema == inferred.schema, path
    assert rows(ours) == rows(inferred), path


def _sorted_rows(df):
    return sorted(map(repr, df.collect()))


@pytest.fixture
def conf(spark):
    """Set session confs for one test, restoring them afterwards."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


@pytest.mark.parametrize("tier", TIERS)
def test_fixture_tables(spark, tier):
    for name in TABLES:
        _assert_same(spark, os.path.join(tier, f"{name}.parquet"))


def test_perfbench_tables(spark, tmp_path):
    sys.path.insert(0, str(ROOT / "perfbench"))
    import datagen

    datagen.write_tables(str(tmp_path), seed=3, scale=0.05)
    names = sorted(p.name for p in tmp_path.glob("*.parquet"))
    assert len(names) == 9
    for name in names:
        _assert_same(spark, str(tmp_path / name))


def test_spark_written_directory(spark, tmp_path):
    df = spark.sql(
        """SELECT id,
                  TIMESTAMP '2024-03-01 10:00:00' + make_interval(0, 0, 0, 0, id) AS ltz,
                  TIMESTAMP_NTZ '2024-03-01 10:00:00' AS ntz,
                  array(id, id + 1) AS arr,
                  map(CAST(id AS STRING), id * 2) AS m,
                  named_struct('a', id, 'b', CAST(id AS STRING)) AS st,
                  CAST(id / 7 AS DECIMAL(12, 3)) AS dec,
                  DATE '2024-01-31' + CAST(id AS INT) AS d
           FROM range(40)"""
    )
    path = str(tmp_path / "spark_dir")
    df.repartition(3).write.parquet(path)
    assert len([n for n in os.listdir(path) if n.endswith(".parquet")]) == 3
    _assert_same(spark, path, rows=_sorted_rows)
    assert dict(read_parquet(spark, path).dtypes)["ntz"] == "timestamp_ntz"


def test_partitioned_tree(spark, tmp_path):
    """A drain-style ``batch_id=N`` tree. The files differ in columns, so the
    schema tells which footer was read: Spark's is the first data file in
    sorted path order (batch_id=10 before batch_id=2)."""
    path = str(tmp_path / "out")
    for i in range(2, 12):
        batch = spark.range(i * 5, i * 5 + 5).withColumn("v", F.col("id") * 3)
        if i == 10:
            batch = batch.withColumn("extra", F.lit("x"))
        batch.write.parquet(os.path.join(path, f"batch_id={i}"))
    open(os.path.join(path, "_SUCCESS"), "w").close()
    _assert_same(spark, path, rows=_sorted_rows)
    assert read_parquet(spark, path).columns == ["id", "v", "extra", "batch_id"]


def test_pyarrow_timestamps(spark, tmp_path, conf):
    """Non-Spark files follow Spark's parquet type mapping under the
    timestamp confs: naive micros read as ntz (or ltz with NTZ inference
    off), nanos read as bigint under nanosAsLong."""
    path = str(tmp_path / "ts.parquet")
    stamps = [dt.datetime(2024, 1, 1, 0, 0, 0, 123456), None]
    pq.write_table(
        pa.table(
            {
                "ns": pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns")),
                "us": pa.array(stamps, pa.timestamp("us")),
                "utc": pa.array(stamps, pa.timestamp("us", tz="UTC")),
                "dec": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(9, 2)),
                "tags": pa.array([["a"], []], pa.list_(pa.string())),
            }
        ),
        path,
    )
    for ntz in ("true", "false"):
        conf("spark.sql.parquet.inferTimestampNTZ.enabled", ntz)
        conf("spark.sql.legacy.parquet.nanosAsLong", "true")
        _assert_same(spark, path, rows=_sorted_rows)
        types = dict(read_parquet(spark, path).dtypes)
        assert types["ns"] == "bigint"
        assert types["us"] == ("timestamp_ntz" if ntz == "true" else "timestamp")
    conf("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(Exception, match="TIMESTAMP.*NANOS"):
        spark.read.parquet(path)
    with pytest.raises(Exception, match="TIMESTAMP.*NANOS"):
        read_parquet(spark, path)


def test_missing_and_empty_paths_fail(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_parquet(spark, str(tmp_path / "absent"))
    (tmp_path / "empty").mkdir()
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        read_parquet(spark, str(tmp_path / "empty"))


@pytest.mark.parametrize("tier", TIERS)
def test_load_table_runs_no_job(spark, tier):
    sc = spark.sparkContext
    group = f"load_table:{tier}"
    sc.setJobGroup(group, group)
    try:
        frames = [load_table(spark, tier, name) for name in TABLES]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert dict(frames[TABLES.index("events")].dtypes)["ts"] == "timestamp"
