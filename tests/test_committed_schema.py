"""ParquetTable reads every version with the schema its `_commit.json`
recorded: Spark launches no schema-inference job, and the frame equals
an inferred `spark.read.parquet` of the same version in rows, column
order, types and nullability."""

from __future__ import annotations

import datetime as dt
import itertools

import pytest

from data_lake_skyfit_spark.operators.merge import ParquetTable

_GROUPS = itertools.count()

_SCHEMA = "id long not null, name string, amount double, ts timestamp, year int not null"


def _rows(n0: int, n: int) -> list[tuple]:
    return [
        (i, None if i % 4 == 0 else f"n{i}", i * 1.5, dt.datetime(2024, 1, 1 + i % 28), 2020 + i % 3)
        for i in range(n0, n0 + n)
    ]


def _read_jobs(spark, table: ParquetTable):
    """`table.read` and the Spark jobs it launched (by job group)."""
    sc = spark.sparkContext
    group = f"committed-schema-read-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        df = table.read(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_same(df, inferred) -> None:
    assert [(f.name, f.dataType, f.nullable) for f in df.schema] == [
        (f.name, f.dataType, f.nullable) for f in inferred.schema
    ]

    def key(r):
        return tuple(str(v) for v in r)

    assert sorted(df.collect(), key=key) == sorted(inferred.collect(), key=key)


@pytest.mark.parametrize("partition_by", [(), ("year",)], ids=["unpartitioned", "partitioned"])
def test_read_uses_committed_schema(spark, tmp_path, partition_by):
    t = ParquetTable(str(tmp_path / "t"), ["id"], partition_by)
    t.merge(spark.createDataFrame(_rows(0, 20), _SCHEMA))
    t.merge(spark.createDataFrame(_rows(15, 10), _SCHEMA))
    df, jobs = _read_jobs(spark, t)
    assert jobs == 0
    _assert_same(df, spark.read.parquet(t.path))
    if partition_by:
        assert df.columns[-1] == "year"


def test_read_after_merge_that_adds_a_column(spark, tmp_path):
    t = ParquetTable(str(tmp_path / "t"), ["id"])
    t.merge(spark.createDataFrame(_rows(0, 20), _SCHEMA))
    wider = spark.createDataFrame(
        [r + (f"e{r[0]}",) for r in _rows(10, 15)], _SCHEMA + ", extra string"
    )
    t.merge(wider)  # align_schemas: old rows get extra = NULL
    df, jobs = _read_jobs(spark, t)
    assert jobs == 0
    assert df.columns[-1] == "extra"
    _assert_same(df, spark.read.parquet(t.path))
    assert df.filter("extra IS NULL").count() == 10
