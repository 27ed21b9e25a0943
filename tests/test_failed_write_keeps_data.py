"""A write whose Spark job fails leaves every row that was committed before
it readable, in every overwrite mode of the file DataObjects: the one write
path (`SparkFileDataObject._write_replacing`) deletes, moves or empties
nothing committed before the job has committed. On success the object ends
up as the save mode says, with no staging or aside copy left behind."""

import os

import pytest
from pyspark.sql import functions as F

from smart_data_lake_spark.dataobjects import ParquetFileDataObject, ParquetTableDataObject
from smart_data_lake_spark.expectations import Constraint, apply_constraints
from smart_data_lake_spark.partitions import PartitionValues
from smart_data_lake_spark.save_modes import SaveMode

ROWS = [(1, "a"), (2, "a"), (3, "b")]


def rows_of(do, spark):
    return sorted((r["id"], r["dt"]) for r in do.get_dataframe(spark).collect())


def failing(spark, tmp_path, dt="a"):
    """Two rows of partition `dt` whose constraint fails inside the write
    job (a `raise_error` per row), read from a file so that no optimizer
    rule evaluates it before the job runs."""
    path = str(tmp_path / "src" / "failing")
    spark.range(10, 12).select(F.col("id").cast("int").alias("id"), F.lit(dt).alias("dt")).write.mode(
        "overwrite"
    ).parquet(path)
    return apply_constraints(spark.read.parquet(path), [Constraint(name="small", expression="id < 5")])


def siblings(path):
    """Entries next to `path` other than itself: staging or aside leftovers."""
    parent, name = os.path.split(path.rstrip("/"))
    return sorted(e for e in os.listdir(parent) if e != name)


@pytest.fixture
def partitioned(spark, tmp_path):
    def make(mode):
        do = ParquetFileDataObject(id="p", path=str(tmp_path / "p"), partitions=["dt"], save_mode=mode)
        do.write_dataframe(spark.createDataFrame(ROWS, "id int, dt string"), save_mode=SaveMode.OVERWRITE)
        return do

    return make


@pytest.mark.parametrize(
    "mode",
    [SaveMode.OVERWRITE, SaveMode.OVERWRITE_OPTIMIZED, SaveMode.OVERWRITE_PRESERVE_DIRECTORIES],
)
def test_failed_partition_write_keeps_committed_rows(spark, tmp_path, partitioned, mode):
    do = partitioned(mode)
    with pytest.raises(Exception, match="small"):
        do.write_dataframe(failing(spark, tmp_path), [PartitionValues.of({"dt": "a"})])
    assert rows_of(do, spark) == ROWS
    assert [p.as_dict["dt"] for p in do.list_partitions(spark)] == ["a", "b"]


def test_failed_unpartitioned_overwrite_keeps_committed_rows(spark, tmp_path):
    do = ParquetFileDataObject(id="u", path=str(tmp_path / "out" / "u"))
    do.write_dataframe(spark.createDataFrame(ROWS, "id int, dt string"))
    with pytest.raises(Exception, match="small"):
        do.write_dataframe(failing(spark, tmp_path))
    assert rows_of(do, spark) == ROWS
    assert siblings(do.path) == []  # the staging dir is gone


def test_failed_merge_rewrite_keeps_committed_rows(spark, tmp_path):
    do = ParquetTableDataObject(
        id="m", path=str(tmp_path / "out" / "m"), table={"name": "m", "primary_key": ["id"]}
    )
    do.write_dataframe(spark.createDataFrame(ROWS, "id int, dt string"), save_mode=SaveMode.OVERWRITE)
    with pytest.raises(Exception, match="small"):
        do.write_dataframe(failing(spark, tmp_path), save_mode=SaveMode.MERGE)
    assert rows_of(do, spark) == ROWS
    assert siblings(do.path) == []


def test_partition_read_modify_write_succeeds(spark, partitioned):
    """The frame reads the partition it overwrites; the job reads the old
    files before its commit replaces them."""
    do = partitioned(SaveMode.OVERWRITE)
    pvs = [PartitionValues.of({"dt": "a"})]
    df = do.get_dataframe(spark, pvs).withColumn("id", F.col("id") * 10)
    do.write_dataframe(df, pvs)
    assert rows_of(do, spark) == [(3, "b"), (10, "a"), (20, "a")]


def test_unpartitioned_read_modify_write_leaves_no_copies(spark, tmp_path):
    do = ParquetFileDataObject(id="rmw", path=str(tmp_path / "out" / "rmw"))
    do.write_dataframe(spark.createDataFrame(ROWS, "id int, dt string"))
    do.write_dataframe(do.get_dataframe(spark).withColumn("id", F.col("id") + 1))
    assert rows_of(do, spark) == [(2, "a"), (3, "a"), (4, "b")]
    assert siblings(do.path) == []


@pytest.mark.parametrize("mode", [SaveMode.OVERWRITE, SaveMode.OVERWRITE_OPTIMIZED])
def test_partial_partition_spec_replaces_the_subtree(spark, tmp_path, mode):
    """Partitions (dt, h) and partition values {dt: a}: every old partition
    under dt=a goes, the written ones hold the new rows, and no emptied
    h= directory stays behind to be listed as a partition."""
    do = ParquetFileDataObject(id="pp", path=str(tmp_path / "pp"), partitions=["dt", "h"])
    old = spark.createDataFrame([(1, "a", "0"), (2, "a", "1"), (3, "b", "0")], "id int, dt string, h string")
    do.write_dataframe(old)
    do.write_dataframe(
        spark.createDataFrame([(9, "a", "1")], "id int, dt string, h string"),
        [PartitionValues.of({"dt": "a"})],
        save_mode=mode,
    )
    got = sorted((r["id"], r["dt"], r["h"]) for r in do.get_dataframe(spark).collect())
    assert got == [(3, "b", 0), (9, "a", 1)]
    assert sorted(tuple(p.as_dict.values()) for p in do.list_partitions(spark)) == [("a", "1"), ("b", "0")]


def test_replaced_files_take_their_checksums(spark, partitioned):
    """A file the write deletes after the commit takes its `.<name>.crc`
    sidecar with it; the declared partition without rows ends up empty."""
    do = partitioned(SaveMode.OVERWRITE)
    do.write_dataframe(
        spark.createDataFrame([(7, "b")], "id int, dt string"),
        [PartitionValues.of({"dt": "a"}), PartitionValues.of({"dt": "b"})],
    )
    assert rows_of(do, spark) == [(7, "b")]
    assert os.listdir(os.path.join(do.path, "dt=a")) == []
