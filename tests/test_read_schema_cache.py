"""Reuse of a file DataObject's inferred read schema.

A read without a declared schema makes Spark infer one with a job. The
DataObject keeps the inferred schema and hands it to the reader while a
(path, size, mtime) listing of the files it was inferred from is unchanged;
these tests pin the saved jobs and that a cached read returns exactly what
inference returns.
"""

import sys
import threading

from pyspark.sql import types as T

from smart_data_lake_spark.actions import CopyAction
from smart_data_lake_spark.config import InstanceRegistry
from smart_data_lake_spark.dataobjects import CsvFileDataObject, ParquetFileDataObject, SparkFileDataObject
from smart_data_lake_spark.fs import HadoopFileSystem, LocalFileSystem
from smart_data_lake_spark.partitions import PartitionValues
from smart_data_lake_spark.subfeed import SparkSubFeed


def _jobs(spark, group, fn):
    """(Spark jobs `fn` ran, its result), counted per job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def _schema_of_read(spark, group, do, partition_values=None):
    return _jobs(spark, group, lambda: do.get_dataframe(spark, partition_values).schema)


def test_second_read_of_unchanged_files_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "2024-01-01"), (2, "2024-01-02")], "a int, dt string").write.partitionBy(
        "dt"
    ).parquet(path)
    inferred = spark.read.parquet(path).schema
    do = ParquetFileDataObject(id="t", path=path, partitions=["dt"])
    first_jobs, first = _schema_of_read(spark, f"first_{tmp_path.name}", do)
    jobs, cached = _schema_of_read(spark, f"cached_{tmp_path.name}", do)
    assert first_jobs >= 1
    assert jobs == 0
    assert first == cached == inferred
    assert cached["dt"].dataType == T.DateType()


def test_rewritten_files_are_reinferred(spark, tmp_path):
    path = str(tmp_path / "t")
    do = ParquetFileDataObject(id="t", path=path)
    spark.createDataFrame([(1, "x")], "a int, b string").write.parquet(path)
    assert do.get_dataframe(spark).columns == ["a", "b"]
    spark.createDataFrame([(1.5,)], "c double").write.mode("overwrite").parquet(path)
    assert do.get_dataframe(spark).schema == T.StructType([T.StructField("c", T.DoubleType())])


def test_full_and_pruned_reads_keep_their_own_partition_types(spark, tmp_path):
    """Partition dirs p=1, p=2, p=x: a full read infers p as string, a read
    pruned to [1, 2] as int — the cache must not share one target's schema
    with another."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "1"), (2, "2"), (3, "x")], "a int, p string").write.partitionBy("p").parquet(path)
    do = ParquetFileDataObject(id="t", path=path, partitions=["p"])
    pruned = [PartitionValues.of({"p": "1"}), PartitionValues.of({"p": "2"})]
    for attempt in range(2):
        _, full = _schema_of_read(spark, f"full{attempt}_{tmp_path.name}", do)
        jobs, part = _schema_of_read(spark, f"pruned{attempt}_{tmp_path.name}", do, pruned)
        assert full["p"].dataType == T.StringType()
        assert part["p"].dataType == T.IntegerType()
    assert jobs == 0


def test_changed_read_option_reinfers(spark, tmp_path):
    path = tmp_path / "c"
    path.mkdir()
    (path / "f.csv").write_text("x|y\n1|2\n")
    do = CsvFileDataObject(id="c", path=str(path))
    assert do.get_dataframe(spark).columns == ["_c0", "_c1"]
    do.options["header"] = "true"
    assert do.get_dataframe(spark).columns == ["x", "y"]


def test_entries_per_object_are_bounded(spark, tmp_path):
    from smart_data_lake_spark.dataobjects.file import _READ_SCHEMAS_PER_OBJECT

    path = str(tmp_path / "t")
    n = _READ_SCHEMAS_PER_OBJECT + 2
    spark.range(n).selectExpr("id", "id AS p").write.partitionBy("p").parquet(path)
    do = ParquetFileDataObject(id="t", path=path, partitions=["p"])
    for p in range(n):
        do.get_dataframe(spark, [PartitionValues.of({"p": str(p)})])
    assert len(do._read_schemas) == _READ_SCHEMAS_PER_OBJECT


def test_concurrent_reads_keep_the_bound_and_their_schemas(spark, tmp_path):
    """DAG threads read one DataObject at once: no update of the shared
    entries is lost and every read returns its own target's schema."""
    from smart_data_lake_spark.dataobjects.file import _READ_SCHEMAS_PER_OBJECT

    path = str(tmp_path / "t")
    n = _READ_SCHEMAS_PER_OBJECT + 2
    spark.range(n).selectExpr("id", "CAST(id AS STRING) AS p").write.partitionBy("p").parquet(path)
    do = ParquetFileDataObject(id="t", path=path, partitions=["p"])
    expected = do.get_dataframe(spark, [PartitionValues.of({"p": "0"})]).schema
    errors, done = [], []

    def reader(offset):
        try:
            for i in range(n):
                pv = PartitionValues.of({"p": str((i + offset) % n)})
                assert do.get_dataframe(spark, [pv]).schema == expected
            done.append(offset)
        except Exception as exc:  # noqa: BLE001 — reported by the assertion below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not errors and not any(t.is_alive() for t in threads) and len(done) == 6
    assert len(do._read_schemas) == _READ_SCHEMAS_PER_OBJECT


def test_hadoop_file_stats_match_local_file_stats(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(4).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(path)
    local, hadoop = LocalFileSystem(), HadoopFileSystem(spark, path)
    stats = sorted(local.file_stats(path))
    # Spark's .crc checksums and _SUCCESS markers are not listed
    assert stats and all(rel.startswith("p=") and rel.endswith(".parquet") for rel, _, _ in stats)
    assert sorted(hadoop.file_stats(path)) == stats
    one = f"{path}/{stats[0][0]}"
    assert list(hadoop.file_stats(one)) == list(local.file_stats(one)) == [(".", stats[0][1], stats[0][2])]
    assert list(hadoop.file_stats(f"{path}/missing")) == list(local.file_stats(f"{path}/missing")) == []


def test_changed_session_conf_reinfers(spark, tmp_path):
    """`spark.sql.orc.mergeSchema` makes the same two ORC files infer one
    column or both: a conf set between two reads re-infers."""
    path = str(tmp_path / "t")
    spark.range(1).selectExpr("id AS a").write.orc(path)
    spark.range(1).selectExpr("id AS b").write.mode("append").orc(path)
    do = SparkFileDataObject(id="t", path=path, format="orc")
    assert len(do.get_dataframe(spark).columns) == 1
    key = "spark.sql.orc.mergeSchema"
    spark.conf.set(key, "true")
    try:
        assert sorted(do.get_dataframe(spark).columns) == ["a", "b"]
    finally:
        spark.conf.unset(key)
    assert len(do.get_dataframe(spark).columns) == 1


def test_partition_column_held_in_the_files_keeps_its_position(spark, tmp_path):
    """Files that also hold their partition column: inference keeps it at its
    file position, a declared schema would put it last. The cached read
    re-infers instead of returning the reordered schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t"
    (path / "p=1").mkdir(parents=True)
    pq.write_table(pa.table({"p": [1], "v": ["a"]}), str(path / "p=1" / "f.parquet"))
    inferred = spark.read.parquet(str(path)).schema
    assert inferred.fieldNames() == ["p", "v"]
    assert spark.read.schema(inferred).parquet(str(path)).schema.fieldNames() == ["v", "p"]
    do = ParquetFileDataObject(id="t", path=str(path), partitions=["p"])
    assert do.get_dataframe(spark).schema == do.get_dataframe(spark).schema == inferred


def test_reads_over_the_listing_bounds_are_not_cached(spark, tmp_path, monkeypatch):
    """Listing more files or load paths than the bounds would cost more than
    the inference it saves: such reads infer every time."""
    from smart_data_lake_spark.dataobjects import file as file_module

    path = str(tmp_path / "t")
    spark.range(3).selectExpr("id", "id AS p").repartition(3, "p").write.partitionBy("p").parquet(path)
    do = ParquetFileDataObject(id="t", path=path, partitions=["p"])
    two = [PartitionValues.of({"p": "0"}), PartitionValues.of({"p": "1"})]
    monkeypatch.setattr(file_module, "_LISTED_FILES_MAX", 2)
    for attempt in range(2):
        assert _schema_of_read(spark, f"files{attempt}_{tmp_path.name}", do)[0] >= 1
    assert _schema_of_read(spark, f"two_{tmp_path.name}", do, two)[0] >= 1
    assert _schema_of_read(spark, f"two_cached_{tmp_path.name}", do, two)[0] == 0
    monkeypatch.setattr(file_module, "_LISTED_TARGETS_MAX", 1)
    assert _schema_of_read(spark, f"targets_{tmp_path.name}", do, two)[0] >= 1


def test_copy_action_rerun_over_unchanged_input_runs_one_job_fewer(spark, tmp_path):
    """The saving as the DAG sees it: the second exec of the same action on
    the same DataObject instances skips the input's schema inference."""
    registry = InstanceRegistry()
    registry.register_data_object(ParquetFileDataObject(id="src", path=str(tmp_path / "src")))
    registry.register_data_object(ParquetFileDataObject(id="out", path=str(tmp_path / "out")))
    spark.range(10).selectExpr("id", "id * 100 AS value").write.parquet(str(tmp_path / "src"))
    action = CopyAction(id="c", input_id="src", output_id="out", registry=registry)

    def exec_jobs(run):
        return _jobs(
            spark, f"copy{run}_{tmp_path.name}", lambda: action.exec(spark, [SparkSubFeed(data_object_id="src")])
        )[0]

    assert exec_jobs(1) - exec_jobs(2) == 1
