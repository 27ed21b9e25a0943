"""Lab facade + filesystem abstraction tests."""

import json

import pytest
from pyspark.sql import Row

from smart_data_lake_spark.fs import LocalFileSystem, get_fs, scheme_of


def test_scheme_dispatch(spark):
    assert scheme_of("/tmp/x") == ""
    assert scheme_of("file:///tmp/x") == "file"
    assert scheme_of("s3a://bucket/x") == "s3a"
    assert isinstance(get_fs(spark, "/tmp/x"), LocalFileSystem)
    # local paths routed through the JVM Hadoop FS behave identically —
    # proves the py4j implementation works end-to-end without a real cluster
    from smart_data_lake_spark.fs import HadoopFileSystem

    hfs = HadoopFileSystem(spark, "file:///tmp")
    assert hfs.exists("file:///tmp")


def test_hadoop_fs_roundtrip(spark, tmp_path):
    """The HadoopFileSystem implementation (used for s3a/hdfs/abfss paths)
    exercised against file:// URIs — same code path as object storage."""
    from smart_data_lake_spark.fs import HadoopFileSystem

    base = f"file://{tmp_path}"
    fs = HadoopFileSystem(spark, base)
    fs.mkdirs(f"{base}/a/b")
    assert fs.is_dir(f"{base}/a/b")
    fs.write_text(f"{base}/a/b/x.json", json.dumps({"k": 1}))
    assert json.loads(fs.read_text(f"{base}/a/b/x.json")) == {"k": 1}
    assert fs.listdir(f"{base}/a") == ["b"]
    # Hadoop Path normalizes file:/// to file:/ — compare path suffix
    walked = fs.walk_files(f"{base}/a")
    assert len(walked) == 1 and walked[0].endswith(f"{tmp_path}/a/b/x.json")
    fs.move(f"{base}/a/b/x.json", f"{base}/a/b/y.json")
    assert fs.exists(f"{base}/a/b/y.json") and not fs.exists(f"{base}/a/b/x.json")
    fs.delete(f"{base}/a", recursive=True)
    assert not fs.exists(f"{base}/a")
    # glob matches what the local implementation matches; a missing
    # non-glob path (globStatus returns null) matches nothing
    for dt in ("a", "b"):
        fs.mkdirs(f"{base}/t/dt={dt}")
    local = LocalFileSystem()
    assert [p.split(str(tmp_path))[1] for p in fs.glob(f"{base}/t/dt=*")] == [
        p.split(str(tmp_path))[1] for p in local.glob(f"{tmp_path}/t/dt=*")
    ] == ["/t/dt=a", "/t/dt=b"]
    assert fs.glob(f"{base}/t/missing") == local.glob(f"{tmp_path}/t/missing") == []


def test_get_fs_without_session_argument_uses_active_session(spark):
    from smart_data_lake_spark.fs import HadoopFileSystem

    assert isinstance(get_fs(None, "hdfs://localhost:1/x"), HadoopFileSystem)
    assert isinstance(get_fs(None, "file:/x"), LocalFileSystem)


@pytest.mark.parametrize("form", ["plain", "file://", "file:"])
def test_local_fs_roundtrip(tmp_path, form):
    """Every LocalFileSystem method takes a plain path and both `file:` URI
    forms; glob and walk_files answer in the form they were asked in."""
    fs = LocalFileSystem()
    base = str(tmp_path) if form == "plain" else f"{form}{tmp_path}"
    p = f"{base}/d1/f.txt"
    fs.write_text(p, "hello")
    assert fs.read_text(p) == "hello"
    assert fs.exists(p) and fs.is_dir(f"{base}/d1") and not fs.is_dir(p)
    assert fs.walk_files(base) == [p]
    assert fs.glob(f"{base}/d*/*.txt") == [p]
    assert list(fs.file_stats(base)) == [("d1/f.txt", 5, (tmp_path / "d1" / "f.txt").stat().st_mtime_ns // 10**6)]
    fs.move(p, f"{base}/d1/g.txt")
    assert fs.listdir(f"{base}/d1") == ["g.txt"]
    fs.mkdirs(f"{base}/d2")
    assert (tmp_path / "d2").is_dir()
    fs.delete(f"{base}/d1/g.txt")
    fs.delete(f"{base}/d1", recursive=True)
    assert not fs.exists(f"{base}/d1") and not (tmp_path / "d1").exists()


@pytest.fixture()
def lab(spark, tmp_path):
    from smart_data_lake_spark.lab import SmartDataLakeLab

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [Row(id=1, month="2024-01"), Row(id=2, month="2024-02")]
    ).write.partitionBy("month").parquet(src)
    config = {
        "dataObjects": {
            "src": {"type": "ParquetFileDataObject", "path": src, "partitions": ["month"]},
            "dst": {"type": "ParquetFileDataObject", "path": str(tmp_path / "dst")},
        },
        "actions": {
            "cp": {"type": "CopyAction", "inputId": "src", "outputId": "dst"},
        },
    }
    return SmartDataLakeLab(config=config, spark=spark)


def test_lab_reads_and_guards(lab, spark):
    assert lab.data_objects["src"].df().count() == 2
    assert lab.data_objects["src"].df({"month": "2024-01"}).count() == 1
    assert lab.data_objects["src"].partitions() == [
        {"month": "2024-01"}, {"month": "2024-02"},
    ]
    assert "id" in [f.name for f in lab.data_objects["src"].schema().fields]
    # tab-completion surface
    assert set(lab.data_objects.keys()) == {"src", "dst"}
    with pytest.raises(KeyError, match="known"):
        lab.data_objects["nope"]
    # writes guarded by default
    with pytest.raises(PermissionError, match="writes_enabled"):
        lab.actions["cp"].run()
    with pytest.raises(PermissionError):
        lab.data_objects["dst"].write(lab.data_objects["src"].df())


def test_lab_run_action_when_enabled(lab, spark):
    lab.writes_enabled = True
    state = lab.actions["cp"].run()
    assert state.action_states["cp"] == "SUCCEEDED"
    assert lab.data_objects["dst"].df().count() == 2


def test_lab_simulate_no_storage_touched(lab, spark, tmp_path):
    out = lab.actions["cp"].simulate(
        {"src": spark.createDataFrame([Row(id=9, month="2024-03")])}
    )
    assert out["dst"].collect()[0].id == 9
    assert not (tmp_path / "dst").exists()  # nothing written


def test_parquet_table_snapshots_time_travel(spark, tmp_path):
    """keep_snapshots retains prior table states; get_dataframe_version
    reads them back (the stand-in's versionAsOf); retention prunes."""
    from pyspark.sql import Row

    from smart_data_lake_spark.dataobjects import ParquetTableDataObject
    from smart_data_lake_spark.save_modes import SaveMode

    do = ParquetTableDataObject(
        id="snap_t",
        path=str(tmp_path / "t"),
        table={"name": "t", "primary_key": ["k"]},
        keep_snapshots=2,
    )
    def write(rows, mode):
        do.write_dataframe(spark.createDataFrame(rows), save_mode=mode)

    write([Row(k=1, v="a")], SaveMode.OVERWRITE)            # state 0 (no snapshot yet)
    write([Row(k=1, v="b")], SaveMode.OVERWRITE)            # snapshots state0 as v0
    write([Row(k=1, v="c"), Row(k=2, v="x")], SaveMode.MERGE)  # snapshots state1 as v1
    assert do.snapshot_versions() == [0, 1]

    v0 = do.get_dataframe_version(spark, 0).collect()
    assert [(r.k, r.v) for r in v0] == [(1, "a")]
    v1 = do.get_dataframe_version(spark, 1).collect()
    assert [(r.k, r.v) for r in v1] == [(1, "b")]
    live = {(r.k, r.v) for r in do.get_dataframe(spark).collect()}
    assert live == {(1, "c"), (2, "x")}

    write([Row(k=1, v="d")], SaveMode.OVERWRITE)            # v2; v0 pruned (keep 2)
    assert do.snapshot_versions() == [1, 2]
    with pytest.raises(ValueError):
        do.get_dataframe_version(spark, 0)


def test_parquet_table_no_snapshots_by_default(spark, tmp_path):
    from pyspark.sql import Row

    from smart_data_lake_spark.dataobjects import ParquetTableDataObject
    from smart_data_lake_spark.save_modes import SaveMode

    do = ParquetTableDataObject(id="plain_t", path=str(tmp_path / "t"))
    do.write_dataframe(spark.createDataFrame([Row(k=1)]), save_mode=SaveMode.OVERWRITE)
    do.write_dataframe(spark.createDataFrame([Row(k=2)]), save_mode=SaveMode.OVERWRITE)
    assert do.snapshot_versions() == []


def test_get_stats_file_and_hive(spark, tmp_path):
    """getStats parity (DataObject.scala:143): metadata-only path stats with
    parquet footer row counts; Hive catalog stats with conditional ANALYZE."""
    from pyspark.sql import Row

    from smart_data_lake_spark.dataobjects import HiveTableDataObject, ParquetFileDataObject

    p = str(tmp_path / "t")
    spark.createDataFrame([Row(id=i, v=str(i)) for i in range(100)]).coalesce(2).write.parquet(p)
    do = ParquetFileDataObject(id="f", path=p)
    stats = do.get_stats(spark)
    assert stats["numRows"] == 100
    assert stats["numFiles"] == 2
    assert stats["sizeInBytes"] > 0 and stats["lastModifiedAt"] > 0
    # a file: URI lists the same files
    assert ParquetFileDataObject(id="u", path="file://" + p).get_stats(spark) == stats

    hive = HiveTableDataObject(
        id="h", path=str(tmp_path / "ht"), table={"name": "stats_t", "primary_key": ["id"]}
    )
    hive.write_dataframe(spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")]))
    try:
        st = hive.get_stats(spark, update=True)  # stale → runs ANALYZE once
        assert st["catalogNumRows"] == 2
        assert st["numRows"] == 2  # footer-derived too
    finally:
        spark.sql("DROP TABLE IF EXISTS stats_t")

    # stats are advisory: a missing path degrades to an info message
    missing = ParquetFileDataObject(id="m", path=str(tmp_path / "nope"))
    info = missing.get_stats(spark)
    assert info == {"numFiles": 0, "sizeInBytes": 0, "lastModifiedAt": 0} or "info" in info


def test_state_report_tool(tmp_path, spark):
    from pyspark.sql import Row

    from smart_data_lake_spark.actions import CopyAction
    from smart_data_lake_spark.config import InstanceRegistry
    from smart_data_lake_spark.dataobjects import ParquetFileDataObject
    from smart_data_lake_spark.plans import SmartDataLakeBuilder

    import sys
    sys.path.insert(0, "/root/repo/tools")
    from state_report import report

    src = str(tmp_path / "src")
    spark.createDataFrame([Row(id=1)]).write.parquet(src)
    registry = InstanceRegistry()
    registry.register_data_object(ParquetFileDataObject(id="src", path=src))
    registry.register_data_object(ParquetFileDataObject(id="dst", path=str(tmp_path / "dst")))
    CopyAction(id="cp", input_id="src", output_id="dst", registry=registry)
    SmartDataLakeBuilder(registry=registry).run(spark=spark, state_path=str(tmp_path / "state"))
    out = report(str(tmp_path / "state"))
    assert "cp" in out and "SUCCEEDED" in out and "records=1" in out
