"""A file DataObject behaves the same behind a plain local path and behind
its `file:` URIs (`file:///x`, and `file:/x` as Hadoop's `Path.toString()`
prints it): every driver-side listing, existence check, move and delete
goes through `fs.get_fs`, whose local implementation strips the scheme."""

import os

import pytest
from pyspark.sql import Row

from smart_data_lake_spark.actions import CopyAction, CustomFileAction, FileTransferAction
from smart_data_lake_spark.config import InstanceRegistry
from smart_data_lake_spark.dataobjects import (
    CsvFileDataObject,
    ParquetFileDataObject,
    ParquetTableDataObject,
    RawFileDataObject,
    RelaxedCsvFileDataObject,
)
from smart_data_lake_spark.execution_modes import FileIncrementalMoveMode
from smart_data_lake_spark.fs import strip_local_scheme
from smart_data_lake_spark.partitions import PartitionValues
from smart_data_lake_spark.plans import ActionDAG, ActionDAGRun
from smart_data_lake_spark.save_modes import SaveMode

FORMS = {"plain": "", "file_uri": "file://", "file_colon": "file:"}


def pv(**values):
    return PartitionValues.of(values)


@pytest.fixture(scope="module")
def partitioned(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("uri_paths") / "t")
    spark.createDataFrame([Row(v=1, dt="a"), Row(v=2, dt="b")]).write.partitionBy("dt").parquet(path)
    return path


def test_partitioned_reads_agree_across_path_forms(spark, partitioned):
    results = {}
    for form, scheme in FORMS.items():
        do = ParquetFileDataObject(id=f"t_{form}", path=scheme + partitioned, partitions=["dt"])
        results[form] = {
            "exists": do.exists(spark),
            "partitions": sorted(p.as_dict["dt"] for p in do.list_partitions(spark)),
            "pruned_count": do.get_dataframe(spark, [pv(dt="a")]).count(),
            "init_paths": [strip_local_scheme(p) for p in do.get_concrete_init_paths(pv(dt="a"))],
            "file_refs": [strip_local_scheme(f) for f in do.get_file_refs()],
            "state": do.get_state(),
        }
    assert results["file_uri"] == results["plain"]
    assert results["file_colon"] == results["plain"]
    plain = results["plain"]
    assert plain["exists"] and plain["partitions"] == ["a", "b"] and plain["pruned_count"] == 1
    assert plain["init_paths"] == [f"{partitioned}/dt=a"]
    assert len(plain["file_refs"]) == 2 and all(f.endswith(".parquet") for f in plain["file_refs"])
    assert plain["state"] is not None


@pytest.mark.parametrize("form", FORMS)
def test_move_partitions(spark, tmp_path, form):
    path = str(tmp_path / "t")
    spark.createDataFrame([Row(v=1, dt="a"), Row(v=2, dt="b")]).write.partitionBy("dt").parquet(path)
    do = ParquetFileDataObject(id="mv", path=FORMS[form] + path, partitions=["dt"])
    do.move_partitions(spark, [(pv(dt="a"), pv(dt="b"))])
    assert not os.path.exists(f"{path}/dt=a")
    assert sorted(r.v for r in do.get_dataframe(spark, [pv(dt="b")]).collect()) == [1, 2]


@pytest.mark.parametrize("form", FORMS)
def test_relaxed_csv_read(spark, tmp_path, form):
    d = tmp_path / "csv"
    d.mkdir()
    (d / "a.csv").write_text("h1,h2\n1,x\n")
    (d / "b.csv").write_text("h2,h1\ny,2\n")
    do = RelaxedCsvFileDataObject(id="r", path=FORMS[form] + str(d), schema="h1 int, h2 string")
    assert sorted(do.get_dataframe(spark).collect()) == [Row(h1=1, h2="x"), Row(h1=2, h2="y")]


@pytest.mark.parametrize("form", FORMS)
def test_csv_write_persists_schema(spark, tmp_path, form):
    path = str(tmp_path / "out")
    do = CsvFileDataObject(id="c", path=FORMS[form] + path, options={"header": "true"})
    do.write_dataframe(spark.createDataFrame([Row(k=1, v="a")]))
    assert os.path.isfile(f"{path}/_schema.json")
    assert do.get_dataframe(spark).collect() == [Row(k=1, v="a")]


@pytest.mark.parametrize("form", FORMS)
def test_parquet_table_merge_keeps_unmatched_rows(spark, tmp_path, form):
    """The second MERGE must see the table the first one wrote; a missed
    `exists` turns it into a first-load overwrite that loses row 1."""
    do = ParquetTableDataObject(
        id="m", path=FORMS[form] + str(tmp_path / "t"), table={"name": "m", "primary_key": ["k"]}
    )
    do.write_dataframe(spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")]), save_mode=SaveMode.MERGE)
    do.write_dataframe(spark.createDataFrame([Row(k=2, v="B"), Row(k=3, v="c")]), save_mode=SaveMode.MERGE)
    assert sorted(do.get_dataframe(spark).collect()) == [Row(k=1, v="a"), Row(k=2, v="B"), Row(k=3, v="c")]
    # the rewrite's uuid-named temp dir is gone
    assert os.listdir(tmp_path) == ["t"]


@pytest.mark.parametrize("archive", [True, False])
def test_file_incremental_move_mode_handles_percent_encoded_uris(spark, tmp_path, archive):
    """`inputFiles()` percent-encodes the URIs it returns (`in%20put`): the
    consumed file is archived, or deleted, all the same."""
    src = tmp_path / "in put"
    spark.range(2).coalesce(1).write.parquet(str(src))
    do = ParquetFileDataObject(id="src", path=str(src))
    mode = FileIncrementalMoveMode(archive_path=str(tmp_path / "archive") if archive else None)
    mode.apply(spark, do, None, [], None)
    assert any("%20" in f for f in mode._consumed_files)
    mode.post_exec(spark, do, None, None)
    assert not do.exists(spark)
    archived = os.listdir(tmp_path / "archive") if archive else []
    assert any(f.endswith(".parquet") for f in archived) == archive


@pytest.mark.parametrize("form", FORMS)
def test_copy_action_deletes_input_after_read(spark, tmp_path, form):
    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    registry = InstanceRegistry()
    registry.register_data_object(ParquetFileDataObject(id="src", path=FORMS[form] + src))
    registry.register_data_object(ParquetFileDataObject(id="out", path=str(tmp_path / "out")))
    CopyAction(id="c", input_id="src", output_id="out", registry=registry, delete_data_after_read=True)
    ActionDAGRun(ActionDAG(list(registry.actions.values())), registry).run(spark)
    assert not os.path.exists(src)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 3


@pytest.mark.parametrize("form", FORMS)
def test_file_transfer_lists_and_copies_the_same_files(spark, tmp_path, form):
    src = tmp_path / "src"
    for rel in ("a.csv", "dt=1/b.csv", "dt=1/_SUCCESS", "dt=2/.c.csv.crc"):
        (src / rel).parent.mkdir(parents=True, exist_ok=True)
        (src / rel).write_text(rel)
    registry = InstanceRegistry()
    scheme = FORMS[form]
    registry.register_data_object(RawFileDataObject(id="src", path=scheme + str(src)))
    registry.register_data_object(RawFileDataObject(id="dst", path=scheme + str(tmp_path / "dst")))
    action = FileTransferAction(id="ft", input_id="src", output_id="dst", registry=registry)
    assert action._list_input_files() == [str(src / "a.csv"), str(src / "dt=1" / "b.csv")]
    (sf,) = action.exec(spark, [])
    assert sf.file_refs == [str(tmp_path / "dst" / "a.csv"), str(tmp_path / "dst" / "dt=1" / "b.csv")]
    assert (tmp_path / "dst" / "dt=1" / "b.csv").read_text() == "dt=1/b.csv"


@pytest.mark.parametrize("action_cls", [FileTransferAction, CustomFileAction])
def test_file_actions_reject_a_remote_store(action_cls):
    registry = InstanceRegistry()
    registry.register_data_object(RawFileDataObject(id="src", path="s3a://bucket/landing"))
    registry.register_data_object(RawFileDataObject(id="dst", path="/tmp/unused"))
    kwargs = {"transform_fn": lambda s, d: None} if action_cls is CustomFileAction else {}
    action = action_cls(id="x", input_id="src", output_id="dst", registry=registry, **kwargs)
    with pytest.raises(ValueError, match="works on local files only; 's3a://bucket/landing' is on a remote store"):
        action.init(None, [])


def test_external_hive_table_at_file_uri_registers_its_location(spark, tmp_path):
    """The LOCATION of an external table at a `file://` path is that URI,
    not `<cwd>/file:/...`: the plain path and the URI give the same table."""
    from smart_data_lake_spark.dataobjects import HiveTableDataObject

    counts = {}
    for form in ("plain", "file_uri"):
        name = f"uri_hive_{form}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        do = HiveTableDataObject(
            id=name, path=FORMS[form] + str(tmp_path / name), table={"name": name}
        )
        do.write_dataframe(spark.createDataFrame([Row(k=1), Row(k=2)]))
        counts[form] = spark.table(name).count()
        spark.sql(f"DROP TABLE {name}")
    assert counts == {"plain": 2, "file_uri": 2}
