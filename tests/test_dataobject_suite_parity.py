"""Scenario parity for the reference DataObject test suites.

Twins for every `test("...")` in:
- `workflow/dataobject/SparkFileDataObjectTest.scala:40-470` (15 scenarios)
- `workflow/dataobject/CsvFileDataObjectTest.scala:41-335` (12 scenarios)
- the shared `SparkFileDataObjectSchemaBehavior.scala` behaviors
  (readNonExistingSources, readEmptySources, validateSchemaMin on read/write)

Each test's docstring names the reference scenario it mirrors.
"""

import os
import zipfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smart_data_lake_spark.dataobjects.file import (
    CsvFileDataObject,
    JsonFileDataObject,
    ParquetFileDataObject,
    ProcessingLogicError,
    RawFileDataObject,
)
from smart_data_lake_spark.dataobjects.base import SchemaViolationError
from smart_data_lake_spark.partitions import PartitionValues
from smart_data_lake_spark.save_modes import SaveMode

pv = PartitionValues.of


# --------------------------------------------------------------------------
# SparkFileDataObjectTest.scala
# --------------------------------------------------------------------------


def _csv_do(tmp_path, name="t", **kw):
    kw.setdefault("options", {"header": "true"})
    return CsvFileDataObject(id=name, path=str(tmp_path / name), **kw)


def test_overwrite_only_one_partition(spark, tmp_path):
    """SparkFileDataObjectTest:40 — writing pv=[B] replaces B, keeps A."""
    do = _csv_do(tmp_path, partitions=["p"])
    df1 = spark.createDataFrame([("A", 1), ("A", 2), ("B", 3), ("B", 4)], "p string, value int")
    do.write_dataframe(df1, [pv({"p": "A"}), pv({"p": "B"})])
    assert do.get_dataframe(spark).count() == 4
    assert {str(x.as_dict) for x in do.list_partitions(spark)} == {
        str({"p": "A"}),
        str({"p": "B"}),
    }
    df2 = spark.createDataFrame([("B", 5)], "p string, value int")
    do.write_dataframe(df2, [pv({"p": "B"})])
    assert do.get_dataframe(spark).count() == 3
    assert len(do.list_partitions(spark)) == 2


def test_create_and_list_partition_one_level(spark, tmp_path):
    """SparkFileDataObjectTest:67 — listPartitions returns written pvs."""
    do = _csv_do(tmp_path, partitions=["p"])
    df = spark.createDataFrame([("A", 1), ("B", 2)], "p string, value int")
    do.write_dataframe(df, [pv({"p": "A"}), pv({"p": "B"})])
    listed = {tuple(sorted(x.as_dict.items())) for x in do.list_partitions(spark)}
    assert listed == {(("p", "A"),), (("p", "B"),)}


def test_create_and_list_partition_multi_level(spark, tmp_path):
    """SparkFileDataObjectTest:84 — two-level partition listing."""
    do = _csv_do(tmp_path, partitions=["p1", "p2"])
    df = spark.createDataFrame(
        [("A", "L2A", 1), ("A", "L2B", 2), ("B", "L2B", 3), ("B", "L2C", 4)],
        "p1 string, p2 string, value int",
    )
    pvs = [
        pv({"p1": "A", "p2": "L2A"}),
        pv({"p1": "A", "p2": "L2B"}),
        pv({"p1": "B", "p2": "L2B"}),
        pv({"p1": "B", "p2": "L2C"}),
    ]
    do.write_dataframe(df, pvs)
    listed = {tuple(sorted(x.as_dict.items())) for x in do.list_partitions(spark)}
    assert listed == {tuple(sorted(x.as_dict.items())) for x in pvs}


def test_create_empty_partition(spark, tmp_path):
    """SparkFileDataObjectTest:102 — a declared pv with no rows is still
    materialized and listed."""
    do = _csv_do(tmp_path, partitions=["p1", "p2"])
    df = spark.createDataFrame([("A", "L2A", 1)], "p1 string, p2 string, value int")
    pvs = [pv({"p1": "A", "p2": "L2A"}), pv({"p1": "X", "p2": "L2X"})]
    do.write_dataframe(df, pvs)
    listed = {tuple(sorted(x.as_dict.items())) for x in do.list_partitions(spark)}
    assert listed == {tuple(sorted(x.as_dict.items())) for x in pvs}


def test_read_partitioned_and_filter_expected_partitions(spark, tmp_path):
    """SparkFileDataObjectTest:119 — partition-filtered reads +
    filterExpectedPartitionValues on the elements map."""
    do = _csv_do(
        tmp_path, partitions=["p"], expected_partitions_condition="elements['p'] != 'A'"
    )
    df1 = spark.createDataFrame([("A", 1), ("A", 2), ("B", 3), ("B", 4)], "p string, value int")
    created = [pv({"p": "A"}), pv({"p": "B"})]
    do.write_dataframe(df1, created)
    assert do.get_dataframe(spark).count() == 4
    assert do.get_dataframe(spark, [pv({"p": "B"})]).count() == 2
    assert do.get_dataframe(spark, [pv({"p": "A"}), pv({"p": "B"})]).count() == 4
    expected = do.filter_expected_partition_values(spark, created)
    assert [x.as_dict for x in expected] == [{"p": "B"}]


def test_overwrite_partitioned_data(spark, tmp_path):
    """SparkFileDataObjectTest:140 — declared pv with no data is emptied but
    stays listed; undeclared partition A untouched."""
    do = _csv_do(tmp_path, partitions=["p"])
    df1 = spark.createDataFrame(
        [("A", 1), ("A", 2), ("B", 3), ("B", 4), ("C", 5), ("C", 6)], "p string, value int"
    )
    do.write_dataframe(df1, [pv({"p": "A"}), pv({"p": "B"})])
    df2 = spark.createDataFrame([("B", 7), ("B", 8)], "p string, value int")
    do.write_dataframe(df2, [pv({"p": "B"}), pv({"p": "C"})])
    rows = sorted(
        (r["p"], int(r["value"])) for r in do.get_dataframe(spark).collect()
    )
    assert rows == [("A", 1), ("A", 2), ("B", 7), ("B", 8)]
    assert sorted(x.as_dict["p"] for x in do.list_partitions(spark)) == ["A", "B", "C"]


def test_overwrite_all(spark, tmp_path):
    """SparkFileDataObjectTest:167 — unpartitioned overwrite replaces all."""
    do = _csv_do(tmp_path)
    do.write_dataframe(spark.createDataFrame([("A", 1), ("A", 2)], "p string, value int"))
    do.write_dataframe(spark.createDataFrame([("B", 3), ("B", 4)], "p string, value int"))
    rows = sorted((r["p"], int(r["value"])) for r in do.get_dataframe(spark).collect())
    assert rows == [("B", 3), ("B", 4)]


def test_overwrite_all_preserve_directory(spark, tmp_path):
    """SparkFileDataObjectTest:214 — OverwritePreserveDirectories empties
    files but keeps the directory object (ACLs/mounts survive)."""
    do = _csv_do(tmp_path, save_mode=SaveMode.OVERWRITE_PRESERVE_DIRECTORIES)
    do.write_dataframe(spark.createDataFrame([("A", 1), ("A", 2)], "p string, value int"))
    root_inode = os.stat(do.path).st_ino
    do.write_dataframe(spark.createDataFrame([("B", 3), ("B", 4)], "p string, value int"))
    rows = sorted((r["p"], int(r["value"])) for r in do.get_dataframe(spark).collect())
    assert rows == [("B", 3), ("B", 4)]
    assert os.stat(do.path).st_ino == root_inode  # directory not recreated


def test_append_filename_column(spark, tmp_path):
    """SparkFileDataObjectTest:237 — filenameColumn appended on read, and the
    frame can be written back after dropping it."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "people.csv").write_text("name,age\nann,33\nbob,44\n")
    do = CsvFileDataObject(
        id="src1",
        path=str(src),
        options={"header": "true"},
        filename_column="_sourcefile",
        schema="name string, age string",
    )
    df = do.get_dataframe(spark)
    assert "_sourcefile" in df.columns
    assert df.select("_sourcefile").first()[0].endswith("people.csv")
    do.init_write(df.drop("_sourcefile"))  # must not raise


def test_get_concrete_paths(tmp_path):
    """SparkFileDataObjectTest:266 — init paths stop at the deepest given
    partition key (wildcarding earlier absent ones); full paths expand to
    full depth; returnFiles applies the fileName glob."""
    base = tmp_path / "concrete"
    for a in (1, 2):
        for b in (1, 2, 3):
            for c in (1, 2):
                (base / f"a={a}" / f"b={b}" / f"c={c}").mkdir(parents=True)
    (base / "a=1" / "b=1" / "c=1" / "abc.test").touch()
    (base / "a=2" / "b=3" / "c=2" / "abc.test").touch()
    # the reference fixture omits a=2/b=3... it creates a=2/b=3/c=1 and c=2;
    # ours creates the full grid which only widens full-path expectations
    do = RawFileDataObject(id="t", path=str(base), partitions=["a", "b", "c"], file_name="*.test")

    def rel(paths):
        return {os.path.relpath(p, str(base)) for p in paths}

    assert rel(do.get_concrete_init_paths(pv({"a": 1}))) == {"a=1"}
    assert rel(do.get_concrete_init_paths(pv({"a": 1, "b": 1}))) == {"a=1/b=1"}
    assert rel(do.get_concrete_init_paths(pv({"a": 1, "b": 1, "c": 1}))) == {"a=1/b=1/c=1"}
    assert rel(do.get_concrete_init_paths(pv({"b": 1}))) == {"a=1/b=1", "a=2/b=1"}
    assert rel(do.get_concrete_init_paths(pv({"c": 1}))) == {
        f"a={a}/b={b}/c=1" for a in (1, 2) for b in (1, 2, 3)
    }
    assert rel(do.get_concrete_init_paths(pv({"b": 1, "c": 1}))) == {"a=1/b=1/c=1", "a=2/b=1/c=1"}
    assert rel(do.get_concrete_full_paths(pv({"b": 1}))) == {
        f"a={a}/b=1/c={c}" for a in (1, 2) for c in (1, 2)
    }
    assert rel(do.get_concrete_full_paths(pv({"b": 1, "c": 1}))) == {"a=1/b=1/c=1", "a=2/b=1/c=1"}
    assert rel(do.get_concrete_full_paths(pv({"b": 1}), return_files=True)) == {
        "a=1/b=1/c=1/abc.test"
    }


def test_delete_files_only(spark, tmp_path):
    """SparkFileDataObjectTest:307 — deletePartitionsFiles / deleteAllFiles
    remove files but keep the directory tree."""
    do = _csv_do(tmp_path, partitions=["p"])
    do.write_dataframe(spark.createDataFrame([("A", 1), ("A", 2)], "p string, value int"))
    part_dir = os.path.join(do.path, "p=A")
    assert os.path.isdir(part_dir) and os.listdir(part_dir)
    do._delete_files_keep_dirs(part_dir)
    assert os.path.isdir(part_dir) and not any(
        os.path.isfile(os.path.join(part_dir, f)) for f in os.listdir(part_dir)
    )
    open(os.path.join(do.path, "testFile"), "w").close()
    do._delete_files_keep_dirs(do.path)
    assert os.path.isdir(do.path) and os.path.isdir(part_dir)
    assert not any(os.path.isfile(os.path.join(do.path, f)) for f in os.listdir(do.path))


def test_overwrite_optimized_requires_partition_values(spark, tmp_path):
    """SparkFileDataObjectTest:337 — OverwriteOptimized without pvs on a
    partitioned DataObject raises (would silently nuke the whole object)."""
    do = _csv_do(tmp_path, partitions=["p1", "p2"], save_mode=SaveMode.OVERWRITE_OPTIMIZED)
    df = spark.createDataFrame([("A", "2", 1), ("B", "1", 2)], "p1 string, p2 string, value int")
    with pytest.raises(ProcessingLogicError):
        do.write_dataframe(df, partition_values=[])


def test_move_partition_function(spark, tmp_path):
    """SparkFileDataObjectTest:357 — movePartitions merges p=A into p=B and
    drops p=A; the merged partition reads complete."""
    base = tmp_path / "mv"
    for p, prefix in (("A", "testA"), ("B", "testB")):
        d = base / f"p={p}"
        d.mkdir(parents=True)
        for i in range(1, 11):
            (d / f"{prefix}{i}.json").write_text('{"value": %d}' % i)
    do = JsonFileDataObject(id="mv", path=str(base), partitions=["p"])
    do.move_partitions(spark, [(pv({"p": "A"}), pv({"p": "B"}))])
    assert not os.path.exists(base / "p=A")
    assert len(os.listdir(base / "p=B")) == 20
    total = do.get_dataframe(spark, [pv({"p": "B"})]).agg(F.sum("value")).first()[0]
    assert total == 2 * sum(range(1, 11))


def test_compact_partition_function(spark, tmp_path):
    """SparkFileDataObjectTest:378 — compactPartitions reduces the file count
    of p=A, leaves p=B alone, marks the partition COMPACTED, and a second
    compact is a no-op (marker timestamp unchanged). Our compaction module's
    marker protocol is the twin of the reference's _SDL_COMPACTED files."""
    from smart_data_lake_spark.compaction import compact_partitions

    base = tmp_path / "cp"
    for p in ("A", "B"):
        d = base / f"p={p}"
        d.mkdir(parents=True)
        for i in range(1, 101):
            (d / f"{i}.json").write_text('{"value": %d}' % i)
    do = JsonFileDataObject(
        id="cp", path=str(base), partitions=["p"], options={"multiLine": "false"}
    )  # reference sets multiLine=false here too (jsonOptions)
    compact_partitions(spark, do, [pv({"p": "A"})])
    files_a = [f for f in os.listdir(base / "p=A") if f.endswith(".json")]
    assert len(files_a) < 100
    assert len([f for f in os.listdir(base / "p=B") if f.endswith(".json")]) == 100
    total = do.get_dataframe(spark, [pv({"p": "A"})]).agg(F.sum("value")).first()[0]
    assert total == 5050
    markers = [f for f in os.listdir(base / "p=A") if "COMPACTED" in f.upper()]
    assert markers
    marker_path = base / "p=A" / markers[0]
    mtime1 = os.path.getmtime(marker_path)
    compact_partitions(spark, do, [pv({"p": "A"})])  # second run: no-op
    assert os.path.getmtime(marker_path) == mtime1


def test_incremental_output_mode(spark, tmp_path):
    """SparkFileDataObjectTest:421 — state=None reads everything; after an
    append, state from the first read yields only the new file's rows; a
    plain (init) read still sees all rows."""
    import time

    do = ParquetFileDataObject(id="inc", path=str(tmp_path / "inc"), save_mode=SaveMode.APPEND)
    do.write_dataframe(
        spark.createDataFrame([("A", 1), ("A", 2), ("B", 3), ("B", 4)], "p string, value int")
    )
    do.set_state(None)
    assert do.get_dataframe(spark).count() == 4
    state1 = do.get_state()
    time.sleep(1.1)  # modifiedAfter has second granularity in option parsing
    do.write_dataframe(spark.createDataFrame([("B", 5)], "p string, value int"))
    do.set_state(state1)
    assert do.get_dataframe(spark).count() == 1
    state2 = do.get_state()
    assert state2 > state1
    do.set_state(None)
    assert do.get_dataframe(spark).count() == 5


# --------------------------------------------------------------------------
# CsvFileDataObjectTest.scala
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "header,infer",
    [("true", "false"), ("true", "true"), ("false", "true")],
    ids=["header-noinfer", "header-infer", "noheader-infer"],
)
def test_csv_empty_file_reads_empty_schemaless(spark, tmp_path, header, infer):
    """CsvFileDataObjectTest:41/66/91 — a zero-byte csv reads as an empty,
    schema-less DataFrame for every header/inferSchema combination."""
    f = tmp_path / "empty.csv"
    f.touch()
    do = CsvFileDataObject(
        id="src1", path=str(f), options={"header": header, "inferSchema": infer}
    )
    df = do.get_dataframe(spark)
    assert df.schema.fields == []
    assert df.count() == 0


def test_csv_empty_file_with_user_schema(spark, tmp_path):
    """SparkFileDataObjectSchemaBehavior.readEmptySources — empty file +
    user-defined schema → empty frame WITH that schema."""
    f = tmp_path / "empty.csv"
    f.touch()
    do = CsvFileDataObject(
        id="src1",
        path=str(f),
        options={"header": "false", "inferSchema": "false"},
        schema="h1 string, h2 int",
    )
    df = do.get_dataframe(spark)
    assert [(x.name, x.dataType.simpleString()) for x in df.schema.fields] == [
        ("h1", "string"),
        ("h2", "int"),
    ]
    assert df.count() == 0


def test_csv_read_nonexisting_without_schema_fails(spark, tmp_path):
    """SparkFileDataObjectSchemaBehavior.readNonExistingSources — reading a
    non-existing path without user schema raises."""
    do = CsvFileDataObject(
        id="src1", path=str(tmp_path / "nope.csv"), options={"inferSchema": "true"}
    )
    with pytest.raises(Exception):
        do.get_dataframe(spark).collect()


def test_csv_user_schema_precedence_over_header(spark, tmp_path):
    """CsvFileDataObjectTest:118 — with header=true, the user schema renames
    and retypes columns; the header row is consumed, leaving 1 data row."""
    src = tmp_path / "s"
    src.mkdir()
    (src / "d.csv").write_text("A,B\nB,1\n")
    do = CsvFileDataObject(
        id="src1",
        path=str(src),
        options={"header": "true", "inferSchema": "false", "delimiter": ","},
        schema="header1 STRING, header2 INT",
    )
    df = do.get_dataframe(spark)
    assert [(x.name, x.dataType.simpleString()) for x in df.schema.fields] == [
        ("header1", "string"),
        ("header2", "int"),
    ]
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["header1"] == "B" and rows[0]["header2"] == 1


def test_csv_user_schema_precedence_over_inference(spark, tmp_path):
    """CsvFileDataObjectTest:165 — with header=false the header line is data:
    2 rows, user schema names/types win over inference."""
    src = tmp_path / "s"
    src.mkdir()
    (src / "d.csv").write_text("A,B\nB,1\n")
    do = CsvFileDataObject(
        id="src1",
        path=str(src),
        options={"header": "false", "inferSchema": "true", "delimiter": ","},
        schema="header1 STRING, header2 INT",
    )
    df = do.get_dataframe(spark)
    assert [x.name for x in df.schema.fields] == ["header1", "header2"]
    assert df.count() == 2


def test_csv_number_of_tasks_1_filename_rename(spark, tmp_path):
    """CsvFileDataObjectTest:211 — numberOfTasksPerPartition=1 +
    filename='data.csv' writes exactly one file named data.csv."""
    do = CsvFileDataObject(
        id="t1",
        path=str(tmp_path / "t1"),
        options={"header": "true"},
        n_files_per_partition=1,
        filename="data.csv",
    )
    df = spark.range(1000).select(F.lit("test").alias("name"), F.col("id").alias("cnt")).repartition(10)
    do.write_dataframe(df)
    assert [os.path.basename(f) for f in do.get_file_refs()] == ["data.csv"]
    assert do.get_dataframe(spark).count() == 1000


def test_csv_number_of_tasks_5_filename_rename(spark, tmp_path):
    """CsvFileDataObjectTest:222 — numberOfTasksPerPartition=5 writes
    data.1.csv … data.5.csv."""
    do = CsvFileDataObject(
        id="t5",
        path=str(tmp_path / "t5"),
        options={"header": "true"},
        n_files_per_partition=5,
        filename="data.csv",
    )
    df = spark.range(1000).select(F.lit("test").alias("name"), F.col("id").alias("cnt")).repartition(10)
    do.write_dataframe(df)
    names = sorted(os.path.basename(f) for f in do.get_file_refs())
    assert names == [f"data.{i}.csv" for i in range(1, 6)]
    assert do.get_dataframe(spark).count() == 1000


def test_csv_number_of_tasks_with_partitions(spark, tmp_path):
    """CsvFileDataObjectTest:234 — 1 task per partition keyed on the partition
    column: each hive partition gets exactly one file named data.csv."""
    do = CsvFileDataObject(
        id="tp",
        path=str(tmp_path / "tp"),
        options={"header": "true"},
        partitions=["name"],
        n_files_per_partition=1,
        repartition_keys=["name"],
        filename="data.csv",
    )
    df = (
        spark.range(1000)
        .select(
            F.concat(F.lit("test"), (F.col("id") % 2).cast("string")).alias("name"),
            F.col("id").alias("cnt"),
        )
        .repartition(10)
    )
    do.write_dataframe(df, [pv({"name": "test0"}), pv({"name": "test1"})])
    refs = do.get_file_refs([pv({"name": "test0"}), pv({"name": "test1"})])
    assert [os.path.basename(f) for f in refs] == ["data.csv", "data.csv"]
    assert do.get_dataframe(spark).count() == 1000


def test_csv_zip_write(spark, tmp_path):
    """CsvFileDataObjectTest:245 — compression=zip packages the written csv
    into data.csv.zip; the archive holds readable CSV text. (The reference
    can't read zip back either — its read assertion is commented out.)"""
    do = CsvFileDataObject(
        id="z",
        path=str(tmp_path / "z"),
        options={"header": "true", "compression": "zip"},
        n_files_per_partition=1,
        filename="data.csv.zip",
    )
    df = spark.createDataFrame([("A", "B"), ("B", "1")], "a string, b string")
    do.write_dataframe(df)
    archive = os.path.join(do.path, "data.csv.zip")
    assert os.path.isfile(archive)
    with zipfile.ZipFile(archive) as zf:
        entries = zf.namelist()
        assert entries
        text = zf.read(entries[0]).decode()
    assert "a" in text.splitlines()[0] and len(text.splitlines()) == 3


def test_rename_file_handle_already_existing(spark, tmp_path):
    """CsvFileDataObjectTest:269 — renaming onto an existing target picks a
    suffixed name instead of clobbering."""
    d = tmp_path / "r"
    d.mkdir()
    (d / "f.csv").write_text("a,b\n1,2\n")
    do = CsvFileDataObject(id="r", path=str(d), options={"header": "true"})
    assert [os.path.basename(f) for f in do.get_file_refs()] == ["f.csv"]
    do.rename_file_handle_already_existing(str(d / "f.csv"), str(d / "f.csv.temp"))
    assert [os.path.basename(f) for f in do.get_file_refs()] == ["f.csv.temp"]
    (d / "f.csv").write_text("a,b\n3,4\n")
    do.rename_file_handle_already_existing(str(d / "f.csv"), str(d / "f.csv.temp"))
    names = [os.path.basename(f) for f in do.get_file_refs()]
    assert len(names) == 2 and all(n.startswith("f.csv.temp") for n in names)


def test_csv_files_partitioned_with_filename_column(spark, tmp_path):
    """CsvFileDataObjectTest:301 — partitioned csv with schema incl. the
    partition col + filenameColumn: read returns all cols + _filename."""
    df1 = spark.createDataFrame([("A", "1", "-"), ("B", "2", None)], "h1 string, h2 string, h3 string")
    do = CsvFileDataObject(
        id="t",
        path=str(tmp_path / "t"),
        options={"header": "true"},
        partitions=["h1"],
        schema="h1 string, h2 string, h3 string",
        filename_column="_filename",
    )
    pvs = [pv({"h1": "A"}), pv({"h1": "B"})]
    do.write_dataframe(df1, pvs)
    out = do.get_dataframe(spark, pvs)
    assert set(out.columns) == {"h1", "h2", "h3", "_filename"}
    got = {(r["h1"], r["h2"], r["h3"]) for r in out.collect()}
    assert got == {("A", "1", "-"), ("B", "2", None)}
    assert out.where(F.col("_filename").isNull()).count() == 0


def test_csv_files_partitioned_schema_without_partition_cols(spark, tmp_path):
    """CsvFileDataObjectTest:318 — user schema omits the partition column;
    the DO appends it (resolve_schema) and the read is identical."""
    df1 = spark.createDataFrame([("A", "1", "-"), ("B", "2", None)], "h1 string, h2 string, h3 string")
    do = CsvFileDataObject(
        id="t",
        path=str(tmp_path / "t"),
        options={"header": "true"},
        partitions=["h1"],
        schema="h2 string, h3 string",
        filename_column="_filename",
    )
    pvs = [pv({"h1": "A"}), pv({"h1": "B"})]
    do.write_dataframe(df1, pvs)
    out = do.get_dataframe(spark, pvs)
    assert set(out.columns) == {"h1", "h2", "h3", "_filename"}
    got = {(r["h1"], r["h2"], r["h3"]) for r in out.collect()}
    assert got == {("A", "1", "-"), ("B", "2", None)}


# --------------------------------------------------------------------------
# SparkFileDataObjectSchemaBehavior.validateSchemaMin (shared behaviors)
# --------------------------------------------------------------------------


def _schema_min_do(tmp_path, schema_min):
    return CsvFileDataObject(
        id="m",
        path=str(tmp_path / "m"),
        options={"header": "true", "inferSchema": "false"},
        schema="a string, b string, c string",
        schema_min=schema_min,
    )


def test_schema_min_on_write_full_and_subset_ok(spark, tmp_path):
    """SchemaBehavior:137/157 — schemaMin equal to or a subset of the written
    schema validates."""
    df = spark.createDataFrame([("1", "2", "3")], "a string, b string, c string")
    _schema_min_do(tmp_path, "a string, b string, c string").write_dataframe(df)
    _schema_min_do(tmp_path, "a string").write_dataframe(df)


def test_schema_min_on_write_violations(spark, tmp_path):
    """SchemaBehavior:177/198/219/240 — wrong column name, wrong type, and
    missing columns (incl. on an empty frame) all raise."""
    df = spark.createDataFrame([("1", "2", "3")], "a string, b string, c string")
    with pytest.raises(SchemaViolationError):
        _schema_min_do(tmp_path, "nope string").write_dataframe(df)
    with pytest.raises(SchemaViolationError):
        _schema_min_do(tmp_path, "a int").write_dataframe(df)
    with pytest.raises(SchemaViolationError):
        _schema_min_do(tmp_path, "a string, z string").write_dataframe(df)
    empty = spark.createDataFrame([], "a string")
    with pytest.raises(SchemaViolationError):
        _schema_min_do(tmp_path, "a string, b string").write_dataframe(empty)


def test_schema_min_on_read(spark, tmp_path):
    """SchemaBehavior:275-383 — the same matrix on read: ok for full match
    and subset, violation for bad name/type/missing."""
    ok = _schema_min_do(tmp_path, "a string")
    ok.write_dataframe(spark.createDataFrame([("1", "2", "3")], "a string, b string, c string"))
    ok.get_dataframe(spark).collect()
    bad_name = CsvFileDataObject(
        id="m", path=ok.path, options={"header": "true"},
        schema="a string, b string, c string", schema_min="zz string",
    )
    with pytest.raises(SchemaViolationError):
        bad_name.get_dataframe(spark)
    bad_type = CsvFileDataObject(
        id="m", path=ok.path, options={"header": "true"},
        schema="a string, b string, c string", schema_min="a int",
    )
    with pytest.raises(SchemaViolationError):
        bad_type.get_dataframe(spark)


# --------------------------------------------------------------------------
# RelaxedCsvFileDataObjectTest.scala (11 scenarios)
# --------------------------------------------------------------------------

from smart_data_lake_spark.dataobjects.file import RelaxedCsvFileDataObject  # noqa: E402


def _write_headered_csv(d, name, header, rows):
    lines = [",".join(header)] + [",".join("" if v is None else v for v in r) for r in rows]
    (d / name).write_text("\n".join(lines) + "\n")


def test_relaxed_missing_and_superfluous_column(spark, tmp_path):
    """RelaxedCsvFileDataObjectTest:17 — files with a missing column read as
    null, files with an extra column have it dropped; all union by name."""
    d = tmp_path / "r1"
    d.mkdir()
    _write_headered_csv(d, "a.csv", ["h1", "h2", "h3"], [("A", "1", "-"), ("B", "2", None)])
    _write_headered_csv(d, "b.csv", ["h1", "h2"], [("C", "1"), ("D", "2")])
    _write_headered_csv(d, "c.csv", ["h1", "h2", "h3", "h4"], [("E", "1", "-", "x"), ("F", "2", "-", "x")])
    do = RelaxedCsvFileDataObject(id="t", path=str(d), schema="h1 string, h2 string, h3 string")
    out = do.get_dataframe(spark)
    assert out.columns == ["h1", "h2", "h3"]
    got = {(r["h1"], r["h2"], r["h3"]) for r in out.collect()}
    assert got == {
        ("A", "1", "-"), ("B", "2", None),
        ("C", "1", None), ("D", "2", None),
        ("E", "1", "-"), ("F", "2", "-"),
    }


def test_relaxed_missing_superfluous_as_corrupt(spark, tmp_path):
    """RelaxedCsvFileDataObjectTest:44 — with treatMissing/Superfluous
    ColumnsAsCorrupt, rows from deviating files carry _corrupt_record and
    _corrupt_record_msg; conforming rows have both null."""
    d = tmp_path / "r2"
    d.mkdir()
    _write_headered_csv(d, "a.csv", ["h1", "h2", "h3"], [("A", "1", "-"), ("A", "2", "")])
    _write_headered_csv(d, "b.csv", ["h1", "h2"], [("B", "1"), ("B", "2")])
    _write_headered_csv(d, "c.csv", ["h1", "h2", "h3", "h4"], [("C", "1", "-", "x"), ("C", "2", "-", "x")])
    do = RelaxedCsvFileDataObject(
        id="t",
        path=str(d),
        schema=(
            "h1 string, h2 string, h3 string, _filename string, "
            "_corrupt_record string, _corrupt_record_msg string"
        ),
        filename_column="_filename",
        treat_missing_columns_as_corrupt=True,
        treat_superfluous_columns_as_corrupt=True,
    )
    out = do.get_dataframe(spark).cache()
    assert out.columns == ["h1", "h2", "h3", "_corrupt_record", "_corrupt_record_msg", "_filename"]
    ok = out.where("h1 = 'A' and _corrupt_record is null and _corrupt_record_msg is null")
    assert ok.count() == 2
    miss = out.where("h1 = 'B' and _corrupt_record is not null and _corrupt_record_msg is not null")
    assert miss.count() == 2
    extra = out.where("h1 = 'C' and _corrupt_record is not null and _corrupt_record_msg is not null")
    assert extra.count() == 2


def test_relaxed_different_column_order(spark, tmp_path):
    """RelaxedCsvFileDataObjectTest:75 — files with permuted columns align
    by header name, not position."""
    d = tmp_path / "r3"
    d.mkdir()
    _write_headered_csv(d, "a.csv", ["h1", "h2", "h3"], [("A", "1", "-"), ("B", "2", None)])
    _write_headered_csv(d, "b.csv", ["h2", "h3", "h1"], [("1", "-", "C"), ("2", "-", "D")])
    do = RelaxedCsvFileDataObject(id="t", path=str(d), schema="h1 string, h2 string, h3 string")
    out = do.get_dataframe(spark)
    assert out.columns == ["h1", "h2", "h3"]
    got = {(r["h1"], r["h2"], r["h3"]) for r in out.collect()}
    assert got == {("A", "1", "-"), ("B", "2", None), ("C", "1", "-"), ("D", "2", "-")}


def test_relaxed_filename_column(spark, tmp_path):
    """RelaxedCsvFileDataObjectTest:98 — filenameColumn is appended last and
    distinct per source file."""
    d = tmp_path / "r4"
    d.mkdir()
    _write_headered_csv(d, "a.csv", ["h1", "h2", "h3"], [("A", "1", "-"), ("B", "2", None)])
    _write_headered_csv(d, "b.csv", ["h2", "h3", "h1"], [("1", "-", "C"), ("2", "-", "D")])
    do = RelaxedCsvFileDataObject(
        id="t", path=str(d),
        schema="h1 string, h2 string, h3 string, _filename string",
        filename_column="_filename",
    )
    out = do.get_dataframe(spark).cache()
    assert set(out.columns) == {"h1", "h2", "h3", "_filename"}
    got = {(r["h1"], r["h2"], r["h3"]) for r in out.collect()}
    assert got == {("A", "1", "-"), ("B", "2", None), ("C", "1", "-"), ("D", "2", "-")}
    assert out.select("_filename").distinct().count() > 1


def test_relaxed_partitioned(spark, tmp_path):
    """RelaxedCsvFileDataObjectTest:121 — write partitioned, read back via
    the relaxed path: partition col derived from dirs, column order
    data-cols-then-partition-then-filename."""
    do = RelaxedCsvFileDataObject(
        id="t", path=str(tmp_path / "r5"), partitions=["h1"],
        schema="h1 string, h2 string, h3 string", filename_column="_filename",
    )
    df1 = spark.createDataFrame([("A", "1", "-"), ("B", "2", None)], "h1 string, h2 string, h3 string")
    pvs = [pv({"h1": "A"}), pv({"h1": "B"})]
    do.write_dataframe(df1, pvs)
    out = do.get_dataframe(spark, pvs).cache()
    assert out.columns == ["h2", "h3", "h1", "_filename"]
    got = {(r["h1"], r["h2"], r["h3"]) for r in out.collect()}
    assert got == {("A", "1", "-"), ("B", "2", None)}
    assert out.where("_filename is null").count() == 0


def test_relaxed_partitioned_schema_without_partition_cols(spark, tmp_path):
    """RelaxedCsvFileDataObjectTest:140 — same but the user schema omits the
    partition column; resolve_schema appends it."""
    do = RelaxedCsvFileDataObject(
        id="t", path=str(tmp_path / "r6"), partitions=["h1"],
        schema="h2 string, h3 string", filename_column="_filename",
    )
    df1 = spark.createDataFrame([("A", "1", "-"), ("B", "2", None)], "h1 string, h2 string, h3 string")
    pvs = [pv({"h1": "A"}), pv({"h1": "B"})]
    do.write_dataframe(df1, pvs)
    out = do.get_dataframe(spark, pvs).cache()
    assert set(out.columns) == {"h1", "h2", "h3", "_filename"}
    got = {(r["h1"], r["h2"], r["h3"]) for r in out.collect()}
    assert got == {("A", "1", "-"), ("B", "2", None)}


def test_relaxed_header_only_file(spark, tmp_path):
    """RelaxedCsvFileDataObjectTest:160 — a file holding only a header reads
    as an empty frame with the schema's columns."""
    d = tmp_path / "r7"
    d.mkdir()
    (d / "only_header.csv").write_text("h1,h2,h3\n")
    do = RelaxedCsvFileDataObject(id="t", path=str(d), schema="h1 string, h2 string, h3 string")
    out = do.get_dataframe(spark)
    assert out.columns == ["h1", "h2", "h3"]
    assert out.count() == 0


def test_relaxed_empty_file_no_header(spark, tmp_path):
    """RelaxedCsvFileDataObjectTest:178 — zero-byte files read as an empty
    frame with the schema's columns."""
    d = tmp_path / "r8"
    d.mkdir()
    (d / "empty.csv").touch()
    do = RelaxedCsvFileDataObject(id="t", path=str(d), schema="h1 string, h2 string, h3 string")
    out = do.get_dataframe(spark)
    assert out.columns == ["h1", "h2", "h3"]
    assert out.count() == 0


def test_relaxed_bad_csv_permissive_corrupt_record(spark, tmp_path):
    """RelaxedCsvFileDataObjectTest:196 — permissive mode + _corrupt_record
    in the schema: the short row parses partially and is flagged."""
    d = tmp_path / "r9"
    d.mkdir()
    (d / "bad.csv").write_text("\nh1,h2,h3\nA,1\n")
    do = RelaxedCsvFileDataObject(
        id="t", path=str(d),
        schema="h1 string, h2 string, h3 string, _corrupt_record string",
        options={"mode": "permissive"},
    )
    out = do.get_dataframe(spark).cache()
    assert out.columns == ["h1", "h2", "h3", "_corrupt_record"]
    got = {(r["h1"], r["h2"], r["h3"]) for r in out.collect()}
    assert got == {("A", "1", None)}
    assert out.where("_corrupt_record is not null").count() == 1


def test_relaxed_bad_csv_failfast(spark, tmp_path):
    """RelaxedCsvFileDataObjectTest:214 — failfast mode raises on the
    malformed row."""
    d = tmp_path / "r10"
    d.mkdir()
    (d / "bad.csv").write_text("\nh1,h2,h3\nA,1\n")
    do = RelaxedCsvFileDataObject(
        id="t", path=str(d),
        schema="h1 string, h2 string, h3 string",
        options={"mode": "failfast"},
    )
    # collect(), not count(): Spark's csv count() parses zero columns
    # (SPARK-21610 class of behavior), so malformed detection only fires
    # when at least one column is materialized — the result set is the same
    with pytest.raises(Exception):
        do.get_dataframe(spark).collect()


def test_relaxed_bad_csv_dropmalformed(spark, tmp_path):
    """RelaxedCsvFileDataObjectTest:228 — dropmalformed silently drops the
    short row, leaving zero rows."""
    d = tmp_path / "r11"
    d.mkdir()
    (d / "bad.csv").write_text("\nh1,h2,h3\nA,1\n")
    do = RelaxedCsvFileDataObject(
        id="t", path=str(d),
        schema="h1 string, h2 string, h3 string",
        options={"mode": "dropmalformed"},
    )
    out = do.get_dataframe(spark)
    assert out.columns == ["h1", "h2", "h3"]
    # collect() forces column parsing (see failfast twin above for why
    # count() would not exercise malformed-row dropping)
    assert len(out.collect()) == 0


# --------------------------------------------------------------------------
# JsonFileDataObjectTest.scala (3 scenarios)
# --------------------------------------------------------------------------

_JSON_LINES = (
    '{"string":"string1","int":1,"array":[1,2,3],"dict": {"key": "value1"}}\n'
    '{"string":"string2","int":2,"array":[2,4,6],"dict": {"key": "value2"}}\n'
    '{"string":"string3","int":3,"array":[3,6,9],"dict": {"key": "value3", "extra_key": "extra_value3"}}\n'
)


def test_json_stringify(spark, tmp_path):
    """JsonFileDataObjectTest:38 — stringify=true casts every column to
    string (castAll2String)."""
    d = tmp_path / "j1"
    d.mkdir()
    (d / "test.json").write_text(_JSON_LINES)
    do = JsonFileDataObject(
        id="src1", path=str(d), options={"multiLine": "false"}, stringify=True
    )
    out = do.get_dataframe(spark)
    assert out.count() == 3
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("array", "string"), ("dict", "string"), ("int", "string"), ("string", "string"),
    ]


def test_json_default_multiline_parsing(spark, tmp_path):
    """JsonFileDataObjectTest:83 — default options parse a pretty-printed
    (multi-line) JSON document with inferred nested types."""
    d = tmp_path / "j2"
    d.mkdir()
    (d / "test.json").write_text(
        '{\n  "a_string": "string3",\n  "an_int": 3,\n  "array": [3, 6, 9],\n'
        '  "dict": {"key": "value3", "extra_key": "extra_value3"}\n}\n'
    )
    do = JsonFileDataObject(id="src1", path=str(d))
    out = do.get_dataframe(spark)
    assert out.count() == 1
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("a_string", "string"),
        ("an_int", "bigint"),
        ("array", "array<bigint>"),
        ("dict", "struct<extra_key:string,key:string>"),
    ]


def test_json_lines_parsing(spark, tmp_path):
    """JsonFileDataObjectTest:132 — multiLine=false parses JSON Lines with
    inferred nested types."""
    d = tmp_path / "j3"
    d.mkdir()
    (d / "test.json").write_text(_JSON_LINES)
    do = JsonFileDataObject(id="src1", path=str(d), options={"multiLine": "false"})
    out = do.get_dataframe(spark)
    assert out.count() == 3
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("array", "array<bigint>"),
        ("dict", "struct<extra_key:string,key:string>"),
        ("int", "bigint"),
        ("string", "string"),
    ]


# --------------------------------------------------------------------------
# RawFileDataObjectTest.scala (5 scenarios)
# --------------------------------------------------------------------------


def test_raw_schema_fixed_text(spark, tmp_path):
    """RawFileDataObjectTest:43 — customFormat=text yields the fixed
    value(+filename) schema even on an empty dir."""
    d = tmp_path / "raw1"
    d.mkdir()
    do = RawFileDataObject(
        id="t", path=str(d), custom_format="text", filename_column="_filename"
    )
    assert set(do.get_dataframe(spark).columns) == {"value", "_filename"}


def test_raw_schema_fixed_binary(spark, tmp_path):
    """RawFileDataObjectTest:48 — customFormat=binaryFile yields the fixed
    binary schema plus declared partition columns."""
    d = tmp_path / "raw2"
    d.mkdir()
    do = RawFileDataObject(id="t", path=str(d), custom_format="binaryFile", partitions=["a", "b"])
    assert set(do.get_dataframe(spark).columns) == {
        "path", "modificationTime", "length", "content", "a", "b",
    }


def test_raw_initialize_layout_validation(tmp_path):
    """RawFileDataObjectTest:53 — customPartitionLayout requires partitions
    and its tokens must match them exactly."""
    RawFileDataObject(id="s", path="test")
    RawFileDataObject(id="s", path="test", partitions=["test"])
    with pytest.raises(ValueError):
        RawFileDataObject(id="s", path="test", custom_partition_layout="%test%")
    with pytest.raises(ValueError):
        RawFileDataObject(
            id="s", path="test", partitions=["test1"], custom_partition_layout="%test%"
        )
    RawFileDataObject(id="s", path="test", partitions=["test"], custom_partition_layout="%test%")
    RawFileDataObject(
        id="s", path="test", partitions=["test1", "test2"],
        custom_partition_layout="%test1%/abc/%test2%/def",
    )


def test_raw_filerefs_partitions_in_filename(spark, tmp_path):
    """RawFileDataObjectTest:73 — layout AB_%town%_%year:[0-9]+% extracts
    partition values from the FILE NAME; partition filters match/unmatch."""
    d = tmp_path / "raw4"
    d.mkdir()
    (d / "AB_NYC_2019.csv").write_text("x\n")
    do = RawFileDataObject(
        id="t", path=str(d), partitions=["town", "year"],
        custom_partition_layout="AB_%town%_%year:[0-9]+%",
    )
    refs = do.get_file_refs()
    assert [os.path.basename(f) for f in refs] == ["AB_NYC_2019.csv"]
    assert do.extract_partition_values(refs[0]).as_dict == {"town": "NYC", "year": "2019"}
    assert len(do.get_file_refs([pv({"town": "NYC", "year": "2019"})])) == 1
    assert do.get_file_refs([pv({"town": "NYC", "year": "2020"})]) == []
    assert [x.as_dict for x in do.list_partitions(spark)] == [{"town": "NYC", "year": "2019"}]


def test_raw_filerefs_partitions_as_directories(spark, tmp_path):
    """RawFileDataObjectTest:107 — layout %date%/AB_%town%_%year:[0-9]+%
    mixes a directory-level and filename-level partition encoding."""
    d = tmp_path / "raw5" / "20190101"
    d.mkdir(parents=True)
    (d / "AB_NYC_2019.csv").write_text("x\n")
    do = RawFileDataObject(
        id="t", path=str(tmp_path / "raw5"), partitions=["date", "town", "year"],
        custom_partition_layout="%date%/AB_%town%_%year:[0-9]+%",
    )
    refs = do.get_file_refs()
    assert [os.path.basename(f) for f in refs] == ["AB_NYC_2019.csv"]
    assert do.extract_partition_values(refs[0]).as_dict == {
        "date": "20190101", "town": "NYC", "year": "2019",
    }
    assert len(do.get_file_refs([pv({"date": "20190101", "town": "NYC", "year": "2019"})])) == 1
    assert do.get_file_refs([pv({"date": "20190101", "town": "NYC", "year": "2020"})]) == []


# --------------------------------------------------------------------------
# ParquetFileDataObjectTest.scala (4 scenarios)
# --------------------------------------------------------------------------


def test_parquet_write_read_with_files_observation(spark, tmp_path):
    """ParquetFileDataObjectTest:44 — after a write, an exec-phase read can
    report WHICH files fed it (our twin: df.inputFiles from the scan)."""
    do = ParquetFileDataObject(id="p1", path=str(tmp_path / "p1"), filename_column="_filename")
    df = spark.createDataFrame(
        [("string1", 1), ("string2", 2), ("string3", 3)], "str string, number int"
    )
    do.write_dataframe(df)
    out = do.get_dataframe(spark)
    assert out.count() == 3
    assert len(out.inputFiles()) > 0  # processed-files observation non-empty


def test_parquet_files_observation_empty_no_crash(spark, tmp_path):
    """ParquetFileDataObjectTest:61 — no files to process: the init-phase
    read works (schema known) and the no-data signal is detectable; nothing
    crashes."""
    do = ParquetFileDataObject(
        id="p2", path=str(tmp_path / "p2"), filename_column="_filename",
        schema="a int, b string",
    )
    os.makedirs(do.path, exist_ok=True)
    out = do.get_dataframe(spark)  # init-phase semantics: empty frame, stable schema
    assert out.count() == 0
    assert do.is_empty(spark)  # the exec-phase NoData check's primitive


def test_parquet_read_with_connection(spark, tmp_path):
    """ParquetFileDataObjectTest:77 — a DO with a relative path resolves
    under its HadoopFileConnection prefix."""
    from smart_data_lake_spark.dataobjects.file import HadoopFileConnection

    tgt = ParquetFileDataObject(id="tgt1", path=str(tmp_path / "c" / "test"))
    df = spark.createDataFrame(
        [("string1", 1), ("string2", 2), ("string3", 3)], "str string, number int"
    )
    tgt.write_dataframe(df)
    con = HadoopFileConnection(id="con1", path_prefix=str(tmp_path / "c"))
    src = ParquetFileDataObject(id="src1", path="test", connection=con)
    assert src.get_dataframe(spark).count() == 3


def test_parquet_pushdown_filter_reaches_scan(spark, tmp_path):
    """ParquetFileDataObjectTest:101 — a filter applied on top of the DO read
    is pushed into the parquet scan (PushedFilters in the physical plan), so
    an input-count observation placed at the scan sees 0 rows."""
    do = ParquetFileDataObject(id="p4", path=str(tmp_path / "p4"))
    df = spark.createDataFrame(
        [("string1", 1), ("string2", 2), ("string3", 3)], "str string, number int"
    )
    do.write_dataframe(df)
    out = do.get_dataframe(spark).where(F.col("str") == "test")
    assert out.count() == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "str" in plan.split("PushedFilters")[1][:200]


# --------------------------------------------------------------------------
# XmlFileDataObjectTest.scala (5 scenarios; XSD fixtures authored in
# tests/test_schema_providers.py — the reference's are resources it ships)
# --------------------------------------------------------------------------

from smart_data_lake_spark.dataobjects.file import XmlFileDataObject  # noqa: E402
from tests.test_schema_providers import BASKET_XSD, RECURSIVE_XSD  # noqa: E402


def test_xml_files_partitioned(spark, tmp_path):
    """XmlFileDataObjectTest:49 — the xml source cannot write partitions, so
    partition dirs are laid out manually with writeDataFrameToPath, then read
    back partitioned with a filename column."""
    base = tmp_path / "xp"
    df1 = spark.createDataFrame([("A", "1", "-"), ("B", "2", None)], "h1 string, h2 string, h3 string")
    do = XmlFileDataObject(
        id="t", path=str(base), schema="h1 string, h2 string, h3 string",
        filename_column="_filename", n_files_per_partition=1,
    )
    do.write_dataframe_to_path(df1.where("h1 = 'A'").drop("h1"), str(base / "h1=A"))
    do.write_dataframe_to_path(df1.where("h1 = 'B'").drop("h1"), str(base / "h1=B"))
    dop = XmlFileDataObject(
        id="t", path=str(base), partitions=["h1"],
        schema="h1 string, h2 string, h3 string", filename_column="_filename",
    )
    pvs = [pv({"h1": "A"}), pv({"h1": "B"})]
    assert len(dop.get_file_refs(pvs)) == 2
    out1 = dop.get_dataframe(spark, pvs).cache()
    assert set(out1.columns) == {"h1", "h2", "h3", "_filename"}
    got = {(r["h1"], r["h2"], r["h3"]) for r in out1.collect()}
    assert got == {("A", "1", "-"), ("B", "2", None)}
    assert out1.where("_filename is null").count() == 0
    out2 = dop.get_dataframe(spark).cache()
    assert {(r["h1"], r["h2"], r["h3"]) for r in out2.collect()} == got


def test_xml_simple_file_with_xsd_schema(spark, tmp_path):
    """XmlFileDataObjectTest:77 — read a simple XML with a schema derived
    from an XSD (xsdfile provider + rowTag extraction)."""
    d = tmp_path / "xs"
    d.mkdir()
    (d / "basket.xsd").write_text(BASKET_XSD)
    (d / "basket.xml").write_text(
        "<basket>"
        '<entry id="1"><key>apples</key><value>3</value><comment>red</comment></entry>'
        '<entry id="2"><key>pears</key><value>2</value></entry>'
        "</basket>"
    )
    do = XmlFileDataObject(
        id="t", path=str(d / "basket.xml"),
        schema=f"xsdfile#{d}/basket.xsd;basket/entry",
        row_tag="entry",
    )
    out = do.get_dataframe(spark)
    assert out.count() == 2
    rows = {(r["_id"], r["key"], r["value"]) for r in out.collect()}
    assert rows == {(1, "apples", 3), (2, "pears", 2)}


_COMPLEX_XML = (
    "<tree><nodes>"
    "<modified>"
    "<node><name>Test Update L0</name>"
    "<descriptions><description>a</description><description>b</description></descriptions>"
    "<nodes><node><name>Test Update L1</name>"
    "<descriptions><description>c</description><description>d</description></descriptions>"
    "</node></nodes>"
    "</node>"
    "</modified>"
    "<deleted><node><name>Test Delete</name></node></deleted>"
    "</nodes></tree>"
)


def test_xml_complex_recursive(spark, tmp_path):
    """XmlFileDataObjectTest:101 — recursive node schema from XSD, rowTags
    combined from two branches; nested levels check out via explode."""
    d = tmp_path / "xc"
    d.mkdir()
    (d / "complex.xsd").write_text(RECURSIVE_XSD)
    (d / "complex.xml").write_text(_COMPLEX_XML)
    do = XmlFileDataObject(
        id="t", path=str(d / "complex.xml"),
        schema=f"xsdfile#{d}/complex.xsd;tree/nodes/modified/node,tree/nodes/deleted/node;5",
        row_tag="node",
    )
    l0 = (
        do.get_dataframe(spark)
        .withColumn("cntDesc", F.coalesce(F.size("descriptions.description"), F.lit(-1)))
        .withColumn("cntChildren", F.coalesce(F.size("nodes.node"), F.lit(-1)))
        .cache()
    )
    got0 = {(r["name"], r["cntDesc"], r["cntChildren"]) for r in l0.select("name", "cntDesc", "cntChildren").collect()}
    assert got0 == {("Test Update L0", 2, 1), ("Test Delete", -1, -1)}
    l1 = (
        l0.withColumn("child", F.explode("nodes.node"))
        .select("child.*")
        .withColumn("cntDesc", F.coalesce(F.size("descriptions.description"), F.lit(-1)))
        .withColumn("cntChildren", F.coalesce(F.size("nodes.node"), F.lit(-1)))
    )
    got1 = {(r["name"], r["cntDesc"], r["cntChildren"]) for r in l1.select("name", "cntDesc", "cntChildren").collect()}
    assert got1 == {("Test Update L1", 2, -1)}


def test_xml_nested_lists(spark, tmp_path):
    """XmlFileDataObjectTest:141 — nested list elements (descriptions >
    description*) map to an array whose size is checkable."""
    d = tmp_path / "xl"
    d.mkdir()
    (d / "lists.xsd").write_text(RECURSIVE_XSD)
    (d / "lists.xml").write_text(
        "<tree><nodes><modified><node><name>n1</name>"
        "<descriptions><description>x</description><description>y</description></descriptions>"
        "</node></modified></nodes></tree>"
    )
    do = XmlFileDataObject(
        id="t", path=str(d / "lists.xml"),
        schema=f"xsdfile#{d}/lists.xsd;tree/nodes/modified/node;3",
        row_tag="node",
    )
    out = do.get_dataframe(spark)
    sizes = [r[0] for r in out.select(F.size("descriptions.description")).collect()]
    assert sizes == [2]


def test_xml_lazy_schema_file_parsing(spark, tmp_path):
    """XmlFileDataObjectTest:167 — covered in depth by
    test_schema_providers.test_lazy_schema_spec_deferred_to_prepare; this
    twin pins the exact reference shape (xsdfile spec + rowTag + filename
    column, missing file, failure surfaces in prepare not construction)."""
    from smart_data_lake_spark import schema_providers as sp
    from smart_data_lake_spark.config import ConfigError

    old = sp.PARSE_SCHEMA_FILES_LAZY
    sp.PARSE_SCHEMA_FILES_LAZY = True
    try:
        do = XmlFileDataObject(
            id="test", path=str(tmp_path / "t"),
            schema=f"xsdfile#{tmp_path}/test.xsd;TestReport",
            row_tag="TestReport", filename_column="_filename",
        )
        with pytest.raises(ConfigError):
            do.prepare(spark)
    finally:
        sp.PARSE_SCHEMA_FILES_LAZY = old


# --------------------------------------------------------------------------
# HiveTableDataObjectTest.scala (14 scenarios; the "authority restricted
# ACL" scenario is N/A — it needs an HDFS authority config, the ACL plan
# logic itself is covered in test_acl.py) + HiveTableSchemaViolationTest
# (10) + TickTockHiveTableDataObjectTest (1)
# --------------------------------------------------------------------------

import itertools  # noqa: E402

from smart_data_lake_spark.dataobjects.table import (  # noqa: E402
    HiveTableDataObject,
    ParquetTableDataObject,
)

_hive_seq = itertools.count()


def _hive_do(tmp_path, spark, **kw):
    n = next(_hive_seq)
    name = f"hive_parity_{n}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    return HiveTableDataObject(
        id=name, path=str(tmp_path / name), table={"name": name}, **kw
    )


def test_hive_analyze_complex_datatypes(spark, tmp_path):
    """HiveTableDataObjectTest:36 — unpartitioned write with array/struct
    columns + analyzeTableAfterWrite; catalog stats become available."""
    do = _hive_do(tmp_path, spark, analyze_table_after_write=True)
    df = spark.createDataFrame(
        [("a", [1, 2], {"x": 1}), ("b", [3], {"x": 2})],
        "name string, nums array<int>, rec map<string,int>",
    )
    do.write_dataframe(df)
    assert do.get_dataframe(spark).count() == 2
    stats = do.get_stats(spark)
    assert stats.get("catalogNumRows") == 2


def test_hive_analyze_partitions_with_pvs(spark, tmp_path):
    """HiveTableDataObjectTest:50 — partitioned write with declared pvs:
    partition-level ANALYZE runs, table reads back complete."""
    do = _hive_do(tmp_path, spark, partitions=["p"], analyze_table_after_write=True)
    df = spark.createDataFrame([("A", 1), ("B", 2)], "p string, v int")
    do.write_dataframe(df, [pv({"p": "A"}), pv({"p": "B"})])
    assert spark.table(do.table.full_name).count() == 2
    parts = spark.sql(f"SHOW PARTITIONS {do.table.full_name}").collect()
    assert sorted(r[0] for r in parts) == ["p=A", "p=B"]


def test_hive_analyze_partitions_without_pvs(spark, tmp_path):
    """HiveTableDataObjectTest:64 — same but without declared pvs: the
    whole-table ANALYZE path."""
    do = _hive_do(tmp_path, spark, partitions=["p"], analyze_table_after_write=True)
    df = spark.createDataFrame([("A", 1), ("B", 2)], "p string, v int")
    do.write_dataframe(df)
    assert spark.table(do.table.full_name).count() == 2


def test_hive_multi_partition_partial_pvs(spark, tmp_path):
    """HiveTableDataObjectTest:79 — two-level layout, analyze with PARTIAL
    partition values (only the top level bound)."""
    do = _hive_do(tmp_path, spark, partitions=["p1", "p2"], analyze_table_after_write=True)
    df = spark.createDataFrame(
        [("A", "X", 1), ("A", "Y", 2), ("B", "X", 3)], "p1 string, p2 string, v int"
    )
    do.write_dataframe(df, [pv({"p1": "A"}), pv({"p1": "B"})])
    assert spark.table(do.table.full_name).count() == 3


def test_hive_multi_partition_full_pvs(spark, tmp_path):
    """HiveTableDataObjectTest:96 — two-level layout with fully-bound pvs."""
    do = _hive_do(tmp_path, spark, partitions=["p1", "p2"], analyze_table_after_write=True)
    df = spark.createDataFrame(
        [("A", "X", 1), ("A", "Y", 2)], "p1 string, p2 string, v int"
    )
    do.write_dataframe(df, [pv({"p1": "A", "p2": "X"}), pv({"p1": "A", "p2": "Y"})])
    assert spark.table(do.table.full_name).count() == 2


def test_hive_overwrite_only_one_partition(spark, tmp_path):
    """HiveTableDataObjectTest:113 — overwriting pv=[B] keeps partition A."""
    do = _hive_do(tmp_path, spark, partitions=["p"])
    df1 = spark.createDataFrame([("A", 1), ("A", 2), ("B", 3), ("B", 4)], "p string, v int")
    do.write_dataframe(df1, [pv({"p": "A"}), pv({"p": "B"})])
    do.write_dataframe(spark.createDataFrame([("B", 5)], "p string, v int"), [pv({"p": "B"})])
    got = sorted((r["p"], r["v"]) for r in do.get_dataframe(spark).collect())
    assert got == [("A", 1), ("A", 2), ("B", 5)]


def test_hive_overwrite_optimized_one_partition(spark, tmp_path):
    """HiveTableDataObjectTest:139 — OverwriteOptimized with pv=[B]: delete
    + append semantics, partition A intact."""
    do = _hive_do(tmp_path, spark, partitions=["p"])
    df1 = spark.createDataFrame([("A", 1), ("B", 3)], "p string, v int")
    do.write_dataframe(df1, [pv({"p": "A"}), pv({"p": "B"})])
    do.write_dataframe(
        spark.createDataFrame([("B", 9)], "p string, v int"),
        [pv({"p": "B"})],
        save_mode=SaveMode.OVERWRITE_OPTIMIZED,
    )
    got = sorted((r["p"], r["v"]) for r in do.get_dataframe(spark).collect())
    assert got == [("A", 1), ("B", 9)]


def test_hive_create_and_list_partitions(spark, tmp_path):
    """HiveTableDataObjectTest:165/181/198 — one-level, multi-level, and
    declared-empty partition listing on the hive-table layout."""
    one = _hive_do(tmp_path, spark, partitions=["p"])
    one.write_dataframe(
        spark.createDataFrame([("A", 1), ("B", 2)], "p string, v int"),
        [pv({"p": "A"}), pv({"p": "B"})],
    )
    assert sorted(x.as_dict["p"] for x in one.list_partitions(spark)) == ["A", "B"]
    multi = _hive_do(tmp_path, spark, partitions=["p1", "p2"])
    multi.write_dataframe(
        spark.createDataFrame([("A", "X", 1)], "p1 string, p2 string, v int"),
        [pv({"p1": "A", "p2": "X"}), pv({"p1": "E", "p2": "MPTY"})],
    )
    listed = {tuple(sorted(x.as_dict.items())) for x in multi.list_partitions(spark)}
    assert listed == {
        (("p1", "A"), ("p2", "X")),
        (("p1", "E"), ("p2", "MPTY")),  # declared-empty partition materialized
    }


def test_hive_read_nonexisting_path_fails(spark, tmp_path):
    """HiveTableDataObjectTest:214 — no data, no table, no schema: reading
    raises."""
    do = _hive_do(tmp_path, spark)
    with pytest.raises(Exception):
        do.get_dataframe(spark).collect()


def test_hive_path_required_if_table_missing(spark):
    """HiveTableDataObjectTest:257 — an external hive DO without a path is a
    construction error (managed mode is the explicit alternative)."""
    with pytest.raises(ValueError):
        HiveTableDataObject(id="nopath", table={"name": "nopath"})


def test_hive_overwrite_optimized_requires_pvs(spark, tmp_path):
    """HiveTableDataObjectTest:264 — same guard as the file layer."""
    do = _hive_do(tmp_path, spark, partitions=["p1", "p2"], save_mode=SaveMode.OVERWRITE_OPTIMIZED)
    df = spark.createDataFrame([("A", "X", 1)], "p1 string, p2 string, v int")
    with pytest.raises(ProcessingLogicError):
        do.write_dataframe(df, partition_values=[])


# ---- HiveTableSchemaViolationTest.scala (10) ------------------------------


def _hive_with_min(tmp_path, spark, schema_min):
    return _hive_do(tmp_path, spark, schema_min=schema_min)


def test_hive_schema_min_read_matrix(spark, tmp_path):
    """HiveTableSchemaViolationTest:48-105 — read side: equal schema, equal
    ignoring nullability, subset all valid; missing column and wrong type
    raise."""
    writer = _hive_do(tmp_path, spark)
    df = spark.createDataFrame([(1, "a", 1.5)], "id int, name string, score double")
    writer.write_dataframe(df)
    path = writer.path
    for ok_min in ("id int, name string, score double", "id int", "name string, id int"):
        HiveTableDataObject(
            id=writer.id, path=path, table={"name": writer.table.name}, schema_min=ok_min
        ).get_dataframe(spark).collect()
    for bad_min in ("missing string", "id string"):
        with pytest.raises(SchemaViolationError):
            HiveTableDataObject(
                id=writer.id, path=path, table={"name": writer.table.name}, schema_min=bad_min
            ).get_dataframe(spark)


def test_hive_schema_min_read_ignores_nested_nullability(spark, tmp_path):
    """HiveTableSchemaViolationTest:61 — nullability differences at nested
    levels do not violate schemaMin."""
    writer = _hive_do(tmp_path, spark)
    df = spark.createDataFrame([(1, [1, 2])], "id int, nums array<int>")
    writer.write_dataframe(df)
    ok = HiveTableDataObject(
        id=writer.id, path=writer.path, table={"name": writer.table.name},
        schema_min=T.StructType(
            [T.StructField("nums", T.ArrayType(T.IntegerType(), containsNull=False), False)]
        ),
    )
    ok.get_dataframe(spark).collect()  # must not raise despite containsNull diff


def test_hive_schema_min_write_matrix(spark, tmp_path):
    """HiveTableSchemaViolationTest:122-211 — write side: same matrix,
    including the managed (saveAsTable/insertInto) path."""
    df = spark.createDataFrame([(1, "a", 1.5)], "id int, name string, score double")
    for ok_min in ("id int, name string, score double", "id int", "name string, id int"):
        _hive_with_min(tmp_path, spark, ok_min).write_dataframe(df)
    for bad_min in ("missing string", "id string"):
        with pytest.raises(SchemaViolationError):
            _hive_with_min(tmp_path, spark, bad_min).write_dataframe(df)
    # managed path validates too
    n = next(_hive_seq)
    managed = HiveTableDataObject(
        id=f"hive_parity_{n}", managed=True, table={"name": f"hive_parity_{n}"},
        schema_min="missing string",
    )
    with pytest.raises(SchemaViolationError):
        managed.write_dataframe(df)


def test_ticktock_empty_frame_from_schema_min(spark, tmp_path):
    """TickTockHiveTableDataObjectTest:49 — a never-written table with a
    schemaMin reads as an empty frame with that schema (snapshot-based
    ParquetTable replaces TickTock's alternating paths)."""
    do = ParquetTableDataObject(
        id="tt", path=str(tmp_path / "tt"), schema_min="a int, b string"
    )
    out = do.get_dataframe(spark)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["a", "b"]


# --------------------------------------------------------------------------
# CustomDfDataObjectTest.scala (6) + CustomFileDataObjectTest (1)
# --------------------------------------------------------------------------

from smart_data_lake_spark.dataobjects.custom import (  # noqa: E402
    ActionsExporterDataObject,
    CustomDfDataObject,
    CustomFileDataObject,
    DataObjectsExporterDataObject,
    PKViolatorsDataObject,
)


def _exec_creator(spark):
    return spark.createDataFrame([("a", 1), ("b", 2)], "name string, cnt int")


def test_custom_df_init_with_schema_method(spark):
    """CustomDfDataObjectTest:35/60 — init phase with a schema method:
    schema comes from the schema method, zero rows."""
    do = CustomDfDataObject(
        id="c", creator=_exec_creator,
        schema_creator=lambda spark: "name string, cnt int",
    )
    out = do.get_dataframe(spark, phase="init")
    assert [f.name for f in out.schema.fields] == ["name", "cnt"]
    assert out.count() == 0


def test_custom_df_exec_with_schema_method(spark):
    """CustomDfDataObjectTest:48/73 — exec phase returns the exec creator's
    rows and schema."""
    do = CustomDfDataObject(
        id="c", creator=_exec_creator,
        schema_creator=lambda spark: "name string, cnt int",
    )
    out = do.get_dataframe(spark, phase="exec")
    assert out.count() == 2


def test_custom_df_no_schema_method(spark):
    """CustomDfDataObjectTest:85/98 — without a schema method BOTH phases run
    the exec creator."""
    do = CustomDfDataObject(id="c", creator=_exec_creator)
    assert do.get_dataframe(spark, phase="init").count() == 2
    assert do.get_dataframe(spark, phase="exec").count() == 2


def test_custom_file_input_stream_contents(tmp_path):
    """CustomFileDataObjectTest:33 — the creator's bytes ARE the file."""
    do = CustomFileDataObject(
        id="cf", creator=lambda: b"hello-bytes", path=str(tmp_path), file_name="x.bin"
    )
    target = do.materialize()
    with open(target, "rb") as fh:
        assert fh.read() == b"hello-bytes"


# --------------------------------------------------------------------------
# PKViolatorsDataObjectTest.scala (3)
# --------------------------------------------------------------------------

from smart_data_lake_spark.config import InstanceRegistry  # noqa: E402
from smart_data_lake_spark.dataobjects.memory import MockDataObject  # noqa: E402


def _non_unique_with_null(spark):
    return spark.createDataFrame(
        [("0let", None), ("1let", "singlet"),
         ("2let", "doublet"), ("2let", "doublet"),
         ("3let", "triplet"), ("3let", "triplet"), ("3let", "triplet"),
         ("4let", "quatriplet"), ("4let", "quatriplet"), ("4let", "quatriplet"), ("4let", "quatriplet")],
        "id string, value string",
    )


def test_pk_violators_normal(spark):
    """PKViolatorsDataObjectTest:44 — PK=id: one output row per violating
    record (2+3+4=9), null id absent, key/other columns as KV arrays."""
    reg = InstanceRegistry()
    src = reg.register_data_object(MockDataObject(id="source_tableDO", primary_key=["id"]))
    src.write_dataframe(_non_unique_with_null(spark))
    out = PKViolatorsDataObject(id="pkViol", registry=reg, row_level=True).get_dataframe(spark)
    rows = out.collect()
    assert len(rows) == 9
    ids = sorted(r["pk"][0]["value"] for r in rows)
    assert ids == ["2let"] * 2 + ["3let"] * 3 + ["4let"] * 4
    assert all(r["pk"][0]["name"] == "id" for r in rows)
    assert all(r["other_columns"][0]["name"] == "value" for r in rows)
    assert rows[0]["data_object_id"] == "source_tableDO"


def test_pk_violators_null_values(spark):
    """PKViolatorsDataObjectTest:72 — PK=(id,value): the null-valued key
    row IS a violation; 2+3+4+1 = 10 rows, no other columns left."""
    reg = InstanceRegistry()
    src = reg.register_data_object(
        MockDataObject(id="pk_id_valueDO", primary_key=["id", "value"])
    )
    src.write_dataframe(_non_unique_with_null(spark))
    out = PKViolatorsDataObject(id="pkViol", registry=reg, row_level=True).get_dataframe(spark)
    rows = out.collect()
    assert len(rows) == 10
    nulls = [r for r in rows if r["pk"][1]["value"] is None]
    assert len(nulls) == 1 and nulls[0]["pk"][0]["value"] == "0let"
    assert all(r["other_columns"] == [] for r in rows)


def test_pk_violators_multiple_sources(spark):
    """PKViolatorsDataObjectTest:101 — several registered sources: tables
    without a PK are skipped, the rest union."""
    reg = InstanceRegistry()
    a = reg.register_data_object(MockDataObject(id="aDO", primary_key=["id"]))
    a.write_dataframe(_non_unique_with_null(spark))
    b = reg.register_data_object(MockDataObject(id="no_pkDO"))
    b.write_dataframe(_non_unique_with_null(spark))
    c = reg.register_data_object(MockDataObject(id="cDO", primary_key=["id", "value"]))
    c.write_dataframe(_non_unique_with_null(spark))
    out = PKViolatorsDataObject(id="pkViol", registry=reg, row_level=True).get_dataframe(spark)
    per_source = {r["data_object_id"] for r in out.collect()}
    assert per_source == {"aDO", "cDO"}  # no_pkDO skipped
    assert out.count() == 9 + 10


# --------------------------------------------------------------------------
# ExportMetadataDataObjectTest.scala (4)
# --------------------------------------------------------------------------


def test_dataobjects_export_from_registry(spark, tmp_path):
    """ExportMetadataDataObjectTest:28 — id, metadata name/description and
    connectionId are exported from the live registry."""
    from smart_data_lake_spark.dataobjects.file import HadoopFileConnection

    reg = InstanceRegistry()
    con = HadoopFileConnection(id="con1", path_prefix=str(tmp_path))
    reg.register_connection("con1", con)
    reg.register_data_object(
        CsvFileDataObject(
            id="do1", path="rel", connection=con,
            metadata={"name": "Test DataObject", "description": "For Testing"},
        )
    )
    df = DataObjectsExporterDataObject(id="exp", registry=reg).get_dataframe(spark)
    row = df.first()
    assert row["id"] == "do1"
    assert row["name"] == "Test DataObject"
    assert row["description"] == "For Testing"
    assert row["connectionId"] == "con1"


def test_dataobjects_export_from_config(spark, tmp_path):
    """ExportMetadataDataObjectTest:45 — exporter pointed at a CONFIG FILE
    parses it and exports the objects defined there."""
    conf = tmp_path / "cfg.conf"
    conf.write_text(
        """
        dataObjects {
          testDataObjectFromConfig {
            type = CsvFileDataObject
            path = "%s/some.csv"
            metadata { name = "Test DataObject From Config", description = "Loaded from a Test Config" }
          }
        }
        actions {}
        """
        % tmp_path
    )
    df = DataObjectsExporterDataObject(id="exp", config=str(conf)).get_dataframe(spark)
    row = df.first()
    assert row["id"] == "testDataObjectFromConfig"
    assert row["name"] == "Test DataObject From Config"
    assert row["description"] == "Loaded from a Test Config"


def test_actions_export_from_registry(spark, tmp_path):
    """ExportMetadataDataObjectTest:59 — actions export with metadata."""
    from smart_data_lake_spark.actions.copy import CopyAction

    reg = InstanceRegistry()
    reg.register_data_object(CsvFileDataObject(id="s", path=str(tmp_path / "s")))
    reg.register_data_object(CsvFileDataObject(id="t", path=str(tmp_path / "t")))
    CopyAction(  # self-registers via the registry argument
        id="a1", input_id="s", output_id="t", registry=reg,
        metadata={"name": "Test Action", "description": "For Testing"},
    )
    df = ActionsExporterDataObject(id="exp", registry=reg).get_dataframe(spark)
    row = df.first()
    assert row["id"] == "a1" and row["name"] == "Test Action"
    assert row["input_ids"] == "s" and row["output_ids"] == "t"


def test_actions_export_from_config(spark, tmp_path):
    """ExportMetadataDataObjectTest:81 — actions exported from a config
    location."""
    conf = tmp_path / "cfg2.conf"
    conf.write_text(
        """
        dataObjects {
          s { type = CsvFileDataObject, path = "%(p)s/s" }
          t { type = CsvFileDataObject, path = "%(p)s/t" }
        }
        actions {
          actionFromConfig {
            type = CopyAction
            inputId = s
            outputId = t
            metadata { name = "Action From Config" }
          }
        }
        """
        % {"p": tmp_path}
    )
    df = ActionsExporterDataObject(id="exp", config=str(conf)).get_dataframe(spark)
    row = df.first()
    assert row["id"] == "actionFromConfig" and row["name"] == "Action From Config"


# --------------------------------------------------------------------------
# ExcelFileDataObjectTest.scala (4 scenarios; the HSSF .xls legacy binary
# format is out of scope — the codec here is the OOXML .xlsx one, so the
# skip/limit scenario runs on xlsx with the same options)
# --------------------------------------------------------------------------

import datetime as _dt  # noqa: E402

from smart_data_lake_spark.dataobjects import ExcelFileDataObject  # noqa: E402
from smart_data_lake_spark.dataobjects.xlsx import write_xlsx_bytes  # noqa: E402


def _workbook(path, rows, columns=("a_a", "bb", "ccc", "dd", "e"), sheet="Sheet1"):
    data = write_xlsx_bytes(list(columns), [list(r) for r in rows], sheet_name=sheet)
    with open(path, "wb") as fh:
        fh.write(data)


def test_excel_date_and_types(spark, tmp_path):
    """ExcelFileDataObjectTest:76 — a sheet with int/bool/date/timestamp/
    string cells reads back with faithful values."""
    target = tmp_path / "d.xlsx"
    stamp = _dt.datetime(2018, 11, 5, 10, 50, 49)
    _workbook(target, [(42, True, _dt.date(2018, 11, 5), stamp, "Lorem Ipsum")] * 3)
    out = ExcelFileDataObject(id="x", path=str(target)).get_dataframe(spark)
    rows = out.collect()
    assert len(rows) == 3
    r = rows[0]
    assert r["a_a"] == 42 and r["bb"] is True and r["e"] == "Lorem Ipsum"
    assert str(r["dd"]).startswith("2018-11-05 10:50:49")
    assert rows[1] == rows[0]


def test_excel_skip_and_limit_rows(spark, tmp_path):
    """ExcelFileDataObjectTest:94 — rowLimit + start/end column return only
    the wanted window."""
    target = tmp_path / "s.xlsx"
    _workbook(target, [(i, True, f"c{i}", f"d{i}", f"e{i}") for i in range(5)])
    out = ExcelFileDataObject(
        id="x", path=str(target), row_limit=1, start_column="A", end_column="E"
    ).get_dataframe(spark)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["a_a"] == 0
    narrowed = ExcelFileDataObject(
        id="x", path=str(target), start_column="B", end_column="C"
    ).get_dataframe(spark)
    assert narrowed.columns == ["bb", "ccc"]


def test_excel_multiple_workbooks_folder(spark, tmp_path):
    """ExcelFileDataObjectTest:127 — a folder of workbooks reads as one
    frame."""
    d = tmp_path / "many"
    d.mkdir()
    _workbook(d / "w1.xlsx", [(1, True, "a", "b", "c")])
    _workbook(d / "w2.xlsx", [(2, False, "d", "e", "f")])
    out = ExcelFileDataObject(id="x", path=str(d)).get_dataframe(spark)
    assert sorted(r["a_a"] for r in out.collect()) == [1, 2]


def test_excel_partitioned_workbooks(spark, tmp_path):
    """ExcelFileDataObjectTest:154 — workbooks under hive-style partition
    dirs: partition column appended, partition filter prunes files."""
    base = tmp_path / "pxl"
    for p, v in (("A", 1), ("B", 2)):
        (base / f"p={p}").mkdir(parents=True)
        _workbook(base / f"p={p}" / "w.xlsx", [(v, True, "x", "y", "z")])
    do = ExcelFileDataObject(id="x", path=str(base), partitions=["p"])
    out = do.get_dataframe(spark)
    got = sorted((r["p"], r["a_a"]) for r in out.collect())
    assert got == [("A", 1), ("B", 2)]
    only_b = do.get_dataframe(spark, [pv({"p": "B"})])
    assert [(r["p"], r["a_a"]) for r in only_b.collect()] == [("B", 2)]


# --------------------------------------------------------------------------
# expectations/ValidateOnReadTest.scala (4) + UniqueKeyExpectationTest (2)
# --------------------------------------------------------------------------

from smart_data_lake_spark.expectations import (  # noqa: E402
    ExpectationScope,
    ExpectationValidationError,
    SQLExpectation,
    UniqueKeyExpectation,
)


def _validate_on_read_rig(spark, tmp_path, scope, on_source):
    """Two-action chain src -> tgt1 -> tgt2; the countTest expectation sits
    on src (pure source) or tgt1 (written by ca1) depending on `on_source`."""
    from smart_data_lake_spark.actions.copy import CopyAction
    from smart_data_lake_spark.subfeed import SparkSubFeed

    reg = InstanceRegistry()
    exp = [SQLExpectation(name="countTest", aggExpression="count(lastname)",
                          expectation="> 5", scope=scope)]
    src = reg.register_data_object(
        MockDataObject(id="src1", expectations=exp if on_source else None)
    )
    tgt1 = reg.register_data_object(
        MockDataObject(id="tgt1", expectations=None if on_source else exp)
    )
    reg.register_data_object(MockDataObject(id="tgt2"))
    CopyAction(id="ca1", input_id="src1", output_id="tgt1", registry=reg)
    ca2 = CopyAction(id="ca2", input_id="tgt1", output_id="tgt2", registry=reg)
    df = spark.createDataFrame(
        [("jonson", "rob", 5), ("doe", "bob", 3)], "lastname string, firstname string, rating int"
    )
    (src if on_source else tgt1).write_dataframe(df)
    return reg, ca2, SparkSubFeed(data_object_id="tgt1", partition_values=[])


@pytest.mark.parametrize("scope", [ExpectationScope.JOB, ExpectationScope.ALL])
def test_dont_validate_on_read_when_object_is_an_output(spark, tmp_path, scope):
    """ValidateOnReadTest:47/51 — tgt1 is ca1's output, so its expectations
    are NOT validated when ca2 reads it; ca2 succeeds despite count<=5."""
    reg, ca2, subfeed = _validate_on_read_rig(spark, tmp_path, scope, on_source=False)
    assert reg.data_object_ids_to_validate_on_read() == []
    assert not reg.should_validate_data_object_on_read("tgt1")
    out = ca2.exec(spark, [subfeed])
    assert out[0].metrics["count"] == 2  # succeeded


@pytest.mark.parametrize("scope", [ExpectationScope.JOB, ExpectationScope.ALL])
def test_validate_on_read_when_pure_source(spark, tmp_path, scope):
    """ValidateOnReadTest:82/86 — an expectations-carrying PURE SOURCE is
    validated on read: reading 2 rows violates count(lastname) > 5."""
    from smart_data_lake_spark.actions.copy import CopyAction
    from smart_data_lake_spark.subfeed import SparkSubFeed

    reg = InstanceRegistry()
    exp = [SQLExpectation(name="countTest", aggExpression="count(lastname)",
                          expectation="> 5", scope=scope)]
    src = reg.register_data_object(MockDataObject(id="src1", expectations=exp))
    reg.register_data_object(MockDataObject(id="tgt1"))
    ca1 = CopyAction(id="ca1", input_id="src1", output_id="tgt1", registry=reg)
    src.write_dataframe(
        spark.createDataFrame([("jonson", "rob", 5), ("doe", "bob", 3)],
                              "lastname string, firstname string, rating int")
    )
    assert reg.should_validate_data_object_on_read("src1")
    with pytest.raises(ExpectationValidationError):
        ca1.exec(spark, [SparkSubFeed(data_object_id="src1", partition_values=[])])


def test_unique_key_expectation_job_scope(spark, tmp_path):
    """UniqueKeyExpectationTest:47 — PK-uniqueness expectation on the write:
    unique data passes, a duplicate key fails the action."""
    from smart_data_lake_spark.actions.copy import CopyAction
    from smart_data_lake_spark.subfeed import SparkSubFeed

    def rig(rows):
        reg = InstanceRegistry()
        src = reg.register_data_object(MockDataObject(id="s"))
        reg.register_data_object(
            MockDataObject(
                id="t",
                expectations=[
                    UniqueKeyExpectation(name="pkTest", key_cols=["id"], expectation="= 1",
                                         scope=ExpectationScope.JOB)
                ],
            )
        )
        a = CopyAction(id="a", input_id="s", output_id="t", registry=reg)
        src.write_dataframe(spark.createDataFrame(rows, "id int, v string"))
        return a

    ok = rig([(1, "x"), (2, "y")])
    ok.exec(spark, [SparkSubFeed(data_object_id="s", partition_values=[])])
    bad = rig([(1, "x"), (1, "y")])
    with pytest.raises(ExpectationValidationError):
        bad.exec(spark, [SparkSubFeed(data_object_id="s", partition_values=[])])


def test_unique_key_expectation_all_scope(spark, tmp_path):
    """UniqueKeyExpectationTest:83 — scope=All checks uniqueness over the
    WHOLE table after the write (appended duplicate across jobs fails)."""
    from smart_data_lake_spark.actions.copy import CopyAction
    from smart_data_lake_spark.subfeed import SparkSubFeed
    from smart_data_lake_spark.save_modes import SaveMode as SM

    reg = InstanceRegistry()
    src = reg.register_data_object(MockDataObject(id="s"))
    reg.register_data_object(
        MockDataObject(
            id="t",
            expectations=[
                UniqueKeyExpectation(name="pkTest", key_cols=["id"], expectation="= 1",
                                     scope=ExpectationScope.ALL)
            ],
        )
    )
    a = CopyAction(id="a", input_id="s", output_id="t", registry=reg, save_mode=SM.APPEND)
    src.write_dataframe(spark.createDataFrame([(1, "x")], "id int, v string"))
    a.exec(spark, [SparkSubFeed(data_object_id="s", partition_values=[])])
    # second job appends the same key -> whole-table uniqueness violated
    src.write_dataframe(spark.createDataFrame([(1, "y")], "id int, v string"))
    with pytest.raises(ExpectationValidationError):
        a.exec(spark, [SparkSubFeed(data_object_id="s", partition_values=[])])


# --------------------------------------------------------------------------
# HousekeepingModeTest.scala — rows 1-2 (retention / archive-compaction on a
# file DO) live in test_modes_and_quality + test_compaction; row 3 is the
# HiveTableDataObject variant:
# --------------------------------------------------------------------------


def test_housekeeping_archive_compaction_hive_table(spark, tmp_path):
    """HousekeepingModeTest:101 — PartitionArchiveCompactionMode attached to
    a Hive table DO compacts/archives partitions through post_write."""
    from smart_data_lake_spark.housekeeping import PartitionArchiveCompactionMode

    mode = PartitionArchiveCompactionMode(
        archive_partition_expression="map('p', concat('archive_', elements['p']))",
        compact_partition_expression="false",
    )
    n = next(_hive_seq)
    name = f"hive_parity_{n}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    do = HiveTableDataObject(
        id=name, path=str(tmp_path / name), table={"name": name},
        partitions=["p"], housekeeping_mode=mode,
    )
    do.write_dataframe(
        spark.createDataFrame([("A", 1), ("B", 2)], "p string, v int"),
        [pv({"p": "A"}), pv({"p": "B"})],
    )
    mode.post_write(spark, do)
    listed = sorted(x.as_dict["p"] for x in do.list_partitions(spark))
    assert listed == ["archive_A", "archive_B"]
    assert do.get_dataframe(spark).count() == 2


# --------------------------------------------------------------------------
# JdbcTableDataObjectTest.scala (11 scenarios) — via the DuckDB contract
# double (tests/jdbc_double.py): product semantics, embedded SQL engine
# --------------------------------------------------------------------------

import duckdb  # noqa: E402

from tests.jdbc_double import DuckDbJdbcTableDataObject  # noqa: E402


@pytest.fixture()
def ddb():
    con = duckdb.connect()
    yield con
    con.close()


def _jdo(con, name="t1", **kw):
    return DuckDbJdbcTableDataObject(id=name, con=con, table={"name": name, **kw.pop("tbl", {})}, **kw)


def test_jdbc_write_and_read(spark, ddb):
    """JdbcTableDataObjectTest:35 — overwrite write then read back."""
    do = _jdo(ddb)
    df = spark.createDataFrame([("ext", "doe", 5)], "type string, lastname string, rating int")
    do.write_dataframe(df)
    out = do.get_dataframe(spark)
    assert [tuple(r) for r in out.collect()] == [("ext", "doe", 5)]


def test_jdbc_case_insensitive_read(spark, ddb):
    """JdbcTableDataObjectTest:47 — table name case differences resolve."""
    do = _jdo(ddb, name="CaseTest")
    do.write_dataframe(spark.createDataFrame([(1,)], "id int"))
    lower = DuckDbJdbcTableDataObject(id="lc", con=ddb, table={"name": "casetest"})
    assert lower.get_dataframe(spark).count() == 1


def test_jdbc_pre_post_sql(spark, ddb):
    """JdbcTableDataObjectTest:61 — pre/postReadSql and pre/postWriteSql run
    around the respective operations."""
    ddb.execute("CREATE TABLE log(evt VARCHAR)")
    do = _jdo(
        ddb,
        pre_read_sql="INSERT INTO log VALUES ('preRead')",
        post_read_sql="INSERT INTO log VALUES ('postRead')",
        pre_write_sql="INSERT INTO log VALUES ('preWrite')",
        post_write_sql="INSERT INTO log VALUES ('postWrite')",
    )
    do.write_dataframe(spark.createDataFrame([(1,)], "id int"))
    do.get_dataframe(spark).collect()
    do.post_read(spark, [])  # the action layer fires this after exec reads
    evts = [r[0] for r in ddb.execute("SELECT evt FROM log").fetchall()]
    assert evts == ["preWrite", "postWrite", "preRead", "postRead"]


def test_jdbc_is_table_existing_includes_views(spark, ddb):
    """JdbcTableDataObjectTest:123 — isTableExisting is true for views too."""
    ddb.execute("CREATE TABLE base(id INTEGER)")
    ddb.execute("CREATE VIEW v1 AS SELECT * FROM base")
    assert _jdo(ddb, name="base").is_table_existing()
    assert _jdo(ddb, name="v1").is_table_existing()
    assert not _jdo(ddb, name="nope").is_table_existing()


def test_jdbc_virtual_partitions(spark, ddb):
    """JdbcTableDataObjectTest:153 — virtual partitions = SELECT DISTINCT
    over the partition column."""
    do = _jdo(ddb, partitions=["abc"])
    do.write_dataframe(
        spark.createDataFrame([("A", 1), ("B", 2), ("A", 3)], "abc string, v int")
    )
    assert [p.as_dict for p in do.list_partitions()] == [{"abc": "A"}, {"abc": "B"}]


def test_jdbc_virtual_partitions_quoted_identifier(spark, ddb):
    """JdbcTableDataObjectTest:170 — a mixed-case partition column is quoted
    in the DISTINCT listing."""
    ddb.execute('CREATE TABLE q1("Abc" VARCHAR, v INTEGER)')
    ddb.execute("INSERT INTO q1 VALUES ('X', 1), ('Y', 2)")
    do = _jdo(ddb, name="q1", partitions=["Abc"])
    assert [p.as_dict for p in do.list_partitions()] == [{"Abc": "X"}, {"Abc": "Y"}]


def test_jdbc_savemode_merge(spark, ddb):
    """JdbcTableDataObjectTest:186 — merge updates matched keys and inserts
    new ones (engine-side upsert SQL, staged)."""
    do = _jdo(ddb, tbl={"primary_key": ["id"]})
    do.write_dataframe(spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"))
    do.merge_dataframe_by_primary_key(
        spark.createDataFrame([(2, "B"), (3, "c")], "id int, v string")
    )
    out = sorted(tuple(r) for r in do.get_dataframe(spark).collect())
    assert out == [(1, "a"), (2, "B"), (3, "c")]


def test_jdbc_merge_with_schema_evolution(spark, ddb):
    """JdbcTableDataObjectTest:215 — merge with a NEW source column: the
    target table is ALTERed, old rows read NULL."""
    do = _jdo(ddb, tbl={"primary_key": ["id"]})
    do.write_dataframe(spark.createDataFrame([(1, "a")], "id int, v string"))
    do.merge_dataframe_by_primary_key(
        spark.createDataFrame([(2, "b", 9.5)], "id int, v string, score double"),
        allow_schema_evolution=True,
    )
    out = {r["id"]: (r["v"], r["score"]) for r in do.get_dataframe(spark).collect()}
    assert out[1] == ("a", None) and out[2] == ("b", 9.5)


def test_jdbc_incremental_output_mode(spark, ddb):
    """JdbcTableDataObjectTest:247 — compare-column high watermark: state
    from the first read filters the second to new rows only."""
    do = _jdo(ddb, incremental_output_expr="id")
    do.write_dataframe(spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"))
    do.set_state(None)
    assert do.get_dataframe(spark).count() == 2
    state = do.get_state()
    assert state == 2
    ddb.execute("INSERT INTO t1 VALUES (3, 'c')")
    do.set_state(state)
    rows = do.get_dataframe(spark).collect()
    assert [r["id"] for r in rows] == [3]
    assert do.get_state() == 3


def test_jdbc_write_different_column_order(spark, ddb):
    """JdbcTableDataObjectTest:280 — a source with permuted columns is
    realigned BY NAME before the position-based insert."""
    do = _jdo(ddb)
    do.write_dataframe(spark.createDataFrame([(1, "a")], "id int, v string"))
    do.write_dataframe(spark.createDataFrame([("b", 2)], "v string, id int"))
    out = [tuple(r) for r in do.get_dataframe(spark).collect()]
    assert out == [(2, "b")]


def test_jdbc_direct_table_overwrite_keeps_object(spark, ddb):
    """JdbcTableDataObjectTest:294 — overwrite never drops the target
    object: a dependent view survives the rewrite."""
    do = _jdo(ddb, direct_table_overwrite=True)
    do.write_dataframe(spark.createDataFrame([(1, "a")], "id int, v string"))
    ddb.execute("CREATE VIEW dep AS SELECT * FROM t1")
    do.write_dataframe(spark.createDataFrame([(2, "b")], "id int, v string"))
    assert ddb.execute("SELECT * FROM dep").fetchall() == [(2, "b")]


def test_parquet_empty_sources_embedded_schema(spark, tmp_path):
    """SparkFileDataObjectSchemaBehavior.readEmptySourcesWithEmbeddedSchema
    (applied by ParquetFileDataObjectTest) — a zero-row parquet source reads
    as an empty frame with the EMBEDDED schema (no user schema needed), and
    a user-defined schema wins when given."""
    do = ParquetFileDataObject(id="p", path=str(tmp_path / "p"))
    do.write_dataframe(spark.createDataFrame([], "a int, b string"))
    out = do.get_dataframe(spark)
    assert out.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("a", "int"), ("b", "string"),
    ]
    user = ParquetFileDataObject(id="p2", path=do.path, schema="a int, b string, c double")
    out2 = user.get_dataframe(spark)
    assert out2.columns == ["a", "b", "c"] and out2.count() == 0


# --------------------------------------------------------------------------
# util/hdfs/PartitionLayoutTest.scala (5) + PartitionValuesTest.scala (6)
# --------------------------------------------------------------------------

from smart_data_lake_spark.partitions import (  # noqa: E402
    check_expected_partition_values,
    extract_partition_values_from_path,
    hadoop_partition_layout,
    layout_tokens,
    partition_values_ordering,
    render_partition_string,
)

_LAYOUT = "abc/date%date:[0-9]+-[0-9]+-[0-9]+%-%type%-"


def test_layout_extract_tokens():
    """PartitionLayoutTest:26 — token names in order."""
    assert layout_tokens(_LAYOUT) == ["date", "type"]


def test_layout_render_partition_string():
    """PartitionLayoutTest:33 — pv + layout → concrete string."""
    out = render_partition_string(_LAYOUT, pv({"date": "2000-01-01", "type": "ZZ"}))
    assert out == "abc/date2000-01-01-ZZ-"


def test_layout_extract_partition_values():
    """PartitionLayoutTest:41 — parse values back out of a concrete path."""
    got = extract_partition_values_from_path(_LAYOUT, "abc/date2000-01-01-ZZ-test.csv")
    assert got.as_dict == {"date": "2000-01-01", "type": "ZZ"}


def test_layout_hadoop_layout_roundtrip():
    """PartitionLayoutTest:49 — the hive layout a=%a%/b=%b%/ extracts from
    a standard partition path."""
    layout = hadoop_partition_layout(["a", "b"])
    got = extract_partition_values_from_path(layout, "a=1/b=2/test.csv")
    assert got.as_dict == {"a": "1", "b": "2"}


def test_layout_extract_fails_on_prefix_mismatch():
    """PartitionLayoutTest:57 — a path not STARTING with the layout yields
    no partition values (our None ≙ the reference's exception)."""
    layout = hadoop_partition_layout(["a", "b"])
    assert extract_partition_values_from_path(layout, "test/a=1/b=2/test.csv") is None


def test_pv_sorting_one_column():
    """PartitionValuesTest:26."""
    pvs = [pv({"dt": "20181201"}), pv({"dt": "20170101"})]
    assert sorted(pvs, key=partition_values_ordering(["dt"])) == [
        pv({"dt": "20170101"}), pv({"dt": "20181201"}),
    ]


def test_pv_sorting_two_columns():
    """PartitionValuesTest:35 — precedence order, stability on partial
    orderings, tolerance of extra ordering columns."""
    seq = [
        pv({"dt": "20181201", "cnt": 2}),
        pv({"cnt": 2, "dt": "20170101"}),
        pv({"dt": "20181201", "cnt": 1}),
    ]
    assert sorted(seq, key=partition_values_ordering(["dt", "cnt"])) == [
        pv({"dt": "20170101", "cnt": 2}),
        pv({"dt": "20181201", "cnt": 1}),
        pv({"dt": "20181201", "cnt": 2}),
    ]
    assert sorted(seq, key=partition_values_ordering(["cnt", "dt"])) == [
        pv({"dt": "20181201", "cnt": 1}),
        pv({"dt": "20170101", "cnt": 2}),
        pv({"dt": "20181201", "cnt": 2}),
    ]
    # ordering on a subset keeps original relative order of ties
    assert sorted(seq, key=partition_values_ordering(["dt"])) == [
        pv({"dt": "20170101", "cnt": 2}),
        pv({"dt": "20181201", "cnt": 2}),
        pv({"dt": "20181201", "cnt": 1}),
    ]
    # extra (absent) ordering columns are ignored
    assert sorted(seq, key=partition_values_ordering(["dt", "cnt", "test"])) == [
        pv({"dt": "20170101", "cnt": 2}),
        pv({"dt": "20181201", "cnt": 1}),
        pv({"dt": "20181201", "cnt": 2}),
    ]


def test_pv_check_expected():
    """PartitionValuesTest:71 — coverage of expected by actual, coarser
    expectations matching finer actuals, asymmetry."""
    p3 = [pv({"date": "20190101", "town": "NYC", "year": "2019"})]
    p3a = [pv({"date": "20190101", "town": "NYC", "year": "2020"})]
    p2 = [pv({"date": "20190101", "town": "NYC"})]
    p1 = [pv({"date": "20190101"})]
    assert check_expected_partition_values(p3, p3) == []
    assert check_expected_partition_values(p3, p2) == []
    assert check_expected_partition_values(p2, p3) != []
    assert check_expected_partition_values(p3, p1) == []
    assert check_expected_partition_values(p1, p3) != []
    assert check_expected_partition_values(p3 + p3a, p3 + p3a) == []
    assert check_expected_partition_values(p3 + p3a, p3) == []
    assert check_expected_partition_values(p3, p3 + p3a) != []


def test_pv_is_complete_init_included():
    """PartitionValuesTest:88/95/103 — isComplete exact-cover, isInitOf
    prefix rule, isIncludedIn pair containment."""
    p = pv({"town": "NYC", "date": "20190101"})
    assert p.is_complete(["town", "date"])
    assert not p.is_complete(["town", "abc"])
    assert not p.is_complete(["town"])
    assert not p.is_complete(["abc"])
    assert p.is_init_of(["town", "date"])
    assert not p.is_init_of(["town", "abc"])
    assert not p.is_init_of(["town"])
    assert p.is_init_of(["town", "date", "abc"])
    assert not p.is_init_of(["abc"])
    assert p.is_included_in(pv({"date": "20190101"}))
    assert not pv({"town": "NYC", "date": "20180101"}).is_included_in(pv({"date": "20190101"}))
    assert not pv({"town": "NYC", "abc": "a"}).is_included_in(pv({"date": "20190101"}))
    assert not pv({"town": "NYC", "abc": "20190101"}).is_included_in(pv({"date": "20190101"}))


# --------------------------------------------------------------------------
# Review-pass regressions (r7 continuation findings)
# --------------------------------------------------------------------------


def test_jdbc_partitioned_overwrite_keeps_other_partitions(spark, ddb):
    """Finding: OVERWRITE with declared partition values must replace ONLY
    those virtual partitions, never the whole table."""
    do = _jdo(ddb, partitions=["p"])
    do.write_dataframe(
        spark.createDataFrame([("A", 1), ("B", 2)], "p string, v int")
    )
    do.write_dataframe(
        spark.createDataFrame([("B", 9)], "p string, v int"),
        partition_values=[pv({"p": "B"})],
    )
    got = sorted(tuple(r) for r in do.get_dataframe(spark).collect())
    assert got == [("A", 1), ("B", 9)]


def test_raw_layout_dataframe_read(spark, tmp_path):
    """Finding: a layout-partitioned Raw DO must READ data frames too, with
    partition values attached as columns, and an unmatched partition filter
    yields an empty frame of the fixed schema."""
    d = tmp_path / "rawdf"
    d.mkdir()
    (d / "AB_NYC_2019.csv").write_bytes(b"nyc-bytes")
    (d / "AB_SFO_2020.csv").write_bytes(b"sfo-bytes")
    do = RawFileDataObject(
        id="t", path=str(d), partitions=["town", "year"],
        custom_partition_layout="AB_%town%_%year:[0-9]+%",
    )
    out = do.get_dataframe(spark)
    got = {(r["town"], r["year"], bytes(r["content"])) for r in out.collect()}
    assert got == {("NYC", "2019", b"nyc-bytes"), ("SFO", "2020", b"sfo-bytes")}
    only = do.get_dataframe(spark, [pv({"town": "NYC", "year": "2019"})])
    assert [r["town"] for r in only.collect()] == ["NYC"]
    empty = do.get_dataframe(spark, [pv({"town": "LAX", "year": "1999"})])
    assert empty.count() == 0
    assert {"path", "content", "town", "year"} <= set(empty.columns)


def test_excel_empty_partition_read_no_crash(spark, tmp_path):
    """Finding: reading an absent partition must not crash the run."""
    base = tmp_path / "xlp"
    (base / "p=A").mkdir(parents=True)
    _workbook(base / "p=A" / "w.xlsx", [(1, True, "x", "y", "z")])
    do = ExcelFileDataObject(
        id="x", path=str(base), partitions=["p"],
        schema="a_a bigint, bb boolean, ccc string, dd string, e string",
    )
    out = do.get_dataframe(spark, [pv({"p": "ZZZ"})])
    assert out.count() == 0 and "p" in out.columns


def test_do_level_job_partition_expectation_fires(spark, tmp_path):
    """Finding: a JOB_PARTITION-scope expectation attached to the OUTPUT
    DataObject (not the action) must be computed and validated."""
    from smart_data_lake_spark.actions.copy import CopyAction
    from smart_data_lake_spark.expectations import (
        ExpectationScope,
        ExpectationValidationError,
        SQLExpectation,
    )
    from smart_data_lake_spark.subfeed import SparkSubFeed

    reg = InstanceRegistry()
    src = reg.register_data_object(MockDataObject(id="s"))
    reg.register_data_object(
        MockDataObject(
            id="t", partitions=["p"],
            expectations=[
                SQLExpectation(
                    name="minRows", aggExpression="count(*)", expectation="> 10",
                    scope=ExpectationScope.JOB_PARTITION,
                )
            ],
        )
    )
    a = CopyAction(id="a", input_id="s", output_id="t", registry=reg)
    src.write_dataframe(spark.createDataFrame([("A", 1)], "p string, v int"))
    with pytest.raises(ExpectationValidationError, match=r"'minRows#p=A' failed: 1 !> 10"):
        a.exec(spark, [SparkSubFeed(data_object_id="s", partition_values=[pv({"p": "A"})])])
