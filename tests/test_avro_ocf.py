"""Avro OCF codec + distributed IO tests.

The pure-Python container codec is cross-verified against the REAL Apache
Avro Java implementation (avro-1.12.1.jar ships with Spark core) via py4j —
both directions: Java writes / Python reads, Python writes / Java reads.
That pins the codec to the reference implementation instead of only to
itself. Reference behavior: `dataobject/AvroFileDataObject.scala:46-63`.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from smart_data_lake_spark.dataobjects.avro_ocf import (
    avro_schema_to_spark_logical,
    decode_ocf,
    encode_ocf,
    peek_avro_schema,
    read_avro,
    spark_schema_to_avro,
    write_avro,
)
from tests.conftest import assert_df_equal

SCHEMA = {
    "type": "record",
    "name": "thing",
    "fields": [
        {"name": "id", "type": ["null", "long"], "default": None},
        {"name": "name", "type": ["null", "string"], "default": None},
        {"name": "price", "type": ["null", "double"], "default": None},
        {"name": "ok", "type": ["null", "boolean"], "default": None},
        {"name": "tags", "type": ["null", {"type": "array", "items": "string"}], "default": None},
    ],
}
RECORDS = [
    {"id": 1, "name": "alpha", "price": 1.5, "ok": True, "tags": ["x", "y"]},
    {"id": None, "name": "βeta", "price": None, "ok": False, "tags": []},
    {"id": -(2**40), "name": "", "price": -0.25, "ok": None, "tags": ["z"]},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_python_roundtrip(codec):
    data = encode_ocf(RECORDS, SCHEMA, codec=codec)
    schema, out = decode_ocf(data)
    assert schema == SCHEMA
    assert out == RECORDS


def test_multiblock_roundtrip():
    recs = [{"id": i, "name": f"n{i}", "price": i / 8, "ok": i % 2 == 0, "tags": []} for i in range(10_000)]
    data = encode_ocf(recs, SCHEMA, codec="deflate", records_per_block=256)
    _, out = decode_ocf(data)
    assert out == recs


# ------------------------------------------------------- Java cross-checks


def _jvm(spark):
    return spark.sparkContext._jvm


def _java_schema(spark, schema_json: str):
    return _jvm(spark).org.apache.avro.Schema.Parser().parse(schema_json)


def _to_avro_json(value, schema):
    """Plain python value → Avro's JSON encoding (unions are single-key
    objects tagged with the branch type name)."""
    if isinstance(schema, list):
        if value is None:
            return None
        branch = next(s for s in schema if s != "null")
        name = branch if isinstance(branch, str) else branch["type"]
        return {name: _to_avro_json(value, branch)}
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return {f["name"]: _to_avro_json(value[f["name"]], f["type"]) for f in schema["fields"]}
        if t == "array":
            return [_to_avro_json(v, schema["items"]) for v in value]
        if t == "map":
            return {k: _to_avro_json(v, schema["values"]) for k, v in value.items()}
        if t == "enum":
            return value
        return _to_avro_json(value, t)
    return value


def test_java_writes_python_reads(spark, tmp_path):
    """Real Apache Avro Java (DataFileWriter, records built via Avro's own
    jsonDecoder so typing is Java-side, not py4j's) → our decoder."""
    import json

    jvm = _jvm(spark)
    jschema = _java_schema(spark, json.dumps(SCHEMA))
    datum_reader = jvm.org.apache.avro.generic.GenericDatumReader(jschema)
    for codec_name, jcodec in [
        ("null", jvm.org.apache.avro.file.CodecFactory.nullCodec()),
        ("deflate", jvm.org.apache.avro.file.CodecFactory.deflateCodec(6)),
    ]:
        target = str(tmp_path / f"java-{codec_name}.avro")
        writer = jvm.org.apache.avro.file.DataFileWriter(
            jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
        )
        writer.setCodec(jcodec)
        writer.create(jschema, jvm.java.io.File(target))
        for rec in RECORDS:
            decoder = jvm.org.apache.avro.io.DecoderFactory.get().jsonDecoder(
                jschema, json.dumps(_to_avro_json(rec, SCHEMA))
            )
            writer.append(datum_reader.read(None, decoder))
        writer.close()
        with open(target, "rb") as fh:
            _schema, out = decode_ocf(fh.read())
        assert out == RECORDS, codec_name


def test_python_writes_java_reads(spark, tmp_path):
    """Our encoder → DataFileReader (real Apache Avro Java); records compared
    through Avro's own jsonEncoder."""
    import json

    jvm = _jvm(spark)
    jschema = _java_schema(spark, json.dumps(SCHEMA))
    expected = [_to_avro_json(r, SCHEMA) for r in RECORDS]
    for codec in ("null", "deflate"):
        target = str(tmp_path / f"py-{codec}.avro")
        with open(target, "wb") as fh:
            fh.write(encode_ocf(RECORDS, SCHEMA, codec=codec))
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(target),
            jvm.org.apache.avro.generic.GenericDatumReader(),
        )
        datum_writer = jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
        out = []
        while reader.hasNext():
            jrec = reader.next()
            baos = jvm.java.io.ByteArrayOutputStream()
            encoder = jvm.org.apache.avro.io.EncoderFactory.get().jsonEncoder(jschema, baos)
            datum_writer.write(jrec, encoder)
            encoder.flush()
            out.append(json.loads(baos.toString("UTF-8")))
        reader.close()
        assert out == expected, codec


# -------------------------------------------------------- Spark-level IO


def test_spark_write_read_roundtrip(spark, tmp_path, sf_dir):
    orders = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "o_orderdate")
        .limit(500)
    )
    target = str(tmp_path / "orders_avro")
    n = write_avro(orders, target, codec="deflate")
    assert n == 500
    back = read_avro(spark, target)
    # o_orderdate may be date or timestamp depending on generation; compare
    # after normalizing both sides to date
    a = back.withColumn("o_orderdate", F.to_date("o_orderdate"))
    e = orders.withColumn("o_orderdate", F.to_date("o_orderdate"))
    assert_df_equal(a.orderBy("o_orderkey"), e.orderBy("o_orderkey"))


def test_schema_mapping_roundtrip():
    sschema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.TimestampType()),
            T.StructField("d", T.DateType()),
            T.StructField("e", T.ArrayType(T.DoubleType())),
            T.StructField("f", T.MapType(T.StringType(), T.LongType())),
        ]
    )
    avro = spark_schema_to_avro(sschema)
    back = avro_schema_to_spark_logical(avro)
    assert [(f.name, f.dataType.simpleString()) for f in back.fields] == [
        (f.name, f.dataType.simpleString()) for f in sschema.fields
    ]


def test_timestamp_and_date_values(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 3, 1, 12, 30, 45, 123456), dt.date(2024, 3, 1)),
            (2, None, None),
        ],
        "id long, ts timestamp, d date",
    )
    target = str(tmp_path / "ts_avro")
    write_avro(df, target)
    back = read_avro(spark, target)
    assert_df_equal(back.orderBy("id"), df.orderBy("id"))
    # the written container really carries the logical types
    schema = peek_avro_schema(target)
    by_name = {f["name"]: f["type"] for f in schema["fields"]}
    assert by_name["ts"][1]["logicalType"] == "timestamp-micros"
    assert by_name["d"][1]["logicalType"] == "date"


def test_avro_dataobject_fallback(spark, tmp_path, sf_dir):
    from smart_data_lake_spark.dataobjects.file import AvroFileDataObject, _native_avro_available

    assert not _native_avro_available(spark)  # this container has no spark-avro
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    do = AvroFileDataObject(id="av1", path=str(tmp_path / "nation_avro"))
    metrics = do.write_dataframe(nation)
    assert metrics["records_written"] == nation.count()
    back = do.get_dataframe(spark)
    assert_df_equal(back.orderBy("n_nationkey"), nation.orderBy("n_nationkey"))
    # append doubles the rows without clobbering part files
    from smart_data_lake_spark.save_modes import SaveMode

    do.write_dataframe(nation, save_mode=SaveMode.APPEND)
    assert do.get_dataframe(spark).count() == 2 * nation.count()


def test_unsupported_codec_clear_error():
    data = encode_ocf(RECORDS, SCHEMA, codec="null")
    # rewrite the codec metadata value (length-prefixed after its key) to
    # claim snappy; plain b"null" also occurs inside the schema JSON
    assert b"avro.codec\x08null" in data
    corrupted = data.replace(b"avro.codec\x08null", b"avro.codec\x08snap")
    with pytest.raises(ValueError, match="codec"):
        decode_ocf(corrupted)


def test_read_avro_schema_evolution_across_files(spark, tmp_path):
    """Each container file decodes with its OWN embedded schema; the typed
    projection uses the caller-supplied (evolved) schema — older files'
    missing fields surface as NULL, extra decoded fields are dropped. The
    standard landing-zone evolution story without spark-avro's mergeSchema."""
    old_schema = {
        "type": "record", "name": "r",
        "fields": [{"name": "id", "type": ["null", "long"], "default": None}],
    }
    new_schema = {
        "type": "record", "name": "r",
        "fields": [
            {"name": "id", "type": ["null", "long"], "default": None},
            {"name": "tag", "type": ["null", "string"], "default": None},
        ],
    }
    import os

    target = str(tmp_path / "evolved")
    os.makedirs(target)
    with open(os.path.join(target, "old.avro"), "wb") as fh:
        fh.write(encode_ocf([{"id": 1}], old_schema))
    with open(os.path.join(target, "new.avro"), "wb") as fh:
        fh.write(encode_ocf([{"id": 2, "tag": "x"}], new_schema))
    out = read_avro(spark, target, avro_schema=new_schema)
    got = {r["id"]: r["tag"] for r in out.collect()}
    assert got == {1: None, 2: "x"}


def test_write_avro_empty_dataframe_round_trips(spark, tmp_path):
    """Zero-row writes leave a schema-carrying container; reads return an
    empty frame with the right schema instead of FileNotFoundError."""
    df = spark.createDataFrame([], "id long, s string")
    target = str(tmp_path / "empty_avro")
    assert write_avro(df, target) == 0
    back = read_avro(spark, target)
    assert back.count() == 0
    assert back.schema.simpleString() == "struct<id:bigint,s:string>"


def test_avro_fallback_partitioned_overwrite_preserves_other_partitions(spark, tmp_path):
    """r6 ADVICE-high regression: overwriting ONE partition of a partitioned
    Avro object must not rmtree the sibling partitions (the pre-fix fallback
    destroyed them). Also exercises Hive-layout write + path-recovered
    partition columns on read."""
    from smart_data_lake_spark.dataobjects.file import AvroFileDataObject
    from smart_data_lake_spark.partitions import PartitionValues
    from smart_data_lake_spark.save_modes import SaveMode

    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-01"), (3, "c", "2024-01-02")],
        "id int, v string, dt string",
    )
    do = AvroFileDataObject(id="avp", path=str(tmp_path / "evts"), partitions=["dt"])
    do.write_dataframe(df)
    root = tmp_path / "evts"
    assert (root / "dt=2024-01-01").is_dir() and (root / "dt=2024-01-02").is_dir()
    # payload files must NOT contain the partition column
    from smart_data_lake_spark.dataobjects.avro_ocf import peek_avro_schema

    sch = peek_avro_schema(str(root / "dt=2024-01-01"))
    assert [f["name"] for f in sch["fields"]] == ["id", "v"]

    # read recovers the partition column; date-like strings infer to DATE
    # exactly like Spark's native partition discovery would
    back = do.get_dataframe(spark)
    assert set(back.columns) == {"id", "v", "dt"}
    assert {r["dt"] for r in back.collect()} == {dt.date(2024, 1, 1), dt.date(2024, 1, 2)}
    # partition filter applies
    pv = [PartitionValues.of({"dt": "2024-01-01"})]
    assert do.get_dataframe(spark, pv).count() == 2

    # explicit partition overwrite: only dt=2024-01-01 is replaced
    repl = spark.createDataFrame([(9, "z", "2024-01-01")], "id int, v string, dt string")
    do.write_dataframe(repl, partition_values=pv, save_mode=SaveMode.OVERWRITE_OPTIMIZED)
    rows = {(r["id"], r["dt"]) for r in do.get_dataframe(spark).collect()}
    assert rows == {(9, dt.date(2024, 1, 1)), (3, dt.date(2024, 1, 2))}

    # dynamic overwrite (no partition_values): replaces exactly the
    # partitions present in the frame, keeps the rest
    dyn = spark.createDataFrame([(7, "y", "2024-01-02")], "id int, v string, dt string")
    do.write_dataframe(dyn, save_mode=SaveMode.OVERWRITE)
    rows = {(r["id"], r["dt"]) for r in do.get_dataframe(spark).collect()}
    assert rows == {(9, dt.date(2024, 1, 1)), (7, dt.date(2024, 1, 2))}


def test_timestamps_stored_as_true_utc_in_non_utc_session(spark, tmp_path):
    """r6 ADVICE regression: a non-UTC session must store the real UTC
    instant in timestamp-micros (external Avro readers see the same moment),
    and round-trip back to the same session wall-clock."""
    import datetime as dt

    from smart_data_lake_spark.dataobjects.avro_ocf import decode_ocf

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.createDataFrame(
            [(1, dt.datetime(2024, 3, 1, 12, 0, 0))], "id long, ts timestamp"
        )
        # the oracle for "true instant" is Spark's own epoch micros — the
        # avro file must store exactly that, whatever zone the session uses
        from pyspark.sql import functions as F

        expect = df.select(F.unix_micros("ts")).collect()[0][0]
        wall = df.collect()[0]["ts"]
        target = str(tmp_path / "tz_avro")
        write_avro(df, target)
        files = sorted(glob.glob(os.path.join(target, "*.avro")))
        _, records = decode_ocf(open(files[0], "rb").read())
        assert records[0]["ts"] == expect
        # round trip in the same session reproduces the same instant
        back = read_avro(spark, target)
        assert back.select(F.unix_micros("ts")).collect()[0][0] == expect
        assert back.collect()[0]["ts"] == wall
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_avro_partition_dirs_int_and_null_values(spark, tmp_path):
    """r6 review regression: a nullable int partition column must produce
    'p=1' dirs (never the pandas-float 'p=1.0') and __HIVE_DEFAULT_PARTITION__
    for NULL, and round-trip typed through read."""
    from smart_data_lake_spark.dataobjects.file import AvroFileDataObject

    df = spark.createDataFrame([(1, "a", 1), (2, "b", 2), (3, "c", None)],
                               "id int, v string, p int")
    do = AvroFileDataObject(id="avnull", path=str(tmp_path / "t"), partitions=["p"])
    do.write_dataframe(df)
    dirs = sorted(d.name for d in (tmp_path / "t").iterdir() if d.is_dir())
    assert dirs == ["p=1", "p=2", "p=__HIVE_DEFAULT_PARTITION__"]
    back = {r["id"]: r["p"] for r in do.get_dataframe(spark).collect()}
    assert back == {1: 1, 2: 2, 3: None}
    assert dict(do.get_dataframe(spark).dtypes)["p"] == "int"


def test_avro_partition_special_chars_overwrite_deletes_encoded_dir(spark, tmp_path):
    """r6 review regression: partition values needing %-encoding must still
    be replaced by an overwrite (the delete has to match the encoded dir)."""
    from smart_data_lake_spark.dataobjects.file import AvroFileDataObject
    from smart_data_lake_spark.partitions import PartitionValues
    from smart_data_lake_spark.save_modes import SaveMode

    val = "2024-01-01 00:00"
    df = spark.createDataFrame([(1, val)], "id int, dt string")
    do = AvroFileDataObject(id="avsp", path=str(tmp_path / "t2"), partitions=["dt"])
    do.write_dataframe(df)
    repl = spark.createDataFrame([(9, val)], "id int, dt string")
    do.write_dataframe(repl, partition_values=[PartitionValues.of({"dt": val})],
                       save_mode=SaveMode.OVERWRITE_OPTIMIZED)
    rows = do.get_dataframe(spark).collect()
    assert [(r["id"], r["dt"]) for r in rows] == [(9, val)]  # no duplicate survivors


def test_avro_dynamic_overwrite_replaces_appended_files(spark, tmp_path):
    """r6 review regression: dynamic overwrite after several appends must
    drop ALL earlier files of the touched partitions (unique write prefixes,
    manifest-driven cleanup — no second lineage pass)."""
    from smart_data_lake_spark.dataobjects.file import AvroFileDataObject
    from smart_data_lake_spark.save_modes import SaveMode

    do = AvroFileDataObject(id="avdy", path=str(tmp_path / "t3"), partitions=["p"])
    df1 = spark.createDataFrame([(1, "x"), (2, "y")], "id int, p string")
    do.write_dataframe(df1)
    do.write_dataframe(spark.createDataFrame([(3, "x")], "id int, p string"),
                       save_mode=SaveMode.APPEND)
    # overwrite p=x only; p=y untouched
    do.write_dataframe(spark.createDataFrame([(7, "x")], "id int, p string"),
                       save_mode=SaveMode.OVERWRITE)
    rows = {(r["id"], r["p"]) for r in do.get_dataframe(spark).collect()}
    assert rows == {(7, "x"), (2, "y")}


def test_avro_fallback_failed_overwrite_keeps_committed_rows(spark, tmp_path):
    """The fallback deletes nothing before `write_avro` returns: a frame that
    fails inside the write job leaves every committed row, for an
    unpartitioned OVERWRITE and for a partitioned OVERWRITE_OPTIMIZED."""
    from pyspark.sql import functions as F

    from smart_data_lake_spark.dataobjects.file import AvroFileDataObject
    from smart_data_lake_spark.partitions import PartitionValues
    from smart_data_lake_spark.save_modes import SaveMode

    bad = spark.range(10, 12).select(
        F.when(F.col("id") > 0, F.raise_error(F.lit("boom"))).otherwise(F.col("id")).cast("int").alias("id"),
        F.lit("a").alias("dt"),
    )
    old = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "id int, dt string")
    flat = AvroFileDataObject(id="avf", path=str(tmp_path / "flat"))
    flat.write_dataframe(old)
    with pytest.raises(Exception, match="boom"):
        flat.write_dataframe(bad, save_mode=SaveMode.OVERWRITE)
    assert sorted(r["id"] for r in flat.get_dataframe(spark).collect()) == [1, 2, 3]
    part = AvroFileDataObject(id="avpf", path=str(tmp_path / "part"), partitions=["dt"])
    part.write_dataframe(old)
    with pytest.raises(Exception, match="boom"):
        part.write_dataframe(bad, [PartitionValues.of({"dt": "a"})], save_mode=SaveMode.OVERWRITE_OPTIMIZED)
    assert sorted(r["id"] for r in part.get_dataframe(spark).collect()) == [1, 2, 3]


def test_avro_fallback_overwrite_optimized_requires_partition_values(spark, tmp_path):
    """As on the native path (SparkFileDataObject.scala:505-511), not a
    silent dynamic overwrite."""
    from smart_data_lake_spark.dataobjects.file import AvroFileDataObject, ProcessingLogicError
    from smart_data_lake_spark.save_modes import SaveMode

    do = AvroFileDataObject(id="avopt", path=str(tmp_path / "t"), partitions=["dt"])
    df = spark.createDataFrame([(1, "a")], "id int, dt string")
    do.write_dataframe(df)
    with pytest.raises(ProcessingLogicError):
        do.write_dataframe(df, partition_values=[], save_mode=SaveMode.OVERWRITE_OPTIMIZED)
    assert do.get_dataframe(spark).count() == 1


def test_avro_declared_partition_dir_uses_the_active_writers_form(spark, tmp_path, monkeypatch):
    """A declared-but-empty partition is created in the directory form of the
    writer in use: %-encoded for the fallback, Spark's plain `col=value` for
    native spark-avro, so it never becomes a spurious sibling partition."""
    from smart_data_lake_spark.dataobjects import file as file_mod
    from smart_data_lake_spark.partitions import PartitionValues

    do = file_mod.AvroFileDataObject(id="avdirs", path=str(tmp_path / "t"), partitions=["dt"])
    pv = PartitionValues.of({"dt": "a b"})
    monkeypatch.setattr(file_mod, "_native_avro_available", lambda s: False)
    assert do._partition_dirs(spark, pv) == [str(tmp_path / "t" / "dt=a%20b"), str(tmp_path / "t" / "dt=a b")]
    monkeypatch.setattr(file_mod, "_native_avro_available", lambda s: True)
    assert do._partition_dirs(spark, pv) == [str(tmp_path / "t" / "dt=a b"), str(tmp_path / "t" / "dt=a%20b")]


def test_native_avro_declared_empty_partition_with_escaped_value(spark, tmp_path):
    """Native spark-avro writes `dt=a b`; declaring the empty partition
    `dt=c d` next to it adds exactly one partition, in the same form."""
    from smart_data_lake_spark.dataobjects.file import AvroFileDataObject, _native_avro_available
    from smart_data_lake_spark.partitions import PartitionValues
    from smart_data_lake_spark.save_modes import SaveMode

    if not _native_avro_available(spark):
        pytest.skip("spark-avro is not deployed")
    do = AvroFileDataObject(id="avnat", path=str(tmp_path / "t"), partitions=["dt"])
    df = spark.createDataFrame([(1, "a b")], "id int, dt string")
    do.write_dataframe(df, [PartitionValues.of({"dt": "a b"}), PartitionValues.of({"dt": "c d"})],
                       save_mode=SaveMode.OVERWRITE)
    assert sorted(n for n in os.listdir(tmp_path / "t") if not n.startswith(("_", "."))) == ["dt=a b", "dt=c d"]
    assert sorted(pv.hive_path() for pv in do.list_partitions(spark)) == ["dt=a b", "dt=c d"]
