"""File-based DataObjects on any spark.read/write format.

Reference: `dataobject/SparkFileDataObject.scala:55-596` — reads with explicit
partition-path pruning (:265-339), `modifiedAfter/Before` incremental reads
(:241-254), filename column (:462-467), NoData detection from the scan's file
list (:602-613, rebuilt here via `df.inputFiles()`), and writes with
partition-aware overwrite modes (:493-552) plus optional repartitioning
(`util/hdfs/SparkRepartitionDef.scala`).

Scale note: partition pruning happens two ways — explicitly (we enumerate
matching hive directories and pass them as `load(paths)` with a `basePath`,
so Spark never lists the rest of the lake) and declaratively (the
PartitionValues filter is applied to the DataFrame so Catalyst prunes if we
fall back to a whole-root read).
"""

from __future__ import annotations

import hashlib
import itertools
import os
import re
import threading
import uuid
from typing import Any

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, DataFrameWriter, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smart_data_lake_spark.config import register_connection_type, register_data_object_type
from smart_data_lake_spark.dataobjects.base import (
    CanCreateDataFrame,
    CanCreateIncrementalOutput,
    CanCreateStreamingDataFrame,
    CanHandlePartitions,
    CanWriteDataFrame,
    CanWriteStreamingDataFrame,
    DataObject,
    _parse_schema,
)
from smart_data_lake_spark.fs import LocalFileSystem, delete_empty_parent_paths, get_fs, strip_local_scheme
from smart_data_lake_spark.partitions import PartitionValues, apply_partition_filter
from smart_data_lake_spark.save_modes import SaveMode


#: Spark file sources that infer a read schema with a job and accept it
#: back as a declared one (text and binaryFile have fixed schemas)
_INFERRING_SOURCES = frozenset({"parquet", "csv", "json", "orc", "avro", "xml"})
#: bound on the inferred read schemas one DataObject keeps, least recently used evicted
_READ_SCHEMAS_PER_OBJECT = 8
_READ_SCHEMAS_LOCK = threading.Lock()
#: bounds on the listing that vouches for a cached read schema. Inference
#: reads one footer or a sample however large the input, while the listing
#: grows with it: locally (os.walk + stat) 1,000 files take about 11 ms, less
#: than the inference job a hit saves (about 70 ms on local[2]); 10,000 files
#: took longer than that job. Above 32 load paths (Spark's default
#: parallelPartitionDiscovery threshold) Spark lists them with a job of its
#: own, and on an object store each path costs a listing request. Larger
#: reads infer as before.
_LISTED_FILES_MAX = 1_000
_LISTED_TARGETS_MAX = 32
_GLOB_CHARS = re.compile(r"[*?\[{]")


#: save mode -> (Spark write mode, what the write replaces once its job has
#: committed). "dynamic" is Spark's dynamic partition overwrite, a static
#: overwrite on an unpartitioned object. _OBJECT: the files of the declared
#: partitions; without them the whole object, staged and swapped in, or on a
#: partitioned object only the partitions the dynamic overwrite writes.
#: _FILES: the files of the declared partitions or of the whole object,
#: directories kept.
_OBJECT, _FILES = "object", "files"
_WRITE_MODES = {
    SaveMode.OVERWRITE: ("dynamic", _OBJECT),
    SaveMode.OVERWRITE_OPTIMIZED: ("append", _OBJECT),
    SaveMode.OVERWRITE_PRESERVE_DIRECTORIES: ("append", _FILES),
    SaveMode.APPEND: ("append", None),
    SaveMode.ERROR_IF_EXISTS: ("error", None),
    SaveMode.IGNORE: ("ignore", None),
}


def _files_under(fs, root: str) -> list[str]:
    """Sorted paths, in the form of `root`, of every non-hidden file under
    it (or of `root` itself when it is a file)."""
    root = root.rstrip("/")
    return sorted(root if rel == "." else f"{root}/{rel}" for rel, _, _ in fs.file_stats(root))


class NoDataToProcessError(Exception):
    """Raised when a mandatory input has no files/rows for the selected
    partitions (reference: NoDataToProcessWarning, SURVEY §3.1 step 8)."""


class ProcessingLogicError(Exception):
    """A write was requested in a combination the engine cannot honor safely,
    e.g. OverwriteOptimized without partition values on a partitioned object
    (reference: ProcessingLogicException, SparkFileDataObject.scala:505-511)."""


def _listing_digest(spark: SparkSession, targets: list[str]) -> bytes | None:
    """Digest of the (path, size, mtime) listing of every file under
    `targets`; None when the listing cannot vouch for the files a load
    reads (a glob target, no files, a listing error) or would cost more
    than the inference it saves (over `_LISTED_TARGETS_MAX` targets or
    `_LISTED_FILES_MAX` files; the listing stops at the first file over)."""
    if len(targets) > _LISTED_TARGETS_MAX or any(_GLOB_CHARS.search(t) for t in targets):
        return None
    fs = get_fs(spark, targets[0])  # the targets of one load share a file system
    listing, budget = [], _LISTED_FILES_MAX
    try:
        for t in targets:
            stats = sorted(itertools.islice(fs.file_stats(t), budget + 1))
            budget -= len(stats)
            if budget < 0:
                return None
            listing.append((t, stats))
    except (OSError, Py4JJavaError):  # e.g. a file removed while listing: not cached
        return None
    if budget == _LISTED_FILES_MAX:
        return None
    return hashlib.blake2b(repr(listing).encode(), digest_size=16).digest()


@register_connection_type
class HadoopFileConnection:
    """Shared base path for file DataObjects; a DO with a RELATIVE `path`
    and a `connectionId` resolves under the connection's path prefix
    (connection/HadoopFileConnection.scala)."""

    def __init__(self, id: str, path_prefix: str, acl: dict[str, Any] | None = None) -> None:
        self.id = id
        self.path_prefix = path_prefix
        self.acl = acl

    def resolve(self, path: str) -> str:
        if os.path.isabs(path) or "://" in path:
            return path
        return os.path.join(self.path_prefix, path)


@register_data_object_type
class SparkFileDataObject(
    DataObject,
    CanCreateDataFrame,
    CanWriteDataFrame,
    CanCreateStreamingDataFrame,
    CanWriteStreamingDataFrame,
    CanHandlePartitions,
    CanCreateIncrementalOutput,
):
    format: str = "parquet"

    def __init__(
        self,
        id: str,
        path: str,
        partitions: list[str] | None = None,
        schema: T.StructType | str | None = None,
        options: dict[str, str] | None = None,
        save_mode: SaveMode | str = SaveMode.OVERWRITE,
        filename_column: str | None = None,
        n_files_per_partition: int | None = None,
        repartition_keys: list[str] | None = None,
        filename: str | None = None,
        file_name: str = "*",
        expected_partitions_condition: str | None = None,
        format: str | None = None,
        acl: dict[str, Any] | None = None,
        connection: "HadoopFileConnection | None" = None,
        **kwargs: Any,
    ) -> None:
        super().__init__(id=id, **kwargs)
        # a relative path resolves under the connection's prefix
        # (HadoopFileDataObject.scala getPath via connection)
        self.connection = connection
        self.path = connection.resolve(path) if connection is not None else path
        # HadoopFileDataObject.acl: permission + ACL entries applied to the
        # written hierarchy after every write (util/misc/AclUtil.scala)
        self.acl = acl
        self.partitions = partitions or []
        # parseSchemaFilesLazy: a file-based schema spec (xsdfile#…,
        # jsonschemafile#…) may reference a file that does not exist yet at
        # config-parse time; resolution is deferred to prepare(), which then
        # raises if the file is still missing (XmlFileDataObjectTest:167)
        self._schema_spec = schema if isinstance(schema, str) else None
        from smart_data_lake_spark import schema_providers as _sp

        if (
            isinstance(schema, str)
            and _sp.PARSE_SCHEMA_FILES_LAZY
            and _sp.is_file_based_spec(schema)
        ):
            self.schema = None
        else:
            self.schema = _parse_schema(schema)
        self.options = options or {}
        self.save_mode = SaveMode(save_mode)
        self.filename_column = filename_column
        self.n_files_per_partition = n_files_per_partition
        self.repartition_keys = repartition_keys or []
        # SparkRepartitionDef.filename: deterministic output-file naming —
        # one task file keeps the name verbatim, N task files become
        # `stem.{i}{ext}` (util/hdfs/SparkRepartitionDef.scala:60-78)
        self.filename = filename
        # glob pattern for file-level listings (RawFileDataObject.fileName)
        self.file_name = file_name
        self.expected_partitions_condition = expected_partitions_condition
        if format:
            self.format = format
        self._incremental_state: str | None = None
        # inferred read schemas, see _load_inferring
        self._read_schemas: dict[tuple, tuple[bytes, T.StructType]] = {}

    def prepare(self, spark: SparkSession) -> None:
        """Resolve a lazily-deferred file-based schema spec; a still-missing
        schema file is a configuration error at prepare time."""
        super().prepare(spark)
        from smart_data_lake_spark import schema_providers as _sp
        from smart_data_lake_spark.config import ConfigError

        if self.schema is None and self._schema_spec and _sp.is_file_based_spec(self._schema_spec):
            try:
                self.schema = _sp.parse_schema_spec(self._schema_spec)
            except _sp.SchemaProviderError as exc:
                raise ConfigError(f"({self.id}) {exc}") from exc

    # ------------------------------------------------------------------ read
    def exists(self, spark: SparkSession) -> bool:
        """True iff the path holds at least one data file (not just dirs /
        _SUCCESS markers) — the guard execution modes use before reading the
        previous output."""
        return any(get_fs(spark, self.path).file_stats(self.path))

    def get_stats(self, spark: SparkSession, update: bool = False) -> dict[str, Any]:
        """Path stats (HadoopFileDataObject.scala:325-331 / HdfsUtil
        .getPathStats): file count, bytes, newest mtime, partition-dir count —
        plus exact parquet row counts from footers (metadata pages only, no
        data scan). Errors degrade to an `info` message, like the reference."""
        try:
            fs = get_fs(spark, self.path)
            files = list(fs.file_stats(self.path))
            stats: dict[str, Any] = {
                "numFiles": len(files),
                "sizeInBytes": sum(size for _, size, _ in files),
                "lastModifiedAt": max((mtime for _, _, mtime in files), default=0),
            }
            if self.partitions:
                stats["numPartitions"] = len(
                    fs.glob(os.path.join(self.path, *[f"{p}=*" for p in self.partitions]))
                )
            if self.format == "parquet" and files and isinstance(fs, LocalFileSystem):
                # local only: pyarrow reads the footers from local files
                import pyarrow.parquet as pq

                root = strip_local_scheme(self.path)
                stats["numRows"] = sum(
                    pq.read_metadata(os.path.normpath(os.path.join(root, f))).num_rows
                    for f, _, _ in files
                    if f.endswith(".parquet")
                )
            return stats
        except Exception as exc:  # noqa: BLE001 — stats are advisory
            return {"info": str(exc)}

    def get_dataframe(
        self, spark: SparkSession, partition_values: list[PartitionValues] | None = None
    ) -> DataFrame:
        options = self._read_options()
        resolved_schema = self.resolve_schema(spark)
        if self._incremental_state and self.format in {"parquet", "csv", "json", "text", "binaryFile", "avro", "orc"}:
            # file-modification-date incremental read
            # (SparkFileDataObject.scala:241-254 → Spark's modifiedAfter option)
            options["modifiedAfter"] = self._incremental_state
        paths = self._pruned_paths(partition_values)
        if paths is not None:
            if not paths:
                # no matching partition dirs → empty frame with read schema
                schema = self.create_read_schema(spark)
                if schema is None:
                    raise NoDataToProcessError(f"({self.id}) no data for {partition_values}")
                return spark.createDataFrame([], schema)
            options["basePath"] = self.path
            load_target: str | list[str] = paths
        else:
            load_target = self.path
        try:
            if resolved_schema is not None:
                df = spark.read.format(self.format).options(**options).schema(resolved_schema).load(load_target)
            else:
                df = self._load_inferring(spark, options, load_target)
        except Exception as exc:  # noqa: BLE001 — only the inference case is handled
            # a present-but-empty source is "no rows", not an error: schema
            # inference has nothing to work with, so hand back an empty,
            # schema-less frame (CsvFileDataObjectTest:41-91 — reference
            # returns session.emptyDataFrame in exactly this case)
            if (
                resolved_schema is None
                and "UNABLE_TO_INFER_SCHEMA" in str(exc)
                and self._all_data_files_empty(spark)
            ):
                return spark.createDataFrame([], T.StructType([]))
            raise
        if partition_values:
            df = apply_partition_filter(df, partition_values)
        if self.filename_column:
            df = df.withColumn(self.filename_column, F.input_file_name())
        self.validate_schema_min(df, "read")
        return df

    def _all_data_files_empty(self, spark: SparkSession) -> bool:
        """True when the path exists but every data file in it is zero bytes
        (or there are none) — the 'empty source' read case."""
        fs = get_fs(spark, self.path)
        return fs.exists(self.path) and all(size == 0 for _, size, _ in fs.file_stats(self.path))

    def _data_files(self, spark: SparkSession | None) -> list[str]:
        return _files_under(get_fs(spark, self.path), self.path)

    def get_dataframe_for_files(
        self, spark: SparkSession, files: list[str]
    ) -> DataFrame | None:
        """Read EXACTLY the given data files (compaction's snapshot-consistent
        read: files appended after the snapshot are neither rewritten nor
        deleted). Returns None when the object's read path can't target an
        explicit file list (custom-codec fallbacks override get_dataframe);
        callers fall back to a whole-partition read."""
        if type(self).get_dataframe is not SparkFileDataObject.get_dataframe:
            return None
        options = {**self._read_options(), "basePath": self.path}
        resolved_schema = self.resolve_schema(spark)
        if resolved_schema is not None:
            df = spark.read.format(self.format).options(**options).schema(resolved_schema).load(sorted(files))
        else:
            df = self._load_inferring(spark, options, sorted(files))
        if self.filename_column:
            df = df.withColumn(self.filename_column, F.input_file_name())
        return df

    def get_streaming_dataframe(self, spark: SparkSession) -> DataFrame:
        schema = self.schema or self.create_read_schema(spark)
        if schema is None:
            raise ValueError(f"({self.id}) streaming read requires a schema")
        if self.filename_column and self.filename_column in schema.fieldNames():
            # the filename column is appended AFTER the scan — it is not in
            # the files and must not be in the reader schema
            schema = T.StructType([f for f in schema.fields if f.name != self.filename_column])
        df = (
            spark.readStream.format(self.format)
            .options(**self._read_options())
            .schema(schema)
            .load(self.path)
        )
        if self.filename_column:
            df = df.withColumn(self.filename_column, F.input_file_name())
        return df

    def _read_options(self) -> dict[str, str]:
        return dict(self.options)

    def _load_inferring(self, spark: SparkSession, options: dict[str, str], target: str | list[str]) -> DataFrame:
        """`load(target)` without a declared schema. Inference costs Spark a
        job per load, so its result is kept per (format, options, targets,
        session confs) and handed to the reader while a listing of
        (path, size, mtime) of every file under the targets equals the one
        taken BEFORE the load that inferred it: a concurrent write can only
        cause a miss, never a stale hit. A hit costs one driver-side listing
        instead of one Spark job, a miss costs the listing on top of the job;
        `_listing_digest` bounds the listing."""
        def reader():
            return spark.read.format(self.format).options(**options)

        targets = [target] if isinstance(target, str) else list(target)
        listing = _listing_digest(spark, targets) if self.format in _INFERRING_SOURCES else None
        if listing is None:
            return reader().load(target)
        key = (
            self.format,
            tuple(options.items()),
            tuple(targets),
            # every conf set in the session, in one call: several change what
            # Spark infers (orc.mergeSchema, binaryAsString, nanosAsLong, ...)
            spark._jsparkSession.conf().getAll().toString(),
        )
        with _READ_SCHEMAS_LOCK:
            cached = self._read_schemas.pop(key, None)
            if cached is not None:
                self._read_schemas[key] = cached  # most recently used last
        if cached is not None and cached[0] == listing:
            df = reader().schema(cached[1]).load(target)
            # a declared schema puts a partition column that the data files
            # also hold last, where inference keeps its file position
            if df.schema == cached[1]:
                return df
        df = reader().load(target)
        with _READ_SCHEMAS_LOCK:
            self._read_schemas.pop(key, None)
            self._read_schemas[key] = (listing, df.schema)
            while len(self._read_schemas) > _READ_SCHEMAS_PER_OBJECT:
                del self._read_schemas[next(iter(self._read_schemas))]
        return df

    def _pruned_paths(self, partition_values: list[PartitionValues] | None) -> list[str] | None:
        """Enumerate hive partition directories matching the requested
        partition values (explicit-path pruning, SparkFileDataObject.scala:265-339).
        Returns None when no pruning applies (read the root)."""
        if not partition_values or not self.partitions:
            return None
        return sorted({p for pv in partition_values for p in self.get_concrete_full_paths(pv)})

    # schema priority chain (SparkFileDataObject.scala:114-141):
    # user-defined schema → persisted schema file → inference from sample
    # file → full inference by the reader. The persisted file makes
    # schema-on-read formats (csv/json) stable across runs without a costly
    # full-listing inference pass — essential when the path holds millions of
    # files.
    def _schema_file_path(self) -> str:
        return os.path.join(self.path, "_schema.json")

    def _sample_file_path(self) -> str:
        return os.path.join(self.path, "_sample", "sample")

    def resolve_schema(self, spark: SparkSession) -> T.StructType | None:
        import json

        if self.schema is not None:
            # add potentially missing partition columns as string
            # (SparkFileDataObject.scala:117-123)
            missing = [p for p in self.partitions if p not in self.schema.fieldNames()]
            if missing:
                return T.StructType(
                    list(self.schema.fields) + [T.StructField(p, T.StringType()) for p in missing]
                )
            return self.schema
        schema_file, sample = self._schema_file_path(), self._sample_file_path()
        fs = get_fs(spark, schema_file)
        if fs.exists(schema_file) and not fs.is_dir(schema_file):
            return T.StructType.fromJson(json.loads(fs.read_text(schema_file)))
        if fs.exists(sample) and not fs.is_dir(sample):
            try:
                return self._load_inferring(spark, self._read_options(), sample).schema
            except Exception:  # noqa: BLE001 — fall through to full inference
                return None
        return None

    def persist_schema(self, df: DataFrame) -> None:
        """Write the schema file after a successful write so subsequent reads
        skip inference (SparkFileDataObject createSchemaFile)."""
        import json

        fs = get_fs(df.sparkSession, self.path)
        if self.format in ("csv", "json", "text") and fs.is_dir(self.path):
            drop = [p for p in self.partitions if p in df.columns]
            schema = T.StructType([f for f in df.schema.fields if f.name not in drop])
            fs.write_text(self._schema_file_path(), json.dumps(schema.jsonValue()))

    def _write_options(self) -> dict[str, str]:
        """Writer options — format defaults shared with `_read_options` so a
        DO reads back what it wrote (minus read-only options)."""
        opts = {
            k: v
            for k, v in self._read_options().items()
            if k not in ("inferSchema", "mode", "enforceSchema", "modifiedAfter", "multiLine")
        }
        if opts.get("compression") == "zip":
            # zip is OUR post-write packaging marker (see _zip_output_files),
            # not a Spark codec — the task files are written uncompressed
            del opts["compression"]
        return opts

    def create_read_schema(self, spark: SparkSession) -> T.StructType | None:
        """Schema of what a READ returns — the file schema plus the
        filenameColumn this object appends on read
        (SparkFileDataObject.scala:132-139 createReadSchema). Distinct from
        `resolve_schema`, which is the on-file schema handed to the reader."""
        resolved = self.resolve_schema(spark)
        if resolved is None:
            try:
                resolved = self._load_inferring(spark, self._read_options(), self.path).schema
            except Exception:
                return None
        if self.filename_column and self.filename_column not in resolved.fieldNames():
            resolved = T.StructType(
                list(resolved.fields) + [T.StructField(self.filename_column, T.StringType())]
            )
        return resolved

    # ----------------------------------------------------------------- write
    def init_write(self, df: DataFrame, partition_values: list[PartitionValues] | None = None) -> None:
        self.validate_schema_min(df, "write")
        missing = [p for p in self.partitions if p not in df.columns]
        if missing:
            raise ValueError(f"({self.id}) partition columns {missing} missing in DataFrame")

    def write_dataframe(
        self,
        df: DataFrame,
        partition_values: list[PartitionValues] | None = None,
        save_mode: SaveMode | None = None,
    ) -> dict[str, Any]:
        self.init_write(df, partition_values)
        return self._write_replacing(self._repartition_for_write(df), save_mode or self.save_mode, partition_values)

    def _write_replacing(
        self,
        df: DataFrame,
        mode: SaveMode,
        partition_values: list[PartitionValues] | None,
        whole_object: bool = False,
    ) -> dict[str, Any]:
        """The one write path of file DataObjects, for every save mode (the
        reference's SparkFileDataObject.scala:493-552): `_WRITE_MODES` gives the
        Spark write mode and what the write replaces. Nothing committed is
        deleted, moved or emptied before the write job has committed, so a
        failed job leaves the object as it was. `whole_object` replaces the
        whole object whatever its partitions (a table's MERGE rewrite)."""
        if mode == SaveMode.MERGE:
            raise ValueError(f"({self.id}) SaveMode.MERGE requires a table DataObject")
        fs = get_fs(df.sparkSession, self.path)
        spark_mode, replaces = _WRITE_MODES[mode]
        declared = (partition_values or []) if self.partitions else []
        if mode == SaveMode.OVERWRITE_OPTIMIZED and self.partitions and not declared:
            # without partition values OverwriteOptimized would silently
            # become a whole-object overwrite (SparkFileDataObject.scala:505-511)
            raise ProcessingLogicError(
                f"({self.id}) OverwriteOptimized without partition values "
                "is not allowed for a partitioned DataObject"
            )
        if replaces == _OBJECT and (whole_object or not self.partitions):
            metrics = self._swap_in(fs, lambda staging: self._write(df, staging, spark_mode))
        else:
            # the files the write replaces: those of the declared partitions
            # (a declared partition without rows ends up empty,
            # SparkFileDataObject.scala:525-536), or for
            # OverwritePreserveDirectories without them every file
            targets = [d for pv in declared for d in self._partition_dirs(df.sparkSession, pv)] if replaces else []
            if replaces == _FILES and not declared:
                targets = [self.path]
            listed = [(t, f) for t in targets for f in _files_under(fs, t)]
            metrics = self._write(df, self.path, spark_mode)
            for target, f in listed:
                if fs.exists(f):  # not replaced by the job itself
                    fs.delete(f)
                    fs.delete(f"{os.path.dirname(f)}/.{os.path.basename(f)}.crc")
                    if replaces != _FILES:  # OverwritePreserveDirectories keeps the tree
                        delete_empty_parent_paths(fs, f, target)
        for pv in declared:
            # materialize declared-but-empty partitions so listPartitions
            # reflects the write plan, not just the data that happened to be
            # present (createMissingPartitions, CanHandlePartitions.scala:77-84)
            fs.mkdirs(self._partition_dirs(df.sparkSession, pv)[0])
        self.persist_schema(df)
        self._rename_output_files(fs)
        self._apply_acl(df.sparkSession)
        return metrics

    def _write(self, df: DataFrame, path: str, spark_mode: str) -> dict[str, Any]:
        """Run the write job of `df` into `path`; `spark_mode` is a Spark save
        mode or "dynamic", Spark's dynamic partition overwrite, which stages
        the files and replaces the partitions it wrote only at commit."""
        writer, obs = self._observed_writer(df)
        if spark_mode == "dynamic":
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.mode("overwrite" if spark_mode == "dynamic" else spark_mode).save(path)
        return dict(obs.get)

    def _swap_in(self, fs, write) -> dict[str, Any]:
        """Whole-object replace in the manner of TickTockHiveTableDataObject
        .scala:44: `write` stages the new object into a sibling directory;
        once it has committed, the live directory moves aside to a second
        sibling, the staged one moves in, and only then `_retire` takes the
        aside copy. If that second move fails, the aside copy moves back. On
        an object store a move copies the data; deploy Delta or Iceberg there."""
        parent = os.path.dirname(self.path.rstrip("/")) or "."
        token = uuid.uuid4().hex
        staging, aside = (f"{parent}/.sdl_{self.id}_{kind}_{token}" for kind in ("staging", "aside"))
        try:
            metrics = write(staging)
            live = fs.exists(self.path)
            if live:
                fs.move(self.path, aside)
            try:
                fs.move(staging, self.path)
            except BaseException:
                if live:
                    fs.move(aside, self.path)
                raise
        finally:
            if fs.exists(staging):
                fs.delete(staging, recursive=True)
        if live:
            self._retire(fs, aside)
        return metrics

    def _retire(self, fs, aside: str) -> None:
        """Dispose of the copy a whole-object swap replaced."""
        fs.delete(aside, recursive=True)

    def _observed_writer(self, df: DataFrame) -> tuple[DataFrameWriter, Observation]:
        """Writer for `df` with this object's format, options and partition
        columns, plus the observation that counts `records_written` while the
        write runs — no second scan (the reference uses a Spark listener,
        SparkStageMetricsListener.scala:52-154; observation is the idiomatic
        python-side equivalent)."""
        obs = Observation(f"write_{self.id}")
        df = df.observe(obs, F.count(F.lit(1)).alias("records_written"))
        writer = df.write.format(self.format).options(**self._write_options())
        if self.partitions:
            writer = writer.partitionBy(*self.partitions)
        return writer, obs

    def write_dataframe_to_path(
        self, df: DataFrame, path: str, save_mode: SaveMode | str | None = None
    ) -> None:
        """Write with this object's format/options to an EXPLICIT directory,
        bypassing partition handling (CanWriteDataFrame.writeDataFrameToPath)
        — e.g. laying out partitioned XML manually, which the xml source
        cannot write itself (XmlFileDataObjectTest:49-60)."""
        mode = SaveMode(save_mode) if save_mode is not None else self.save_mode
        spark_mode = "append" if mode == SaveMode.APPEND else "overwrite"
        (
            self._repartition_for_write(df)
            .write.format(self.format)
            .options(**self._write_options())
            .mode(spark_mode)
            .save(path)
        )

    def _apply_acl(self, spark) -> None:
        """Apply the configured acl {permission, acls} to the written path
        (AclUtil.addACLs): local applier for file:// paths, JVM Hadoop
        FileSystem for remote schemes. Failures warn, never kill the write
        — ACLs are hygiene, the data landed."""
        if not self.acl:
            return
        try:
            from smart_data_lake_spark.acl import (
                AclDef,
                HadoopAclApplier,
                add_acls,
            )

            acl_def = AclDef.from_config(self.acl)
            scheme = self.path.split("://", 1)[0] if "://" in self.path else "file"
            applier = (
                HadoopAclApplier(spark, acl_def) if scheme not in ("file",) else None
            )
            add_acls(acl_def, self.path, applier=applier)
        except Exception as e:  # noqa: BLE001 — hygiene must not fail the write
            import logging

            logging.getLogger(__name__).warning(
                "(%s) applying ACLs to %s failed: %s", self.id, self.path, e
            )

    def write_streaming_dataframe(
        self,
        df: DataFrame,
        trigger: dict[str, Any],
        checkpoint_location: str,
        output_mode: str = "append",
        query_name: str | None = None,
    ):
        writer = (
            df.writeStream.format(self.format)
            .options(**self._write_options())
            .option("checkpointLocation", checkpoint_location)
            .outputMode(output_mode)
            .trigger(**trigger)
        )
        if self.partitions:
            writer = writer.partitionBy(*self.partitions)
        if query_name:
            writer = writer.queryName(query_name)
        query = writer.start(self.path)
        if self.acl:
            # streaming parity for the acl option: re-apply after every
            # micro-batch commit via a query listener (files created by the
            # batch get the configured bits; the native writer path stays —
            # foreachBatch would forfeit exactly-once file-sink semantics)
            self._attach_streaming_acl_listener(df.sparkSession, query.id)
        return query

    def _attach_streaming_acl_listener(self, spark, query_id) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        do = self

        class _AclListener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 — Spark API
                pass

            def onQueryProgress(self, event):  # noqa: N802
                if str(event.progress.id) == str(query_id):
                    do._apply_acl(spark)

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                if str(event.id) == str(query_id):
                    do._apply_acl(spark)
                    spark.streams.removeListener(self)

        spark.streams.addListener(_AclListener())

    def _repartition_for_write(self, df: DataFrame) -> DataFrame:
        """Control output file count/co-location (SparkRepartitionDef.scala)."""
        if self.n_files_per_partition is None:
            return df
        keys = [F.col(c) for c in (self.partitions + self.repartition_keys)]
        if keys:
            return df.repartition(self.n_files_per_partition, *keys)
        return df.repartition(self.n_files_per_partition)

    # ------------------------------------------------------------- partitions
    def list_partitions(self, spark: SparkSession) -> list[PartitionValues]:
        fs = get_fs(spark, self.path)
        if not self.partitions or not fs.is_dir(self.path):
            return []
        result: list[PartitionValues] = []

        def walk(base: str, cols: list[str], acc: dict[str, str]) -> None:
            if not cols:
                result.append(PartitionValues.of(acc))
                return
            col = cols[0]
            for entry in fs.listdir(base):
                full = os.path.join(base, entry)
                if entry.startswith(f"{col}=") and fs.is_dir(full):
                    walk(full, cols[1:], {**acc, col: entry.split("=", 1)[1]})

        walk(self.path, self.partitions, {})
        return result

    @staticmethod
    def _delete_files_keep_dirs(base: str, fs=None) -> None:
        fs = fs or get_fs(None, base)
        if not fs.is_dir(base):
            return
        for f in fs.walk_files(base):
            fs.delete(f)

    def _partition_dirs(self, spark: SparkSession, pv: PartitionValues) -> list[str]:
        """The directories that can hold partition `pv`; new files go to the first."""
        return [os.path.join(self.path, pv.hive_path())]

    def delete_partitions(self, spark: SparkSession, partition_values: list[PartitionValues]) -> None:
        fs = get_fs(spark, self.path)
        for target in (d for pv in partition_values for d in self._partition_dirs(spark, pv)):
            if fs.is_dir(target):
                fs.delete(target, recursive=True)

    def move_partitions(
        self, spark: SparkSession, moves: list[tuple[PartitionValues, PartitionValues]]
    ) -> None:
        """Move each source partition's files into the target partition dir
        (merging with existing files) and drop the source dir — a pure
        metadata/rename operation, no Spark job
        (CanHandlePartitions.movePartitions / HdfsUtil.movePartitionDirectory)."""
        fs = get_fs(spark, self.path)
        for src_pv, dst_pv in moves:
            src = os.path.join(self.path, src_pv.hive_path())
            dst = os.path.join(self.path, dst_pv.hive_path())
            if not fs.is_dir(src):
                continue
            fs.mkdirs(dst)
            for name in fs.listdir(src):
                self.rename_file_handle_already_existing(
                    os.path.join(src, name), os.path.join(dst, name), fs
                )
            fs.delete(src, recursive=True)

    # --------------------------------------------------------- path resolution
    def _glob_parts_for(self, pv: PartitionValues, depth: int) -> list[str]:
        d = pv.as_dict
        return [
            f"{col}={d[col]}" if col in d and d[col] is not None else f"{col}=*"
            for col in self.partitions[:depth]
        ]

    def get_concrete_init_paths(self, pv: PartitionValues) -> list[str]:
        """Existing directories down to the DEEPEST partition key present in
        `pv`, wildcarding absent earlier levels — e.g. partitions (a,b,c) and
        pv {b:1} resolves `a=*/b=1` (SparkFileDataObject getConcreteInitPaths).
        Driver-side globbing over hive dirs: listing cost is one directory
        walk, never a data scan."""
        keys = [c for c in self.partitions if c in pv.as_dict]
        depth = max((self.partitions.index(k) + 1 for k in keys), default=0)
        return self._concrete_dirs(pv, depth)

    def _concrete_dirs(self, pv: PartitionValues, depth: int) -> list[str]:
        """Existing directories matching `pv` down to `depth` partition
        levels; depth 0 is the root itself."""
        fs = get_fs(None, self.path)
        if depth == 0:
            return [self.path] if fs.is_dir(self.path) else []
        pattern = os.path.join(self.path, *self._glob_parts_for(pv, depth))
        return [p for p in fs.glob(pattern) if fs.is_dir(p)]

    def get_concrete_full_paths(self, pv: PartitionValues, return_files: bool = False) -> list[str]:
        """Like `get_concrete_init_paths` but expanded to full partition depth;
        with `return_files` the `file_name` glob is appended so the result is
        concrete data files (SparkFileDataObject getConcreteFullPaths)."""
        dirs = self._concrete_dirs(pv, len(self.partitions))
        if not return_files:
            return dirs
        fs = get_fs(None, self.path)
        return [f for d in dirs for f in fs.glob(os.path.join(d, self.file_name)) if not fs.is_dir(f)]

    def get_file_refs(self, partition_values: list[PartitionValues] | None = None) -> list[str]:
        """Concrete data-file paths for the given partitions (or all), the
        FileRef listing file-level actions operate on (FileRefDataObject
        .getFileRefs). Hidden/marker files (`_*`, `.*`) are not data."""
        pvs = partition_values or [PartitionValues.of({})]
        out: list[str] = []
        for pv in pvs:
            out.extend(
                f
                for f in self.get_concrete_full_paths(pv, return_files=True)
                if not os.path.basename(f).startswith(("_", "."))
            )
        return sorted(set(out))

    @staticmethod
    def rename_file_handle_already_existing(src: str, dst: str, fs=None) -> str:
        """Rename `src` to `dst`; when `dst` exists, probe `dst.1`, `dst.2`, …
        instead of clobbering (HadoopFileDataObject
        .renameFileHandleAlreadyExisting). Returns the path actually used."""
        fs = fs or get_fs(None, dst)
        target = dst
        suffix = 0
        while fs.exists(target):
            suffix += 1
            target = f"{dst}.{suffix}"
        fs.move(src, target)
        return target

    def _task_files_by_dir(self, fs) -> dict[str, list[str]]:
        """Spark's `part-*` task files of the last write, sorted, per output
        directory: the root, or each leaf partition directory."""
        pattern = os.path.join(self.path, *(["*"] * len(self.partitions)), "part-*")
        by_dir: dict[str, list[str]] = {}
        for f in fs.glob(pattern):
            if not fs.is_dir(f):
                by_dir.setdefault(os.path.dirname(f), []).append(f)
        return by_dir

    @staticmethod
    def _delete_markers(fs, d: str, patterns: tuple[str, ...]) -> None:
        for pattern in patterns:
            for marker in fs.glob(os.path.join(d, pattern)):
                fs.delete(marker)

    def _rename_output_files(self, fs) -> None:
        """Apply SparkRepartitionDef.filename: per output directory, rename the
        spark `part-*` task files to the configured name — a single file keeps
        the name verbatim, N files become `stem.{i}{ext}` in task order
        (SparkRepartitionDef.renameFiles). Driver-side renames only."""
        if not self.filename:
            return
        stem, ext = os.path.splitext(self.filename)
        if ext == ".zip" or self.options.get("compression") == "zip":
            self._zip_output_files(fs)
            return
        for d, parts in sorted(self._task_files_by_dir(fs).items()):
            if len(parts) == 1:
                self.rename_file_handle_already_existing(parts[0], os.path.join(d, self.filename), fs)
            else:
                for i, p in enumerate(parts, start=1):
                    self.rename_file_handle_already_existing(
                        p, os.path.join(d, f"{stem}.{i}{ext}"), fs
                    )
            self._delete_markers(fs, d, ("_SUCCESS", ".part-*.crc", "._SUCCESS.crc"))

    def _zip_output_files(self, fs) -> None:
        """Package the written task files into `filename` as a zip archive —
        the twin of the reference's ZipCsvCodec write path (ZipCsvCodec.scala;
        the reference cannot read zip back either, CsvFileDataObjectTest:245).
        Zip is an export-packaging convenience for small hand-offs, not a
        big-data path: entries are streamed file-by-file, never held in memory,
        but the archive itself is single-file by definition."""
        # local only: zipfile reads and writes local files
        import zipfile

        stem, _zext = os.path.splitext(self.filename)  # data.csv.zip → data.csv
        # Partitioned objects write task files under col=val/ subdirectories;
        # package one archive per partition directory, like
        # _rename_output_files (driver-ADVICE r7: the flat glob left
        # partitioned task files unpackaged).
        for d, parts in sorted(self._task_files_by_dir(fs).items()):
            archive = strip_local_scheme(os.path.join(d, self.filename))
            with zipfile.ZipFile(archive, "w", zipfile.ZIP_DEFLATED) as zf:
                for i, p in enumerate(parts, start=1):
                    entry = stem if len(parts) == 1 else f"{os.path.splitext(stem)[0]}.{i}{os.path.splitext(stem)[1]}"
                    zf.write(strip_local_scheme(p), arcname=entry)
            for p in parts:
                fs.delete(p)
            self._delete_markers(fs, d, ("_SUCCESS", ".*.crc"))
        # Spark writes _SUCCESS/.crc at the DATASET ROOT regardless of
        # partitioning; the per-partition walk above misses those in the
        # partitioned case (r8 ADVICE) — clean the root too.
        if self.partitions:
            self._delete_markers(fs, self.path, ("_SUCCESS", ".*.crc"))

    # ------------------------------------------------------------ incremental
    def set_state(self, state: str | None) -> None:
        self._incremental_state = state

    def get_state(self) -> str | None:
        import datetime

        stats = get_fs(None, self.path).file_stats(self.path)
        newest_ms = max((mtime for _, _, mtime in stats), default=None)
        if newest_ms is None:
            return self._incremental_state
        return (
            datetime.datetime.fromtimestamp(newest_ms / 1000, tz=datetime.timezone.utc)
            .strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3]
        )

    def is_empty(self, spark: SparkSession) -> bool:
        try:
            return len(self.get_dataframe(spark).inputFiles()) == 0
        except Exception:
            return True


@register_data_object_type
class ParquetFileDataObject(SparkFileDataObject):
    """Reference: `dataobject/ParquetFileDataObject.scala:48-65`."""

    format = "parquet"


@register_data_object_type
class CsvFileDataObject(SparkFileDataObject):
    """Reference defaults delimiter='|', header=false
    (`dataobject/CsvFileDataObject.scala:68-84`)."""

    format = "csv"

    def _read_options(self) -> dict[str, str]:
        opts = {"sep": "|", "header": "false", "inferSchema": "false", **self.options}
        # 'delimiter' is the reference's option name; normalize it onto 'sep'
        # so a user-supplied delimiter beats the '|' default instead of
        # coexisting with it (Spark accepts both keys, sep wins)
        if "delimiter" in opts:
            opts["sep"] = opts.pop("delimiter")
        return opts


@register_data_object_type
class RelaxedCsvFileDataObject(CsvFileDataObject):
    """CSV tolerant of differing/missing/reordered columns per file
    (`dataobject/RelaxedCsvFileDataObject.scala:56`).

    Spark's CSV reader maps fields positionally, so files with different
    column orders cannot share one read. Like the reference, each file is
    projected ONTO the target schema BY NAME: header lines are sniffed by a
    DISTRIBUTED first-line job (an RDD over the file list — each task opens
    only its files and reads one line, so millions of files never serialize
    through a driver loop; collected result is one short string per file,
    metadata-scale), files are grouped by header signature, each group is
    read distributed with its own positional schema, and the groups are
    unioned after name-projection (missing columns → null). #groups is
    bounded by the number of distinct producer versions, not the file
    count."""

    #: column for the per-record corruption reason next to Spark's
    #: columnNameOfCorruptRecord (RelaxedCsvFileDataObject.scala:68)
    CORRUPT_MSG_COL = "_corrupt_record_msg"

    def __init__(
        self,
        id: str,
        path: str,
        treat_missing_columns_as_corrupt: bool = False,
        treat_superfluous_columns_as_corrupt: bool = False,
        **kwargs: Any,
    ) -> None:
        super().__init__(id=id, path=path, **kwargs)
        self.treat_missing_columns_as_corrupt = treat_missing_columns_as_corrupt
        self.treat_superfluous_columns_as_corrupt = treat_superfluous_columns_as_corrupt

    def _read_options(self) -> dict[str, str]:
        # defaults delimiter=',' (not the strict DO's '|'); header is FIXED
        # true — a header line is the relaxed contract's whole premise
        # (RelaxedCsvFileDataObject.scala:39-41,102)
        opts = {"sep": ",", "inferSchema": "false", **self.options}
        if "delimiter" in opts:
            opts["sep"] = opts.pop("delimiter")
        opts["header"] = "true"
        opts.setdefault("mode", "PERMISSIVE")
        opts["enforceSchema"] = "false"
        return opts

    def get_dataframe(self, spark, partition_values=None):
        target = self.resolve_schema(spark)
        opts = self._read_options()
        if target is None:
            return super().get_dataframe(spark, partition_values)
        sep = opts.get("sep", ",")
        corrupt_col = opts.get("columnNameOfCorruptRecord", "_corrupt_record")
        target_names = [f.name for f in target.fields]
        has_corrupt = corrupt_col in target_names
        has_msg = self.CORRUPT_MSG_COL in target_names
        special = {corrupt_col, self.CORRUPT_MSG_COL, self.filename_column}
        # output order: non-partition data cols in schema order, then
        # partition cols (they come from directories, like a Spark read),
        # then the filename column last (reference column order in
        # RelaxedCsvFileDataObjectTest:65-160)
        data_fields = [f for f in target.fields if f.name not in special and f.name not in self.partitions]
        part_fields = [f for f in target.fields if f.name in self.partitions]
        corrupt_fields = [f for f in target.fields if f.name in (corrupt_col, self.CORRUPT_MSG_COL)]
        out_fields = data_fields + part_fields + corrupt_fields
        files = self._data_files(spark)

        def _first_lines(paths):
            # runs on executors: task-local file access (each pair is the
            # path and its scheme-stripped form), first NON-EMPTY line per
            # file (Spark's csv parser skips leading blank lines too)
            for p, local in paths:
                with open(local) as fh:
                    for line in fh:
                        if line.strip():
                            yield p, line.rstrip("\n")
                            break

        sniffed = []
        if files:
            n_slices = max(1, min(len(files), 256))
            sniffed = (
                spark.sparkContext.parallelize([(f, strip_local_scheme(f)) for f in files], n_slices)
                .mapPartitions(_first_lines)
                .collect()
            )
        if not sniffed:  # no files, or only empty ones
            empty_schema = T.StructType(
                out_fields
                + ([T.StructField(self.filename_column, T.StringType())] if self.filename_column else [])
            )
            return spark.createDataFrame([], empty_schema)
        by_header: dict[tuple[str, ...], list[str]] = {}
        for path, line in sorted(sniffed):
            header = tuple(h.strip() for h in line.split(sep))
            by_header.setdefault(header, []).append(path)
        target_types = {f.name: f.dataType for f in target.fields}
        data_names = [f.name for f in data_fields]
        all_data_names = set(data_names) | {f.name for f in part_fields}
        parts = []
        for header, group in sorted(by_header.items()):
            group_schema = T.StructType(
                [T.StructField(h, target_types.get(h, T.StringType())) for h in header]
            )
            if has_corrupt and corrupt_col not in header:
                # Spark only materializes the corrupt-record column when it
                # is part of the read schema
                group_schema = group_schema.add(corrupt_col, T.StringType())
            reader = spark.read.format("csv").options(**opts).schema(group_schema)
            if self.partitions:
                reader = reader.option("basePath", self.path)
            df = reader.load(group)
            missing = sorted(set(data_names) - set(header))
            superfluous = sorted(set(header) - all_data_names - special)
            flagged = (missing and self.treat_missing_columns_as_corrupt) or (
                superfluous and self.treat_superfluous_columns_as_corrupt
            )
            cols = []
            for f in data_fields + part_fields:
                if f.name in header or f.name in self.partitions:
                    cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
                else:
                    cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            base_corrupt = F.col(corrupt_col) if has_corrupt else F.lit(None).cast("string")
            if flagged:
                reasons = []
                if missing and self.treat_missing_columns_as_corrupt:
                    reasons.append(f"Missing field(s) {', '.join(missing)} in header")
                if superfluous and self.treat_superfluous_columns_as_corrupt:
                    reasons.append(f"Superfluous field(s) {', '.join(superfluous)} in header")
                # concat_ws silently DROPS null fields, which would shift the
                # reconstructed line's field positions; coalesce each field to
                # '' so the raw record is faithful (driver-ADVICE r7)
                raw = F.concat_ws(
                    sep,
                    *[F.coalesce(F.col(h).cast("string"), F.lit("")) for h in header],
                )
                if has_corrupt:
                    cols.append(F.coalesce(base_corrupt, raw).alias(corrupt_col))
                if has_msg:
                    cols.append(F.lit("; ".join(reasons)).alias(self.CORRUPT_MSG_COL))
            else:
                if has_corrupt:
                    cols.append(base_corrupt.alias(corrupt_col))
                if has_msg:
                    cols.append(F.lit(None).cast("string").alias(self.CORRUPT_MSG_COL))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if partition_values:
            out = apply_partition_filter(out, partition_values)
        if self.filename_column:
            out = out.withColumn(self.filename_column, F.input_file_name())
        self.validate_schema_min(out, "read")
        return out


@register_data_object_type
class JsonFileDataObject(SparkFileDataObject):
    """Reference: multiLine default true (`dataobject/JsonFileDataObject.scala:51-69`)."""

    format = "json"

    def __init__(self, id: str, path: str, stringify: bool = False, **kwargs: Any) -> None:
        super().__init__(id=id, path=path, **kwargs)
        # deprecated in the reference but still honored: every column cast to
        # string on read/write (JsonFileDataObject.scala:59,79 castAll2String)
        self.stringify = stringify

    def _read_options(self) -> dict[str, str]:
        return {"multiLine": "true", **self.options}

    def get_dataframe(self, spark, partition_values=None):
        df = super().get_dataframe(spark, partition_values)
        if self.stringify:
            df = df.select(*[F.col(c).cast("string").alias(c) for c in df.columns])
        return df


_NATIVE_AVRO: dict[int, bool] = {}


def _native_avro_available(spark: SparkSession) -> bool:
    """True iff the spark-avro DataSource module is actually deployed.
    Probed once per session by attempting a schema'd read on a nonexistent
    path: a registered source fails with PATH_NOT_FOUND, an unregistered one
    with FAILED_TO_FIND_DATA_SOURCE (class presence alone is not enough —
    Spark ships avro *classes* without registering the source)."""
    key = id(spark)
    if key not in _NATIVE_AVRO:
        try:
            jvm = spark._jvm
            jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                "avro", jvm.org.apache.spark.sql.internal.SQLConf.get()
            )
            _NATIVE_AVRO[key] = True
        except Exception:  # noqa: BLE001 — failedToFindAvroDataSourceError
            _NATIVE_AVRO[key] = False
    return _NATIVE_AVRO[key]


@register_data_object_type
class AvroFileDataObject(SparkFileDataObject):
    """Reference: `dataobject/AvroFileDataObject.scala:46-63`.

    Spark treats avro as an external module; when the spark-avro jar is on
    the classpath the inherited `format("avro")` path is used unchanged.
    Without it (this container) IO falls back to the pure-Python OCF codec
    in `avro_ocf.py` — a distributed binaryFile+mapInPandas read and a
    per-partition container write, cross-verified against the Apache Avro
    Java implementation in tests. The fallback writes Hive-layout partition
    directories (partition columns dropped from the payload, recovered from
    the path on read) and replaces only its own `_write`: the save-mode
    and scope decisions, and what a failed write leaves, are the native
    path's. Partition values are %-encoded in directory names; values needing
    escaping beyond Hive's plain `col=value` form are an accepted edge for
    the overwrite-delete match."""

    format = "avro"

    def get_dataframe(
        self, spark: SparkSession, partition_values: list[PartitionValues] | None = None
    ) -> DataFrame:
        if _native_avro_available(spark):
            return super().get_dataframe(spark, partition_values)
        from smart_data_lake_spark.dataobjects.avro_ocf import read_avro

        df = read_avro(spark, self.path, spark_schema=self.schema, partition_cols=self.partitions)
        if partition_values:
            df = apply_partition_filter(df, partition_values)
        if self.filename_column:
            df = df.withColumn(self.filename_column, F.input_file_name())
        return df

    def _write(self, df: DataFrame, path: str, spark_mode: str) -> dict[str, Any]:
        spark = df.sparkSession
        if _native_avro_available(spark):
            return super()._write(df, path, spark_mode)
        import secrets

        from smart_data_lake_spark.dataobjects.avro_ocf import write_avro

        fs = get_fs(spark, path)
        if spark_mode in ("error", "ignore") and any(fs.file_stats(path)):
            if spark_mode == "ignore":
                return {"records_written": 0, "no_data": True}
            raise FileExistsError(f"({self.id}) {path} already exists")
        # a prefix of this write's own: its files land next to existing ones,
        # which it must never clobber
        prefix = f"part-{secrets.token_hex(4)}"
        codec = self.options.get("compression", "deflate")
        n = write_avro(df, path, codec=codec, prefix=prefix, partition_cols=self.partitions)
        if spark_mode == "dynamic":
            # dynamic-partition-overwrite parity: replace exactly the
            # partitions this write touched. The written-dirs manifest from
            # the write itself drives the cleanup, never a second pass over
            # the input lineage
            for sub in n.partition_dirs:
                target = os.path.join(path, sub) if sub else path
                for fname in fs.listdir(target) if fs.is_dir(target) else []:
                    if fname.endswith(".avro") and not fname.startswith(prefix):
                        fs.delete(os.path.join(target, fname))
        return {"records_written": int(n)}

    def _partition_dirs(self, spark: SparkSession, pv: PartitionValues) -> list[str]:
        """The fallback writer %-encodes partition values in directory names
        (read back via url_decode), Spark's native writer does not: both
        forms, the one this session's writer uses first, so an overwrite of a
        value needing encoding never keeps old files."""
        from urllib.parse import quote

        encoded = "/".join(f"{k}={quote(str(v), safe='')}" for k, v in pv.values)
        forms = [pv.hive_path(), encoded] if _native_avro_available(spark) else [encoded, pv.hive_path()]
        return [os.path.join(self.path, sub) for sub in dict.fromkeys(forms)]


@register_data_object_type
class XmlFileDataObject(SparkFileDataObject):
    """XML via Spark 4's NATIVE xml source (`dataobject/XmlFileDataObject
    .scala:57-77` needed the external spark-xml package; no longer gated).
    `row_tag` selects the repeated element mapped to rows."""

    format = "xml"

    def __init__(self, id: str, path: str, row_tag: str = "row", **kwargs: Any) -> None:
        super().__init__(id=id, path=path, **kwargs)
        self.row_tag = row_tag

    def _read_options(self) -> dict[str, str]:
        return {"rowTag": self.row_tag, **self.options}


@register_data_object_type
class RawFileDataObject(SparkFileDataObject):
    """binaryFile/text source (`dataobject/RawFileDataObject.scala:38-52`);
    the substrate for multimodal (image/audio/video) columns — see
    functions/multimodal.py.

    `custom_partition_layout` encodes partition values in FILE/DIR NAMES via
    `%col%` / `%col:regex%` tokens (util/hdfs/PartitionLayout.scala), e.g.
    ``AB_%town%_%year:[0-9]+%`` extracts town/year from ``AB_NYC_2019.csv``.
    Extraction is a driver-side regex over the listing (metadata scale), the
    data files themselves are never opened."""

    format = "binaryFile"

    def __init__(
        self,
        id: str,
        path: str,
        custom_format: str | None = None,
        custom_partition_layout: str | None = None,
        **kwargs: Any,
    ) -> None:
        if custom_format:
            kwargs["format"] = custom_format
        super().__init__(id=id, path=path, **kwargs)
        self.custom_partition_layout = custom_partition_layout
        if custom_partition_layout is not None:
            from smart_data_lake_spark.partitions import validate_layout_against_partitions

            validate_layout_against_partitions(custom_partition_layout, self.partitions, id)

    def extract_partition_values(self, file_path: str) -> PartitionValues | None:
        """Match the layout against the path relative to the DO root; None if
        the file does not conform (it is then not part of this object)."""
        from smart_data_lake_spark.partitions import extract_partition_values_from_path

        rel = os.path.relpath(file_path, self.path).replace(os.sep, "/")
        return extract_partition_values_from_path(self.custom_partition_layout, rel)

    def get_file_refs(self, partition_values: list[PartitionValues] | None = None) -> list[str]:
        if self.custom_partition_layout is None:
            return super().get_file_refs(partition_values)
        out = []
        for full in self._data_files(None):
            fpv = self.extract_partition_values(full)
            if fpv is None:
                continue
            if partition_values and not any(
                all(fpv.as_dict.get(k) == str(v) for k, v in want.as_dict.items())
                for want in partition_values
            ):
                continue
            out.append(full)
        return out

    def list_partitions(self, spark: SparkSession) -> list[PartitionValues]:
        if self.custom_partition_layout is None:
            return super().list_partitions(spark)
        seen: dict[tuple, PartitionValues] = {}
        for f in self.get_file_refs():
            fpv = self.extract_partition_values(f)
            if fpv is not None:
                seen[tuple(sorted(fpv.as_dict.items()))] = fpv
        return list(seen.values())

    _FIXED_SCHEMAS = {
        "binaryFile": "path string, modificationTime timestamp, length long, content binary",
        "text": "value string",
    }

    def get_dataframe(self, spark, partition_values=None):
        if self.custom_partition_layout is not None:
            # name-encoded partitions have NO hive dirs for the base class's
            # path pruning to find — resolve concrete files via the layout,
            # read them grouped per partition, and attach the partition
            # values as literal columns (bounded by #partitions, and each
            # group read is a normal distributed scan)
            groups: dict[tuple, list[str]] = {}
            for f in self.get_file_refs(partition_values):
                fpv = self.extract_partition_values(f)
                if fpv is not None:
                    groups.setdefault(tuple(sorted(fpv.as_dict.items())), []).append(f)
            base_ddl = self._FIXED_SCHEMAS.get(self.format)
            if not groups:
                if base_ddl is None:
                    raise NoDataToProcessError(
                        f"({self.id}) no files match the partition layout for {partition_values}"
                    )
                empty_schema = T.StructType(
                    list(T._parse_datatype_string(base_ddl).fields)
                    + [T.StructField(p, T.StringType()) for p in self.partitions]
                )
                return spark.createDataFrame([], empty_schema)
            parts = []
            for key, files in sorted(groups.items()):
                g = spark.read.format(self.format).options(**self._read_options()).load(files)
                for col_name, value in key:
                    g = g.withColumn(col_name, F.lit(value))
                parts.append(g)
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            if self.filename_column:
                df = df.withColumn(self.filename_column, F.input_file_name())
            return df
        df = super().get_dataframe(spark, partition_values)
        # binaryFile/text have source-fixed schemas; partition columns only
        # appear via directory discovery — add declared ones that are absent
        # (e.g. an empty or non-hive layout) so the read schema is stable
        # (RawFileDataObject fixes its schema, RawFileDataObjectTest:43-51)
        for p in self.partitions:
            if p not in df.columns:
                df = df.withColumn(p, F.lit(None).cast("string"))
        return df
