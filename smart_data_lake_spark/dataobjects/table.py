"""Table DataObjects: transactional tables with merge/upsert support.

Reference: `sdl-deltalake/.../DeltaLakeTableDataObject.scala:102-123` (merge at
:400-440), `dataobject/HiveTableDataObject.scala:70-233`,
`dataobject/JdbcTableDataObject.scala` (temp-table transactional overwrite
:330-356, generated MERGE :375-400).

Delta Lake is the preferred store when the `delta` python package is present
(cluster deployments); this container lacks it, so `ParquetTableDataObject`
provides the same SaveMode surface — including MERGE — on plain parquet. Its
merge is implemented as anti-join + union rewrite, which is correct but
rewrites the table; the class docs flag that at 100 TB you deploy the Delta
variant, whose MERGE touches only matching files (data-skipping on the join
keys + `additional_merge_predicate` pruning).
"""

from __future__ import annotations

import os
import threading
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_data_lake_spark.config import register_data_object_type
from smart_data_lake_spark.dataobjects.base import CanMergeDataFrame, Table
from smart_data_lake_spark.dataobjects.file import SparkFileDataObject
from smart_data_lake_spark.fs import get_fs
from smart_data_lake_spark.partitions import PartitionValues
from smart_data_lake_spark.save_modes import SaveMode, SaveModeMergeOptions

try:  # delta-spark is optional (not in this container)
    from delta.tables import DeltaTable  # type: ignore

    _HAS_DELTA = True
except ImportError:  # pragma: no cover
    DeltaTable = None
    _HAS_DELTA = False


@register_data_object_type
class ParquetTableDataObject(SparkFileDataObject, CanMergeDataFrame):
    """A parquet-backed table with primary key and MERGE save mode.

    Stands in for TransactionalTableDataObject implementations where no
    transactional format is available. MERGE semantics match
    SaveModeMergeOptions (SDLSaveMode.scala:126-153):
      matched + delete_condition  → delete
      matched + update_condition  → update (update_columns subset)
      not matched + insert_condition → insert
    """

    format = "parquet"

    def __init__(
        self,
        id: str,
        path: str,
        table: Table | dict | None = None,
        keep_snapshots: int = 0,
        **kwargs: Any,
    ) -> None:
        super().__init__(id=id, path=path, **kwargs)
        if isinstance(table, dict):
            table = Table.of(table)
        self.table = table or Table(name=id)
        # N previous table states retained for time travel (Delta/Iceberg
        # keep these as part of their commit log; the parquet stand-in keeps
        # whole-directory snapshots — O(table) space per version, the honest
        # cost of versioning without a transactional format)
        self.keep_snapshots = keep_snapshots

    @property
    def primary_key(self) -> list[str]:
        if not self.table.primary_key:
            raise ValueError(f"({self.id}) primary key required for merge")
        return self.table.primary_key

    def exists(self, spark: SparkSession) -> bool:
        return any(f.endswith(".parquet") for f, _, _ in get_fs(spark, self.path).file_stats(self.path))

    def get_dataframe(self, spark, partition_values=None):
        if not self.exists(spark):
            # a not-yet-written table with a declared (min) schema reads as an
            # empty frame instead of failing — lets a first Historize/Dedup run
            # union against "the previous state" uniformly
            # (TickTockHiveTableDataObjectTest:49)
            declared = self.schema or self.schema_min
            if declared is not None:
                return spark.createDataFrame([], declared)
        return super().get_dataframe(spark, partition_values)

    def write_dataframe(
        self,
        df: DataFrame,
        partition_values: list[PartitionValues] | None = None,
        save_mode: SaveMode | None = None,
        merge_options: SaveModeMergeOptions | None = None,
    ) -> dict[str, Any]:
        mode = save_mode or self.save_mode
        if mode == SaveMode.MERGE:
            return self.merge_dataframe_by_primary_key(df, merge_options)
        return super().write_dataframe(df, partition_values, mode)

    def merge_dataframe_by_primary_key(
        self, df: DataFrame, merge_options: SaveModeMergeOptions | None = None
    ) -> dict[str, Any]:
        from smart_data_lake_spark.merge import apply_insert_semantics, merge_dataframes

        spark = df.sparkSession
        opts = merge_options or SaveModeMergeOptions()
        if not self.exists(spark):
            # initial load of a merge target: apply the insert clause
            # (condition + ignored columns + overrides) to the source alone
            return super().write_dataframe(apply_insert_semantics(df, opts), None, SaveMode.OVERWRITE)
        result = merge_dataframes(self.get_dataframe(spark), df, self.primary_key, opts)
        # the result reads the live table: a whole-object swap, never a
        # delete before the job (Delta/Iceberg replace this with a commit)
        return self._write_replacing(result, SaveMode.OVERWRITE, None, whole_object=True)

    # -- snapshot retention / time travel ---------------------------------

    @property
    def _snapshot_root(self) -> str:
        return self.path.rstrip("/") + "_snapshots"

    def _retire(self, fs, aside: str) -> None:
        """With `keep_snapshots`, the replaced table becomes the next
        snapshot version and versions beyond `keep_snapshots` are pruned.
        Versions are monotonically increasing ints; driver-side metadata ops
        only (one move + bounded deletes)."""
        if self.keep_snapshots <= 0:
            return super()._retire(fs, aside)
        existing = self.snapshot_versions(fs)
        nxt = (existing[-1] + 1) if existing else 0
        fs.mkdirs(self._snapshot_root)
        fs.move(aside, f"{self._snapshot_root}/v{nxt}")
        for v in (existing + [nxt])[: -self.keep_snapshots]:
            fs.delete(f"{self._snapshot_root}/v{v}", recursive=True)

    def snapshot_versions(self, fs=None) -> list[int]:
        """Available snapshot versions, oldest first (excludes the live
        table, which is always the newest state)."""
        fs = fs or get_fs(None, self.path)
        root = self._snapshot_root
        if not fs.is_dir(root):
            return []
        return sorted(
            int(name[1:])
            for name in fs.listdir(root)
            if name.startswith("v") and name[1:].isdigit()
        )

    def get_dataframe_version(self, spark: SparkSession, version: int) -> DataFrame:
        """Time travel: read a retained snapshot (`version` as listed by
        `snapshot_versions`). The Delta/Iceberg DataObjects expose the same
        capability through their native `versionAsOf`/`snapshot-id` reads;
        the parquet stand-in serves it from the retained directories."""
        path = f"{self._snapshot_root}/v{version}"
        if not get_fs(spark, self.path).is_dir(path):
            raise ValueError(
                f"({self.id}) snapshot v{version} not available; "
                f"retained: {self.snapshot_versions()}"
            )
        return self._load_inferring(spark, self._read_options(), path)


@register_data_object_type
class HiveTableDataObject(ParquetTableDataObject):
    """Metastore-registered table (`HiveTableDataObject.scala:70-233`) with
    `analyzeTableAfterWrite` stats collection for the cost-based optimizer.

    Two storage modes, matching the reference's external/managed split:
      * external (default): data written to `path`, table registered as an
        external parquet table pointing there;
      * managed (`managed=True`): data written through the catalog with
        `saveAsTable` / `insertInto` (HiveTableDataObject.scala:180-214's
        writeDataFrameInternal), with by-name schema validation before the
        position-based insertInto — a column-order mismatch must realign or
        fail, never silently write columns into the wrong slots.
    """

    def __init__(
        self,
        id: str,
        path: str | None = None,
        table: Table | dict | None = None,
        analyze_table_after_write: bool = False,
        managed: bool = False,
        **kwargs: Any,
    ) -> None:
        if path is None and not managed:
            raise ValueError(f"({id}) external Hive table requires a path (or set managed=True)")
        super().__init__(id=id, path=path or "", table=table, **kwargs)
        self.analyze_table_after_write = analyze_table_after_write
        self.managed = managed

    # -- managed-mode catalog IO ------------------------------------------
    def exists(self, spark: SparkSession) -> bool:
        if self.managed:
            return spark.catalog.tableExists(self.table.full_name)
        return super().exists(spark)

    def get_dataframe(self, spark, partition_values=None):
        if self.managed:
            df = spark.table(self.table.full_name)
            if partition_values:
                from smart_data_lake_spark.partitions import apply_partition_filter

                df = apply_partition_filter(df, partition_values)
            self.validate_schema_min(df, "read")
            return df
        return super().get_dataframe(spark, partition_values)

    def _write_managed(self, df: DataFrame, mode: SaveMode) -> dict[str, Any]:
        spark = df.sparkSession
        name = self.table.full_name
        if not spark.catalog.tableExists(name):
            writer = df.write.format("parquet")
            if self.partitions:
                writer = writer.partitionBy(*self.partitions)
            writer.saveAsTable(name)
            return {"records_written": spark.table(name).count()}
        # existing table: insertInto is POSITION-based — validate by name and
        # realign, erroring on any column-set mismatch
        existing_cols = spark.table(name).columns
        missing = [c for c in existing_cols if c not in df.columns]
        extra = [c for c in df.columns if c not in existing_cols]
        if missing or extra:
            raise ValueError(
                f"({self.id}) schema mismatch writing to managed table {name}: "
                f"missing={missing} extra={extra}"
            )
        aligned = df.select(*existing_cols)
        aligned.write.insertInto(name, overwrite=(mode == SaveMode.OVERWRITE))
        return {"records_written": aligned.count()}

    def write_dataframe(self, df, partition_values=None, save_mode=None, merge_options=None):
        spark = df.sparkSession
        mode = save_mode or self.save_mode
        if self.managed:
            if mode == SaveMode.MERGE:
                raise ValueError(
                    f"({self.id}) MERGE requires a transactional format — use "
                    "DeltaLakeTableDataObject/IcebergTableDataObject or external mode"
                )
            self.validate_schema_min(df, "write")
            metrics = self._write_managed(df, mode)
        else:
            metrics = super().write_dataframe(df, partition_values, save_mode, merge_options)
            name = self.table.full_name
            # a scheme-qualified path (file:, s3a:, ...) is already absolute
            location = self.path if ":" in self.path.split("/", 1)[0] else os.path.abspath(self.path)
            if self.partitions:
                # partitioned external table needs explicit column DDL +
                # PARTITIONED BY, then partition discovery. MSCK rescans the
                # whole layout — fine here (metadata-only), but on a table
                # with millions of partitions use ALTER TABLE ADD PARTITION
                # for just the written ones (same contract as the reference's
                # HiveUtil.repairPath)
                data_cols = [f for f in df.schema.fields if f.name not in self.partitions]
                part_cols = [f for f in df.schema.fields if f.name in self.partitions]
                cols_ddl = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}" for f in data_cols + part_cols
                )
                spark.sql(
                    f"CREATE TABLE IF NOT EXISTS {name} ({cols_ddl}) USING PARQUET "
                    f"PARTITIONED BY ({', '.join(self.partitions)}) "
                    f"LOCATION '{location}'"
                )
                spark.sql(f"MSCK REPAIR TABLE {name}")
            else:
                spark.sql(
                    f"CREATE TABLE IF NOT EXISTS {name} "
                    f"USING PARQUET LOCATION '{location}'"
                )
            spark.sql(f"REFRESH TABLE {name}")
        if self.analyze_table_after_write:
            # feeds Catalyst CBO join reordering (HiveTableDataObject.scala:
            # 220-223 analyzeTable / HiveUtil.analyze). With partition values
            # only the WRITTEN partitions are analyzed (partial specs allowed)
            # — a whole-table ANALYZE is a full scan, wrong at 100 TB
            if self.partitions and partition_values and not self.managed:
                for pv in partition_values:
                    # escape embedded quotes: partition values are data-derived
                    # literals and must not break the spec (driver-ADVICE r7)
                    spec = ", ".join(
                        "{}='{}'".format(k, str(v).replace("'", "\\'"))
                        for k, v in pv.as_dict.items()
                    )
                    spark.sql(
                        f"ANALYZE TABLE {self.table.full_name} PARTITION ({spec}) "
                        "COMPUTE STATISTICS"
                    )
            else:
                spark.sql(f"ANALYZE TABLE {self.table.full_name} COMPUTE STATISTICS")
        return metrics

    def get_stats(self, spark: SparkSession, update: bool = False) -> dict[str, Any]:
        """Path stats + catalog statistics (HiveTableDataObject.scala:301-
        320): with `update`, re-ANALYZE only when the data changed since the
        catalog stats were computed — never unconditionally, an ANALYZE on a
        100 TB table is a full scan job."""
        stats = super().get_stats(spark, update=False) if not self.managed else {}
        try:
            def catalog_stats() -> dict[str, Any]:
                out: dict[str, Any] = {}
                for row in spark.sql(f"DESCRIBE TABLE EXTENDED {self.table.full_name}").collect():
                    if row["col_name"] == "Statistics":
                        # e.g. "1234 bytes, 56 rows"
                        parts = row["data_type"].split(",")
                        for p in parts:
                            p = p.strip()
                            if p.endswith("bytes"):
                                out["catalogSizeInBytes"] = int(p.split()[0])
                            elif p.endswith("rows"):
                                out["catalogNumRows"] = int(p.split()[0])
                return out

            cat = catalog_stats()
            stale = "catalogNumRows" not in cat
            if update and stale:
                spark.sql(f"ANALYZE TABLE {self.table.full_name} COMPUTE STATISTICS")
                cat = catalog_stats()
            stats.update(cat)
        except Exception as exc:  # noqa: BLE001 — table may not exist yet
            stats.setdefault("info", str(exc))
        return stats


@register_data_object_type
class DeltaLakeTableDataObject(ParquetTableDataObject):
    """Delta table (`DeltaLakeTableDataObject.scala:102-123`, merge :400-440).

    When delta-spark is importable, MERGE uses `DeltaTable.merge` — at scale
    this reads only files whose min/max stats overlap the source keys. Without
    it, falls back to the parquet rewrite merge of the parent class.

    `allow_schema_evolution` mirrors the reference's allowSchemaEvolution
    (`DeltaLakeTableDataObject.scala:91,404-417`): on merge it enables Delta's
    autoMerge conf so updateAll/insertAll widen the target schema, and — when
    explicit update/insert maps force expr clauses (which never evolve,
    delta-io/delta#2300) — pre-creates the missing columns on the target, the
    same ALTER TABLE workaround the reference applies (scala:408-416).
    """

    format = "delta" if _HAS_DELTA else "parquet"

    def __init__(self, *args: Any, allow_schema_evolution: bool = False, **kwargs: Any) -> None:
        super().__init__(*args, **kwargs)
        self.allow_schema_evolution = allow_schema_evolution

    # mirrors the reference's synchronized block: DataObjects with and without
    # autoMerge can merge concurrently in a DAG, and the conf is session-global
    _merge_lock = threading.Lock()

    def merge_dataframe_by_primary_key(self, df, merge_options=None):
        if not _HAS_DELTA:
            return super().merge_dataframe_by_primary_key(df, merge_options)
        opts = merge_options or SaveModeMergeOptions()  # pragma: no cover
        spark = df.sparkSession
        if not self.exists(spark):
            from smart_data_lake_spark.merge import apply_insert_semantics

            return super().write_dataframe(apply_insert_semantics(df, opts), None, SaveMode.OVERWRITE)
        with DeltaLakeTableDataObject._merge_lock:
            return self._merge_locked(spark, df, opts)

    def _merge_locked(self, spark, df, opts):
        target = DeltaTable.forPath(spark, self.path)
        if self.allow_schema_evolution:
            uses_expr_clauses = bool(
                opts.update_columns or opts.insert_columns_to_ignore or opts.insert_values_override
            )
            if uses_expr_clauses:
                # expr clauses can't evolve (delta-io/delta#2300): pre-create
                # missing columns, reference scala:408-416
                insert_cols = [c for c in df.columns if c not in (opts.insert_columns_to_ignore or [])]
                existing = set(target.toDF().columns)
                missing = [c for c in insert_cols if c not in existing]
                if missing:
                    add_columns = getattr(target, "addColumns", None)
                    if add_columns is not None:  # test-double hook
                        add_columns({c: df.schema[c].dataType for c in missing})
                    else:
                        cols_ddl = ", ".join(
                            f"`{c}` {df.schema[c].dataType.simpleString()}" for c in missing
                        )
                        spark.sql(f"ALTER TABLE delta.`{self.path}` ADD COLUMNS ({cols_ddl})")
                    target = DeltaTable.forPath(spark, self.path)
        automerge_key = "spark.databricks.delta.schema.autoMerge.enabled"
        automerge_prev = spark.conf.get(automerge_key, None)
        spark.conf.set(automerge_key, "true" if self.allow_schema_evolution else "false")
        cond = " AND ".join(f"existing.{k} <=> new.{k}" for k in self.primary_key)
        if opts.additional_merge_predicate:
            cond += f" AND ({opts.additional_merge_predicate})"
        builder = target.alias("existing").merge(df.alias("new"), cond)
        if opts.delete_condition:
            builder = builder.whenMatchedDelete(condition=opts.delete_condition)
        if opts.update_columns:
            builder = builder.whenMatchedUpdate(
                condition=opts.update_condition,
                set={c: f"new.{c}" for c in opts.update_columns},
            )
        else:
            builder = builder.whenMatchedUpdateAll(condition=opts.update_condition)
        if opts.update_existing_condition:
            # second matched branch: update all source columns (hash backfill,
            # DeltaLakeTableDataObject.scala:433-437)
            from smart_data_lake_spark.historization import OPERATION_COL

            builder = builder.whenMatchedUpdate(
                condition=opts.update_existing_condition,
                set={c: f"new.{c}" for c in df.columns if c != OPERATION_COL},
            )
        if opts.insert_columns_to_ignore or opts.insert_values_override:
            values = {
                c: f"new.{c}" for c in df.columns if c not in opts.insert_columns_to_ignore
            }
            values.update(opts.insert_values_override)
            builder = builder.whenNotMatchedInsert(condition=opts.insert_condition, values=values)
        else:
            builder = builder.whenNotMatchedInsertAll(condition=opts.insert_condition)
        # metric BEFORE execute(): the source plan typically reads this very
        # table (historize read-modify-write); evaluating it after the merge
        # mutates the table would re-scan post-commit state (and on the
        # parquet-backed test double, read deleted files)
        n = df.count()
        try:
            builder.execute()
        finally:
            # the autoMerge flag is session-global: restore it so merges
            # outside this DataObject (or user code sharing the session)
            # keep their own schema-evolution posture
            if automerge_prev is None:
                spark.conf.unset(automerge_key)
            else:
                spark.conf.set(automerge_key, automerge_prev)
        return {"records_written": n}


# JdbcTableDataObject lives in smart_data_lake_spark/dataobjects/jdbc.py
# (generated transactional SQL + staged merge, JdbcTableDataObject.scala:330-400)
