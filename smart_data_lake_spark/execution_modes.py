"""Execution modes — the incremental-processing operators.

Reference: `workflow/action/executionMode/` (SURVEY §2.7). An execution mode
inspects input/output DataObjects before exec and returns an
ExecutionModeResult (ExecutionMode.scala:156): partition values to process
and/or a filter to apply to the main input — applied in
ActionSubFeedsImpl.scala:96-118.
"""

from __future__ import annotations

import abc
import os
from dataclasses import dataclass, field
from typing import Any
from urllib.parse import unquote

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from smart_data_lake_spark.dataobjects.base import (
    CanCreateDataFrame,
    CanCreateIncrementalOutput,
    CanHandlePartitions,
    DataObject,
)
from smart_data_lake_spark.fs import get_fs
from smart_data_lake_spark.partitions import PartitionValues, diff_partition_values


@dataclass
class ExecutionModeResult:
    input_partition_values: list[PartitionValues] = field(default_factory=list)
    output_partition_values: list[PartitionValues] = field(default_factory=list)
    filter: Any = None  # SQL expression string or pyspark Column
    options: dict[str, Any] = field(default_factory=dict)
    no_data: bool = False


class ExecutionMode(abc.ABC):
    def pre_init(self, input_do: DataObject, output_do: DataObject) -> None:
        pass

    @abc.abstractmethod
    def apply(
        self,
        spark: SparkSession,
        input_do: DataObject,
        output_do: DataObject,
        given_partition_values: list[PartitionValues],
        state: dict[str, Any],
    ) -> ExecutionModeResult:
        ...

    def post_exec(self, spark: SparkSession, input_do: DataObject, output_do: DataObject, state: dict[str, Any]) -> None:
        pass


class ProcessAllMode(ExecutionMode):
    """Explicitly disable inherited filters (ExecutionMode.scala:136-147)."""

    def apply(self, spark, input_do, output_do, given_partition_values, state):
        return ExecutionModeResult()


@dataclass
class PartitionDiffMode(ExecutionMode):
    """Process partitions present in input but missing in output
    (PartitionDiffMode.scala:61-197).

    Options mirror the reference: `partition_col_nb` compares only the first
    N partition columns; `nb_of_partition_values_per_run` bounds per-run work
    (scale lever: a backlog of 10k partitions is chewed in batches);
    `apply_condition` / `select_expression` hooks are python callables here;
    `alternative_output_id` diffs against another DataObject's partitions.
    """

    partition_col_nb: int | None = None
    nb_of_partition_values_per_run: int | None = None
    select_expression: Any = None  # callable: list[PartitionValues] -> list[PartitionValues]
    # selectAdditionalInputExpression (PartitionDiffMode.scala, ExecutionModeTest
    # 'selectAdditionalInputExpression with udf'): callable
    # (selected: list[PartitionValues], all_input: list[PartitionValues]) ->
    # list[PartitionValues]. Widens the INPUT partitions only (e.g. always
    # re-read a reference partition); the OUTPUT partitions stay the diff.
    select_additional_input_expression: Any = None
    fail_condition: Any = None  # callable: ExecutionModeResult -> str | None
    # applyCondition (ExecutionModeWithMainInputOutput.scala /
    # PartitionDiffMode.scala:92): callable list[PartitionValues] -> bool.
    # Default = apply the diff ONLY when the run carries no partition values;
    # a top-level `--partition-values` filter overrides the mode and the
    # given partitions are processed as-is (ActionDAGTest.scala:460 'positive
    # top-level partition values filter, ignoring executionMode=
    # PartitionDiffMode').
    apply_condition: Any = None
    # applyPartitionValuesTransform (PartitionDiffMode.scala / CopyActionTest
    # 'date to month aggregation...'): diff the INPUT partitions through the
    # transformer chain's partition-value mapping before comparing with the
    # output's partitions — date-grain input vs month-grain output. The
    # ACTION injects `partition_values_transform` (positional list→list)
    # from its transformers when the flag is set.
    apply_partition_values_transform: bool = False
    partition_values_transform: Any = None
    # compare against a DIFFERENT DataObject's partitions than the action's
    # direct output (PartitionDiffMode.alternativeOutputId): the standard
    # trick when the direct output is transient/non-partition-listable and
    # completeness is defined by a table further down the chain — the action
    # resolves the id and passes that object as output_do
    alternative_output_id: str | None = None

    def apply(self, spark, input_do, output_do, given_partition_values, state):
        do_apply = (
            bool(self.apply_condition(given_partition_values))
            if self.apply_condition is not None
            else not given_partition_values
        )
        if not do_apply:
            # mode overridden: the given partition values flow through
            # unchanged (reprocessing an already-loaded partition on purpose)
            return ExecutionModeResult(
                input_partition_values=list(given_partition_values),
                output_partition_values=list(given_partition_values),
            )
        if not isinstance(input_do, CanHandlePartitions) or not isinstance(output_do, CanHandlePartitions):
            raise ValueError("PartitionDiffMode requires partitioned input and output DataObjects")
        in_parts = input_do.list_partitions(spark)
        out_parts = output_do.list_partitions(spark)
        if self.partition_col_nb is not None:
            cols = input_do.partitions[: self.partition_col_nb]
            in_parts = sorted({PartitionValues.of({c: pv.as_dict[c] for c in cols}) for pv in in_parts},
                              key=str)
            out_parts = [PartitionValues.of({c: pv.as_dict.get(c) for c in cols}) for pv in out_parts]
        if given_partition_values:
            in_parts = [pv for pv in in_parts if pv in given_partition_values]
        if self.apply_partition_values_transform and self.partition_values_transform is not None:
            # diff in the OUTPUT's partition grain: an input partition is
            # "done" when its mapped value already exists in the output
            mapped = list(self.partition_values_transform(list(in_parts)))
            out_set = set(out_parts)
            missing = [pv for pv, m in zip(in_parts, mapped) if m not in out_set]
        else:
            missing = diff_partition_values(in_parts, out_parts)
        if self.select_expression is not None:
            missing = self.select_expression(missing)
        if self.nb_of_partition_values_per_run is not None:
            missing = sorted(missing, key=str)[: self.nb_of_partition_values_per_run]
        input_pvs = list(missing)
        if self.select_additional_input_expression is not None:
            input_pvs = list(self.select_additional_input_expression(input_pvs, in_parts))
        result = ExecutionModeResult(
            input_partition_values=input_pvs, output_partition_values=missing, no_data=not missing
        )
        if self.fail_condition is not None:
            msg = self.fail_condition(result)
            if msg:
                raise RuntimeError(f"PartitionDiffMode failCondition: {msg}")
        return result


@dataclass
class DataFrameIncrementalMode(ExecutionMode):
    """High-watermark incremental on a sortable compare column
    (DataFrameIncrementalMode.scala:42-113): filter input rows where
    compare_col > max(output.compare_col). Two tiny agg(max) queries; the
    resulting predicate is pushed into the input scan by Catalyst.
    """

    compare_col: str = ""

    def apply(self, spark, input_do, output_do, given_partition_values, state):
        assert self.compare_col, "compare_col required"
        exists = getattr(output_do, "exists", lambda s: True)(spark)
        if not (exists and isinstance(output_do, CanCreateDataFrame)):
            # output not created yet → select all (reference case (Some, None))
            return ExecutionModeResult()
        # both frames exist: the reference's case order (DataFrameIncremental
        # Mode.scala:81-98) — empty input skips even when the output is
        # empty; equal latest values skip; null output latest → process all.
        # A read error must propagate: silently falling back to full
        # reprocessing would duplicate rows under APPEND save mode.
        assert isinstance(input_do, CanCreateDataFrame)
        in_hwm = (
            input_do.get_dataframe(spark)
            .agg(F.max(self.compare_col).alias("hwm"))
            .collect()[0]["hwm"]
        )
        if in_hwm is None:
            return ExecutionModeResult(no_data=True)
        hwm = (
            output_do.get_dataframe(spark)
            .agg(F.max(self.compare_col).alias("hwm"))
            .collect()[0]["hwm"]
        )
        if hwm is None:
            return ExecutionModeResult()
        if in_hwm == hwm:
            return ExecutionModeResult(no_data=True)
        # build the predicate as a Column, not SQL text — immune to quoting
        # issues with string high-watermarks; Catalyst still pushes it into
        # the input scan
        return ExecutionModeResult(filter=F.col(self.compare_col) > F.lit(hwm))


@dataclass
class DataObjectStateIncrementalMode(ExecutionMode):
    """Delegate to the source's own incremental state — file mod times, Kafka
    offsets, JDBC bounds (DataObjectStateIncrementalMode.scala:31-62). The
    state string is persisted in the run state store between runs
    (ActionDAGRunState.scala:75)."""

    def apply(self, spark, input_do, output_do, given_partition_values, state):
        if not isinstance(input_do, CanCreateIncrementalOutput):
            raise ValueError("DataObjectStateIncrementalMode requires an incremental-capable input")
        input_do.set_state(state.get("data_object_state"))
        return ExecutionModeResult()

    def post_exec(self, spark, input_do, output_do, state):
        if isinstance(input_do, CanCreateIncrementalOutput):
            new_state = input_do.get_state()
            if new_state:
                state["data_object_state"] = new_state


@dataclass
class FileIncrementalMoveMode(ExecutionMode):
    """Process-then-archive/delete consumed files (FileIncrementalMoveMode.scala:55).

    archive_path semantics follow the reference (ExecutionModeTest.scala
    archive scenarios): a RELATIVE path resolves against the input
    DataObject's root (files land in `<src>/archive/...`); an absolute path
    is used as-is; with `archive_inside_partition` each file archives into
    an `archive/` subdirectory of ITS OWN partition directory. An empty
    source raises NoDataToProcessWarning → the action skips.
    """

    archive_path: str | None = None
    archive_inside_partition: bool = False
    _consumed_files: list[str] = field(default_factory=list)

    def apply(self, spark, input_do, output_do, given_partition_values, state):
        if isinstance(input_do, CanCreateDataFrame):
            # a read/listing error must PROPAGATE, not degrade to "no data":
            # converting it to a skip would silently stop the feed (same
            # discipline as DataFrameIncrementalMode's read path). A legit
            # empty source returns [] here without raising.
            self._consumed_files = list(input_do.get_dataframe(spark).inputFiles())
        if not self._consumed_files:
            # FileIncrementalMoveMode.scala: no files selected → no data
            return ExecutionModeResult(no_data=True)
        return ExecutionModeResult()

    def _archive_target(self, input_do, file_path: str) -> str:
        if self.archive_inside_partition:
            # <partition-dir>/<archive_path>/<filename>
            return os.path.join(
                os.path.dirname(file_path), self.archive_path or "archive",
                os.path.basename(file_path),
            )
        base = self.archive_path or "archive"
        if not os.path.isabs(base):
            root = getattr(input_do, "path", None)
            if root:
                base = os.path.join(root, base)
        return os.path.join(base, os.path.basename(file_path))

    def post_exec(self, spark, input_do, output_do, state):
        # the consumed files are percent-encoded URIs as `inputFiles()`
        # returns them (`file:///x/a%20b`, `s3a://bucket/x`): each one is
        # decoded and moved by its own file system
        for path in map(unquote, self._consumed_files):
            fs = get_fs(spark, path)
            if not fs.exists(path):
                continue
            if self.archive_path or self.archive_inside_partition:
                target = self._archive_target(input_do, path)
                fs.mkdirs(os.path.dirname(target))
                fs.move(path, target)
            else:
                fs.delete(path)
        self._consumed_files = []


@dataclass
class SparkStreamingMode(ExecutionMode):
    """Structured-streaming execution (SparkStreamingMode.scala:40-54):
    trigger=Once/AvailableNow → micro-batch per run; processingTime → async
    continuous query. Handled by the action's streaming write path."""

    checkpoint_location: str = ""
    trigger_type: str = "availableNow"  # availableNow | once | processingTime
    trigger_interval: str | None = None
    output_mode: str = "append"

    def apply(self, spark, input_do, output_do, given_partition_values, state):
        return ExecutionModeResult(options={"streaming": True})

    def trigger(self) -> dict[str, Any]:
        if self.trigger_type == "processingTime":
            return {"processingTime": self.trigger_interval or "10 seconds"}
        if self.trigger_type == "once":
            return {"once": True}
        return {"availableNow": True}


@dataclass
class CustomMode(ExecutionMode):
    """User plugin deciding partitions/filter (CustomMode.scala:39)."""

    fn: Any = None  # callable: (spark, input_do, output_do, given_pvs, state) -> ExecutionModeResult

    def apply(self, spark, input_do, output_do, given_partition_values, state):
        return self.fn(spark, input_do, output_do, given_partition_values, state)


@dataclass
class CustomPartitionMode(ExecutionMode):
    """User plugin returning the partition values to process
    (CustomPartitionMode.scala:38-60). Unlike CustomMode, the plugin only
    picks partitions — the framework builds the filter/result, so the
    contract stays declarative and partition-prunable."""

    fn: Any = None  # callable: (spark, input_do, output_do, given_pvs, state) -> list[PartitionValues] | None
    # CustomPartitionMode.alternativeOutputId (ExecutionModeTest
    # 'CustomPartitionMode alternativeOutputId'): resolved by the action
    # exactly like PartitionDiffMode's — the plugin's output_do argument
    # becomes the alternative object
    alternative_output_id: str | None = None

    def apply(self, spark, input_do, output_do, given_partition_values, state):
        if not isinstance(input_do, CanHandlePartitions):
            raise ValueError("CustomPartitionMode requires a partitioned input DataObject")
        selected = self.fn(spark, input_do, output_do, given_partition_values, state)
        if selected is None:
            return ExecutionModeResult()
        selected = list(selected)
        return ExecutionModeResult(
            input_partition_values=selected,
            output_partition_values=selected,
            no_data=not selected,
        )
