"""SubFeeds — what flows along a DAG edge.

Reference: `workflow/SubFeed.scala:32-74` (base),
`workflow/dataframe/spark/SparkSubFeed.scala:47-146` (Spark flavour),
`workflow/FileSubFeed.scala:38` (file lists), `workflow/ScriptSubFeed.scala:38`
(script params). A SubFeed is a *reference* to data — a lazy DataFrame plus
partition values, an optional pushed-down filter, and skip flags — never
materialised rows.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field, replace
from typing import Any, Callable

from pyspark.sql import DataFrame

from smart_data_lake_spark.partitions import PartitionValues, apply_partition_filter


@dataclass
class SubFeed:
    data_object_id: str
    partition_values: list[PartitionValues] = field(default_factory=list)
    is_skipped: bool = False
    is_dag_start: bool = False
    metrics: dict[str, Any] = field(default_factory=dict)

    def clear_partition_values(self) -> "SubFeed":
        return replace(self, partition_values=[])


class PendingRead:
    """A storage read that runs on the first `get()` and at most once:
    later calls return the same DataFrame, and a lock makes that hold when
    DAG threads share the subfeed. A read that raises is not memoized; the
    next `get()` runs it again."""

    def __init__(self, read: Callable[[], DataFrame]) -> None:
        self._read: Callable[[], DataFrame] | None = read
        self._df: DataFrame | None = None
        self._lock = threading.Lock()

    def get(self) -> DataFrame:
        with self._lock:
            if self._read is not None:
                self._df = self._read()
                self._read = None
            return self._df


@dataclass
class SparkSubFeed(SubFeed):
    """DataFrame-carrying subfeed (SparkSubFeed.scala:47).

    `frame` holds a lazy DataFrame, or, on the output of a batch write, a
    `PendingRead` of what was written; `df` returns the DataFrame. The
    written output is read back from storage on the first access to `df`
    (or `is_streaming`, `apply_partition_filter`), by the consuming action
    or a caller, never by the writer: an output nothing uses costs no read,
    and a failing read surfaces at that access. `df` is a property, not a
    field, so `clear_partition_values` and `dataclasses.replace` carry a
    pending read over unread; `with_df` and `break_lineage` replace it.
    `filter` is a SQL predicate that has been applied (kept for
    lineage/debugging); `is_dummy` marks init-phase schema-only frames.
    """

    frame: DataFrame | PendingRead | None = None
    filter: str | None = None
    is_dummy: bool = False

    @property
    def df(self) -> DataFrame | None:
        frame = self.frame
        return frame.get() if isinstance(frame, PendingRead) else frame

    @df.setter
    def df(self, df: DataFrame | None) -> None:
        self.frame = df

    @property
    def is_streaming(self) -> bool:
        return self.df is not None and self.df.isStreaming

    def with_df(self, df: DataFrame) -> "SparkSubFeed":
        return replace(self, frame=df, is_dummy=False)

    def apply_partition_filter(self) -> "SparkSubFeed":
        if self.df is None or not self.partition_values:
            return self
        return replace(self, frame=apply_partition_filter(self.df, self.partition_values))

    def break_lineage(self) -> "SparkSubFeed":
        """Drop the DataFrame so the next action re-reads from storage
        (SubFeed.breakLineage, SubFeed.scala:40-45) — avoids mile-long plans
        that blow up Catalyst analysis time on big DAGs."""
        return replace(self, frame=None, is_dummy=False)


@dataclass
class FileSubFeed(SubFeed):
    """File-reference subfeed for non-Spark file transfer (FileSubFeed.scala:38)."""

    file_refs: list[str] | None = None


@dataclass
class ScriptSubFeed(SubFeed):
    """String parameters between script actions (ScriptSubFeed.scala:38)."""

    parameters: dict[str, str] = field(default_factory=dict)
