"""FileTransferAction — stream files input→output without Spark.

Reference: `workflow/action/FileTransferAction.scala:49-118` with the engine in
`util/filetransfer/StreamFileTransfer.scala`: parallel per-file copy with
optional filename-regex renaming.
"""

from __future__ import annotations

import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from smart_data_lake_spark.config import register_action_type
from smart_data_lake_spark.actions.base import Action
from smart_data_lake_spark.fs import list_local_files, local_path
from smart_data_lake_spark.subfeed import FileSubFeed


@register_action_type
class FileTransferAction(Action):
    def __init__(
        self,
        id: str,
        input_id: str,
        output_id: str,
        overwrite: bool = True,
        max_parallelism: int = 8,
        filename_extractor_regex: str | None = None,
        **kwargs: Any,
    ) -> None:
        super().__init__(id=id, **kwargs)
        self.input_id = input_id
        self.output_id = output_id
        self.overwrite = overwrite
        self.max_parallelism = max_parallelism
        self.filename_extractor_regex = filename_extractor_regex

    @property
    def input_ids(self) -> list[str]:
        return [self.input_id]

    @property
    def output_ids(self) -> list[str]:
        return [self.output_id]

    def _list_input_files(self) -> list[str]:
        src = getattr(self._do(self.input_id), "path", None)
        return [] if src is None else list_local_files(src, repr(self))

    @staticmethod
    def _filter_by_partitions(files: list[str], subfeeds) -> list[str]:
        """Keep files living under a hive path matching ANY of the run's
        partition values (FileTransferActionTest partition-filter scenarios:
        a pv filters on `k=v` path segments at any declared level; no pvs =
        all files)."""
        pvs = []
        for sf in subfeeds or []:
            pvs.extend(getattr(sf, "partition_values", None) or [])
        if not pvs:
            return files

        def matches(path: str, pv) -> bool:
            segs = set(path.split(os.sep))
            return all(f"{k}={v}" in segs for k, v in pv.as_dict.items())

        return [f for f in files if any(matches(f, pv) for pv in pvs)]

    def init(self, spark, subfeeds):
        files = self._filter_by_partitions(self._list_input_files(), subfeeds)
        return [FileSubFeed(data_object_id=self.output_id, file_refs=files)]

    def exec(self, spark, subfeeds):
        from smart_data_lake_spark.actions.base import NoDataToProcessWarning

        src_root = local_path(getattr(self._do(self.input_id), "path"), repr(self))
        dst_root = local_path(getattr(self._do(self.output_id), "path"), repr(self))
        os.makedirs(dst_root, exist_ok=True)
        files = self._filter_by_partitions(self._list_input_files(), subfeeds)
        if not files:
            # no matching files (e.g. a non-existing partition filter) →
            # skip, like the reference's NoDataToProcessWarning
            raise NoDataToProcessWarning(self.id, "no files to transfer")

        def copy(path: str) -> str:
            rel = os.path.relpath(path, src_root)
            name = rel
            if self.filename_extractor_regex:
                m = re.search(self.filename_extractor_regex, rel)
                if m:
                    name = m.group(1) if m.groups() else m.group(0)
            target = os.path.join(dst_root, name)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            if os.path.exists(target) and not self.overwrite:
                raise FileExistsError(target)
            shutil.copy2(path, target)
            return target

        with ThreadPoolExecutor(max_workers=self.max_parallelism) as pool:
            copied = list(pool.map(copy, files))
        self.runtime_metrics[self.output_id] = {"files_transferred": len(copied)}
        return [FileSubFeed(data_object_id=self.output_id, file_refs=copied,
                            metrics=self.runtime_metrics[self.output_id])]
