"""CopyAction — read input → transformer chain → write output.

Reference: `workflow/action/CopyAction.scala:48-107`.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from smart_data_lake_spark.config import register_action_type
from smart_data_lake_spark.fs import get_fs
from smart_data_lake_spark.actions.base import DataFrameAction
from smart_data_lake_spark.transformers.df_transformers import DfTransformer, apply_df_transformers


@register_action_type
class CopyAction(DataFrameAction):
    def __init__(
        self,
        id: str,
        input_id: str,
        output_id: str,
        transformers: list[DfTransformer] | None = None,
        delete_data_after_read: bool = False,
        **kwargs: Any,
    ) -> None:
        super().__init__(id=id, **kwargs)
        self.input_id = input_id
        self.output_id = output_id
        self.transformers = transformers or []
        self.delete_data_after_read = delete_data_after_read

    @property
    def input_ids(self) -> list[str]:
        return [self.input_id]

    @property
    def output_ids(self) -> list[str]:
        return [self.output_id]

    def transform(self, spark: SparkSession, dfs: dict[str, DataFrame]) -> dict[str, DataFrame]:
        df = apply_df_transformers(
            spark,
            dfs[self.input_id],
            self.transformers,
            options={**self.transformer_context(self.input_id, self.output_id), **self.mode_options},
        )
        return {self.output_id: df}

    def post_exec(self, spark, inputs, outputs):
        super().post_exec(spark, inputs, outputs)
        if self.delete_data_after_read:
            path = getattr(self._do(self.input_id), "path", None)
            if path:
                get_fs(spark, path).delete(path, recursive=True)
