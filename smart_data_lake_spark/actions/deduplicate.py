"""DeduplicateAction — keep latest record per PK, even if deleted upstream.

Reference: `workflow/action/DeduplicateAction.scala:71-229` (core algorithm
:214-219). Adds `dl_ts_captured`; full-rewrite mode unions existing+new and
keeps the newest row per PK; merge mode upserts only new/changed rows through
the output's MERGE (the at-scale path: touched files only).
"""

from __future__ import annotations

import datetime
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_data_lake_spark.config import register_action_type
from smart_data_lake_spark.actions.base import DataFrameAction, PrimaryKeyOutput, now_utc
from smart_data_lake_spark.dataobjects.base import CanMergeDataFrame
from smart_data_lake_spark.historization import TS_CAPTURED, _attr_cols, deduplicate_keep_latest
from smart_data_lake_spark.save_modes import SaveMode
from smart_data_lake_spark.schema_evolution import evolve
from smart_data_lake_spark.transformers.df_transformers import DfTransformer, apply_df_transformers


@register_action_type
class DeduplicateAction(PrimaryKeyOutput, DataFrameAction):
    def __init__(
        self,
        id: str,
        input_id: str,
        output_id: str,
        transformers: list[DfTransformer] | None = None,
        merge_mode_enable: bool = False,
        update_captured_column_only_when_changed: bool = False,
        ignore_old_deleted_columns: bool = False,
        reference_timestamp: datetime.datetime | None = None,
        **kwargs: Any,
    ) -> None:
        super().__init__(id=id, **kwargs)
        self.input_id = input_id
        self.output_id = output_id
        self.transformers = transformers or []
        self.merge_mode_enable = merge_mode_enable
        self.update_captured_column_only_when_changed = update_captured_column_only_when_changed
        self.ignore_old_deleted_columns = ignore_old_deleted_columns
        self.reference_timestamp = reference_timestamp
        self._validate_pk_early()

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
        ref_ts = self.reference_timestamp or now_utc()
        out_do = self._do(self.output_id)
        existing = None
        if getattr(out_do, "exists", lambda s: False)(spark):
            existing = out_do.get_dataframe(spark)  # type: ignore[attr-defined]
            evo = evolve(existing, df.withColumn(TS_CAPTURED, F.lit(ref_ts)),
                         ignore_old_deleted_columns=self.ignore_old_deleted_columns)
            existing = evo.old_df
            df = evo.new_df.drop(TS_CAPTURED)

        if self.merge_mode_enable and existing is not None:
            # merge mode: dedup incoming batch, then only upsert rows that are
            # new or changed (DeduplicateAction.scala merge branch)
            pks = self._pks()
            new_df = df.withColumn(TS_CAPTURED, F.lit(ref_ts)).dropDuplicates(pks)
            attr = _attr_cols(new_df, pks)
            # explicit matched marker: a data column may be legitimately NULL,
            # so attribute-nullity is not a safe "no match" test
            ex = existing.select(*pks, *attr).withColumn("_dl_matched", F.lit(True)).alias("e")
            nw = new_df.alias("nw")
            is_new = F.col("_dl_matched").isNull()
            is_changed = ~F.struct(*[F.col(f"nw.{a}") for a in sorted(attr)]).eqNullSafe(
                F.struct(*[F.col(f"e.{a}") for a in sorted(attr)])
            ) if attr else F.lit(False)
            changed_or_new = (
                nw.join(ex, pks, "left_outer").where(is_new | is_changed).select("nw.*")
            )
            return {self.output_id: changed_or_new}
        result = deduplicate_keep_latest(
            existing, df, self._pks(), ref_ts, self.update_captured_column_only_when_changed
        )
        return {self.output_id: result}

    def exec(self, spark, subfeeds):
        if self.merge_mode_enable and isinstance(self._do(self.output_id), CanMergeDataFrame):
            self.save_mode = SaveMode.MERGE
        return super().exec(spark, subfeeds)
