"""Where expectation metrics come from, and what they cost.

Covers the action-level CompletenessExpectation (CompletenessExpectation.scala
:43-56), the zero-extra-scan property of Job-scope expectations riding the
write observation, metric names declared by the expectations themselves,
JobPartition evaluation inside `validate_expectations`, and `records_written`
of a MERGE rewrite of an existing parquet table.
"""

import pytest
from pyspark.sql import functions as F

from smart_data_lake_spark.actions import CopyAction
from smart_data_lake_spark.config import InstanceRegistry
from smart_data_lake_spark.dataobjects import MockDataObject, ParquetFileDataObject
from smart_data_lake_spark.dataobjects.table import ParquetTableDataObject
from smart_data_lake_spark.expectations import (
    CompletenessExpectation,
    CountExpectation,
    ExpectationScope,
    ExpectationValidationError,
    Severity,
    SQLExpectation,
    SQLFractionExpectation,
    setup_observation,
    validate_expectations,
)
from smart_data_lake_spark.plans import ActionDAG, ActionDAGRun
from smart_data_lake_spark.plans.dag import DAGError
from smart_data_lake_spark.save_modes import SaveMode
from smart_data_lake_spark.subfeed import SparkSubFeed
from smart_data_lake_spark.transformers.df_transformers import FilterTransformer


def _half_copy(spark, completeness):
    """CopyAction keeping 5 of 10 input rows."""
    registry = InstanceRegistry()
    registry.register_data_object(MockDataObject(id="src"))
    registry.register_data_object(MockDataObject(id="out"))
    registry.get_data_object("src")._df = spark.range(10).selectExpr("id AS v").localCheckpoint()
    action = CopyAction(
        id="c", input_id="src", output_id="out", registry=registry,
        transformers=[FilterTransformer(filter_clause="v < 5")],
        expectations=[completeness],
    )
    return ActionDAGRun(ActionDAG([action]), registry)


def test_completeness_expectation_fails_on_dropped_rows(spark):
    with pytest.raises(DAGError):
        _half_copy(spark, CompletenessExpectation()).run(spark)  # default "= 1"


def test_completeness_expectation_reports_input_and_output_counts(spark):
    state = _half_copy(spark, CompletenessExpectation(expectation=">= 0.5")).run(spark)
    assert state.action_states["c"] == "SUCCEEDED"
    metrics = state.action_metrics["c"]["out"]
    assert metrics["countAll"] == 5
    assert metrics["input_count_all"] == 10


def _exec_jobs(spark, base, expectations):
    """Spark jobs of one CopyAction exec from parquet to parquet."""
    registry = InstanceRegistry()
    registry.register_data_object(ParquetFileDataObject(id="src", path=str(base / "src")))
    registry.register_data_object(ParquetFileDataObject(id="out", path=str(base / "out")))
    spark.range(10).selectExpr("id", "id * 100 AS value").write.parquet(str(base / "src"))
    action = CopyAction(id="c", input_id="src", output_id="out", registry=registry, expectations=expectations)
    sc = spark.sparkContext
    group = f"expectation_jobs_{base.name}"
    sc.setJobGroup(group, "CopyAction exec")
    try:
        action.exec(spark, [SparkSubFeed(data_object_id="src")])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), action.runtime_metrics["out"]


def test_job_scope_expectations_add_no_spark_job(spark, tmp_path):
    """Job-scope Count and SQLFraction metrics ride the write's observation:
    the exec runs exactly the Spark jobs it runs without expectations."""
    plain_jobs, _ = _exec_jobs(spark, tmp_path / "plain", [])
    jobs, metrics = _exec_jobs(
        spark,
        tmp_path / "expect",
        [
            CountExpectation(name="count", expectation="> 0"),
            SQLFractionExpectation(name="pct_high", condition="value >= 500", expectation=">= 0.5"),
        ],
    )
    assert jobs == plain_jobs
    assert metrics["count"] == 10
    assert metrics["pct_high"] == 0.5


def test_observation_uses_declared_metric_names(spark):
    """Observed metric keys are the names the expectations declare (deduped:
    the row count is observed once), not parsed from the column's SQL."""
    df = spark.range(4).selectExpr("id AS v")
    observed, obs = setup_observation(
        df,
        [
            CountExpectation(name="count"),
            SQLExpectation(name="sum_v", aggExpression="sum(v)"),
            CompletenessExpectation(scope=ExpectationScope.JOB),
            SQLExpectation(name="all_only", aggExpression="max(v)", scope=ExpectationScope.ALL),
        ],
        "names_probe",
    )
    observed.agg(F.count(F.lit(1))).collect()
    assert dict(obs.get) == {"count": 4, "sum_v": 6, "countAll": 4}


def test_validate_expectations_checks_each_job_partition():
    exp = CountExpectation(name="count", expectation="< 3", scope=ExpectationScope.JOB_PARTITION)
    metrics = {"count": 2, "count#p=a": 5, "count#p=b": 1}
    with pytest.raises(ExpectationValidationError, match=r"'count#p=a' failed: 5 !< 3"):
        validate_expectations([exp], metrics)
    exp.severity = Severity.WARN
    assert validate_expectations([exp], metrics) == ["expectation 'count#p=a' failed: 5 !< 3"]


def test_job_partition_expectation_ignores_job_total():
    """Only the per-partition metrics are checked: a job total of 4 does not
    fail `< 3` when both partitions pass."""
    exp = CountExpectation(name="count", expectation="< 3", scope=ExpectationScope.JOB_PARTITION)
    assert validate_expectations([exp], {"count": 4, "count#p=a": 2, "count#p=b": 2}) == []


def test_job_partition_expectation_on_unpartitioned_output_checks_job_metric():
    exp = CountExpectation(name="count", expectation="< 3", scope=ExpectationScope.JOB_PARTITION)
    with pytest.raises(ExpectationValidationError, match=r"'count' failed: 4 !< 3"):
        validate_expectations([exp], {"count": 4})


def test_merge_into_existing_parquet_table_counts_records_written(spark, tmp_path):
    """A MERGE into an existing table rewrites it whole; records_written is
    the row count of the rewritten table."""
    do = ParquetTableDataObject(
        id="t", path=str(tmp_path / "t"), table={"name": "t", "primary_key": ["id"]}
    )
    do.write_dataframe(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, v string"),
                       save_mode=SaveMode.MERGE)
    metrics = do.write_dataframe(
        spark.createDataFrame([(2, "B"), (4, "d"), (5, "e")], "id int, v string"), save_mode=SaveMode.MERGE
    )
    merged = do.get_dataframe(spark)
    assert merged.count() == 5
    assert metrics["records_written"] == 5
    assert {(r["id"], r["v"]) for r in merged.collect()} == {(1, "a"), (2, "B"), (3, "c"), (4, "d"), (5, "e")}
