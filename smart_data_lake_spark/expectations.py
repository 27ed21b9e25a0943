"""Data-quality operators: row constraints + aggregate expectations.

Reference: `dataobject/Constraint.scala:37-63` (row-level boolean SQL;
violation raises with a PK trace), `dataobject/expectation/*.scala`
(SQLExpectation :39, CountExpectation :44, SQLFractionExpectation :48,
UniqueKeyExpectation :51-75, scopes Job/JobPartition/All Expectation.scala:122-134)
and the evaluation pipeline `dataobject/ExpectationValidation.scala:77-216`.

This module alone decides which query produces each expectation's metric
(`collect_write_metrics`, `read_metrics`); what each scope costs per write:
  Job          rides the write's observation — zero extra scans; only exact
               UniqueKey (count DISTINCT) needs one extra aggregate
  JobPartition one groupBy over the written partitions
  All          one aggregate over the whole output, plus one query per
               SQLQueryExpectation
  TransferRate / Completeness  one count of the main input each
"""

from __future__ import annotations

import abc
import math
from dataclasses import dataclass
from enum import Enum
from typing import Any, ClassVar

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class Severity(str, Enum):
    WARN = "warn"
    ERROR = "error"


class ExpectationScope(str, Enum):
    JOB = "job"  # rows written by this run (observe)
    JOB_PARTITION = "job_partition"  # per processed partition (groupBy agg)
    ALL = "all"  # whole table after write (separate agg query)


class ExpectationValidationError(Exception):
    pass


@dataclass
class Constraint:
    """Row-level constraint compiled into the write plan
    (Constraint.scala:37-63): any violating row aborts the job via
    raise_error, carrying a primary-key trace for debugging."""

    name: str
    expression: str
    pk_cols: list[str] | None = None

    def validation_column(self) -> Column:
        msg = F.concat(
            F.lit(f"constraint '{self.name}' ({self.expression}) violated"),
            F.lit(" for "),
            F.to_json(F.struct(*[F.col(c) for c in (self.pk_cols or [])])) if self.pk_cols else F.lit("row"),
        )
        return F.when(~F.coalesce(F.expr(self.expression), F.lit(False)), F.raise_error(msg)).otherwise(
            F.lit(True)
        )


def apply_constraints(df: DataFrame, constraints: list[Constraint]) -> DataFrame:
    """Force constraint evaluation by routing every output column through a
    when(raise_error) guard column (ExpectationValidation.scala:191-208)."""
    if not constraints:
        return df
    guard = F.lit(True)
    for c in constraints:
        guard = guard & c.validation_column()
    return df.withColumn("_dl_constraints", guard).where(F.col("_dl_constraints")).drop("_dl_constraints")


@dataclass
class Expectation(abc.ABC):
    name: str
    expectation: str | None = None  # comparison suffix e.g. "> 0", "= 1"
    severity: Severity = Severity.ERROR
    scope: ExpectationScope = ExpectationScope.JOB

    # whether the aggregates can ride the write observation (Spark's
    # CollectMetrics rejects some, e.g. exact count DISTINCT)
    observe_safe: ClassVar[bool] = True
    # main-input rows an action-level ratio is taken over, counted by one
    # extra job: JOB = as read by this run, ALL = the whole input object
    input_scope: ClassVar[ExpectationScope | None] = None

    @abc.abstractmethod
    def aggregates(self) -> dict[str, Column]:
        """This expectation's metrics: metric name -> aggregate expression."""

    def evaluate(self, metrics: dict[str, Any]) -> str | None:
        """Return violation message or None; default compares metric `name`
        against the `expectation` suffix."""
        return self._check(metrics.get(self.name))

    def _check(self, value: Any) -> str | None:
        if _compare(value, self.expectation):
            return None
        return f"expectation '{self.name}' failed: {value!r} !{self.expectation}"

    def _check_ratio(self, num: Any, den: Any, missing: str, precision: int | None = None) -> str | None:
        """Compare num / max(1, den), floored to `precision` decimals if set."""
        if num is None or den is None:
            return f"expectation '{self.name}': {missing}"
        value = float(num) / max(1.0, float(den))
        if precision is not None:
            value = math.floor(value * 10**precision) / 10**precision
        return self._check(value)


@dataclass
class SQLExpectation(Expectation):
    """Named aggregate expression (SQLExpectation.scala:39)."""

    aggExpression: str = "count(*)"

    def aggregates(self):
        return {self.name: F.expr(self.aggExpression)}


@dataclass
class CountExpectation(Expectation):
    """(CountExpectation.scala:44)"""

    name: str = "count"

    def aggregates(self):
        return {self.name: F.count(F.lit(1))}


@dataclass
class SQLFractionExpectation(Expectation):
    """Fraction of rows matching a condition (SQLFractionExpectation.scala:48)."""

    condition: str = "true"

    def aggregates(self):
        matching = F.sum(F.when(F.expr(self.condition), F.lit(1)).otherwise(F.lit(0)))
        return {self.name: matching / F.count(F.lit(1))}


@dataclass
class UniqueKeyExpectation(Expectation):
    """PK uniqueness via count vs (approx_)count_distinct
    (UniqueKeyExpectation.scala:51-75). approximate=True uses HyperLogLog —
    the only sane option on a 100 TB key space."""

    key_cols: list[str] | None = None
    approximate: bool = False
    expectation: str | None = ">= 0.999999"

    @property
    def observe_safe(self) -> bool:
        # exact count(DISTINCT) is rejected by CollectMetrics; only the
        # HyperLogLog variant can ride the write observation
        return self.approximate

    def aggregates(self):
        keys = F.struct(*[F.col(c) for c in (self.key_cols or [])])
        distinct = (
            F.approx_count_distinct(keys) if self.approximate else F.count_distinct(keys)
        )
        return {self.name: distinct / F.count(F.lit(1))}


@dataclass
class AvgCountPerPartitionExpectation(Expectation):
    """Average row count per processed partition
    (AvgCountPerPartitionExpectation.scala:41): count of the job divided by
    the number of partition values processed — catches partitions suddenly
    arriving near-empty."""

    name: str = "avgCountPerPartition"

    def aggregates(self):
        return {self.name: F.count(F.lit(1))}

    def evaluate(self, metrics: dict[str, Any]) -> str | None:
        return self._check_ratio(
            metrics.get(self.name, metrics.get("count")),
            metrics.get("n_partitions") or 1,
            "no count metric available",
        )


@dataclass
class SQLQueryExpectation(Expectation):
    """Whole SQL query computing the metric (SQLQueryExpectation.scala:46):
    `%{inputViewName}` is replaced by a view of the written data; the first
    column of the first row is the metric. Scope is All by definition — it
    runs as a separate query against the table after write."""

    code: str = ""
    scope: ExpectationScope = ExpectationScope.ALL

    def aggregates(self):
        return {}

    def compute_metrics(self, df: DataFrame) -> dict[str, Any]:
        view = f"_dl_exp_{self.name}"
        df.createOrReplaceTempView(view)
        row = df.sparkSession.sql(self.code.replace("%{inputViewName}", view)).collect()[0]
        return {self.name: row[0]}


@dataclass
class CompletenessExpectation(Expectation):
    """Action-level: fraction of main OUTPUT count-all over main INPUT
    count-all (action/expectation/CompletenessExpectation.scala:43-56);
    scope fixed to whole-table."""

    name: str = "pctComplete"
    expectation: str | None = "= 1"
    scope: ExpectationScope = ExpectationScope.ALL
    precision: int = 4

    input_scope: ClassVar[ExpectationScope | None] = ExpectationScope.ALL

    def aggregates(self):
        return {"countAll": F.count(F.lit(1))}

    def evaluate(self, metrics: dict[str, Any]) -> str | None:
        return self._check_ratio(
            metrics.get("countAll"),
            metrics.get("input_count_all"),
            "input/output counts unavailable",
            self.precision,
        )


@dataclass
class TransferRateExpectation(Expectation):
    """Action-level: fraction of rows written this job over rows read this
    job (action/expectation/TransferRateExpectation.scala:43-55)."""

    name: str = "pctTransfer"
    expectation: str | None = "= 1"
    precision: int = 4

    input_scope: ClassVar[ExpectationScope | None] = ExpectationScope.JOB

    def aggregates(self):
        return {}

    def evaluate(self, metrics: dict[str, Any]) -> str | None:
        return self._check_ratio(
            metrics.get("records_written", metrics.get("count")),
            metrics.get("records_read"),
            "records_read/records_written unavailable",
            self.precision,
        )


def _aggregates(expectations: list[Expectation], **named: Column) -> dict[str, Column]:
    """Aliased aggregates of `expectations`, deduplicated on metric name
    (the first expression for a name wins)."""
    for e in expectations:
        for name, agg in e.aggregates().items():
            named.setdefault(name, agg)
    return {name: agg.alias(name) for name, agg in named.items()}


def _aggregate(df: DataFrame, expectations: list[Expectation], group_by: list[str] | None = None) -> dict[str, Any]:
    """The expectations' metrics as ONE aggregate query over `df`, plus one
    query per SQLQueryExpectation. With `group_by` the aggregate runs once
    per group and metric keys become `name#col=val/...`, matching the
    reference's JobPartition display (ExpectationValidation.scala:122-134)."""
    aggs = _aggregates(expectations)
    metrics: dict[str, Any] = {}
    if group_by:
        if aggs:
            for r in df.groupBy(*group_by).agg(*aggs.values()).collect():
                suffix = "/".join(f"{c}={r[c]}" for c in group_by)
                metrics.update({f"{name}#{suffix}": r[name] for name in aggs})
        return metrics
    if aggs:
        metrics.update(df.agg(*aggs.values()).collect()[0].asDict())
    for e in expectations:
        if isinstance(e, SQLQueryExpectation):
            metrics.update(e.compute_metrics(df))
    return metrics


def _scoped(expectations: list[Expectation], scope: ExpectationScope) -> list[Expectation]:
    return [e for e in expectations if e.scope == scope]


def setup_observation(
    df: DataFrame, expectations: list[Expectation], obs_name: str
) -> tuple[DataFrame, Observation]:
    """Attach the row count and the job-scope expectation metrics to the
    write via observe(). Expectations whose aggregates Spark's CollectMetrics
    cannot host (exact count DISTINCT — UniqueKeyExpectation.scala:44-47
    documents exactly this engine limit) are left out here and computed by
    `collect_write_metrics` as a separate aggregate."""
    observable = [e for e in _scoped(expectations, ExpectationScope.JOB) if e.observe_safe]
    obs = Observation(obs_name)
    return df.observe(obs, *_aggregates(observable, count=F.count(F.lit(1))).values()), obs


def collect_write_metrics(
    spark: SparkSession,
    expectations: list[Expectation],
    obs: Observation,
    write_metrics: dict[str, Any],
    partition_values: list,
    written: DataFrame,
    output: Any,
    main_input: DataFrame,
    main_input_do: Any,
) -> dict[str, Any]:
    """Every metric of one action output: the observation of the write
    (`setup_observation` on `written`), the DataObject's own write metrics,
    and one extra query per scope that an expectation needs. `output` and
    `main_input_do` are the written and the main input DataObject; reads
    happen only when an expectation needs them and the object is readable."""
    try:
        observed = dict(obs.get)
    except Exception:
        # Spark 4 Observation.get can fail when AQE rewrites the observed
        # node (e.g. the empty source side of a merge join); the DO's own
        # write metrics remain authoritative
        observed = {}
    metrics = {**observed, **write_metrics}
    if "count" not in metrics and "records_written" in metrics:
        metrics["count"] = metrics["records_written"]
    metrics["n_partitions"] = len(partition_values) if partition_values else None
    readable_output = hasattr(output, "get_dataframe")
    all_exps = _scoped(expectations, ExpectationScope.ALL)
    if all_exps and readable_output:
        metrics.update(_aggregate(output.get_dataframe(spark), all_exps))
    jp_exps = _scoped(expectations, ExpectationScope.JOB_PARTITION)
    partition_cols = list(getattr(output, "partitions", []) or []) or (
        list(partition_values[0].keys) if partition_values else []
    )
    if jp_exps and readable_output and partition_cols:
        jp_df = output.get_dataframe(spark, partition_values or None)
        metrics.update(_aggregate(jp_df, jp_exps, group_by=partition_cols))
    unobservable = [e for e in _scoped(expectations, ExpectationScope.JOB) if not e.observe_safe]
    if unobservable:
        metrics.update(_aggregate(written, unobservable))
    input_scopes = {e.input_scope for e in expectations}
    if ExpectationScope.JOB in input_scopes:
        metrics["records_read"] = main_input.count()
    if ExpectationScope.ALL in input_scopes and hasattr(main_input_do, "get_dataframe"):
        metrics["input_count_all"] = main_input_do.get_dataframe(spark).count()
    return metrics


def read_metrics(df: DataFrame, expectations: list[Expectation]) -> dict[str, Any]:
    """Metrics for validate-on-read: on the read side Job and All scope
    collapse to the same thing — ONE aggregate over the frame being read
    (ValidateOnReadTest; there is no write observation to ride on)."""
    return _aggregate(df, [e for e in expectations if e.scope != ExpectationScope.JOB_PARTITION])


def validate_expectations(
    expectations: list[Expectation],
    metrics: dict[str, Any],
) -> list[str]:
    """Evaluate all expectations; raise on Error severity, return warnings
    (DataFrameActionImpl.scala:339-368). A JobPartition expectation is
    checked once per `name#partition` metric, and against the job-level
    metric only when there are none (unpartitioned output)."""
    warnings: list[str] = []
    errors: list[str] = []
    for e in expectations:
        if e.expectation is None:
            continue
        per_partition = (
            {k: v for k, v in metrics.items() if k.startswith(f"{e.name}#")}
            if e.scope == ExpectationScope.JOB_PARTITION
            else {}
        )
        if per_partition:
            msgs = [
                f"expectation '{key}' failed: {value!r} !{e.expectation}"
                for key, value in per_partition.items()
                if not _compare(value, e.expectation)
            ]
        else:
            msgs = [e.evaluate(metrics)]
        (errors if e.severity == Severity.ERROR else warnings).extend(m for m in msgs if m)
    if errors:
        raise ExpectationValidationError("; ".join(errors))
    return warnings


def _compare(value: Any, expectation: str) -> bool:
    if value is None:
        return False
    expectation = expectation.strip()
    for op in (">=", "<=", "!=", "==", ">", "<", "="):
        if expectation.startswith(op):
            rhs = float(expectation[len(op):].strip().strip("'\""))
            lhs = float(value)
            return {
                ">=": lhs >= rhs,
                "<=": lhs <= rhs,
                ">": lhs > rhs,
                "<": lhs < rhs,
                "=": lhs == rhs,
                "==": lhs == rhs,
                "!=": lhs != rhs,
            }[op]
    raise ValueError(f"cannot parse expectation {expectation!r}")
