"""PartitionValues — the currency of incremental processing.

Reference semantics: `util/hdfs/Partition.scala:37` — a PartitionValues is a
map {partition_col: value} naming one Hive-style partition; sets of them are
passed along DAG edges and converted to DataFrame filters
(`PartitionValues.getFilterExpr`, Partition.scala:41) so Catalyst pushes them
into the parquet scan as partition pruning.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PartitionValues:
    """One Hive-style partition, e.g. {"dt": "2024-01-01", "hour": 3}."""

    values: tuple[tuple[str, Any], ...]

    @classmethod
    def of(cls, mapping: dict[str, Any]) -> "PartitionValues":
        return cls(tuple(sorted(mapping.items())))

    @property
    def as_dict(self) -> dict[str, Any]:
        return dict(self.values)

    @property
    def keys(self) -> tuple[str, ...]:
        return tuple(k for k, _ in self.values)

    def is_complete(self, partition_cols: list[str]) -> bool:
        """Keys cover EXACTLY the given partition columns
        (Partition.scala isComplete, PartitionValuesTest:88)."""
        return set(self.keys) == set(partition_cols)

    def is_init_of(self, partition_cols: list[str]) -> bool:
        """Keys form a PREFIX (init) of the given column order
        (PartitionValuesTest:95)."""
        n = len(self.keys)
        return n <= len(partition_cols) and set(self.keys) == set(partition_cols[:n])

    def is_included_in(self, other: "PartitionValues") -> bool:
        """Every key-value pair of `other` is present here — this partition
        lies inside the (possibly coarser) `other`
        (PartitionValuesTest:103)."""
        mine = self.as_dict
        return all(k in mine and mine[k] == v for k, v in other.as_dict.items())

    def filter_expr(self) -> Column:
        """AND of col==value equality predicates (Partition.scala:41)."""
        expr = F.lit(True)
        for k, v in self.values:
            expr = expr & (F.col(k) == F.lit(v))
        return expr

    def hive_path(self) -> str:
        return "/".join(f"{k}={v}" for k, v in self.values)

    def __str__(self) -> str:  # pragma: no cover
        return self.hive_path()


def filter_expr_for(partition_values: Iterable[PartitionValues]) -> Column | None:
    """OR-of-ANDs filter for a set of partitions; None if the set is empty.

    Catalyst recognises this shape for partition pruning on partitioned
    parquet — at 100 TB this is the difference between scanning one day and
    scanning the lake.
    """
    pvs = list(partition_values)
    if not pvs:
        return None
    expr = pvs[0].filter_expr()
    for pv in pvs[1:]:
        expr = expr | pv.filter_expr()
    return expr


def apply_partition_filter(df: DataFrame, partition_values: Iterable[PartitionValues]) -> DataFrame:
    expr = filter_expr_for(partition_values)
    return df if expr is None else df.where(expr)


def diff_partition_values(
    input_pvs: Iterable[PartitionValues], output_pvs: Iterable[PartitionValues]
) -> list[PartitionValues]:
    """Set-diff used by PartitionDiffMode (PartitionDiffMode.scala:61-197)."""
    out = set(output_pvs)
    return [pv for pv in input_pvs if pv not in out]


def reduce_to_partitions(
    partition_values: Iterable[PartitionValues], partition_cols: Iterable[str]
) -> list[PartitionValues]:
    """Keep only the `partition_cols` entries of each value
    (SubFeed.updatePartitionValues): values left empty are dropped and
    values that collapse onto the same partition are deduplicated, so an
    unpartitioned DataObject gets no partition values at all."""
    cols = set(partition_cols)
    reduced = (PartitionValues.of({k: v for k, v in pv.values if k in cols}) for pv in partition_values)
    return list(dict.fromkeys(pv for pv in reduced if pv.values))


def transform_partition_values(transformers: Iterable[Any] | None, partition_values: list) -> list:
    """Map partition values through each transformer's
    `transform_partition_values` in chain order (GenericDfTransformerDef
    .transformPartitionValues — e.g. date -> month aggregation)."""
    for t in transformers or []:
        mapper = getattr(t, "transform_partition_values", None)
        if mapper is not None:
            partition_values = list(mapper(partition_values))
    return partition_values


# --------------------------------------------------------------------- layout
# Custom partition layouts (util/hdfs/PartitionLayout.scala): partition
# values encoded in file/dir NAMES via %col% / %col:regex% tokens, e.g.
# "AB_%town%_%year:[0-9]+%" or "%date%/AB_%town%_%year:[0-9]+%". Shared by
# RawFileDataObject and SFtpFileRefDataObject. Pure driver-side regex over
# listings — metadata scale, never a data scan.

import re as _re

_LAYOUT_TOKEN_RE = _re.compile(r"%([A-Za-z0-9_]+)(?::((?:[^%\\]|\\.)*))?%")


def layout_tokens(layout: str) -> list[str]:
    """Partition column names named by the layout's tokens, in order."""
    return [m.group(1) for m in _LAYOUT_TOKEN_RE.finditer(layout)]


def layout_regex(layout: str):
    """Compile the layout into a PREFIX regex with one named group per
    token (default value pattern: anything but a path separator)."""
    pattern, pos = "", 0
    for m in _LAYOUT_TOKEN_RE.finditer(layout):
        pattern += _re.escape(layout[pos : m.start()])
        value_re = m.group(2) or "[^/]+?"
        pattern += f"(?P<{m.group(1)}>{value_re})"
        pos = m.end()
    pattern += _re.escape(layout[pos:])
    return _re.compile(pattern)


def extract_partition_values_from_path(layout: str, rel_path: str) -> PartitionValues | None:
    """Match the layout against a '/'-separated relative path; None when the
    path does not conform (the file is then not part of the object)."""
    m = layout_regex(layout).match(rel_path)
    return PartitionValues.of(m.groupdict()) if m else None


def validate_layout_against_partitions(layout: str, partitions: list[str], owner: str) -> None:
    """The layout's tokens must exactly cover the declared partition columns
    (RawFileDataObjectTest:53 'initialize')."""
    tokens = layout_tokens(layout)
    if not partitions:
        raise ValueError(f"({owner}) customPartitionLayout requires partitions to be defined")
    if set(tokens) != set(partitions):
        raise ValueError(
            f"({owner}) customPartitionLayout tokens {sorted(set(tokens))} must "
            f"match partitions {sorted(partitions)}"
        )


def partition_values_ordering(cols: list[str]):
    """Sort key over the given column precedence; columns a partition lacks
    are skipped, so sorting is stable on the available ones
    (PartitionValues.getOrdering, PartitionValuesTest:26-70)."""

    def key(pv: PartitionValues):
        d = pv.as_dict
        return tuple(d[c] for c in cols if c in d)

    return key


def check_expected_partition_values(
    actual: list[PartitionValues], expected: list[PartitionValues]
) -> list[PartitionValues]:
    """Expected partitions with NO covering actual partition — empty means
    everything expected is present. An actual pv covers an expected one when
    it includes all of its key-value pairs, so coarser expectations match
    finer actuals (PartitionValues.checkExpectedPartitionValues,
    PartitionValuesTest:71)."""
    return [e for e in expected if not any(a.is_included_in(e) for a in actual)]


def render_partition_string(layout: str, pv: PartitionValues) -> str:
    """Fill the layout's %col%/%col:regex% tokens with the partition's
    values (PartitionValues.getPartitionString,
    PartitionLayoutTest:33)."""
    d = pv.as_dict

    def sub(m):
        return str(d[m.group(1)])

    return _LAYOUT_TOKEN_RE.sub(sub, layout)


def hadoop_partition_layout(cols: list[str]) -> str:
    """The default hive layout as a token layout: `a=%a%/b=%b%/`
    (HdfsUtil.getHadoopPartitionLayout, PartitionLayoutTest:49)."""
    return "".join(f"{c}=%{c}%/" for c in cols)
