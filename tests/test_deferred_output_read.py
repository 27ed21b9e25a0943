"""An action's written output is read back only when something uses it.

After a write, the output subfeed carries a pending read of the output
DataObject (`subfeed.PendingRead`) in place of a DataFrame. The read runs on
the first access to `SparkSubFeed.df`, at most once, so an output nothing
consumes costs no `get_dataframe` call and no schema-inference job. Spark
jobs are counted per job group, as in `test_read_schema_cache.py`.
"""

import sys
import threading
import time

import pytest
from pyspark.sql import types as T

from smart_data_lake_spark.actions import CopyAction
from smart_data_lake_spark.config import InstanceRegistry
from smart_data_lake_spark.dataobjects import ParquetFileDataObject
from smart_data_lake_spark.execution_modes import PartitionDiffMode
from smart_data_lake_spark.plans import ActionDAG, ActionDAGRun
from smart_data_lake_spark.plans.dag import DAGError
from smart_data_lake_spark.subfeed import PendingRead, SparkSubFeed


def _jobs(spark, group, fn):
    """(Spark jobs `fn` ran, its result), counted per job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def _count_reads(monkeypatch, do, log=None, fail=False):
    """Wrap `do.get_dataframe`; returns the list of frames it returned."""
    frames = []
    original = do.get_dataframe

    def counted(spark, partition_values=None):
        if log is not None:
            log.append(f"read {do.id}")
        if fail:
            raise RuntimeError(f"read of {do.id} failed")
        frames.append(original(spark, partition_values))
        return frames[-1]

    monkeypatch.setattr(do, "get_dataframe", counted)
    return frames


def _registry(spark, tmp_path, *ids, partitions=()):
    registry = InstanceRegistry()
    for do_id in ("src",) + ids:
        registry.register_data_object(
            ParquetFileDataObject(id=do_id, path=str(tmp_path / do_id), partitions=list(partitions))
        )
    df = spark.createDataFrame([(1, "2024-01-01"), (2, "2024-01-02"), (3, "2024-01-02")], "id int, dt string")
    (df.write.partitionBy(*partitions) if partitions else df.write).parquet(str(tmp_path / "src"))
    return registry


def test_exec_without_consumer_reads_no_output(spark, tmp_path, monkeypatch):
    def exec_jobs(name, access_df):
        registry = _registry(spark, tmp_path / name, "out")
        reads = _count_reads(monkeypatch, registry.get_data_object("out"))
        action = CopyAction(id="c", input_id="src", output_id="out", registry=registry)

        def run():
            (sf,) = action.exec(spark, [SparkSubFeed(data_object_id="src")])
            return sf.df if access_df else sf

        jobs, _ = _jobs(spark, f"{name}_{tmp_path.name}", run)
        return jobs, len(reads)

    exec_only, exec_only_reads = exec_jobs("exec_only", access_df=False)
    with_df, with_df_reads = exec_jobs("with_df", access_df=True)
    assert exec_only_reads == 0
    assert with_df_reads == 1
    assert with_df - exec_only == 1


def test_pending_read_equals_eager_read_and_runs_once(spark, tmp_path, monkeypatch):
    registry = _registry(spark, tmp_path, "out", partitions=["dt"])
    out = registry.get_data_object("out")
    reads = _count_reads(monkeypatch, out)
    action = CopyAction(
        id="c", input_id="src", output_id="out", registry=registry, execution_mode=PartitionDiffMode()
    )
    (sf,) = action.exec(spark, [SparkSubFeed(data_object_id="src")])
    assert [pv.as_dict for pv in sf.partition_values] == [{"dt": "2024-01-01"}, {"dt": "2024-01-02"}]
    assert reads == []

    df = sf.df
    assert sf.df is df
    assert len(reads) == 1
    eager = ParquetFileDataObject(id="eager", path=out.path, partitions=["dt"]).get_dataframe(
        spark, sf.partition_values
    )
    assert df.schema == eager.schema
    assert df.schema["dt"].dataType == T.DateType()
    assert sorted(df.collect()) == sorted(eager.collect())


def test_pending_read_survives_subfeed_copies_unread(spark, tmp_path, monkeypatch):
    registry = _registry(spark, tmp_path, "out")
    reads = _count_reads(monkeypatch, registry.get_data_object("out"))
    (sf,) = CopyAction(id="c", input_id="src", output_id="out", registry=registry).exec(
        spark, [SparkSubFeed(data_object_id="src")]
    )
    copy = sf.clear_partition_values()
    assert reads == []
    assert copy.df is sf.df
    assert len(reads) == 1
    assert sf.break_lineage().df is None


def test_pending_read_runs_once_across_threads():
    calls = []

    def slow_read():
        calls.append(1)
        time.sleep(0.05)
        return object()

    sf = SparkSubFeed(data_object_id="x", frame=PendingRead(slow_read))
    seen = []
    threads = [threading.Thread(target=lambda: seen.append(sf.df)) for _ in range(12)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert len(seen) == 12 and all(df is seen[0] for df in seen)


def test_chain_consumer_reads_producer_output_once(spark, tmp_path, monkeypatch):
    registry = _registry(spark, tmp_path, "mid", "out")
    log = []
    reads = _count_reads(monkeypatch, registry.get_data_object("mid"), log)
    CopyAction(id="a", input_id="src", output_id="mid", registry=registry)
    b = CopyAction(id="b", input_id="mid", output_id="out", registry=registry)
    b_exec = b.exec
    monkeypatch.setattr(b, "exec", lambda spark, subfeeds: (log.append("exec b"), b_exec(spark, subfeeds))[1])

    ActionDAGRun(ActionDAG(list(registry.actions.values())), registry).run(spark)
    assert len(reads) == 1
    assert log == ["exec b", "read mid"]
    assert sorted(r.id for r in spark.read.parquet(str(tmp_path / "out")).collect()) == [1, 2, 3]


def test_fan_out_reads_persists_and_unpersists_shared_output_once(spark, tmp_path, monkeypatch):
    registry = _registry(spark, tmp_path, "mid", "out_b", "out_c")
    reads = _count_reads(monkeypatch, registry.get_data_object("mid"))
    CopyAction(id="a", input_id="src", output_id="mid", registry=registry)
    consumers = [
        CopyAction(id=c, input_id="mid", output_id=f"out_{c}", registry=registry) for c in ("b", "c")
    ]
    cached_in_consumer = []
    for c in consumers:
        c_exec = c.exec

        def exec_recording(spark, subfeeds, c_exec=c_exec):
            cached_in_consumer.append((subfeeds[0].df, subfeeds[0].df.is_cached))
            return c_exec(spark, subfeeds)

        monkeypatch.setattr(c, "exec", exec_recording)
    frame_cls = type(spark.range(1))
    calls = {"persist": [], "unpersist": []}
    for method in calls:
        original = getattr(frame_cls, method)

        def recording(self, *args, _original=original, _calls=calls[method], **kwargs):
            _calls.append(self)
            return _original(self, *args, **kwargs)

        monkeypatch.setattr(frame_cls, method, recording)

    run = ActionDAGRun(ActionDAG(list(registry.actions.values())), registry, parallelism=2)
    run.run(spark)
    assert len(reads) == 1
    (mid,) = reads
    assert [df is mid and cached for df, cached in cached_in_consumer] == [True, True]
    assert [df is mid for df in calls["persist"]] == [True]
    assert [df is mid for df in calls["unpersist"]] == [True]
    assert not mid.is_cached


@pytest.mark.parametrize("outcome", ["skipped", "failed"])
def test_skipped_or_failed_producer_leaves_no_pending_read(spark, tmp_path, monkeypatch, outcome):
    registry = _registry(spark, tmp_path, "mid", "out")
    reads = _count_reads(monkeypatch, registry.get_data_object("mid"))
    if outcome == "skipped":
        CopyAction(
            id="a", input_id="src", output_id="mid", registry=registry, execution_condition=lambda sfs: False
        )
    else:
        CopyAction(
            id="a", input_id="src", output_id="mid", registry=registry, metrics_fail_condition=lambda m: "stop"
        )
    CopyAction(id="b", input_id="mid", output_id="out", registry=registry)
    run = ActionDAGRun(ActionDAG(list(registry.actions.values())), registry)
    if outcome == "skipped":
        run.run(spark)
        assert run.state.action_states == {"a": "SKIPPED", "b": "SKIPPED"}
        assert [sf.frame for sf in run.result_subfeeds["a"]] == [None]
    else:
        with pytest.raises(DAGError, match="actions failed"):
            run.run(spark)
        assert run.state.action_states == {"a": "FAILED", "b": "CANCELLED"}
        assert "a" not in run.result_subfeeds
    assert reads == []


def test_failing_shared_read_fails_each_consumer(spark, tmp_path, monkeypatch):
    registry = _registry(spark, tmp_path, "mid", "out_b", "out_c")
    _count_reads(monkeypatch, registry.get_data_object("mid"), fail=True)
    CopyAction(id="a", input_id="src", output_id="mid", registry=registry)
    for c in ("b", "c"):
        CopyAction(id=c, input_id="mid", output_id=f"out_{c}", registry=registry)
    run = ActionDAGRun(ActionDAG(list(registry.actions.values())), registry)
    with pytest.raises(DAGError, match="actions failed"):
        run.run(spark)
    assert run.state.action_states == {"a": "SUCCEEDED", "b": "FAILED", "c": "FAILED"}
    assert all("read of mid failed" in run.state.action_metrics[c]["error"] for c in ("b", "c"))
