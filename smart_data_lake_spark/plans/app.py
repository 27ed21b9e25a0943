"""SmartDataLakeBuilder — top-level entry point.

Reference: `app/SmartDataLakeBuilder.scala:226-355` (CLI parse + run with
state/recovery), feed selection algebra `app/AppUtil.scala:188-218`
(`feeds:`, `ids:`, `startFromActionIds:` … with `|&-` set operations),
simulation runs :398-418, streaming driver loop :566-648.
"""

from __future__ import annotations

import fnmatch
import os
import re
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from smart_data_lake_spark.actions.base import Action, DataFrameAction
from smart_data_lake_spark.config import InstanceRegistry, load_config
from smart_data_lake_spark.partitions import PartitionValues
from smart_data_lake_spark.plans.dag import (
    ActionDAG,
    ActionDAGRun,
    RunState,
    StateStore,
    connected_nodes_forward,
    connected_nodes_reverse,
)
from smart_data_lake_spark.session import get_session
from smart_data_lake_spark.subfeed import SparkSubFeed


class SmartDataLakeBuilder:
    def __init__(self, registry: InstanceRegistry | None = None, config: dict[str, Any] | None = None):
        if registry is None and config is not None:
            registry = load_config(config)
        self.registry = registry or InstanceRegistry()
        self._stop_requested = False

    def stop(self) -> None:
        """Graceful-stop hook for the streaming loop
        (SmartDataLakeBuilder.scala:566-648's stopStreamingGracefully): the
        loop finishes the current iteration, drains then stops any live async
        streaming queries it started, persists final state, and returns."""
        self._stop_requested = True

    def _stop_streaming_queries(self, actions: list[Action], drain: bool = True) -> None:
        for a in actions:
            for query in getattr(a, "streaming_queries", {}).values():
                try:
                    if query.isActive:
                        if drain:
                            # graceful: finish everything already available
                            # before stopping, so a stop never drops an
                            # in-flight micro-batch
                            query.processAllAvailable()
                        query.stop()
                except Exception:
                    pass

    # ------------------------------------------------- restart reconciliation
    def _reconcile_streaming_state(
        self,
        spark: SparkSession,
        actions: list[Action],
        store: "StateStore",
        ignore_orphaned_streams: bool,
    ) -> None:
        """Reconcile a previous run's streaming queries on restart
        (SmartDataLakeBuilder.scala:566-648 restart semantics).

        Three cases per persisted descriptor:
          * the action is still selected → its query restarts from the same
            checkpoint (exactly-once continuation) — nothing to do;
          * the action is gone but its query is still ACTIVE in this session
            (in-process restart) → drain and stop it, it has no owner;
          * the action is gone and its checkpoint directory still exists →
            orphaned state that would silently stop advancing — fail with the
            checkpoint path unless `ignore_orphaned_streams`.
        """
        prior = store.latest()
        if prior is None or not prior.streaming_queries:
            return
        selected = {a.id for a in actions}
        orphaned: list[str] = []
        for action_id, descs in prior.streaming_queries.items():
            if action_id in selected:
                continue
            for d in descs:
                name = d.get("query_name", action_id)
                for active in spark.streams.active:
                    if active.name == name:
                        try:
                            active.processAllAvailable()
                            active.stop()
                        except Exception:
                            pass
                ckpt = d.get("checkpoint")
                if ckpt and os.path.isdir(ckpt):
                    orphaned.append(f"{action_id} → {d.get('output_id')} (checkpoint {ckpt})")
        if orphaned and not ignore_orphaned_streams:
            raise ValueError(
                "restart found streaming checkpoints from a previous run whose "
                "actions are no longer selected — they would silently stop "
                f"advancing: {'; '.join(orphaned)}. Re-select those actions, "
                "delete the checkpoints, or pass ignore_orphaned_streams=True"
            )

    def _collect_streaming_descriptors(self, actions: list[Action]) -> dict[str, Any]:
        out: dict[str, Any] = {}
        for a in actions:
            descs = [
                {"output_id": out_id, **d}
                for out_id, d in getattr(a, "streaming_descriptors", {}).items()
            ]
            if descs:
                out[a.id] = descs
        return out

    # -------------------------------------------------------- feed selection
    def select_actions(self, feed_sel: str | None) -> list[Action]:
        """Reference algebra (AppUtil.scala:188-218): comma=OR, `&`=AND,
        `-`=diff between `|`-separated terms; prefixes `feeds:`, `ids:`,
        `layers:`, `startFromActionIds:`, `endWithActionIds:`; bare pattern =
        feed name glob."""
        actions = list(self.registry.actions.values())
        if not feed_sel or feed_sel == "*":
            return actions

        _PREFIXES = {
            "feeds", "ids", "names", "layers",
            "startfromactionids", "endwithactionids",
            "startfromdataobjectids", "endwithdataobjectids",
        }

        dag = ActionDAG(actions)
        edges = {(a, b) for a, downstream in dag.edges.items() for b in downstream}

        def term_match(term: str) -> set[str]:
            prefix, _, pat = term.partition(":")
            if not pat:
                prefix, pat = "feeds", term
            prefix = prefix.lower()
            if prefix not in _PREFIXES:
                # 'filter action list with wrong operation' (AppUtilTest:108)
                raise ValueError(
                    f"unknown feed-selector operation {prefix!r}; "
                    f"use one of {sorted(_PREFIXES)}"
                )
            pat = pat.lower()
            ids = set()
            for a in actions:
                feed = str(a.metadata.get("feed", "")).lower()
                layer = str(a.metadata.get("layer", "")).lower()
                name = str(a.metadata.get("name", "")).lower()
                if prefix == "feeds" and fnmatch.fnmatch(feed, pat):
                    ids.add(a.id)
                elif prefix == "ids" and fnmatch.fnmatch(a.id.lower(), pat):
                    ids.add(a.id)
                elif prefix == "names" and fnmatch.fnmatch(name, pat):
                    ids.add(a.id)
                elif prefix == "layers" and fnmatch.fnmatch(layer, pat):
                    ids.add(a.id)
                elif prefix == "startfromactionids" and fnmatch.fnmatch(a.id.lower(), pat):
                    ids |= connected_nodes_forward(edges, a.id)
                elif prefix == "endwithactionids" and fnmatch.fnmatch(a.id.lower(), pat):
                    ids |= connected_nodes_reverse(edges, a.id)
                elif prefix == "startfromdataobjectids" and any(
                    fnmatch.fnmatch(i.lower(), pat) for i in a.input_ids
                ):
                    # actions READING the DataObject, plus everything after
                    # (AppUtil startFromDataObjectIds)
                    ids |= connected_nodes_forward(edges, a.id)
                elif prefix == "endwithdataobjectids" and any(
                    fnmatch.fnmatch(o.lower(), pat) for o in a.output_ids
                ):
                    # actions WRITING the DataObject, plus everything before
                    ids |= connected_nodes_reverse(edges, a.id)
            return ids

        selected: set[str] | None = None
        for or_part in feed_sel.split("|"):
            part_ids: set[str] | None = None
            for and_part in or_part.split("&"):
                neg = and_part.startswith("-")
                ids = term_match(and_part.lstrip("-"))
                if part_ids is None:
                    part_ids = set(a.id for a in actions) - ids if neg else ids
                else:
                    part_ids = part_ids - ids if neg else part_ids & ids
            selected = part_ids if selected is None else selected | (part_ids or set())
        return [a for a in actions if a.id in (selected or set())]

    # ------------------------------------------------------------------- run
    def run(
        self,
        feed_sel: str | None = None,
        spark: SparkSession | None = None,
        partition_values: list[dict] | None = None,
        state_path: str | None = None,
        parallelism: int = 1,
        streaming: bool = False,
        streaming_interval_sec: float = 5.0,
        max_streaming_iterations: int | None = None,
        ignore_orphaned_streams: bool = False,
    ) -> RunState:
        spark = spark or get_session()
        actions = self.select_actions(feed_sel)
        if not actions:
            raise ValueError(f"feed selector {feed_sel!r} matched no actions")
        dag = ActionDAG(actions)
        store = StateStore(state_path) if state_path else None
        pvs = [PartitionValues.of(d) for d in (partition_values or [])]

        if not streaming:
            return ActionDAGRun(dag, self.registry, store, parallelism, pvs).run(spark)

        # whole-DAG synchronous streaming loop (SmartDataLakeBuilder.scala:566-648).
        # Each iteration is a full DAG run with its own incremented runId in
        # the state store (the reference's "one SDLB run per micro-batch
        # iteration" contract); streaming sources advance through their
        # checkpoints so a restarted loop never reprocesses data.
        if store is not None:
            self._reconcile_streaming_state(spark, actions, store, ignore_orphaned_streams)
        self._stop_requested = False
        iteration, state = 0, None
        try:
            while True:
                iteration += 1
                run = ActionDAGRun(dag, self.registry, store, parallelism, pvs)
                state = run.run(spark)
                # persist which streaming queries this iteration runs, so a
                # restarted builder can reconcile them against its selection
                state.streaming_queries = self._collect_streaming_descriptors(actions)
                if store is not None and state.streaming_queries:
                    store.save(state)
                if max_streaming_iterations is not None and iteration >= max_streaming_iterations:
                    return state
                if self._stop_requested:
                    return state
                time.sleep(streaming_interval_sec)
        finally:
            self._stop_streaming_queries(actions)

    # -------------------------------------------------------------- dry run
    def dry_run(
        self,
        feed_sel: str | None = None,
        spark: SparkSession | None = None,
        init: bool = True,
    ) -> int:
        """Validation-only run (`--test config|dry-run`,
        SmartDataLakeBuilder.scala:127-188 test modes): build the DAG and run
        the prepare phase (existence/config checks); with ``init=True`` also
        the init phase — full Catalyst lineage and schema validation with no
        writes. Returns the number of validated actions."""
        spark = spark or get_session()
        actions = self.select_actions(feed_sel)
        if not actions:
            raise ValueError(f"feed selector {feed_sel!r} matched no actions")
        dag = ActionDAG(actions)
        run = ActionDAGRun(dag, self.registry)
        run._phase_prepare(spark)
        if init:
            run._phase_init(spark)
        return len(actions)

    # ------------------------------------------------------------- simulate
    def simulate(
        self, input_dfs: dict[str, DataFrame], feed_sel: str | None = None, spark: SparkSession | None = None
    ) -> dict[str, DataFrame]:
        """Init-phase-only run with injected inputs; returns transformed
        DataFrames without touching storage (startSimulation,
        SmartDataLakeBuilder.scala:398-418) — the unit-test harness."""
        spark = spark or get_session()
        actions = self.select_actions(feed_sel)
        dag = ActionDAG(actions)
        feeds: dict[str, SparkSubFeed] = {
            do_id: SparkSubFeed(data_object_id=do_id, frame=df) for do_id, df in input_dfs.items()
        }
        for aid in dag.topological_order():
            action = dag.actions[aid]
            assert isinstance(action, DataFrameAction), "simulation requires DataFrame actions"
            for i in action.input_ids:
                if i not in feeds:
                    raise ValueError(f"simulation: missing input DataFrame for {i!r}")
            dfs = {i: feeds[i].df for i in action.input_ids}
            outputs = action.transform(spark, dfs)  # type: ignore[arg-type]
            for out_id, df in outputs.items():
                feeds[out_id] = SparkSubFeed(data_object_id=out_id, frame=df)
        return {k: sf.df for k, sf in feeds.items() if sf.df is not None}
