"""Spans around the program's public layer boundaries, recorded from outside.

`Tracer.install` replaces public methods and module functions with thin
wrappers that record (name, start, end, parent, run); `uninstall` puts the
originals back, so untraced runs execute the unmodified program. Spans stay in
memory until `dump` writes them out after the benchmark run.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


def _subclasses(cls: type) -> list[type]:
    seen, todo = {cls}, [cls]
    while todo:
        for sub in todo.pop().__subclasses__():
            if sub not in seen:
                seen.add(sub)
                todo.append(sub)
    return sorted(seen, key=lambda c: (c.__module__, c.__qualname__))


def trace_points() -> list[tuple[object, str, str, object]]:
    """(owner, attribute, span name, result counter) for every wrapped call."""
    import smart_data_lake_spark.actions.base as action_base
    import smart_data_lake_spark.actions.historize as historize
    import smart_data_lake_spark.merge as merge
    from smart_data_lake_spark.actions.base import Action
    from smart_data_lake_spark.dataobjects.base import CanCreateDataFrame, CanHandlePartitions, CanWriteDataFrame
    from smart_data_lake_spark.execution_modes import ExecutionMode
    from smart_data_lake_spark.plans.dag import StateStore
    from smart_data_lake_spark.transformers.df_transformers import DfTransformer

    points = []
    for base, attr, name, counter in [
        (Action, "prepare", "action.prepare", None),
        (Action, "init", "action.init", None),
        (Action, "exec", "action.exec", None),
        (StateStore, "save", "dag.state_save", None),
        (DfTransformer, "transform", "transformer.apply", None),
        (ExecutionMode, "apply", "execution_mode.apply", lambda r: len(r.input_partition_values)),
        (CanCreateDataFrame, "get_dataframe", "dataobject.get_dataframe", None),
        (CanHandlePartitions, "list_partitions", "dataobject.list_partitions", None),
        (CanWriteDataFrame, "write_dataframe", "dataobject.write", None),
    ]:
        for cls in _subclasses(base):
            fn = cls.__dict__.get(attr)
            if callable(fn) and not getattr(fn, "__isabstractmethod__", False):
                points.append((cls, attr, name, counter))
    # functions the actions call through their own module-level imports
    for owner, attr, name in [
        (historize, "incremental_historize_ops", "historization.ops"),
        (historize, "incremental_cdc_historize_ops", "historization.ops"),
        (historize, "full_historize", "historization.ops"),
        (merge, "merge_dataframes", "merge.merge_dataframes"),
        (action_base, "setup_observation", "expectations.observe"),
        (action_base, "validate_expectations", "expectations.validate"),
    ]:
        points.append((owner, attr, name, None))
    return points


class Tracer:
    def __init__(self) -> None:
        # span: [id, name, start, end, parent id, run id, count]
        self.spans: list[list] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._run: tuple[int, int] | None = None  # (run id, run span id)

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        run_id, run_span = self._run or (None, None)
        parent = stack[-1][0] if stack else run_span
        rec = [next(self._ids), name, time.perf_counter(), None, parent, run_id, None]
        stack.append(rec)
        try:
            yield rec
        finally:
            rec[3] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def dag_run(self, run_id: int):
        with self.span("dag.run") as rec:
            self._run = (run_id, rec[0])
            rec[5] = run_id
            try:
                yield rec
            finally:
                self._run = None

    def _wrapper(self, original, name: str, counter):
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            if stack and stack[-1][1] == name:
                # a subclass override calling super(): one call, one span
                return original(*args, **kwargs)
            with tracer.span(name) as rec:
                result = original(*args, **kwargs)
                if counter is not None:
                    rec[6] = counter(result)
                return result

        return traced

    def install(self) -> None:
        for owner, attr, name, counter in trace_points():
            original = owner.__dict__[attr]
            self._patches.append((owner, attr, original))
            setattr(owner, attr, self._wrapper(original, name, counter))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        keys = ["id", "name", "start", "end", "parent", "run", "count"]
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)

    def run_metrics(self, run_id: int, n_actions: int) -> dict[str, float]:
        """Layer metrics of one traced DAG run."""
        spans = [s for s in self.spans if s[5] == run_id]
        by_name: dict[str, list] = {}
        for s in spans:
            by_name.setdefault(s[1], []).append(s)
        dur = lambda name: sum(s[3] - s[2] for s in by_name.get(name, []))  # noqa: E731
        run = by_name["dag.run"][0]
        execs = by_name.get("action.exec", [])
        children: dict[int, float] = {}
        for s in spans:
            children[s[4]] = children.get(s[4], 0.0) + (s[3] - s[2])
        covered, reach = 0.0, None
        for start, end in sorted((s[2], s[3]) for s in execs):
            if reach is None or start > reach:
                covered += end - start
                reach = end
            elif end > reach:
                covered += end - reach
                reach = end
        return {
            "dag.prepare_s": dur("action.prepare"),
            "dag.init_s": dur("action.init"),
            "dag.sched_idle_s": (run[3] - run[2]) - covered,
            "dag.state_saves_per_run": len(by_name.get("dag.state_save", [])),
            "dag.state_save_s": dur("dag.state_save"),
            "actions.exec_self_s": sum((s[3] - s[2]) - children.get(s[0], 0.0) for s in execs),
            "transformers.apply_s": dur("transformer.apply"),
            "execution_modes.apply_s": dur("execution_mode.apply"),
            "execution_modes.partitions_selected": sum(
                s[6] or 0 for s in by_name.get("execution_mode.apply", [])
            ),
            "dataobjects.get_dataframe_calls_per_action": len(by_name.get("dataobject.get_dataframe", []))
            / n_actions,
            "dataobjects.get_dataframe_s": dur("dataobject.get_dataframe"),
            "dataobjects.list_partitions_s": dur("dataobject.list_partitions"),
            "dataobjects.write_s": dur("dataobject.write"),
            "historization.ops_s": dur("historization.ops"),
            "merge.merge_dataframes_s": dur("merge.merge_dataframes"),
            "expectations.observe_s": dur("expectations.observe"),
            "expectations.validate_s": dur("expectations.validate"),
        }
