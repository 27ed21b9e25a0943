"""Remote agents + ProxyAction: run an action on another builder process.

Reference: `workflow/action/ProxyAction.scala` (phase forwarding, empty
dummy-subfeed results carrying the remote schemas),
`communication/agent/AgentServerController.scala:19-95` (the server registers
the shipped config fragment and executes the phase),
`communication/agent/AgentClient.scala` / `JettyAgent.scala:27` (transport +
agent declaration in config). The reference ships HOCON over a Jetty
websocket or Azure Relay; this rebuild ships the SAME information — the
wrapped action's config fragment plus the phase — as JSON over plain HTTP
(stdlib `http.server` / `urllib`), the transport that needs no dependency.

Semantics preserved exactly:

* ProxyAction participates in the local DAG with the wrapped action's
  input/output ids, so scheduling, skip propagation and downstream edges are
  unchanged.
* Each phase (prepare/init/exec) is forwarded; the agent instantiates the
  config fragment into ITS OWN registry + SparkSession and runs that phase.
* The response carries {output data-object id → schema DDL}; the proxy
  returns EMPTY dummy subfeeds with those schemas — downstream local actions
  see correct lineage in init, and re-read the agent-written storage in exec
  (shared storage is the data plane; the RPC moves only config and schemas,
  never rows).
* Errors on the agent surface as the remote traceback string locally.

Scale note: the data path stays wholly inside the agent's Spark cluster;
the coordinator exchanges O(config) bytes per phase. That is the reference's
deployment model for spanning security domains (e.g. on-prem agent writes,
cloud coordinator orchestrates).
"""

from __future__ import annotations

import json
import threading
import traceback
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from pyspark.sql import SparkSession

from smart_data_lake_spark.config import InstanceRegistry, load_config
from smart_data_lake_spark.subfeed import SparkSubFeed


class HttpAgent:
    """Agent declaration for the config's `agents` section
    (JettyAgent.scala:27 — id + connection url)."""

    def __init__(self, id: str, url: str, timeout_sec: float = 300.0) -> None:
        self.id = id
        self.url = url.rstrip("/")
        self.timeout_sec = timeout_sec

    def send_instruction(self, payload: dict[str, Any]) -> dict[str, Any]:
        req = urllib.request.Request(
            f"{self.url}/instruction",
            data=json.dumps(payload).encode("utf-8"),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=self.timeout_sec) as resp:
            return json.loads(resp.read().decode("utf-8"))


class ProxyAction:
    """Wraps a remote action: local DAG node, remote execution.

    `remote_config` is the config fragment the agent needs — the wrapped
    action's spec plus the specs of its input/output DataObjects (and any
    connections). `load_config` assembles it automatically for action specs
    carrying an `agentId` (ConfigParser wraps those into ProxyAction in the
    reference)."""

    def __init__(
        self,
        id: str,
        agent: HttpAgent,
        remote_config: dict[str, Any],
        input_ids: list[str],
        output_ids: list[str],
        registry: InstanceRegistry | None = None,
        metadata: dict[str, Any] | None = None,
    ) -> None:
        self.id = id
        self.agent = agent
        self.remote_config = remote_config
        self._input_ids = list(input_ids)
        self._output_ids = list(output_ids)
        self.registry = registry
        self.metadata = metadata or {}
        self.execution_mode = None
        self.execution_mode_state: dict[str, Any] = {}
        self.runtime_metrics: dict[str, Any] = {}
        self.metrics_fail_condition = None
        if registry is not None and id not in registry.actions:
            registry.register_action(self)

    @property
    def input_ids(self) -> list[str]:
        return self._input_ids

    @property
    def output_ids(self) -> list[str]:
        return self._output_ids

    def should_execute(self, subfeeds: list[SparkSubFeed], spark=None) -> bool:
        return not any(sf.is_skipped for sf in subfeeds)

    def check_metrics_fail_condition(self) -> None:
        pass

    def post_exec(self, spark, inputs, outputs) -> None:
        pass

    # ------------------------------------------------------------- phases
    def _run_on_agent(self, spark: SparkSession, phase: str) -> list[SparkSubFeed]:
        response = self.agent.send_instruction(
            {"instruction_id": f"{self.id}:{phase}", "phase": phase, "config": self.remote_config}
        )
        if response.get("error"):
            raise RuntimeError(
                f"({self.id}) agent {self.agent.id} failed in {phase}: {response['error']}"
            )
        self.runtime_metrics.update(response.get("metrics", {}))
        out: list[SparkSubFeed] = []
        for do_id in self.output_ids:
            ddl = response.get("schemas", {}).get(do_id)
            if ddl:
                import json as _json

                from pyspark.sql import types as T

                # agents ship schema.json() (robust to field names with
                # spaces/colons that break hand-built DDL); accept legacy DDL
                if ddl.lstrip().startswith("{"):
                    schema = T.StructType.fromJson(_json.loads(ddl))
                else:
                    schema = T.StructType.fromDDL(ddl)
                empty = spark.createDataFrame([], schema)
                out.append(SparkSubFeed(data_object_id=do_id, frame=empty, is_dummy=True))
            else:
                out.append(SparkSubFeed(data_object_id=do_id, is_dummy=True))
        return out

    def prepare(self, spark: SparkSession) -> None:
        self._run_on_agent(spark, "prepare")

    def init(self, spark: SparkSession, subfeeds: list[SparkSubFeed]) -> list[SparkSubFeed]:
        return self._run_on_agent(spark, "init")

    def exec(self, spark: SparkSession, subfeeds: list[SparkSubFeed]) -> list[SparkSubFeed]:
        return self._run_on_agent(spark, "exec")


# ----------------------------------------------------------------- server


class AgentServer:
    """Executes shipped config fragments phase-by-phase
    (AgentServerController.scala handle()): instantiate the fragment into a
    fresh registry against this process's SparkSession, run the requested
    phase, reply with output schemas (DDL) + metrics, or the traceback."""

    def __init__(self, spark: SparkSession, host: str = "127.0.0.1", port: int = 0) -> None:
        self.spark = spark
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def do_POST(self) -> None:  # noqa: N802 — http.server API
                length = int(self.headers.get("Content-Length", "0"))
                try:
                    payload = json.loads(self.rfile.read(length).decode("utf-8"))
                    body = outer._handle(payload)
                    code = 200
                except Exception:  # noqa: BLE001 — remote gets the traceback
                    body = {"error": traceback.format_exc()}
                    code = 500
                data = json.dumps(body).encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def _handle(self, payload: dict[str, Any]) -> dict[str, Any]:
        return handle_phase_request(self.spark, payload)

    def start(self) -> "AgentServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)


def handle_phase_request(spark: SparkSession, payload: dict[str, Any]) -> dict[str, Any]:
    """The agent's phase executor, usable without binding an HTTP socket
    (AgentServer delegates here; the websocket CLI mode wraps it
    directly)."""
    phase = payload["phase"]
    try:
        registry = load_config(payload["config"])
        from smart_data_lake_spark.plans.dag import ActionDAG, ActionDAGRun

        dag = ActionDAG(list(registry.actions.values()))
        run = ActionDAGRun(dag, registry)
        if phase == "prepare":
            run._phase_prepare(spark)
            return {"schemas": {}, "metrics": {}}
        if phase == "init":
            # run the init walk and capture the OUTPUT subfeed schemas —
            # the transformed lineage's schemas, exactly what the
            # reference returns (AgentServerController:
            # resultingSubfeeds → schema.toDDL), independent of whether
            # the output storage exists yet
            run._phase_prepare(spark)
            feeds: dict[str, SparkSubFeed] = {}
            schemas: dict[str, str] = {}
            for aid in dag.topological_order():
                action = dag.actions[aid]
                inputs = [
                    feeds.get(i, SparkSubFeed(data_object_id=i, is_dag_start=True))
                    for i in action.input_ids
                ]
                for sf in action.init(spark, inputs):
                    feeds[sf.data_object_id] = sf
                    if sf.df is not None:
                        # schema.json(), not hand-joined DDL: field names
                        # with spaces/colons survive the round-trip
                        schemas[sf.data_object_id] = sf.df.schema.json()
            return {"schemas": schemas, "metrics": {}}
        if phase == "exec":
            state = run.run(spark)
            schemas: dict[str, str] = {}
            metrics: dict[str, Any] = {}
            for aid, action in registry.actions.items():
                metrics[f"agent_{aid}"] = state.action_metrics.get(aid, {})
                for out_id in action.output_ids:
                    do = registry.get_data_object(out_id)
                    try:
                        df = do.get_dataframe(spark)
                        schemas[out_id] = df.schema.json()
                    except Exception:  # noqa: BLE001 — schema optional
                        pass
            return {"schemas": schemas, "metrics": metrics}
        raise ValueError(f"unknown phase {phase!r}")
    except Exception:  # noqa: BLE001
        return {"error": traceback.format_exc()}


