"""Pipeline-run benchmark for smart_data_lake_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process, one SparkSession on 2 task slots.
Inputs are generated with numpy/pyarrow from the seed (cached under
.perfbench/inputs), then the clock for `setup_s` starts: session build, config
load, DAG construction and untimed warm-up DAG runs. The timed phase repeats
one identical DAG run (prepare, init, exec, state save) a fixed number of
times, about `--seconds` of run time, checking every action's output after
each run. The last stdout line is the JSON result; the exit code is non-zero
when any action failed or wrote a wrong output. perfbench/CHOICES.md records
the choices behind the workloads and metrics.

`--trace 1` alternates untraced and traced timed runs and reports the
per-layer metrics of the traced ones, plus the tracing overhead.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench")
# leaves 2 of the 4 vCPUs to the JIT compiler, the GC and the Python process
TASK_SLOTS = 2
MIN_SAMPLES = 3
# calibration time of the reference host speed: timed runs are reported in
# seconds at this speed (see CHOICES.md, "Host speed")
CAL_REF_S = 0.14
CACHED_INPUT_SETS = 4


def ensure_inputs(wl, seed: int) -> tuple[str, dict]:
    """Generate the workload's inputs for `seed` unless already cached."""
    key = hashlib.sha1(json.dumps([wl.sizes, wl.warmup_runs], sort_keys=True).encode()).hexdigest()[:10]
    cache = os.path.join(WORK_ROOT, "inputs")
    target = os.path.join(cache, f"{wl.name}-seed{seed}-{key}")
    expected_file = os.path.join(target, "expected.json")
    if not os.path.isfile(expected_file):
        tmp = f"{target}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        expected = wl.generate(os.path.join(tmp, "data"), seed)
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(expected, f)
        shutil.rmtree(target, ignore_errors=True)
        os.replace(tmp, target)
    os.utime(target)
    entries = sorted((os.path.join(cache, e) for e in os.listdir(cache)), key=os.path.getmtime)
    for old in entries[:-CACHED_INPUT_SETS]:
        shutil.rmtree(old, ignore_errors=True)
    with open(expected_file) as f:
        return os.path.join(target, "data"), json.load(f)


def scan_files(paths: list[str]) -> dict[str, tuple[int, int, int]]:
    """Data files under `paths` -> (inode, mtime, size)."""
    out = {}
    for path in paths:
        for root, _, files in os.walk(path):
            for f in files:
                if not f.startswith(("_", ".")):
                    p = os.path.join(root, f)
                    st = os.stat(p)
                    out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def copy_tree(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


def last_job_id(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def calibrate(spark) -> float:
    """Median wall time of a fixed CPU-bound Spark job: host speed, not program speed."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(0, 2_000_000, 1, TASK_SLOTS).selectExpr("sum(crc32(cast(id AS string)))").collect()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM that pyspark launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def isolate_temp_files(work: str) -> None:
    """Keep Spark's, the JVM's and Python's temporary files inside `work`."""
    for sub in ("spark-local", "jvm-tmp", "py-tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "py-tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    # no hsperfdata file in /tmp; the JVM's temporary files go to `work`
    jvm_opts = ["-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')}"]
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(jvm_opts + [os.environ.get("JAVA_TOOL_OPTIONS", "")]).strip()


# metrics of each traced run (Tracer.run_metrics), reported as medians
LAYER_UNITS = {
    "dag.prepare_s": "s",
    "dag.init_s": "s",
    "dag.sched_idle_s": "s",
    "dag.state_saves_per_run": "count",
    "dag.state_save_s": "s",
    "actions.exec_self_s": "s",
    "transformers.apply_s": "s",
    "execution_modes.apply_s": "s",
    "execution_modes.partitions_selected": "count",
    "dataobjects.get_dataframe_calls_per_action": "count",
    "dataobjects.get_dataframe_s": "s",
    "dataobjects.list_partitions_s": "s",
    "dataobjects.write_s": "s",
    "historization.ops_s": "s",
    "merge.merge_dataframes_s": "s",
    "expectations.observe_s": "s",
    "expectations.validate_s": "s",
}


def measure(wl, seed: int, seconds: float, trace: bool, inputs: str, expected: dict, work: str) -> dict:
    from smart_data_lake_spark.config import load_config
    from smart_data_lake_spark.plans import SmartDataLakeBuilder
    from smart_data_lake_spark.session import build_session
    from tracing import Tracer

    data, state, snapshot = (os.path.join(work, d) for d in ("data", "state", "snapshot"))
    t0 = time.perf_counter()
    spark = build_session(
        app_name="perfbench",
        master=f"local[{TASK_SLOTS}]",
        shuffle_partitions=TASK_SLOTS,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        t1 = time.perf_counter()
        registry = load_config(wl.config(inputs, data))
        builder = SmartDataLakeBuilder(registry=registry)
        t2 = time.perf_counter()
        n_actions = len(registry.actions)

        def run_dag(run_index: int):
            return builder.run(
                spark=spark, state_path=state, parallelism=wl.parallelism, **wl.prepare_run(registry, run_index)
            )

        warmups = []
        for i in range(wl.warmup_runs):
            t = time.perf_counter()
            run_dag(i)
            warmups.append(round(time.perf_counter() - t, 3))
        setup_s = time.perf_counter() - t0

        if wl.restore_outputs:
            copy_tree(data, os.path.join(snapshot, "data"))
            copy_tree(state, os.path.join(snapshot, "state"))
        calibrate(spark)  # compiles the calibration job
        calibration = [calibrate(spark)]
        run_index = wl.warmup_runs
        input_bytes = sum(os.path.getsize(f) for f in wl.input_files(inputs, run_index))
        input_rows = wl.input_rows(run_index)
        outputs = wl.output_paths(data)
        tracer = Tracer() if trace else None
        samples: list[dict] = []
        # a fixed number of runs, not a clock: a faster program must not get
        # more (and further warmed-up) samples than its parent
        n_samples = max(MIN_SAMPLES, round(seconds / wl.nominal_run_s)) * (2 if trace else 1)
        while len(samples) < n_samples:
            if samples and wl.restore_outputs:
                copy_tree(os.path.join(snapshot, "data"), data)
                copy_tree(os.path.join(snapshot, "state"), state)
            traced = trace and len(samples) % 2 == 1
            before, jobs_before = scan_files(outputs), last_job_id(spark)
            error = None
            t = time.perf_counter()
            try:
                if traced:
                    tracer.install()
                    with tracer.dag_run(len(samples)):
                        result = run_dag(run_index)
                else:
                    result = run_dag(run_index)
            except Exception as e:  # noqa: BLE001 — a failed run is reported, not raised
                error = e
            finally:
                wall = time.perf_counter() - t
                if traced:
                    tracer.uninstall()
            if error is not None:
                print(f"timed run failed: {error!r}", file=sys.stderr)
                samples.append({"wall": wall, "traced": traced, "failed": n_actions})
                break
            jobs = last_job_id(spark) - jobs_before
            calibration.append(calibrate(spark))
            after = scan_files(outputs)
            new = [p for p, v in after.items() if before.get(p) != v]
            checks = wl.check(data, expected)
            ok = [a for a, s in result.action_states.items() if s == "SUCCEEDED" and checks.get(a)]
            executed = sum(1 for s in result.action_states.values() if s != "SKIPPED")
            sample = {
                "wall": wall,
                # host speed around this run, from the calibrations before and after it
                "scale": CAL_REF_S / statistics.mean(calibration[-2:]),
                "traced": traced,
                "failed": n_actions - len(ok),
                "jobs": jobs,
                "jobs_per_action": jobs / max(executed, 1),
                "files_written": len(new),
                "bytes_written": sum(after[p][2] for p in new),
            }
            if traced:
                sample.update(tracer.run_metrics(len(samples), n_actions))
            samples.append(sample)
    finally:
        stop_spark(spark)

    attempted = n_actions * len(samples)
    failed = sum(s["failed"] for s in samples)
    timed = [s for s in samples if not s["traced"]]
    walls = [s["wall"] * s.get("scale", 1.0) for s in timed]
    diag = {
        "workload": wl.name,
        "seed": seed,
        "samples": len(samples),
        "walls": [round(s["wall"], 4) for s in samples],
        "scales": [round(s.get("scale", 1.0), 4) for s in samples],
        "calibration_s": calibration,
        "setup_s": setup_s,
        "session_s": t1 - t0,
        "warmups": warmups,
    }
    if trace:
        tracer.dump(os.path.join(WORK_ROOT, "traces", f"{wl.name}-seed{seed}.json"))
        done = [s for s in samples if "jobs" in s]
        traced = [s for s in done if s["traced"]]
        traced_walls = [s["wall"] * s["scale"] for s in traced]
        med = lambda key, rows: statistics.median(s[key] for s in rows)  # noqa: E731
        metrics = {
            "session.build_s": (t1 - t0, "s"),
            "config.load_s": (t2 - t1, "s"),
            "spark.jobs_per_run": (med("jobs", done), "count"),
            "spark.jobs_per_action": (med("jobs_per_action", done), "count"),
            "dataobjects.files_written": (med("files_written", traced), "count"),
            "dataobjects.bytes_written": (med("bytes_written", traced), "bytes"),
            "host.calibration_s": (statistics.median(calibration), "s"),
            "host.calibration_drift": (calibration[-1] / calibration[0], "ratio"),
            "trace.run_s_p50_untraced": (statistics.median(walls), "s"),
            "trace.run_s_p50_traced": (statistics.median(traced_walls), "s"),
            "trace.overhead_frac": (statistics.median(traced_walls) / statistics.median(walls) - 1, "ratio"),
            "run.samples": (len(samples), "count"),
        }
        for key, unit in LAYER_UNITS.items():
            metrics[key] = (med(key, traced), unit)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "run_s_p50": (statistics.median(walls), "s"),
            "rows_per_s": (input_rows * len(walls) / sum(walls), "rows/s"),
            "bytes_written_per_input_byte": (
                sum(s.get("bytes_written", 0) for s in timed) / (input_bytes * len(timed)),
                "ratio",
            ),
            "ok_frac": ((attempted - failed) / attempted, "ratio"),
        }
    print(json.dumps(diag), file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "smart_data_lake_spark", "__init__.py")):
        print(f"smart_data_lake_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    inputs, expected = ensure_inputs(wl, args.seed)
    os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    isolate_temp_files(work)
    try:
        result = measure(wl, args.seed, args.seconds, bool(args.trace), inputs, expected, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
