"""The three benchmark pipelines: inputs, DAG config, per-run inputs and checks.

Every timed DAG run of a workload does the same work: workloads whose runs
advance state (history grows, partitions get processed) are restored from a
snapshot taken after the warm-up runs before each further timed run.
"""

from __future__ import annotations

import datetime
import glob
import os

import numpy as np
import pyarrow.parquet as pq

import datagen


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _read(path: str):
    # Spark writes timestamps as INT96; read them at ms so 9999-12-31 fits
    return pq.read_table(path, coerce_int96_timestamp_unit="ms")


class Workload:
    name = ""
    sizes: dict = {}
    parallelism = 1
    warmup_runs = 1
    # typical timed run on a 4-core host; sets how many runs fill --seconds
    nominal_run_s = 1.0
    restore_outputs = False

    def generate(self, dst: str, seed: int) -> dict:
        raise NotImplementedError

    def config(self, inputs: str, data: str) -> dict:
        raise NotImplementedError

    def output_paths(self, data: str) -> list[str]:
        raise NotImplementedError

    def prepare_run(self, registry, run_index: int) -> dict:
        """Per-run settings; returns extra keyword arguments for the DAG run."""
        return {}

    def input_files(self, inputs: str, run_index: int) -> list[str]:
        raise NotImplementedError

    def input_rows(self, run_index: int) -> int:
        raise NotImplementedError

    def check(self, data: str, expected: dict) -> dict[str, bool]:
        """Action id -> whether that action's output matches `expected`."""
        raise NotImplementedError


class Scd2DailyMerge(Workload):
    name = "scd2_daily_merge"
    sizes = {"keys": 200_000, "churn": 0.05}
    parallelism = 1
    warmup_runs = 5
    nominal_run_s = 2.0
    restore_outputs = True
    action_id = "historize_customers"

    def generate(self, dst, seed):
        # day 0 is the initial load; the timed runs all merge day `warmup_runs`
        return datagen.generate_scd2(dst, seed, days=self.warmup_runs + 1, **self.sizes)

    def config(self, inputs, data):
        return {
            "dataObjects": {
                "customer_snapshot": {"type": "ParquetFileDataObject", "path": inputs, "partitions": ["dt"]},
                "customer_history": {
                    "type": "ParquetTableDataObject",
                    "path": os.path.join(data, "customer_history"),
                    "table": {"name": "customer_history", "primaryKey": ["id"]},
                },
            },
            "actions": {
                self.action_id: {
                    "type": "HistorizeAction",
                    "inputId": "customer_snapshot",
                    "outputId": "customer_history",
                    "mergeModeEnable": True,
                    "historizeBlacklist": ["dt"],
                }
            },
        }

    def output_paths(self, data):
        return [os.path.join(data, "customer_history")]

    def prepare_run(self, registry, run_index):
        # one fixed capture time per snapshot day keeps the history exact
        registry.get_action(self.action_id).reference_timestamp = datetime.datetime(
            2024, 1, 1
        ) + datetime.timedelta(days=run_index)
        return {"partition_values": [{"dt": datagen.day_str(run_index)}]}

    def input_files(self, inputs, run_index):
        return _parquet_files(os.path.join(inputs, f"dt={datagen.day_str(run_index)}"))

    def input_rows(self, run_index):
        return self.sizes["keys"]

    def check(self, data, expected):
        t = _read(os.path.join(data, "customer_history"))
        captured = t.column("dl_ts_captured").cast("int64").to_numpy()
        delimited = t.column("dl_ts_delimited").cast("int64").to_numpy()
        ids = t.column("id").to_numpy()
        seg = datagen.codes_of(t.column("segment").to_pylist(), datagen.SEGMENTS)
        amount = t.column("amount").to_numpy()
        score = t.column("score").to_numpy()
        day_ms = 86_400_000
        base = captured.min() if len(captured) else 0
        open_ = delimited == int(datetime.datetime(9999, 12, 31).timestamp() * 1000)
        closed = ~open_
        cap_day, cap_rem = np.divmod(captured - base, day_ms)
        # a version is closed 1 ms before the capture time of its successor
        end_day, end_rem = np.divmod(delimited[closed] - base + 1, day_ms)
        ok = (
            len(ids) == expected["rows"]
            and int(open_.sum()) == expected["keys"]
            and len(np.unique(ids[open_])) == expected["keys"]
            and not cap_rem.any()
            and not end_rem.any()
            and int(closed.sum()) == expected["closed_rows"]
            and datagen.checksum(
                ids[closed], seg[closed], amount[closed], score[closed], cap_day[closed], end_day
            )
            == expected["closed_checksum"]
            and datagen.checksum(ids[open_], seg[open_], amount[open_], score[open_], cap_day[open_])
            == expected["open_checksum"]
        )
        return {self.action_id: bool(ok)}


class ManyFeedBackfill(Workload):
    name = "many_feed_backfill"
    sizes = {"feeds": 16, "days": 16, "rows": 2_000}
    per_run = 2
    parallelism = 3
    warmup_runs = 3
    nominal_run_s = 4.5
    restore_outputs = True

    def _feeds(self):
        return [f"feed_{f:02d}" for f in range(self.sizes["feeds"])]

    def generate(self, dst, seed):
        return datagen.generate_many_feed(dst, seed, **self.sizes)

    def config(self, inputs, data):
        dos, actions = {}, {}
        for feed in self._feeds():
            src = f"{feed}_landing"
            dos[src] = {"type": "ParquetFileDataObject", "path": os.path.join(inputs, feed), "partitions": ["dt"]}
            dos[f"{feed}_clean"] = {
                "type": "ParquetFileDataObject",
                "path": os.path.join(data, feed),
                "partitions": ["dt"],
            }
            actions[f"copy_{feed}"] = {
                "type": "CopyAction",
                "inputId": src,
                "outputId": f"{feed}_clean",
                "executionMode": {"type": "PartitionDiffMode", "nbOfPartitionValuesPerRun": self.per_run},
                "transformers": [
                    {
                        "type": "SQLDfTransformer",
                        "code": "SELECT id, dt, code, amount, qty, amount * qty AS value "
                        f"FROM %{{inputViewName_{src}}} WHERE amount >= 0",
                    }
                ],
                "expectations": [
                    {"type": "CountExpectation", "name": "count", "expectation": "> 0"},
                    {"type": "SQLFractionExpectation", "name": "pct_high_value", "condition": "value >= 1000",
                     "expectation": ">= 0.5"},
                ],
            }
        return {"dataObjects": dos, "actions": actions}

    def output_paths(self, data):
        return [os.path.join(data, feed) for feed in self._feeds()]

    def _days(self, run_index):
        first = run_index * self.per_run
        return [datagen.day_str(d) for d in range(first, first + self.per_run)]

    def input_files(self, inputs, run_index):
        return [
            f
            for feed in self._feeds()
            for dt in self._days(run_index)
            for f in _parquet_files(os.path.join(inputs, feed, f"dt={dt}"))
        ]

    def input_rows(self, run_index):
        return self.sizes["feeds"] * self.per_run * self.sizes["rows"]

    def check(self, data, expected):
        done = (self.warmup_runs + 1) * self.per_run
        want_days = [datagen.day_str(d) for d in range(done)]
        result = {}
        for feed in self._feeds():
            dirs = sorted(glob.glob(os.path.join(data, feed, "dt=*")))
            ok = [os.path.basename(d)[3:] for d in dirs] == want_days
            for d in dirs if ok else []:
                t = _read(d)
                got = [t.num_rows, int(t.column("value").to_numpy().sum())]
                ok = ok and got == expected[feed][os.path.basename(d)[3:]]
            result[f"copy_{feed}"] = ok
        return result


class FanoutQualityRead(Workload):
    """Runnable, but not in BENCHMARK.json: a third workload does not fit the
    benchmark's 3420 s budget for a full pass (see CHOICES.md)."""

    name = "fanout_quality_read"
    sizes = {"rows": 1_000_000, "files": 8, "stores": 1_000, "products": 5_000}
    parallelism = 3
    warmup_runs = 2
    nominal_run_s = 3.5
    restore_outputs = False
    # aggregate output id -> SQL over the stage
    agg_sql = {
        "agg_store": "SELECT store_id, count(*) AS n, sum(revenue_cents) AS total FROM %{v} GROUP BY store_id",
        "agg_product": "SELECT product_id, count(*) AS n, sum(qty) AS total FROM %{v} GROUP BY product_id",
        "agg_day": "SELECT day, count(*) AS n, sum(revenue_cents) AS total FROM %{v} GROUP BY day",
        "agg_status": "SELECT status, count(*) AS n, sum(revenue_cents) AS total FROM %{v} GROUP BY status",
        "agg_price_band": "SELECT price_cents DIV 5000 AS price_band, count(*) AS n, sum(qty) AS total "
        "FROM %{v} GROUP BY price_cents DIV 5000",
        "agg_group_weekday": "SELECT store_id % 16 AS store_group, day % 7 AS weekday, count(*) AS n, "
        "sum(revenue_cents) AS total FROM %{v} GROUP BY store_id % 16, day % 7",
    }

    def generate(self, dst, seed):
        return datagen.generate_fanout(dst, seed, **self.sizes)

    def config(self, inputs, data):
        dos = {
            "sales_fact": {"type": "ParquetFileDataObject", "path": inputs},
            "sales_stage": {"type": "ParquetFileDataObject", "path": os.path.join(data, "sales_stage")},
        }
        actions = {
            "clean_sales": {
                "type": "CopyAction",
                "inputId": "sales_fact",
                "outputId": "sales_stage",
                "transformers": [
                    {
                        "type": "SQLDfTransformer",
                        "code": "SELECT id, store_id, product_id, day, qty, price_cents, status, "
                        "CAST(qty AS BIGINT) * price_cents AS revenue_cents "
                        "FROM %{inputViewName_sales_fact} WHERE status <> 'void' AND qty > 0",
                    }
                ],
            }
        }
        for out_id, sql in self.agg_sql.items():
            dos[out_id] = {"type": "ParquetFileDataObject", "path": os.path.join(data, out_id)}
            actions[f"build_{out_id}"] = {
                "type": "CopyAction",
                "inputId": "sales_stage",
                "outputId": out_id,
                "transformers": [
                    {"type": "SQLDfTransformer", "code": sql.replace("%{v}", "%{inputViewName_sales_stage}")}
                ],
                "expectations": [
                    {"type": "CountExpectation", "name": "count", "expectation": "> 0"},
                    {"type": "SQLFractionExpectation", "name": "pct_multi_row", "condition": "n >= 2",
                     "expectation": ">= 0.5"},
                ],
            }
        return {"dataObjects": dos, "actions": actions}

    def output_paths(self, data):
        return [os.path.join(data, d) for d in ["sales_stage", *self.agg_sql]]

    def input_files(self, inputs, run_index):
        return _parquet_files(inputs)

    def input_rows(self, run_index):
        return self.sizes["rows"]

    def check(self, data, expected):
        stage = _read(os.path.join(data, "sales_stage"))
        got = [stage.num_rows, datagen.checksum(stage.column("id").to_numpy(), stage.column("revenue_cents").to_numpy())]
        result = {"clean_sales": got == expected["stage"]}
        for out_id, (keys, _) in datagen.FANOUT_AGGS.items():
            t = _read(os.path.join(data, out_id))
            key_cols = [
                datagen.codes_of(t.column(k).to_pylist(), datagen.STATUSES) if k == "status" else t.column(k).to_numpy()
                for k in keys
            ]
            got = [t.num_rows, datagen.checksum(*key_cols, t.column("n").to_numpy(), t.column("total").to_numpy())]
            result[f"build_{out_id}"] = got == expected[out_id]
        return result


WORKLOADS = {w.name: w for w in (Scd2DailyMerge(), ManyFeedBackfill(), FanoutQualityRead())}
