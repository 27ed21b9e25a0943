"""`StateStore` picks the latest run by the (run_id, attempt_id) in its own
file names, and writes each state to a temporary name first."""

import os

from smart_data_lake_spark.plans.dag import RunState, StateStore


def test_latest_orders_by_run_id_not_mtime(tmp_path):
    store = StateStore(str(tmp_path), app_name="app")
    for run_id in range(1, 12):
        store.save(RunState(run_id=run_id, attempt_id=1, is_final=True))
    for name in os.listdir(tmp_path):  # a restore with `cp -r`: one mtime for all
        os.utime(tmp_path / name, (1_000_000, 1_000_000))
    (tmp_path / "app_run12_attempt1.json.1-2.tmp").write_text("{trunc")  # a kill mid-save
    assert store.latest().run_id == 11
    assert [n for n in os.listdir(tmp_path) if n.endswith(".tmp")] == ["app_run12_attempt1.json.1-2.tmp"]


def test_latest_takes_the_highest_attempt(tmp_path):
    store = StateStore(str(tmp_path), app_name="app")
    for attempt in (2, 1, 3):
        store.save(RunState(run_id=5, attempt_id=attempt))
    assert (store.latest().run_id, store.latest().attempt_id) == (5, 3)
