"""Seeded benchmark inputs and their expected results, made with numpy/pyarrow.

Nothing here touches Spark: inputs are written as plain parquet files, and the
expected outputs are derived from the same random streams, so the check after
the timed runs is independent of the program under test.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = datetime.date(2024, 1, 1)
SEGMENTS = ["retail", "wholesale", "online", "partner", "staff", "public", "vip", "trial"]
CODES = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
STATUSES = ["ok", "ok_late", "return", "void"]
# fanout_quality_read aggregates: output id -> (group key columns, summed column)
FANOUT_AGGS = {
    "agg_store": (["store_id"], "revenue_cents"),
    "agg_product": (["product_id"], "qty"),
    "agg_day": (["day"], "revenue_cents"),
    "agg_status": (["status"], "revenue_cents"),
    "agg_price_band": (["price_band"], "qty"),
    "agg_group_weekday": (["store_group", "weekday"], "revenue_cents"),
}

_MULT = np.uint64(0x9E3779B97F4A7C15)


def day_str(day: int) -> str:
    return (DAY0 + datetime.timedelta(days=day)).isoformat()


def checksum(*cols) -> int:
    """Order-independent checksum of rows given as equal-length integer columns."""
    h = np.full(len(cols[0]), 0x243F6A8885A308D3, dtype=np.uint64)
    for c in cols:
        h = (h ^ np.asarray(c).astype(np.int64).view(np.uint64)) * _MULT
        h ^= h >> np.uint64(31)
    return int(h.sum(dtype=np.uint64))


def codes_of(values, vocabulary: list[str]) -> np.ndarray:
    """Map strings to their index in `vocabulary`; unknown values map to -1."""
    lookup = {v: i for i, v in enumerate(vocabulary)}
    return np.array([lookup.get(v, -1) for v in values], dtype=np.int64)


def _dict_strings(idx: np.ndarray, vocabulary: list[str]) -> pa.Array:
    return pa.DictionaryArray.from_arrays(pa.array(idx.astype(np.int32)), pa.array(vocabulary))


def _write(path: str, columns: dict[str, pa.Array | np.ndarray]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path, compression="snappy")


def generate_scd2(dst: str, seed: int, keys: int, churn: float, days: int) -> dict:
    """Daily full snapshots of `keys` customers, `churn` of them changed per day.

    Writes `dst/dt=<day>/part-00000.parquet` for days 0..days-1 and returns the
    summary of the SCD2 history that historizing all days in order must give.
    """
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(keys, dtype=np.int64) * 7 + 1_000_003
    seg = rng.integers(0, len(SEGMENTS), keys)
    amount = rng.integers(0, 1_000_000, keys)
    score = rng.integers(0, 100, keys).astype(np.int32)
    captured = np.zeros(keys, dtype=np.int64)
    n_churn = int(round(keys * churn))
    closed = []
    for day in range(days):
        if day:
            idx = rng.choice(keys, n_churn, replace=False)
            closed.append(
                (ids[idx], seg[idx].copy(), amount[idx].copy(), score[idx].copy(), captured[idx].copy(),
                 np.full(n_churn, day, dtype=np.int64))
            )
            amount[idx] += rng.integers(1, 1000, n_churn)
            flip = idx[rng.random(n_churn) < 0.3]
            seg[flip] = (seg[flip] + rng.integers(1, len(SEGMENTS), len(flip))) % len(SEGMENTS)
            captured[idx] = day
        _write(
            os.path.join(dst, f"dt={day_str(day)}", "part-00000.parquet"),
            {"id": ids, "segment": _dict_strings(seg, SEGMENTS), "amount": amount, "score": score},
        )
    closed_cols = [np.concatenate(c) for c in zip(*closed)] if closed else [np.zeros(0, np.int64)] * 6
    return {
        "rows": keys + n_churn * (days - 1),
        "keys": keys,
        "closed_rows": n_churn * (days - 1),
        "closed_checksum": checksum(*closed_cols),
        "open_checksum": checksum(ids, seg, amount, score, captured),
    }


def generate_many_feed(dst: str, seed: int, feeds: int, days: int, rows: int) -> dict:
    """`feeds` landing tables with `days` daily partitions of `rows` rows each.

    Returns, per feed and partition, the row count and value sum that the
    feed's copy (drop negative amounts, value = amount * qty) must write.
    """
    rng = np.random.default_rng([seed, 2])
    expected: dict = {}
    for f in range(feeds):
        per_day = {}
        for day in range(days):
            ids = f * 100_000_000 + day * 100_000 + np.arange(rows, dtype=np.int64)
            code = rng.integers(0, len(CODES), rows)
            amount = rng.integers(-100, 10_000, rows)
            qty = rng.integers(1, 50, rows).astype(np.int32)
            _write(
                os.path.join(dst, f"feed_{f:02d}", f"dt={day_str(day)}", "part-00000.parquet"),
                {"id": ids, "code": _dict_strings(code, CODES), "amount": amount, "qty": qty},
            )
            keep = amount >= 0
            per_day[day_str(day)] = [int(keep.sum()), int((amount[keep] * qty[keep]).sum())]
        expected[f"feed_{f:02d}"] = per_day
    return expected


def fanout_stage_columns(t: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """The cleaning step as numpy: drop void and non-positive rows, add revenue."""
    keep = (t["status"] != STATUSES.index("void")) & (t["qty"] > 0)
    s = {k: v[keep] for k, v in t.items()}
    s["revenue_cents"] = s["qty"].astype(np.int64) * s["price_cents"]
    s["price_band"] = s["price_cents"] // 5000
    s["store_group"] = s["store_id"] % 16
    s["weekday"] = s["day"] % 7
    return s


def generate_fanout(dst: str, seed: int, rows: int, files: int, stores: int, products: int) -> dict:
    """A sales fact table of `rows` rows split over `files` parquet files.

    Returns the checksums of the cleaned stage and of each aggregate.
    """
    rng = np.random.default_rng([seed, 3])
    parts = []
    per_file = rows // files
    for i in range(files):
        t = {
            "id": i * per_file + np.arange(per_file, dtype=np.int64),
            "store_id": rng.integers(0, stores, per_file).astype(np.int32),
            "product_id": rng.integers(0, products, per_file).astype(np.int32),
            "day": rng.integers(0, 90, per_file).astype(np.int32),
            "qty": rng.integers(-2, 21, per_file).astype(np.int32),
            "price_cents": rng.integers(50, 50_000, per_file).astype(np.int32),
            "status": rng.choice(len(STATUSES), per_file, p=[0.7, 0.15, 0.1, 0.05]),
        }
        cols = dict(t)
        cols["status"] = _dict_strings(t["status"], STATUSES)
        _write(os.path.join(dst, f"part-{i:05d}.parquet"), cols)
        parts.append(t)
    stage = fanout_stage_columns({k: np.concatenate([p[k] for p in parts]) for k in parts[0]})
    expected = {"stage": [len(stage["id"]), checksum(stage["id"], stage["revenue_cents"])]}
    for out_id, (keys, value_col) in FANOUT_AGGS.items():
        key_arrays = [stage[k].astype(np.int64) for k in keys]
        combined = key_arrays[0] if len(keys) == 1 else key_arrays[0] * 1_000_000 + key_arrays[1]
        uniq, inverse = np.unique(combined, return_inverse=True)
        n = np.bincount(inverse)
        total = np.bincount(inverse, weights=stage[value_col].astype(np.float64))
        if len(keys) == 1:
            key_cols = [uniq]
        else:
            key_cols = [uniq // 1_000_000, uniq % 1_000_000]
        # the per-group sums stay far below 2**53, so float64 bincount is exact
        expected[out_id] = [len(uniq), checksum(*key_cols, n, total.astype(np.int64))]
    return expected
