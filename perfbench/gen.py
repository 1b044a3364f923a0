"""Seeded input generator: parquet files with the testdata ``events``
schema (event_id, ts, user_id, event_type, value, props).

One process; numpy draws every value from ``np.random.default_rng(seed)``
so the same seed gives byte-identical inputs.  Event ids are dense and
follow ``(ts, user_id)`` order across the whole stream, as in the
testdata generator, so ``event_id`` is a valid tie-break for first/last.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
HOUR_US = 3_600_000_000
DAY_US = 24 * HOUR_US
EVENT_TYPES = pa.array(["click", "view", "purchase", "signup", "error"])
PROPS = pa.array([f'{{"k": {k}}}' for k in range(100)])


def zipf_counts(rng, n_events: int, n_users: int, alpha: float) -> np.ndarray:
    """Events per user: a multinomial over Zipf(alpha) weights, with the
    heavy ranks assigned to random user ids."""
    w = 1.0 / np.arange(1, n_users + 1, dtype=np.float64) ** alpha
    return rng.multinomial(n_events, rng.permutation(w / w.sum()))


def _events(rng, counts, days: int):
    """Event columns for users with ``counts[k]`` events drawn uniformly
    over ``days`` days from T0, sorted by (ts, user_id)."""
    uid = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    ts = T0_US + (rng.random(len(uid)) * (days * DAY_US)).astype(np.int64)
    order = np.lexsort((uid, ts))
    n = len(uid)
    return {
        "ts": ts[order],
        "user_id": uid[order],
        "event_type": rng.integers(0, len(EVENT_TYPES), n, dtype=np.int32),
        "value": np.round(rng.gamma(2.0, 30.0, n), 2),
        "props": rng.integers(0, len(PROPS), n, dtype=np.int32),
    }


def _strings(codes, dictionary) -> pa.Array:
    return pa.DictionaryArray.from_arrays(codes, dictionary).cast(pa.string())


def _table(cols, event_id) -> pa.Table:
    return pa.table({
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(cols["ts"], pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": _strings(cols["event_type"], EVENT_TYPES),
        "value": pa.array(cols["value"], pa.float64()),
        "props": _strings(cols["props"], PROPS),
    })


def _write(cols, event_id, out_dir: str) -> str:
    """Write one ``events.parquet`` (one file, one row group, like the
    testdata table) and return its directory."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_table(cols, event_id),
                   os.path.join(out_dir, "events.parquet"),
                   row_group_size=1 << 30)
    return out_dir


def batch_events(seed: int, out_dir: str, n_events: int, n_users: int,
                 alpha: float, days: int) -> str:
    """One events file: Zipf(alpha) events per user, every user active
    over the whole ``days`` span."""
    rng = np.random.default_rng(seed)
    counts = zipf_counts(rng, n_events, n_users, alpha)
    cols = _events(rng, counts, days)
    return _write(cols, np.arange(n_events, dtype=np.int64), out_dir)


def daily_events(seed: int, out_dir: str, n_events: int, n_users: int,
                 alpha: float, days: int, late_share: float) -> list:
    """One events file per day under ``out_dir/day=NNN``.  A
    ``late_share`` of each day's rows arrives one file late, i.e. each
    file after the first also holds rows of the previous day.  Returns
    the day directories in arrival order."""
    rng = np.random.default_rng(seed)
    counts = zipf_counts(rng, n_events, n_users, alpha)
    cols = _events(rng, counts, days)
    eid = np.arange(n_events, dtype=np.int64)
    day = (cols["ts"] - T0_US) // DAY_US
    late = rng.random(n_events) < late_share
    arrival = np.minimum(day + late, days - 1)
    dirs = []
    for d in range(days):
        m = arrival == d
        dirs.append(_write({k: v[m] for k, v in cols.items()}, eid[m],
                           os.path.join(out_dir, f"day={d:03d}")))
    return dirs
