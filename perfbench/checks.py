"""Output checks, run outside the timed window.

Tier outputs are compared with DuckDB SQL over the same generated
parquet through an order-insensitive hash (rows sorted, doubles rounded
to 6 decimals).  DTW outputs are checked for shape (n(n-1)/2 distinct
pairs with i < j), their input series against a numpy rebuild from the
raw events, and a seeded sample of distances against a scalar banded-DTW
loop that must agree exactly.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gen import HOUR_US

AGG_COLS = ["series_id", "bucket_ts", "cnt", "sum", "min", "max"]


def table_hash(t: pa.Table, cols: list) -> tuple:
    """(rows, sha256) of ``cols`` independent of row order."""
    arrays = []
    for c in cols:
        a = t.column(c).combine_chunks()
        if pa.types.is_floating(a.type):
            x = np.round(a.cast(pa.float64()).to_numpy(zero_copy_only=False),
                         6) + 0.0
            x[np.isnan(x)] = np.nan
            a = pa.array(x)
        elif pa.types.is_timestamp(a.type):
            a = a.cast(pa.timestamp("us")).cast(pa.int64())
        elif pa.types.is_integer(a.type):
            a = a.cast(pa.int64())
        else:
            a = a.cast(pa.string())
        arrays.append(a)
    canon = pa.table(arrays, names=cols).sort_by([(c, "ascending")
                                                  for c in cols])
    h = hashlib.sha256()
    for c in cols:
        col = canon.column(c).combine_chunks()
        if pa.types.is_string(col.type):
            h.update("\x00".join(col.to_pylist()).encode())
        else:
            h.update(col.to_numpy(zero_copy_only=False).tobytes())
    return canon.num_rows, h.hexdigest()


def _rollup_sql(files: list, unit: str, since: str | None = None) -> str:
    where = f"WHERE ts >= TIMESTAMP '{since}'" if since else ""
    return f"""
        SELECT 'user' || CAST(user_id AS VARCHAR) AS series_id,
               CAST(date_trunc('{unit}', ts) AS TIMESTAMP) AS bucket_ts,
               count(value) AS cnt,
               sum(value) AS sum, min(value) AS min, max(value) AS max
        FROM read_parquet({files!r}) {where} GROUP BY ALL"""


def _merged(t: pa.Table) -> pa.Table:
    """Merge partial rows of one (series, bucket) key, as an appended
    tier holds them.  first/last are left out: two partial rows of one
    bucket tie on bucket_ts, so their merge is not defined."""
    con = duckdb.connect()
    con.register("t", t.select(AGG_COLS))
    return con.sql("""SELECT series_id, bucket_ts, CAST(sum(cnt) AS BIGINT) AS cnt,
                      sum(sum) AS sum, min(min) AS min, max(max) AS max
                      FROM t GROUP BY ALL""").arrow()


def _same(name: str, got: pa.Table, want: pa.Table, cols: list) -> list:
    g, w = table_hash(got, cols), table_hash(want, cols)
    if g == w:
        return []
    bad = [c for c in cols[2:] if table_hash(got, cols[:2] + [c])
           != table_hash(want, cols[:2] + [c])]
    return [f"{name}: rows/hash {g[0]}/{g[1][:12]} != oracle "
            f"{w[0]}/{w[1][:12]}, columns {bad}"]


def check_append_day(outputs: dict, files: list, day: str) -> list:
    """The newest 1h day read back from the table, and its codec
    round trip, against DuckDB over the ingested files."""
    con = duckdb.connect()
    want = con.sql(f"SELECT * FROM ({_rollup_sql(files, 'hour')}) "
                   f"WHERE CAST(bucket_ts AS DATE) = DATE '{day}'").arrow()
    errs = _same("1h newest day", _merged(outputs["sinks.snapshots.read"]),
                 want, AGG_COLS)
    back = outputs["operators.compress.decode"].rename_columns(
        ["series_id", "bucket_ts", "sum"])
    return errs + _same("codec round trip", back, want,
                        ["series_id", "bucket_ts", "sum"])


def check_append_table(tiers: dict, files: list, kept_days: dict,
                       want_days: list) -> list:
    """Every retained tier of the snapshot table against DuckDB over all
    ingested files, restricted to the retained days ``want_days``."""
    errs = [f"tier {tier} retains days {days}, expected {want_days}"
            for tier, days in kept_days.items() if days != want_days]
    since = want_days[0]
    con = duckdb.connect()
    for tier, unit in (("1m", "minute"), ("1h", "hour"), ("1d", "day")):
        want = con.sql(_rollup_sql(files, unit, since)).arrow()
        errs += _same(f"tier {tier}", _merged(tiers[tier]), want, AGG_COLS)
    return errs


def expected_hourly(events_file: str, span_cap: int) -> tuple:
    """(series ids sorted as strings, (n, L) array) of per-user hourly
    event counts on the global grid of the trailing ``span_cap`` hours,
    zero-filled: what ``hourly_series`` must produce."""
    t = pq.read_table(events_file, columns=["ts", "user_id"])
    hour = pc.cast(t.column("ts"), pa.int64()).to_numpy() // HOUR_US
    uid = t.column("user_id").to_numpy()
    users = np.unique(uid)
    ids = np.array([f"user{u}" for u in users])
    order = np.argsort(ids)
    b1 = hour.max()
    b0 = max(hour.min(), b1 - span_cap + 1)
    rank = np.empty(len(users), np.int64)
    rank[order] = np.arange(len(users))
    row = rank[np.searchsorted(users, uid)]
    keep = hour >= b0
    V = np.zeros((len(users), b1 - b0 + 1))
    np.add.at(V, (row[keep], hour[keep] - b0), 1.0)
    return ids[order], V


def dtw_scalar(a, b, window: int) -> float:
    """Banded DTW, one cell at a time: squared-difference cost, no
    penalty, the library's window convention (|i - j| < window + |r - c|)."""
    r, c = len(a), len(b)
    inf = math.inf
    prev = [0.0] + [inf] * c
    for i in range(r):
        cur = [inf] * (c + 1)
        lo = max(0, i - max(0, r - c) - window + 1)
        hi = min(c, i + max(0, c - r) + window)
        x = a[i]
        for j in range(lo, hi):
            d = x - b[j]
            cur[j + 1] = d * d + min(prev[j], prev[j + 1], cur[j])
        prev = cur
    return math.sqrt(prev[c])


def check_matrix(outputs: dict, events_file: str, span_cap: int,
                 window: int, seed: int, n_sample: int = 12) -> list:
    errs = []
    ser = outputs["series"].sort_by("i")
    ids, V = expected_hourly(events_file, span_cap)
    got_ids = np.array(ser.column("series_id").to_pylist())
    if not np.array_equal(ser.column("i").to_numpy(),
                          np.arange(len(ser))) or \
            not np.array_equal(got_ids, ids):
        return [f"series index: {len(got_ids)} series, expected {len(ids)}"]
    vals = ser.column("values").combine_chunks()
    got_V = vals.values.to_numpy().reshape(len(ser), -1) \
        if len(set(pc.list_value_length(vals).to_pylist())) == 1 else None
    if got_V is None or not np.array_equal(got_V, V):
        errs.append("hourly series differ from the raw-event rebuild")
    pairs = outputs["operators.matrix.pair_stage"]
    n = len(ids)
    i = pairs.column("i").to_numpy()
    j = pairs.column("j").to_numpy()
    d = pairs.column("d").to_numpy()
    if len(i) != n * (n - 1) // 2 or (i >= j).any() or \
            len(np.unique(i * n + j)) != len(i):
        errs.append(f"pairs: {len(i)} rows, expected {n * (n - 1) // 2} "
                    "distinct i < j")
        return errs
    rng = np.random.default_rng(seed)
    for k in rng.choice(len(i), size=min(n_sample, len(i)), replace=False):
        want = dtw_scalar(V[i[k]].tolist(), V[j[k]].tolist(), window)
        if d[k] != want:
            errs.append(f"d({i[k]},{j[k]}) = {d[k]!r}, scalar {want!r}")
    return errs
