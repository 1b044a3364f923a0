"""Counter / time-weighted aggregates (functions/timeagg.py).

Hand-computed fixtures for the reset rule and the trapezoid, a
brute-force pandas parity sweep over a randomized irregular corpus, and
the JVM-only / no-SinglePartition plan pins the module docstring claims.
"""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dtaidistance_spark.functions.timeagg import (
    counter_delta,
    counter_rate,
    time_weighted_avg,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(sec):
    return T0 + dt.timedelta(seconds=sec)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "series_id string, ts timestamp, value double")


PY_EVAL_NODES = ("BatchEvalPython", "ArrowEvalPython")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestCounterDelta:
    def test_reset_rule_hand_fixture(self, spark):
        # monotone growth 0→5→12, reset to 3, growth to 7:
        # deltas NULL, 5, 7, 3 (post-reset value), 4
        rows = [("a", _ts(i * 10), v) for i, v in
                enumerate([0.0, 5.0, 12.0, 3.0, 7.0])]
        out = (counter_delta(_df(spark, rows))
               .orderBy("ts").select("delta").collect())
        assert [r.delta for r in out] == [None, 5.0, 7.0, 3.0, 4.0]

    def test_first_sample_per_series_is_null(self, spark):
        rows = [("a", _ts(0), 1.0), ("b", _ts(0), 9.0), ("b", _ts(5), 11.0)]
        out = {(r.series_id, r.ts): r.delta
               for r in counter_delta(_df(spark, rows)).collect()}
        assert out[("a", _ts(0))] is None
        assert out[("b", _ts(0))] is None
        assert out[("b", _ts(5))] == 2.0


class TestCounterRate:
    def test_hand_fixture_buckets(self, spark):
        # one series, two hourly buckets; the 3600s sample's delta (8)
        # lands in the second bucket (right-endpoint attribution)
        rows = [("a", _ts(0), 10.0), ("a", _ts(600), 16.0),
                ("a", _ts(1800), 2.0),          # reset: delta = 2
                ("a", _ts(3600), 10.0), ("a", _ts(3900), 13.0)]
        out = {r.bucket_ts: r for r in
               counter_rate(_df(spark, rows), "1h").collect()}
        b0, b1 = _ts(0), _ts(3600)
        assert out[b0].n == 3 and out[b0].idelta == 8.0
        assert out[b0].rate_per_s == round(8.0 / 1800.0, 6)
        assert out[b1].n == 2 and out[b1].idelta == 11.0  # 8 + 3
        assert out[b1].rate_per_s == round(11.0 / 300.0, 6)

    def test_single_sample_bucket_null_rate(self, spark):
        rows = [("a", _ts(0), 5.0)]
        r = counter_rate(_df(spark, rows), "1h").collect()[0]
        assert r.n == 1 and r.idelta is None and r.rate_per_s is None


class TestTimeWeightedAvg:
    def test_trapezoid_hand_fixture(self, spark):
        # t=0,10,30 v=2,4,8: wsum = 3*10 + 6*20 = 150, span 30 → 5.0
        rows = [("a", _ts(0), 2.0), ("a", _ts(10), 4.0), ("a", _ts(30), 8.0)]
        r = time_weighted_avg(_df(spark, rows), "1h").collect()[0]
        assert r.n == 3 and r.twa == 5.0

    def test_cross_bucket_pair_excluded(self, spark):
        # second bucket holds 2 samples but the straddling pair is
        # excluded: only (3600, 3700) contributes there
        rows = [("a", _ts(3000), 2.0), ("a", _ts(3590), 4.0),
                ("a", _ts(3600), 6.0), ("a", _ts(3700), 10.0)]
        out = {r.bucket_ts: r for r in
               time_weighted_avg(_df(spark, rows), "1h").collect()}
        assert out[_ts(0)].twa == pytest.approx(3.0)       # (2+4)/2
        assert out[_ts(3600)].twa == pytest.approx(8.0)    # (6+10)/2
        assert out[_ts(3600)].n == 2

    def test_single_sample_bucket_null(self, spark):
        rows = [("a", _ts(0), 7.0)]
        r = time_weighted_avg(_df(spark, rows), "1h").collect()[0]
        assert r.n == 1 and r.twa is None

    def test_burst_insensitivity(self, spark):
        # 59 min at 1.0 then a 10-sample burst at 100.0 in the last
        # minute: plain avg is pulled to ~15, TWA stays near 1
        rows = [("a", _ts(i * 60), 1.0) for i in range(60)]
        rows += [("a", _ts(3540 + i + 1), 100.0) for i in range(10)]
        r = time_weighted_avg(_df(spark, rows), "1d").collect()[0]
        plain = (60 * 1.0 + 10 * 100.0) / 70
        assert r.twa < 2.0 and plain > 10.0


class TestStateDurations:
    def test_multi_bucket_attribution_hand_fixture(self, spark):
        # A [00:30,01:15) B [01:15,03:05) C [03:05,03:50): intervals
        # split exactly across the hourly buckets they span
        rows = [("a", _ts(30 * 60), "A"), ("a", _ts(75 * 60), "B"),
                ("a", _ts(185 * 60), "C"), ("a", _ts(230 * 60), "END")]
        df = spark.createDataFrame(
            rows, "series_id string, ts timestamp, state string")
        from dtaidistance_spark.functions.timeagg import state_durations
        out = {(r.bucket_ts, r.state): r.dur_s
               for r in state_durations(df, "1h").collect()}
        assert out == {(_ts(0), "A"): 1800.0,
                       (_ts(3600), "A"): 900.0,
                       (_ts(3600), "B"): 2700.0,
                       (_ts(7200), "B"): 3600.0,
                       (_ts(10800), "B"): 300.0,
                       (_ts(10800), "C"): 2700.0}
        # durations partition the observed span exactly
        assert sum(out.values()) == (230 - 30) * 60.0

    def test_boundary_and_last_sample(self, spark):
        from dtaidistance_spark.functions.timeagg import state_durations
        # next sample exactly on a bucket boundary: no zero-duration
        # row in the next bucket; the last sample contributes nothing
        rows = [("a", _ts(0), "A"), ("a", _ts(3600), "B")]
        df = spark.createDataFrame(
            rows, "series_id string, ts timestamp, state string")
        out = state_durations(df, "1h").collect()
        assert len(out) == 1
        assert (out[0].bucket_ts, out[0].state,
                out[0].dur_s) == (_ts(0), "A", 3600.0)

    def test_brute_parity(self, spark, rng):
        from dtaidistance_spark.functions.timeagg import state_durations
        rows = []
        for s in range(4):
            t = np.cumsum(rng.integers(1, 7000, size=120))
            states = rng.choice(list("XYZ"), size=120)
            rows += [(f"s{s}", _ts(int(ti)), str(st))
                     for ti, st in zip(t, states)]
        got = {(r.series_id, r.bucket_ts, r.state): (r.n, r.dur_s)
               for r in state_durations(
                   spark.createDataFrame(
                       rows, "series_id string, ts timestamp, "
                             "state string"), "1h").collect()}
        want = {}
        pdf = pd.DataFrame(rows, columns=["sid", "ts", "st"])
        for sid, g in pdf.groupby("sid"):
            g = g.sort_values("ts").reset_index(drop=True)
            for i in range(len(g) - 1):
                t0 = g.ts[i].to_pydatetime()
                t1 = g.ts[i + 1].to_pydatetime()
                cur = t0
                while cur < t1:
                    b = cur.replace(minute=0, second=0, microsecond=0)
                    bend = b + dt.timedelta(hours=1)
                    seg = (min(t1, bend) - cur).total_seconds()
                    k = (sid, b, g.st[i])
                    n, d = want.get(k, (0, 0.0))
                    want[k] = (n + 1, d + seg)
                    cur = min(t1, bend)
        assert set(got) == set(want)
        for k in want:
            assert got[k][0] == want[k][0], k
            assert got[k][1] == pytest.approx(want[k][1], abs=1e-6), k


class TestHeartbeatUptime:
    def test_hand_fixture(self, spark):
        from dtaidistance_spark.functions.timeagg import heartbeat_uptime
        # tol 600s: beats at 00:00, 00:05, 00:55, cross-hour 01:59:30.
        # live: [0,300)+[300,900)... no: [0:00,0:05)+[0:05,0:15)+
        # [0:55,1:05) + [1:59:30, 2:09:30) — the cross-boundary
        # intervals split across buckets
        rows = [("a", _ts(0),), ("a", _ts(300),), ("a", _ts(3300),),
                ("a", _ts(7170),)]
        df = spark.createDataFrame(rows, "series_id string, ts timestamp")
        out = {r.bucket_ts: r.uptime_s for r in
               heartbeat_uptime(df, "1h", tolerance_s=600).collect()}
        # bucket 0: [0,300)+[300,900)+[3300,3600) = 300+600+300 = 1200
        # bucket 1: [3600,3900) + [7170,7200) = 300 + 30 = 330
        # bucket 2: [7200,7770) = 570
        assert out == {_ts(0): 1200.0, _ts(3600): 330.0, _ts(7200): 570.0}

    def test_dense_beats_no_double_count(self, spark):
        from dtaidistance_spark.functions.timeagg import heartbeat_uptime
        # 60 beats 1s apart, tol 300: live [0, 59+300) capped per pair,
        # total = 59 + 300 = 359, never 60*300
        rows = [("a", _ts(i)) for i in range(60)]
        df = spark.createDataFrame(rows, "series_id string, ts timestamp")
        out = heartbeat_uptime(df, "1d", tolerance_s=300).collect()
        assert len(out) == 1 and out[0].uptime_s == 359.0

    def test_uptime_bounded_by_bucket(self, spark, rng):
        from dtaidistance_spark.functions.timeagg import heartbeat_uptime
        t = np.cumsum(rng.integers(1, 4000, size=300))
        df = spark.createDataFrame([("a", _ts(int(x))) for x in t],
                                   "series_id string, ts timestamp")
        for r in heartbeat_uptime(df, "1h", tolerance_s=900).collect():
            assert 0 < r.uptime_s <= 3600.0


class TestBruteForceParity:
    def _corpus(self, rng, n_series=6, n=400):
        rows = []
        for s in range(n_series):
            t = np.cumsum(rng.integers(1, 900, size=n))
            vals = np.round(rng.random(size=n) * 100, 2)
            rows += [(f"s{s}", _ts(int(ti)), float(v))
                     for ti, v in zip(t, vals)]
        return rows

    def test_counter_rate_parity(self, spark, rng):
        rows = self._corpus(rng)
        got = {(r.series_id, r.bucket_ts): r for r in
               counter_rate(_df(spark, rows), "1h").collect()}
        pdf = pd.DataFrame(rows, columns=["sid", "ts", "v"])
        for sid, g in pdf.groupby("sid"):
            g = g.sort_values("ts").reset_index(drop=True)
            prev = g.v.shift(1)
            delta = np.where(g.v >= prev, g.v - prev, g.v)
            delta[0] = np.nan
            g["delta"] = delta
            g["bucket"] = g.ts.dt.floor("h")
            for b, gb in g.groupby("bucket"):
                r = got[(sid, b.to_pydatetime())]
                assert r.n == len(gb)
                want = gb.delta.sum(min_count=1)
                if np.isnan(want):
                    assert r.idelta is None
                else:
                    assert r.idelta == pytest.approx(want, abs=1e-6)
                span = (gb.ts.max() - gb.ts.min()).total_seconds()
                if span > 0:
                    assert r.rate_per_s == pytest.approx(
                        round(round(want, 6) / span, 6), abs=2e-6)
                else:
                    assert r.rate_per_s is None

    def test_twa_parity(self, spark, rng):
        rows = self._corpus(rng)
        got = {(r.series_id, r.bucket_ts): r for r in
               time_weighted_avg(_df(spark, rows), "1h").collect()}
        pdf = pd.DataFrame(rows, columns=["sid", "ts", "v"])
        for sid, g in pdf.groupby("sid"):
            g = g.sort_values("ts").reset_index(drop=True)
            g["bucket"] = g.ts.dt.floor("h")
            for b, gb in g.groupby("bucket"):
                r = got[(sid, b.to_pydatetime())]
                assert r.n == len(gb)
                span = (gb.ts.max() - gb.ts.min()).total_seconds()
                if span <= 0:
                    assert r.twa is None
                    continue
                v = gb.v.to_numpy()
                t = gb.ts.astype("int64").to_numpy() / 1e9
                wsum = float(np.sum((v[1:] + v[:-1]) / 2 * np.diff(t)))
                assert r.twa == pytest.approx(
                    round(round(wsum, 6) / span, 6), abs=2e-6)


class TestPlans:
    def test_jvm_only_no_single_partition(self, spark):
        from dtaidistance_spark.functions.timeagg import state_durations
        rows = [("a", _ts(i), float(i)) for i in range(10)]
        srows = spark.createDataFrame(
            [("a", _ts(i), "X") for i in range(10)],
            "series_id string, ts timestamp, state string")
        for out in (counter_rate(_df(spark, rows), "1h"),
                    time_weighted_avg(_df(spark, rows), "1h"),
                    state_durations(srows, "1h")):
            plan = _plan(out)
            for node in PY_EVAL_NODES:
                assert node not in plan, plan
            assert "SinglePartition" not in plan, plan


class TestCandlestick:
    def test_hand_fixture(self, spark):
        from dtaidistance_spark.functions.timeagg import candlestick
        # bucket 0: 3.0 @0, 9.0 @600, 1.0 @1800, 4.0 @3500
        # bucket 1: 7.0 @3600, 2.0 @3900
        rows = [("a", _ts(0), 3.0), ("a", _ts(600), 9.0),
                ("a", _ts(1800), 1.0), ("a", _ts(3500), 4.0),
                ("a", _ts(3600), 7.0), ("a", _ts(3900), 2.0)]
        out = {r.bucket_ts: r for r in
               candlestick(_df(spark, rows), "1h").collect()}
        b0, b1 = out[_ts(0)], out[_ts(3600)]
        assert (b0.n, b0.open, b0.high, b0.low, b0.close) == (4, 3.0, 9.0,
                                                              1.0, 4.0)
        assert (b1.n, b1.open, b1.high, b1.low, b1.close) == (2, 7.0, 7.0,
                                                              2.0, 2.0)

    def test_ts_tie_broken_by_order_col(self, spark):
        from dtaidistance_spark.functions.timeagg import candlestick
        # two samples at the SAME timestamp: event_id decides open/close
        df = spark.createDataFrame(
            [("a", _ts(0), 1, 5.0), ("a", _ts(0), 0, 3.0),
             ("a", _ts(60), 2, 4.0)],
            "series_id string, ts timestamp, event_id int, value double")
        r = candlestick(df, "1h", order_cols=("event_id",)).collect()[0]
        assert (r.n, r.open, r.high, r.low, r.close) == (3, 3.0, 5.0,
                                                         3.0, 4.0)

    def test_brute_parity(self, spark, rng):
        from dtaidistance_spark.functions.timeagg import candlestick
        rows = []
        for s in range(6):
            t = np.cumsum(rng.integers(1, 900, size=400))
            vals = np.round(rng.random(size=400) * 100, 2)
            rows += [(f"s{s}", _ts(int(ti)), float(v))
                     for ti, v in zip(t, vals)]
        got = {(r.series_id, r.bucket_ts): r for r in
               candlestick(_df(spark, rows), "1h").collect()}
        pdf = pd.DataFrame(rows, columns=["sid", "ts", "v"])
        for sid, g in pdf.groupby("sid"):
            g = g.sort_values("ts", kind="stable").reset_index(drop=True)
            g["bucket"] = g.ts.dt.floor("h")
            for b, gb in g.groupby("bucket"):
                r = got[(sid, b.to_pydatetime())]
                assert (r.n, r.open, r.high, r.low, r.close) == (
                    len(gb), gb.v.iloc[0], gb.v.max(), gb.v.min(),
                    gb.v.iloc[-1])

    def test_plan_single_hash_agg_no_window(self, spark):
        from dtaidistance_spark.functions.timeagg import candlestick
        rows = [("a", _ts(i), float(i)) for i in range(10)]
        plan = _plan(candlestick(_df(spark, rows), "1h"))
        for node in PY_EVAL_NODES:
            assert node not in plan, plan
        assert "SinglePartition" not in plan, plan
        assert "Window" not in plan, plan  # pure hash-agg, no exchange

    def test_packed_key_domain_edges_kept(self, spark):
        """ts = epoch and order 0 / 10^18 - 1 are inside the packed
        key's domain and still order exactly."""
        from dtaidistance_spark.functions.timeagg import candlestick
        epoch = dt.datetime(1970, 1, 1)
        df = spark.createDataFrame(
            [("a", epoch, 10 ** 18 - 1, 5.0), ("a", epoch, 0, 3.0)],
            "series_id string, ts timestamp, event_id long, value double")
        r = candlestick(df, "1h", order_cols=("event_id",),
                        pack_key=True).collect()[0]
        assert (r.n, r.open, r.close) == (2, 3.0, 5.0)

    @pytest.mark.parametrize("ts, order", [
        (dt.datetime(1960, 1, 1), 1),    # pre-epoch: would be a NULL key
        (T0, 10 ** 18),                  # 19 digits: lpad would truncate
        (T0, -1),
    ])
    def test_packed_key_out_of_domain_raises(self, spark, ts, order):
        from dtaidistance_spark.functions.timeagg import (candlestick,
                                                          packed_order_key)
        df = spark.createDataFrame(
            [("a", T0, 0, 1.0), ("a", ts, order, 2.0)],
            "series_id string, ts timestamp, event_id long, value double")
        with pytest.raises(Exception, match="packed_order_key"):
            df.select(packed_order_key("ts", "event_id")).collect()
        with pytest.raises(Exception, match="packed_order_key"):
            candlestick(df, "1h", order_cols=("event_id",),
                        pack_key=True).collect()


class TestStateTransitions:
    def test_hand_fixture_counts_and_probs(self, spark):
        from dtaidistance_spark.functions.timeagg import state_transitions
        seq = ["a", "b", "a", "b", "b", "c"]   # ab, ba, ab, bb, bc
        rows = [("s", _ts(i * 10), st) for i, st in enumerate(seq)]
        df = spark.createDataFrame(rows, ["series_id", "ts", "state"])
        got = (state_transitions(df).toPandas()
               .set_index(["from_state", "to_state"]).sort_index())
        assert got.loc[("a", "b"), "cnt"] == 2
        assert got.loc[("a", "b"), "prob"] == 1.0
        # pairs: (a,b),(b,a),(a,b),(b,b),(b,c) -> from-b row = a/b/c
        # once each, so P(.|b) = 1/3
        for to in "abc":
            assert got.loc[("b", to), "cnt"] == 1
            assert got.loc[("b", to), "prob"] == 1 / 3

    def test_gap_rule_drops_cross_session_pairs(self, spark):
        from dtaidistance_spark.functions.timeagg import state_transitions
        rows = [("s", _ts(0), "a"), ("s", _ts(10), "b"),
                ("s", _ts(5000), "c")]          # b->c gap 4990s
        df = spark.createDataFrame(rows, ["series_id", "ts", "state"])
        full = state_transitions(df).toPandas()
        assert len(full) == 2
        gated = state_transitions(df, max_gap_s=3600).toPandas()
        assert len(gated) == 1
        assert gated.iloc[0]["from_state"] == "a"
        assert gated.iloc[0]["prob"] == 1.0

    def test_matches_pandas_on_random_streams(self, spark):
        from dtaidistance_spark.functions.timeagg import state_transitions
        rng = np.random.default_rng(5)
        rows = []
        for s in range(6):
            t = 0
            for i in range(rng.integers(5, 60)):
                t += int(rng.integers(1, 100))
                rows.append((f"s{s}", _ts(t),
                             "abcd"[rng.integers(0, 4)], i))
        df = spark.createDataFrame(
            rows, ["series_id", "ts", "state", "eid"])
        got = state_transitions(df, order_cols=("eid",)).toPandas()
        pdf = pd.DataFrame(rows, columns=["series_id", "ts", "state",
                                          "eid"])
        pdf = pdf.sort_values(["series_id", "ts", "eid"])
        pdf["to"] = pdf.groupby("series_id")["state"].shift(-1)
        ref = (pdf.dropna(subset=["to"])
               .groupby(["series_id", "state", "to"]).size()
               .rename("cnt").reset_index())
        tot = ref.groupby(["series_id", "state"])["cnt"].transform("sum")
        ref["prob"] = ref["cnt"] / tot
        m = got.merge(ref, left_on=["series_id", "from_state",
                                    "to_state"],
                      right_on=["series_id", "state", "to"])
        assert len(m) == len(got) == len(ref)
        assert (m["cnt_x"] == m["cnt_y"]).all()
        assert (m["prob_x"] == m["prob_y"]).all()


class TestFunnelConversion:
    def test_hand_fixture(self, spark):
        from dtaidistance_spark.functions.timeagg import funnel_conversion
        rows = [
            # u1: full funnel a -> b -> c in order
            ("u1", _ts(0), "a"), ("u1", _ts(10), "b"), ("u1", _ts(20), "c"),
            # u2: a then c BEFORE b -> reaches b, c only after b? c at 5
            # precedes b at 30 -> b reached at 30, no c after 30
            ("u2", _ts(0), "a"), ("u2", _ts(5), "c"), ("u2", _ts(30), "b"),
            # u3: a only
            ("u3", _ts(0), "a"),
            # u4: never does a -> not in funnel despite b, c
            ("u4", _ts(0), "b"), ("u4", _ts(1), "c"),
        ]
        df = spark.createDataFrame(rows, ["series_id", "ts", "state"])
        got = (funnel_conversion(df, ["a", "b", "c"]).toPandas()
               .set_index("step_idx").sort_index())
        assert list(got["n_reached"]) == [3, 2, 1]
        assert got.loc[0, "rate_from_start"] == 1.0
        assert got.loc[1, "rate_from_start"] == 2 / 3
        assert got.loc[2, "rate_from_start"] == 1 / 3
        assert got.loc[2, "rate_from_prev"] == 1 / 2

    def test_equal_timestamp_counts(self, spark):
        from dtaidistance_spark.functions.timeagg import funnel_conversion
        rows = [("u", _ts(0), "a"), ("u", _ts(0), "b")]   # same instant
        df = spark.createDataFrame(rows, ["series_id", "ts", "state"])
        got = (funnel_conversion(df, ["a", "b"]).toPandas()
               .set_index("step_idx"))
        assert got.loc[1, "n_reached"] == 1        # ts >= prev is >=

    def test_conversion_window(self, spark):
        from dtaidistance_spark.functions.timeagg import funnel_conversion
        rows = [("u1", _ts(0), "a"), ("u1", _ts(50), "b"),
                ("u2", _ts(0), "a"), ("u2", _ts(5000), "b")]
        df = spark.createDataFrame(rows, ["series_id", "ts", "state"])
        got = (funnel_conversion(df, ["a", "b"], within_s=3600)
               .toPandas().set_index("step_idx"))
        assert got.loc[1, "n_reached"] == 1        # u2 outside window

    def test_matches_pandas_on_random_streams(self, spark):
        from dtaidistance_spark.functions.timeagg import funnel_conversion
        rng = np.random.default_rng(9)
        rows = []
        for u in range(60):
            t = 0
            for _ in range(rng.integers(2, 15)):
                t += int(rng.integers(1, 500))
                rows.append((f"u{u}", _ts(t), "abc"[rng.integers(0, 3)]))
        df = spark.createDataFrame(rows, ["series_id", "ts", "state"])
        got = (funnel_conversion(df, ["a", "b", "c"]).toPandas()
               .set_index("step_idx"))
        # reference: per-user sequential min-ts >= prev
        pdf = pd.DataFrame(rows, columns=["series_id", "ts", "state"])
        n = [0, 0, 0]
        for _, g in pdf.groupby("series_id"):
            prev = None
            for i, s in enumerate("abc"):
                c = g[(g["state"] == s)]
                if prev is not None:
                    c = c[c["ts"] >= prev]
                if len(c) == 0:
                    break
                prev = c["ts"].min()
                n[i] += 1
        assert list(got["n_reached"]) == n


class TestTransitionLatency:
    def test_hand_fixture(self, spark):
        from dtaidistance_spark.functions.timeagg import transition_latency
        # a->b gaps: 10, 30, 20 (odd n: median 20); b->a gap: 5
        rows = [("u1", _ts(0), "a"), ("u1", _ts(10), "b"),
                ("u1", _ts(15), "a"), ("u1", _ts(45), "b"),
                ("u2", _ts(0), "a"), ("u2", _ts(20), "b")]
        df = spark.createDataFrame(rows, ["series_id", "ts", "state"])
        got = (transition_latency(df).toPandas()
               .set_index(["from_state", "to_state"]))
        ab = got.loc[("a", "b")]
        assert ab["n"] == 3
        assert ab["avg_gap_s"] == 20.0
        assert ab["p50_gap_s"] == 20.0
        ba = got.loc[("b", "a")]
        assert ba["n"] == 1 and ba["p50_gap_s"] == 5.0

    def test_even_median_is_exact_mid_average(self, spark):
        from dtaidistance_spark.functions.timeagg import transition_latency
        # a->b gaps 10, 20, 30, 100 -> median (20+30)/2 = 25
        rows = []
        t = 0
        for g in [10, 20, 30, 100]:
            rows += [(f"u{g}", _ts(t), "a"), (f"u{g}", _ts(t + g), "b")]
            t += 1000
        df = spark.createDataFrame(rows, ["series_id", "ts", "state"])
        got = (transition_latency(df).toPandas()
               .set_index(["from_state", "to_state"]))
        assert got.loc[("a", "b"), "p50_gap_s"] == 25.0
        assert got.loc[("a", "b"), "avg_gap_s"] == 40.0

    def test_matches_pandas_on_random_streams(self, spark):
        from dtaidistance_spark.functions.timeagg import transition_latency
        rng = np.random.default_rng(29)
        rows = []
        for u in range(8):
            t = 0
            for i in range(rng.integers(10, 40)):
                t += int(rng.integers(1, 300))
                rows.append((f"u{u}", _ts(t), "ab"[rng.integers(0, 2)], i))
        df = spark.createDataFrame(rows,
                                   ["series_id", "ts", "state", "eid"])
        got = (transition_latency(df, order_cols=("eid",)).toPandas()
               .set_index(["from_state", "to_state"]).sort_index())
        pdf = (pd.DataFrame(rows,
                            columns=["sid", "ts", "st", "eid"])
               .sort_values(["sid", "ts", "eid"]))
        pdf["to"] = pdf.groupby("sid")["st"].shift(-1)
        pdf["gap"] = (pdf.groupby("sid")["ts"].shift(-1)
                      - pdf["ts"]).dt.total_seconds()
        ref = pdf.dropna(subset=["to"])
        for (f_, t_), g in ref.groupby(["st", "to"]):
            assert got.loc[(f_, t_), "n"] == len(g)
            np.testing.assert_allclose(got.loc[(f_, t_), "avg_gap_s"],
                                       g["gap"].mean(), rtol=1e-12)
            np.testing.assert_allclose(got.loc[(f_, t_), "p50_gap_s"],
                                       g["gap"].median(), rtol=1e-12)


class TestSloBurnRate:
    def test_hand_fixture_multiwindow(self, spark):
        from dtaidistance_spark.functions.timeagg import slo_burn_rate
        # slo 0.9 -> budget 0.1; hourly (good, bad):
        # quiet 9/1 (burn 1.0), incident hours 5/5 (burn 5.0)
        rows = []
        for i in range(12):
            g, b = (5, 5) if 6 <= i <= 8 else (9, 1)
            rows.append((i, g, b))
        df = spark.createDataFrame(rows, ["idx", "good", "bad"])
        got = (slo_burn_rate(df, slo=0.9, long_window=3, short_window=1,
                             threshold=2.0).toPandas()
               .set_index("idx").sort_index())
        # short burn fires in incident hours only; expectations
        # computed with the SAME op tree (budget = 1.0 - slo is not
        # exactly 0.1 in IEEE)
        budget = 1.0 - 0.9
        assert got.loc[6, "burn_short"] == (5 / 10) / budget
        assert got.loc[5, "burn_short"] == (1 / 10) / budget
        import numpy as np
        np.testing.assert_allclose(got.loc[6, "burn_long"],
                                   (7 / 30) / budget)
        # alert requires BOTH windows over threshold: hour 6 long
        # 2.33 > 2 and short 5 > 2 -> alert; hour 9 (incident over,
        # long still hot 11/30/0.1 = 3.67 but short back to 1) -> no
        assert bool(got.loc[6, "alert"])
        assert got.loc[9, "burn_long"] > 2.0
        assert not bool(got.loc[9, "alert"])
        assert not got.loc[[0, 1, 2, 3, 4, 5], "alert"].any()

    def test_range_window_respects_gaps(self, spark):
        from dtaidistance_spark.functions.timeagg import slo_burn_rate
        # buckets 0, 1, 10: the long=3 RANGE window at idx 10 must NOT
        # reach back to idx 1 (a ROWS frame would)
        rows = [(0, 0, 10), (1, 0, 10), (10, 10, 0)]
        df = spark.createDataFrame(rows, ["idx", "good", "bad"])
        got = (slo_burn_rate(df, slo=0.9, long_window=3, short_window=1)
               .toPandas().set_index("idx"))
        budget = 1.0 - 0.9
        assert got.loc[10, "burn_long"] == 0.0     # only its own bucket
        assert got.loc[1, "burn_long"] == 1.0 / budget   # 20/20/budget

    def test_fleet_partitioning(self, spark):
        from dtaidistance_spark.functions.timeagg import slo_burn_rate
        rows = [("svc_a", 0, 0, 10), ("svc_b", 0, 10, 0)]
        df = spark.createDataFrame(rows, ["svc", "idx", "good", "bad"])
        got = (slo_burn_rate(df, slo=0.9, series_col="svc")
               .toPandas().set_index("svc"))
        assert got.loc["svc_a", "burn_short"] == 1.0 / (1.0 - 0.9)
        assert got.loc["svc_b", "burn_short"] == 0.0


class TestOutageIntervals:
    def test_hand_fixture_complement_of_uptime(self, spark):
        from dtaidistance_spark.functions.timeagg import (
            heartbeat_uptime, outage_intervals)
        # beats at 0, 100, 700, 800 with tolerance 300:
        # outage = [100+300, 700) -> 300 s
        rows = [("a", _ts(t), 0.0) for t in (0, 100, 700, 800)]
        df = _df(spark, rows)
        got = outage_intervals(df, tolerance_s=300).toPandas()
        assert len(got) == 1
        assert got.iloc[0]["outage_start"] == _ts(400)
        assert got.iloc[0]["outage_end"] == _ts(700)
        assert got.iloc[0]["outage_s"] == 300.0
        # uptime + outage partition the observed span + final tolerance
        up = (heartbeat_uptime(df, "1d", tolerance_s=300).toPandas()
              ["uptime_s"].sum())
        span_plus_tol = 800 + 300
        assert up + got["outage_s"].sum() == span_plus_tol

    def test_no_gap_no_rows(self, spark):
        from dtaidistance_spark.functions.timeagg import outage_intervals
        rows = [("a", _ts(i * 100), 0.0) for i in range(10)]
        got = outage_intervals(_df(spark, rows), tolerance_s=300)
        assert got.count() == 0

    def test_boundary_gap_not_an_outage(self, spark):
        from dtaidistance_spark.functions.timeagg import outage_intervals
        # gap EXACTLY tolerance: still covered (strict >)
        rows = [("a", _ts(0), 0.0), ("a", _ts(300), 0.0),
                ("a", _ts(601), 0.0)]
        got = outage_intervals(_df(spark, rows), tolerance_s=300) \
            .toPandas()
        assert len(got) == 1                  # only the 301 s gap
        assert got.iloc[0]["outage_s"] == 1.0
