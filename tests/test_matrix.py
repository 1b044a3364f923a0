"""Distributed distance_matrix ↔ reference parity (block semantics,
condensed ordering, golden fixtures from reference tests/test_dtw.py)."""

import math

import numpy as np
import pandas as pd
import pytest

from dtaidistance_spark.kernels.dtw import DtwSettings, dtw_distance
from dtaidistance_spark.kernels.extras import weighted_warping_paths
from dtaidistance_spark.operators import matrix as M
from dtaidistance_spark.operators.matrix import (
    PairSpace, condensed_index, distance_matrix, distance_matrix_cross,
    distance_matrix_weighted, to_condensed, to_matrix, with_index,
)

S6 = [
    [0.0, 0, 1, 2, 1, 0, 1, 0, 0],
    [0.0, 1, 2, 0, 0, 0, 0, 0, 0],
    [1.0, 2, 0, 0, 0, 0, 0, 1, 1],
    [0.0, 0, 1, 2, 1, 0, 1, 0, 0],
    [0.0, 1, 2, 0, 0, 0, 0, 0, 0],
    [1.0, 2, 0, 0, 0, 0, 0, 1, 1],
]


def _series_df(spark, series):
    rows = [(i, [float(x) for x in s]) for i, s in enumerate(series)]
    return spark.createDataFrame(rows, "i long, values array<double>")


def _shuffled(spark, run):
    """Run ``run()`` with the broadcast gate closed (chunk-pair shuffle)."""
    spark.conf.set("spark.dtaidistance.broadcastMatrixMaxBytes", "0")
    try:
        return run()
    finally:
        spark.conf.unset("spark.dtaidistance.broadcastMatrixMaxBytes")


class TestCondensedIndex:
    def test_golden_indices(self):
        # reference tests/test_dtw.py:36-50
        assert condensed_index(np.array([3]), np.array([2]), 6)[0] == 9
        assert condensed_index(np.array([0]), np.array([1]), 6)[0] == 0
        assert condensed_index(np.array([4]), np.array([5]), 6)[0] == 14

    def test_matches_reference(self, ref_dtw):
        n = 7
        for a in range(n):
            for b in range(n):
                if a == b:
                    continue
                got = int(condensed_index(np.array([a]), np.array([b]), n)[0])
                assert got == ref_dtw.distance_array_index(a, b, n)


class TestDistanceMatrix:
    def test_full_matrix_golden(self, spark, ref_dtw):
        df = _series_df(spark, S6)
        dist = distance_matrix(df, chunk_size=2)
        m = to_matrix(dist, 6)
        expected = ref_dtw.distance_matrix(S6)
        for i in range(6):
            for j in range(6):
                if math.isinf(expected[i][j]):
                    assert math.isinf(m[i][j]) or i == j
                else:
                    assert m[i][j] == pytest.approx(expected[i][j], rel=1e-15)

    def test_condensed_ordering(self, spark, ref_dtw):
        df = _series_df(spark, S6)
        cond = to_condensed(distance_matrix(df, chunk_size=4), 6)
        expected = ref_dtw.distance_matrix(S6, compact=True)
        np.testing.assert_allclose(cond, np.asarray(expected), rtol=1e-15)

    def test_block_golden(self, spark, ref_dtw):
        # reference tests/test_dtw.py:171-191
        block = ((1, 4), (3, 5))
        df = _series_df(spark, S6)
        dist = distance_matrix(df, block=block, chunk_size=2)
        m = to_matrix(dist, 6, only_triu=True)
        expected = ref_dtw.distance_matrix(S6, block=block, only_triu=True)
        np.testing.assert_allclose(m, np.asarray(expected), rtol=1e-14)

    def test_block_not_triu(self, spark, ref_dtw):
        block = ((1, 4), (0, 5), False)
        df = _series_df(spark, S6)
        pdf = distance_matrix(df, block=block, chunk_size=3).toPandas()
        # full rectangle: rows 1..3 × cols 0..4, including i >= j
        assert len(pdf) == 3 * 5
        for row in pdf.itertuples(index=False):
            expected = ref_dtw.distance(S6[row.i], S6[row.j])
            assert row.d == pytest.approx(expected, rel=1e-14)

    def test_random_ragged_vs_reference(self, spark, ref_dtw, rng):
        series = [list(rng.normal(size=int(rng.choice([8, 12, 17])))) for _ in range(15)]
        df = _series_df(spark, series)
        cond = to_condensed(distance_matrix(df, chunk_size=4), 15)
        expected = np.asarray(ref_dtw.distance_matrix(series, compact=True))
        np.testing.assert_allclose(cond, expected, rtol=1e-14)

    def test_settings_window_psi(self, spark, ref_dtw, rng):
        series = [list(rng.normal(size=12)) for _ in range(8)]
        df = _series_df(spark, series)
        st = DtwSettings(window=3, psi=1)
        cond = to_condensed(distance_matrix(df, settings=st, chunk_size=3), 8)
        expected = np.asarray(ref_dtw.distance_matrix(series, compact=True,
                                                      window=3, psi=1))
        np.testing.assert_allclose(cond, expected, rtol=1e-14)

    def test_max_dist_lb_prefilter(self, spark, ref_dtw, rng):
        series = [list(rng.normal(size=16)) for _ in range(10)]
        df = _series_df(spark, series)
        st = DtwSettings(max_dist=2.0, window=4)
        cond = to_condensed(distance_matrix(df, settings=st, chunk_size=5), 10)
        expected = np.asarray(ref_dtw.distance_matrix(series, compact=True,
                                                      max_dist=2.0, window=4))
        finite = np.isfinite(expected)
        # pruned pairs are inf on both sides; finite pairs match exactly
        np.testing.assert_array_equal(np.isfinite(cond), finite)
        np.testing.assert_allclose(cond[finite], expected[finite], rtol=1e-14)


class TestBlockedPath:
    """Force the blocked-shuffle physical strategy (small inputs
    auto-route to the broadcast strategy) and verify identical results."""

    def test_blocked_equals_broadcast(self, spark, ref_dtw, rng):
        series = [list(rng.normal(size=12)) for _ in range(15)]
        df = _series_df(spark, series)
        spark.conf.set("spark.dtaidistance.broadcastMatrixMaxBytes", "0")
        try:
            cond = to_condensed(distance_matrix(df, chunk_size=4), 15)
        finally:
            spark.conf.unset("spark.dtaidistance.broadcastMatrixMaxBytes")
        expected = np.asarray(ref_dtw.distance_matrix(series, compact=True))
        np.testing.assert_allclose(cond, expected, rtol=1e-14)

    def test_blocked_block_semantics(self, spark, ref_dtw):
        block = ((1, 4), (3, 5))
        df = _series_df(spark, S6)
        spark.conf.set("spark.dtaidistance.broadcastMatrixMaxBytes", "0")
        try:
            m = to_matrix(distance_matrix(df, block=block, chunk_size=2), 6,
                          only_triu=True)
        finally:
            spark.conf.unset("spark.dtaidistance.broadcastMatrixMaxBytes")
        expected = ref_dtw.distance_matrix(S6, block=block, only_triu=True)
        np.testing.assert_allclose(m, np.asarray(expected), rtol=1e-14)


class TestCostAwareScheduling:
    """Cost-weighted guided ranges + length-balanced chunks for ragged
    corpora (VERDICT r4 item 4): the schedule equalizes estimated
    kernel cost len_i·len_j, outputs stay bit-identical."""

    def test_cost_ranges_partition_and_guided_profile(self):
        from dtaidistance_spark.operators.matrix import (
            _guided_ranges_cost, _triu_cost_fn)

        rng = np.random.default_rng(3)
        lens = (5 + rng.pareto(1.5, 200) * 40).astype(np.int64)  # power law
        n = len(lens)
        n_pairs = n * (n - 1) // 2
        cost_upto, total = _triu_cost_fn(lens)
        par = 32
        ranges = _guided_ranges_cost(cost_upto, n_pairs, total, par)
        # exact partition of the linear pair space
        assert ranges[0][0] == 0 and ranges[-1][1] == n_pairs
        assert all(a[1] == b[0] for a, b in zip(ranges, ranges[1:]))
        assert all(lo < hi for lo, hi in ranges)
        # guided profile in COST: each range holds at most the guided
        # quantum of the cost remaining at its start, up to one pair of
        # binary-search overshoot
        sl = np.sort(lens)
        slack = float(sl[-1] * sl[-2])  # max possible single-pair cost
        floor_c = max(total / n_pairs, total / (par * 24))
        for lo, hi in ranges:
            c_lo, c_hi = cost_upto(lo), cost_upto(hi)
            quantum = max(floor_c, (total - c_lo) / (2 * par))
            assert c_hi - c_lo <= quantum + slack, (lo, hi)

    @pytest.mark.parametrize("n,par", [(2, 1), (3, 4), (150, 16),
                                       (500, 4), (1001, 32), (15000, 4)])
    def test_equal_length_schedule_closed_form(self, n, par):
        # equal lengths: the cost schedule is the count-guided one, range
        # size max(ceil(P/(24 par)), ceil((P-lo)/(4 par))) over P pairs
        ids = np.arange(n, dtype=np.int64)
        got = PairSpace(ids).ranges(ids, np.full(n, 37), par)
        P = n * (n - 1) // 2
        want, lo = [], 0
        while lo < P:
            hi = min(P, lo + max(-(-P // (24 * par)),
                                 -(-(P - lo) // (4 * par))))
            want.append((lo, hi))
            lo = hi
        assert got == want
        if (n, par) == (500, 4):
            assert len(got) == 44

    def test_broadcast_vs_shuffle_bit_identical(self, spark, rng):
        # same ragged corpus through both strategies: the cost-weighted
        # range schedule and the length-balanced chunk groups only move
        # work, so every d is bitwise equal
        series = [list(rng.normal(size=int(n)))
                  for n in rng.integers(6, 60, 20)]
        df = _series_df(spark, series)
        a = distance_matrix(df).toPandas().sort_values(["i", "j"]) \
            .reset_index(drop=True)
        b = _shuffled(spark, lambda: distance_matrix(df).toPandas()) \
            .sort_values(["i", "j"]).reset_index(drop=True)
        assert len(a) == 20 * 19 // 2
        assert a.equals(b)

    def test_ragged_shuffle_path_matches_reference(self, spark, ref_dtw,
                                                   rng):
        # force the chunked-shuffle strategy on a ragged corpus: chunk
        # ids come from the length-balanced histogram path
        series = [list(rng.normal(size=int(n)))
                  for n in rng.integers(6, 80, 18)]
        df = _series_df(spark, series)
        spark.conf.set("spark.dtaidistance.broadcastMatrixMaxBytes", "0")
        try:
            cond = to_condensed(distance_matrix(df, chunk_size=4), 18)
        finally:
            spark.conf.unset("spark.dtaidistance.broadcastMatrixMaxBytes")
        expected = np.asarray(ref_dtw.distance_matrix(series, compact=True))
        np.testing.assert_allclose(cond, expected, rtol=1e-14)

    def test_ragged_block_rectangular_cost_ranges(self, spark, ref_dtw,
                                                  rng):
        # broadcast strategy + block restriction + ragged lengths: the
        # rectangular cost function drives the ranges
        series = [list(rng.normal(size=int(n)))
                  for n in rng.integers(6, 60, 12)]
        block = ((0, 7), (4, 12))
        df = _series_df(spark, series)
        m = to_matrix(distance_matrix(df, block=block), 12, only_triu=True)
        expected = ref_dtw.distance_matrix(series, block=block,
                                           only_triu=True)
        np.testing.assert_allclose(m, np.asarray(expected), rtol=1e-14)


class TestCross:
    def test_cross_matrix(self, spark, ref_dtw, rng):
        corpus = [list(rng.normal(size=10)) for _ in range(12)]
        queries = [list(rng.normal(size=10)) for _ in range(3)]
        cdf = _series_df(spark, corpus)
        qdf = _series_df(spark, queries).withColumnRenamed("i", "qi") \
            .withColumnRenamed("values", "qvalues")
        qdf = qdf.selectExpr("qi as i", "qvalues as values")
        out = distance_matrix_cross(qdf, cdf).toPandas()
        assert len(out) == 36
        for row in out.itertuples(index=False):
            expected = ref_dtw.distance(queries[row.qi], corpus[row.i])
            assert row.d == pytest.approx(expected, rel=1e-14)


# block → membership of pair (i, j) in the expected pair set
SPACES = {
    "full": (None, lambda i, j: i < j),
    "block_triu": (((1, 9), (4, 13)),
                   lambda i, j: 1 <= i < 9 and 4 <= j < 13 and i < j),
    "block_rect": (((1, 9), (4, 13), False),
                   lambda i, j: 1 <= i < 9 and 4 <= j < 13),
}


def _corpus(rng, n, ragged, ndim=False):
    lens = rng.integers(6, 30, n) if ragged else np.full(n, 16)
    return [rng.normal(size=(int(L), 3) if ndim else int(L)) for L in lens]


def _corpus_df(spark, series):
    elem = "array<double>" if series[0].ndim == 1 else "array<array<double>>"
    return spark.createDataFrame([(i, s.tolist()) for i, s in
                                  enumerate(series)], f"i long, values {elem}")


class TestExecutor:
    """Reference-free checks of the pair-space executors: each strategy
    returns exactly the expected pair set, and every ``d`` equals the
    per-pair kernel on the same two series."""

    @pytest.mark.parametrize("ndim", [False, True], ids=["1d", "nd"])
    @pytest.mark.parametrize("ragged", [False, True], ids=["equal", "ragged"])
    @pytest.mark.parametrize("space", list(SPACES))
    @pytest.mark.parametrize("shuffle", [False, True],
                             ids=["broadcast", "shuffle"])
    def test_pairs_and_distances(self, spark, shuffle, space, ragged, ndim):
        series = _corpus(np.random.default_rng(7), 14, ragged, ndim)
        block, member = SPACES[space]
        st = DtwSettings(window=5)
        df = _corpus_df(spark, series)
        run = lambda: distance_matrix(df, settings=st, block=block,
                                      chunk_size=4).toPandas()
        pdf = _shuffled(spark, run) if shuffle else run()
        got = list(zip(pdf["i"], pdf["j"]))
        assert len(got) == len(set(got))
        assert set(got) == {(i, j) for i in range(14) for j in range(14)
                            if member(i, j)}
        for r in pdf.itertuples(index=False):
            exp = dtw_distance(series[r.i], series[r.j], settings=st)
            if ndim:
                assert r.d == pytest.approx(exp, rel=1e-12)
            else:
                assert r.d == exp

    @pytest.mark.parametrize("st", [DtwSettings(window=4, max_dist=3.0),
                                    DtwSettings(window=4, psi=2,
                                                max_dist=3.0)],
                             ids=["lb", "psi"])
    def test_max_dist_matches_kernel(self, spark, st):
        # every third series starts with a spike: LB_Keogh prunes the
        # pairs where it leads (the kernel puts them at inf too), but
        # psi=2 skips the spike, so there LB_Keogh is no lower bound
        rng = np.random.default_rng(11)
        base = np.sin(np.linspace(0, 3, 16))
        series = [base + 0.05 * rng.normal(size=16) for _ in range(12)]
        for s in series[::3]:
            s[:2] += 10
        pdf = distance_matrix(_corpus_df(spark, series),
                              settings=st).toPandas()
        assert len(pdf) == 12 * 11 // 2
        for r in pdf.itertuples(index=False):
            assert r.d == dtw_distance(series[r.i], series[r.j], settings=st)
        assert np.isinf(pdf["d"]).any() == (st.psi is None)

    @pytest.mark.parametrize("shuffle", [False, True],
                             ids=["broadcast", "shuffle"])
    def test_weighted(self, spark, shuffle):
        rng = np.random.default_rng(5)
        n, L = 7, 20
        S = rng.normal(0, 1, (n, L))
        W = np.sort(np.abs(rng.normal(0.5, 0.2, (n, L, 8))), axis=2)
        df = spark.createDataFrame(
            [(i, S[i].tolist(), W[i].tolist()) for i in range(n)],
            "i long, values array<double>, weights array<array<double>>")
        run = lambda: distance_matrix_weighted(df, window=6).toPandas()
        pdf = _shuffled(spark, run) if shuffle else run()
        got = list(zip(pdf["i"], pdf["j"]))
        assert sorted(got) == [(i, j) for i in range(n)
                               for j in range(i + 1, n)]
        for r in pdf.itertuples(index=False):
            exp, _ = weighted_warping_paths(S[r.i], S[r.j], weights=W[r.i],
                                            window=6)
            assert r.d == pytest.approx(exp, rel=1e-12)

    @pytest.mark.parametrize("ragged", [False, True], ids=["equal", "ragged"])
    def test_cross(self, spark, ragged):
        rng = np.random.default_rng(9)
        corpus = _corpus(rng, 11, ragged)
        queries = _corpus(rng, 3, ragged)
        st = DtwSettings(window=6)
        pdf = distance_matrix_cross(_corpus_df(spark, queries),
                                    _corpus_df(spark, corpus),
                                    settings=st).toPandas()
        got = list(zip(pdf["qi"], pdf["i"]))
        assert sorted(got) == [(q, i) for q in range(3) for i in range(11)]
        for r in pdf.itertuples(index=False):
            assert r.d == dtw_distance(queries[r.qi], corpus[r.i],
                                       settings=st)


class TestSubRanges:
    @pytest.mark.parametrize("space", [PairSpace(np.arange(120)),
                                       PairSpace(np.arange(10, 90),
                                                 np.arange(40, 130))])
    def test_range_above_cap_yields_bounded_frames(self, monkeypatch,
                                                   space):
        monkeypatch.setattr(M, "SUBRANGE_PAIRS", 1000)
        rng = np.random.default_rng(5)
        vals = {i: rng.normal(size=20) for i in range(130)}
        st = DtwSettings(window=4)
        kernel = lambda ii, jj: M._compute_pairs(ii, jj, vals, st)
        frames = list(space.frames(100, 6900, kernel))
        assert len(frames) == 7
        assert all(len(f) <= 1000 for f in frames)
        oi, oj, od = kernel(*space.unrank(100, 6900))
        single = pd.DataFrame({"i": oi, "j": oj, "d": od})
        assert pd.concat(frames, ignore_index=True).equals(single)


class TestCorpusCache:
    def _pairs(self, vals, cache):
        ii, jj = np.triu_indices(len(vals), k=1)
        return M._compute_pairs(ii, jj, vals, DtwSettings(window=3),
                                cache=cache)

    def test_non_broadcast_dict_not_cached(self, monkeypatch):
        monkeypatch.setattr(M, "_CORPUS_CACHE", {})
        rng = np.random.default_rng(1)
        self._pairs({i: rng.normal(size=16) for i in range(9)}, False)
        assert M._CORPUS_CACHE == {}

    def test_broadcast_dict_cached_and_evicted_by_bytes(self, monkeypatch):
        monkeypatch.setattr(M, "_CORPUS_CACHE", {})
        monkeypatch.setattr(M, "_CORPUS_CACHE_BYTES", 9 * 16 * 8 * 3 // 2)
        rng = np.random.default_rng(1)
        a = {i: rng.normal(size=16) for i in range(9)}
        b = {i: rng.normal(size=16) for i in range(9)}
        da = self._pairs(a, True)[2]
        assert [v[0] for v in M._CORPUS_CACHE.values()] == [a]
        assert np.array_equal(self._pairs(a, True)[2], da)
        self._pairs(b, True)
        assert [v[0] for v in M._CORPUS_CACHE.values()] == [b]


class TestWithIndex:
    def test_dense_indices(self, spark):
        df = spark.createDataFrame(
            [("c", [1.0]), ("a", [2.0]), ("b", [3.0])],
            "series_id string, values array<double>")
        out = with_index(df).orderBy("i").toPandas()
        assert list(out["i"]) == [0, 1, 2]
        assert list(out["series_id"]) == ["a", "b", "c"]

    def test_many_partitions_no_global_exchange(self, spark):
        """Dense global indices must survive a 32-partition input, and the
        plan must contain no single-partition exchange (round-1 regression:
        global row_number)."""
        n = 500
        rows = [(f"s{k:05d}", [float(k)]) for k in range(n)]
        df = spark.createDataFrame(
            rows, "series_id string, values array<double>").repartition(32)
        idx = with_index(df)
        plan = idx._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
        out = idx.orderBy("i").toPandas()
        assert list(out["i"]) == list(range(n))
        assert list(out["series_id"]) == sorted(r[0] for r in rows)

    def test_matrix_golden_with_32_partition_input(self, spark, ref_dtw):
        series = [np.asarray(s, dtype=np.float64) for s in S6]
        df = spark.createDataFrame(
            [(f"id{i}", [float(x) for x in s]) for i, s in enumerate(series)],
            "series_id string, values array<double>").repartition(32)
        idx = with_index(df, order_col="series_id")
        got = to_matrix(distance_matrix(idx), len(series), only_triu=True)
        exp = ref_dtw.distance_matrix(series)
        iu = np.triu_indices(len(series), k=1)
        assert np.allclose(got[iu], exp[iu], rtol=1e-14)


class TestTriuUnrank:
    def test_inverse_of_condensed(self):
        from dtaidistance_spark.operators.matrix import _triu_unrank
        for n in (2, 3, 7, 64, 501):
            p = np.arange(n * (n - 1) // 2, dtype=np.int64)
            i, j = _triu_unrank(p, n)
            ei, ej = np.triu_indices(n, k=1)
            assert np.array_equal(i, ei) and np.array_equal(j, ej)
            assert np.array_equal(condensed_index(i, j, n), p)
