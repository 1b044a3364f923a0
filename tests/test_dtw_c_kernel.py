"""The C banded-DTW kernel (kernels/_dtw_kernel.c) must be bit-identical
to the numpy anti-diagonal path it replaces — every setting combination,
both inner distances, ragged shapes, degenerate lengths."""

import numpy as np
import pytest

from dtaidistance_spark.kernels import dtw as K
from dtaidistance_spark.kernels import _dtwc


def _numpy_only(fn, *args, **kwargs):
    """Run fn with the C library hidden (forces the numpy path)."""
    saved = _dtwc._lib, _dtwc._tried
    _dtwc._lib, _dtwc._tried = None, True
    try:
        return fn(*args, **kwargs)
    finally:
        _dtwc._lib, _dtwc._tried = saved


@pytest.fixture(scope="module")
def clib():
    lib = _dtwc.lib()
    if lib is None:
        pytest.skip("C kernel unavailable (no compiler?) — numpy "
                    "fallback is the active path, nothing to compare")
    return lib


@pytest.mark.parametrize("shape", [(504, 504), (50, 50), (37, 53),
                                   (53, 37), (24, 24), (2, 5), (1, 1)])
@pytest.mark.parametrize("window", [None, 24, 3, 1])
def test_c_bitequal_shapes_windows(clib, shape, window):
    rng = np.random.default_rng(7)
    r, c = shape
    X1 = rng.normal(size=(9, r))
    X2 = rng.normal(size=(9, c))
    for psi in [None, 2, (1, 2, 3, 0)]:
        for pen in [None, 0.7]:
            for ms in [None, 1.5]:
                for inner in ["squared euclidean", "euclidean"]:
                    s = K.DtwSettings(window=window, psi=psi, penalty=pen,
                                      max_step=ms, inner_dist=inner)
                    d_c = K.dtw_distance_batch(X1, X2, settings=s)
                    d_np = _numpy_only(K.dtw_distance_batch, X1, X2,
                                       settings=s)
                    assert np.array_equal(d_c, d_np), \
                        (shape, window, psi, pen, ms, inner)


def test_c_bitequal_max_dist(clib):
    rng = np.random.default_rng(11)
    X1 = rng.normal(size=(16, 60))
    X2 = rng.normal(size=(16, 60))
    s = K.DtwSettings(window=8, max_dist=5.0)
    d_c = K.dtw_distance_batch(X1, X2, settings=s)
    d_np = _numpy_only(K.dtw_distance_batch, X1, X2, settings=s)
    assert np.array_equal(d_c, d_np)


def test_indexed_entry_bitequal():
    """dtw_distance_batch_indexed (zero-copy corpus-matrix path) must
    equal the stacked batch entry bit-for-bit, C or numpy."""
    import numpy as np

    from dtaidistance_spark.operators.matrix import _compute_pairs

    rng = np.random.default_rng(3)
    n, L = 60, 40
    V = rng.normal(size=(n, L))
    vals = {i: V[i].copy() for i in range(n)}
    ii = rng.integers(0, n, 500)
    jj = rng.integers(0, n, 500)
    for s in [K.DtwSettings(window=12), K.DtwSettings(psi=2, penalty=0.3),
              K.DtwSettings(window=7, inner_dist="euclidean"),
              K.DtwSettings()]:
        d_idx = K.dtw_distance_batch_indexed(V, ii, jj, settings=s)
        d_ref = K.dtw_distance_batch(V[ii], V[jj], settings=s)
        assert np.array_equal(d_idx, d_ref)
        oi, oj, od = _compute_pairs(ii, jj, vals, s)
        assert np.array_equal(np.sort(od), np.sort(d_ref))


def test_c_disabled_env(monkeypatch):
    """DTW_C_KERNEL=0 must force the numpy path (A/B harness)."""
    monkeypatch.setenv("DTW_C_KERNEL", "0")
    monkeypatch.setattr(_dtwc, "_lib", None)
    monkeypatch.setattr(_dtwc, "_tried", False)
    assert _dtwc.lib() is None
    # reset the loader state for other tests
    monkeypatch.setattr(_dtwc, "_tried", False)


@pytest.mark.parametrize("loose", ["file", "dir"])
def test_refuses_untrusted_library(monkeypatch, tmp_path, loose):
    """A library at the build path that someone else could have written
    (group/world-writable file or directory) must never reach dlopen;
    the loader falls back to numpy instead."""
    import os

    planted = tmp_path / f"_dtw_kernel_{_dtwc._tag()}.so"
    planted.write_bytes(b"not a shared object")
    os.chmod(planted, 0o777 if loose == "file" else 0o700)
    os.chmod(tmp_path, 0o777 if loose == "dir" else 0o700)
    opened = []
    monkeypatch.setattr(_dtwc, "_build_dir", lambda: str(tmp_path))
    monkeypatch.setattr(_dtwc.ctypes, "CDLL",
                        lambda path, *a, **k: opened.append(path))
    monkeypatch.setattr(_dtwc, "_lib", None)
    monkeypatch.setattr(_dtwc, "_tried", False)
    assert _dtwc.lib() is None
    assert opened == []
