"""ctypes loader for the C banded-DTW kernel (_dtw_kernel.c).

The shared object is compiled on demand (once per host, guarded by a
file lock so concurrent Spark python workers don't race) and cached
next to the source with a build-tag name, so a source edit triggers a
rebuild and a stale .so is never loaded.  When the package directory
is not ours to write (read-only, or writable by others), the cache is
a per-user 0700 directory under the temp root instead.  A library is
loaded only if it and its directory are owned by this user and
writable by no one else; a planted or tampered file is refused.  Any
failure — no compiler, refused file, dlopen error — degrades silently
to ``lib() is None`` and callers fall back to the numpy path, which is
bit-identical.

Set ``DTW_C_KERNEL=0`` to disable the C path entirely (A/B harness).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "_dtw_kernel.c")

_lib = None
_tried = False


_CFLAGS = ["-O3", "-march=native", "-ffp-contract=off",
           "-mprefer-vector-width=512"]


def _private(path: str) -> bool:
    """True iff ``path`` is owned by this user and not group- or
    world-writable: only then can no one else swap what we dlopen."""
    try:
        st = os.stat(path)
    except OSError:
        return False
    return st.st_uid == os.getuid() and not st.st_mode & 0o022


def _build_dir() -> str:
    pkg = os.path.dirname(_SRC)
    if os.access(pkg, os.W_OK) and _private(pkg):
        return pkg
    # read-only or shared checkout: a per-user 0700 directory, never the
    # world-writable temp root itself.  If someone else already owns this
    # path, `lib` refuses it and the numpy path runs.
    d = os.path.join(tempfile.gettempdir(),
                     f"dtaidistance_spark-{os.getuid()}")
    os.makedirs(d, mode=0o700, exist_ok=True)
    return d


def _tag() -> str:
    """Build tag = source + flags, so a flag change rebuilds too."""
    with open(_SRC, "rb") as f:
        return hashlib.sha256(
            f.read() + " ".join(_CFLAGS).encode()).hexdigest()[:16]


def _compile(build_dir: str, tag: str) -> str | None:
    """Compile the kernel to its tagged .so path; returns the path or
    None.  A file lock serializes concurrent builders; the compile
    writes to a temp name and renames atomically, so a reader never
    dlopens a half-written file."""
    out = os.path.join(build_dir, f"_dtw_kernel_{tag}.so")
    if os.path.exists(out):
        return out
    lock_path = out + ".lock"
    try:
        import fcntl

        with open(lock_path, "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if os.path.exists(out):
                return out
            fd, tmp = tempfile.mkstemp(suffix=".so", dir=build_dir)
            os.close(fd)
            # -ffp-contract=off: forbid FMA contraction of d*d + m —
            # contraction changes the last ULP and breaks bit-equality
            # with the numpy path (numpy never fuses).
            # -mprefer-vector-width=512: gcc defaults to 256-bit vectors
            # on this uarch; measured +17% single-core and +5.6% at
            # 32-way saturation (no downclock penalty), ops unchanged.
            cmd = ["cc", *_CFLAGS, "-fPIC", "-shared", "-o", tmp, _SRC,
                   "-lm"]
            try:
                r = subprocess.run(cmd, capture_output=True, timeout=120)
                if r.returncode != 0:
                    os.unlink(tmp)
                    return None
                os.rename(tmp, out)
                return out
            except Exception:
                try:
                    os.unlink(tmp)
                except OSError:
                    pass
                return None
    except Exception:
        return None


def lib():
    """The loaded C library, or None if unavailable/disabled."""
    global _lib, _tried
    if _tried:
        return _lib
    _tried = True
    if os.environ.get("DTW_C_KERNEL", "1") != "1":
        return None
    try:
        build_dir = _build_dir()
        if not _private(build_dir):
            return None
        path = _compile(build_dir, _tag())
        if path is None or not _private(path):
            return None
        cdll = ctypes.CDLL(path)
        fn = cdll.dtw_batch
        fn.restype = ctypes.c_int
        fn.argtypes = [
            ctypes.c_void_p, ctypes.c_void_p,          # X1, X2
            ctypes.c_long, ctypes.c_long, ctypes.c_long,  # B, r, c
            ctypes.c_long,                             # window
            ctypes.c_long, ctypes.c_long,              # psi1b, psi1e
            ctypes.c_long, ctypes.c_long,              # psi2b, psi2e
            ctypes.c_double, ctypes.c_double,          # pen, max_step
            ctypes.c_int,                              # squared
            ctypes.c_void_p,                           # out
        ]
        fni = cdll.dtw_batch_idx
        fni.restype = ctypes.c_int
        fni.argtypes = [
            ctypes.c_void_p, ctypes.c_long,            # V, L
            ctypes.c_void_p, ctypes.c_void_p,          # ii, jj
            ctypes.c_long, ctypes.c_long,              # B, window
            ctypes.c_long, ctypes.c_long,              # psi1b, psi1e
            ctypes.c_long, ctypes.c_long,              # psi2b, psi2e
            ctypes.c_double, ctypes.c_double,          # pen, max_step
            ctypes.c_int,                              # squared
            ctypes.c_void_p,                           # out
        ]
        _lib = cdll
    except Exception:
        _lib = None
    return _lib
