"""Measurements taken from outside the program: process-tree memory and
hypervisor steal from /proc, Spark's JSON event log, span self times,
and a single-core DTW kernel probe."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

import numpy as np


def tree_pids(root: int) -> list:
    """``root`` and every process whose parent chain reaches it."""
    ppid = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        ppid[int(ent)] = int(raw[raw.rindex(")") + 2:].split()[1])
    out = []
    for pid in ppid:
        p, hops = pid, 0
        while p > 1 and hops < 64:
            if p == root:
                out.append(pid)
                break
            p, hops = ppid.get(p, 0), hops + 1
    return out


def _rss_mb(pid: int) -> tuple:
    """(VmRSS in MB, is a PySpark Python worker) for one pid."""
    try:
        with open(f"/proc/{pid}/status") as f:
            rss = next((int(line.split()[1]) for line in f
                        if line.startswith("VmRSS:")), 0)
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            # the JVM's command line names pyspark too (pyspark-shell)
            worker = b"pyspark.daemon" in f.read()
    except OSError:
        return 0.0, False
    return rss / 1024.0, worker


class RssSampler(threading.Thread):
    """Samples the RSS of this process tree, and of its PySpark Python
    workers alone, every ``period`` seconds into ``timeline`` as
    (perf_counter, tree MB, workers MB)."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.timeline = []
        self._halt = threading.Event()
        self._root = os.getpid()

    def sample(self) -> None:
        tree = workers = 0.0
        for pid in tree_pids(self._root):
            mb, is_worker = _rss_mb(pid)
            tree += mb
            if is_worker:
                workers += mb
        self.timeline.append((time.perf_counter(), tree, workers))

    def run(self):
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.period)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)

    def peak(self, t0: float, t1: float, col: int = 1) -> float:
        vals = [s[col] for s in self.timeline if t0 <= s[0] <= t1]
        return max(vals) if vals else 0.0


def steal_s() -> float:
    """Whole-host CPU-seconds of hypervisor steal so far (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 \
        else 0.0


def self_times(spans: list) -> dict:
    """Per span name, the summed self time: a span's duration minus the
    part of it its child spans cover (children never overlap here)."""
    child = [0.0] * len(spans)
    for name, t0, t1, parent, _job in spans:
        if parent is not None:
            child[parent] += t1 - t0
    out = {}
    for k, (name, t0, t1, _p, _j) in enumerate(spans):
        out[name] = out.get(name, 0.0) + (t1 - t0) - child[k]
    return out


def read_event_log(log_dir: str) -> dict:
    """Per Spark job description: stage and task figures from Spark's
    own JSON event log (read after the session stopped)."""
    desc_of_stage, leaf_stages, stats = {}, set(), {}
    # Spark 4 writes eventlog_v2_<app>/events_<n>_<app> (plus an empty
    # appstatus marker); older layouts write one file per application
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                             recursive=True))
    for path in paths:
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or "(none)"
                    for st in ev.get("Stage Infos", []):
                        desc_of_stage[st["Stage ID"]] = desc
                        if not st.get("Parent IDs"):
                            leaf_stages.add(st["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    s = stats.setdefault(desc_of_stage.get(sid, "(none)"), {
                        "tasks": 0, "leaf_tasks": 0, "run_s": 0.0,
                        "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                        "task_s": []})
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    s["tasks"] += 1
                    s["leaf_tasks"] += sid in leaf_stages
                    s["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    s["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                    s["shuffle_write"] += m.get("Shuffle Write Metrics", {}) \
                        .get("Shuffle Bytes Written", 0)
                    s["spill"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
                    s["task_s"].append((info.get("Finish Time", 0)
                                        - info.get("Launch Time", 0)) / 1e3)
    for s in stats.values():
        ts = s.pop("task_s")
        s["task_s_max"] = max(ts) if ts else 0.0
        s["task_s_p50"] = statistics.median(ts) if ts else 0.0
    return stats


def band_cells(r: int, c: int, window: int) -> int:
    """DP cells inside the Sakoe-Chiba band of an r x c pair, with the
    library's window convention (|i - j| < window + |r - c|)."""
    i = np.arange(r)
    lo = np.maximum(0, i - max(0, r - c) - window + 1)
    hi = np.minimum(c, i + max(0, c - r) + window)
    return int(np.maximum(0, hi - lo).sum())


def kernel_probe(values: np.ndarray, window: int, seed: int,
                 n_pairs: int = 16000) -> dict:
    """Single-core rate of the indexed equal-length kernel on a seeded
    sample of the corpus (rows of ``values``), in this process."""
    from dtaidistance_spark.kernels.dtw import (DtwSettings,
                                                dtw_distance_batch_indexed)

    rng = np.random.default_rng(seed)
    n, L = values.shape
    pi = rng.integers(0, n, n_pairs)
    pj = rng.integers(0, n, n_pairs)
    st = DtwSettings(window=window)
    dtw_distance_batch_indexed(values, pi[:64], pj[:64], settings=st)
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        dtw_distance_batch_indexed(values, pi, pj, settings=st)
        reps.append(time.perf_counter() - t0)
    sec = statistics.median(reps)
    cells = band_cells(L, L, window)
    return {"pairs_per_core_s": n_pairs / sec,
            "cells_per_ns": n_pairs * cells / sec / 1e9,
            "cells_per_pair": cells,
            "s_per_pair": sec / n_pairs}
