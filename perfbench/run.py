"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One run generates the workload's inputs
from the seed, starts a Spark ``local[nproc]`` session with the
library's ``session.get_spark`` defaults, runs untimed warm-up jobs (the
first one's outputs are checked), then drives jobs as a closed loop with one
client (each job starts when the previous one has finished and its
resources are released) until ``--seconds`` have passed and the
workload's ``MIN_WINDOW_JOBS`` have run.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` alternates plain and traced jobs in the same loop,
with Spark's event log on, and reports the per-layer metrics.  It prints
a table of every metric with its unit and sample count, then one JSON
line.  Every file it writes stays under ``.perfbench_work/`` in the
repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

from observe import steal_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 150     # cancel Spark jobs still running this long into a run
# Hypervisor steal stretches these jobs far beyond the stolen share: on
# the 4-vCPU host named in baseline.json, a job ran about
# (1 + STEAL_SLOWDOWN * s) times longer while the host stole s cores on
# average (least-squares fits of STEAL_SLOWDOWN over five sets of runs:
# 0.9, 1.05 and 1.2 on tiers_append, 0.6 and 1.0 on dtw_allpairs).
# Timed figures divide the wall time by that factor, with s read from
# /proc/stat over the same interval.
STEAL_SLOWDOWN = 1.0
T_PROCESS = time.perf_counter()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def unsteal(wall: float, stolen: float) -> float:
    """Wall time with the stretch of ``stolen`` CPU-seconds of
    hypervisor steal over it taken out."""
    return wall / (1.0 + STEAL_SLOWDOWN * stolen / wall) if wall else 0.0


def _pct(part: float, whole: float) -> float:
    return 100.0 * part / whole if whole else 0.0


class Run:
    def __init__(self, args):
        import workloads as W

        self.W = W
        self.name = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = args.trace == 1
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{self.name}-s{self.seed}-{os.getpid()}")
        self.jobs = []        # (mode, wall s, events in, rows out, steal s)
        self.failed = 0
        self.errors = []
        self.layer = {}       # per-layer figures for --trace 1
        self.job_rss = []     # peak process-tree RSS of each timed job
        self.spark = None
        self.watchdog = None

    # -- set-up ------------------------------------------------------
    def setup(self):
        from dtaidistance_spark.session import get_spark

        os.makedirs(self.work)
        for var in ("SPARK_LOCAL_DIRS", "TMPDIR"):
            os.environ[var] = os.path.join(self.work, "tmp")
        os.makedirs(os.environ["TMPDIR"])
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        self.src = self.W.generate(self.name, self.seed,
                                   os.path.join(self.work, "in"))
        extra = None
        if self.trace:
            self.log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.log_dir)
            extra = {"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + self.log_dir,
                     "spark.eventLog.compress": "false"}
        cores = len(os.sched_getaffinity(0))
        steal0 = steal_s()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.name}",
                               cores=cores, extra_conf=extra)
        self.layer["session.start_s"] = time.perf_counter() - t0
        # a hung job fails the run instead of overrunning its time limit
        self.watchdog = threading.Timer(
            max(1.0, RUN_LIMIT_S - (time.perf_counter() - T_PROCESS)),
            self.spark.sparkContext.cancelAllJobs)
        self.watchdog.daemon = True
        self.watchdog.start()
        t1 = time.perf_counter()
        from dtaidistance_spark.kernels import _dtwc
        c_lib = _dtwc.lib()
        self.layer["kernels._dtwc.load_s"] = time.perf_counter() - t1
        self.layer["kernels._dtwc.c_path"] = int(c_lib is not None)
        if self.name == "tiers_append":
            self.table = self.W.AppendTable(os.path.join(self.work, "table"),
                                            self.src)
        # warm-up: untimed jobs, the first one collected for the checks
        check = self.W.Ctx(self.spark, "check")
        self._job(check)
        if self.name == "tiers_append":
            checked = (self._ingested_files(), self.table.newest_pday())
        for _ in range(self.W.WARMUP_JOBS[self.name] - 1):
            self._job(self.W.Ctx(self.spark, "time"))
        self.setup_wall_s = time.perf_counter() - t0
        self.setup_s = unsteal(self.setup_wall_s, steal_s() - steal0)
        if self.name == "tiers_append":
            import checks
            self._fail_check("warm-up", checks.check_append_day(
                check.outputs, *checked))
        else:
            self._check_matrix(check.outputs)

    def stop(self):
        if self.watchdog is not None:
            self.watchdog.cancel()
        if self.spark is not None:
            _stop_spark(self.spark)
            self.spark = None

    def _job(self, ctx):
        """One job; a traced job's bookkeeping runs between its last layer
        and the release, outside every span."""
        target = self.table if self.name == "tiers_append" else self.src
        with ctx.span("job"):
            info = self.W.JOBS[self.name](ctx, target)
        if ctx.mode == "trace":
            self._record_trace_job(ctx, info)
        ctx.release()
        return info

    # -- timed loop ---------------------------------------------------
    def loop(self, sampler, meter):
        ctx = self.W.Ctx(self.spark, "time")
        meter.begin()
        t_start = time.perf_counter()
        k = 0
        while time.perf_counter() - t_start < self.seconds or \
                k < self.W.MIN_WINDOW_JOBS[self.name]:
            if self.name == "tiers_append" and \
                    self.table.next_day >= len(self.table.days):
                break
            ctx.mode = "trace" if self.trace and k % 2 else "time"
            ctx.job = k
            events = self._events_next()
            steal0 = steal_s()
            t0 = time.perf_counter()
            try:
                info = self._job(ctx)
            except Exception as e:   # a failed job counts, the loop goes on
                self.failed += 1
                self.errors.append(f"job {k}: {type(e).__name__}: {e}"[:300])
                k += 1
                continue
            wall = time.perf_counter() - t0
            steal = steal_s() - steal0
            self.jobs.append((ctx.mode, wall, events, self._rows_out(info),
                              steal))
            if ctx.mode == "time":
                self.job_rss.append(sampler.peak(t0, t0 + wall))
            k += 1
        self.load = meter.end()
        self.spans = ctx.spans

    def _events_next(self) -> int:
        import pyarrow.parquet as pq

        d = (self.table.days[self.table.next_day]
             if self.name == "tiers_append" else self.src)
        return pq.ParquetFile(os.path.join(d, "events.parquet")) \
            .metadata.num_rows

    def _rows_out(self, info: dict) -> int:
        """Rolled-up rows the job committed (tiers_append), or DTW pairs
        it produced (dtw_allpairs)."""
        if self.name == "dtw_allpairs":
            n = self.W.SIZES["dtw_allpairs"]["n_users"]
            return n * (n - 1) // 2
        rows = 0
        for tier, sid in info.items():
            if sid is not None:
                rows += sum(r for r, _b in
                            self.table.new_files(tier, sid).values())
        return rows

    def _record_trace_job(self, ctx, info):
        """Per traced job: rolled-up points, codec size and sink
        bookkeeping, read off the persisted layer outputs and manifests."""
        from pyspark.sql import functions as F

        out = ctx.persisted
        if "operators.rollup.rollup_points" in out:
            self.layer.setdefault("points", []).append(
                out["operators.rollup.rollup_points"].count())
        if "operators.compress.encode" in out:
            size, n = out["operators.compress.encode"].agg(
                F.sum(F.length("payload")), F.sum("n")).first()
            self.layer.setdefault("codec", []).append((size, n))
        if self.name == "tiers_append":
            files = {}
            days = 0
            for tier, sid in info.items():
                if sid is not None:
                    files.update(self.table.new_files(tier, sid))
                    days += len(self.table.refreshed_days(tier, sid))
            self.layer.setdefault("files", []).append(len(files))
            self.layer.setdefault("bytes", []).append(
                sum(b for _r, b in files.values()))
            self.layer.setdefault("days", []).append(days)
        self.layer["broadcast_path"] = info.get("broadcast_path", 0)

    # -- checks -------------------------------------------------------
    def _check_matrix(self, outputs):
        import checks
        from dtaidistance_spark.plans.driver_queries import HOURLY_SPAN_CAP

        self._fail_check("warm-up", checks.check_matrix(
            outputs, os.path.join(self.src, "events.parquet"),
            HOURLY_SPAN_CAP, self.W.DTW_WINDOW, self.seed))
        self.corpus = outputs["series"]

    def _ingested_files(self):
        return [os.path.join(d, "events.parquet")
                for d in self.table.days[:self.table.next_day]]

    def check_final(self):
        if self.name != "tiers_append":
            return
        import checks
        from dtaidistance_spark.sinks import snapshots as SN

        base = self.table.base
        tiers = {t: SN.read_tier(self.spark, base, t).toArrow()
                 for t in self.table.TIERS}
        kept = {t: sorted(SN.load_manifest(base, t)["partitions"])
                for t in self.table.TIERS}
        want = self.table.ingested_pdays()[-self.W.RETENTION_DAYS:]
        self._fail_check("table", checks.check_append_table(
            tiers, self._ingested_files(), kept, want))
        self.stored_bytes_per_point = self.table.stored_bytes_per_point()

    def _fail_check(self, what, errs):
        if errs:
            self.failed += 1
            self.errors += [f"check {what}: {e}" for e in errs]

    # -- metrics ------------------------------------------------------
    def end_to_end(self) -> dict:
        timed = [j for j in self.jobs if j[0] == "time"]
        times = [unsteal(j[1], j[4]) for j in timed]
        return {
            "setup_s": (self.setup_s, "s", 1),
            "job_s": (_median(times), "s", len(timed)),
            # medians of the per-job rates, like job_s
            "events_per_s": (_median([j[2] / t for j, t in
                                      zip(timed, times)]), "1/s",
                             len(timed)),
            "rows_out_per_s": (_median([j[3] / t for j, t in
                                        zip(timed, times)]), "1/s",
                               len(timed)),
            # the first timed job's peak: the JVM heap keeps growing over
            # a run, so a later job's peak depends on how many jobs fit
            "peak_rss_mb": (self.job_rss[0] if self.job_rss else 0.0, "MB",
                            min(1, len(self.job_rss))),
        }

    def per_layer(self, sampler) -> dict:
        import observe

        plain = [j[1] for j in self.jobs if j[0] == "time"]
        n_tr = max(1, sum(1 for j in self.jobs if j[0] == "trace"))
        job_u = _median(plain)
        # mean self time per traced job; the root spans ("job" and the
        # release after it) add up to the traced job's wall time
        st = {name: sec / n_tr
              for name, sec in observe.self_times(self.spans).items()}
        job_t = sum(st.values())
        layers_s = job_t - st.get("job", 0.0)
        ev = observe.read_event_log(self.log_dir)

        def ev_sum(prefixes, key):
            return sum(s[key] for d, s in ev.items()
                       if d.startswith(prefixes)) / n_tr

        rollup = ("operators.rollup.", "operators.matrix.upstream")
        rollup_span_s = sum(v for k, v in st.items()
                            if k.startswith(rollup))
        pair = ev.get("operators.matrix.pair_stage", {})
        probe = self.layer.get("probe", {})
        pair_core_s = pair.get("run_s", 0.0) / n_tr
        kernel_core_s = probe.get("s_per_pair", 0.0) * \
            (self._rows_out({}) if self.name == "dtw_allpairs" else 0)
        pair_spans = [s for s in self.spans
                      if s[0] == "operators.matrix.pair_stage"]
        codec = [c for c in self.layer.get("codec", []) if c]
        m = {
            "session.start_s": (self.layer["session.start_s"], "s"),
            "kernels._dtwc.load_s": (self.layer["kernels._dtwc.load_s"], "s"),
            "kernels._dtwc.c_path": (self.layer["kernels._dtwc.c_path"],
                                     "flag"),
            "kernels.dtw.pairs_per_core_s": (
                probe.get("pairs_per_core_s", 0.0), "1/s"),
            "kernels.dtw.cells_per_ns": (probe.get("cells_per_ns", 0.0),
                                         "cells/ns"),
            "kernels.dtw.cells_per_pair": (probe.get("cells_per_pair", 0),
                                           "count"),
        }
        for name in SPAN_LAYERS:
            m[name + "_pct"] = (_pct(st.get(name, 0.0), job_t), "%")
        m.update({
            "operators.rollup.scan_tasks": (
                ev_sum(("operators.rollup.scan", "operators.matrix.upstream"),
                       "leaf_tasks"), "count"),
            "operators.rollup.shuffle_bytes": (
                ev_sum(rollup, "shuffle_write"), "B"),
            "operators.rollup.own_cores": (
                ev_sum(rollup, "run_s") / rollup_span_s
                if rollup_span_s else 0.0, "cores"),
            "operators.rollup.points_out": (self._points_out(), "count"),
            "operators.compress.bytes_per_point": (
                _median([b / n for b, n in codec]) if codec else 0.0, "B"),
            "operators.matrix.pair_tasks": (pair.get("tasks", 0) / n_tr,
                                            "count"),
            "operators.matrix.task_s_max_over_p50": (
                pair["task_s_max"] / pair["task_s_p50"]
                if pair.get("task_s_p50") else 0.0, "x"),
            "operators.matrix.overhead_pct": (
                _pct(pair_core_s - kernel_core_s, pair_core_s), "%"),
            "operators.matrix.worker_rss_mb": (
                max([sampler.peak(s[1], s[2], col=2) for s in pair_spans],
                    default=0.0), "MB"),
            "operators.matrix.broadcast_path": (
                self.layer.get("broadcast_path", 0), "flag"),
            "sinks.snapshots.bytes_written": (
                _median(self.layer.get("bytes", [])), "B"),
            "sinks.snapshots.files_written": (
                _median(self.layer.get("files", [])), "count"),
            "sinks.refresh.days_refreshed": (
                _median(self.layer.get("days", [])), "count"),
            "sinks.stored_bytes_per_point": (
                getattr(self, "stored_bytes_per_point", 0.0), "B"),
            "resources.release_s": (st.get("resources.release", 0.0), "s"),
            "host.job_wall_s": (job_u, "s"),
            "meter.own_cores": (self.load["own"], "cores"),
            "meter.neighbor_cores": (self.load["neighbor"], "cores"),
            "meter.steal_cores": (self.load["steal"], "cores"),
            "trace.overhead_pct": (_pct(job_t - job_u, job_u), "%"),
            "trace.layer_gap_pct": (_pct(layers_s - job_u, job_u), "%"),
            "trace.unattributed_pct": (_pct(st.get("job", 0.0), job_t), "%"),
        })
        self.trace_summary = {"untraced_job_s": job_u, "traced_job_s": job_t,
                              "self_s": st, "event_log": ev}
        return {k: (v, u, n_tr) for k, (v, u) in m.items()}

    def _points_out(self) -> float:
        if self.name == "dtw_allpairs":
            return float(self.corpus.num_rows * len(
                self.corpus.column("values")[0]))
        return _median(self.layer.get("points", []))


# layers whose self time is reported as a share of the traced job
SPAN_LAYERS = [
    "operators.rollup.scan", "operators.rollup.rollup_points",
    "operators.matrix.upstream", "operators.matrix.with_index",
    "operators.matrix.plan", "operators.matrix.pair_stage",
    "operators.compress.encode", "operators.compress.decode",
    "sinks.snapshots.commit", "sinks.refresh.refresh",
    "sinks.snapshots.retention", "sinks.snapshots.expire",
    "sinks.snapshots.read",
]


def _stop_spark(spark) -> None:
    """Stop the session, shut down the JVM it launched and wait until
    every process this run started (JVM, Python workers) has exited."""
    import observe
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.perf_counter() + 30
    while len(observe.tree_pids(os.getpid())) > 1 and \
            time.perf_counter() < deadline:
        time.sleep(0.2)


def _print_table(metrics: dict, extra: list) -> None:
    for name, (val, unit, n) in metrics.items():
        print(f"{name:42s} {val:>16.6g} {unit:9s} n={n}")
    for line in extra:
        print(line)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import dtaidistance_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the library is not importable here: {e}",
              file=sys.stderr)
        return 2
    import workloads
    if args.workload not in workloads.JOBS:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    from dtaidistance_spark.meter import CpuMeter
    import observe

    run = Run(args)
    sampler = observe.RssSampler()
    sampler.start()
    meter = CpuMeter()
    try:
        run.setup()
        run.loop(sampler, meter)
        run.check_final()
        if run.trace and run.name == "dtw_allpairs":
            import numpy as np

            vals = run.corpus.column("values").combine_chunks()
            V = vals.values.to_numpy().reshape(run.corpus.num_rows, -1)
            run.layer["probe"] = observe.kernel_probe(
                np.ascontiguousarray(V), workloads.DTW_WINDOW, run.seed)
        run.stop()   # the event log is complete only once Spark stopped
        metrics = (run.per_layer(sampler) if run.trace
                   else run.end_to_end())
    finally:
        run.stop()
        sampler.stop()
        meter.close()
        shutil.rmtree(run.work, ignore_errors=True)
    warmup = workloads.WARMUP_JOBS[run.name]
    attempted = len(run.jobs) + run.failed + warmup
    extra = [f"jobs: {len(run.jobs)} done in the window + {warmup} warm-up;"
             f" failed {run.failed}; wall s / steal cores "
             + " ".join(f"{j[0]}:{j[1]:.3f}/{j[4] / j[1]:.2f}"
                        for j in run.jobs)
             + f"; set-up wall {run.setup_wall_s:.3f} s; peak RSS MB "
             + " ".join(f"{mb:.0f}" for mb in run.job_rss)]
    extra += [f"error: {e}" for e in run.errors]
    if run.trace:
        s = run.trace_summary
        extra.append(f"untraced job_s {s['untraced_job_s']:.3f}  "
                     f"traced job_s {s['traced_job_s']:.3f}")
        for name, sec in sorted(s["self_s"].items()):
            extra.append(f"  self {name:38s} {sec:8.3f} s")
        for desc, e in sorted(s["event_log"].items()):
            extra.append(
                f"  log {desc:39s} tasks {e['tasks']:5d} run "
                f"{e['run_s']:8.2f} s shuffle r/w {e['shuffle_read']}/"
                f"{e['shuffle_write']} B spill {e['spill']} B task max/p50 "
                f"{e['task_s_max']:.3f}/{e['task_s_p50']:.3f} s")
    else:
        timed = sorted(unsteal(j[1], j[4]) for j in run.jobs
                       if j[0] == "time")
        if len(timed) > 10:
            extra.append(f"job_s_tail {timed[-11]:.4f} s "
                         f"(p{100 * (len(timed) - 10) / len(timed):.0f}, "
                         f"n={len(timed)})")
        extra.append("meter: " + json.dumps(run.load))
    _print_table(metrics, extra)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": attempted,
        # a failed table check fails the last ingest job it covers
        "failed": min(run.failed, attempted),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u, _n) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
