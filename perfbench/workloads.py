"""The benchmark workloads: input sizes, generation, and one job each.

A job calls the library's public functions layer by layer through a
:class:`Ctx`.  The Ctx mode decides what a layer call does:

* ``"time"``  - builds the lazy DataFrame and forces only the outputs the
  workload names, each with its own ``noop`` write (the timed path);
* ``"trace"`` - runs each layer inside a span, persists its output and
  forces it before the next layer starts, so every layer's work lands in
  its own span and its own Spark job description;
* ``"check"`` - like ``"time"``, but each forced output is collected to
  Arrow for the output checks.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import gen

# Input sizes.  A run starts a fresh JVM and pays a cold first job, so a
# job must fit a few times into one run: the DTW corpus is smaller than
# the ~2k-series flagship (same 504-hour equal-length shape), and the
# append stream keeps the ~33k events/day of a 1M-event month.
SIZES = {
    "tiers_append": dict(n_events=1_000_000, n_users=5_000, alpha=1.1,
                         days=30, late_share=0.02),
    "dtw_allpairs": dict(n_events=25_000, n_users=500, alpha=0.0,
                         days=30),
}
RETENTION_DAYS = 2   # tiers_append keeps this many newest days
# Untimed jobs before the window.  tiers_append needs at least
# RETENTION_DAYS of them, so that every timed job refreshes as many days,
# and two more because the JVM is still compiling hot code: on a host
# with two busy neighbour processes, a run's third and fourth jobs ran
# 37 % and 19 % slower than its seventh to ninth.
WARMUP_JOBS = {"tiers_append": RETENTION_DAYS + 2, "dtw_allpairs": 1}
# The window closes once --seconds have passed and at least this many
# jobs ran in it, so that on a slow host a run's median still rests on
# as many jobs as on a quiet one.
MIN_WINDOW_JOBS = {"tiers_append": 3, "dtw_allpairs": 2}
DTW_WINDOW = 24


def generate(name: str, seed: int, root: str):
    """Write the workload's inputs under ``root``; returns the events
    directory (a list of day directories for ``tiers_append``)."""
    p = SIZES[name]
    out = os.path.join(root, name)
    if name == "tiers_append":
        return gen.daily_events(seed, out, **p)
    return gen.batch_events(seed, out, **p)


class Ctx:
    """Runs a job's layer calls in one of the modes above and, when
    tracing, records a span (name, start, end, parent, job) per call."""

    def __init__(self, spark, mode: str = "time"):
        self.spark = spark
        self.mode = mode
        self.job = 0
        self.spans = []      # [name, t0, t1, parent index, job]
        self.outputs = {}    # check mode: name -> pyarrow.Table
        self.persisted = {}  # trace mode: layer name -> persisted output
        self._stack = []

    @contextmanager
    def span(self, name: str):
        if self.mode != "trace":
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.job])
        self._stack.append(len(self.spans) - 1)
        sc.setJobDescription(name)
        try:
            yield
        finally:
            k = self._stack.pop()
            self.spans[k][2] = time.perf_counter()
            sc.setJobDescription(
                self.spans[self._stack[-1]][0] if self._stack else None)

    def layer(self, name: str, build, force: bool = False):
        """Call one layer: ``build()`` returns its DataFrame."""
        if self.mode == "trace":
            with self.span(name):
                df = build().persist()
                self.persisted[name] = df
                _noop(df)
            return df
        df = build()
        if force:
            if self.mode == "check":
                self.outputs[name] = df.toArrow()
            else:
                _noop(df)
        return df

    def release(self):
        from dtaidistance_spark import resources

        with self.span("resources.release"):
            for df in self.persisted.values():
                df.unpersist()
            self.persisted.clear()
            resources.release_all()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class AppendTable:
    """The snapshot table ``tiers_append`` ingests into, one day per job."""

    TIERS = ("1m", "1h", "1d")

    def __init__(self, base: str, days: list):
        self.base = base
        self.days = days
        self.next_day = 0

    def newest_pday(self) -> str:
        from dtaidistance_spark.sinks import snapshots as SN

        return max(SN.load_manifest(self.base, "1m")["partitions"])

    def ingested_pdays(self) -> list:
        """p_day of every day file ingested so far, oldest first."""
        import datetime

        t0 = datetime.datetime.fromtimestamp(gen.T0_US / 1e6,
                                             datetime.timezone.utc).date()
        return [str(t0 + datetime.timedelta(days=d))
                for d in range(self.next_day)]

    def new_files(self, tier: str, sid: int) -> dict:
        """path -> (rows, bytes) of the data files snapshot ``sid`` wrote."""
        import pyarrow.parquet as pq
        from dtaidistance_spark.sinks import snapshots as SN

        out = {}
        man = SN.load_manifest(self.base, tier, sid)
        for day, entry in man["partitions"].items():
            for fn in entry["files"]:
                if fn.startswith(f"part-v{sid}-"):
                    p = os.path.join(self.base, f"tier={tier}",
                                     f"p_day={day}", fn)
                    out[p] = (pq.ParquetFile(p).metadata.num_rows,
                              os.path.getsize(p))
        return out

    def refreshed_days(self, tier: str, sid: int) -> list:
        from dtaidistance_spark.sinks import snapshots as SN

        return SN.load_manifest(self.base, tier, sid).get("refreshed_days",
                                                          [])

    def stored_bytes_per_point(self) -> float:
        """Every byte under the table directory over the live rows of the
        latest manifests."""
        from dtaidistance_spark.sinks import snapshots as SN

        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _s, fs in os.walk(self.base) for f in fs)
        rows = sum(SN.load_manifest(self.base, t)["summary"]["rows"]
                   for t in self.TIERS)
        return size / rows if rows else 0.0


def tiers_append(ctx: Ctx, table: AppendTable) -> dict:
    """Ingest the next day file: 1m rollup, append commit, incremental
    1m->1h->1d refresh, retention, snapshot expiry, read back the newest
    1h day and round-trip it through the chunk codec.  Returns the
    snapshot ids the job committed."""
    from dtaidistance_spark.operators import rollup as R
    from dtaidistance_spark.operators.compress import (compress_tier,
                                                       decompress_chunks)
    from dtaidistance_spark.plans import driver_queries as Q
    from dtaidistance_spark.sinks import refresh as RF
    from dtaidistance_spark.sinks import snapshots as SN

    sp, base = ctx.spark, table.base
    src = table.days[table.next_day]
    table.next_day += 1
    pts = ctx.layer("operators.rollup.scan",
                    lambda: Q.event_points_rollup(sp, src))
    m1 = ctx.layer("operators.rollup.rollup_points",
                   lambda: R.rollup_points(pts, "1m"))
    commits = {}
    with ctx.span("sinks.snapshots.commit"):
        commits["1m"] = SN.commit_tier(m1, base, "1m", mode="append")
    with ctx.span("sinks.refresh.refresh"):
        commits["1h"] = RF.refresh_cascade(sp, base, "1m", "1h")
        commits["1d"] = RF.refresh_cascade(sp, base, "1h", "1d")
    newest = table.newest_pday()
    with ctx.span("sinks.snapshots.retention"):
        keep = sorted(SN.load_manifest(base, "1m")["partitions"])
        keep_since = keep[max(0, len(keep) - RETENTION_DAYS)]
        for t in table.TIERS:
            SN.commit_retention(base, t, keep_since)
    with ctx.span("sinks.snapshots.expire"):
        # keep each tier's newest data snapshot next to its retention
        # snapshot: a manifest-diff refresh reads it on the next job
        for t in table.TIERS:
            SN.expire_snapshots(base, t, keep_last=2)
    day = ctx.layer("sinks.snapshots.read",
                    lambda: SN.read_tier(sp, base, "1h", days={newest}),
                    force=True)
    # cold storage of the newest day: encode to Gorilla chunks and back
    ch = ctx.layer("operators.compress.encode",
                   lambda: compress_tier(day, value_col="sum"))
    ctx.layer("operators.compress.decode",
              lambda: decompress_chunks(ch), force=True)
    return commits


def dtw_allpairs(ctx: Ctx, src: str) -> dict:
    """hourly_series -> with_index -> distance_matrix(window=24)."""
    from dtaidistance_spark.kernels.dtw import DtwSettings
    from dtaidistance_spark.operators.matrix import (distance_matrix,
                                                     with_index)
    from dtaidistance_spark.plans import driver_queries as Q

    sp = ctx.spark
    arr = ctx.layer("operators.matrix.upstream",
                    lambda: Q.hourly_series(sp, src))
    idx = ctx.layer("operators.matrix.with_index",
                    lambda: with_index(arr, order_col="series_id"))
    if ctx.mode == "check":
        ctx.outputs["series"] = idx.select("i", "series_id",
                                           "values").toArrow()
    with ctx.span("operators.matrix.plan"):
        dist = distance_matrix(idx,
                               settings=DtwSettings(window=DTW_WINDOW))
    ctx.layer("operators.matrix.pair_stage", lambda: dist, force=True)
    plan = dist._jdf.queryExecution().analyzed().toString()
    return {"broadcast_path": int("FlatMapGroupsInPandas" not in plan)}


JOBS = {"tiers_append": tiers_append, "dtw_allpairs": dtw_allpairs}
