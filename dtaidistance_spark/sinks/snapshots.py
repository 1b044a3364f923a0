"""Snapshot commits + time travel for the tiered sink — Iceberg's
metadata mechanism re-expressed on plain parquet.  This is the only
storage layout of the rollup tiers (1m → 1h → 1d across retention).

Why it exists: a refresh that rewrites a day in place (directory
overwrite) is correct only for a single writer and latest-only readers.
The north rule's Iceberg deployment gives two more guarantees: a reader
concurrent with a refresh must see a consistent table version (snapshot
isolation), and yesterday's rolled-up points must stay queryable after
today's re-aggregation (time travel — the audit path for "rolled-up
points match the reference bit-for-bit at every retention tier").

Mechanism (exactly Iceberg's, minus the catalog service):

* **Copy-on-write commits.**  `commit_tier` writes the refreshed day
  partitions as NEW files named ``part-v<snapshot>-*.parquet`` inside
  the same ``tier=<t>/p_day=<d>`` directories; nothing is deleted.  The
  commit's manifest (``base/_snapshots/<tier>/v<n>.json``) lists, per
  day, exactly the files that make up this table version: the fresh
  files for refreshed days plus the parent snapshot's files for
  untouched days.  Readers of v(n-1) keep a stable file list while v(n)
  is being written — isolation by construction, no locks.
* **Manifest-pruned reads.**  `read_tier` resolves a manifest (latest
  or an explicit ``snapshot=``), prunes the day range against manifest
  keys ON THE DRIVER (O(partitions), the role of Iceberg's manifest
  lists — no directory walk, which matters when a 100 TB table holds
  files from many snapshots), and hands Spark the exact file list with
  ``basePath`` so partition columns still parse.
* **Retention as metadata.**  `commit_retention` publishes a snapshot
  that simply omits expired days — Iceberg's ``DELETE WHERE`` on a
  partition predicate: O(partitions) manifest edit, zero data I/O, and
  the dropped days remain time-travel-readable from older snapshots.
  It keeps its parent's lineage keys (`_LINEAGE_KEYS`), so a later
  incremental refresh or stream replay reads the same provenance it
  would have read before the retention commit.
* **`expire_snapshots`** deletes manifests older than the kept window
  and then removes data files no surviving manifest references (orphan
  cleanup).  Only here is data physically deleted.

Every commit publishes through `_publish`, the one place a manifest
is written (``.tmp`` + atomic ``os.rename``, the commit point).
Per-partition lineage + metrics ride in the manifest: each day entry
records its files, row count (parquet footer metadata via pyarrow — no
data scan) and bytes, so a resumed job can diff manifests to find what
a failed run actually committed (operators/checkpoint.py consumes the
same idea at stage granularity).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from typing import Dict, List, Optional

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

P_DAY_FMT = "yyyy-MM-dd"

# Manifest keys that record where a table version came from: the
# finer-tier snapshot a cascade refresh read (sinks/refresh.py) and the
# last micro-batch a stream committed (stream_to_snapshots).  A
# metadata-only commit changes no data, so it keeps them.
_LINEAGE_KEYS = ("source_snapshot", "stream_batch_id")


def _snap_dir(base: str, tier: str) -> str:
    return os.path.join(base, "_snapshots", tier)


def _manifest_path(base: str, tier: str, sid: int) -> str:
    return os.path.join(_snap_dir(base, tier), f"v{sid}.json")


def snapshot_ids(base: str, tier: str) -> List[int]:
    """Committed snapshot ids, oldest first (the catalog listing)."""
    d = _snap_dir(base, tier)
    if not os.path.isdir(d):
        return []
    return sorted(int(f[1:-5]) for f in os.listdir(d)
                  if f.startswith("v") and f.endswith(".json"))


def load_manifest(base: str, tier: str,
                  snapshot: Optional[int] = None) -> dict:
    ids = snapshot_ids(base, tier)
    if not ids:
        raise FileNotFoundError(f"no snapshots for tier={tier} under {base}")
    sid = ids[-1] if snapshot is None else snapshot
    if sid not in ids:
        raise FileNotFoundError(f"snapshot v{sid} not found (have {ids})")
    with open(_manifest_path(base, tier, sid)) as f:
        return json.load(f)


def _partition_entry(pdir: str, files: List[str]) -> dict:
    rows = 0
    nbytes = 0
    for fn in files:
        p = os.path.join(pdir, fn)
        rows += pq.ParquetFile(p).metadata.num_rows
        nbytes += os.path.getsize(p)
    return {"files": sorted(files), "rows": rows, "bytes": nbytes}


def _publish(base: str, tier: str, sid: int, parent: Optional[int],
             operation: str, partitions: Dict[str, dict],
             extra: Optional[dict] = None) -> int:
    """Write snapshot ``sid``'s manifest and publish it atomically: the
    ``.tmp`` write is invisible to `snapshot_ids`, the rename is the
    commit point."""
    manifest = {
        "snapshot_id": sid,
        "parent_id": parent,
        "committed_at": time.time(),
        "operation": operation,
        "partitions": partitions,
        "summary": {"days": len(partitions),
                    "rows": sum(p["rows"] for p in partitions.values()),
                    "bytes": sum(p["bytes"] for p in partitions.values())},
    }
    if extra:
        manifest.update(extra)
    os.makedirs(_snap_dir(base, tier), exist_ok=True)
    tmp = _manifest_path(base, tier, sid) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.rename(tmp, _manifest_path(base, tier, sid))
    return sid


def commit_tier(agg: DataFrame, base: str, tier: str,
                extra: Optional[dict] = None,
                mode: str = "overwrite") -> int:
    """Copy-on-write commit of one tier refresh; returns the snapshot id.

    ``mode="overwrite"`` (batch refresh): days present in ``agg`` are
    replaced *in the new snapshot only*; days absent are carried over
    from the parent manifest byte-for-byte (same files — a carried-over
    partition costs one dict entry, not a rewrite).
    ``mode="append"`` (streaming micro-batch): the new files JOIN the
    parent's files for their day, so previously committed rows of the
    same day survive.  The commit is transactional: a reader never sees
    a half-appended batch, and the manifest's ``extra`` payload (e.g.
    the micro-batch id) becomes visible atomically with the data, which
    is what makes exactly-once `foreachBatch` possible
    (streaming/rollup_stream.py::stream_to_snapshots).

    The staged write sorts each day by (series_id, bucket_ts) so
    parquet min/max stats support series_id pushdown within a day."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown commit mode {mode!r}")
    ids = snapshot_ids(base, tier)
    parent = ids[-1] if ids else None
    sid = (parent or 0) + 1

    staging = os.path.join(base, "_staging", tier,
                           f"v{sid}-{uuid.uuid4().hex[:8]}")
    (agg.withColumn("p_day", F.date_format("bucket_ts", P_DAY_FMT))
        .sortWithinPartitions("series_id", "bucket_ts")
        .write.mode("overwrite").partitionBy("p_day").parquet(staging))

    partitions: Dict[str, dict] = {}
    if parent is not None:
        partitions.update(load_manifest(base, tier, parent)["partitions"])

    for pdir in sorted(glob.glob(os.path.join(staging, "p_day=*"))):
        day = os.path.basename(pdir).split("=", 1)[1]
        dest = os.path.join(base, f"tier={tier}", f"p_day={day}")
        os.makedirs(dest, exist_ok=True)
        moved = []
        for i, fp in enumerate(sorted(glob.glob(os.path.join(pdir, "*.parquet")))):
            name = f"part-v{sid}-{i:05d}.parquet"
            shutil.move(fp, os.path.join(dest, name))
            moved.append(name)
        if mode == "append" and day in partitions:
            moved.extend(partitions[day]["files"])
        partitions[day] = _partition_entry(dest, moved)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(os.path.join(base, "_staging", tier), ignore_errors=True)

    return _publish(base, tier, sid, parent, mode, partitions, extra)


def commit_retention(base: str, tier: str, keep_since: str) -> int:
    """Retention as a metadata commit (Iceberg ``DELETE WHERE p_day <
    keep_since``): publish a snapshot whose manifest omits the expired
    days.  O(expired partitions) dict edits, zero data I/O; the days
    stay readable from older snapshots until `expire_snapshots`.  The
    parent's `_LINEAGE_KEYS` are kept; ``refreshed_days`` describes the
    parent's own commit and is not."""
    parent = load_manifest(base, tier)
    pid = parent["snapshot_id"]
    kept = {d: e for d, e in parent["partitions"].items() if d >= keep_since}
    lineage = {k: parent[k] for k in _LINEAGE_KEYS if k in parent}
    return _publish(base, tier, pid + 1, pid, "delete", kept, lineage)


def read_tier(spark: SparkSession, base: str, tier: str,
              snapshot: Optional[int] = None,
              since: Optional[str] = None,
              until: Optional[str] = None,
              days: Optional[set] = None) -> DataFrame:
    """Read one table version.  Day pruning (a [since, until] range
    and/or an explicit ``days`` set) happens against the manifest keys
    on the driver (manifest pruning, not directory listing), then Spark
    receives the pruned file list with ``basePath`` so ``p_day`` still
    parses as a partition column."""
    man = load_manifest(base, tier, snapshot)
    files = []
    for day, entry in sorted(man["partitions"].items()):
        if since is not None and day < since:
            continue
        if until is not None and day > until:
            continue
        if days is not None and day not in days:
            continue
        pdir = os.path.join(base, f"tier={tier}", f"p_day={day}")
        files.extend(os.path.join(pdir, fn) for fn in entry["files"])
    if not files:
        # preserve the schema contract on an empty selection
        empty = spark.read.option("basePath", base).parquet(
            os.path.join(base, f"tier={tier}"))
        return empty.where(F.lit(False)).drop("tier", "p_day")
    return (spark.read.option("basePath", base).parquet(*files)
            .drop("tier", "p_day"))


def expire_snapshots(base: str, tier: str, keep_last: int = 1) -> dict:
    """Drop all but the newest ``keep_last`` manifests, then physically
    delete data files no surviving manifest references (Iceberg
    ``expire_snapshots`` + orphan-file cleanup — the only place this
    module deletes data).  Returns counts for the caller's metrics."""
    ids = snapshot_ids(base, tier)
    expired, kept = ids[:-keep_last], ids[-keep_last:]
    if not expired:
        return {"expired_snapshots": 0, "deleted_files": 0}

    def _refs(sids):
        refs = set()
        for sid in sids:
            man = load_manifest(base, tier, sid)
            for day, entry in man["partitions"].items():
                for fn in entry["files"]:
                    refs.add((day, fn))
        return refs

    dead = _refs(expired) - _refs(kept)
    deleted = 0
    for day, fn in sorted(dead):
        p = os.path.join(base, f"tier={tier}", f"p_day={day}", fn)
        if os.path.exists(p):
            os.remove(p)
            deleted += 1
    # drop now-empty day directories so the directory layout stays clean
    for day in {d for d, _ in dead}:
        pdir = os.path.join(base, f"tier={tier}", f"p_day={day}")
        if os.path.isdir(pdir) and not os.listdir(pdir):
            os.rmdir(pdir)
    for sid in expired:
        os.remove(_manifest_path(base, tier, sid))
    return {"expired_snapshots": len(expired), "deleted_files": deleted}
