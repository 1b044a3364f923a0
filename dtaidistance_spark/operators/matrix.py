"""All-pairs DTW distance matrices over a DataFrame of series.

The reference's central relational operator (distance_matrix,
dtw.py:725-828) is a triangular theta self-join with an expensive
per-pair kernel, distributed by its rectangular ``block`` (dtw.py:757-761)
and an OMP guided schedule (dd_dtw_openmp.c:99-116).  Here every
all-pairs variant (plain, block, weighted) runs through one planner:

1. series get dense indices (:func:`with_index`); the *pair space* — the
   full upper triangle, a block triangle or a block rectangle — is a
   :class:`PairSpace` over the sorted ids, with a closed-form unrank and
   a cumulative kernel-cost function, so no O(n²) pair list exists;
2. one gate picks the physical strategy.  Under the corpus-bytes and
   pair caps (the default), the series are broadcast once and the space
   is cut into guided, cost-weighted ``(lo, hi)`` ranges, one
   ``mapInPandas`` task each.  Above them, chunk ids ``ci`` are assigned,
   chunk pairs are pruned declaratively (triangular symmetry, block)
   before any data moves, and each surviving chunk pair is one
   ``applyInPandas`` group;
3. both executors unrank their pairs in bounded sub-ranges and call one
   kernel plug: the batched DP of kernels/dtw.py (LB_Keogh-prefiltered
   when max_dist is set) or the per-pair weighted kernel;
4. output is the long-format ``(i, j, d)`` DataFrame — the "condensed"
   matrix is just this table ordered row-major; a full numpy matrix is
   materialized only driver-side for small n.

:func:`distance_matrix_cross` (query × corpus) keeps its own plan —
query side broadcast, corpus streamed — and shares the kernel plug.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.dtw import (BATCH_ELEMS, DtwSettings, dtw_distance_batch,
                           dtw_distance_batch_indexed, lb_keogh_batch)
from ..resources import track_broadcast, track_persist

PAIR_SCHEMA = "i long, j long, d double"


def _series_np(v) -> np.ndarray:
    """Arrow→numpy for a series cell: 1-D array<double> or 2-D
    array<array<double>> (ndim series arrive as object arrays of rows)."""
    a = np.asarray(v)
    if a.dtype == object:
        a = np.stack([np.asarray(x, dtype=np.float64) for x in v])
    return a.astype(np.float64, copy=False)


def _cells(ids, cells) -> dict:
    """{id: float64 array} from parallel id / series-cell columns, one
    conversion per distinct id; null cells stay None."""
    out = {}
    for i, v in zip(ids, cells):
        i = int(i)
        if i not in out:
            out[i] = None if v is None else _series_np(v)
    return out


def with_index(series_df: DataFrame, order_col: str = "series_id",
               index_col: str = "i", num_partitions: Optional[int] = None,
               persist: bool = True, ordered: bool = True) -> DataFrame:
    """Assign dense 0-based indices by ``order_col`` ordering — two-pass
    per-partition offset scheme, no single-partition exchange.

    Pass 1: range-repartition by ``order_col`` (globally ordered partition
    ranges), sort within partitions, persist, and collect the tiny
    per-partition row counts.  Pass 2: a ``mapInArrow`` running counter
    plus the broadcast cumulative offsets yields the dense global index.
    Every stage is parallel; the only driver data is one count per
    partition.  (Replaces the round-1 global ``row_number()`` that
    serialized the whole corpus through one task.)

    ``ordered=False`` skips the range exchange and sort entirely and
    indexes rows in the input's existing partition layout — still dense
    and stable for a deterministic upstream plan, but in no particular
    ``order_col`` order.  Use it when the index only needs to be a dense
    handle (e.g. symmetric all-pairs jobs that join names back at the
    end): it removes the range-partitioner sampling pass (which re-executes
    the upstream plan) and the sort.
    """
    spark = series_df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    if ordered:
        # Persist the INPUT before the range exchange: repartitionByRange
        # runs a sampling pass that otherwise re-executes the entire
        # upstream plan once just to pick boundaries, and the exchange
        # itself executes it a second time (r6: measured 29 s -> ~10 s
        # for the 15k-series 10x corpus whose upstream is the full
        # rollup -> gap-fill -> arrays pipeline).  Both passes now read
        # the cache; release_all() frees it with every other handle.
        if persist:
            series_df = track_persist(series_df.persist())
        part = (series_df
                .repartitionByRange(num_partitions, F.col(order_col))
                .sortWithinPartitions(order_col)
                .withColumn("__pid", F.spark_partition_id()))
    else:
        part = series_df.withColumn("__pid", F.spark_partition_id())
    if persist:
        part = track_persist(part.persist())
    counts = {r["__pid"]: r["cnt"] for r in
              part.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    out_schema = part.drop("__pid").schema.add(index_col, "long")
    in_names = [f.name for f in part.schema.fields]
    pid_pos = in_names.index("__pid")
    keep_pos = [k for k, name in enumerate(in_names) if name != "__pid"]
    out_names = [in_names[k] for k in keep_pos] + [index_col]

    def assign(batches):
        # mapInArrow, not mapInPandas: the job only appends a counter
        # column, and an Arrow->pandas->Arrow roundtrip would rebuild
        # every array<double> series cell as per-row Python objects
        # (r6: measured ~15 s of pure conversion on the 15k x 504
        # 10x corpus); record batches pass through zero-copy instead.
        import pyarrow as pa

        seen = 0
        for rb in batches:
            if rb.num_rows == 0:
                continue
            base = offsets[int(rb.column(pid_pos)[0].as_py())]
            idx = pa.array(np.arange(base + seen, base + seen + rb.num_rows,
                                     dtype=np.int64), type=pa.int64())
            seen += rb.num_rows
            yield pa.RecordBatch.from_arrays(
                [rb.column(k) for k in keep_pos] + [idx], names=out_names)

    return part.mapInArrow(assign, schema=out_schema)


def _norm_block(block) -> Tuple[Optional[tuple], bool]:
    if block is None or block == 0:
        return None, True
    triu = True
    if len(block) > 2 and block[2] is False:
        triu = False
    return ((int(block[0][0]), int(block[0][1])),
            (int(block[1][0]), int(block[1][1]))), triu


# --- kernel plug -------------------------------------------------------

# Stacked (n, L) matrices of broadcast-held corpus dicts, keyed by dict
# identity: every task in a worker gets the SAME broadcast dict, so the
# stack is built once per worker instead of once per task.  Entries hold
# a strong reference to their dict (which keeps id() stable) and are
# evicted oldest-first once the stacks exceed the byte cap — the default
# broadcast bytes gate, so one admitted corpus always fits and the next
# job's corpus replaces it.
_CORPUS_CACHE: dict = {}
_CORPUS_CACHE_BYTES = 256 * 1024 * 1024


def _corpus_matrix(values_by_idx: dict, cache: bool = False):
    """(ids, V) for an equal-length 1-D corpus dict, or None.  Only the
    broadcast-held corpus passes ``cache=True``; per-group and per-batch
    dicts are fresh objects that no later task can hit."""
    hit = _CORPUS_CACHE.get(id(values_by_idx)) if cache else None
    if hit is not None and hit[0] is values_by_idx:
        return hit[1]
    arrs = list(values_by_idx.values())
    if not arrs or arrs[0].ndim != 1 or any(
            a.ndim != 1 or len(a) != len(arrs[0]) for a in arrs):
        return None
    ids = np.fromiter(values_by_idx.keys(), dtype=np.int64, count=len(arrs))
    order = np.argsort(ids)
    V = np.empty((len(ids), len(arrs[0])), dtype=np.float64)
    for row, k in enumerate(order):
        V[row] = arrs[k]
    res = (ids[order], V)
    if cache:
        held = sum(e[1][1].nbytes for e in _CORPUS_CACHE.values())
        while _CORPUS_CACHE and held + V.nbytes > _CORPUS_CACHE_BYTES:
            held -= _CORPUS_CACHE.pop(next(iter(_CORPUS_CACHE)))[1][1].nbytes
        _CORPUS_CACHE[id(values_by_idx)] = (values_by_idx, res)
    return res


def _compute_pairs(left: np.ndarray, right_idx: np.ndarray,
                   values_by_idx: dict, settings: DtwSettings,
                   right_values: Optional[dict] = None, cache: bool = False):
    """DTW for explicit index pairs ``(left[k], right_idx[k])`` →
    ``(i, j, d)`` in input order.  ``left`` ids index ``values_by_idx``,
    ``right_idx`` ids index ``right_values`` (default: the same dict).

    Equal-length 1-D sources without an LB prefilter go through the
    indexed kernel entry, which reads series rows out of one (n, L)
    matrix — no per-pair input copies.  Everything else is grouped by
    pair shape and stacked at the kernel's batch size, LB_Keogh-
    prefiltered when max_dist is set (not under psi, where LB_Keogh is
    no lower bound).  Results are identical either way."""
    left = np.asarray(left, dtype=np.int64)
    right_idx = np.asarray(right_idx, dtype=np.int64)
    rvals = values_by_idx if right_values is None else right_values
    use_lb = (settings.max_dist is not None and settings.max_dist > 0
              and not any(settings.split_psi()))
    if not use_lb and len(left):
        lc = _corpus_matrix(values_by_idx, cache)
        rc = lc if rvals is values_by_idx else _corpus_matrix(rvals)
        if lc is not None and rc is not None \
                and lc[1].shape[1] == rc[1].shape[1]:
            pi = np.searchsorted(lc[0], left)
            pj = np.searchsorted(rc[0], right_idx)
            V = lc[1]
            if rc is not lc:
                V = np.concatenate([lc[1], rc[1]])
                pj = pj + len(lc[0])
            return left, right_idx, dtw_distance_batch_indexed(
                V, pi, pj, settings=settings)
    d = np.empty(len(left), dtype=np.float64)
    byshape: dict = {}
    for k, (i, j) in enumerate(zip(left, right_idx)):
        byshape.setdefault((len(values_by_idx[i]), len(rvals[j])),
                           []).append(k)
    for (l1, l2), ks in byshape.items():
        ks = np.asarray(ks, dtype=np.int64)
        # slice at the kernel's own cache-optimal batch size so each
        # np.stack copy is a few MB (reused heap), never tens of MB
        bmax = max(64, BATCH_ELEMS // (l1 + l2 + 1))
        for s in range(0, len(ks), bmax):
            sel = ks[s:s + bmax]
            X1 = np.stack([values_by_idx[i] for i in left[sel]])
            X2 = np.stack([rvals[j] for j in right_idx[sel]])
            todo = None
            if use_lb and l1 == l2 and X1.ndim == 2:
                todo = lb_keogh_batch(X1, X2, window=settings.window,
                                      inner_dist=settings.inner_dist) \
                    <= settings.max_dist
            if todo is None or todo.all():
                d[sel] = dtw_distance_batch(X1, X2, settings=settings)
            else:
                d[sel] = np.inf
                if todo.any():
                    d[sel[todo]] = dtw_distance_batch(
                        X1[todo], X2[todo], settings=settings)
    return left, right_idx, d


def _dtw_plug(settings: DtwSettings):
    """Kernel plug for plain DTW: ``plug(data, broadcast_held)`` returns
    ``kernel(ii, jj) -> (i, j, d)`` over the task's series dicts."""
    settings_json = settings.to_json()

    def plug(data: dict, broadcast_held: bool):
        st = DtwSettings.from_json(settings_json)
        vals = data["values"]
        return lambda ii, jj: _compute_pairs(ii, jj, vals, st,
                                             cache=broadcast_held)
    return plug


def _weighted_plug(window: Optional[int]):
    """Kernel plug for weighted DTW: one kernels/extras call per pair,
    the row series' weight profile reshaping the local difference."""
    def plug(data: dict, broadcast_held: bool):
        from ..kernels.extras import weighted_warping_paths

        v, w = data["values"], data["weights"]

        def kernel(ii, jj):
            d = [weighted_warping_paths(v[a], v[b], weights=w[a],
                                        window=window)[0]
                 for a, b in zip(ii, jj)]
            return ii, jj, np.asarray(d, dtype=np.float64)
        return kernel
    return plug


# --- pair space and schedule -------------------------------------------


def _triu_unrank(p: np.ndarray, n: int) -> Tuple[np.ndarray, np.ndarray]:
    """Closed-form unranking of row-major upper-triangular pair indices:
    linear position ``p`` in [0, n(n-1)/2) → (row, col) with row<col.
    Inverse of :func:`condensed_index`; float64-exact for n < 2^26, with
    an integer correction step for boundary round-off."""
    p = np.asarray(p, dtype=np.int64)
    b = 2 * n - 1
    i = np.floor((b - np.sqrt(b * b - 8.0 * p)) / 2).astype(np.int64)
    # correct float round-off at range boundaries
    start = lambda r: r * n - r * (r + 1) // 2
    i = np.where(start(i + 1) <= p, i + 1, i)
    i = np.where(start(i) > p, i - 1, i)
    j = p - start(i) + i + 1
    return i, j


# Pairs per kernel call inside one range: bounds a task's index, output
# and frame arrays (~64 B/pair, so ~128 MB) whatever range size the
# schedule hands it — under the 4B pair gate a first-wave range alone
# can hold n_pairs/(4·par) pairs.
SUBRANGE_PAIRS = 2_000_000


class PairSpace:
    """A row-major linear pair space over sorted dense series ids: the
    full upper triangle over ``rows`` (``cols is None``), or the
    rectangle ``rows × cols`` of a block, optionally filtered to i<j
    (the reference's block semantics, dtw.py:757-761).  Position ``p``
    unranks in closed form, so tasks carry only ``(lo, hi)``."""

    def __init__(self, rows: np.ndarray, cols: Optional[np.ndarray] = None,
                 triu: bool = True):
        self.rows, self.cols, self.triu = rows, cols, triu
        n = len(rows)
        self.n_pairs = n * (n - 1) // 2 if cols is None else n * len(cols)

    @classmethod
    def plan(cls, ids: np.ndarray, blk, triu: bool) -> "PairSpace":
        if blk is None:
            return cls(ids)
        (rb, re_), (cb, ce) = blk
        return cls(ids[(ids >= rb) & (ids < re_)],
                   ids[(ids >= cb) & (ids < ce)], triu)

    def unrank(self, lo: int, hi: int) -> Tuple[np.ndarray, np.ndarray]:
        p = np.arange(lo, hi, dtype=np.int64)
        if self.cols is None:
            r, c = _triu_unrank(p, len(self.rows))
            return self.rows[r], self.rows[c]
        ii = self.rows[p // len(self.cols)]
        jj = self.cols[p % len(self.cols)]
        if self.triu:
            keep = ii < jj
            ii, jj = ii[keep], jj[keep]
        return ii, jj

    def frames(self, lo: int, hi: int, kernel) -> Iterator[pd.DataFrame]:
        """Run ``kernel`` over [lo, hi) in sub-ranges of at most
        :data:`SUBRANGE_PAIRS`, one ``(i, j, d)`` frame each."""
        for a in range(lo, hi, SUBRANGE_PAIRS):
            oi, oj, od = kernel(*self.unrank(a, min(hi, a + SUBRANGE_PAIRS)))
            yield pd.DataFrame({"i": oi, "j": oj, "d": od})

    def ranges(self, ids: np.ndarray, lens: np.ndarray, par: int) -> list:
        """Guided ``(lo, hi)`` schedule weighted by the kernel's cost
        len_i·len_j (``lens`` aligned with ``ids``).  Equal lengths use
        unit weights, so cost is the pair count itself."""
        w = (np.asarray(lens, dtype=np.float64) if lens.min() != lens.max()
             else np.ones(len(lens)))
        wr = w[np.searchsorted(ids, self.rows)]
        if self.cols is None:
            cost_upto, total = _triu_cost_fn(wr)
        else:
            cost_upto, total = _rect_cost_fn(
                wr, w[np.searchsorted(ids, self.cols)])
        return _guided_ranges_cost(cost_upto, self.n_pairs, total, par)


def _guided_ranges_cost(cost_upto, n_pairs: int, total: float,
                        par: int) -> list:
    """Guided-schedule pair ranges measured in estimated kernel cost —
    the reference's OMP ``guided`` distribution of its matrix loop
    (dtw.py:681 ``schedule(guided)``, dd_dtw_openmp.c:111-116),
    re-expressed for Spark's task scheduler.  Range k covers the larger
    of ``remaining / (4·par)`` and a ``total / (24·par)`` floor, so the
    first wave is big and the final wave fine-grained: on a host where
    identical tasks spread 5× (neighbor contention) the tail straggler
    holds a small chunk, not 1/(4·par) of the job.  Profiled 32-way on
    the 1.124M-pair bench corpus, an equal 128-range schedule idled ~30%
    of core-seconds in the decay tail.  (r6: the first-wave divisor went
    2·par → 4·par — a range task's fixed cost is ~ms, and at the sf1.0
    scale 2·par made single tasks ~40 s, so one slowed worker stretched
    the job by most of a wave.)

    Cost, not count: a DTW pair costs O(len_i · len_j), and for a
    power-law ragged corpus an early count-based range can hold 10-100x
    the work of a late one, defeating the guided tail.  The reference's
    guided schedule decays in pair count; the driver here knows every
    length upfront.  With unit weights the schedule is the count one.

    ``cost_upto(p)`` is the closed-form cumulative cost of the first
    ``p`` pairs; boundaries are found by binary search on it, so nothing
    O(n²) is materialized.  Outputs are a partition of [0, n_pairs), and
    the kernel computes the same pairs whatever the boundaries."""
    ranges = []
    lo = 0
    cost_lo = 0.0
    floor_c = max(total / n_pairs, total / (par * 24))
    while lo < n_pairs:
        want = cost_lo + max(floor_c, (total - cost_lo) / (4 * par))
        if want >= total:
            hi = n_pairs
        else:
            a, b = lo + 1, n_pairs
            while a < b:
                mid = (a + b) // 2
                if cost_upto(mid) >= want:
                    b = mid
                else:
                    a = mid + 1
            hi = a
        ranges.append((lo, hi))
        cost_lo = cost_upto(hi)
        lo = hi
    return ranges


def _triu_cost_fn(lens: np.ndarray):
    """(cost_upto, total) for the row-major upper-triangular pair space
    over series with the given lengths (in unranked-id order)."""
    n = len(lens)
    L = np.asarray(lens, dtype=np.float64)
    P = np.concatenate([[0.0], np.cumsum(L)])          # prefix len sums
    row_cost = L[:n - 1] * (P[n] - P[1:n])             # rows 0..n-2
    cumrow = np.concatenate([[0.0], np.cumsum(row_cost)])
    n_pairs = n * (n - 1) // 2
    total = float(cumrow[-1])

    def cost_upto(p: int) -> float:
        if p <= 0:
            return 0.0
        if p >= n_pairs:
            return total
        r, j = _triu_unrank(np.array([p], dtype=np.int64), n)
        r, j = int(r[0]), int(j[0])
        # pairs before p: rows < r complete, plus (r, r+1..j-1)
        return float(cumrow[r] + L[r] * (P[j] - P[r + 1]))

    return cost_upto, total


def _rect_cost_fn(row_lens: np.ndarray, col_lens: np.ndarray):
    """(cost_upto, total) for the rectangular (block) pair space with
    linear order p -> (rows[p // C], cols[p % C])."""
    Lr = np.asarray(row_lens, dtype=np.float64)
    Lc = np.asarray(col_lens, dtype=np.float64)
    Pc = np.concatenate([[0.0], np.cumsum(Lc)])
    sum_c = float(Pc[-1])
    cumrow = np.concatenate([[0.0], np.cumsum(Lr * sum_c)])
    C = len(Lc)
    n_pairs = len(Lr) * C
    total = float(cumrow[-1])

    def cost_upto(p: int) -> float:
        if p <= 0:
            return 0.0
        if p >= n_pairs:
            return total
        r, k = p // C, p % C
        return float(cumrow[r] + Lr[r] * Pc[k])

    return cost_upto, total


# --- planner and the two executors -------------------------------------


def _fits_broadcast(spark, n: int, doubles_per_series: float) -> bool:
    """The physical-strategy gate: broadcast the corpus when its bytes
    and pair count fit under the two ``spark.dtaidistance`` caps.

    The pair cap only bounds how much one job may ask of the range
    executor, not memory held: ranges run in bounded sub-ranges and
    stream their output, so the corpus-bytes gate is the real memory
    guard.  r6: raised 20M → 4B after the driver's sf1.0 leg (15k
    series, 112.5M pairs, corpus 60 MB) fell off the broadcast path and
    paid the blocked shuffle's series replication + groupBy skew for no
    reason; a 3x-escalated corpus is ~1.01B pairs at 181 MB, still
    broadcastable, while ~5x trips the 256 MB bytes gate first."""
    conf = spark.conf
    max_bytes = float(conf.get("spark.dtaidistance.broadcastMatrixMaxBytes",
                               str(256 * 1024 * 1024)))
    max_pairs = int(conf.get("spark.dtaidistance.broadcastMatrixMaxPairs",
                             str(4_000_000_000)))
    return (n * doubles_per_series * 8 <= max_bytes
            and n * (n - 1) // 2 <= max_pairs)


def _all_pairs(series_df: DataFrame, index_col: str, cols: dict, blk,
               triu: bool, chunk_size: Optional[int],
               doubles_per_point: int, plug) -> DataFrame:
    """Plan one all-pairs job: project ``i`` plus the payload columns
    (``cols`` maps payload name → input column, ``values`` first),
    restrict to the block, and pick the strategy.  When the corpus fits
    under the gate it is broadcast and only pair ranges are shuffled;
    otherwise the blocked chunk-pair shuffle runs, which scales to data
    that cannot be broadcast."""
    src = series_df.select(F.col(index_col).cast("long").alias("i"),
                           *[F.col(c).alias(a) for a, c in cols.items()])
    if blk is not None:
        (rb, re_), (cb, ce) = blk
        src = src.where(
            ((F.col("i") >= rb) & (F.col("i") < re_)) |
            ((F.col("i") >= cb) & (F.col("i") < ce)))
    # Persist BEFORE the single stats pass: the upstream plan (often the
    # whole rollup → gap-fill → arrays pipeline) must execute exactly
    # once — round 1 executed it twice (stats agg + broadcast collect),
    # which showed up as a large serial component in the N-vs-4N curve.
    src = track_persist(src.persist())
    stats = src.agg(F.count("*").alias("n"),
                    F.avg(F.size("values")).alias("alen"),
                    F.max("i").alias("imax")).collect()[0]
    n = int(stats["n"] or 0)
    if _fits_broadcast(src.sparkSession, n,
                       float(stats["alen"] or 0) * doubles_per_point):
        return _broadcast_pairs(src, list(cols), blk, triu, plug)
    return _shuffle_pairs(src, list(cols), blk, triu, chunk_size,
                          stats["imax"], plug)


def _collect_columns(src: DataFrame, cols: list) -> dict:
    """Collect ``i`` plus ``cols`` in one ``toArrow()`` into
    ``{col: {id: float64 array}}``.

    Flat ``array<double>`` columns become numpy slice views of the one
    contiguous Arrow values buffer — no per-row Python objects (r6:
    ``toPandas`` rebuilt every cell as an object array; at 15k x 504
    that conversion dwarfed the driver collect itself).  Nested (n-D
    series, weight profiles) cells go through :func:`_series_np`; null
    cells stay None."""
    tb = src.select("i", *cols).toArrow()
    ids = tb.column("i").to_numpy()
    out = {}
    for c in cols:
        va = tb.column(c).combine_chunks()
        if (pa.types.is_list(va.type)
                and pa.types.is_float64(va.type.value_type)
                and va.null_count == 0 and va.values.null_count == 0):
            off = va.offsets.to_numpy()
            buf = va.values.to_numpy()
            out[c] = {int(ids[k]): buf[off[k]:off[k + 1]]
                      for k in range(len(ids))}
        else:
            out[c] = _cells(ids, va.to_numpy(zero_copy_only=False))
    return out


def _broadcast_pairs(src: DataFrame, cols: list, blk, triu: bool,
                     plug) -> DataFrame:
    """Broadcast-corpus strategy: the series dicts are broadcast once
    and work is distributed as guided ``(lo, hi)`` pair-range tasks.
    Pair coordinates are unranked INSIDE each task — the driver never
    materializes the O(n²) pair list, only the O(n) ids."""
    spark = src.sparkSession
    sc = spark.sparkContext
    data = _collect_columns(src, cols)
    ids = np.array(sorted(data["values"]), dtype=np.int64)
    space = PairSpace.plan(ids, blk, triu)
    if space.n_pairs == 0:
        return spark.createDataFrame([], PAIR_SCHEMA)
    lens = np.array([len(data["values"][int(i)]) for i in ids],
                    dtype=np.int64)
    ranges = space.ranges(ids, lens, sc.defaultParallelism)
    # one range per partition, IN ORDER (big ranges first): Spark
    # launches tasks by partition index as slots free, which is exactly
    # OMP guided scheduling.  parallelize(n items, n slices) keeps the
    # order; .repartition() would round-robin it away.
    rdf = spark.createDataFrame(sc.parallelize(ranges, len(ranges)),
                                "lo long, hi long")
    data_b = track_broadcast(sc.broadcast(data))
    space_b = track_broadcast(sc.broadcast(space))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kernel = plug(data_b.value, True)
        for pdf in batches:
            for lo, hi in zip(pdf["lo"], pdf["hi"]):
                yield from space_b.value.frames(int(lo), int(hi), kernel)

    return rdf.mapInPandas(compute, schema=PAIR_SCHEMA)


def _shuffle_pairs(src: DataFrame, cols: list, blk, triu: bool,
                   chunk_size: Optional[int], imax, plug) -> DataFrame:
    """Blocked chunk-pair strategy for corpora above the broadcast gate:
    each surviving chunk pair is one ``applyInPandas`` group whose pair
    set is the rectangle of its two chunks' ids (restricted to the
    block, i<j under triu), run through the same pair-space executor."""
    par = src.sparkSession.sparkContext.defaultParallelism
    # the broadcast-join fan-out below multiplies each row ~n/chunk_size
    # times in the map stage — that write must come from enough tasks
    if src.rdd.getNumPartitions() < max(2, par // 2):
        src = src.repartition(par)
    if chunk_size is None:
        # ≈8 groups per core: enough units for the scheduler to balance
        # the quadratic per-group cost, while keeping series replication
        # (one copy per partner chunk) low
        n = int(imax) + 1 if imax is not None else 1
        n_chunks = max(1, int(np.ceil(np.sqrt(16.0 * par))))
        chunk_size = max(8, -(-n // n_chunks))
    tagged = _chunk_pair_tagged(src, chunk_size, triu, blk, cols, par)

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, side = pdf["i"].to_numpy(), pdf["side"].to_numpy()
        data = {c: _cells(ids, pdf[c]) for c in cols}
        rows, cols_ = np.unique(ids[side == 0]), np.unique(ids[side == 1])
        if blk is not None:
            (rb, re_), (cb, ce) = blk
            rows = rows[(rows >= rb) & (rows < re_)]
            cols_ = cols_[(cols_ >= cb) & (cols_ < ce)]
        space = PairSpace(rows, cols_, triu)
        frames = list(space.frames(0, space.n_pairs, plug(data, False)))
        if not frames:
            return pd.DataFrame({"i": np.array([], np.int64),
                                 "j": np.array([], np.int64),
                                 "d": np.array([], np.float64)})
        return pd.concat(frames, ignore_index=True)

    return tagged.groupBy("ci", "cj").applyInPandas(compute, schema=PAIR_SCHEMA)


def _chunk_pair_tagged(src: DataFrame, chunk_size: int, triu: bool, blk,
                       data_cols: list, par: int) -> DataFrame:
    """Chunked-shuffle plan: assign chunk ids, prune the chunk-pair
    space declaratively (triangular symmetry + block restriction — the
    reference's own distribution primitive, dtw.py:757-761), replicate
    each row to its surviving partner chunks, and hash-repartition on the
    group key.  Callers groupBy("ci","cj") and apply their kernel.

    The explicit repartition matters: the UDF stage's cost is CPU
    (quadratic pairs per group), not bytes — AQE's byte-based partition
    coalescing must not shrink its parallelism (observed 3×32 cores idle
    when it did).  groupBy reuses this partitioning, and AQE leaves
    user-specified repartitioning alone.

    Chunk ids (r5, VERDICT r4 item 4): ragged corpora get LENGTH-
    balanced chunks so each chunk holds ~equal total series length and
    the quadratic per-group cost stays ~equal under power-law lengths.
    Scale shape: one parallel histogram aggregate over fine id-range
    buckets (≤64k rows to the driver — never a single-partition window
    or a full-id collect), driver prefix-sums it into bucket→chunk
    boundaries, broadcast-joined back.  Chunk ids stay monotone in
    ``i``, so the triangular chunk-pair pruning below stays exact.
    Equal-length corpora keep the plain ``i // chunk_size`` projection
    (no extra jobs); block restriction keeps fixed-size chunks (its
    pruning arithmetic indexes chunks by ``id // chunk_size``)."""
    len_col = F.size(data_cols[0])
    probe = None
    if blk is None:
        # ONE combined aggregate decides raggedness AND feeds the
        # histogram bounds — previously this was two extra full scans
        probe = src.agg(
            (F.min(len_col) != F.max(len_col)).alias("r"),
            F.min("i"), F.max("i"), F.sum(len_col),
            F.count("*")).collect()[0]
    ragged = bool(probe and probe["r"])
    if ragged:
        _, imin, imax, tot, n_rows = probe
        n_chunks = max(1, -(-int(n_rows) // chunk_size))
        nb = min(max(n_chunks * 64, 256), 65536)
        span = int(imax) - int(imin) + 1
        bexpr = ((F.col("i") - F.lit(int(imin))) * nb / span).cast("long")
        hist = sorted(src.groupBy(bexpr.alias("b"))
                      .agg(F.sum(len_col).alias("s")).collect())
        target = max(1.0, float(tot) / n_chunks)
        cum = 0
        mapping = []
        for r in hist:
            # chunk from the length mass BEFORE the bucket: monotone
            # nondecreasing in b, hence in i
            mapping.append((int(r["b"]),
                            min(int(cum / target), n_chunks - 1)))
            cum += int(r["s"])
        mdf = src.sparkSession.createDataFrame(mapping, "b long, chunk long")
        src = src.withColumn("b", bexpr) \
                 .join(F.broadcast(mdf), "b").drop("b")
    else:
        src = src.withColumn("chunk", (F.col("i") / chunk_size).cast("long"))
    chunks = src.select("chunk").distinct()
    ca = chunks.select(F.col("chunk").alias("ci"))
    cb_df = chunks.select(F.col("chunk").alias("cj"))
    cp = ca.crossJoin(cb_df)
    if triu:
        cp = cp.where(F.col("ci") <= F.col("cj"))
    if blk is not None:
        (rb, re_), (cb, ce) = blk
        cp = cp.where(
            (F.col("ci") >= rb // chunk_size) & (F.col("ci") <= (re_ - 1) // chunk_size) &
            (F.col("cj") >= cb // chunk_size) & (F.col("cj") <= (ce - 1) // chunk_size))
    left = src.join(F.broadcast(cp), src["chunk"] == cp["ci"]) \
              .select("ci", "cj", F.lit(0).alias("side"), "i", *data_cols)
    right = src.join(F.broadcast(cp), src["chunk"] == cp["cj"]) \
               .select("ci", "cj", F.lit(1).alias("side"), "i", *data_cols)
    return left.unionByName(right).repartition(4 * par, "ci", "cj")


# --- entry points ------------------------------------------------------


def distance_matrix(series_df: DataFrame, settings: Optional[DtwSettings] = None,
                    block=None, chunk_size: Optional[int] = None,
                    index_col: str = "i", values_col: str = "values",
                    **kwargs) -> DataFrame:
    """All-pairs DTW distances → long DataFrame ``(i, j, d)``.

    ``block=((rb,re),(cb,ce)[,triu])`` follows reference semantics
    (dtw.py:730, :757-761): with triu (default) only pairs ``i<j`` inside
    the block are produced; with ``triu=False`` the full rectangle.

    ``chunk_size`` applies to the chunk-pair shuffle strategy only;
    ``None`` sizes chunks so the pair space yields ≈8 groups per core.
    """
    s = settings if settings is not None else DtwSettings(**kwargs)
    blk, triu = _norm_block(block)
    return _all_pairs(series_df, index_col, {"values": values_col}, blk,
                      triu, chunk_size, 1, _dtw_plug(s))


def distance_matrix_weighted(series_df: DataFrame, window: Optional[int] = None,
                             index_col: str = "i", values_col: str = "values",
                             weights_col: str = "weights") -> DataFrame:
    """All-pairs *weighted* DTW (reference dtw_weighted.py:121-152
    distance_matrix): per-point 8-knot weight profiles reshape the local
    difference of the row series.  The per-pair kernel is
    kernels/extras.weighted_warping_paths.  Like the reference (triu
    only, matrix[i,j] uses weights[i]), the output is asymmetric in
    principle and only i<j pairs are produced.  Same planner and
    executors as :func:`distance_matrix`; the gate counts values plus
    weight profiles, 9 doubles per point."""
    return _all_pairs(series_df, index_col,
                      {"values": values_col, "weights": weights_col},
                      None, True, None, 9, _weighted_plug(window))


def distance_matrix_cross(query_df: DataFrame, corpus_df: DataFrame,
                          settings: Optional[DtwSettings] = None,
                          index_col: str = "i", values_col: str = "values",
                          **kwargs) -> DataFrame:
    """Rectangular cross-set distances (reference ``_matrices`` variant,
    dd_dtw.c:5227-5323): every query × every corpus series.  The query
    set is broadcast (it is small by assumption); the corpus streams
    through the DTW kernel plug, queries as the left value source and
    corpus series as the right."""
    s = settings if settings is not None else DtwSettings(**kwargs)
    settings_json = s.to_json()
    q = query_df.select(F.col(index_col).cast("long").alias("qi"),
                        F.col(values_col).alias("qvalues"))
    c = corpus_df.select(F.col(index_col).cast("long").alias("i"),
                         F.col(values_col).alias("values"))
    joined = c.crossJoin(F.broadcast(q))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st = DtwSettings.from_json(settings_json)
        for pdf in batches:
            qi, ci = pdf["qi"].to_numpy(), pdf["i"].to_numpy()
            oq, oc, od = _compute_pairs(
                qi, ci, _cells(qi, pdf["qvalues"]), st,
                right_values=_cells(ci, pdf["values"]))
            yield pd.DataFrame({"qi": oq, "i": oc, "d": od})

    return joined.mapInPandas(compute, schema="qi long, i long, d double")


# --- driver-side assembly (small n only; reference dtw.py:831-862) ---


def condensed_index(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Closed form of the reference's distance_array_index (dtw.py:853-862):
    row-major upper-triangular position of pair (a<b) among n series."""
    a = np.minimum(a, b), np.maximum(a, b)
    lo, hi = a
    return lo * n - lo * (lo + 1) // 2 + hi - lo - 1


def to_condensed(dist_df: DataFrame, n: int) -> np.ndarray:
    """Collect the long pair table into the reference's condensed
    upper-triangular array ordering (dtw.py:865-884)."""
    pdf = dist_df.toPandas()
    out = np.full(n * (n - 1) // 2, np.inf)
    idx = condensed_index(pdf["i"].to_numpy(), pdf["j"].to_numpy(), n)
    out[idx] = pdf["d"].to_numpy()
    return out


def to_matrix(dist_df: DataFrame, n: int, only_triu: bool = False) -> np.ndarray:
    """Collect into a full n×n matrix (inf off-block, 0 diagonal unless
    only_triu — reference distances_array_to_matrix, dtw.py:831-850)."""
    pdf = dist_df.toPandas()
    m = np.full((n, n), np.inf)
    m[pdf["i"].to_numpy(), pdf["j"].to_numpy()] = pdf["d"].to_numpy()
    if not only_triu:
        m[pdf["j"].to_numpy(), pdf["i"].to_numpy()] = pdf["d"].to_numpy()
        np.fill_diagonal(m, 0.0)
    return m
