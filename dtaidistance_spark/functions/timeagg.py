"""Counter, time-weighted and duration aggregates over point series —
the north-rule continuous-aggregate families the tier rollups don't
cover:

* ``counter_delta`` / ``counter_rate`` — reset-aware monotone-counter
  deltas (the public TimescaleDB ``counter_agg`` / Prometheus
  ``increase`` contract): a counter that wraps or restarts contributes
  its post-reset value, never a negative delta.
* ``time_weighted_avg`` — trapezoidal time-weighted average per bucket
  (the public TimescaleDB ``time_weighted_average`` contract with the
  'linear' interpolation method), for irregularly sampled series where
  a plain ``avg`` over-weights bursts.
* ``state_durations`` — time-in-state per bucket (the ``state_agg`` /
  ``duration_in`` contract), intervals attributed exactly to every
  bucket they overlap.
* ``heartbeat_uptime`` — liveness seconds per bucket (the
  ``heartbeat_agg``/``uptime`` contract).

All four are pure JVM column algebra (window lag/lead + hash
aggregation): one hash exchange on the series key for the per-series
window, then a map-side-partial aggregation onto (series, bucket).  No
Python in the plan, so they run at scan speed at 100 TB; the
per-series window is the same shape as the latency ingest and inherits
the same skew remedy (`operators/ingest._latency_lag_salted`) if a
single series ever dominates a partition.

Bucket boundaries come from ``date_trunc`` but the interval-splitting
operators step the bucket grid by a FIXED width (86 400 s days), which
is only correct in UTC or another DST-free session timezone —
``session.py`` pins UTC, matching Spark's own recommendation for
warehouse jobs; run these under a DST-shifting session timezone and
day buckets will drift across transitions.

The reference library has no notion of timestamps (SURVEY.md §1.1:
position IS the time axis), so these operators are engine-native
additions on the rollup layer, not reference ports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..operators.rollup import BUCKET_SPEC

# single source of truth for bucket widths — derived from the rollup
# tiers' BUCKET_SPEC so a new bucket width lands everywhere at once
_TRUNC = {k: trunc for k, (trunc, _) in BUCKET_SPEC.items()}
_BUCKET_US = {k: secs * 1_000_000 for k, (_, secs) in BUCKET_SPEC.items()}


def _epoch_us(col):
    return F.unix_micros(F.col(col).cast("timestamp"))


def packed_order_key(ts_col: str, order_col: str):
    """A DECIMAL(38,0) key order-isomorphic to ``(ts, order_col)``:
    zero-padded decimal digits of ``unix_micros(ts)`` (20) ++
    ``order_col`` (18), built by string concat so no decimal arithmetic
    can lose precision.  A min_by/max_by buffer of this type is
    fixed-width mutable, so the aggregation runs as a map-side-partial
    HashAggregate; a ``struct(ts, order)`` key orders identically but
    silently demotes it to SortAggregate (full sort per bucket; r6).

    Exact only for ts >= epoch and 0 <= order_col < 10^18: a pre-epoch
    ts would cast to a NULL key and an order of 19+ digits would be
    truncated by ``lpad``.  Both raise at runtime instead."""
    us = _epoch_us(ts_col)
    order = F.col(order_col)
    key = F.concat(F.lpad(us.cast("string"), 20, "0"),
                   F.lpad(order.cast("string"), 18, "0"),
                   ).cast("decimal(38,0)")
    bad = (us < 0) | (order < 0) | (order >= 10 ** 18)
    return F.when(bad, F.raise_error(F.format_string(
        "packed_order_key: %s=%s or %s=%s outside ts >= epoch and "
        "0 <= order < 10^18", F.lit(ts_col), F.col(ts_col).cast("string"),
        F.lit(order_col), order.cast("string")))).otherwise(key)


def counter_delta(
    points: DataFrame,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple = (),
) -> DataFrame:
    """Per-sample reset-aware counter delta.

    ``delta = value - prev_value`` when the counter grew, else
    ``value`` (the counter reset/wrapped and restarted from zero, so
    only the post-reset growth is observable — the TimescaleDB
    ``counter_agg`` / Prometheus reset rule).  The first sample of each
    series has a NULL delta.

    ``order_cols`` breaks ties after ``ts_col`` (e.g. an event id) so
    the per-series order — and therefore every delta — is stable under
    any physical layout.
    """
    w = W.partitionBy(series_col).orderBy(ts_col, *order_cols)
    prev = F.lag(value_col).over(w)
    delta = (
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .when(F.col(value_col) >= prev, F.col(value_col) - prev)
        .otherwise(F.col(value_col))
    )
    return points.withColumn("delta", delta)


def counter_rate(
    points: DataFrame,
    every: str = "1h",
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple = (),
) -> DataFrame:
    """Per-(series, bucket) counter increase and per-second rate.

    ``idelta`` sums the reset-aware deltas of the samples that land in
    the bucket (each delta is attributed to the bucket of its *right*
    endpoint, so bucket sums partition the total increase exactly);
    ``rate_per_s`` divides by the observed in-bucket span
    ``(max ts − min ts)`` and is NULL for single-sample buckets.
    Output: ``series_id, bucket_ts, n, idelta, rate_per_s``.
    """
    trunc = _TRUNC[every]
    d = counter_delta(points, series_col, ts_col, value_col, order_cols)
    span_s = (F.max(_epoch_us(ts_col)) - F.min(_epoch_us(ts_col))) / F.lit(1e6)
    return (
        d.groupBy(
            F.col(series_col).alias("series_id"),
            F.date_trunc(trunc, ts_col).alias("bucket_ts"),
        )
        .agg(
            F.count(value_col).alias("n"),
            F.round(F.sum("delta"), 6).alias("idelta"),
            span_s.alias("_span_s"),
        )
        .select(
            "series_id",
            "bucket_ts",
            "n",
            "idelta",
            F.when(
                F.col("_span_s") > 0,
                F.round(F.col("idelta") / F.col("_span_s"), 6),
            ).alias("rate_per_s"),
        )
    )


def _bucket_overlap(iv: DataFrame, trunc: str, step: int,
                    key_cols: tuple) -> DataFrame:
    """Shared interval→bucket attribution: explode each ``[_us,
    _end_us)`` interval onto every fixed-width bucket it overlaps
    (bounded ``sequence`` — one extra row per spanned bucket) and emit
    the integer-microsecond overlap per (``*key_cols``, bucket).
    Integer sums are exact in any order; callers divide once at the
    end, so results are bit-stable across engines and partitionings."""
    rows = iv.select(
        *key_cols, "_us", "_end_us",
        F.explode(F.sequence(
            F.unix_micros(F.date_trunc(
                trunc, F.timestamp_micros(F.col("_us")))),
            F.unix_micros(F.date_trunc(
                trunc, F.timestamp_micros(F.col("_end_us") - 1))),
            F.lit(step))).alias("_bstart"),
    )
    overlap = (F.least("_end_us", F.col("_bstart") + F.lit(step))
               - F.greatest("_us", F.col("_bstart")))
    return rows.select(
        *key_cols,
        F.timestamp_micros(F.col("_bstart")).alias("bucket_ts"),
        overlap.alias("_ov_us"),
    )


def state_durations(
    points: DataFrame,
    every: str = "1d",
    series_col: str = "series_id",
    ts_col: str = "ts",
    state_col: str = "state",
    order_cols: tuple = (),
) -> DataFrame:
    """Per-(series, bucket, state) time-in-state — the public
    TimescaleDB ``state_agg``/``duration_in`` contract: each sample
    opens its state until the series' next sample, and the interval is
    attributed exactly to every bucket it overlaps, so per-bucket
    durations partition the total observed span (the series' last
    sample closes nothing and contributes none).
    Output: ``series_id, bucket_ts, state, n, dur_s`` where ``n``
    counts the intervals overlapping the bucket.

    Plan: one per-series window exchange for ``lead``, a bounded
    ``sequence``+``explode`` over the buckets each interval spans (one
    extra row per spanned bucket — at observability state-change rates
    the expansion is ~1), then map-side partial aggregation.  Durations
    are summed as integer microseconds — exact in any order — and
    divided once at the end, so the result is bit-stable across
    engines and partitionings.
    """
    trunc = _TRUNC[every]
    step = _BUCKET_US[every]
    w = W.partitionBy(series_col).orderBy(ts_col, *order_cols)
    us = _epoch_us(ts_col)
    iv = (
        points.select(
            F.col(series_col).alias("series_id"),
            F.col(state_col).alias("state"),
            us.alias("_us"),
            F.lead(us).over(w).alias("_end_us"),
        )
        .where(F.col("_end_us").isNotNull()
               & (F.col("_end_us") > F.col("_us")))
    )
    return (
        _bucket_overlap(iv, trunc, step, ("series_id", "state"))
        .groupBy("series_id", "bucket_ts", "state")
        .agg(
            F.count("_ov_us").alias("n"),
            F.round(F.sum("_ov_us") / F.lit(1e6), 6).alias("dur_s"),
        )
    )


def heartbeat_uptime(
    points: DataFrame,
    every: str = "1d",
    tolerance_s: int = 300,
    series_col: str = "series_id",
    ts_col: str = "ts",
    order_cols: tuple = (),
) -> DataFrame:
    """Per-(series, bucket) liveness seconds — the public TimescaleDB
    ``heartbeat_agg``/``uptime`` contract: each heartbeat keeps the
    series live for ``tolerance_s`` seconds or until the next
    heartbeat, whichever comes first (the final heartbeat gets its
    full tolerance window).  Live intervals are disjoint by
    construction and attributed exactly to every bucket they overlap,
    so per-bucket uptime never exceeds the bucket length.
    Output: ``series_id, bucket_ts, n, uptime_s``.

    Same plan shape as :func:`state_durations` (one window exchange,
    bounded sequence+explode, integer-microsecond sums, one final
    division)."""
    trunc = _TRUNC[every]
    step = _BUCKET_US[every]
    tol_us = int(tolerance_s) * 1_000_000
    w = W.partitionBy(series_col).orderBy(ts_col, *order_cols)
    us = _epoch_us(ts_col)
    # least() skips NULL arguments, so the final beat (lead = NULL)
    # gets its full tolerance window with no explicit fallback
    end_us = F.least(F.lead(us).over(w), us + F.lit(tol_us))
    iv = (
        points.select(
            F.col(series_col).alias("series_id"),
            us.alias("_us"),
            end_us.alias("_end_us"),
        )
        .where(F.col("_end_us") > F.col("_us"))
    )
    return (
        _bucket_overlap(iv, trunc, step, ("series_id",))
        .groupBy("series_id", "bucket_ts")
        .agg(
            F.count("_ov_us").alias("n"),
            F.round(F.sum("_ov_us") / F.lit(1e6), 6).alias("uptime_s"),
        )
    )


def time_weighted_avg(
    points: DataFrame,
    every: str = "1h",
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple = (),
) -> DataFrame:
    """Per-(series, bucket) trapezoidal time-weighted average.

    Every consecutive in-bucket sample pair contributes
    ``(v_prev + v) / 2 · Δt``; the weighted sum is divided by the
    observed in-bucket span ``(max ts − min ts)``.  Pairs that straddle
    a bucket boundary are excluded (bucket-local interpolation only),
    so a bucket needs ≥ 2 samples to produce a value — single-sample
    buckets emit NULL ``twa`` (n is still reported).
    Output: ``series_id, bucket_ts, n, twa``.
    """
    trunc = _TRUNC[every]
    w = W.partitionBy(series_col).orderBy(ts_col, *order_cols)
    prev_v = F.lag(value_col).over(w)
    prev_us = F.lag(_epoch_us(ts_col)).over(w)
    bucket = F.date_trunc(trunc, ts_col)
    same_bucket = F.date_trunc(trunc, F.lag(ts_col).over(w)) == bucket
    # per-pair trapezoid weight in value·seconds — identical one-row
    # IEEE arithmetic on both engines.  The float SUM of weights is
    # aggregation-order-dependent in the last ulp; round(…, 6)
    # collapses that in practice, but (unlike the integer-microsecond
    # duration sums) it is not a proof — a sum landing within half an
    # ulp of a 0.5e-6 rounding edge could still flip the 6th decimal
    # across engines
    wpart = F.when(
        prev_v.isNotNull() & same_bucket,
        (prev_v + F.col(value_col))
        / F.lit(2.0)
        * ((_epoch_us(ts_col) - prev_us) / F.lit(1e6)),
    )
    return (
        points.select(
            F.col(series_col).alias("series_id"),
            bucket.alias("bucket_ts"),
            F.col(ts_col).alias("_ts"),
            wpart.alias("_w"),
        )
        .groupBy("series_id", "bucket_ts")
        .agg(
            F.count("_ts").alias("n"),
            F.round(F.sum("_w"), 6).alias("_wsum"),
            (
                (F.max(F.unix_micros(F.col("_ts").cast("timestamp")))
                 - F.min(F.unix_micros(F.col("_ts").cast("timestamp"))))
                / F.lit(1e6)
            ).alias("_span_s"),
        )
        .select(
            "series_id",
            "bucket_ts",
            "n",
            F.when(
                F.col("_span_s") > 0,
                F.round(F.col("_wsum") / F.col("_span_s"), 6),
            ).alias("twa"),
        )
    )


def candlestick(
    points: DataFrame,
    every: str = "1h",
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple = (),
    pack_key: bool = False,
) -> DataFrame:
    """Per-(series, bucket) OHLC candlestick — the public TimescaleDB
    ``candlestick_agg`` contract: ``open`` is the value at the bucket's
    first sample, ``close`` at its last, ``high``/``low`` the extremes.

    All four outputs are exact SELECTIONS of input values (``min_by``/
    ``max_by`` on a ``(ts, *order_cols)`` struct key plus plain
    ``min``/``max``) — no arithmetic, so results are bit-identical
    across engines and partitionings without rounding.  ``order_cols``
    breaks timestamp ties so open/close are stable under any physical
    layout.  Output: ``series_id, bucket_ts, n, open, high, low,
    close``.

    Plan: ONE map-side-partial hash aggregation onto (series, bucket)
    — no window, no per-series exchange (min_by/max_by partials
    combine associatively), so this is the cheapest aggregate in the
    family and scales at scan speed.

    ``pack_key=True`` (single integral ``order_cols`` only) replaces
    the struct key with `packed_order_key`: identical ordering =>
    identical open/close, but the aggregation actually RUNS as the
    map-side-partial HashAggregate described above.  Its domain
    (ts >= epoch, 0 <= order_col < 10^18) is checked at runtime; the
    struct key remains the default for anything else.
    """
    trunc = _TRUNC[every]
    if pack_key:
        if len(order_cols) != 1:
            raise ValueError("pack_key requires exactly one order col")
        key = packed_order_key(ts_col, order_cols[0])
    else:
        key = F.struct(F.col(ts_col), *[F.col(c) for c in order_cols])
    return (
        points.groupBy(
            F.col(series_col).alias("series_id"),
            F.date_trunc(trunc, ts_col).alias("bucket_ts"),
        )
        .agg(
            F.count(value_col).alias("n"),
            F.min_by(value_col, key).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(value_col, key).alias("close"),
        )
    )


def state_transitions(
    points: DataFrame,
    max_gap_s: int | None = None,
    series_col: str = "series_id",
    ts_col: str = "ts",
    state_col: str = "state",
    order_cols: tuple = (),
) -> DataFrame:
    """Per-series state-transition (Markov) matrix — the sequence
    companion of ``state_durations``' time-in-state contract: for each
    consecutive sample pair in (``ts_col``, ``order_cols``) order, one
    (from_state, to_state) observation; output the per-series
    transition counts and the row-normalized first-order Markov
    probabilities P(to | from).  ``max_gap_s`` drops pairs further
    apart than the threshold (a session boundary — a transition across
    a long silence is not turn-taking dynamics), mirroring the
    sessionize gap rule.

    Output: ``series_id, from_state, to_state, cnt, prob`` with
    ``prob = cnt / Σ cnt over the from-state row``.

    Plan: ONE per-series window exchange for ``lead`` (the same
    exchange shape as ``state_durations``), then map-side-partial
    counting; the row normalization joins the tiny per-(series, from)
    totals back — |states|²-bounded data after the first aggregation.
    Counts are exact integers and the probability one division, so SQL
    twins hash-match; pass ``order_cols`` (e.g. an event id) to break
    timestamp ties deterministically.
    """
    w = W.partitionBy(series_col).orderBy(ts_col, *order_cols)
    us = _epoch_us(ts_col)
    pr = (points.select(
            F.col(series_col).alias("series_id"),
            F.col(state_col).alias("from_state"),
            us.alias("_us"),
            F.lead(F.col(state_col)).over(w).alias("to_state"),
            F.lead(us).over(w).alias("_us2"))
          .where(F.col("to_state").isNotNull()))
    if max_gap_s is not None:
        pr = pr.where(F.col("_us2") - F.col("_us")
                      <= int(max_gap_s) * 1_000_000)
    cnt = (pr.groupBy("series_id", "from_state", "to_state")
           .agg(F.count(F.lit(1)).alias("cnt")))
    tot = (cnt.groupBy("series_id", "from_state")
           .agg(F.sum("cnt").alias("_tot")))
    return (cnt.join(tot, ["series_id", "from_state"])
            .select("series_id", "from_state", "to_state", "cnt",
                    (F.col("cnt").cast("double")
                     / F.col("_tot").cast("double")).alias("prob")))


def funnel_conversion(
    points: DataFrame,
    steps,
    within_s: int | None = None,
    series_col: str = "series_id",
    ts_col: str = "ts",
    state_col: str = "state",
) -> DataFrame:
    """Ordered funnel conversion over an event stream — the classic
    product-analytics read-out next to ``state_transitions``'
    unordered dynamics: step i is reached at the EARLIEST event of
    type ``steps[i]`` at-or-after the step i−1 reach time (ties on
    the timestamp count — the reach rule is a pure ``min`` over
    ``ts ≥ prev``, so no event-order tiebreak is needed), optionally
    bounded to ``within_s`` seconds of the step-0 time (the
    conversion-window form).

    Output one row per step: ``step_idx, step, n_reached,
    rate_from_start, rate_from_prev`` — counts of series reaching the
    step and the two conversion-rate conventions.

    Plan: |steps| chained min-aggregations joined on the series key —
    each input is pre-filtered to ONE step's event type before its
    shuffle, so every stage moves only that step's events; the final
    count is one tiny aggregate.  Exact integer counts and one
    division per rate keep SQL twins hash-exact.
    """
    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("need at least 2 funnel steps")
    us = _epoch_us(ts_col)
    ev = points.select(F.col(series_col).alias("_k"),
                       F.col(state_col).alias("_st"), us.alias("_us"))
    reach = (ev.where(F.col("_st") == steps[0])
             .groupBy("_k").agg(F.min("_us").alias("_t0")))
    tcols = ["_t0"]
    for i, s in enumerate(steps[1:], start=1):
        prev = tcols[-1]
        cand = (ev.where(F.col("_st") == s)
                .join(reach.select("_k", F.col(prev).alias("_p"),
                                   F.col("_t0").alias("_w0")), "_k")
                .where(F.col("_us") >= F.col("_p")))
        if within_s is not None:
            cand = cand.where(F.col("_us") <= F.col("_w0")
                              + int(within_s) * 1_000_000)
        ri = cand.groupBy("_k").agg(F.min("_us").alias(f"_t{i}"))
        reach = reach.join(ri, "_k", "left")
        tcols.append(f"_t{i}")
    counts = reach.agg(*[F.count(F.col(c)).alias(f"n{i}")
                         for i, c in enumerate(tcols)])
    # ONE explode over the single counts row — a unionAll of
    # per-step selects would replicate the whole chained-join plan
    # |steps| times
    step_structs = F.array(*[
        F.struct(F.lit(i).alias("step_idx"), F.lit(s).alias("step"),
                 F.col(f"n{i}").cast("long").alias("n"),
                 F.col("n0").cast("long").alias("n_start"),
                 F.col(f"n{max(i - 1, 0)}").cast("long").alias("n_prev"))
        for i, s in enumerate(steps)])
    ex = counts.select(F.explode(step_structs).alias("s"))
    n_i = F.col("s.n")
    return ex.select(
        F.col("s.step_idx").alias("step_idx"),
        F.col("s.step").alias("step"),
        n_i.alias("n_reached"),
        F.when(F.col("s.n_start") > 0,
               n_i.cast("double") / F.col("s.n_start").cast("double"))
        .alias("rate_from_start"),
        F.when(F.col("s.n_prev") > 0,
               n_i.cast("double") / F.col("s.n_prev").cast("double"))
        .alias("rate_from_prev"))


def transition_latency(
    points: DataFrame,
    max_gap_s: int | None = None,
    series_col: str = "series_id",
    ts_col: str = "ts",
    state_col: str = "state",
    order_cols: tuple = (),
) -> DataFrame:
    """Latency statistics per state transition — "how long after a
    view does the purchase come": for every consecutive sample pair in
    (``ts_col``, ``order_cols``) order (the ``state_transitions``
    pairing, same optional ``max_gap_s`` session gate), the gap in
    seconds, aggregated per (from_state, to_state) corpus-wide as
    ``n``, mean, and the RANK-EXACT median (middle element, or the
    exact average of the two middles — the latency_quantiles
    convention, not an interpolating approximation).

    Plan: ONE per-series window exchange for the lead, then a keyed
    aggregation for n/mean and one rank window over the
    (from, to)-partitioned gaps for the median — no per-group
    collect_list, so a hot transition pair never materializes an
    array.  Gaps are exact integer microseconds; mean and median are
    one fixed IEEE tree each, so SQL twins hash-match.

    Output: (from_state, to_state, n, avg_gap_s, p50_gap_s).
    """
    w = W.partitionBy(series_col).orderBy(ts_col, *order_cols)
    us = _epoch_us(ts_col)
    pr = (points.select(
            F.col(series_col).alias("_k"),
            F.col(state_col).alias("from_state"),
            us.alias("_us"),
            F.lead(F.col(state_col)).over(w).alias("to_state"),
            F.lead(us).over(w).alias("_us2"))
          .where(F.col("to_state").isNotNull())
          .withColumn("_gap_us", F.col("_us2") - F.col("_us")))
    if max_gap_s is not None:
        pr = pr.where(F.col("_gap_us") <= int(max_gap_s) * 1_000_000)
    agg = pr.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_gap_us").alias("_sum_us"))
    rw = W.partitionBy("from_state", "to_state").orderBy("_gap_us")
    ranked = pr.withColumn("_r", F.row_number().over(rw))
    med = (ranked.join(agg.select("from_state", "to_state", "n"),
                       ["from_state", "to_state"])
           .where(((F.col("n") % 2 == 1)
                   & (F.col("_r") == (F.col("n") + 1) / 2))
                  | ((F.col("n") % 2 == 0)
                     & ((F.col("_r") == F.col("n") / 2)
                        | (F.col("_r") == F.col("n") / 2 + 1))))
           .groupBy("from_state", "to_state")
           .agg((F.sum("_gap_us").cast("double")
                 / F.count(F.lit(1)).cast("double") / F.lit(1e6))
                .alias("p50_gap_s")))
    return (agg.join(med, ["from_state", "to_state"])
            .select("from_state", "to_state",
                    F.col("n").cast("long").alias("n"),
                    (F.col("_sum_us").cast("double")
                     / F.col("n").cast("double") / F.lit(1e6))
                    .alias("avg_gap_s"),
                    "p50_gap_s"))


def slo_burn_rate(
    points: DataFrame,
    slo: float = 0.95,
    long_window: int = 6,
    short_window: int = 1,
    threshold: float = 2.0,
    idx_col: str = "idx",
    good_col: str = "good",
    bad_col: str = "bad",
    series_col: str | None = None,
) -> DataFrame:
    """Multiwindow multi-burn-rate SLO alerting (the Google SRE
    Workbook ch. 5 rule): per bucket, the error-budget burn rate
    ``(bad / total) / (1 − slo)`` over a trailing long and short
    window, alerting when BOTH exceed ``threshold`` — the long window
    gives significance, the short one stops alerting as soon as the
    incident ends.

    Input: one row per bucket with integer ``good``/``bad`` counts
    and an integer bucket index (epoch-hours).  Windows are RANGE
    frames over the index, so missing buckets genuinely shrink the
    trailing sums instead of silently stretching the window over
    gaps (the ROWS-frame bug this module's docstring warns about).

    Output: (idx, good, bad, burn_long, burn_short, alert).

    Plan: ONE exchange, two RANGE windows over it; pass
    ``series_col`` (a service/SLO key) to partition the window for a
    fleet — without it the single global series runs in one
    partition, which is exactly its data size.
    Exactness: integer trailing sums, one fixed ratio tree per burn
    rate, and a strict-> threshold compare on bit-equal doubles, so
    SQL twins hash-match booleans included.
    """
    if not (0.0 < slo < 1.0):
        raise ValueError("slo must be in (0, 1)")
    if int(long_window) < 1 or int(short_window) < 1:
        raise ValueError("windows must be >= 1 bucket")
    budget = 1.0 - slo

    part = ([series_col] if series_col is not None else [])

    def burn(win):
        w = (W.partitionBy(*part).orderBy(F.col(idx_col).cast("long"))
             .rangeBetween(-(win - 1), 0))
        bad = F.sum(bad_col).over(w).cast("double")
        tot = (F.sum(good_col).over(w)
               + F.sum(bad_col).over(w)).cast("double")
        return F.when(tot > 0, (bad / tot) / F.lit(float(budget)))

    out = (points.withColumn("burn_long", burn(int(long_window)))
           .withColumn("burn_short", burn(int(short_window))))
    alert = (F.coalesce(F.col("burn_long") > float(threshold),
                        F.lit(False))
             & F.coalesce(F.col("burn_short") > float(threshold),
                          F.lit(False)))
    return (out.withColumn("alert", alert)
            .select(*part, idx_col, good_col, bad_col, "burn_long",
                    "burn_short", "alert"))


def outage_intervals(
    points: DataFrame,
    tolerance_s: int = 300,
    series_col: str = "series_id",
    ts_col: str = "ts",
    order_cols: tuple = (),
) -> DataFrame:
    """The outage LIST behind ``heartbeat_uptime``'s ratio — per
    series, every interval in which the heartbeat contract was
    violated: a gap between consecutive heartbeats longer than
    ``tolerance_s`` produces one row [prev + tolerance, next), the
    exact complement of the liveness intervals ``heartbeat_uptime``
    sums (same tolerance semantics: a heartbeat keeps the series live
    for ``tolerance_s`` or until the next beat).  The on-call answer
    — WHEN was it down and for HOW LONG — instead of a percentage.

    Output: (series_id, outage_start, outage_end, outage_s), one row
    per violation, ordered data not required (the lead window sorts).
    Plan: ONE per-series window exchange + a filter — no explode, no
    aggregation; integer-microsecond arithmetic end to end, one
    division at the end, so SQL twins hash-match.
    """
    w = W.partitionBy(series_col).orderBy(ts_col, *order_cols)
    us = _epoch_us(ts_col)
    tol = int(tolerance_s) * 1_000_000
    g = (points.select(
            F.col(series_col).alias("series_id"),
            us.alias("_us"),
            F.lead(us).over(w).alias("_nxt"))
         .where(F.col("_nxt").isNotNull()
                & (F.col("_nxt") - F.col("_us") > tol)))
    return g.select(
        "series_id",
        F.timestamp_micros(F.col("_us") + tol).alias("outage_start"),
        F.timestamp_micros(F.col("_nxt")).alias("outage_end"),
        ((F.col("_nxt") - (F.col("_us") + tol)).cast("double")
         / F.lit(1e6)).alias("outage_s"))
