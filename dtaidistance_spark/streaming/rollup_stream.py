"""Streaming continuous aggregates (Structured Streaming).

The reference has no streaming surface (SURVEY.md §2.8); this is the
engine's native extension: the same 1m tier as operators/rollup.py,
maintained incrementally over an arriving transcript/event stream with
event-time windows + watermark for late data.  The finished 1m rows are
appended to the tier sink; coarser tiers keep cascading in batch
(rollup_cascade) — the classic streaming-ingest / batch-rollup split.

``first/last`` are intentionally absent here: deterministic first/last
need a total order which an open window cannot guarantee; the batch
tier recomputes them on closed windows when required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STREAM_AGG_COLUMNS = ["series_id", "bucket_ts", "cnt", "sum", "min", "max"]


def stream_rollup_1m(stream: DataFrame, series_col: str = "series_id",
                     ts_col: str = "ts", value_col: str = "value",
                     watermark: str = "10 minutes") -> DataFrame:
    """1-minute streaming rollup with event-time watermarking."""
    return (
        stream
        .withWatermark(ts_col, watermark)
        .groupBy(F.col(series_col).alias("series_id"),
                 F.window(F.col(ts_col), "1 minute").alias("w"))
        .agg(F.count(value_col).alias("cnt"),
             F.sum(value_col).alias("sum"),
             F.min(value_col).alias("min"),
             F.max(value_col).alias("max"))
        .select("series_id", F.col("w.start").alias("bucket_ts"),
                "cnt", "sum", "min", "max")
    )


def run_file_stream(spark: SparkSession, input_dir: str, schema: str,
                    out_dir: str, checkpoint_dir: str,
                    series_expr: str = "concat('user', user_id) ",
                    ts_col: str = "ts", value_col: str = "value",
                    watermark: str = "10 minutes"):
    """File-source → 1m tier parquet sink, processing all available data
    (Trigger.AvailableNow) — exactly-once via the checkpoint dir; rerun
    resumes idempotently from the last committed offset."""
    src = (spark.readStream.schema(schema).parquet(input_dir)
           .withColumn("series_id", F.expr(series_expr)))
    agg = stream_rollup_1m(src, ts_col=ts_col, value_col=value_col,
                           watermark=watermark)
    q = (agg.writeStream
         .format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def stream_to_snapshots(spark: SparkSession, input_dir: str, schema: str,
                        base: str, checkpoint_dir: str, tier: str = "1m",
                        series_expr: str = "concat('user', user_id) ",
                        ts_col: str = "ts", value_col: str = "value",
                        watermark: str = "10 minutes"):
    """File-source → 1m streaming rollup → the SNAPSHOT sink
    (sinks/snapshots.py) with **exactly-once** micro-batch delivery.

    `foreachBatch` is at-least-once: after a sink failure Spark replays
    the micro-batch with the SAME ``batch_id``.  The sink itself is
    therefore idempotent — the canonical Structured Streaming pattern
    for transactional sinks:

    * each micro-batch commits with ``mode="append"`` (new files join
      the day's existing files; previously committed windows survive);
    * the manifest records ``stream_batch_id`` atomically with the
      data (the JSON rename IS the commit point);
    * a replayed batch is detected by ``batch_id <= stream_batch_id``
      in the latest manifest and skipped before any write (retention
      commits keep ``stream_batch_id``, so this holds across them).

    A crash BETWEEN the data move and the manifest rename leaves
    orphaned ``part-v<N>`` files that no manifest references — invisible
    to every reader and reclaimed by `expire_snapshots` — so the
    visible table only ever advances in whole micro-batches."""
    from ..sinks.snapshots import commit_tier, load_manifest

    src = (spark.readStream.schema(schema).parquet(input_dir)
           .withColumn("series_id", F.expr(series_expr)))
    agg = stream_rollup_1m(src, ts_col=ts_col, value_col=value_col,
                           watermark=watermark)

    def sink_batch(bdf: DataFrame, batch_id: int) -> None:
        try:
            last = load_manifest(base, tier).get("stream_batch_id", -1)
        except FileNotFoundError:
            last = -1
        if batch_id <= last:
            # replay of an already-committed batch: skip the commit, but
            # drain the batch through the noop sink — Spark 4 validates
            # that foreachBatch processed every partition (state-store
            # commit tracking), so an early return would fail the query
            bdf.write.format("noop").mode("overwrite").save()
            return
        commit_tier(bdf, base, tier, mode="append",
                    extra={"stream_batch_id": batch_id})

    q = (agg.writeStream
         .foreachBatch(sink_batch)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def stream_rollup_distinct(stream: DataFrame, key_col: str,
                           bucket: str = "1 hour",
                           ts_col: str = "ts",
                           watermark: str = "10 minutes",
                           lg_k: int = 12) -> DataFrame:
    """Streaming distinct-count tier: per event-time bucket, a
    MERGEABLE HyperLogLog sketch of the distinct ``key_col`` values
    plus its estimate (the streaming twin of
    operators/rollup.rollup_distinct — `hll_sketch_agg` is an
    algebraic aggregate, so it runs inside the watermarked windowed
    aggregation exactly like cnt/sum, with bounded per-window state).
    The emitted binary sketches union downstream with
    `cascade_distinct`, so the streaming tier feeds the same
    distinct-per-day cascade as the batch tier — no raw retention
    needed."""
    return (
        stream
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), bucket).alias("w"))
        .agg(F.hll_sketch_agg(F.col(key_col), F.lit(int(lg_k)))
             .alias("sketch"))
        .select(F.col("w.start").alias("bucket_ts"), "sketch",
                F.hll_sketch_estimate(F.col("sketch"))
                .alias("distinct_est"))
    )


def stream_rollup_key_counts(stream: DataFrame, key_col: str,
                             bucket: str = "1 hour",
                             ts_col: str = "ts",
                             watermark: str = "10 minutes") -> DataFrame:
    """Streaming ingest for the Misra-Gries heavy-hitters tier
    (operators/rollup.py::rollup_freq_sketch): per event-time bucket,
    the EXACT finalized (key, cnt) rows.  Unlike the HLL/KLL sketches,
    MG compression is not an algebraic aggregate — it needs the whole
    per-bucket count set at once — so the streaming side emits the
    exact count tier (bounded state: one counter per live
    (window, key)) and `freq_sketch_from_counts` compresses the
    closed windows downstream; the resulting summaries are IDENTICAL
    to the batch tier's because both compress the same exact counts,
    and they feed the same `cascade_freq_sketch` daily merge."""
    return (
        stream
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), bucket).alias("w"),
                 F.col(key_col).cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("bucket_ts"), "key", "cnt")
    )
