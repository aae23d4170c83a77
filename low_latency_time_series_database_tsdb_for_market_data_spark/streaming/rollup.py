"""Continuous aggregate (hypertable-style rollup): incremental OHLC bars.

The TSDB pattern the reference's phase-3 roadmap gestures at
(`README.md:88-93`) and never builds: maintain per-(symbol, bucket) bar
aggregates as data streams in, without ever reprocessing history.

Design — partial-aggregate append + merge-on-read:

  * each micro-batch reduces its rows to ONE partial row per
    (symbol, bucket): count/sum/min/max plus (ts, seq, price) structs
    for open/close (struct min/max = deterministic earliest/latest pick);
  * partials append to a parquet rollup table — tiny writes, no
    read-modify-write, no contention with readers (atomic file commit);
  * `read_bars` folds partials with the same algebra (sum of sums, min
    of mins, min/max of the open/close structs) — every aggregate here
    is a commutative monoid, so batch boundaries are invisible.

At 100 TB/day the rollup table is ~(symbols x buckets x batches) rows —
orders of magnitude smaller than ticks; periodic compaction (re-reduce
partials per bucket) keeps read fan-in bounded.  At-least-once: the
sink appends each batch's partials without checking the epoch, so a crash
between that write and the checkpoint's commit log makes the re-run
append the batch's partials again, and `read_bars` counts them twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.deterministic import cents
from .ingest import open_tick_stream


def _partial_bars(ticks: DataFrame, bucket: str) -> DataFrame:
    """Reduce tick rows to one partial bar per (symbol, bucket)."""
    return ticks.groupBy(
        F.col("symbol"),
        F.window("ts", bucket)["start"].alias("bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        # exact integer cents: a DOUBLE sum is order-dependent in the
        # last bits, so the same bucket split across different batch
        # boundaries (or a retention pass) could round avg_price
        # differently — the repo-wide cents discipline applies to
        # partials exactly because they re-merge in arbitrary order
        F.sum(cents("price")).alias("sum_pc"),
        F.min("price").alias("low"),
        F.max("price").alias("high"),
        F.min(F.struct("ts", "seq", "price")).alias("open_t"),
        F.max(F.struct("ts", "seq", "price")).alias("close_t"),
    )


def continuous_ohlc(
    spark: SparkSession,
    source_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    bucket: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> None:
    """Run the continuous rollup over everything currently in source_dir
    (AvailableNow; in production the same query runs on a perpetual
    trigger).  Appends partial bars per micro-batch."""
    stream = (
        open_tick_stream(spark, source_dir, max_files_per_trigger)
        .select(
            F.col("event_type").alias("symbol"),
            F.col("ts_event").alias("ts"),
            F.col("value").alias("price"),
            F.col("event_id").alias("seq"),
        )
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        _partial_bars(batch_df, bucket).write.mode("append").parquet(rollup_dir)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _merge_partials(partials: DataFrame) -> DataFrame:
    """Merge partial bars to one partial per (symbol, bucket) — the
    monoid merge every reader and compactor of the rollup shares."""
    return partials.groupBy("symbol", "bucket").agg(
        F.sum("n").alias("n"),
        F.sum("sum_pc").alias("sum_pc"),
        F.min("low").alias("low"),
        F.max("high").alias("high"),
        F.min("open_t").alias("open_t"),
        F.max("close_t").alias("close_t"),
    )


def fold_bars(partials: DataFrame) -> DataFrame:
    """Fold partial bars (any number per (symbol, bucket), from any mix
    of micro-batches, compactions, or retention passes) into final OHLC
    bars."""
    return _merge_partials(partials).select(
        "symbol",
        "bucket",
        "n",
        F.col("open_t")["price"].alias("open"),
        "high",
        "low",
        F.col("close_t")["price"].alias("close"),
        F.round(F.col("sum_pc") / 100.0 / F.col("n"), 4).alias("avg_price"),
    )


def read_bars(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """Merge-on-read: fold partial bars into final OHLC bars."""
    return fold_bars(spark.read.parquet(rollup_dir))


def compact_rollup(spark: SparkSession, rollup_dir: str, out_dir: str) -> None:
    """Re-reduce partials to one row per (symbol, bucket) — run
    periodically to bound merge-on-read fan-in."""
    _merge_partials(spark.read.parquet(rollup_dir)).write.mode(
        "overwrite"
    ).parquet(out_dir)
