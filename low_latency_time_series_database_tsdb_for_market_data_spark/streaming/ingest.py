"""Structured Streaming ingest — the reference's async writer pipeline
re-expressed as micro-batch streaming (SURVEY.md §1.3, §3.2):

    reference                      Spark
    ---------                      -----
    append/append_batch enqueue    readStream source
    writer thread drains <=1000    micro-batch trigger (AvailableNow here)
    column appends + header flush  foreachBatch -> partitioned parquet
    sync() flush barrier           query.processAllAvailable()/awaitTermination

Out-of-order timestamps are accepted forever by the reference (verified);
the streaming aggregation path bounds that with an explicit watermark —
the documented late-data policy the reference never had.

The event-time column is SCHEMA-ADAPTIVE like the batch catalog
(catalog.py module docstring): the file stream source needs a declared
schema, so `stream_schema` reads it from the parquet footers (a
metadata-only batch read, no data scan; after the first drain a memo hit
with no Spark job at all), and `with_ts_event` branches on
the loaded ts dtype — int64 epoch nanos vs native parquet timestamp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import tune


def stream_schema(spark: SparkSession, source_dir: str) -> T.StructType:
    """Schema for the file stream source, inferred from the source's own
    parquet footers (file streams require a declared schema; hard-coding
    one breaks on producer drift — exactly what happened when events.ts
    moved from TIMESTAMP(NANOS) to TIMESTAMP(MICROS)).

    The read goes through ``catalog.read_parquet``: Spark infers the
    schema once, and later drains over the same first file (a source
    dir only gains files) reuse that answer without the one-task
    inference job, so a drain costs its batch, not a fresh batch read of
    the source's schema.

    Also pins the session to UTC (tune) — with_ts_event's TIMESTAMP_NTZ
    branch casts via the session zone, and a foreign non-UTC session
    would otherwise shift ts_event relative to the batch catalog path."""
    from ..catalog import _allow_nanos, read_parquet

    tune(spark)
    # set here, not left to a prior catalog.table() call, so a stream
    # reader works standalone
    _allow_nanos(spark)
    return read_parquet(spark, source_dir).schema


def with_ts_event(df: DataFrame, col: str = "ts") -> DataFrame:
    """Add `ts_event` — session-UTC microsecond TIMESTAMP event time —
    from whichever physical ts layout the source carries."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts_event", F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts_event", F.col(col).cast("timestamp"))
    return df.withColumn("ts_event", F.col(col))


def open_tick_stream(spark: SparkSession, source_dir: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source tick stream over the events layout with a normalized
    `ts_event` event-time column.  source_dir must be a directory or glob
    (Spark's file stream source rejects a bare file path)."""
    reader = spark.readStream.schema(stream_schema(spark, source_dir))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return with_ts_event(reader.parquet(source_dir))


def ingest_available_now(
    spark: SparkSession, source_dir: str, dest_dir: str, checkpoint_dir: str
) -> None:
    """Drain everything currently in source_dir into the partitioned tick
    table at dest_dir, then stop — the streaming equivalent of the
    reference's append_batch + sync().  At-least-once: the sink appends
    and does not check the epoch, so a crash between a batch's write
    and the checkpoint's commit log makes the re-run append that batch
    again (its rows then appear twice).  Each batch's write holds the
    table's writer lock (``writer.table_lock``), as every writer of a
    tick table does: a batch never lands in a table a rewrite has
    counted, and one that finds a crashed rewrite's swap half done
    finishes it first.  A batch that cannot take the lock within
    ``writer.LOCK_TIMEOUT_S`` fails the drain uncommitted, so a re-run
    writes it once."""
    from ..sources.writer import table_lock, write_ticks

    stream = open_tick_stream(spark, source_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        ticks = batch_df.select(
            F.col("event_type").alias("symbol"),
            F.col("ts_event").alias("ts"),
            F.col("value").alias("price"),
            F.col("user_id").alias("volume"),
            F.col("event_id").alias("seq"),
        )
        with table_lock(dest_dir):
            write_ticks(ticks, dest_dir)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_counts_stream(
    spark: SparkSession,
    source_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregate over the tick stream — the
    streaming twin of q21_time_bucket.  Rows later than the watermark are
    dropped (explicit late-data policy); state is bounded by
    watermark/window, so it runs forever at 100 TB/day."""
    stream = open_tick_stream(spark, source_dir)
    return (
        stream.withWatermark("ts_event", watermark)
        .groupBy(F.window("ts_event", window), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0
                / F.count(F.lit(1)),
                4,
            ).alias("avg_value"),
        )
    )
