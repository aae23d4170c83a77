"""One-call maintenance pass for a live tick table.

The reference has no maintenance story at all — files grow forever and
every process start replays them (`timeseries_db.cpp:157-168`).  This
module composes the engine's lifecycle surfaces in the order a
production scheduler would run them nightly, each step already
crash-safe on its own:

  1. backfill   — ingest any newly-landed source files exactly once
                  (`backfill.ingest_files_idempotent`, manifest-keyed);
  2. retention  — expire raw ticks older than the cutoff into partial
                  bars (`retention.apply_retention`, two-stage commit);
  3. compaction — bound the raw table's file count and restore the
                  time-clustered layout (`writer.compact_ticks`),
                  skipped when the file count is already at target (an
                  empty pass would rewrite the table for nothing).

Retention and compaction replace the raw table by the writer's one
stage-and-swap, and all three steps take the table's writer lock
(`writer.table_lock`) for their writes.

Ordering matters and is the cheap one: backfill first so today's files
age correctly, retention before compaction so the rewrite only touches
the surviving slice.  Each step returns its own audit dict; the runner
aggregates them so one log line captures the night's work.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import SparkSession

from ..catalog import _parquet_files
from .backfill import ingest_files_idempotent
from .retention import apply_retention
from .writer import compact_ticks


def run_maintenance(
    spark: SparkSession,
    table_dir: str,
    bars_dir: str,
    cutoff: _dt.datetime | None = None,
    src_glob: str | None = None,
    manifest_path: str | None = None,
    target_files: int | None = None,
) -> dict:
    """Run the nightly maintenance chain; every step optional by its
    arguments (no src_glob -> no backfill; no cutoff -> no retention;
    compaction runs whenever the table exceeds target_files, default
    2x the session's parallelism).  Returns
    {backfill: {...}|None, retention: {...}|None, compaction: {...}|None}.
    Safe to re-run: every step is individually idempotent, so a crashed
    pass is simply run again."""
    audit: dict = {"backfill": None, "retention": None, "compaction": None}
    if src_glob is not None:
        audit["backfill"] = ingest_files_idempotent(
            spark,
            src_glob,
            table_dir,
            manifest_path or f"{table_dir.rstrip('/')}__manifest.txt",
        )
    if cutoff is not None:
        audit["retention"] = apply_retention(
            spark, table_dir, bars_dir, cutoff
        )
    tf = target_files or 2 * spark.sparkContext.defaultParallelism
    # the files Spark reads: no _temporary/ or hidden leftover counts
    if len(_parquet_files(table_dir) or ()) > tf:
        audit["compaction"] = compact_ticks(
            spark, table_dir, target_files=tf
        )
    return audit
