"""Idempotent batch backfill: each source file ingests at most once.

Vendors re-deliver files — the same day's tape lands twice, a backfill
re-runs after a partial failure, an operator re-points the loader at a
directory it already consumed.  The reference's import command simply
appends everything again (`cli.cpp:140-207` keeps no ingest memory); a
warehouse needs re-runs to be safe.  Structured Streaming gets this from
its checkpoint's file log; this module is the BATCH twin: a plain-text
manifest of file ids consulted before reading and appended after a
successful write.

Crash ordering is manifest-AFTER-write: a crash between the table append
and the manifest append re-ingests that batch on the next run —
at-least-once, never silent loss.  Deployments that need exactly-once on
top of re-delivered ROWS (not just files) chain the seq-keyed streaming
dedup (`streaming/windows.py::dedup_stream`) or run retention-style
compaction with an exact dedup; both compose with this manifest.

The file id is `name:size` — content-free, O(1), and stable across the
copy/move re-deliveries that dominate practice.  A feed that reuses
names for DIFFERENT content needs a content digest instead; pass a
custom `file_id` for that (the manifest format does not change).
"""

from __future__ import annotations

import glob as _glob
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .csv_ticks import read_tick_csv
from .writer import table_lock, write_ticks


def default_file_id(path: str) -> str:
    p = Path(path)
    return f"{p.name}:{p.stat().st_size}"


def _read_manifest(manifest_path: str) -> set[str]:
    p = Path(manifest_path)
    if not p.exists():
        return set()
    return {line.strip() for line in p.read_text().splitlines() if line.strip()}


def _default_reader(spark: SparkSession, paths: list[str]) -> DataFrame:
    """CSV files go through the reference-semantics tick CSV source;
    anything else is read as parquet tick files."""
    csvs = [p for p in paths if p.endswith(".csv")]
    parqs = [p for p in paths if not p.endswith(".csv")]
    df = None
    if parqs:
        df = spark.read.parquet(*parqs)
    for c in csvs:
        part = read_tick_csv(spark, c)
        df = part if df is None else df.unionByName(part)
    return df


def ingest_files_idempotent(
    spark: SparkSession,
    src_glob: str,
    table_dir: str,
    manifest_path: str,
    reader: Callable[[SparkSession, list[str]], DataFrame] | None = None,
    file_id: Callable[[str], str] = default_file_id,
) -> dict:
    """Ingest every file matching `src_glob` that the manifest has not
    seen; append their rows to the tick table; record them.  Re-running
    with the same sources is a no-op.  The append holds the table's
    writer lock (``writer.table_lock``), so it never lands in a table a
    compaction or retention pass has counted, and waits for them (it
    raises after ``writer.LOCK_TIMEOUT_S``).  Returns an audit dict
    {files_seen, files_ingested, rows_ingested}."""
    seen = _read_manifest(manifest_path)
    files = sorted(_glob.glob(src_glob))
    # one file_id (stat) per file, reused for both the membership test
    # and the manifest record
    ids = [(f, file_id(f)) for f in files]
    fresh = [(f, fid) for f, fid in ids if fid not in seen]
    if not fresh:
        return {
            "files_seen": len(files),
            "files_ingested": 0,
            "rows_ingested": 0,
        }
    df = (reader or _default_reader)(spark, [f for f, _ in fresh])
    # persist so the audit count and the table append share ONE source
    # scan instead of reading every fresh file twice
    df = df.persist()
    try:
        rows = df.count()
        if rows:
            with table_lock(table_dir):  # the CLI's writers and rewrites take it
                write_ticks(df, table_dir, mode="append")
    finally:
        df.unpersist()
    # manifest records AFTER the table append (see module doc)
    mp = Path(manifest_path)
    mp.parent.mkdir(parents=True, exist_ok=True)
    with mp.open("a") as fh:
        for _, fid in fresh:
            fh.write(fid + "\n")
    return {
        "files_seen": len(files),
        "files_ingested": len(fresh),
        "rows_ingested": rows,
    }
