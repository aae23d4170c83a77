"""Partitioned, sorted tick writer — the batch half of the ingest path.

Replaces the reference's writer thread + per-symbol column files
(`timeseries_db.cpp:60-155`, `column_storage.cpp:178-261`) with the layout
discipline SURVEY.md §4.2.1 calls for:

  * ``partitionBy(symbol)`` — the directory-per-symbol model, but pruned by
    Catalyst instead of chosen by hand;
  * ``sortWithinPartitions(ts)`` — parquet row-group min/max stats become a
    selective time index (the B+ tree's job, for free at read time);
  * parquet atomic commit protocol — replaces the reference's
    crash-unsafe MS_ASYNC header/data ordering (SURVEY.md §4.3.8).

The reference's ``write_mutex`` (`timeseries_db.cpp:44-155`) becomes
:func:`table_lock`, an advisory per-table file lock that the CLI's
commands, :func:`compact_ticks` and retention take.

``seq`` (arrival order) must be assigned by the SOURCE (e.g. event_id) —
never monotonically_increasing_id in a correctness path (SURVEY.md §7).
"""

from __future__ import annotations

import fcntl
import os
import re
import shutil
import time
import uuid
from contextlib import contextmanager, suppress
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import catalog, session_cache
from ..catalog import (
    _HIVE_NULL,
    _parquet_files,
    _read_groups,
    _spark_listing,
    file_identity,
    footer_groups,
    local_path,
    parquet_num_rows,
    read_parquet,
)

# Seconds a caller of ``table_lock`` waits for the lock before it raises.
# A reader waits only for a compaction's swap: two renames and the
# deletion of the old copy's files.  A writer waits for the writer
# before it, whose hold time grows with its input.  On a 4-core VM a
# 20 000-row CLI import held the lock 0.26-0.50 s (median; 3.9 s for a
# session's first, cold import), and maintain of a 0.98M-row
# benchmark-shaped table 0.34 s on the driver and 1.25 s on Spark.
LOCK_TIMEOUT_S = 60.0


def _lock_files(live: Path) -> tuple[Path, Path]:
    """(writers', readers') lock files of the table directory ``live``:
    beside it, not inside it, ``_``-prefixed so a Spark listing of the
    parent skips them."""
    return (live.parent / f"_{live.name}.lock",
            live.parent / f"_{live.name}.read.lock")


@contextmanager
def _flock(lock: Path, shared: bool, reader: bool = False):
    """Hold ``fcntl.flock`` on ``lock`` for the block, shared or
    exclusive, polling for it and raising ``TimeoutError`` after
    ``LOCK_TIMEOUT_S`` seconds.  An existing lock file is opened
    read-only (flock needs no write access); a missing one is created.
    A ``reader`` that cannot create it, in a data directory it may not
    write, holds no lock: every locked writer creates both lock files
    on its first write, so none has written there."""
    fd = None
    with suppress(FileNotFoundError):
        fd = os.open(lock, os.O_RDONLY)
    if fd is None:
        try:
            lock.parent.mkdir(parents=True, exist_ok=True)
            fd = os.open(lock, os.O_RDONLY | os.O_CREAT, 0o666)
        except OSError:
            if not reader:
                raise
    if fd is None:
        yield
        return
    try:
        deadline = time.monotonic() + LOCK_TIMEOUT_S
        mode = (fcntl.LOCK_SH if shared else fcntl.LOCK_EX) | fcntl.LOCK_NB
        while True:
            try:
                fcntl.flock(fd, mode)
                break
            except BlockingIOError:
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"{lock}: not acquired within {LOCK_TIMEOUT_S} s") from None
                time.sleep(0.005)
        yield
    finally:
        os.close(fd)  # releases the lock


def _live(path: str) -> Path | None:
    p = local_path(path)
    return None if p is None else Path(os.path.abspath(p))


@contextmanager
def table_lock(path: str, shared: bool = False):
    """Hold the advisory lock of the table at ``path`` for the block:
    the reference's one writer thread under ``write_mutex``, across
    threads and processes on one host.

    Two ``fcntl.flock`` files sit beside the table directory
    (``<data_dir>/_ticks.lock`` and ``_ticks.read.lock`` for the CLI's
    table), not inside it: a compaction swap replaces the directory, and
    a lock file inside would move away with the old copy, so the next
    waiter would lock another inode.

    * A writer (the default) takes the first exclusive: CLI ``insert``,
      ``import`` and ``benchmark``, ``maintain`` (:func:`compact_ticks`)
      and retention, so two inserts never read the same next seq and no
      insert lands in a table a compaction has counted.  Other writers
      (a stream's sink, a backfill) do not take it, and a compaction
      that finds the table changed under it raises.  On taking it, a
      writer first finishes a compaction swap a crash interrupted
      (:func:`_finish_swap`).
    * A reader (``shared=True``: CLI ``query`` and ``last``) takes the
      second shared, which a swap takes exclusive (:func:`swap_lock`)
      for its two renames and the old copy's deletion — so a read never
      sees the table half swapped, and never waits for a writer's
      import or compaction, only for the swap.  A reader that finds a
      swap a crash interrupted finishes it before it reads.  A reader of
      a table whose parent directory does not exist (nothing to read)
      takes no lock.

    A waiter polls for the lock and raises ``TimeoutError`` after
    ``LOCK_TIMEOUT_S`` seconds; it never proceeds without it.  The lock
    is not re-entrant: a thread that holds it and asks again waits for
    itself until the timeout.

    A non-local table (an object store, HDFS) gets no lock: it needs an
    external coordinator between its writers, as the reference needs one
    across processes."""
    live = _live(path)
    if live is None or (shared and not live.parent.is_dir()):
        yield
        return
    write_lock, read_lock = _lock_files(live)
    if shared:
        while True:
            with _flock(read_lock, shared=True, reader=True):
                if not _swap_interrupted(live):
                    yield
                    return
            with _flock(read_lock, shared=False):
                _finish_swap(live)
    with _flock(write_lock, shared=False):
        os.close(os.open(read_lock, os.O_RDONLY | os.O_CREAT, 0o666))
        if _swap_paths(live)[1].exists():
            with _flock(read_lock, shared=False):
                _finish_swap(live)
        yield


@contextmanager
def swap_lock(path: str):
    """Hold the readers' lock of the table at ``path`` exclusive for the
    block (:func:`table_lock`): the caller replaces the table's
    directory, and a reader must not list it meanwhile.  The caller
    holds the writers' lock already.  No lock for a non-local table."""
    live = _live(path)
    if live is None:
        yield
        return
    with _flock(_lock_files(live)[1], shared=False):
        yield


def write_ticks(
    ticks: DataFrame,
    path: str,
    mode: str = "append",
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    colocate: bool = False,
    presorted: bool = False,
    target_files: int | None = None,
) -> None:
    """Append ticks to a partitioned, time-sorted parquet table with one
    Spark write.  It takes no lock: a caller that shares the table with
    the CLI holds :func:`table_lock`.

    Default (colocate=False) is SHUFFLE-FREE: each input task local-sorts
    by (symbol, ts) and writes its slice of every symbol's directory.
    Ingest sources deliver time-contiguous splits (a stream's micro-batch,
    a day's file), so each emitted file still covers a tight ts range and
    row-group min/max pruning stays selective — and ingest throughput is
    the parquet encoder's, not the shuffle's (measured 3x at 50M rows).

    colocate=True adds a range repartition on (symbol, ts) before the
    sort: one shuffle buys one time-contiguous file run per symbol —
    worth it for compaction jobs or when inputs are many tiny unsorted
    splits, not for the hot ingest path.

    presorted=True skips the explicit (symbol, ts) local sort for sources
    that already deliver rows time-ordered within each split (a replayed
    stream, a sequential generator, a time-partitioned upstream table) —
    the dynamic-partition writer still inserts its own ordering on the
    partition column alone, which is near-free on single-symbol splits,
    and the written row groups inherit the source's time order.  Measured
    at 1M rows/local[32]: ~20% wall-clock off the write.

    target_files caps output files per write via coalesce (NARROW — merges
    whole input partitions in order, no shuffle; time-contiguous parents
    merge into time-contiguous files).  Tiny-task scheduling overhead
    dominates small appends (1M rows: 32 tasks 0.34 s vs 16 tasks
    0.24 s), and at 100 TB the same knob is the small-files defence —
    size it so each file lands in the 128 MB-1 GB parquet sweet spot.

    The sort key is (symbol, ts), not ts alone: the dynamic-partition
    writer requires ordering on the partition column and would otherwise
    insert a SECOND sort of every row."""
    if colocate:
        ticks = ticks.repartitionByRange(symbol_col, ts_col)
    if target_files is not None:
        ticks = ticks.coalesce(target_files)
    if not presorted:
        ticks = ticks.sortWithinPartitions(symbol_col, ts_col)
    ticks.write.mode(mode).partitionBy(symbol_col).parquet(path)
    # the writer owns the invalidation (ADVICE r12): any session that
    # cached this path's relation must re-list after the files change
    session_cache.drop("relation", path)


def read_ticks(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def _spark_footer_metadata(spark: SparkSession, schema: T.StructType) -> dict[bytes, bytes] | None:
    """The key-value metadata Spark's parquet writer puts in the footer
    of a data file whose columns are ``schema`` (``ParquetWriteSupport``):
    the row schema as the JVM renders it and the short Spark version.
    None when this session's writer would write what a driver-side file
    does not reproduce: a codec other than snappy, or a LEGACY datetime
    or INT96 rebase mode (which add their own keys)."""
    conf = spark.conf
    if conf.get("spark.sql.parquet.compression.codec").lower() != "snappy" or "LEGACY" in (
        conf.get("spark.sql.parquet.datetimeRebaseModeInWrite").upper(),
        conf.get("spark.sql.parquet.int96RebaseModeInWrite").upper(),
    ):
        return None
    row = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(schema.json()).json()
    version = re.match(r"\d+\.\d+\.\d+", spark.version).group(0)
    return {
        b"org.apache.spark.version": version.encode(),
        b"org.apache.spark.sql.parquet.row.metadata": row.encode(),
    }


def _write_part(part_dir: Path, table, metadata: dict[bytes, bytes]) -> None:
    """Write ``table`` as one new data file of ``part_dir``, named as a
    Spark task names its output: the one writer of every tick file made
    on the driver (a CLI insert, a driver compaction).  The file is
    written under a ``.``-prefixed name, which Spark's listing and the
    footer probes skip, and renamed into place once complete: a killed
    write leaves at most a hidden file, never a torn one that readers
    list."""
    import pyarrow.parquet as pq

    name = f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"
    tmp = part_dir / f".{name}"
    part_dir.mkdir(parents=True, exist_ok=True)
    try:
        # pyarrow keeps the schema metadata only beside its own
        # ARROW:schema key, which Spark does not read
        pq.write_table(table.replace_schema_metadata(metadata), tmp, compression="snappy",
                       use_dictionary=_dictionary_columns(table))
        os.replace(tmp, part_dir / name)
    except BaseException:
        tmp.unlink(missing_ok=True)
        raise


def _dictionary_columns(table) -> list[str]:
    """The fixed-width columns of ``table`` that dictionary encoding
    makes smaller, by the rule Spark's parquet writer applies before it
    falls back to plain encoding: the dictionary's bytes plus the
    bit-packed indices must be fewer than the plain bytes.  pyarrow
    keeps a dictionary until it reaches a size limit, so a column of
    unique values (seq, and ts in most tick files) would cost the
    dictionary and the indices on top of the values."""
    n, out = table.num_rows, []
    for name in table.column_names:
        col = table.column(name)
        distinct = _count_distinct(col)
        width = col.type.byte_width
        if distinct * width + n * (distinct - 1).bit_length() / 8 < n * width:
            out.append(name)
    return out


def _count_distinct(col) -> int:
    """The distinct values of the fixed-width column ``col``, compared by
    their bits, with null one more value if present: what
    ``pyarrow.compute.count_distinct(col, mode="all")`` counts, by a
    numpy sort, which a compaction's columns of mostly unique values
    take in a tenth of that hash count's time (340k rows: 9 against
    130 ms)."""
    import numpy as np

    values = col.drop_null().to_numpy()
    bits = values.view(f"u{values.dtype.itemsize}")
    return len(np.unique(bits)) + (col.null_count > 0)


def _swap_paths(live: Path) -> tuple[Path, Path]:
    """(stage, old) of a compaction of ``live``: the compacted copy is
    staged beside it, and the live copy moves to a hidden name before
    the stage takes its place."""
    return (live.with_name(f"{live.name}__compact_stage"),
            live.with_name(f".{live.name}__compact_old"))


def _swap_interrupted(live: Path) -> bool:
    """A crash came between a swap's two renames: the table is missing
    from ``live`` and its old copy is there."""
    return not live.exists() and _swap_paths(live)[1].exists()


def _finish_swap(live: Path) -> None:
    """Complete a compaction swap that a crash interrupted; the caller
    holds :func:`swap_lock`.  The stage passed the row-count barrier
    before the first rename, so a table missing from ``live`` beside an
    old copy is the stage's to take.  Then drop the old copy."""
    stage, old = _swap_paths(live)
    if old.exists():
        if not live.exists():
            os.rename(stage if stage.exists() else old, live)
        shutil.rmtree(old, ignore_errors=True)


def _identities(path: str) -> dict[Path, tuple[int, int, int]] | None:
    """``catalog.file_identity`` of every file Spark lists under
    ``path``; None when the path is not local."""
    files = _spark_listing(path)
    return None if files is None else {f: file_identity(f) for f in files}


def _swap(path: str, stage: str, listing) -> None:
    """Replace the table at ``path`` with ``stage`` by two renames — live
    to its hidden old name, stage to live — then delete the old copy,
    all under :func:`swap_lock`, so a reader sees the old table or the
    new one, never neither.  Raises, leaving the live table untouched
    and the stage deleted, when the files listed under ``path`` are no
    longer ``listing``: a writer that does not take the lock changed the
    table after it was counted."""
    if _identities(path) != listing:
        shutil.rmtree(local_path(stage) or stage, ignore_errors=True)
        raise RuntimeError(f"compact: {path} changed during the compaction; table left as it was")
    live = local_path(path) or Path(path)
    _, old = _swap_paths(live)
    with swap_lock(path):
        os.rename(live, old)
        os.rename(local_path(stage) or stage, live)
        shutil.rmtree(old)


# data column types whose parquet form a pyarrow write gives exactly as
# Spark's writer does (the footer signature tests pin it)
_DRIVER_TYPES = (T.LongType, T.DoubleType)


def _compact_on_driver(spark: SparkSession, path: str, stage: str, schema: T.StructType | None,
                       files: list[Path] | None, rows: int) -> bool:
    """Write the compaction of ``files``, Spark's listing of the table at
    ``path`` holding ``rows`` rows, to ``stage`` on the driver and return
    True; or return False, having written nothing, where only Spark's
    compaction gives its output exactly.  No Spark job runs.

    Each ``symbol=`` partition is read through the footer walk
    (``catalog.footer_groups``), sorted by (ts, seq) with nulls first as
    Spark sorts, and written as one file with :func:`_write_part` under
    the directory Spark's writer names it.  The footer is the one a
    Spark compaction writes: Spark reads every column of a file relation
    as nullable, so the row metadata is the nullable data schema (import
    files hold nullable columns already, insert files non-null ones).

    False for: a non-local path; no ``schema`` (the partition column is
    then typed by directory inference) or one without a string
    ``symbol`` partition and ``ts``/``seq`` data columns, or with a data
    column not long or double; a codec or rebase mode the driver's files
    do not reproduce (:func:`_spark_footer_metadata`); a listing of
    anything but ``*.parquet`` files one ``symbol=`` level down, the
    null partition among them; anything the footer walk declines; more
    than ``catalog.LOCAL_READ_MAX_ROWS`` rows.  That cap, sized for a
    query's read, also bounds this path well: on benchmark-shaped tables
    (3 symbols, 20 000-row imports plus inserts; 4-core VM, medians of
    3) the driver compacted 0.12M / 0.5M / 0.98M rows in 0.06 / 0.15 /
    0.34 s against Spark's 0.62 / 0.80 / 1.25 s, peaking at 7 / 25 /
    48 MB of Arrow memory."""
    from pyspark.sql.pandas.types import to_arrow_schema

    root = local_path(path)
    if root is None or files is None or schema is None or rows > catalog.LOCAL_READ_MAX_ROWS:
        return False
    data = [f for f in schema if f.name != "symbol"]
    names = {f.name for f in data}
    if (len(data) == len(schema) or not isinstance(schema["symbol"].dataType, T.StringType)
            or not {"ts", "seq"} <= names
            or not all(isinstance(f.dataType, _DRIVER_TYPES) for f in data)):
        return False
    data = T.StructType([T.StructField(f.name, f.dataType, True) for f in data])
    metadata = _spark_footer_metadata(spark, data)
    if metadata is None:
        return False
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    values = set()
    for f in files:
        parts = f.relative_to(root).parts
        if len(parts) != 2:
            return False
        key, _, v = parts[0].partition("=")
        if key != "symbol" or v in ("", _HIVE_NULL):
            return False
        values.add(utils.unescapePathName(v) if "%" in v else v)
    arrow = to_arrow_schema(data)
    tables = {}
    for value in sorted(values):
        with footer_groups(spark, path, arrow, "ts", partition=("symbol", value),
                           files=files) as groups:
            if groups is None:
                return False
            tables[value] = _read_groups(groups, arrow)
    out = local_path(stage)
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    for value, tbl in tables.items():
        if tbl.num_rows:
            tbl = tbl.sort_by([("ts", "ascending"), ("seq", "ascending")],
                              null_placement="at_start")
            _write_part(out / f"symbol={utils.escapePathName(value)}", tbl, metadata)
    return True


def compact_ticks(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    schema: T.StructType | None = None,
) -> dict:
    """Rewrite a tick table to bound its file count — the maintenance
    pass that undoes small-file accumulation from incremental appends
    (every backfill/stream batch commits its own files; a thousand
    appends = a thousand tiny files, and at 100 TB the NameNode/scan
    planning cost of that dwarfs the data).  Compaction also RESTORES
    the time-clustered layout (one contiguous (symbol, ts) run per
    output file) that makes row-group min/max stats a selective index —
    appends interleave time ranges across files; compaction re-sorts
    them.

    Two paths write the compacted copy, both beside the original:

    * on the driver (:func:`_compact_on_driver`), for a local table read
      with a tick ``schema`` (the CLI passes its TICK_SCHEMA) of at most
      ``catalog.LOCAL_READ_MAX_ROWS`` rows: one file per ``symbol=``
      partition, rows in (ts, seq) order, written with pyarrow — no
      Spark job;
    * otherwise Spark's: the table read with ``schema`` when given, else
      through ``catalog.read_parquet``'s schema memo, and rewritten by
      ``write_ticks(colocate=True, target_files=...)`` (rows in (symbol,
      ts) order, equal-ts order unspecified).  ``target_files`` caps
      this path's tasks; the driver path already writes the fewest
      files a ``symbol`` partitioning allows.

    The whole pass holds the table's exclusive lock (:func:`table_lock`),
    so no CLI insert or import lands after the table was counted and is
    then swapped away.  The swap is gated by a barrier: the staged row
    count must equal the original's, else RuntimeError: the original
    stays in place and the stage is deleted.  Both counts come from the footer index
    (``catalog.parquet_num_rows`` — committed files' ``num_rows``, over
    exactly the files Spark lists), not from two count() jobs; a path
    the footers cannot serve (not local) falls back to count().  Just
    before the swap the listing is checked again against the one
    counted (:func:`_swap`).  A crash leaves the whole table at the
    live path, the stage or the hidden old copy; the next writer or
    reader to take the lock finishes the swap.  File counts are of the files
    Spark reads (``catalog._parquet_files``), so a crashed append's
    ``_temporary/`` leftovers are not counted.  A non-local table gets
    no lock, and needs an external coordinator between its writers.
    Returns {rows, files_before, files_after}."""
    with table_lock(path):
        return compact_locked(spark, path, target_files, schema)


def compact_locked(spark: SparkSession, path: str, target_files: int | None = None,
                   schema: T.StructType | None = None) -> dict:
    """:func:`compact_ticks` for a caller that holds the table's
    exclusive lock already (CLI ``maintain``, which checks the table is
    not empty under the same lock)."""
    stage = f"{path.rstrip('/')}__compact_stage"
    listing = _identities(path)
    files_before = len(_parquet_files(path) or ())
    rows = _row_count(spark, path)
    files = None if listing is None else list(listing)
    if not _compact_on_driver(spark, path, stage, schema, files, rows):
        write_ticks(
            read_parquet(spark, path, schema),
            stage,
            mode="overwrite",
            colocate=True,
            target_files=target_files,
        )
    staged = _row_count(spark, stage)
    if staged != rows:  # barrier: must survive python -O (assert strips)
        shutil.rmtree(local_path(stage) or stage, ignore_errors=True)
        raise RuntimeError(f"compact stage incomplete: {staged} != {rows}")
    _swap(path, stage, listing)
    session_cache.drop("relation", path)  # in-place swap: cached listings are stale
    files_after = len(_parquet_files(path) or ())
    return {
        "rows": rows,
        "files_before": files_before,
        "files_after": files_after,
    }


def _row_count(spark: SparkSession, path: str) -> int:
    """Rows Spark reads under ``path``: footer ``num_rows`` when local,
    else a count() job."""
    n = parquet_num_rows(path)
    return spark.read.parquet(path).count() if n is None else n
