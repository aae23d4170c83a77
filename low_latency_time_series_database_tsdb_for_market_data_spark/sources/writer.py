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
commands, :func:`compact_ticks`, retention and backfill take.

Both rewrites of a tick table — compaction here and retention's expiry
(``retention.apply_retention``) — end in the one stage-and-swap this
module owns: the new copy is written to a stage beside the table, passes
a row-count barrier (:func:`_staged`), and replaces the table by two
renames under :func:`swap_lock` only if the table's files are still the
ones the rewrite counted (:func:`_swap`).  One crash rule covers both: a
crash between the two renames leaves that rewrite's hidden old copy
beside a missing table, and the next writer or reader to take the lock
puts that rewrite's stage in place (:func:`_finish_swap`).

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
    _footer_rows,
    _read_groups,
    _spark_listing,
    file_identities,
    footer_groups,
    local_path,
    partition_dir,
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
      ``import`` and ``benchmark``, ``maintain`` (:func:`compact_ticks`),
      retention, a backfill's append and each batch of a stream's sink,
      so two inserts never read the same next seq and no append lands
      in a table a rewrite has counted.  A rewrite that finds the table
      changed under it anyway (a writer that bypassed the lock) raises
      or rolls back (:func:`_swap`).  On taking it, a writer first
      finishes a swap a crash interrupted (:func:`_finish_swap`).
    * A reader (``shared=True``: CLI ``query`` and ``last``) takes the
      second shared, which a swap takes exclusive (:func:`swap_lock`)
      for its two renames and the old copy's deletion — so a read never
      sees the table half swapped, and never waits for a writer's
      import or rewrite, only for the swap.  A reader that finds a
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
                if live.exists() or not _old_copy(live):
                    yield
                    return
            with _flock(read_lock, shared=False):
                _finish_swap(live)
    with _flock(write_lock, shared=False):
        os.close(os.open(read_lock, os.O_RDONLY | os.O_CREAT, 0o666))
        if _old_copy(live):
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
    colocate: bool = False,
    presorted: bool = False,
    target_files: int | None = None,
) -> None:
    """Append ticks to a table partitioned by ``symbol`` and sorted by
    (symbol, ts), with one Spark write.  It takes no lock: every caller
    in the package (the CLI's writers, backfill, a stream's sink, a
    rewrite's stage) holds :func:`table_lock` around it.

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
        ticks = ticks.repartitionByRange("symbol", "ts")
    if target_files is not None:
        ticks = ticks.coalesce(target_files)
    if not presorted:
        ticks = ticks.sortWithinPartitions("symbol", "ts")
    ticks.write.mode(mode).partitionBy("symbol").parquet(path)
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


# rows per row group of a driver-written file: the footer ts/seq ranges
# then prune a compacted symbol's reads (``catalog.local_rows``) to the
# groups a window or a ``last n`` touches, not the whole symbol.  On 3
# symbols of 300 000 ticks (4-core VM, CLI medians of 30-40), groups of
# 1 Mi / 256 Ki / 128 Ki / 64 Ki / 32 Ki / 16 Ki rows took a 200 s
# ``query`` 17.9 / 14.1 / 9.3 / 7.2 / 6.4 / 5.6 ms at 11.7 / 11.9 /
# 12.2 / 12.8 / 14.0 / 15.4 stored bytes per tick (each group repeats
# its dictionaries); ``last 20`` 33.2 ms at 1 Mi, 7-9 ms below
_ROW_GROUP_ROWS = 65_536


def _write_part(part_dir: Path, table, metadata: dict[bytes, bytes]) -> None:
    """Write ``table`` as one new data file of ``part_dir``, named as a
    Spark task names its output: the one writer of every tick file made
    on the driver (a CLI insert, a driver compaction), in row groups of
    at most ``_ROW_GROUP_ROWS`` rows.  The file is written under a
    ``.``-prefixed name, which Spark's listing and the footer probes
    skip, and renamed into place once complete: a killed write leaves at
    most a hidden file, never a torn one that readers list."""
    import pyarrow.parquet as pq

    name = f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"
    tmp = part_dir / f".{name}"
    part_dir.mkdir(parents=True, exist_ok=True)
    try:
        # pyarrow keeps the schema metadata only beside its own
        # ARROW:schema key, which Spark does not read
        pq.write_table(table.replace_schema_metadata(metadata), tmp, compression="snappy",
                       use_dictionary=_dictionary_columns(table),
                       row_group_size=_ROW_GROUP_ROWS)
        os.replace(tmp, part_dir / name)
    except BaseException:
        tmp.unlink(missing_ok=True)
        raise


def _dictionary_columns(table) -> list[str]:
    """The fixed-width columns of ``table`` that dictionary encoding
    makes smaller, by the rule Spark's parquet writer applies before it
    falls back to plain encoding: the dictionary's bytes plus the
    bit-packed indices must be fewer than the plain bytes.  Each row
    group of ``_ROW_GROUP_ROWS`` rows carries its own dictionary, so
    the dictionary bytes and index widths are summed over the groups.
    pyarrow keeps a dictionary until it reaches a size limit, so a
    column of unique values (seq, and ts in most tick files) would cost
    the dictionary and the indices on top of the values."""
    n, out = table.num_rows, []
    for name in table.column_names:
        col = table.column(name)
        width = col.type.byte_width
        encoded = 0.0
        for lo in range(0, n, _ROW_GROUP_ROWS):
            rows = min(_ROW_GROUP_ROWS, n - lo)
            distinct = _count_distinct(col.slice(lo, rows))
            encoded += distinct * width + rows * (distinct - 1).bit_length() / 8
        if encoded < n * width:
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


# the two rewrites that replace a tick table by a stage written beside
# it: compaction (``compact_ticks``) and retention (``retention``)
_REWRITES = ("compact", "retain")


def _stage(path: str, kind: str) -> str:
    """The stage a ``kind`` rewrite of the table at ``path`` writes."""
    return f"{path.rstrip('/')}__{kind}_stage"


def _swap_paths(live: Path, kind: str) -> tuple[Path, Path]:
    """(stage, old) of a ``kind`` rewrite of ``live``: the new copy is
    staged beside it, and the live copy moves to a hidden name before
    the stage takes its place."""
    return Path(_stage(str(live), kind)), live.with_name(f".{live.name}__{kind}_old")


def _old_copy(live: Path) -> bool:
    """A swap's old copy of ``live`` is beside it: the swap is not done."""
    return any(_swap_paths(live, kind)[1].exists() for kind in _REWRITES)


def _finish_swap(live: Path) -> None:
    """Complete a swap that a crash interrupted; the caller holds
    :func:`swap_lock`.  The listing check came before the first rename,
    so a table missing from ``live`` beside an old copy is the stage's
    of that swap to take, and no other stage's (a killed compaction may
    leave its stage beside a retention's swap).  Then drop the old
    copy."""
    for kind in _REWRITES:
        stage, old = _swap_paths(live, kind)
        if old.exists():
            if not live.exists():
                os.rename(stage if stage.exists() else old, live)
            shutil.rmtree(old, ignore_errors=True)


def _discard(stage: str) -> None:
    """Delete a rewrite's stage, if there is one."""
    shutil.rmtree(local_path(stage) or stage, ignore_errors=True)


def _row_count(spark: SparkSession, path: str, files: list[Path] | None) -> int:
    """Rows Spark reads under ``path``, whose listing is ``files``: 0 for
    none, footer ``num_rows`` when local, else a count() job."""
    n = 0 if files == [] else _footer_rows(files)
    return spark.read.parquet(path).count() if n is None else n


def _staged(spark: SparkSession, path: str, kind: str, rows: int) -> int:
    """The barrier a ``kind`` rewrite of ``path`` passes before its swap:
    its stage must hold ``rows`` rows, else the stage is deleted and
    RuntimeError raised.  Returns the stage's data file count; one
    listing of the stage gives both."""
    stage = _stage(path, kind)
    files = _spark_listing(stage)
    staged = _row_count(spark, stage, files)
    if staged != rows:  # barrier: must survive python -O (assert strips)
        _discard(stage)
        raise RuntimeError(f"{kind} stage incomplete: {staged} != {rows}")
    return sum(f.name.endswith(".parquet") for f in files or ())


def _swap(path: str, kind: str, listing) -> bool:
    """Replace the table at ``path`` with its ``kind`` stage by two
    renames — live to its hidden old name, stage to live — then delete
    the old copy, all under :func:`swap_lock`, so a reader sees the old
    table or the new one, never neither.  ``listing`` is the
    ``catalog.file_identities`` of the files the rewrite counted; the
    swap is made only when the table is missing (a crash came between
    its removal and the second rename) or its files are still those,
    and otherwise False is returned with nothing touched: a writer that
    does not take the lock changed the table after it was counted."""
    live = local_path(path) or Path(path)
    stage, old = _swap_paths(live, kind)
    with swap_lock(path):
        if live.exists():
            now = file_identities(_spark_listing(path))
            if now is None or now != listing:
                return False
            os.rename(live, old)
        os.rename(stage, live)
        shutil.rmtree(old, ignore_errors=True)
    session_cache.drop("relation", path)  # in-place swap: cached listings are stale
    return True


# data column types whose parquet form a pyarrow write gives exactly as
# Spark's writer does (the footer signature tests pin it)
_DRIVER_TYPES = (T.LongType, T.DoubleType)


def _compact_on_driver(spark: SparkSession, path: str, stage: str,
                       schema: T.StructType | None, files: list[Path] | None) -> int | None:
    """Write the compaction of ``files``, Spark's listing of the table at
    ``path``, to ``stage`` on the driver and return the rows it holds;
    or return None, having written nothing, where only Spark's
    compaction gives its output exactly.  No Spark job runs.

    One footer walk (``catalog.footer_groups``) over every ``symbol=``
    partition gives the row count and the row groups; each partition's
    rows are sorted by (ts, seq) with nulls first as Spark sorts, and
    written as one file with :func:`_write_part` under the directory
    Spark's writer names it.  The footer is the one a Spark compaction
    writes: Spark reads every column of a file relation as nullable, so
    the row metadata is the nullable data schema (import files hold
    nullable columns already, insert files non-null ones).

    None for: a non-local path; no ``schema`` (the partition column is
    then typed by directory inference) or one without a string
    ``symbol`` partition and ``ts``/``seq`` data columns, or with a data
    column not long or double; a codec or rebase mode the driver's files
    do not reproduce (:func:`_spark_footer_metadata`); anything the
    footer walk declines (a listing of anything but ``*.parquet`` files
    one ``symbol=`` level down, the null partition among them); more
    than ``catalog.LOCAL_READ_MAX_ROWS`` rows.  That cap, sized for a
    query's read, also bounds this path well: on benchmark-shaped tables
    (3 symbols, 20 000-row imports plus inserts; 4-core VM, medians of
    3) the driver compacted 0.12M / 0.5M / 0.98M rows in 0.06 / 0.15 /
    0.34 s against Spark's 0.62 / 0.80 / 1.25 s, peaking at 7 / 25 /
    48 MB of Arrow memory."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if local_path(path) is None or files is None or schema is None:
        return None
    data = [f for f in schema if f.name != "symbol"]
    names = {f.name for f in data}
    if (len(data) == len(schema) or not isinstance(schema["symbol"].dataType, T.StringType)
            or not {"ts", "seq"} <= names
            or not all(isinstance(f.dataType, _DRIVER_TYPES) for f in data)):
        return None
    data = T.StructType([T.StructField(f.name, f.dataType, True) for f in data])
    metadata = _spark_footer_metadata(spark, data)
    if metadata is None:
        return None
    arrow = to_arrow_schema(data)
    with footer_groups(spark, path, arrow, "ts", partition=("symbol", None),
                       files=files) as groups:
        rows = None if groups is None else sum(g.rows for g in groups)
        if rows is None or rows > catalog.LOCAL_READ_MAX_ROWS:
            return None
        tables = {v: _read_groups([g for g in groups if g.part == v], arrow)
                  for v in {g.part for g in groups}}
    out = local_path(stage)
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    for value, tbl in tables.items():
        tbl = tbl.sort_by([("ts", "ascending"), ("seq", "ascending")], null_placement="at_start")
        _write_part(Path(partition_dir(spark, str(out), "symbol", value)), tbl, metadata)
    return rows


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

    Two paths write the compacted copy, both to a stage beside the
    original:

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
    then swapped away.  It lists the table once: that listing gives the
    file count before, the row count (the footers' ``num_rows``, read
    once by the driver path's footer walk, or a count() where no footer
    can answer), the files the driver path reads and the identities the
    swap re-checks.  A table with no data file is left alone.  Then the
    one stage-and-swap of both rewrites: the row-count barrier
    (:func:`_staged`; a short stage is deleted and RuntimeError
    raised), and :func:`_swap`, which raises here, leaving the live
    table untouched and the stage deleted, when the listing changed.  A
    crash leaves the whole table at the live path, the stage or the
    hidden old copy; the next writer or reader to take the lock
    finishes the swap.  File counts are of the files Spark reads, so a
    crashed append's ``_temporary/`` or a killed driver write's hidden
    file is not counted.  A non-local table gets no lock, and needs an
    external coordinator between its writers.
    Returns {rows, files_before, files_after}."""
    stage = _stage(path, "compact")
    with table_lock(path):
        files = _spark_listing(path)
        before = sum(f.name.endswith(".parquet") for f in files or ())
        if files is not None and not before:
            return {"rows": 0, "files_before": 0, "files_after": 0}
        listing = file_identities(files)
        rows = _compact_on_driver(spark, path, stage, schema, files)
        if rows is None:
            rows = _row_count(spark, path, files)
            write_ticks(read_parquet(spark, path, schema), stage, mode="overwrite",
                        colocate=True, target_files=target_files)
        after = _staged(spark, path, "compact", rows)
        if not _swap(path, "compact", listing):
            _discard(stage)
            raise RuntimeError(f"compact: {path} changed during the compaction; "
                               "table left as it was")
    return {"rows": rows, "files_before": before, "files_after": after}
