"""Hot-table serving path: a driver-side sorted ts index over a hot slice.

The reference serves its main read path, a point or an inclusive range,
by descending an in-memory B+ tree ``timestamp -> row``
(`bplus_tree.hpp:70-91`) that its storage constructor rebuilds by
replaying every tick at open (`timeseries_db.cpp:29-59`, `:157-168`).
`PointServer` is that open-time replay.  ``open()`` reads the hot slice
of every file the relation lists on the driver (``catalog.local_rows``,
the row groups whose footer ts range meets the slice window), stable-
sorts it on a probe key and keeps ``(keys, table)`` there: the sorted
int64 key array is the tree's leaf level and ``numpy.searchsorted`` its
descent.  No Spark job runs, unless the driver cannot read exactly what
Spark would (the same triggers as the driver-read probes below): then
one Spark job collects the slice through Arrow.  A probe
inside the slice cuts the matching rows out of the Arrow table and hands
them back as ``spark.createDataFrame(arrow_slice, schema)``, a
``LocalRelation``: its plan is a ``LocalTableScan``, and ``collect()``
on it runs no Spark job (an Arrow-enabled ``toPandas()`` still schedules
one job over the local rows, and a probe whose Arrow result exceeds
``spark.sql.execution.arrow.localRelationThreshold`` comes back as an
RDD scan).

A probe takes one of three paths, counted apart in ``stats()``:

* index (``index_hits``): inside the slice, cut from the sorted index;
* driver read (``local_reads``): outside the slice, the parquet table's
  row-group min/max stats — the engine's on-disk index (SURVEY.md §1.3)
  — prune the files the relation lists to the row groups that meet the
  window, which pyarrow reads on the driver (``catalog.local_rows``);
  the rows are converted to the served schema as ``with_ts`` converts
  them and handed back as a ``LocalRelation`` too, so no job runs;
* parquet (``parquet_fallbacks``): a Spark scan of the parquet table,
  when the driver cannot give exactly its rows (a non-local path, a
  row group without stats, an unexpected file or column, a timestamp
  layout in a non-UTC session, or more than
  ``catalog.LOCAL_READ_MAX_ROWS`` rows in the kept row groups).

A window outside the footer ts bounds answers empty first
(``footer_empty``).

Keys and bounds follow ``catalog.ts_bound`` exactly, so an in-slice probe
returns the rows the parquet path returns: in the int64-nanos layout the
key is the raw ``ts`` and a probe ``[lo_ns, hi_ns]`` matches
``[lo_ns, hi_ns + 999]``; in the timestamp layouts the key is
``unix_micros`` of the served ``ts`` and the probe matches
``[lo_ns // 1000, hi_ns // 1000]``.

Measured on a 4-core VM (``perfbench`` ``tick_ingest``, 2 000-row feed
files, median of ten runs): an in-slice probe, built and collected,
takes 19 ms for a point and 22 ms for a range, against 89/91 ms when the
slice was a Spark columnar cache (one ``InMemoryTableScan`` job per
probe); outside the slice a driver read takes 24/27 ms and a probe on
the parquet path about 125 ms.

Scale shape: nobody indexes a 100 TB table on one driver.  The server
takes an optional ts window (hot days) and/or symbol list (hot
partitions) and indexes only that slice; the slice lives in DRIVER
memory, so the caller bounds it with ``lo_ns``/``hi_ns``/``symbols``.
A slice of more than ``catalog.LOCAL_READ_MAX_ROWS`` rows is collected
by Spark, and one too big to collect fails ``open()`` loudly on Spark's
own ``spark.driver.maxResultSize``.

The parquet table stays the source of truth: the index is a snapshot
that ``refresh()`` brings up to date after a writer commits, never a
write-through copy.  Like the reference, which inserts each appended
tick into its tree and rebuilds the tree only at open
(`timeseries_db.cpp:60-155`), ``refresh()`` is incremental when it can
be: if every file the index was read from is still listed with the
size, mtime and inode it had when read, only the added files are read
(on the driver) and their keys merged into the index.  A file removed
or rewritten (``maintain``, retention, compaction), a changed served
schema, an index Spark collected, or added files the driver cannot read
rebuild the index in full, as ``open()`` builds it.  (A rewrite that
keeps a file's size and inode within one tick of the filesystem clock
goes unseen, as by any stat-based listing cache.)  Both leave the same
keys and the same rows per key; the order of rows with equal ts is
unspecified, as it is on the parquet path.
"""

from __future__ import annotations

import threading
import time
from pathlib import Path
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import session_cache
from .catalog import (
    events_raw,
    input_files,
    local_rows,
    ts_bound,
    ts_bounds_epoch_ns,
    ts_is_long,
    with_ts,
)

_KEY = "__probe_key"
_INT64 = (-(2**63), 2**63 - 1)


class _Index(NamedTuple):
    keys: np.ndarray  # sorted probe keys: raw ns, or unix micros
    table: pa.Table  # the slice in the served schema, in key order
    # _identity of each file the index was read from on the driver,
    # taken before the read; None for a Spark-collected index
    source: dict[Path, tuple[int, int, int]] | None


class _View(NamedTuple):
    """Everything a probe reads.  ``refresh()`` builds a new one and
    swaps it in with one assignment, so a concurrent probe sees either
    the old view or the new one, never a half-built index."""

    raw: DataFrame  # the parquet relation: the fallback path
    schema: T.StructType  # served schema, with_ts(raw).schema
    ns: bool  # int64-nanos layout: keys are raw ts
    bounds: tuple[int, int] | None  # footer ts bounds, epoch ns
    files: list | None  # the files ``raw`` lists, when all are local
    index: _Index | None  # None until open(), and after close()


class PointServer:
    """Serve repeated point/range probes from a sorted index of an events
    slice held on the driver.

    Usage::

        srv = PointServer(spark, sf_dir)
        open_sec = srv.open()          # read + sort the slice on the driver
        df = srv.point(epoch_ns)       # index or driver read: no job
        df = srv.range(lo_ns, hi_ns)
        srv.stats()                    # hits, fallbacks, rows, open cost
        srv.close()

    Results are identical to the registry's q04/q05 — same catalog
    bounds, same with_ts projection, same served schema — only the
    physical source (LocalTableScan vs parquet FileScan) differs, which
    tests pin.  An in-slice result comes back in ts order; a driver
    read's in file order, like the parquet path's.
    """

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        lo_ns: int | None = None,
        hi_ns: int | None = None,
        symbols: list[str] | None = None,
        symbol_col: str = "event_type",
    ) -> None:
        self._spark = spark
        self._path = f"{sf_dir}/events.parquet"
        self._sf_dir = sf_dir
        self._lo = lo_ns
        self._hi = hi_ns
        # the events table's symbol analogue is event_type (TESTDATA.md);
        # deployments with a real symbol column pass symbol_col="symbol"
        self._symbols = list(symbols) if symbols else None
        self._symbol_col = symbol_col
        self._counts = dict.fromkeys(
            ("index_hits", "footer_empty", "local_reads", "parquet_fallbacks",
             "delta_refreshes", "full_refreshes"), 0)
        self._lock = threading.Lock()
        self._open_s: float | None = None
        self._refresh_s: float | None = None
        self._refresh_rows: int | None = None
        self._view = self._resolve()

    def _resolve(self) -> _View:
        """The parquet relation plus its footer ts bounds, read AFTER the
        relation is listed: an append between the two only widens the
        bounds, so the known-empty test below never hides a listed row."""
        raw = events_raw(self._spark, self._sf_dir)
        return _View(raw, with_ts(raw).schema, ts_is_long(raw),
                     ts_bounds_epoch_ns(self._path), input_files(raw), None)

    def _window(self, view: _View, lo_ns: int | None, hi_ns: int | None) -> tuple[int, int]:
        """``ts_bound``'s window for ``[lo_ns, hi_ns]`` in raw ts units
        (an int64 extreme for an open end): ``[lo_ns, hi_ns + 999]`` in
        the int64-nanos layout, ``[lo_ns // 1000, hi_ns // 1000]`` in
        micros otherwise."""
        lo = _INT64[0] if lo_ns is None else lo_ns if view.ns else lo_ns // 1000
        hi = _INT64[1] if hi_ns is None else hi_ns + 999 if view.ns else hi_ns // 1000
        return lo, hi

    def _read(self, view: _View, window: tuple[int, int], files: list[Path]) -> pa.Table | None:
        """The rows of ``files`` (listed by ``view.raw``) whose raw ts
        lies in ``window``, read on the driver from the footer-pruned row
        groups (``catalog.local_rows``) and converted to the served
        schema, plus the probe key ``_KEY`` (the raw ts as an int64);
        None when only Spark can give them exactly.  The timestamp
        layouts need a UTC session: Spark reads the UTC layout's bounds,
        and serves NTZ values, in the session time zone."""
        if view.files is None or (
            not view.ns and self._spark.conf.get("spark.sql.session.timeZone") != "UTC"
        ):
            return None
        part = local_rows(self._spark, self._path, to_arrow_schema(view.raw.schema), "ts",
                          window=window, files=files)
        if part is None:
            return None
        served = to_arrow_schema(view.schema)
        # with_ts: nanos truncate toward zero to micros (Spark's ``div``,
        # Arrow's integer divide); NTZ micros are read as UTC instants
        key = part.column("ts").cast(pa.int64())
        ts = pc.divide(key, 1000) if view.ns else part.column("ts")
        i = part.schema.get_field_index("ts")
        part = part.set_column(i, served.field("ts"), ts.cast(served.field("ts").type))
        return part.cast(served).append_column(_KEY, key)

    def _collect(self, view: _View) -> pa.Table:
        """The slice with its probe key, collected by Spark (one job):
        the build wherever the driver read declines."""
        raw = view.raw
        slice_df = raw.where(F.col("ts").isNotNull())
        if self._lo is not None:
            slice_df = slice_df.where(F.col("ts") >= ts_bound(raw, self._lo))
        if self._hi is not None:
            slice_df = slice_df.where(
                F.col("ts") <= ts_bound(raw, self._hi, upper=True)
            )
        if self._symbols:
            slice_df = slice_df.where(
                F.col(self._symbol_col).isin(self._symbols)
            )
        # the served ts in micros: with_ts casts NTZ to timestamp the same way
        key = F.col("ts") if view.ns else F.unix_micros(F.col("ts").cast("timestamp"))
        return with_ts(slice_df.withColumn(_KEY, key)).toArrow()

    def _merge(self, index: _Index | None, part: pa.Table,
               source: dict[Path, tuple[int, int, int]] | None) -> _Index:
        """``index`` (None: empty) with the slice rows of ``part`` merged
        in by key.  The sort is stable: rows of equal key keep the
        index's order, and ``part``'s follow them."""
        part = self._only(part, self._symbols)
        keys = part.column(_KEY).to_numpy()
        table = part.drop_columns([_KEY])
        if index is not None:
            keys = np.concatenate([index.keys, keys])
            table = pa.concat_tables([index.table, table])
        order = np.argsort(keys, kind="stable")
        return _Index(keys[order], table.take(order), source)

    def _build(self, view: _View) -> _Index:
        """The index of the whole slice: read on the driver from every
        file ``view.raw`` lists when it can, else collected by Spark (one
        job).  Rows with a null ts never match a probe and are not
        indexed."""
        source = _identity(view.files)
        part = None
        if source is not None:
            part = self._read(view, self._window(view, self._lo, self._hi), view.files)
        if part is None:
            part, source = self._collect(view), None
        return self._merge(None, part, source)

    def _delta(self, old: _View, view: _View) -> _Index | None:
        """``old``'s index brought up to ``view``'s listing by reading
        only the files added since; None (rebuild in full) unless every
        file the index was read from is still listed with its size,
        mtime and inode, the served schema is unchanged and the driver
        can read the added files."""
        index = old.index
        if index is None or index.source is None or (old.schema, old.ns) != (view.schema, view.ns):
            return None
        source = _identity(view.files)
        if source is None or any(source.get(f) != st for f, st in index.source.items()):
            return None
        added = [f for f in view.files if f not in index.source]
        if not added:
            return index._replace(source=source)
        part = self._read(view, self._window(view, self._lo, self._hi), added)
        return None if part is None else self._merge(index, part, source)

    def open(self) -> float:
        """Build the index from every listed file — on the driver, or by
        one Spark job where the driver read declines (see ``_build``) —
        and return the seconds it took (the open-time cost a deployment
        pays once, reported so benchmarks cannot hide it).  A full
        ``refresh()`` builds the same way."""
        t0 = time.perf_counter()
        view = self._view
        self._view = view._replace(index=self._build(view))
        self._open_s = time.perf_counter() - t0
        return self._open_s

    def _in_cache(
        self, lo_ns: int, hi_ns: int, symbols: list[str] | None = None
    ) -> bool:
        """Whether the indexed slice fully covers a probe: ts window
        inside the indexed window AND, for a symbol-sliced server, the
        probe restricted to a SUBSET of the indexed symbols — a ts-only
        probe (``symbols`` None or empty: no restriction, as everywhere
        else) against a symbol-sliced index would silently drop the
        other symbols, so it must take another path."""
        if self._lo is not None and lo_ns < self._lo:
            return False
        if self._hi is not None and hi_ns > self._hi:
            return False
        if self._symbols is not None and (
            not symbols or not set(symbols) <= set(self._symbols)
        ):
            return False
        return True

    def table_min_ns(self) -> int | None:
        bounds = self._view.bounds
        return None if bounds is None else bounds[0]

    def point(
        self, epoch_ns: int, symbols: list[str] | None = None
    ) -> DataFrame:
        """Degenerate range (reference S4 with start == end) against the
        index when it covers the probe, else the parquet path."""
        return self.range(epoch_ns, epoch_ns, symbols)

    def range(
        self, lo_ns: int, hi_ns: int, symbols: list[str] | None = None
    ) -> DataFrame:
        view = self._view
        if view.index is not None and self._in_cache(lo_ns, hi_ns, symbols):
            self._count("index_hits")
            part = self._lookup(view, lo_ns, hi_ns, symbols)
            return self._spark.createDataFrame(part, view.schema)
        if view.bounds is not None and (
            hi_ns // 1000 < view.bounds[0] // 1000
            or lo_ns // 1000 > view.bounds[1] // 1000
        ):
            # the window misses every row group's stats: the parquet
            # path would read nothing, so answer without a job
            self._count("footer_empty")
            empty = to_arrow_schema(view.schema).empty_table()
            return self._spark.createDataFrame(empty, view.schema)
        part = self._local(view, lo_ns, hi_ns, symbols)
        if part is not None:
            self._count("local_reads")
            return self._spark.createDataFrame(part, view.schema)
        self._count("parquet_fallbacks")
        out = view.raw.where(
            (F.col("ts") >= ts_bound(view.raw, lo_ns))
            & (F.col("ts") <= ts_bound(view.raw, hi_ns, upper=True))
        )
        if symbols:
            out = out.where(F.col(self._symbol_col).isin(list(symbols)))
        return with_ts(out)

    def _lookup(
        self, view: _View, lo_ns: int, hi_ns: int, symbols: list[str] | None
    ) -> pa.Table:
        """The index rows ``ts_bound`` admits for ``[lo_ns, hi_ns]``."""
        keys, table = view.index.keys, view.index.table
        lo, hi = self._window(view, lo_ns, hi_ns)
        i = int(np.searchsorted(keys, lo, side="left"))
        j = int(np.searchsorted(keys, hi, side="right"))
        return self._only(table.slice(i, max(j - i, 0)), symbols)

    def _local(
        self, view: _View, lo_ns: int, hi_ns: int, symbols: list[str] | None
    ) -> pa.Table | None:
        """The parquet path's rows read on the driver from the row groups
        of the files ``raw`` lists whose footer ts range meets
        ``ts_bound``'s window, in the served schema; None when only
        Spark can give them exactly."""
        part = self._read(view, self._window(view, lo_ns, hi_ns), view.files)
        return None if part is None else self._only(part.drop_columns([_KEY]), symbols)

    def _only(self, part: pa.Table, symbols: list[str] | None) -> pa.Table:
        """``part`` restricted to ``symbols`` (all rows when None/empty)."""
        if not symbols:
            return part
        col = part.column(self._symbol_col)
        return part.filter(pc.is_in(col, pa.array(list(symbols), col.type)))

    def _count(self, kind: str) -> None:
        with self._lock:
            self._counts[kind] += 1

    def stats(self) -> dict:
        """Probe counters since construction — ``index_hits`` (served
        from the index), ``footer_empty`` (outside the footer ts bounds,
        answered empty without a job), ``local_reads`` (read on the
        driver from the footer-pruned row groups, no job),
        ``parquet_fallbacks`` — and refresh counters, ``delta_refreshes``
        (only added files read) and ``full_refreshes``; plus the rows the
        index holds, the slice rows the last refresh read into it
        (``refresh_rows_read``: the added files' on a delta refresh, all
        of them on a full one) and the last ``open()``/``refresh()``
        seconds (None before the first call)."""
        index = self._view.index
        with self._lock:
            counts = dict(self._counts)
            rows_read = self._refresh_rows
        return {
            **counts,
            "indexed_rows": 0 if index is None else index.table.num_rows,
            "refresh_rows_read": rows_read,
            "open_s": self._open_s,
            "refresh_s": self._refresh_s,
        }

    def refresh(self) -> float:
        """Bring the index up to date after the underlying table changed
        (append/compaction/retention); a long-lived server calls this
        from its ingest hook.  Re-resolves the datasource (fresh file
        listing and footer bounds; the schema comes from the catalog's
        memo, so no inference job), then either

        * delta: when every file the index was read from is still
          listed with the size, mtime and inode it had, reads only the
          added files on the driver and merges their slice rows into the
          index, as the reference updates its tree after each write — no
          Spark job; or
        * full: otherwise — a file removed or rewritten (``maintain``,
          retention, compaction), a changed served schema, an index
          Spark collected, added files the driver cannot read — rebuilds
          the index as ``open()`` builds it.

        Either way the new view is swapped in with one assignment, so
        probes issued meanwhile read the old view.  A delta-refreshed
        index holds the keys and rows a fresh ``open()`` over the same
        files holds; the order of rows with equal ts differs between the
        two and is unspecified, as on the parquet path.  Returns the
        seconds it took."""
        t0 = time.perf_counter()
        # the session cache's relation entry pins the file listing —
        # an external writer's commit is invisible until it is dropped
        session_cache.drop("relation", self._path)
        old, view = self._view, self._resolve()
        index = self._delta(old, view)
        if index is not None:
            kind, rows = "delta_refreshes", index.table.num_rows - old.index.table.num_rows
        else:
            index = self._build(view)
            kind, rows = "full_refreshes", index.table.num_rows
        self._view = view._replace(index=index)
        with self._lock:
            self._counts[kind] += 1
            self._refresh_rows = rows
        self._refresh_s = time.perf_counter() - t0
        return self._refresh_s

    def close(self) -> None:
        self._view = self._view._replace(index=None)


def _identity(files: list[Path] | None) -> dict[Path, tuple[int, int, int]] | None:
    """(size, mtime_ns, inode) of each of ``files``: what a rewrite in
    place or a replace by rename changes, short of a same-size rewrite
    within one tick of the filesystem clock; None for a listing that is
    not local, or a file that cannot be stat-ed."""
    if files is None:
        return None
    try:
        return {f: (st.st_size, st.st_mtime_ns, st.st_ino)
                for f in files for st in (f.stat(),)}
    except OSError:
        return None
