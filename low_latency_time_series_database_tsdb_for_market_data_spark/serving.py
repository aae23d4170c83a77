"""Hot-table serving path: a driver-side sorted ts index over a hot slice.

The reference serves its main read path, a point or an inclusive range,
by descending an in-memory B+ tree ``timestamp -> row``
(`bplus_tree.hpp:70-91`) that its storage constructor rebuilds by
replaying every tick at open (`timeseries_db.cpp:29-59`, `:157-168`).
`PointServer` is that open-time replay.  ``open()`` collects the hot
slice once through Arrow (one Spark job), stable-sorts it on a probe key
and keeps ``(keys, table)`` on the driver: the sorted int64 key array is
the tree's leaf level and ``numpy.searchsorted`` its descent.  A probe
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
A slice too big to collect fails ``open()`` loudly on Spark's own
``spark.driver.maxResultSize``.  The parquet table stays the source of
truth: the index is a snapshot that ``refresh()`` rebuilds after a
writer commits, never a write-through copy.
"""

from __future__ import annotations

import threading
import time
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


class _Index(NamedTuple):
    keys: np.ndarray  # sorted probe keys: raw ns, or unix micros
    table: pa.Table  # the slice in the served schema, in key order


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
        open_sec = srv.open()          # one job: collect + sort the slice
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
            ("index_hits", "footer_empty", "local_reads", "parquet_fallbacks"), 0)
        self._lock = threading.Lock()
        self._open_s: float | None = None
        self._refresh_s: float | None = None
        self._view = self._resolve()

    def _resolve(self) -> _View:
        """The parquet relation plus its footer ts bounds, read AFTER the
        relation is listed: an append between the two only widens the
        bounds, so the known-empty test below never hides a listed row."""
        raw = events_raw(self._spark, self._sf_dir)
        return _View(raw, with_ts(raw).schema, ts_is_long(raw),
                     ts_bounds_epoch_ns(self._path), input_files(raw), None)

    def _build(self, view: _View) -> _Index:
        """Collect the slice with its probe key (one Spark job) and sort
        it on the key.  Rows with a null ts never match a probe."""
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
        table = with_ts(slice_df.withColumn(_KEY, key)).toArrow()
        table = table.take(pc.sort_indices(table, [(_KEY, "ascending")]))
        return _Index(table.column(_KEY).to_numpy(), table.drop_columns([_KEY]))

    def open(self) -> float:
        """Build the index; returns the seconds it took (the open-time
        cost a deployment pays once, reported so benchmarks cannot hide
        it)."""
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
        probe against a symbol-sliced index would silently drop the
        other symbols, so it must fall back to the parquet path."""
        if self._lo is not None and lo_ns < self._lo:
            return False
        if self._hi is not None and hi_ns > self._hi:
            return False
        if self._symbols is not None and (
            symbols is None or not set(symbols) <= set(self._symbols)
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
        keys, table = view.index
        lo, hi = (lo_ns, hi_ns + 999) if view.ns else (lo_ns // 1000, hi_ns // 1000)
        i = int(np.searchsorted(keys, lo, side="left"))
        j = int(np.searchsorted(keys, hi, side="right"))
        return self._only(table.slice(i, max(j - i, 0)), symbols)

    def _local(
        self, view: _View, lo_ns: int, hi_ns: int, symbols: list[str] | None
    ) -> pa.Table | None:
        """The parquet path's rows read on the driver from the row groups
        whose footer ts range meets ``ts_bound``'s window
        (``catalog.local_rows`` over the files ``raw`` lists), in the
        served schema; None when only Spark can give them exactly.  The
        timestamp layouts need a UTC session: Spark reads the UTC
        layout's bounds, and serves NTZ values, in the session time
        zone."""
        if view.files is None or (
            not view.ns and self._spark.conf.get("spark.sql.session.timeZone") != "UTC"
        ):
            return None
        window = (lo_ns, hi_ns + 999) if view.ns else (lo_ns // 1000, hi_ns // 1000)
        part = local_rows(self._spark, self._path, to_arrow_schema(view.raw.schema), "ts",
                          window=window, files=view.files)
        if part is None:
            return None
        served = to_arrow_schema(view.schema)
        # with_ts: nanos truncate toward zero to micros (Spark's ``div``,
        # Arrow's integer divide); NTZ micros are read as UTC instants
        ts = part.column("ts")
        if view.ns:
            ts = pc.divide(ts, 1000)
        i = part.schema.get_field_index("ts")
        part = part.set_column(i, served.field("ts"), ts.cast(served.field("ts").type))
        return self._only(part, symbols).cast(served)

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
        ``parquet_fallbacks`` — plus the rows the index holds and the
        last ``open()``/``refresh()`` seconds (None before the first
        call)."""
        index = self._view.index
        with self._lock:
            counts = dict(self._counts)
        return {
            **counts,
            "indexed_rows": 0 if index is None else index.table.num_rows,
            "open_s": self._open_s,
            "refresh_s": self._refresh_s,
        }

    def refresh(self) -> float:
        """Rebuild the index after the underlying table changed
        (append/compaction/retention); a long-lived server calls this
        from its ingest hook.  Re-resolves the datasource (fresh file
        listing and footer bounds; the schema comes from the catalog's
        memo, so no inference job) and builds the new index — one Spark
        job in all — then swaps the new view in with one assignment:
        probes issued meanwhile read the old view.  Returns the seconds
        it took."""
        t0 = time.perf_counter()
        # the session cache's relation entry pins the file listing —
        # an external writer's commit is invisible until it is dropped
        session_cache.drop("relation", self._path)
        view = self._resolve()
        self._view = view._replace(index=self._build(view))
        self._refresh_s = time.perf_counter() - t0
        return self._refresh_s

    def close(self) -> None:
        self._view = self._view._replace(index=None)
