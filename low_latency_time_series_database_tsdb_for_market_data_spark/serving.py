"""Hot-table serving path: persisted events cache for repeated probes.

SURVEY.md §1.3 names the mechanism this module implements: a long-lived
query service keeps the hot table (or its hot partitions) persisted in
Spark's columnar cache and REUSES the loaded relation across probes,
instead of re-resolving the datasource (file listing + footer schema
read + fresh plan) per query the way a one-shot registry call does.
That re-resolution — not the scan — dominates small-probe latency:
measured at sf0.1, a rebuilt-per-call point lookup pays ~0.2 s while
the same lookup through a held relation pays ~0.09 s, the local job
floor.

The reference makes the identical trade structurally: its storage
constructor replays every tick into the in-memory B+ tree at open
(`timeseries_db.cpp:29-59`), so every point read it serves afterwards is
a warm in-memory descent.  `PointServer` is that open-time replay,
Spark-style: one persist + materialize at open (cost reported by
``open()``), then every probe is an InMemoryTableScan whose per-batch
ts min/max stats prune like the row-group stats do on parquet — the
table is written time-sorted, so cached batches inherit tight ranges.

Scale shape: at 100 TB nobody persists the whole table — the server
takes an optional ts window (hot days) and/or symbol list (hot
partition) and caches only that slice; probes outside the cached slice
fall back to the parquet path transparently.  Cache memory is bounded
by the slice, MEMORY_AND_DISK spills rather than OOMs, and the
underlying parquet table remains the source of truth (the cache is
dropped, never written through).
"""

from __future__ import annotations

import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import events_raw, ts_bound, ts_bounds_epoch_ns, with_ts


class PointServer:
    """Serve repeated point/range probes from a persisted events slice.

    Usage::

        srv = PointServer(spark, sf_dir)
        open_sec = srv.open()          # one-time cache materialization
        df = srv.point(epoch_ns)       # ~job-floor latency thereafter
        df = srv.range(lo_ns, hi_ns)
        srv.close()

    Results are identical to the registry's q04/q05 — same catalog
    literals, same with_ts projection — only the physical source
    (InMemoryTableScan vs parquet FileScan) differs, which tests pin.
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
        self._sf_dir = sf_dir
        self._raw = events_raw(spark, sf_dir)
        self._lo = lo_ns
        self._hi = hi_ns
        # the events table's symbol analogue is event_type (TESTDATA.md);
        # deployments with a real symbol column pass symbol_col="symbol"
        self._symbols = list(symbols) if symbols else None
        self._symbol_col = symbol_col
        slice_df = self._raw
        if lo_ns is not None:
            slice_df = slice_df.where(
                F.col("ts") >= ts_bound(self._raw, lo_ns)
            )
        if hi_ns is not None:
            slice_df = slice_df.where(
                F.col("ts") <= ts_bound(self._raw, hi_ns, upper=True)
            )
        if self._symbols:
            slice_df = slice_df.where(
                F.col(symbol_col).isin(self._symbols)
            )
        self._hot = slice_df.persist(StorageLevel.MEMORY_AND_DISK)
        self._opened = False
        # footer-stats bounds, cached once from one footer walk: probes
        # against a known-empty range answer without a job at all
        self._tbl_min, self._tbl_max = ts_bounds_epoch_ns(
            f"{sf_dir}/events.parquet"
        ) or (None, None)

    def open(self) -> float:
        """Materialize the cache; returns the seconds it took (the
        open-time cost a deployment pays once, reported so benchmarks
        cannot hide it).  A ``noop`` write of the slice builds every
        cached partition in ONE job; ``count()`` would plan an aggregate
        whose AQE stages cost three."""
        t0 = time.perf_counter()
        self._hot.write.format("noop").mode("overwrite").save()
        self._opened = True
        return time.perf_counter() - t0

    def _in_cache(
        self, lo_ns: int, hi_ns: int, symbols: list[str] | None = None
    ) -> bool:
        """Whether the cached slice fully covers a probe: ts window
        inside the cached window AND, for a symbol-sliced server, the
        probe restricted to a SUBSET of the cached symbols — a ts-only
        probe against a symbol-sliced cache would silently drop the
        other symbols, so it must fall back to the parquet path."""
        if not self._opened:
            return False
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
        return self._tbl_min

    def point(
        self, epoch_ns: int, symbols: list[str] | None = None
    ) -> DataFrame:
        """Degenerate range (reference S4 with start == end) against the
        cached slice when it covers the probe, else the parquet path."""
        return self.range(epoch_ns, epoch_ns, symbols)

    def range(
        self, lo_ns: int, hi_ns: int, symbols: list[str] | None = None
    ) -> DataFrame:
        src = (
            self._hot
            if self._in_cache(lo_ns, hi_ns, symbols)
            else self._raw
        )
        out = src.where(
            (F.col("ts") >= ts_bound(self._raw, lo_ns))
            & (F.col("ts") <= ts_bound(self._raw, hi_ns, upper=True))
        )
        if symbols:
            out = out.where(F.col(self._symbol_col).isin(list(symbols)))
        return with_ts(out)

    def refresh(self) -> float:
        """Re-materialize the cache after the underlying table changed
        (append/compaction/retention).  Spark's columnar cache pins the
        file listing at persist time, so a served slice goes stale the
        moment a writer commits; a long-lived server calls refresh()
        from its ingest hook.  Drops the old cache, re-resolves the
        datasource (fresh file listing + footer bounds; the schema comes
        from the catalog's memo, so no inference job), persists and
        materializes the new slice through ``open()`` — one Spark job in
        all; returns the seconds it took.  Probes
        issued concurrently keep working — worst case they read the old
        cached plan until the swap completes."""
        from .catalog import invalidate_relation

        self._hot.unpersist(blocking=False)
        # the catalog's per-session relation cache pins the file
        # listing too (round 12) — an external writer's commit is
        # invisible until the entry is dropped
        invalidate_relation(f"{self._sf_dir}/events.parquet")
        self.__init__(
            self._spark,
            self._sf_dir,
            self._lo,
            self._hi,
            self._symbols,
            self._symbol_col,
        )
        return self.open()

    def close(self) -> None:
        self._hot.unpersist(blocking=False)
        self._opened = False
