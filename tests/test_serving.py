"""PointServer (hot-slice serving path): results must be identical to
the registry's q04/q05 and to the parquet path — only the physical source
(a LocalTableScan cut from the driver-side index or read from the
footer-pruned row groups, vs a parquet FileScan) may differ.  A probe
inside the indexed slice runs no Spark job, nor does one outside it that
the driver can read exactly; any other probe falls back to the parquet
path transparently."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from low_latency_time_series_database_tsdb_for_market_data_spark import catalog
from low_latency_time_series_database_tsdb_for_market_data_spark.catalog import (
    events_raw,
    ts_min_epoch_ns,
    ts_max_epoch_ns,
)
from low_latency_time_series_database_tsdb_for_market_data_spark.registry import (
    load_all,
)
from low_latency_time_series_database_tsdb_for_market_data_spark.serving import (
    PointServer,
)
from tests.oracle_diff import assert_df_equal
from tests.test_catalog_adaptive import _BASE_US
from tests.test_tick_footer_index import _jobs

SF = "/root/testdata/sf0.01"


def _sorted(df) -> pd.DataFrame:
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(spark, df) -> None:
    """Served on the driver (from the index, or by a driver read): a
    LocalTableScan whose collect runs no Spark job."""
    assert _plan(df).startswith("LocalTableScan"), _plan(df)
    assert _jobs(spark, df.collect, "serving-probe") == 0


def _assert_parquet(df) -> None:
    plan = _plan(df)
    assert "FileScan parquet" in plan and "LocalTableScan" not in plan, plan


def _over_cap(monkeypatch) -> None:
    """Force the parquet path for any probe whose row groups hold rows:
    the driver read's row cap drops to 0."""
    monkeypatch.setattr(catalog, "LOCAL_READ_MAX_ROWS", 0)


def test_point_server_matches_q05(spark):
    reg = load_all()
    srv = PointServer(spark, SF)
    try:
        srv.open()
        got = _sorted(srv.point(srv.table_min_ns()))
        want = _sorted(reg["q05_point_lookup"].fn(spark, SF))
        assert_df_equal(got, want, name="server point vs q05")
        # the in-slice probe really serves from the index, with no job
        _assert_local(spark, srv.point(srv.table_min_ns()))
    finally:
        srv.close()


def test_range_matches_q04_and_footer_bounds(spark):
    reg = load_all()
    srv = PointServer(spark, SF)
    try:
        srv.open()
        # q04's fixed window, through the server
        from low_latency_time_series_database_tsdb_for_market_data_spark.operators.reference_surface import (  # noqa: E501
            _T1_NS,
            _T2_NS,
        )

        got = _sorted(srv.range(_T1_NS, _T2_NS))
        want = _sorted(reg["q04_range_scan"].fn(spark, SF))
        assert_df_equal(got, want, name="server range vs q04")
        # footer max twin agrees with the data
        mx = ts_max_epoch_ns(f"{SF}/events.parquet")
        if mx is not None:
            raw = events_raw(spark, SF)
            from low_latency_time_series_database_tsdb_for_market_data_spark.catalog import (  # noqa: E501
                with_ts,
            )

            data_max = (
                with_ts(raw)
                .agg(F.max(F.unix_micros("ts")))
                .collect()[0][0]
            )
            assert mx == data_max * 1000
    finally:
        srv.close()


def test_probe_outside_cached_slice_falls_back(spark, monkeypatch):
    """A server caching only a late window must still answer an early
    probe correctly: by a driver read of the footer-pruned row groups
    (no job), or over the driver read's cap by the parquet path."""
    reg = load_all()
    lo = ts_min_epoch_ns(f"{SF}/events.parquet")
    srv = PointServer(spark, SF, lo_ns=lo + 10**15)  # index starts later
    try:
        srv.open()
        want = _sorted(reg["q05_point_lookup"].fn(spark, SF))
        q = srv.point(lo)
        _assert_local(spark, q)
        assert_df_equal(_sorted(q), want, name="driver-read point vs q05")
        _over_cap(monkeypatch)
        q = srv.point(lo)
        _assert_parquet(q)
        assert_df_equal(_sorted(q), want, name="fallback point vs q05")
        assert srv.stats()["local_reads"] == 1 and srv.stats()["parquet_fallbacks"] == 1
    finally:
        srv.close()


def test_symbol_sliced_server(spark, monkeypatch):
    """A server indexing one event_type slice: (a) a probe restricted to
    that slice serves FROM the index and matches the raw-path filter
    exactly; (b) a ts-only probe must NOT serve from the symbol-sliced
    index (it would silently drop the other event types) and still
    returns the full q04-equivalent result; (c) construction with the
    default symbol_col works against the events schema (round-6 advice:
    the old code filtered a nonexistent `symbol` column and ignored the
    slice in _in_cache); (d) ``symbols=[]`` is a ts-only probe too."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.operators.reference_surface import (  # noqa: E501
        _T1_NS,
        _T2_NS,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.catalog import (  # noqa: E501
        with_ts,
        ts_bound,
    )

    reg = load_all()
    srv = PointServer(spark, SF, symbols=["click"])
    try:
        srv.open()
        # (a) restricted probe: indexed, and value-identical to raw
        q = srv.range(_T1_NS, _T2_NS, symbols=["click"])
        _assert_local(spark, q)
        raw = events_raw(spark, SF)
        want_df = with_ts(
            raw.where(
                (F.col("ts") >= ts_bound(raw, _T1_NS))
                & (F.col("ts") <= ts_bound(raw, _T2_NS, upper=True))
                & (F.col("event_type") == "click")
            )
        )
        assert_df_equal(
            _sorted(q), _sorted(want_df), name="symbol-sliced range"
        )
        assert (_sorted(q)["event_type"] == "click").all()
        # (b) ts-only probe: not from the index, AND returns every event
        # type — by a driver read, or over its cap by the parquet path
        want2 = _sorted(reg["q04_range_scan"].fn(spark, SF))
        q2 = srv.range(_T1_NS, _T2_NS)
        _assert_local(spark, q2)
        assert_df_equal(_sorted(q2), want2, name="ts-only driver read")
        # (c) a superset symbol probe is not served from the index either
        want3 = _sorted(_parquet_path(spark, SF, _T1_NS, _T2_NS, ["click", "view"]))
        q3 = srv.range(_T1_NS, _T2_NS, symbols=["click", "view"])
        assert_df_equal(_sorted(q3), want3, name="superset driver read")
        assert srv.stats()["local_reads"] == 2
        # (d) an empty symbol list restricts nothing, as on the parquet
        # path: every event type, not the indexed clicks alone
        q4 = srv.range(_T1_NS, _T2_NS, symbols=[])
        assert_df_equal(_sorted(q4), want2, name="empty symbol list")
        assert srv.stats()["index_hits"] == 1 and srv.stats()["local_reads"] == 3
        _over_cap(monkeypatch)
        q2 = srv.range(_T1_NS, _T2_NS)
        _assert_parquet(q2)
        assert_df_equal(_sorted(q2), want2, name="ts-only fallback")
        q3 = srv.range(_T1_NS, _T2_NS, symbols=["click", "view"])
        _assert_parquet(q3)
        assert_df_equal(_sorted(q3), want3, name="superset fallback")
    finally:
        srv.close()


def test_refresh_picks_up_externally_appended_rows(spark, tmp_path):
    """The index is a snapshot: another process committing files is
    invisible until refresh() re-resolves the table.  Simulated by
    copying a part file in at the filesystem level, which a delta
    refresh reads alone.  Probes issued while refresh() runs read the
    old index or the new one, never neither."""
    import shutil
    import threading
    from pathlib import Path

    live = str(tmp_path / "live_sf")
    src = Path(f"{SF}/events.parquet")
    dst = Path(f"{live}/events.parquet")
    if src.is_dir():
        shutil.copytree(src, dst)
    else:  # single-file fixture: wrap it in a directory table
        dst.mkdir(parents=True)
        shutil.copy(src, dst / "part-000.parquet")
    srv = PointServer(spark, live)
    try:
        srv.open()
        lo = srv.table_min_ns()
        before = srv.point(lo).count()
        # external writer: duplicate a part file at the filesystem level
        # (no Spark write path, no refreshByPath)
        part = next(dst.glob("part-*.parquet"))
        shutil.copy(part, part.with_name("part-ext-copy.parquet"))
        # the stale index still answers from the old listing
        assert srv.point(lo).count() == before
        seen, errors, done = set(), [], threading.Event()

        def probe() -> None:
            try:
                while not done.is_set():
                    seen.add(len(srv.point(lo).collect()))
            except Exception as e:  # surfaced by the assert below
                errors.append(e)

        t = threading.Thread(target=probe)
        t.start()
        try:
            srv.refresh()
        finally:
            done.set()
            t.join(60)
        assert not t.is_alive()
        assert not errors and seen <= {before, 2 * before}, (errors, seen)
        assert srv.stats()["delta_refreshes"] == 1  # only the copy was read
        assert srv.point(lo).count() == 2 * before
        _assert_local(spark, srv.point(lo))
    finally:
        srv.close()


def _parquet_path(spark, d, lo_ns, hi_ns, symbols=None):
    """The parquet-path answer for a probe, built from the catalog's
    bounds exactly as the fallback builds it."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.catalog import (  # noqa: E501
        ts_bound,
        with_ts,
    )

    raw = events_raw(spark, d)
    out = raw.where(
        (F.col("ts") >= ts_bound(raw, lo_ns))
        & (F.col("ts") <= ts_bound(raw, hi_ns, upper=True))
    )
    if symbols:
        out = out.where(F.col("event_type").isin(symbols))
    return with_ts(out)


@pytest.fixture(scope="module")
def dup_layouts(tmp_path_factory):
    """The ns/us/us_utc events layouts, each as a two-file table whose
    second file repeats the first: every timestamp appears twice."""
    import shutil

    from tests.test_catalog_adaptive import _write_events

    base = tmp_path_factory.mktemp("serving_layouts")
    out = {}
    for unit in ("ns", "us", "us_utc"):
        table = base / unit / "events.parquet"
        table.mkdir(parents=True)
        src = _write_events(str(base / unit), unit)
        shutil.move(src, table / "part-0.parquet")
        shutil.copy(table / "part-0.parquet", table / "part-1.parquet")
        out[unit] = str(base / unit)
    return out


_B_NS = _BASE_US * 1000
_DAY_NS = 86_400 * 10**9
# (lo, hi) in epoch ns around the fixture rows at B-1us, B, B+5us, B+1d:
# round and non-round nanosecond bounds, both inclusive ends hit, and an
# in-slice window between rows that holds nothing
_PROBES = [
    (_B_NS, _B_NS),
    (_B_NS + 1, _B_NS + 1),
    (_B_NS - 1, _B_NS - 1),
    (_B_NS - 1000, _B_NS),
    (_B_NS - 999, _B_NS + 4999),
    (_B_NS - 999, _B_NS - 1),
    (_B_NS + 5000, _B_NS + 5000 + _DAY_NS),
    (_B_NS + 1000, _B_NS + 4000),  # empty
    (0, 2**62),
]


@pytest.mark.parametrize("unit", ["ns", "us", "us_utc"])
def test_in_slice_probes_match_parquet_path(spark, dup_layouts, unit):
    """Every in-slice probe returns exactly the parquet path's rows and
    schema, for each ts layout, for a window-sliced server whose slice
    bounds are non-round nanoseconds, and for a symbol-sliced server."""
    d = dup_layouts[unit]
    full = PointServer(spark, d)
    sliced = PointServer(spark, d, lo_ns=_B_NS - 500, hi_ns=_B_NS + 5001)
    by_sym = PointServer(spark, d, symbols=["view", "click"])
    cases = [(full, lo, hi, None) for lo, hi in _PROBES]
    cases += [(sliced, lo, hi, None) for lo, hi in
              [(_B_NS - 500, _B_NS), (_B_NS - 500, _B_NS + 5001), (_B_NS + 1, _B_NS + 4999)]]
    cases += [(by_sym, lo, hi, syms) for lo, hi in _PROBES[:5]
              for syms in (["view"], ["click"], ["click", "view"])]
    try:
        for srv in (full, sliced, by_sym):
            srv.open()
        for srv, lo, hi, syms in cases:
            got = srv.range(lo, hi, syms)
            want = _parquet_path(spark, d, lo, hi, syms)
            assert got.schema == want.schema
            assert sorted(got.collect()) == sorted(want.collect()), (unit, lo, hi, syms)
        assert sum(s.stats()["index_hits"] for s in (full, sliced, by_sym)) == len(cases)
        assert full.stats()["indexed_rows"] == 8
        # a symbol the slice holds no rows for, and the empty window
        assert full.range(_B_NS + 1000, _B_NS + 4000).collect() == []
        assert by_sym.point(_B_NS, ["click"]).collect() == []
        _assert_local(spark, full.range(_B_NS - 1000, _B_NS))
    finally:
        for srv in (full, sliced, by_sym):
            srv.close()


def test_stats_count_a_mixed_probe_sequence(spark, dup_layouts, monkeypatch):
    """Index hits, footer-answered empties, driver reads and parquet
    fallbacks are counted apart; a window outside the footer ts bounds
    answers empty, equal to the parquet path, without a Spark job."""
    d = dup_layouts["us"]
    srv = PointServer(spark, d, lo_ns=_B_NS, hi_ns=_B_NS + _DAY_NS)
    assert srv.stats() == {"index_hits": 0, "footer_empty": 0, "local_reads": 0,
                           "parquet_fallbacks": 0, "delta_refreshes": 0,
                           "full_refreshes": 0, "indexed_rows": 0,
                           "refresh_rows_read": None, "open_s": None, "refresh_s": None}
    assert srv.table_min_ns() == _B_NS - 1000
    try:
        srv.open()
        srv.point(_B_NS).collect()                      # hit
        srv.range(_B_NS, _B_NS + _DAY_NS).collect()    # hit
        local = srv.point(_B_NS - 1000)                 # before the slice
        _assert_local(spark, local)
        assert len(local.collect()) == 2
        with monkeypatch.context() as m:
            _over_cap(m)
            fb = srv.point(_B_NS - 1000)
        _assert_parquet(fb)
        assert len(fb.collect()) == 2
        for lo, hi in [(0, _B_NS - 1001), (_B_NS + _DAY_NS + 1000, 2**62)]:
            empty = srv.range(lo, hi)         # outside slice and table
            assert _plan(empty).startswith("LocalTableScan")
            assert _jobs(spark, empty.collect, "serving-empty") == 0
            want = _parquet_path(spark, d, lo, hi)
            assert empty.schema == want.schema and want.collect() == []
        srv.refresh()
        st = srv.stats()
        assert st["open_s"] > 0 and st["refresh_s"] > 0
        assert {k: st[k] for k in ("index_hits", "footer_empty", "local_reads",
                                   "parquet_fallbacks", "indexed_rows")} == {
            "index_hits": 2, "footer_empty": 2, "local_reads": 1, "parquet_fallbacks": 1,
            "indexed_rows": 6}
        # nothing changed: a delta refresh that reads no file
        assert (st["delta_refreshes"], st["full_refreshes"], st["refresh_rows_read"]) == (1, 0, 0)
    finally:
        srv.close()
    assert srv.stats()["indexed_rows"] == 0
    # a refresh after close() has no index to extend: it rebuilds
    srv.refresh()
    st = srv.stats()
    assert (st["delta_refreshes"], st["full_refreshes"], st["refresh_rows_read"]) == (1, 1, 6)
    assert st["indexed_rows"] == 6
    srv.close()


def test_stats_survive_concurrent_probes(spark, dup_layouts):
    """More probing threads than cores, with a short switch interval:
    no counter update is lost."""
    import sys
    import threading

    srv = PointServer(spark, dup_layouts["us"])
    srv.open()
    threads = [threading.Thread(target=lambda: [srv.point(_B_NS) for _ in range(10)])
               for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
        srv.close()
    assert not any(t.is_alive() for t in threads)
    assert srv.stats()["index_hits"] == 80


def test_nanos_layout_has_no_footer_shortcut(spark, dup_layouts, monkeypatch):
    """The int64-nanos layout has no trusted footer bounds, so a probe
    outside the table is no footer-answered empty: the driver read
    prunes every row group (no job), and with the driver read declined
    the parquet path finds nothing."""
    from low_latency_time_series_database_tsdb_for_market_data_spark import serving

    srv = PointServer(spark, dup_layouts["ns"], lo_ns=_B_NS)
    try:
        srv.open()
        assert srv.table_min_ns() is None
        q = srv.range(0, _B_NS - 2000)
        _assert_local(spark, q)
        assert q.collect() == []
        monkeypatch.setattr(serving, "local_rows", lambda *a, **k: None)
        q = srv.range(0, _B_NS - 2000)
        _assert_parquet(q)
        assert q.collect() == []
        assert srv.stats()["local_reads"] == 1
        assert srv.stats()["parquet_fallbacks"] == 1
        assert srv.stats()["footer_empty"] == 0
    finally:
        srv.close()


@pytest.mark.parametrize("unit", ["ns", "us", "us_utc"])
def test_out_of_slice_probes_match_parquet_path(spark, dup_layouts, unit):
    """Every probe outside the indexed slice returns exactly the parquet
    path's rows and schema, for each ts layout, from a driver read that
    runs no Spark job: a server whose slice starts after the table, and
    a symbol-sliced server probed ts-only or with a superset."""
    d = dup_layouts[unit]
    late = PointServer(spark, d, lo_ns=2**62)
    by_sym = PointServer(spark, d, symbols=["click"])
    cases = [(late, lo, hi, syms) for lo, hi in _PROBES for syms in (None, ["view"])]
    cases += [(by_sym, lo, hi, syms) for lo, hi in _PROBES for syms in (None, ["click", "view"])]
    try:
        for srv in (late, by_sym):
            srv.open()
        for srv, lo, hi, syms in cases:
            got = srv.range(lo, hi, syms)
            want = _parquet_path(spark, d, lo, hi, syms)
            assert got.schema == want.schema
            assert _plan(got).startswith("LocalTableScan"), (unit, lo, hi, syms)
            assert sorted(got.collect()) == sorted(want.collect()), (unit, lo, hi, syms)
        st = [s.stats() for s in (late, by_sym)]
        assert sum(x["local_reads"] + x["footer_empty"] for x in st) == len(cases)
        assert sum(x["local_reads"] for x in st) > 0
        assert sum(x["parquet_fallbacks"] + x["index_hits"] for x in st) == 0
        _assert_local(spark, late.range(_B_NS - 1000, _B_NS))
    finally:
        for srv in (late, by_sym):
            srv.close()


def test_driver_read_truncates_pre_1970_nanos_like_spark(spark, tmp_path):
    """In the int64-nanos layout the served ts is ``ts div 1000``, which
    truncates toward zero: pre-1970 values must land on the microsecond
    the parquet path serves."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = tmp_path / "events.parquet"
    table.mkdir()
    ns = [-2_000_500, -1_500, -1_000, -999, -1, 0, 1, 999, 1_000, 1_500]
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(ns)), pa.int64()),
        "ts": pa.array(ns, pa.timestamp("ns")),
        "event_type": pa.array(["view"] * len(ns)),
    }), table / "part-0.parquet")
    srv = PointServer(spark, str(tmp_path), lo_ns=2**62)
    try:
        srv.open()
        for lo, hi in [(-3_000_000, 2_000), (-1_500, -1_500), (-1_999, -1_000), (-1_000, -1),
                       (-999, 0), (0, 0), (1, 999)]:
            got = srv.range(lo, hi)
            want = _parquet_path(spark, str(tmp_path), lo, hi)
            assert got.schema == want.schema
            assert sorted(got.collect()) == sorted(want.collect()), (lo, hi)
        assert srv.stats()["local_reads"] == 7
    finally:
        srv.close()


def test_timestamp_layouts_need_a_utc_session(spark, dup_layouts):
    """Spark reads the timestamp layouts' bounds (and NTZ values) in the
    session time zone, so outside UTC the driver read declines and the
    parquet path answers; the nanos layout does not depend on it."""
    key = "spark.sql.session.timeZone"
    servers = {u: PointServer(spark, dup_layouts[u], lo_ns=2**62) for u in ("ns", "us")}
    saved = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        for unit, srv in servers.items():
            q = srv.range(_B_NS - 1000, _B_NS)
            if unit == "ns":
                assert _plan(q).startswith("LocalTableScan")
            else:
                _assert_parquet(q)
            assert len(q.collect()) == 4
    finally:
        spark.conf.set(key, saved)
    assert servers["us"].stats()["parquet_fallbacks"] == 1
    assert servers["ns"].stats()["local_reads"] == 1


def _write_feed(table, name: str, unit: str, rows: list[tuple[int, str]], first_id: int) -> None:
    """A feed file of ``rows`` (epoch ns, event_type) in ``unit``'s ts
    layout, with the columns ``_write_events`` writes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts_type = pa.timestamp("us", tz="UTC") if unit == "us_utc" else pa.timestamp(unit)
    n = len(rows)
    pq.write_table(pa.table({
        "event_id": pa.array(range(first_id, first_id + n), pa.int64()),
        "ts": pa.array([t if unit == "ns" else t // 1000 for t, _ in rows], ts_type),
        "user_id": pa.array([7] * n, pa.int64()),
        "event_type": pa.array([e for _, e in rows]),
        "value": pa.array([2.5] * n, pa.float64()),
        "props": pa.array(["{}"] * n),
    }), table / name, version="2.6")


def _index_of(srv):
    """The server's key array, and its (key, row) pairs as a multiset:
    equal for two servers iff they hold the same keys in the same order
    and the same rows under each key."""
    idx = srv._view.index
    keys = idx.keys.tolist()
    return keys, sorted(zip(keys, map(repr, idx.table.to_pylist())))


# rows a writer appends: ties with the fixture's keys, a sub-microsecond
# neighbour, rows outside the windowed slice, both event types
_ADDED = [(_B_NS, "click"), (_B_NS + 1, "view"), (_B_NS + 5000, "click"),
          (_B_NS + 2_000_000, "view"), (_B_NS - 10**12, "click"), (_B_NS + 2 * _DAY_NS, "view")]


@pytest.mark.parametrize("unit", ["ns", "us", "us_utc"])
def test_delta_refresh_equals_a_fresh_open(spark, dup_layouts, tmp_path, unit):
    """Files only added: refresh() reads just those on the driver (no
    Spark job) and merges them, leaving the index a fresh open() over
    the same files builds — same keys, same rows per key — for a full,
    a window-sliced and a symbol-sliced server.  A file rewritten in
    place, or files replaced as a compaction replaces them, rebuild in
    full, as do added files the driver cannot read."""
    import shutil

    import pyarrow.parquet as pq

    from low_latency_time_series_database_tsdb_for_market_data_spark import serving

    d = tmp_path / unit
    shutil.copytree(dup_layouts[unit], d)
    table = d / "events.parquet"
    kinds = [{}, {"lo_ns": _B_NS - 500, "hi_ns": _B_NS + 5001},
             {"lo_ns": _B_NS - 500, "symbols": ["click"]}]
    servers = [PointServer(spark, str(d), **kw) for kw in kinds]

    def check(delta: int, full: int) -> None:
        for kw, srv in zip(kinds, servers):
            st = srv.stats()
            assert (st["delta_refreshes"], st["full_refreshes"]) == (delta, full), (kw, st)
            fresh = PointServer(spark, str(d), **kw)
            assert _jobs(spark, fresh.open, f"fresh-open-{unit}-{delta}-{full}") == 0
            assert _index_of(srv) == _index_of(fresh), kw
            for lo, hi in _PROBES:
                syms = kw.get("symbols")
                if srv._in_cache(lo, hi, syms):
                    got = srv.range(lo, hi, syms)
                    assert sorted(got.collect()) == sorted(
                        _parquet_path(spark, str(d), lo, hi, syms).collect()), (kw, lo, hi)
            fresh.close()

    def refresh_all(group: str) -> int:
        return _jobs(spark, lambda: [s.refresh() for s in servers], f"{group}-{unit}")

    try:
        for srv in servers:
            srv.open()
        _write_feed(table, "part-2.parquet", unit, _ADDED, 100)
        assert refresh_all("delta-refresh") == 0
        check(1, 0)
        assert [s.stats()["refresh_rows_read"] for s in servers] == [6, 3, 2]
        _write_feed(table, "part-3.parquet", unit, _ADDED[::-1], 200)
        assert refresh_all("delta-refresh-2") == 0
        check(2, 0)
        # rewritten in place: the old rows must go
        _write_feed(table, "part-2.parquet", unit, _ADDED[:2], 100)
        refresh_all("rewrite")
        check(2, 1)
        # compacted: files removed, one new file holding their rows
        merged = pq.read_table(table / "part-1.parquet")
        (table / "part-1.parquet").unlink()
        (table / "part-3.parquet").unlink()
        pq.write_table(merged, table / "part-9.parquet")
        refresh_all("compact")
        check(2, 2)
        assert [s.stats()["refresh_rows_read"] for s in servers] == [
            s.stats()["indexed_rows"] for s in servers]
        # added files the driver declines: rebuilt, by Spark
        _write_feed(table, "part-4.parquet", unit, _ADDED, 300)
        real = serving.local_rows
        serving.local_rows = lambda *a, **k: None
        try:
            assert refresh_all("declined") > 0
        finally:
            serving.local_rows = real
        check(2, 3)
        # an index Spark collected is never extended: the next refresh
        # rebuilds, on the driver again
        _write_feed(table, "part-5.parquet", unit, _ADDED, 400)
        assert refresh_all("after-spark") == 0
        check(2, 4)
    finally:
        for srv in servers:
            srv.close()
