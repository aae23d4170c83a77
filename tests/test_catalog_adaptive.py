"""Schema-adaptive events reader: every physical ts layout a producer can
ship — int64 TIMESTAMP(NANOS) (fixtures rounds 1-2), timestamp[us] NTZ
(fixtures round 3+), and timestamp[us] isAdjustedToUTC=true (reads as
TimestampType) — must produce identical query results and keep range
predicates pushed to the parquet scan.  This pins the round-3 regression
class: a producer-side layout change must never break readers again."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from low_latency_time_series_database_tsdb_for_market_data_spark import session_cache
from low_latency_time_series_database_tsdb_for_market_data_spark.catalog import (
    events_raw,
    table,
    ts_bound,
    with_ts,
)
from low_latency_time_series_database_tsdb_for_market_data_spark.plans import (
    pushed_filters,
)
from tests.test_tick_footer_index import _jobs

# one logical table: 3 events around the q04 bounds, plus a sub-second tail
_BASE_US = 1704844800 * 1_000_000  # 2024-01-10T00:00:00Z
_ROWS_US = [_BASE_US - 1, _BASE_US, _BASE_US + 5, _BASE_US + 86_400_000_000]


def _write_events(tmpdir: str, unit: str) -> str:
    path = f"{tmpdir}/events_{unit}.parquet"
    scale = 1000 if unit == "ns" else 1
    # us_utc = TIMESTAMP(MICROS) isAdjustedToUTC=true -> Spark reads
    # TimestampType (the third layout a producer can ship)
    ts_type = (
        pa.timestamp("us", tz="UTC") if unit == "us_utc" else pa.timestamp(unit)
    )
    t = pa.table(
        {
            "event_id": pa.array(range(len(_ROWS_US)), type=pa.int64()),
            "ts": pa.array(
                [us * scale for us in _ROWS_US], type=ts_type
            ),
            "user_id": pa.array([7] * len(_ROWS_US), type=pa.int64()),
            "event_type": pa.array(["view"] * len(_ROWS_US)),
            "value": pa.array([1.5] * len(_ROWS_US), type=pa.float64()),
            "props": pa.array(["{}"] * len(_ROWS_US)),
        }
    )
    pq.write_table(t, path, version="2.6")
    return path


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("adaptive"))
    out = {}
    for unit in ("ns", "us", "us_utc"):
        d = f"{base}/{unit}"
        import os

        os.makedirs(d)
        _write_events(d, unit)
        import shutil

        shutil.move(f"{d}/events_{unit}.parquet", f"{d}/events.parquet")
        out[unit] = d
    return out


def test_both_layouts_load_identically(spark, layouts):
    collected = {}
    for unit, d in layouts.items():
        df = table(spark, d, "events").orderBy("event_id")
        assert str(df.schema["ts"].dataType) == "TimestampType()", unit
        collected[unit] = [
            (r.event_id, r.ts.isoformat()) for r in df.collect()
        ]
    assert collected["ns"] == collected["us"] == collected["us_utc"]


def test_range_filter_matches_and_pushes_down_both_layouts(spark, layouts):
    lo_ns = _BASE_US * 1000
    hi_ns = (_BASE_US + 10) * 1000
    got = {}
    for unit, d in layouts.items():
        raw = events_raw(spark, d)
        q = with_ts(
            raw.where(
                (F.col("ts") >= ts_bound(raw, lo_ns))
                & (F.col("ts") <= ts_bound(raw, hi_ns, upper=True))
            )
        )
        pf = " ".join(pushed_filters(q))
        assert "GreaterThanOrEqual(ts" in pf, (unit, pf)
        assert "LessThanOrEqual(ts" in pf, (unit, pf)
        got[unit] = sorted(r.event_id for r in q.collect())
    # inclusive both ends: rows at +0 and +5 us, not -1 us or +1 day
    assert got["ns"] == got["us"] == got["us_utc"] == [1, 2]


def test_point_probe_matches_both_layouts(spark, layouts, monkeypatch):
    """q05's min-ts probe reads the footer index with no Spark job in
    every layout (raw ns, NTZ micros, adjusted-to-UTC micros); with the
    walk declined, its agg fallback runs Spark jobs and finds the same
    row."""
    import contextlib

    from low_latency_time_series_database_tsdb_for_market_data_spark import catalog
    from low_latency_time_series_database_tsdb_for_market_data_spark.registry import (
        load_all,
    )

    q05 = load_all()["q05_point_lookup"].fn
    for declined in (False, True):
        if declined:
            monkeypatch.setattr(catalog, "footer_groups",
                                lambda *a, **k: contextlib.nullcontext(None))
        got, jobs = {}, {}
        for unit, d in layouts.items():
            events_raw(spark, d)  # the relation, resolved before counting
            built = []
            jobs[unit] = _jobs(spark, lambda: built.append(q05(spark, d)),
                               f"q05-probe-{unit}-{declined}")
            got[unit] = sorted(r.event_id for r in built[0].collect())
        assert got["ns"] == got["us"] == got["us_utc"] == [0]
        assert all((n > 0) == declined for n in jobs.values()), (declined, jobs)


def test_footer_stats_helpers_both_layouts(spark, layouts, tmp_path):
    """The planning-time footer readers: exact num_rows and min-ts for
    every layout (the nanos layout's min is its exact raw ns), and None
    for paths with no parquet files."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.catalog import (
        parquet_num_rows,
        ts_min_epoch_ns,
    )

    for unit, d in layouts.items():
        assert parquet_num_rows(f"{d}/events.parquet") == len(_ROWS_US)
    for unit in ("us", "us_utc"):  # NTZ and tz-aware stats, same instant
        assert (
            ts_min_epoch_ns(spark, f"{layouts[unit]}/events.parquet")
            == (_BASE_US - 1) * 1000
        )
    assert ts_min_epoch_ns(spark, f"{layouts['ns']}/events.parquet") == (_BASE_US - 1) * 1000
    empty = tmp_path / "empty"
    empty.mkdir()
    assert parquet_num_rows(str(empty)) is None
    assert ts_min_epoch_ns(spark, str(empty)) is None


def test_streaming_ingest_both_layouts(spark, layouts, tmp_path):
    """The streaming reader must infer the source's own schema and
    normalize ts_event under both physical layouts; ingest results from
    the same logical data must be identical."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        ingest_available_now,
    )

    got = {}
    for unit, d in layouts.items():
        dest = str(tmp_path / f"dest_{unit}")
        ingest_available_now(
            spark, f"{d}/events*.parquet", dest, str(tmp_path / f"ck_{unit}")
        )
        back = spark.read.parquet(dest).orderBy("seq")
        got[unit] = [
            (r.symbol, r.seq, r.ts.isoformat(), r.price) for r in back.collect()
        ]
    assert got["ns"] == got["us"] == got["us_utc"]
    assert len(got["ns"]) == 4


def test_relation_cache_reuses_and_invalidates(spark, tmp_path):
    """Round-12 cold-floor work: table()/events_raw() resolve a path
    once per session (the ~0.1-0.2 s datasource re-resolution was the
    cold first-query's biggest component); session_cache.drop() drops
    the entry so a replaced table is re-listed."""
    import pyspark.sql.functions as F

    from low_latency_time_series_database_tsdb_for_market_data_spark import (
        catalog as cat,
    )

    d = str(tmp_path)
    spark.range(3).withColumnRenamed("id", "doc_id").write.parquet(
        f"{d}/documents.parquet"
    )
    path = f"{d}/documents.parquet"
    a = cat.table(spark, d, "documents")
    b = []
    # the same resolved relation object comes back (no re-listing, no job)
    assert _jobs(spark, lambda: b.append(cat.table(spark, d, "documents")),
                 "relation-hit") == 0
    assert session_cache.get(spark, "relation", path, pytest.fail) is a
    assert a is b[0]
    assert a.count() == 3

    # replace the files in place -> stale listing would break the read;
    # invalidation re-resolves
    import shutil

    shutil.rmtree(f"{d}/documents.parquet")
    spark.range(5).withColumnRenamed("id", "doc_id").write.parquet(
        f"{d}/documents.parquet"
    )
    session_cache.drop("relation", path)
    assert session_cache.get(spark, "relation", path, lambda: None) is None
    assert cat.table(spark, d, "documents").count() == 5


def test_warm_start_sf_dir_preopens_events(spark, sf_dir):
    """warm_start(spark, sf_dir) must pre-resolve the events relation
    (the q05 cold path then hits the cache) and be idempotent."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.session import (
        warm_start,
    )

    warm_start(spark, sf_dir)
    path = f"{sf_dir}/events.parquet"
    assert session_cache.get(spark, "relation", path, pytest.fail) is not None
    warm_start(spark, sf_dir)  # second call: no-op, no error
