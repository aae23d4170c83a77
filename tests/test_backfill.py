"""Idempotent file-level backfill: re-runs never duplicate, new files
ingest exactly once, and re-delivered copies are skipped by id."""

from __future__ import annotations

import shutil

from low_latency_time_series_database_tsdb_for_market_data_spark.sources.backfill import (
    ingest_files_idempotent,
)
from low_latency_time_series_database_tsdb_for_market_data_spark.sources.writer import (
    read_ticks,
)
from low_latency_time_series_database_tsdb_for_market_data_spark.ticks import (
    tick_view,
)


def _tick_file(spark, sf_dir, out, lo, hi):
    """One parquet tick file holding seq in [lo, hi)."""
    ticks = tick_view(spark, sf_dir).where(f"seq >= {lo} AND seq < {hi}")
    ticks.coalesce(1).write.parquet(str(out))
    import glob

    return glob.glob(str(out / "*.parquet"))[0]


def test_backfill_idempotent_and_incremental(spark, sf_dir, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    f1 = _tick_file(spark, sf_dir, tmp_path / "p1", 0, 300)
    f2 = _tick_file(spark, sf_dir, tmp_path / "p2", 300, 700)
    shutil.copy(f1, src / "day1.parquet")
    shutil.copy(f2, src / "day2.parquet")
    table = str(tmp_path / "table")
    manifest = str(tmp_path / "manifest.txt")

    a1 = ingest_files_idempotent(spark, f"{src}/*.parquet", table, manifest)
    assert a1["files_ingested"] == 2
    n1 = read_ticks(spark, table).count()
    assert n1 == a1["rows_ingested"] > 0

    # re-run: nothing new, nothing duplicated
    a2 = ingest_files_idempotent(spark, f"{src}/*.parquet", table, manifest)
    assert a2 == {"files_seen": 2, "files_ingested": 0, "rows_ingested": 0}
    assert read_ticks(spark, table).count() == n1

    # a re-delivered copy of day1 under the same name+size is skipped;
    # a genuinely new file ingests exactly once
    f3 = _tick_file(spark, sf_dir, tmp_path / "p3", 700, 900)
    shutil.copy(f3, src / "day3.parquet")
    a3 = ingest_files_idempotent(spark, f"{src}/*.parquet", table, manifest)
    assert a3["files_seen"] == 3 and a3["files_ingested"] == 1
    n3 = read_ticks(spark, table).count()
    assert n3 == n1 + a3["rows_ingested"]

    # no row appears twice (seq is unique in the fixture)
    dups = (
        read_ticks(spark, table)
        .groupBy("symbol", "seq")
        .count()
        .where("count > 1")
        .count()
    )
    assert dups == 0


def test_compact_after_many_appends(spark, sf_dir, tmp_path):
    """Ten small appends -> one compaction: same rows, fewer files, and
    the rewritten layout keeps ts filters pushed to the parquet scan."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.plans import (
        pushed_filters,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.sources.writer import (
        compact_ticks,
        write_ticks,
    )

    table = str(tmp_path / "ctable")
    ticks = tick_view(spark, sf_dir)
    n = ticks.count()
    step = max(1, n // 10)
    for i in range(10):
        write_ticks(
            ticks.where(f"seq >= {i * step} AND seq < {(i + 1) * step}"),
            table,
            mode="append",
        )
    written = read_ticks(spark, table).count()
    before = compact_ticks(spark, table, target_files=2)
    assert before["rows"] == written
    assert before["files_after"] < before["files_before"]
    assert read_ticks(spark, table).count() == written
    # pushdown survives the rewrite
    t = read_ticks(spark, table)
    probe = t.where(t["ts"] >= t.agg({"ts": "max"}).collect()[0][0])
    assert any("ts" in f for f in pushed_filters(probe))


def test_lifecycle_backfill_compact_retain_query(spark, sf_dir, tmp_path):
    """The full table lifecycle composes: idempotent backfill of split
    deliveries -> small-file compaction -> retention into bars, with the
    unified reader equal to direct bars over the original ticks at every
    step."""
    import datetime as dt

    from low_latency_time_series_database_tsdb_for_market_data_spark.sources.retention import (
        apply_retention,
        unified_bars,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.sources.writer import (
        compact_ticks,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.rollup import (
        _partial_bars,
        fold_bars,
    )
    from tests.oracle_diff import assert_df_equal

    src = tmp_path / "lsrc"
    src.mkdir()
    for i in range(4):
        f = _tick_file(spark, sf_dir, tmp_path / f"lp{i}", i * 250, (i + 1) * 250)
        shutil.copy(f, src / f"chunk{i}.parquet")
    table = str(tmp_path / "ltable")
    manifest = str(tmp_path / "lmanifest.txt")
    bars = str(tmp_path / "lbars")

    ingest_files_idempotent(spark, f"{src}/*.parquet", table, manifest)
    ingest_files_idempotent(spark, f"{src}/*.parquet", table, manifest)  # no-op
    ticks = read_ticks(spark, table)
    expected = fold_bars(
        _partial_bars(
            ticks.select("symbol", "ts", "price", "seq"), "1 minute"
        )
    ).toPandas()

    audit = compact_ticks(spark, table, target_files=2)
    assert audit["files_after"] < audit["files_before"]

    (p50,) = read_ticks(spark, table).selectExpr(
        "percentile(unix_micros(ts), 0.5) AS p"
    ).collect()[0]
    cutoff = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(p50))
    ra = apply_retention(spark, table, bars, cutoff)
    assert ra["expired_rows"] > 0

    got = unified_bars(spark, table, bars).toPandas()
    assert_df_equal(got, expected, name="lifecycle bars")


def test_backfill_waits_for_the_writer_lock(spark, sf_dir, tmp_path, monkeypatch):
    """The backfill's append takes the table's writer lock, as the CLI's
    writers and the rewrites do: behind a held lock it waits, raises
    after ``LOCK_TIMEOUT_S`` with nothing written or recorded, and
    ingests once the lock is free."""
    import time

    import pytest

    from low_latency_time_series_database_tsdb_for_market_data_spark.sources import writer

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(_tick_file(spark, sf_dir, tmp_path / "p1", 0, 50), src / "day1.parquet")
    table, manifest = str(tmp_path / "table"), str(tmp_path / "manifest.txt")
    monkeypatch.setattr(writer, "LOCK_TIMEOUT_S", 0.3)
    with writer.table_lock(table):
        t0 = time.monotonic()
        with pytest.raises(TimeoutError):
            ingest_files_idempotent(spark, f"{src}/*.parquet", table, manifest)
        assert time.monotonic() - t0 >= 0.3
    assert not (tmp_path / "table").exists() and not (tmp_path / "manifest.txt").exists()
    audit = ingest_files_idempotent(spark, f"{src}/*.parquet", table, manifest)
    assert audit["files_ingested"] == 1
    assert read_ticks(spark, table).count() == audit["rows_ingested"] > 0
