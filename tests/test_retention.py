"""Retention / downsampling lifecycle: expiring raw ticks into bars must
be invisible to readers — unified_bars equals the never-retained bars
through mid-bucket cutoffs, repeated passes, and idempotent re-runs."""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from low_latency_time_series_database_tsdb_for_market_data_spark.sources.retention import (
    apply_retention,
    unified_bars,
)
from low_latency_time_series_database_tsdb_for_market_data_spark.sources.writer import (
    read_ticks,
    write_ticks,
)
from low_latency_time_series_database_tsdb_for_market_data_spark.ticks import (
    tick_view,
)
from tests.oracle_diff import assert_df_equal


def _bars_pdf(df) -> pd.DataFrame:
    return df.toPandas()


def test_retention_conserves_bars_and_is_idempotent(spark, sf_dir, tmp_path):
    raw_dir = str(tmp_path / "raw")
    bars_dir = str(tmp_path / "bars")
    ticks = tick_view(spark, sf_dir)
    write_ticks(ticks, raw_dir, mode="overwrite")
    n_total = ticks.count()

    # ground truth: bars over the never-retained table
    expected = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))
    assert len(expected) > 0

    # cutoff at the median tick — deliberately mid-bucket (not aligned
    # to a minute boundary), so at least one bar straddles the archive
    (p50,) = ticks.selectExpr(
        "percentile(unix_micros(ts), 0.5) AS p"
    ).collect()[0]
    import datetime as dt

    cutoff = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(p50))
    assert cutoff.second or cutoff.microsecond or cutoff.minute  # unaligned

    audit = apply_retention(spark, raw_dir, bars_dir, cutoff)
    assert audit["expired_rows"] > 0 and audit["retained_rows"] > 0
    assert audit["expired_rows"] + audit["retained_rows"] == n_total
    # raw table holds ONLY the surviving slice
    kept = read_ticks(spark, raw_dir)
    assert kept.count() == audit["retained_rows"]
    assert kept.agg(F.min("ts")).collect()[0][0] >= cutoff

    # the retention boundary is invisible to readers
    after = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))
    assert_df_equal(after, expected, name="bars after retention")

    # idempotent: same cutoff again changes nothing
    audit2 = apply_retention(spark, raw_dir, bars_dir, cutoff)
    assert audit2["expired_rows"] == 0
    again = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))
    assert_df_equal(again, expected, name="bars after no-op retention")


def test_full_expiry_keeps_table_queryable(spark, sf_dir, tmp_path):
    """A cutoff past the last tick archives EVERYTHING: the raw dir ends
    up empty but unified_bars still serves the full history, and further
    retention runs are no-ops on the empty table."""
    import datetime as dt

    raw_dir = str(tmp_path / "raw3")
    bars_dir = str(tmp_path / "bars3")
    ticks = tick_view(spark, sf_dir)
    write_ticks(ticks, raw_dir, mode="overwrite")
    expected = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))

    far_future = dt.datetime(2100, 1, 1)
    audit = apply_retention(spark, raw_dir, bars_dir, far_future)
    assert audit["retained_rows"] == 0
    assert audit["expired_rows"] == ticks.count()

    after = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))
    assert_df_equal(after, expected, name="bars after full expiry")

    audit2 = apply_retention(spark, raw_dir, bars_dir, far_future)
    assert audit2 == {
        "expired_rows": 0,
        "retained_rows": 0,
        "bars_appended": 0,
    }


def test_second_retention_pass_still_folds_exactly(spark, sf_dir, tmp_path):
    """Two successive cutoffs split some buckets across separate archive
    appends — the monoid fold must still reproduce the one-shot bars."""
    raw_dir = str(tmp_path / "raw2")
    bars_dir = str(tmp_path / "bars2")
    ticks = tick_view(spark, sf_dir)
    write_ticks(ticks, raw_dir, mode="overwrite")
    expected = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))

    p33, p66 = ticks.selectExpr(
        "percentile(unix_micros(ts), array(0.33, 0.66)) AS p"
    ).collect()[0][0]
    import datetime as dt

    base = dt.datetime(1970, 1, 1)
    c1 = base + dt.timedelta(microseconds=int(p33))
    c2 = base + dt.timedelta(microseconds=int(p66))
    a1 = apply_retention(spark, raw_dir, bars_dir, c1)
    a2 = apply_retention(spark, raw_dir, bars_dir, c2)
    assert a1["expired_rows"] > 0 and a2["expired_rows"] > 0

    after = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))
    assert_df_equal(after, expected, name="bars after two retention passes")


def test_retention_property_ties_and_random_cutoffs(spark, tmp_path):
    """Hypothesis-style adversarial corpus, deterministic seeds: ticks
    with DUPLICATE timestamps (endpoint ties broken by seq via the
    (ts, seq, price) struct order), random mid-bucket cutoffs, and a
    cutoff landing exactly between two equal-ts ticks — the fold must
    reproduce the one-shot bars every time."""
    import datetime as dt
    import random

    rng = random.Random(7)
    t0 = dt.datetime(2024, 1, 1)
    base_rows = []
    seq = 0
    for _ in range(120):
        s = rng.randrange(0, 600)  # 10 minutes of seconds, many collisions
        sym = rng.choice(["A", "B"])
        base_rows.append(
            (sym, t0 + dt.timedelta(seconds=s), round(rng.uniform(1, 9), 2),
             rng.randrange(1, 100), seq)
        )
        seq += 1
    schema = "symbol string, ts timestamp, price double, volume long, seq long"

    for trial, cutoff_s in enumerate([37, 60, 299.5, 0, 600, 123]):
        raw_dir = str(tmp_path / f"rawp{trial}")
        bars_dir = str(tmp_path / f"barsp{trial}")
        df = spark.createDataFrame(base_rows, schema)
        write_ticks(df, raw_dir, mode="overwrite")
        expected = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))
        cutoff = t0 + dt.timedelta(seconds=cutoff_s)
        apply_retention(spark, raw_dir, bars_dir, cutoff)
        got = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))
        assert_df_equal(got, expected, name=f"retention trial {trial}")


def test_crash_before_commit_rolls_back_and_rerun_is_exact(
    spark, sf_dir, tmp_path
):
    """A crash AFTER the bars stage is written but BEFORE the commit
    marker must leave both live tables untouched; the re-run then
    executes the whole pass exactly once (the pre-fix hazard: partials
    appended live before the raw swap double-folded on re-run)."""
    import datetime as dt

    import pytest

    from low_latency_time_series_database_tsdb_for_market_data_spark.sources.retention import (  # noqa: E501
        _stage_paths,
    )

    raw_dir = str(tmp_path / "rawc1")
    bars_dir = str(tmp_path / "barsc1")
    ticks = tick_view(spark, sf_dir)
    write_ticks(ticks, raw_dir, mode="overwrite")
    n_total = ticks.count()
    expected = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))
    (p50,) = ticks.selectExpr(
        "percentile(unix_micros(ts), 0.5) AS p"
    ).collect()[0]
    cutoff = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(p50))

    with pytest.raises(RuntimeError, match="injected crash"):
        apply_retention(
            spark, raw_dir, bars_dir, cutoff, _crash_at="bars_staged"
        )
    # live tables untouched: raw still full, bars still absent
    assert read_ticks(spark, raw_dir).count() == n_total
    from pathlib import Path as _P

    assert not any(_P(bars_dir).glob("**/*.parquet")) if _P(
        bars_dir
    ).exists() else True

    audit = apply_retention(spark, raw_dir, bars_dir, cutoff)
    assert audit["expired_rows"] + audit["retained_rows"] == n_total
    # stages cleaned up, marker gone
    for p in _stage_paths(raw_dir, bars_dir):
        assert not _P(p).exists()
    after = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))
    assert_df_equal(after, expected, name="bars after pre-commit crash")


def test_crash_after_commit_recovers_without_double_fold(
    spark, sf_dir, tmp_path
):
    """Crashes after the commit marker ('committed': before the raw
    swap; 'raw_swapped': between the swap and the bars move) must be
    finished idempotently by the next run — bars fold exactly once."""
    import datetime as dt

    import pytest

    from low_latency_time_series_database_tsdb_for_market_data_spark.sources.retention import (  # noqa: E501
        _stage_paths,
    )
    from pathlib import Path as _P

    ticks = tick_view(spark, sf_dir)
    (p50,) = ticks.selectExpr(
        "percentile(unix_micros(ts), 0.5) AS p"
    ).collect()[0]
    cutoff = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(p50))

    for trial, crash_at in enumerate(["committed", "raw_swapped"]):
        raw_dir = str(tmp_path / f"rawc2_{trial}")
        bars_dir = str(tmp_path / f"barsc2_{trial}")
        write_ticks(ticks, raw_dir, mode="overwrite")
        n_total = ticks.count()
        expected = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))

        with pytest.raises(RuntimeError, match="injected crash"):
            apply_retention(
                spark, raw_dir, bars_dir, cutoff, _crash_at=crash_at
            )
        # re-run: recovery finishes the committed pass, then finds
        # nothing left to expire below the same cutoff
        audit = apply_retention(spark, raw_dir, bars_dir, cutoff)
        assert audit["expired_rows"] == 0
        assert audit["retained_rows"] + ticks.where(
            F.col("ts") < F.lit(cutoff)
        ).count() == n_total
        for p in _stage_paths(raw_dir, bars_dir):
            assert not _P(p).exists()
        after = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))
        assert_df_equal(
            after, expected, name=f"bars after crash at {crash_at}"
        )


def test_bars_appended_counts_this_pass_only(spark, sf_dir, tmp_path):
    """The audit key reports partial-bar rows appended BY THIS PASS, not
    the bars-table total (two passes must not report cumulative)."""
    import datetime as dt

    raw_dir = str(tmp_path / "rawa")
    bars_dir = str(tmp_path / "barsa")
    ticks = tick_view(spark, sf_dir)
    write_ticks(ticks, raw_dir, mode="overwrite")
    p33, p66 = ticks.selectExpr(
        "percentile(unix_micros(ts), array(0.33, 0.66)) AS p"
    ).collect()[0][0]
    base = dt.datetime(1970, 1, 1)
    a1 = apply_retention(
        spark, raw_dir, bars_dir, base + dt.timedelta(microseconds=int(p33))
    )
    a2 = apply_retention(
        spark, raw_dir, bars_dir, base + dt.timedelta(microseconds=int(p66))
    )
    assert a1["bars_appended"] > 0 and a2["bars_appended"] > 0
    total = spark.read.parquet(bars_dir).count()
    assert a1["bars_appended"] + a2["bars_appended"] == total


def test_recovery_is_reentrant_after_crash_mid_recovery(
    spark, sf_dir, tmp_path
):
    """A crash DURING recovery must leave a state the next recovery still
    finishes: simulate 'committed' crash, then hand-simulate the
    mid-recovery crash window (raw_dir removed, stage not yet moved) and
    re-run — the pass completes exactly once, bars fold exactly once."""
    import datetime as dt
    import shutil as _sh
    from pathlib import Path as _P

    import pytest

    from low_latency_time_series_database_tsdb_for_market_data_spark.sources.retention import (  # noqa: E501
        _stage_paths,
        recover_retention,
    )

    raw_dir = str(tmp_path / "rawr")
    bars_dir = str(tmp_path / "barsr")
    ticks = tick_view(spark, sf_dir)
    write_ticks(ticks, raw_dir, mode="overwrite")
    expected = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))
    (p50,) = ticks.selectExpr(
        "percentile(unix_micros(ts), 0.5) AS p"
    ).collect()[0]
    cutoff = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(p50))

    with pytest.raises(RuntimeError, match="injected crash"):
        apply_retention(
            spark, raw_dir, bars_dir, cutoff, _crash_at="committed"
        )
    raw_stage, bars_stage, marker = _stage_paths(raw_dir, bars_dir)
    assert _P(marker).exists() and _P(raw_stage).exists()
    # crash mid-recovery: the rmtree of raw_dir happened, the stage move
    # did not — exactly the window recover_retention's own rmtree/move
    # pair reopens
    _sh.rmtree(raw_dir)
    actions = recover_retention(raw_dir, bars_dir)
    assert "raw_swap_finished" in actions
    assert "bars_append_finished" in actions
    for p in (raw_stage, bars_stage, marker):
        assert not _P(p).exists()
    # second recovery is a no-op
    assert recover_retention(raw_dir, bars_dir) == []
    after = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))
    assert_df_equal(after, expected, name="bars after mid-recovery crash")
    # and the same cutoff is now a no-op pass
    audit = apply_retention(spark, raw_dir, bars_dir, cutoff)
    assert audit["expired_rows"] == 0


def test_crash_mid_bars_move_recovers_conservation(spark, sf_dir, tmp_path):
    """The last untested crash window (r8 verdict item #5): death
    PARTWAY THROUGH _finish_bars_append — some staged part files moved
    into the live bars table, some still in the stage, marker present.
    Hand-simulate it (crash at 'raw_swapped', then move ONE staged part
    by hand) and assert recover_retention — run implicitly by the next
    apply_retention — finishes the move without double-folding any
    part: unified bars still equal the never-retained ground truth."""
    import datetime as dt
    from pathlib import Path as _P

    import pytest

    from low_latency_time_series_database_tsdb_for_market_data_spark.sources.retention import (  # noqa: E501
        _stage_paths,
        recover_retention,
    )

    raw_dir = str(tmp_path / "rawc3")
    bars_dir = str(tmp_path / "barsc3")
    ticks = tick_view(spark, sf_dir)
    write_ticks(ticks, raw_dir, mode="overwrite")
    n_total = ticks.count()
    expected = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))
    (p50,) = ticks.selectExpr(
        "percentile(unix_micros(ts), 0.5) AS p"
    ).collect()[0]
    cutoff = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(p50))

    with pytest.raises(RuntimeError, match="injected crash"):
        apply_retention(
            spark, raw_dir, bars_dir, cutoff, _crash_at="raw_swapped"
        )
    _raw_stage, bars_stage, marker = _stage_paths(raw_dir, bars_dir)
    assert _P(marker).exists()
    staged = sorted(_P(bars_stage).glob("*.parquet"))
    assert staged, "crash window requires a staged bars append"
    # the mid-move instant: first part already in the live table
    _P(bars_dir).mkdir(parents=True, exist_ok=True)
    staged[0].rename(_P(bars_dir) / staged[0].name)

    actions = recover_retention(raw_dir, bars_dir)
    assert "bars_append_finished" in actions
    assert "commit_marker_cleared" in actions
    for p in _stage_paths(raw_dir, bars_dir):
        assert not _P(p).exists()
    after = _bars_pdf(unified_bars(spark, raw_dir, bars_dir))
    assert_df_equal(after, expected, name="bars after mid-move crash")
    # and the subsequent pass sees a clean, fully-retained state
    audit = apply_retention(spark, raw_dir, bars_dir, cutoff)
    assert audit["expired_rows"] == 0
    assert audit["retained_rows"] + ticks.where(
        F.col("ts") < F.lit(cutoff)
    ).count() == n_total


# -- the raw swap is the writer's: a changed table is never overwritten ------

def _small_ticks(spark, seqs):
    """Ticks of one symbol, seq ``q`` at second ``70 * q`` of 2024-01-01."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [("A", t0 + dt.timedelta(seconds=70 * q), 1.0 + q, 1, q) for q in seqs]
    return spark.createDataFrame(
        rows, "symbol string, ts timestamp, price double, volume long, seq long")


def _raw_seqs(raw_dir) -> list[int]:
    import pyarrow.parquet as pq

    from low_latency_time_series_database_tsdb_for_market_data_spark import catalog

    return sorted(q for f in catalog._parquet_files(raw_dir)
                  for q in pq.read_table(f, columns=["seq"]).column("seq").to_pylist())


def _cutoff_after_seq0():
    import datetime as dt

    return dt.datetime(2024, 1, 1, 0, 1)  # seq 0 (second 0) expires, seq 1 (70) stays


def _expected_bars(spark, tmp_path, seqs):
    full = str(tmp_path / "full")
    write_ticks(_small_ticks(spark, seqs), full, mode="overwrite")
    return _bars_pdf(unified_bars(spark, full, str(tmp_path / "nobars")))


def test_unlocked_append_during_staging_is_not_lost(spark, tmp_path, monkeypatch):
    """A writer that takes no lock (a stream's sink) appends while the
    pass stages its survivors: the listing check before the raw swap
    sees it, and the pass rolls back and raises with the table as it
    is, the appended rows included.  The next pass expires exactly
    once."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.sources import retention

    raw_dir, bars_dir = str(tmp_path / "raw"), str(tmp_path / "bars")
    write_ticks(_small_ticks(spark, [0, 1, 2]), raw_dir)
    expected = _expected_bars(spark, tmp_path, [0, 1, 2, 3])
    real = retention.write_ticks

    def append_then_stage(df, path, **kw):
        real(_small_ticks(spark, [3]), raw_dir)  # unlocked, mid-pass
        return real(df, path, **kw)

    monkeypatch.setattr(retention, "write_ticks", append_then_stage)
    with pytest.raises(RuntimeError, match="changed during the pass"):
        apply_retention(spark, raw_dir, bars_dir, _cutoff_after_seq0())
    monkeypatch.undo()
    assert _raw_seqs(raw_dir) == [0, 1, 2, 3]
    for p in retention._stage_paths(raw_dir, bars_dir):
        assert not Path(p).exists()
    audit = apply_retention(spark, raw_dir, bars_dir, _cutoff_after_seq0())
    assert (audit["expired_rows"], audit["retained_rows"]) == (1, 3)
    assert _raw_seqs(raw_dir) == [1, 2, 3]
    assert_df_equal(_bars_pdf(unified_bars(spark, raw_dir, bars_dir)), expected,
                    name="bars after a rolled-back pass")


def test_append_after_committed_crash_survives(spark, tmp_path):
    """A crash after the commit marker, then an append: recovery finds
    the raw table changed since the pass counted it and rolls the pass
    back (its bars never moved) instead of swapping the stage over the
    append; the re-run expires seq 0 once and keeps the append."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.sources.retention import (  # noqa: E501
        _stage_paths,
    )

    raw_dir, bars_dir = str(tmp_path / "raw"), str(tmp_path / "bars")
    write_ticks(_small_ticks(spark, [0, 1, 2]), raw_dir)
    expected = _expected_bars(spark, tmp_path, [0, 1, 2, 3])
    with pytest.raises(RuntimeError, match="injected crash"):
        apply_retention(spark, raw_dir, bars_dir, _cutoff_after_seq0(), _crash_at="committed")
    write_ticks(_small_ticks(spark, [3]), raw_dir)
    audit = apply_retention(spark, raw_dir, bars_dir, _cutoff_after_seq0())
    assert (audit["expired_rows"], audit["retained_rows"]) == (1, 3)
    assert _raw_seqs(raw_dir) == [1, 2, 3]
    for p in _stage_paths(raw_dir, bars_dir):
        assert not Path(p).exists()
    assert_df_equal(_bars_pdf(unified_bars(spark, raw_dir, bars_dir)), expected,
                    name="bars after an append past a committed crash")


@pytest.mark.parametrize("taker", ["reader", "retention"])
def test_retention_crash_between_renames_takes_its_own_stage(spark, tmp_path, monkeypatch,
                                                            taker):
    """A crash between the raw swap's two renames, beside a stale stage a
    killed compaction left: the next taker of the lock (a reader, or
    the next pass) puts retention's stage in place, never the
    compaction's, and the bars fold exactly once."""
    import os
    import shutil

    from low_latency_time_series_database_tsdb_for_market_data_spark.sources import writer

    raw_dir, bars_dir = str(tmp_path / "raw"), str(tmp_path / "bars")
    write_ticks(_small_ticks(spark, [0, 1, 2]), raw_dir)
    expected = _expected_bars(spark, tmp_path, [0, 1, 2])
    stale = tmp_path / "raw__compact_stage"
    shutil.copytree(raw_dir, stale)
    stale_files = sorted(stale.rglob("*"))
    renames = []
    real = os.rename

    def crash_second(src, dst):
        renames.append(src)
        if len(renames) == 2:
            raise OSError("killed")
        real(src, dst)

    with monkeypatch.context() as m:
        m.setattr(writer.os, "rename", crash_second)
        with pytest.raises(OSError, match="killed"):
            apply_retention(spark, raw_dir, bars_dir, _cutoff_after_seq0())
    assert not Path(raw_dir).exists() and (tmp_path / ".raw__retain_old").exists()
    if taker == "reader":
        with writer.table_lock(raw_dir, shared=True):
            assert _raw_seqs(raw_dir) == [1, 2]
    audit = apply_retention(spark, raw_dir, bars_dir, _cutoff_after_seq0())
    assert audit["expired_rows"] == 0
    assert _raw_seqs(raw_dir) == [1, 2]
    assert not (tmp_path / ".raw__retain_old").exists()
    assert sorted(stale.rglob("*")) == stale_files  # never moved
    assert_df_equal(_bars_pdf(unified_bars(spark, raw_dir, bars_dir)), expected,
                    name=f"bars after a crash between renames, repaired by the {taker}")
