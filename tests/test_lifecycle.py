"""run_maintenance: the composed nightly chain must equal running its
steps by hand, preserve full history through unified_bars, and be
idempotent on re-run."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

from pyspark.sql import functions as F

from low_latency_time_series_database_tsdb_for_market_data_spark.sources.lifecycle import (
    run_maintenance,
)
from low_latency_time_series_database_tsdb_for_market_data_spark.sources.retention import (
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


def test_full_chain_conserves_history_and_is_idempotent(
    spark, sf_dir, tmp_path
):
    table_dir = str(tmp_path / "table")
    bars_dir = str(tmp_path / "bars")
    src = tmp_path / "src"
    src.mkdir()

    ticks = tick_view(spark, sf_dir)
    n_total = ticks.count()
    # start the table with the older half; the newer half arrives as a
    # backfill source file
    (p50,) = ticks.selectExpr(
        "percentile(unix_micros(ts), 0.5) AS p"
    ).collect()[0]
    mid = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(p50))
    old = ticks.where(F.col("ts") < F.lit(mid))
    new = ticks.where(F.col("ts") >= F.lit(mid))
    # many small appends -> compaction has work to do
    for i in range(6):
        write_ticks(old.where(F.col("seq") % 6 == i), table_dir)
    new.coalesce(1).write.parquet(str(src / "drop1"))
    import glob as _glob
    import shutil as _shutil

    f = _glob.glob(str(src / "drop1" / "*.parquet"))[0]
    _shutil.copy(f, src / "new_batch.parquet")

    # ground truth bars over the never-maintained full corpus
    full_dir = str(tmp_path / "full")
    write_ticks(ticks, full_dir, mode="overwrite")
    expected = unified_bars(spark, full_dir, str(tmp_path / "nobars")).toPandas()

    cutoff = mid - dt.timedelta(hours=1)  # expire the oldest slice
    audit = run_maintenance(
        spark,
        table_dir,
        bars_dir,
        cutoff=cutoff,
        src_glob=str(src / "*.parquet"),
        target_files=2,
    )
    assert audit["backfill"]["files_ingested"] == 1
    assert audit["backfill"]["rows_ingested"] == new.count()
    assert audit["retention"]["expired_rows"] > 0
    assert (
        audit["retention"]["expired_rows"]
        + audit["retention"]["retained_rows"]
        == n_total
    )
    assert audit["compaction"] is not None
    assert audit["compaction"]["files_after"] <= 2 * 5  # tasks x symbols
    assert (
        audit["compaction"]["files_after"]
        < audit["compaction"]["files_before"]
    )
    assert read_ticks(spark, table_dir).count() == audit[
        "retention"
    ]["retained_rows"]

    # history is conserved through the whole chain
    after = unified_bars(spark, table_dir, bars_dir).toPandas()
    assert_df_equal(after, expected, name="bars after maintenance chain")

    # re-run: all steps no-op (backfill manifest, retention cutoff,
    # compaction at target)
    audit2 = run_maintenance(
        spark,
        table_dir,
        bars_dir,
        cutoff=cutoff,
        src_glob=str(src / "*.parquet"),
        target_files=8 * 5,
    )
    assert audit2["backfill"]["files_ingested"] == 0
    assert audit2["retention"]["expired_rows"] == 0
    assert audit2["compaction"] is None
    again = unified_bars(spark, table_dir, bars_dir).toPandas()
    assert_df_equal(again, expected, name="bars after no-op re-run")


def test_steps_gate_on_arguments(spark, sf_dir, tmp_path):
    """No src_glob -> no backfill; no cutoff -> no retention; compaction
    skips when the file count is already at target."""
    table_dir = str(tmp_path / "t2")
    write_ticks(tick_view(spark, sf_dir), table_dir, mode="overwrite",
                target_files=2)
    n_files = len(list(Path(table_dir).glob("**/*.parquet")))
    audit = run_maintenance(
        spark, table_dir, str(tmp_path / "b2"), target_files=n_files
    )
    assert audit == {"backfill": None, "retention": None, "compaction": None}


def test_hidden_leftover_does_not_trigger_compaction(spark, sf_dir, tmp_path):
    """A driver write killed before its rename leaves a hidden
    ``.part-….parquet`` that Spark never reads: the file count that
    gates compaction skips it, as it skips ``_temporary/``."""
    import shutil

    table_dir = str(tmp_path / "t3")
    write_ticks(tick_view(spark, sf_dir), table_dir, mode="overwrite", target_files=2)
    files = sorted(Path(table_dir).glob("**/*.parquet"))
    shutil.copy(files[0], files[0].with_name(".part-00000-killed.c000.snappy.parquet"))
    audit = run_maintenance(spark, table_dir, str(tmp_path / "b3"), target_files=len(files))
    assert audit["compaction"] is None
