"""Retention / downsampling policy: age raw ticks into OHLC bars.

The TSDB lifecycle step the reference's roadmap stops short of
(`README.md:88-93` gestures at continuous aggregates only): raw ticks
older than a cutoff are reduced ONCE to final per-bucket partial bars
(the rollup algebra of `streaming/rollup.py` — count/sum/min/max plus
(ts, seq, price) structs for the open/close endpoints), appended to the
bars table, and expired from the raw table; queries keep seeing the full
history through :func:`unified_bars`, which folds archived partials and
live raw ticks with the same monoid merge, so the retention boundary —
even one that lands mid-bucket — is invisible.

Scale shape: the expiry aggregation is one (symbol, bucket) hash agg
over only the expiring slice (the ts predicate prunes row groups — the
same pushdown contract every range scan here rides), the bars append is
bucket-scale, and the raw rewrite is a partitioned write of the
surviving slice.  On a real deployment the swap step is a table-format
metadata commit (Iceberg/Delta REPLACE); on plain parquet directories it
is stage-then-rename, which this module implements with a full
materialization barrier before anything is deleted.
"""

from __future__ import annotations

import datetime as _dt
import shutil as _shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import session_cache
from ..streaming.rollup import _partial_bars, fold_bars
from .writer import read_ticks, swap_lock, table_lock, write_ticks


def _tick_partials(ticks: DataFrame, bucket: str) -> DataFrame:
    return _partial_bars(
        ticks.select("symbol", "ts", "price", "seq"), bucket
    )


def _has_parquet(path: str) -> bool:
    p = Path(path)
    return p.exists() and any(p.glob("**/*.parquet"))


def _stage_paths(raw_dir: str, bars_dir: str) -> tuple[str, str, str]:
    """(raw stage, bars stage, commit marker) for one retention pass."""
    return (
        f"{raw_dir.rstrip('/')}__retain_stage",
        f"{bars_dir.rstrip('/')}__append_stage",
        f"{raw_dir.rstrip('/')}__retain_commit",
    )


def _finish_bars_append(bars_stage: str, bars_dir: str) -> None:
    """Move staged partial-bar part files into the live bars table.

    File renames are atomic on one filesystem and Spark part names carry
    a job-unique UUID, so a re-run after a crash mid-move just moves the
    remaining files — a part exists in exactly one of the two
    directories at every instant."""
    Path(bars_dir).mkdir(parents=True, exist_ok=True)
    for f in sorted(Path(bars_stage).glob("*.parquet")):
        dest = Path(bars_dir) / f.name
        if dest.exists():
            raise RuntimeError(
                f"retention: bars part collision at {dest} — "
                "stage was built by a different pass; inspect by hand"
            )
        _shutil.move(str(f), str(dest))
    _shutil.rmtree(bars_stage)
    session_cache.drop("relation", bars_dir)  # live table grew: cached listings stale


def recover_retention(raw_dir: str, bars_dir: str) -> list[str]:
    """Finish or roll back a retention pass interrupted by a crash.

    The commit marker is written only after BOTH staging directories are
    fully materialized and count-verified, so its presence means the
    pass's outcome is decided: redo the (idempotent) swap + append
    steps.  Its absence means the pass never committed: the live tables
    are untouched, so any stage remnants are rolled back and the next
    pass re-runs from scratch.  Called automatically at the top of
    :func:`apply_retention`; safe to call any time (no-op when no stage
    or marker exists).  Holds ``raw_dir``'s exclusive lock
    (``writer.table_lock``).  Returns the list of actions taken."""
    with table_lock(raw_dir):
        return _recover(raw_dir, bars_dir)


def _recover(raw_dir: str, bars_dir: str) -> list[str]:
    """:func:`recover_retention`'s work; the caller holds the lock."""
    raw_stage, bars_stage, marker = _stage_paths(raw_dir, bars_dir)
    actions: list[str] = []
    if Path(marker).exists():
        if Path(raw_stage).exists():
            with swap_lock(raw_dir):  # a locked reader sees neither half
                if Path(raw_dir).exists():
                    _shutil.rmtree(raw_dir)
                _shutil.move(raw_stage, raw_dir)
            session_cache.drop("relation", raw_dir)
            actions.append("raw_swap_finished")
        if Path(bars_stage).exists():
            _finish_bars_append(bars_stage, bars_dir)
            actions.append("bars_append_finished")
        Path(marker).unlink()
        actions.append("commit_marker_cleared")
    else:
        for stage in (raw_stage, bars_stage):
            if Path(stage).exists():
                _shutil.rmtree(stage)
                actions.append(f"rolled_back:{Path(stage).name}")
    return actions


def apply_retention(
    spark: SparkSession,
    raw_dir: str,
    bars_dir: str,
    cutoff: _dt.datetime,
    bucket: str = "1 minute",
    _crash_at: str | None = None,
) -> dict:
    """Expire raw ticks with ts < cutoff into partial bars.

    Idempotent: a re-run with the same (or an earlier) cutoff finds no
    expiring rows and changes nothing — including on a raw table already
    expired down to nothing (a fully-archived table stays queryable
    through unified_bars).

    Crash safety is a two-stage commit: the partial bars AND the
    surviving raw slice are each fully materialized into staging
    directories and count-verified, then a commit marker file is
    written, and only then do the live tables change (raw swap, then
    bars part-file move).  Before the marker exists nothing live has
    changed and :func:`recover_retention` (run automatically at entry)
    rolls the stages back, so a re-run after an early crash re-runs the
    whole pass exactly once — the pre-fix hazard where a crash between a
    live bars append and the raw swap double-folded the same partials on
    re-run cannot occur, because partials only reach bars_dir after the
    expired rows have left raw_dir.  After the marker exists, recovery
    redoes the idempotent swap/move steps to completion.  On a real
    deployment the marker is a table-format atomic commit
    (Iceberg/Delta REPLACE + append in one transaction).

    ``_crash_at`` is a test-only fault-injection point naming a step to
    die before ('bars_staged' | 'committed' | 'raw_swapped').

    Returns an audit dict {expired_rows, retained_rows, bars_appended}
    where bars_appended counts the partial-bar ROWS APPENDED BY THIS
    PASS (not the bars table total).

    The whole pass holds ``raw_dir``'s exclusive lock
    (``writer.table_lock``), the one the CLI's writers and
    ``compact_ticks`` take, so no locked writer's rows land in the raw
    table between the count and the swap."""
    with table_lock(raw_dir):
        return _retain(spark, raw_dir, bars_dir, cutoff, bucket, _crash_at)


def _retain(spark: SparkSession, raw_dir: str, bars_dir: str, cutoff: _dt.datetime,
            bucket: str, _crash_at: str | None) -> dict:
    """:func:`apply_retention`'s pass; the caller holds the lock."""
    raw_stage, bars_stage, marker = _stage_paths(raw_dir, bars_dir)
    _recover(raw_dir, bars_dir)
    if not _has_parquet(raw_dir):  # everything already archived
        return {"expired_rows": 0, "retained_rows": 0, "bars_appended": 0}
    raw = read_ticks(spark, raw_dir)
    lit = F.lit(cutoff)
    old = raw.where(F.col("ts") < lit)
    expired = old.count()
    if expired == 0:
        return {
            "expired_rows": 0,
            "retained_rows": raw.count(),
            "bars_appended": 0,
        }

    # stage 1: partial bars for the expiring slice
    partials = _tick_partials(old, bucket)
    partials.write.mode("overwrite").parquet(bars_stage)
    n_appended = spark.read.parquet(bars_stage).count()
    if _crash_at == "bars_staged":
        raise RuntimeError("injected crash: after bars staged")

    # stage 2: the surviving raw slice (an empty survivor set stages an
    # empty directory — Spark writes no part files for an empty
    # partitioned frame, and every reader here goes through the
    # _has_parquet guard)
    recent = raw.where(F.col("ts") >= lit)
    retained = recent.count()
    if retained:
        write_ticks(recent, raw_stage, mode="overwrite")
        staged = read_ticks(spark, raw_stage).count()
        if staged != retained:  # barrier: survives python -O
            raise RuntimeError(
                f"retention stage incomplete: {staged} != {retained}"
            )
    else:
        Path(raw_stage).mkdir(parents=True, exist_ok=True)

    # commit point: both stages verified-complete; all later steps are
    # idempotent redo territory for recover_retention
    Path(marker).touch()
    if _crash_at == "committed":
        raise RuntimeError("injected crash: after commit marker")
    _shutil.rmtree(raw_dir)
    _shutil.move(raw_stage, raw_dir)
    session_cache.drop("relation", raw_dir)
    if _crash_at == "raw_swapped":
        raise RuntimeError("injected crash: after raw swap")
    _finish_bars_append(bars_stage, bars_dir)
    Path(marker).unlink()
    return {
        "expired_rows": expired,
        "retained_rows": retained,
        "bars_appended": n_appended,
    }


def unified_bars(
    spark: SparkSession,
    raw_dir: str,
    bars_dir: str,
    bucket: str = "1 minute",
) -> DataFrame:
    """Full-history OHLC bars over archived partials + live raw ticks.

    Both sides reduce to the same partial-bar shape and fold in ONE
    monoid merge, so a bucket straddling a retention cutoff (part
    archived, part raw) — or split across several retention passes —
    still yields exactly the bar a never-retained table would.  Either
    side may be empty (brand-new table: no archive; fully-retained
    table: no raw files)."""
    have_raw = _has_parquet(raw_dir)
    have_bars = _has_parquet(bars_dir)
    if not have_raw and not have_bars:
        raise ValueError(
            f"unified_bars: neither {raw_dir} nor {bars_dir} holds data"
        )
    parts = (
        _tick_partials(read_ticks(spark, raw_dir), bucket)
        if have_raw
        else None
    )
    if have_bars:
        archived = spark.read.parquet(bars_dir)
        parts = archived if parts is None else parts.unionByName(archived)
    return fold_bars(parts)
