"""Reference-surface queries q01-q09 (SURVEY.md §2.3, rows S1-S13).

These reproduce the complete query surface of the reference TSDB — full
scan, projection, inclusive time-range scan, point lookup, last-N (arrival
order), top-K, counts, CSV import — on the `events` table with the mapping
event_type→symbol, ts→timestamp, value→price, event_id→seq (FIXTURES.md §B).

Scale notes: the range/point scans filter on the *raw* ts column in its
native physical type (int64 nanos or parquet timestamp — see
catalog.ts_bound) so the predicate is pushed into the parquet scan
(row-group min/max pruning — the distributed analogue of the reference's
B+ tree probe, `bplus_tree.hpp:70-91`); normalization happens after
pruning.
Last-N / top-K use sort+limit, which Spark executes as a per-partition
TakeOrdered + driver merge — no global sort, no full shuffle.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import (
    events_raw,
    table,
    ts_bound,
    ts_is_long,
    ts_min_epoch_ns,
    with_ts,
)
from ..registry import query
from ..sources.csv_ticks import read_tick_csv

_REPO = Path(__file__).resolve().parents[2]

# q04 inclusive bounds (UTC) — inside the events ts range at every SF.
_T1 = "2024-01-10 00:00:00"
_T2 = "2024-01-20 00:00:00"
_T1_NS = 1704844800 * 1_000_000_000  # 2024-01-10T00:00:00Z in epoch nanos
_T2_NS = 1705708800 * 1_000_000_000  # 2024-01-20T00:00:00Z


@query(
    "q01_scan_full",
    oracle="SELECT * FROM events",
    category="scan",
)
def q01_scan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan, all columns (reference S3/S4 full-range query)."""
    return table(spark, sf_dir, "events")


@query(
    "q02_csv_roundtrip",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(2000 AS BIGINT), CAST(50.5 AS DOUBLE), CAST(10 AS BIGINT)),
        (2001, 51.0, 20),
        (2003, 52.5, 40)
    ) AS t(ts, price, volume)
    """,
    category="source",
)
def q02_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV import semantics (reference S8, `cli.cpp:140-207`): header
    skipped, short/unparseable rows dropped, extra tokens ignored.  Reads
    the FIXTURES.md#F2 fixture; the oracle is the verified 3-row survivor
    set."""
    return read_tick_csv(spark, str(_REPO / "tests" / "fixtures" / "ticks_malformed.csv"))


@query(
    "q03_project",
    oracle="SELECT event_id, ts, value FROM events",
    category="projection",
)
def q03_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column projection — Catalyst prunes the parquet ReadSchema to the
    three selected columns (check `.explain`)."""
    return table(spark, sf_dir, "events").select("event_id", "ts", "value")


@query(
    "q04_range_scan",
    oracle=f"""
    SELECT * FROM events
    WHERE ts BETWEEN TIMESTAMP '{_T1}' AND TIMESTAMP '{_T2}'
    """,
    category="filter",
)
def q04_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship query (S4): inclusive-both-ends time range.

    Filters on the RAW ts column with literals of its native type
    (`catalog.ts_bound`) so the BETWEEN reaches the parquet scan as a
    pushed filter whichever physical layout the fixture shipped with; the
    int64-nanos layout's upper bound is `us*1000 + 999`, reproducing the
    nanos->micros truncation exactly."""
    raw = events_raw(spark, sf_dir)
    lo = ts_bound(raw, _T1_NS)
    hi = ts_bound(raw, _T2_NS, upper=True)
    return with_ts(raw.where((F.col("ts") >= lo) & (F.col("ts") <= hi)))


@query(
    "q05_point_lookup",
    oracle="SELECT * FROM events WHERE ts = (SELECT min(ts) FROM events)",
    category="filter",
)
def q05_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate range (start == end), reference S4.  Two phases, like
    the CLI's point read: a scalar probe job resolves the target ts (the
    table min, so the query is meaningful at every SF), then the lookup
    itself filters the RAW ts column with a constant of its native type —
    an EqualTo that reaches the parquet scan as a pushed filter, so
    row-group min/max stats prune exactly like the reference's B+ tree
    descent (`bplus_tree.hpp:95-106`).  A min-probe *join* instead would
    keep the plan lazy but defeat static pushdown — the wrong trade for
    a point lookup.

    The probe itself is the INDEX read, not a data scan: parquet footer
    row-group statistics give the table min directly
    (`catalog.ts_min_epoch_ns`, exact in every ts layout) — the same
    metadata the scan uses for pruning, so no Spark job runs for the
    scalar (measured: −2 s off the cold-session point latency at sf0.1).
    Fallback where the footers cannot answer (no stats, a non-local or
    nested table) is a layout-neutral agg probe that returns epoch
    integers, never a Python datetime — a collected TimestampType
    datetime goes through the driver's OS timezone, which would corrupt
    the literal on any non-UTC host."""
    raw = events_raw(spark, sf_dir)
    epoch_ns = ts_min_epoch_ns(spark, f"{sf_dir}/events.parquet")
    if epoch_ns is None:
        if ts_is_long(raw):
            epoch_ns = raw.agg(F.min("ts")).collect()[0][0]
        else:
            # NTZ naive values are UTC by the catalog's session pin (tune)
            us = raw.agg(
                F.min(F.unix_micros(F.col("ts").cast("timestamp")))
            ).collect()[0][0]
            epoch_ns = us * 1000
    return with_ts(raw.where(F.col("ts") == ts_bound(raw, epoch_ns)))


@query(
    "q06_last_n",
    oracle="SELECT * FROM events ORDER BY event_id DESC LIMIT 50",
    category="sort-limit",
)
def q06_last_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-50 in ARRIVAL order (reference S6, `timeseries_db.cpp:195-219`):
    ordered by seq (event_id), not timestamp.  Executes as TakeOrdered —
    per-partition top-50 then driver merge, no global sort."""
    return table(spark, sf_dir, "events").orderBy(F.desc("event_id")).limit(50)


@query(
    "q07_topk_value",
    oracle="SELECT * FROM events ORDER BY value DESC, event_id LIMIT 10",
    category="sort-limit",
)
def q07_topk_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by value, tie-broken by unique event_id for determinism."""
    return (
        table(spark, sf_dir, "events")
        .orderBy(F.desc("value"), F.asc("event_id"))
        .limit(10)
    )


@query(
    "q08_count",
    oracle="SELECT COUNT(*) AS n FROM events",
    category="agg",
)
def q08_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row count (reference S7) — parquet metadata-only at best, partial
    counts + single-row final agg at worst."""
    return table(spark, sf_dir, "events").agg(F.count(F.lit(1)).alias("n"))


@query(
    "q09_count_by_symbol",
    oracle="SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
    category="agg",
)
def q09_count_by_symbol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol count — the reference needs one process per symbol for
    this; here it is one hash agg with map-side partials."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
