"""Reference-compatible CLI — the switch-over surface.

A user of the reference's ``tsdb_cli`` can point at this module and run the
same five commands (`cli.cpp:43-219`):

    python -m low_latency_time_series_database_tsdb_for_market_data_spark.cli \
        insert <symbol> <ts> <price> <volume>     # cli.cpp:54-68
        query <symbol> <start> <end>              # cli.cpp:69-87  (flagship S4)
        last <symbol> <n>                         # cli.cpp:88-105 (S6)
        benchmark <symbol> <n>                    # cli.cpp:106-139 (S10)
        import <symbol> <file.csv>                # cli.cpp:140-207 (S8)

Golden output contract is preserved byte-for-byte (SURVEY.md §2.1):
``"Found N results:"`` then per-row ``"Timestamp: <ts> Price: <%.2f>
Volume: <vol>"``; ``"Last N ticks for <sym>:"``.  Documented deviations
(SURVEY.md §4.3): ``import`` reports the TRUE imported row count (the
reference prints lines-read, `cli.cpp:206`); duplicate-timestamp ties are
returned in seq (arrival) order, a deterministic total order, where the
reference returns reverse-arrival (`bplus_tree.hpp:53`).

Storage: one partitioned parquet tick table per data_dir (symbol is a
partition column — the reference's directory-per-symbol model,
`column_storage.cpp:13-18`), time-sorted row groups via the engine's
writer.  Timestamps are epoch seconds held as int64, exactly the
reference's opaque-u64 model (`timeseries_db.hpp:19-24`).

Index reads: the parquet footers are this table's index (SURVEY §1.3), as
the B+ tree is the reference's, and one walk reads them
(``catalog.footer_groups``).  The next arrival seq is the largest footer
seq max of the symbol's partition, and `maintain` takes its row counts
from footer ``num_rows`` — neither runs a Spark job.  ``query`` and
``last`` read on the driver (``catalog.local_rows``): the row groups of
the symbol's partition whose footer ts range meets the window, or those
with the largest footer seq, are read with pyarrow, filtered or cut to n
and ordered there.  Only inputs the footers cannot serve fall back to
Spark: a non-local path, a row group without stats, a footer that cannot
be read, a listed file not named ``*.parquet`` or not directly in a
``symbol=`` directory, a file whose columns differ from TICK_SCHEMA, a
bound outside int64, a negative n (Spark raises), or more than
``catalog.LOCAL_READ_MAX_ROWS`` rows in the kept row groups.

Inserts are written on the driver too: on a local table ``insert``
writes its rows with pyarrow as one parquet file in the symbol's
partition directory, with the footer Spark's writer would give it
(``_append``); other tables keep the Spark write.  So is ``maintain``:
it compacts each symbol partition of a local table of up to
``catalog.LOCAL_READ_MAX_ROWS`` rows into one file with pyarrow
(``writer.compact_ticks``), and larger or non-local tables keep the
Spark rewrite.

Spark jobs per command on a local table: ``query`` 0, ``last`` 0,
``insert`` 0, ``maintain`` 0, and an ``import`` of a one-split CSV 1
(the write; its count is read back from the footers).  On any other
table ``insert`` runs 1 (the write) and ``maintain`` 3.

One writer at a time, as the reference's one writer thread under
``write_mutex``: every command holds the table's advisory lock
(``writer.table_lock``).  ``insert``, ``import``, ``benchmark`` and
``maintain`` take ``flock`` on ``<data_dir>/_ticks.lock`` exclusive, so
two inserts never read the same next seq and an insert never lands in
a table ``maintain`` has counted and is about to replace.  ``query`` and
``last`` take ``<data_dir>/_ticks.read.lock`` shared, which only
``maintain``'s swap takes exclusive: a read never sees the swap half
done, and waits for no writer but the swap.  A command that waits
longer than ``writer.LOCK_TIMEOUT_S`` raises.  A non-local table gets
no lock and needs an external coordinator between writers.
"""

from __future__ import annotations

import sys
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TICK_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.LongType(), False),  # epoch seconds (opaque u64)
        T.StructField("price", T.DoubleType(), False),
        T.StructField("volume", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),  # arrival order
        T.StructField("symbol", T.StringType(), False),
    ]
)
# the columns a data file holds: symbol is the partition directory
_DATA_SCHEMA = T.StructType([f for f in TICK_SCHEMA.fields if f.name != "symbol"])

HELP = """Usage:
  cli insert <symbol> <timestamp> <price> <volume>
  cli query <symbol> <start_ts> <end_ts>
  cli last <symbol> <count>
  cli benchmark <symbol> <num_ticks>
  cli import <symbol> <csv_file>
  cli maintain [target_files]
"""


def _table_path(data_dir: str) -> str:
    return f"{data_dir}/ticks"


def _locked(data_dir: str, shared: bool = False):
    """The tick table's advisory lock (``writer.table_lock``)."""
    from .sources.writer import table_lock

    return table_lock(_table_path(data_dir), shared=shared)


def _load(spark: SparkSession, data_dir: str, symbol: str) -> DataFrame | None:
    """Symbol slice of the tick table (partition-pruned scan), or None if
    the table does not exist yet.  Any other read failure propagates: a
    table that exists but cannot be read must not answer as empty."""
    try:
        df = spark.read.schema(TICK_SCHEMA).parquet(_table_path(data_dir))
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return None
    return df.where(F.col("symbol") == symbol)


def _symbol_dir(spark: SparkSession, data_dir: str, symbol: str) -> str:
    """The symbol's partition directory, named with Spark's own escaping
    (``BRK/B`` is stored under ``symbol=BRK%2FB``)."""
    escape = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    return f"{_table_path(data_dir)}/symbol={escape.escapePathName(symbol)}"


def _probe_max_seq(spark: SparkSession, data_dir: str, symbol: str) -> int | None:
    """max(seq) of the symbol's slice by a Spark aggregation job."""
    df = _load(spark, data_dir, symbol)
    return None if df is None else df.agg(F.max("seq")).collect()[0][0]


def _next_seq(spark: SparkSession, data_dir: str, symbol: str) -> int:
    """Next arrival seq for ``symbol``: one past its stored max, 0 for a
    new symbol or a missing table.

    The max is the largest footer max of the ``seq`` row groups in the
    symbol's partition (``catalog.footer_groups``, the walk behind the
    driver reads), the way the reference's writer keeps its counter in
    memory instead of scanning: no data page is read and no Spark job
    runs.  The directory is named by Spark's own escaping, so a symbol
    like ``BRK/B`` is found and its seq does not restart at 0.
    Fallback: where the footers cannot answer (the driver reads'
    triggers: a row group without stats, a non-local path, an
    unexpected file or column), the max(seq) aggregation over the
    partition-pruned scan answers instead."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from .catalog import footer_groups, local_path

    local = local_path(_symbol_dir(spark, data_dir, symbol))
    if local is not None and not local.exists():
        return 0
    with footer_groups(spark, _table_path(data_dir), to_arrow_schema(_DATA_SCHEMA), "seq",
                       partition=("symbol", symbol)) as groups:
        his = None if groups is None else [g.hi for g in groups]
    hi = _probe_max_seq(spark, data_dir, symbol) if his is None else max(his, default=None)
    return 0 if hi is None else hi + 1


def _append(
    spark: SparkSession, data_dir: str, symbol: str, rows: list[tuple[int, float, int]]
) -> int:
    """Append (ts, price, volume) rows with monotone seq; returns count.

    CLI appends are small interactive batches, so assigning seq from the
    driver-side max (:func:`_next_seq`) is correct: the caller holds
    the table's exclusive lock (:func:`_locked`) across the read and the
    write, so one writer appends at a time, like the reference's one
    writer thread.  Bulk pipelines use sources/writer.py where seq comes
    from the source.

    On a local table the rows are written on the driver, as the
    reference's writer appends to its column files: one ts-sorted
    parquet file in the symbol's partition directory (the escaped name
    :func:`_symbol_dir` gives), written by ``writer._write_part``, typed
    to TICK_SCHEMA without ``symbol`` and carrying Spark's footer
    metadata (``writer._spark_footer_metadata``), so Spark reads it, and
    infers the same schema from it, as it would read a file of its own.
    No Spark job runs.  Otherwise the rows go to Spark as an Arrow table
    typed to TICK_SCHEMA, a LocalRelation, and ``write_ticks`` writes
    them (one job)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from . import session_cache
    from .catalog import local_path
    from .sources import writer

    base = _next_seq(spark, data_dir, symbol)
    data = [
        dict(ts=int(ts), price=float(p), volume=int(v), seq=base + i, symbol=symbol)
        for i, (ts, p, v) in enumerate(rows)
    ]
    table = pa.Table.from_pylist(data, schema=to_arrow_schema(TICK_SCHEMA))
    path = _table_path(data_dir)
    part = local_path(_symbol_dir(spark, data_dir, symbol))
    metadata = None if part is None else writer._spark_footer_metadata(spark, _DATA_SCHEMA)
    if metadata is None:
        writer.write_ticks(spark.createDataFrame(table, TICK_SCHEMA), path, mode="append")
    else:
        writer._write_part(part, table.drop_columns(["symbol"]).sort_by("ts"), metadata)
        # as write_ticks does: cached relations must re-list
        session_cache.drop("relation", path)
    return len(data)


def _fmt(rows) -> list[str]:
    # golden row format, cli.cpp:81-86
    return [
        f"Timestamp: {r['ts']} Price: {r['price']:.2f} Volume: {r['volume']}"
        for r in rows
    ]


def cmd_insert(
    spark: SparkSession, data_dir: str, symbol: str, ts: int, price: float, volume: int
) -> list[str]:
    with _locked(data_dir):
        _append(spark, data_dir, symbol, [(ts, price, volume)])
    return [f"Inserted tick for {symbol}"]


def _local_slice(spark: SparkSession, data_dir: str, symbol: str, col: str, **select):
    """The symbol's rows that ``select`` (``window`` or ``top`` on ``col``)
    picks, read on the driver from the footer-pruned row groups of its
    partition directory (``catalog.local_rows``), or None when only the
    Spark read can give them exactly."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from .catalog import local_rows

    return local_rows(spark, _table_path(data_dir), to_arrow_schema(_DATA_SCHEMA), col,
                      partition=("symbol", symbol), **select)


def cmd_query(
    spark: SparkSession, data_dir: str, symbol: str, start: int, end: int
) -> list[str]:
    """Inclusive time-range scan, ts-ordered, seq-ordered ties (S4).

    The driver reads the row groups whose footer ts range meets the
    window (:func:`_local_slice`) — no Spark job.  When it cannot, the
    partition-pruned Spark scan collects the slice.  Either way the rows
    are sorted on the driver by (ts, seq), a total order (seq is unique
    per symbol), so both paths print the same lines.  The read holds
    the table's shared lock."""
    with _locked(data_dir, shared=True):
        tbl = _local_slice(spark, data_dir, symbol, "ts", window=(start, end))
        if tbl is not None:
            rows = tbl.sort_by([("ts", "ascending"), ("seq", "ascending")]).to_pylist()
        else:
            df = _load(spark, data_dir, symbol)
            rows = (
                []
                if df is None
                else df.where((F.col("ts") >= start) & (F.col("ts") <= end)).collect()
            )
    if tbl is None:
        rows.sort(key=lambda r: (r["ts"], r["seq"]))
    return [f"Found {len(rows)} results:"] + _fmt(rows)


def cmd_last(spark: SparkSession, data_dir: str, symbol: str, n: int) -> list[str]:
    """Last-N in arrival order, emitted oldest-first (S6).  The driver
    reads the row groups with the largest footer seq until they hold the
    top n (:func:`_local_slice`); otherwise, and for n < 0 (which Spark
    rejects), the Spark sort-limit answers.  The read holds the table's
    shared lock."""
    with _locked(data_dir, shared=True):
        tbl = _local_slice(spark, data_dir, symbol, "seq", top=n)
        if tbl is not None:
            rows = tbl.to_pylist()
        else:
            df = _load(spark, data_dir, symbol)
            rows = []
            if df is not None:
                rows = df.orderBy(F.desc("seq")).limit(n).orderBy("seq").collect()
    return [f"Last {len(rows)} ticks for {symbol}:"] + _fmt(rows)


def _split_counts(parsed: DataFrame) -> dict[int, int]:
    """Surviving rows per input split, by one tiny Spark job (one row per
    split — KBs at any import size)."""
    return dict(
        (r["pid"], r["n"])
        for r in parsed.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )


def cmd_import(
    spark: SparkSession, data_dir: str, symbol: str, csv_path: str
) -> list[str]:
    """CSV import with malformed-row tolerance (S8).  The parse keeps the
    reference's skip-bad-rows semantics; unlike `cli.cpp:206` the reported
    count is rows actually imported.

    The parsed rows flow straight from the distributed text scan into the
    partitioned writer — no driver collect of row data (the old
    `.collect()` round-trip was the classic scale-killer at any real
    import size).  seq continues from the symbol's max in FILE-LINE order
    with NO Exchange at all: seq = base + split_base[partition] +
    in-split record index (the documented low-33-bit payload of
    monotonically_increasing_id), where split k's base is the surviving
    rows of splits < k (splits are planned in file-offset order).  A pure
    narrow expression — the old single-partition row_number window
    serialized the whole import through one task; this keeps the scan's
    own parallelism while assigning the identical numbers.

    The planned split count (no job) picks how the split bases are
    found.  A one-split CSV on a local table needs none: its bases are
    ``[0]``, the write is the only Spark job, and the imported count is
    read back from the footer index afterwards — the symbol's next seq
    minus ``base``, the same footer read :func:`_next_seq` makes (seq is
    dense from ``base``).  Otherwise one tiny probe job collects
    per-split surviving-row counts (:func:`_split_counts`) and the
    driver turns them into cumulative bases and the total."""
    from .catalog import local_path
    from .sources.csv_ticks import read_tick_csv
    from .sources.writer import write_ticks

    with _locked(data_dir):
        base = _next_seq(spark, data_dir, symbol)
        parsed = read_tick_csv(spark, csv_path)
        splits = parsed._jdf.queryExecution().toRdd().getNumPartitions()
        if splits == 1 and local_path(_table_path(data_dir)) is not None:
            bases, total = [0], None  # total read from the footers below
        else:
            counts = _split_counts(parsed)
            # dense base array indexed by partition id (empty splits hold a 0
            # placeholder): element_at on an array literal is an O(1) index,
            # where a literal map would be a per-row linear key scan at import
            # scale
            bases, total = [], 0
            for pid in range(max(counts) + 1 if counts else 0):
                bases.append(total)
                total += counts.get(pid, 0)
        if total != 0:
            local_idx = F.monotonically_increasing_id() - F.shiftleft(
                F.spark_partition_id().cast("long"), 33
            )
            seq = (
                F.lit(base)
                + F.element_at(
                    F.array(*[F.lit(b) for b in bases]),
                    F.spark_partition_id() + 1,
                )
                + local_idx
            ).cast("long")
            df = parsed.select(
                F.col("ts"),
                F.col("price"),
                F.col("volume"),
                seq.alias("seq"),
                F.lit(symbol).alias("symbol"),
            )
            write_ticks(df, _table_path(data_dir), mode="append")
        if total is None:
            total = _next_seq(spark, data_dir, symbol) - base
    return [f"Imported {total} ticks for {symbol} from {csv_path}"]


def cmd_benchmark(
    spark: SparkSession, data_dir: str, symbol: str, count: int
) -> list[str]:
    """Generate-insert-query benchmark (S10, `cli.cpp:106-139`): sequential
    1 Hz timestamps from now, price ~ U(100,200), volume ~ U(100,10000)."""
    now = int(time.time())
    with _locked(data_dir):
        # seq must continue from the symbol's current max (same contract as
        # _append), else a benchmark on a pre-populated symbol duplicates seq
        # values and corrupts `last` ordering / (ts, seq) tie-breaking
        base = _next_seq(spark, data_dir, symbol)
        gen = spark.range(count).select(
            (F.lit(now) + F.col("id")).alias("ts"),
            (100.0 + F.rand(7) * 100.0).alias("price"),
            (100 + (F.rand(11) * 9900).cast("long")).alias("volume"),
            (F.lit(base) + F.col("id")).alias("seq"),
            F.lit(symbol).alias("symbol"),
        )
        gen.write.mode("overwrite").format("noop").save()  # exclude generation

        from .sources.writer import write_ticks

        t0 = time.perf_counter()
        write_ticks(gen, _table_path(data_dir), mode="append")
        insert_ms = max(1, int((time.perf_counter() - t0) * 1000))
        out = [
            f"Inserted {count} ticks in {insert_ms}ms "
            f"({count * 1000.0 / insert_ms} ticks/second)"
        ]

        t0 = time.perf_counter()
        n = (
            _load(spark, data_dir, symbol)
            .where((F.col("ts") >= now) & (F.col("ts") <= now + count - 1))
            .count()
        )
        query_ms = max(1, int((time.perf_counter() - t0) * 1000))
    out.append(
        f"Queried {n} ticks in {query_ms}ms ({n * 1000.0 / query_ms} ticks/second)"
    )
    return out


def cmd_maintain(
    spark: SparkSession, data_dir: str, target_files: int | None = None
) -> list[str]:
    """Engine extension (no reference analogue — its files live forever,
    `timeseries_db.cpp:157-168`): compact the tick table to bound file
    count and restore the time-clustered layout that keeps row-group
    stats selective after many small appends.  ``writer.compact_locked``
    does it under the table's exclusive lock, taken before the check for
    an empty table: on the driver for a local table of up to
    ``catalog.LOCAL_READ_MAX_ROWS`` rows (one file per symbol, no Spark
    job) and by Spark's rewrite otherwise, then it swaps the compacted
    copy in by two renames.  The table is read with
    TICK_SCHEMA, as ``_load`` reads it, so no schema-inference job runs
    and the symbol partition stays a string."""
    from .catalog import _parquet_files
    from .sources.writer import compact_locked

    path = _table_path(data_dir)
    with _locked(data_dir):  # finishes a swap a crash interrupted first
        # only files Spark reads count: a crashed append's _temporary/
        # is not data
        if not _parquet_files(path):
            return ["Nothing to maintain: no tick table at " + path]
        audit = compact_locked(spark, path, target_files, schema=TICK_SCHEMA)
    return [
        f"Compacted {audit['rows']} ticks: "
        f"{audit['files_before']} -> {audit['files_after']} files"
    ]


def run(argv: list[str], spark: SparkSession, data_dir: str = "tsdb_data") -> list[str]:
    """Dispatch one CLI invocation; returns output lines (testable core)."""
    if not argv:
        return [HELP]
    cmd, args = argv[0], argv[1:]
    if cmd == "insert" and len(args) == 4:
        return cmd_insert(
            spark, data_dir, args[0], int(args[1]), float(args[2]), int(args[3])
        )
    if cmd == "query" and len(args) == 3:
        return cmd_query(spark, data_dir, args[0], int(args[1]), int(args[2]))
    if cmd == "last" and len(args) == 2:
        return cmd_last(spark, data_dir, args[0], int(args[1]))
    if cmd == "benchmark" and len(args) == 2:
        return cmd_benchmark(spark, data_dir, args[0], int(args[1]))
    if cmd == "import" and len(args) == 2:
        return cmd_import(spark, data_dir, args[0], args[1])
    if cmd == "maintain" and len(args) <= 1:
        return cmd_maintain(
            spark, data_dir, int(args[0]) if args else None
        )
    return [HELP]


def main() -> int:
    from .session import get_spark

    spark = get_spark("tsdb-cli")
    spark.sparkContext.setLogLevel("ERROR")
    lines = run(sys.argv[1:], spark)
    print("\n".join(lines))
    return 0 if lines and lines[0] != HELP else 1


if __name__ == "__main__":
    sys.exit(main())
