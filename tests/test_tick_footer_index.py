"""The tick CLI's footer index: seq and row counts read from parquet
footers instead of Spark jobs, with a Spark fallback for footers that
cannot answer, and the write format, barrier and listing rules that make
the footer answers equal to what Spark reads."""

from __future__ import annotations

import itertools
import os
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from low_latency_time_series_database_tsdb_for_market_data_spark import catalog, cli
from low_latency_time_series_database_tsdb_for_market_data_spark.sources import writer
from low_latency_time_series_database_tsdb_for_market_data_spark.sources.csv_ticks import (
    read_tick_csv,
)


def _seqs(spark, d: str, symbol: str) -> list[int]:
    return sorted(r.seq for r in cli._load(spark, d, symbol).select("seq").collect())


def _parquet(path: Path) -> list[Path]:
    return sorted(path.glob("**/*.parquet"))


def _seq_his(spark, d: str, symbol: str) -> list[int] | None:
    """The footer seq maxima of the symbol's row groups, as the footer
    walk behind ``cli._next_seq`` reads them; None where it declines."""
    from pyspark.sql.pandas.types import to_arrow_schema

    with catalog.footer_groups(spark, cli._table_path(d), to_arrow_schema(cli._DATA_SCHEMA),
                               "seq", partition=("symbol", symbol)) as groups:
        return None if groups is None else [g.hi for g in groups]


def _jobs(spark, fn, group: str, *more_groups: list[str]) -> int:
    """Spark jobs ``fn`` runs, counted by its own job group plus any group
    names ``fn`` appends to ``more_groups`` (a stream's run id)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    groups = [group] + [g for names in more_groups for g in names]
    return sum(len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups)


def test_footer_walk_skips_spark_hidden_paths(spark, tmp_path):
    """A crashed append leaves ``_temporary/`` behind; Spark never reads
    it, so the footer count must not either."""
    d = str(tmp_path / "data")
    for ts in (10, 20, 30):
        cli.run(["insert", "AAPL", str(ts), "1.0", "1"], spark, d)
    table = tmp_path / "data" / "ticks"
    src = _parquet(table)[0]
    stray = table / "_temporary" / "0" / "part-x.parquet"
    stray.parent.mkdir(parents=True)
    shutil.copy(src, stray)
    shutil.copy(src, table / "symbol=AAPL" / ".part-y.parquet")
    want = spark.read.parquet(str(table)).count()
    assert want == 3
    assert catalog.parquet_num_rows(str(table)) == want
    assert catalog.parquet_num_rows(f"file://{table}") == want
    assert max(_seq_his(spark, d, "AAPL")) == 2


def test_footer_probes_decline_what_they_cannot_serve(spark, tmp_path):
    assert catalog.local_path("s3a://bucket/ticks") is None
    assert catalog.parquet_num_rows("s3a://bucket/ticks") is None
    assert catalog.parquet_num_rows(str(tmp_path / "missing")) is None
    bad = tmp_path / "bad" / "part-0.parquet"
    bad.parent.mkdir()
    bad.write_bytes(b"not parquet")
    assert catalog.parquet_num_rows(str(bad.parent)) is None
    # a timestamp column is not a seq, and a missing column has no stats
    f = tmp_path / "t" / "part-0.parquet"
    f.parent.mkdir()
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("us"))}), f)
    for col in ("ts", "seq"):
        with catalog.footer_groups(spark, str(f.parent), pa.schema([(col, pa.int64())]),
                                   col) as groups:
            assert groups is None, col


def test_fingerprint_unstatable_is_distinct(tmp_path, monkeypatch):
    empty = tmp_path / "empty"
    empty.mkdir()
    assert catalog.parquet_fingerprint(str(empty)) == ()
    f = empty / "part-0.parquet"
    pq.write_table(pa.table({"x": [1]}), f)
    assert catalog.parquet_fingerprint(str(empty))[0][0] == "part-0.parquet"
    assert catalog.parquet_fingerprint("s3a://bucket/t") == catalog.UNSTATABLE

    def deny(self, *a, **k):
        raise PermissionError(13, "denied", str(self))

    # a table replaced by rename with its size and mtime kept: only the
    # inode tells, and both the fingerprint and PointServer see it
    from low_latency_time_series_database_tsdb_for_market_data_spark.serving import _identity

    docs = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2]}), docs)
    st = docs.stat()
    before = (catalog.parquet_fingerprint(str(docs)), _identity([docs]))
    shutil.copy(docs, tmp_path / "next.parquet")
    os.replace(tmp_path / "next.parquet", docs)
    os.utime(docs, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert (docs.stat().st_size, docs.stat().st_mtime_ns) == (st.st_size, st.st_mtime_ns)
    after = (catalog.parquet_fingerprint(str(docs)), _identity([docs]))
    assert after[0] != before[0] and after[1] != before[1]
    assert after[0][0][1:] == after[1][docs] == catalog.file_identity(docs)

    monkeypatch.setattr(Path, "stat", deny)
    got = catalog.parquet_fingerprint(str(empty))
    assert got == catalog.UNSTATABLE and got != ()


def test_load_raises_on_unreadable_table(spark, tmp_path, monkeypatch):
    """Only a missing table reads as empty; any other read failure must
    surface instead of printing ``Found 0 results:``."""
    from pyspark.errors import AnalysisException

    d = str(tmp_path / "data")
    assert cli.run(["query", "X", "0", "9"], spark, d) == ["Found 0 results:"]
    cli.run(["insert", "X", "5", "1.0", "1"], spark, d)

    class Broken:
        def schema(self, _):
            return self

        def parquet(self, path):
            raise AnalysisException(message=f"cannot list {path}")

    # the Spark read is the path under test: the driver reader declines
    monkeypatch.setattr(catalog, "local_rows", lambda *a, **k: None)
    monkeypatch.setattr(type(spark), "read", property(lambda self: Broken()))
    with pytest.raises(AnalysisException):
        cli.run(["query", "X", "0", "9"], spark, d)


def _spark_inserts(monkeypatch) -> None:
    """Send ``insert`` to its Spark write, as on a non-local table (and
    ``maintain`` to its Spark compaction)."""
    monkeypatch.setattr(writer, "_spark_footer_metadata", lambda *a: None)


@pytest.mark.parametrize("symbol", ["BRK/B", "A=B", "X%1", "007"])
def test_seq_continuity_for_escaped_symbols(spark, tmp_path, symbol):
    """Spark escapes these symbols' partition directory names; seq must
    still continue from the stored max through every writer, the
    driver-side insert among them."""
    _seq_continuity(spark, tmp_path, symbol)


@pytest.mark.parametrize("symbol", ["BRK/B", "A=B", "X%1", "007"])
def test_seq_continuity_with_spark_inserts(spark, tmp_path, monkeypatch, symbol):
    _spark_inserts(monkeypatch)
    _seq_continuity(spark, tmp_path, symbol)


def _seq_continuity(spark, tmp_path, symbol: str) -> None:
    d = str(tmp_path / "data")
    csv = tmp_path / "ticks.csv"
    csv.write_text("timestamp,price,volume\n100,1.5,10\n101,2.5,20\nbad,row\n102,3.5,30\n")
    cli.run(["insert", symbol, "50", "1.0", "1"], spark, d)
    assert cli.run(["import", symbol, str(csv)], spark, d)[0].startswith(
        f"Imported 3 ticks for {symbol}"
    )
    cli.run(["insert", symbol, "99", "1.0", "1"], spark, d)
    assert _seqs(spark, d, symbol) == list(range(5))
    assert cli.run(["maintain"], spark, d)[0].startswith("Compacted 5 ticks:")
    assert cli._next_seq(spark, d, symbol) == 5
    cli.run(["benchmark", symbol, "4"], spark, d)
    assert _seqs(spark, d, symbol) == list(range(9))
    q = cli.run(["query", symbol, "50", "102"], spark, d)
    assert q[0] == "Found 5 results:"
    assert q[1] == "Timestamp: 50 Price: 1.00 Volume: 1"
    cli.run(["insert", symbol, "300", "1.0", "1"], spark, d)
    assert _seqs(spark, d, symbol) == list(range(10))
    assert cli.run(["last", symbol, "1"], spark, d)[1] == "Timestamp: 300 Price: 1.00 Volume: 1"


def test_next_seq_falls_back_without_seq_stats(spark, tmp_path, monkeypatch):
    """A file written without statistics leaves the footers unable to
    answer; the Spark max(seq) probe must, and its answer must count the
    stats-less file's rows."""
    d = str(tmp_path / "data")
    for ts in (1, 2, 3):
        cli.run(["insert", "S", str(ts), "1.0", "1"], spark, d)
    part = cli._symbol_dir(spark, d, "S")
    assert cli._next_seq(spark, d, "S") == 3
    planted = pa.table(
        {"ts": [4, 5], "price": [1.0, 2.0], "volume": [1, 1], "seq": [7, 9]},
        schema=pa.schema(
            [("ts", pa.int64()), ("price", pa.float64()), ("volume", pa.int64()),
             ("seq", pa.int64())]
        ),
    )
    pq.write_table(planted, f"{part}/part-nostats.parquet", write_statistics=False)
    assert _seq_his(spark, d, "S") is None

    calls = []
    real = cli._probe_max_seq

    def spy(*a):
        calls.append(a)
        return real(*a)

    monkeypatch.setattr(cli, "_probe_max_seq", spy)
    assert cli._next_seq(spark, d, "S") == 10
    assert len(calls) == 1
    # a new symbol in the same table needs neither footers nor Spark
    assert cli._next_seq(spark, d, "NEW") == 0
    assert len(calls) == 1


def test_insert_writes_the_list_of_rows_schema(spark, tmp_path):
    """Arrow-built insert rows write the same parquet schema, metadata
    included, as a createDataFrame(list of Rows) write."""
    d = tmp_path / "data"
    cli.run(["insert", "AAPL", "1000", "10.5", "7"], spark, str(d))
    ref = tmp_path / "ref"
    rows = [Row(ts=1000, price=10.5, volume=7, seq=0, symbol="AAPL")]
    writer.write_ticks(spark.createDataFrame(rows, cli.TICK_SCHEMA), str(ref))
    got, want = (pq.read_schema(_parquet(p)[0]) for p in (d / "ticks", ref))
    assert got.equals(want, check_metadata=True)
    assert got.metadata[b"org.apache.spark.sql.parquet.row.metadata"]
    assert all(not f.nullable for f in got)
    assert pq.read_table(_parquet(d / "ticks")[0]).to_pylist() == [
        {"ts": 1000, "price": 10.5, "volume": 7, "seq": 0}
    ]


def test_interrupted_insert_is_invisible(spark, tmp_path, monkeypatch):
    """A driver insert killed mid-write leaves only its hidden
    ``.part-….parquet`` temp file (complete or torn): Spark's read, the
    seq counter, ``query``, ``last``, ``maintain``'s file counts and the
    footer listing all skip it.  An insert that fails before its rename
    removes the temp file."""
    d = str(tmp_path / "data")
    for ts in (10, 20):
        cli.run(["insert", "S", str(ts), "1.0", "1"], spark, d)
    part = Path(cli._symbol_dir(spark, d, "S"))
    visible = _parquet(part)
    pq.write_table(pa.table({"ts": [15], "price": [9.0], "volume": [9], "seq": [99]}),
                   part / ".part-00000-killed.c000.snappy.parquet")
    torn = visible[0].read_bytes()
    (part / ".part-00000-torn.c000.snappy.parquet").write_bytes(torn[: len(torn) // 2])
    assert len(_parquet(part)) == 4
    assert spark.read.parquet(str(tmp_path / "data" / "ticks")).count() == 2
    assert catalog._parquet_files(str(tmp_path / "data" / "ticks")) == visible
    assert cli._next_seq(spark, d, "S") == 2
    lines = ["Timestamp: 10 Price: 1.00 Volume: 1", "Timestamp: 20 Price: 1.00 Volume: 1"]
    assert cli.run(["query", "S", "0", "99"], spark, d) == ["Found 2 results:"] + lines
    assert cli.run(["last", "S", "5"], spark, d) == ["Last 2 ticks for S:"] + lines

    def fail(*a):
        raise OSError("disk full")

    monkeypatch.setattr(writer.os, "replace", fail)
    with pytest.raises(OSError, match="disk full"):
        cli.run(["insert", "S", "30", "1.0", "1"], spark, d)
    monkeypatch.undo()
    assert sorted(p.name for p in part.iterdir() if p.name.startswith(".part")) == [
        ".part-00000-killed.c000.snappy.parquet", ".part-00000-torn.c000.snappy.parquet"]
    assert cli.run(["maintain"], spark, d) == ["Compacted 2 ticks: 2 -> 1 files"]
    assert cli.run(["insert", "S", "30", "1.0", "1"], spark, d) == ["Inserted tick for S"]
    assert cli.run(["last", "S", "1"], spark, d)[1:] == ["Timestamp: 30 Price: 1.00 Volume: 1"]
    assert cli._next_seq(spark, d, "S") == 3


def test_driver_inserts_read_like_spark_inserts(spark, tmp_path, monkeypatch):
    """The same inserts written on the driver and by Spark's writer
    print the same lines, whether read on the driver or through Spark,
    for every escaped symbol, with duplicate ts; the driver's files
    are the Spark files' twins, footer signature included."""
    ticks = [(110, "9.5", 5), (100, "1.25", 1), (110, "2.75", 3), (125, "2.0", 2)]
    dirs = {"driver": str(tmp_path / "driver"), "spark": str(tmp_path / "spark")}
    for how, d in dirs.items():
        with monkeypatch.context() as m:
            if how == "spark":
                _spark_inserts(m)
            for sym in _SYMBOLS:
                for ts, price, vol in ticks:
                    cli.run(["insert", sym, str(ts), price, str(vol)], spark, d)
    for sym in _SYMBOLS:
        files = {how: _parquet(Path(cli._symbol_dir(spark, d, sym))) for how, d in dirs.items()}
        assert len(files["driver"]) == len(files["spark"]) == len(ticks)
        sig = {how: {catalog._footer_signature(pq.read_metadata(f)) for f in fs}
               for how, fs in files.items()}
        assert sig["driver"] == sig["spark"] and len(sig["driver"]) == 1
        for argv in (["query", sym, "100", "110"], ["query", sym, "0", "99"],
                     ["last", sym, "3"], ["last", sym, "9"]):
            lines = {how: _both(spark, monkeypatch, argv, d) for how, d in dirs.items()}
            got, jobs, want = lines["driver"]
            assert (got, jobs) == (want, 0) and lines["spark"] == lines["driver"], argv
        assert cli.run(["last", sym, "2"], spark, dirs["driver"])[1:] == [
            "Timestamp: 110 Price: 2.75 Volume: 3", "Timestamp: 125 Price: 2.00 Volume: 2"]


def test_compact_barrier_raises_on_short_stage(spark, tmp_path, monkeypatch):
    """A stage one row short fails the barrier, leaves the live table
    as it was and deletes the stage, on the Spark path (``write_ticks``
    drops the row) and on the driver path (``_write_part`` drops it)."""
    d = str(tmp_path / "data")
    for ts in (1, 2, 3, 4):
        cli.run(["insert", "AAPL", str(ts), "1.0", "1"], spark, d)
    table = tmp_path / "data" / "ticks"
    before = cli.run(["query", "AAPL", "0", "9"], spark, d)
    files = _parquet(table)
    real_write, real_part = writer.write_ticks, writer._write_part

    def drop_one(df, path, **kw):
        return real_write(df.where("seq != 0"), path, **kw)

    def drop_one_on_driver(part_dir, tbl, metadata):
        return real_part(part_dir, tbl.slice(1), metadata)

    for name, fn, schema in (("write_ticks", drop_one, None),
                             ("_write_part", drop_one_on_driver, cli.TICK_SCHEMA)):
        with monkeypatch.context() as m:
            m.setattr(writer, name, fn)
            with pytest.raises(RuntimeError, match="compact stage incomplete: 3 != 4"):
                writer.compact_ticks(spark, str(table), schema=schema)
        assert _parquet(table) == files
        assert not (tmp_path / "data" / "ticks__compact_stage").exists()
        assert cli.run(["query", "AAPL", "0", "9"], spark, d) == before


def _plant_leftover(table: Path, src: Path) -> None:
    """What a crashed append leaves: a part file under ``_temporary/``."""
    stray = table / "_temporary" / "0" / "part-x.parquet"
    stray.parent.mkdir(parents=True)
    shutil.copy(src, stray)


def test_maintain_counts_only_files_spark_reads(spark, tmp_path):
    d = str(tmp_path / "data")
    for ts in (1, 2):
        cli.run(["insert", "AAPL", str(ts), "1.0", "1"], spark, d)
    table = tmp_path / "data" / "ticks"
    _plant_leftover(table, _parquet(table)[0])
    assert cli.run(["maintain"], spark, d) == ["Compacted 2 ticks: 2 -> 1 files"]


def test_maintain_on_leftovers_only(spark, tmp_path):
    d = str(tmp_path / "data")
    cli.run(["insert", "AAPL", "1", "1.0", "1"], spark, d)
    table = tmp_path / "data" / "ticks"
    _plant_leftover(table, _parquet(table)[0])
    shutil.rmtree(table / "symbol=AAPL")
    assert cli.run(["maintain"], spark, d) == [f"Nothing to maintain: no tick table at {table}"]


def test_maintain_keeps_numeric_looking_symbols(spark, tmp_path):
    """maintain reads the table with TICK_SCHEMA: ``symbol=007`` stays a
    string partition, not the int 7 that directory inference makes it."""
    d = str(tmp_path / "data")
    for ts in (1, 2):
        cli.run(["insert", "007", str(ts), "1.0", "1"], spark, d)
    cli.run(["maintain"], spark, d)
    assert [p.name for p in (tmp_path / "data" / "ticks").glob("symbol=*")] == ["symbol=007"]
    assert cli.run(["last", "007", "5"], spark, d)[0] == "Last 2 ticks for 007:"
    assert cli._next_seq(spark, d, "007") == 2


def _csv(path: Path, lines: list[str]) -> str:
    path.write_text("timestamp,price,volume\n" + "".join(f"{x}\n" for x in lines))
    return str(path)


def test_import_one_split_and_multi_split(spark, tmp_path, monkeypatch):
    """A one-split CSV imports with the write as its only job and takes
    its count from the footers; a multi-split CSV keeps the per-split
    count job.  Both assign seq densely in file-line order."""
    d = str(tmp_path / "data")
    cli.run(["insert", "S", "1", "1.0", "1"], spark, d)
    lines = [f"{1000 + i},{i}.5,{i + 1}" if i % 7 else "bad,row" for i in range(60)]
    good = [int(x.split(",")[0]) for x in lines if not x.startswith("bad")]
    calls = []
    real = cli._split_counts
    monkeypatch.setattr(cli, "_split_counts", lambda df: calls.append(1) or real(df))

    one = _csv(tmp_path / "one.csv", lines)
    assert cli.run(["import", "S", one], spark, d) == [f"Imported {len(good)} ticks for S from {one}"]
    assert calls == []

    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "256")
    try:
        many = _csv(tmp_path / "many.csv", lines)
        assert read_tick_csv(spark, many).rdd.getNumPartitions() > 1
        jobs = _jobs(spark, lambda: cli.run(["import", "S", many], spark, d),
                     f"{tmp_path.name}-multi")
    finally:
        spark.conf.set(key, saved)
    assert calls == [1] and jobs > 1
    rows = sorted(cli._load(spark, d, "S").collect(), key=lambda r: r.seq)
    assert [r.seq for r in rows] == list(range(1 + 2 * len(good)))
    assert [r.ts for r in rows] == [1] + good + good
    assert cli._next_seq(spark, d, "S") == 1 + 2 * len(good)


def test_import_of_all_malformed_csv(spark, tmp_path):
    d = str(tmp_path / "data")
    # "3" parses its first token: the short row must drop, not raise
    bad = _csv(tmp_path / "bad.csv", ["bad,row", "1,x,2", "3", "4,5"])
    assert cli.run(["import", "X", bad], spark, d) == [f"Imported 0 ticks for X from {bad}"]
    assert cli.run(["query", "X", "0", "9"], spark, d) == ["Found 0 results:"]
    assert cli.run(["last", "X", "3"], spark, d) == ["Last 0 ticks for X:"]
    assert cli.run(["maintain"], spark, d) == [f"Nothing to maintain: no tick table at {d}/ticks"]
    cli.run(["insert", "X", "5", "1.0", "1"], spark, d)
    assert cli.run(["import", "X", bad], spark, d) == [f"Imported 0 ticks for X from {bad}"]
    assert cli._next_seq(spark, d, "X") == 1


def test_cli_jobs_per_operation(spark, tmp_path, monkeypatch):
    """The footer index and the schema memo leave one Spark job per
    one-split import and stream drain.  ``insert`` and ``maintain`` write
    their files on the driver, and ``query`` and ``last`` read there:
    none of them runs a job, and the table lock they take adds none.  A
    maintain over the driver-read cap runs Spark's compaction and prints
    the same line.  Nor does a PointServer
    ``open()`` of a local slice under the driver-read cap, a
    ``refresh()`` after files were only added (a delta refresh), or a
    probe inside its indexed slice or outside it.  A query over the
    driver-read cap runs its one Spark job; a refresh after a file was
    rewritten in place, or after files were compacted, rebuilds the
    index in full."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from low_latency_time_series_database_tsdb_for_market_data_spark.serving import PointServer
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        ingest_available_now,
    )
    from tests.test_catalog_adaptive import _write_events

    d = str(tmp_path / "data")
    csv = _csv(tmp_path / "t.csv", ["7,1.5,10", "8,2.5,20"])
    cli.run(["insert", "AAPL", "5", "1.0", "1"], spark, d)
    cli.run(["maintain"], spark, d)
    jobs = {
        argv[0]: _jobs(spark, lambda: cli.run(argv, spark, d), f"{tmp_path.name}-{argv[0]}")
        for argv in (["insert", "AAPL", "3", "1.0", "1"], ["query", "AAPL", "0", "9"],
                     ["last", "AAPL", "2"], ["import", "AAPL", csv], ["maintain"])
    }
    cli.run(["insert", "AAPL", "4", "1.0", "1"], spark, d)
    with monkeypatch.context() as m:
        m.setattr(catalog, "LOCAL_READ_MAX_ROWS", 1)
        jobs["query_over_cap"] = _jobs(spark, lambda: cli.run(["query", "AAPL", "0", "9"], spark, d),
                                       f"{tmp_path.name}-query-over-cap")
        out = []
        jobs["maintain_over_cap"] = _jobs(spark, lambda: out.extend(cli.run(["maintain"], spark, d)),
                                          f"{tmp_path.name}-maintain-over-cap")
    assert out == ["Compacted 5 ticks: 2 -> 1 files"]

    # a stream's batches run under its run id's job group
    run_ids: list[str] = []
    start = DataStreamWriter.start

    def tracked_start(self, *a, **k):
        q = start(self, *a, **k)
        run_ids.append(str(q.runId))
        return q

    monkeypatch.setattr(DataStreamWriter, "start", tracked_start)
    feed = tmp_path / "feed" / "events.parquet"
    feed.mkdir(parents=True)
    shutil.move(_write_events(str(tmp_path), "us"), feed / "part-0.parquet")
    drain = [str(feed), str(tmp_path / "dest"), str(tmp_path / "ckpt")]
    ingest_available_now(spark, *drain)
    shutil.copy(feed / "part-0.parquet", feed / "part-1.parquet")
    run_ids.clear()
    jobs["drain"] = _jobs(spark, lambda: ingest_available_now(spark, *drain),
                          f"{tmp_path.name}-drain", run_ids)

    srv = PointServer(spark, str(feed.parent))
    jobs["open"] = _jobs(spark, srv.open, f"{tmp_path.name}-open")
    shutil.copy(feed / "part-0.parquet", feed / "part-2.parquet")
    late = None
    try:
        jobs["refresh"] = _jobs(spark, srv.refresh, f"{tmp_path.name}-refresh")
        assert (srv.stats()["delta_refreshes"], srv.stats()["full_refreshes"]) == (1, 0)
        late = PointServer(spark, str(feed.parent), lo_ns=2**62)  # probes fall outside
        late.open()
        rows: list = []
        jobs["probe"] = _jobs(spark, lambda: rows.extend(srv.range(0, 2**62).collect()),
                              f"{tmp_path.name}-probe")
        jobs["out_of_slice_probe"] = _jobs(
            spark, lambda: rows.extend(late.range(0, 2**61).collect()),
            f"{tmp_path.name}-out-of-slice-probe")
        assert len(rows) == 24 and late.stats()["local_reads"] == 1
        # rewritten in place, then compacted into one file: full rebuilds
        shutil.copy(feed / "part-0.parquet", feed / "part-1.parquet")
        srv.refresh()
        merged = pa.concat_tables([pq.read_table(f) for f in sorted(feed.glob("*.parquet"))])
        for f in feed.glob("*.parquet"):
            f.unlink()
        pq.write_table(merged, feed / "part-c.parquet")
        srv.refresh()
        assert (srv.stats()["delta_refreshes"], srv.stats()["full_refreshes"]) == (1, 2)
        assert srv.stats()["indexed_rows"] == 12
    finally:
        srv.close()
        if late is not None:
            late.close()
    want = {"insert": 0, "query": 0, "last": 0, "query_over_cap": 1, "import": 1,
            "maintain": 0, "drain": 1, "open": 0, "refresh": 0, "probe": 0,
            "out_of_slice_probe": 0}
    assert {k: jobs[k] for k in want} == want and 0 < jobs["maintain_over_cap"] <= 3, jobs


# -- driver-side reads: ``query`` and ``last`` answered from the footer-pruned
# row groups of the symbol's partition, equal to the Spark read's lines

_GROUPS = itertools.count()
_SYMBOLS = ["BRK/B", "A=B", "X%1", "007"]


def _both(spark, monkeypatch, argv: list[str], d: str):
    """``argv``'s lines on the default path with the Spark jobs it ran,
    and its lines with the Spark read forced (the driver reader
    declines)."""
    got: list[str] = []
    jobs = _jobs(spark, lambda: got.extend(cli.run(argv, spark, d)), f"both-{next(_GROUPS)}")
    with monkeypatch.context() as m:
        m.setattr(catalog, "local_rows", lambda *a, **k: None)
        want = cli.run(argv, spark, d)
    return got, jobs, want


def _outcome(fn):
    """``fn()``'s lines, or the name of the exception it raised."""
    try:
        return fn()
    except Exception as e:  # compared between the two paths by the caller
        return type(e).__name__


def _local(spark, d: str, symbol: str, **select):
    col = "ts" if "window" in select else "seq"
    return cli._local_slice(spark, d, symbol, col, **select)


@pytest.fixture(scope="module")
def tick_table(spark, tmp_path_factory):
    """Every escaped symbol in one table: an insert, an import whose ts
    come in pairs, then two inserts (one repeating a ts); plus what a
    crashed append leaves (``_temporary/``, a hidden ``.part`` file)."""
    base = tmp_path_factory.mktemp("driver_reads")
    d = str(base / "data")
    csv = _csv(base / "t.csv", [f"{100 + i // 2},{i}.25,{i + 1}" for i in range(40)] + ["bad,row"])
    for sym in _SYMBOLS:
        cli.run(["insert", sym, "110", "9.5", "5"], spark, d)
        cli.run(["import", sym, csv], spark, d)
        cli.run(["insert", sym, "100", "1.0", "1"], spark, d)
        cli.run(["insert", sym, "125", "2.0", "2"], spark, d)
    table = base / "data" / "ticks"
    src = _parquet(table)[0]
    _plant_leftover(table, src)
    for part in table.glob("symbol=*"):
        shutil.copy(src, part / ".part-y.parquet")
    return d


@pytest.mark.parametrize("symbol", _SYMBOLS)
def test_driver_query_and_last_match_spark(spark, tick_table, symbol, monkeypatch):
    """Duplicate ts, both inclusive ends, an inverted and an empty
    window, the int64 extremes, ``last 0`` and n past the row count, in
    a partition of insert files (required columns) and an import file
    (optional ones): the driver path prints the Spark path's lines and
    runs no job.  A negative n still raises, as Spark does."""
    from pyspark.errors import AnalysisException

    part = Path(cli._symbol_dir(spark, tick_table, symbol))
    assert {pq.read_schema(f).field("ts").nullable for f in _parquet(part)} == {False, True}
    cases = [["query", symbol, lo, hi] for lo, hi in [
        ("100", "110"), ("110", "100"), ("100", "100"), ("119", "125"), ("126", "200"),
        (str(-(2**63)), str(2**63 - 1))]]
    cases += [["last", symbol, n] for n in ("0", "1", "3", "42", "43", "1000")]
    for argv in cases:
        got, jobs, want = _both(spark, monkeypatch, argv, tick_table)
        assert (got, jobs) == (want, 0), argv
    got, _, _ = _both(spark, monkeypatch, ["query", symbol, "100", "110"], tick_table)
    assert got[:3] == ["Found 24 results:", "Timestamp: 100 Price: 0.25 Volume: 1",
                       "Timestamp: 100 Price: 1.25 Volume: 2"]
    assert got[-1] == "Timestamp: 110 Price: 21.25 Volume: 22"
    got, _, _ = _both(spark, monkeypatch, ["last", symbol, "3"], tick_table)
    assert got == [f"Last 3 ticks for {symbol}:", "Timestamp: 119 Price: 39.25 Volume: 40",
                   "Timestamp: 100 Price: 1.00 Volume: 1", "Timestamp: 125 Price: 2.00 Volume: 2"]
    assert _local(spark, tick_table, symbol, top=-1) is None
    with pytest.raises(AnalysisException, match="INVALID_LIMIT_LIKE_EXPRESSION"):
        cli.run(["last", symbol, "-1"], spark, tick_table)


def test_corrupt_footer_raises_on_the_driver_path(spark, tmp_path):
    """A file whose footer cannot be read sends the read to Spark, which
    fails on it: a table that cannot be read never prints as empty."""
    d = str(tmp_path / "data")
    cli.run(["insert", "S", "5", "1.0", "1"], spark, d)
    cli.run(["insert", "T", "5", "1.0", "1"], spark, d)
    (tmp_path / "data" / "ticks" / "symbol=S" / "part-bad.parquet").write_bytes(b"PAR1 not parquet")
    assert _local(spark, d, "S", window=(0, 9)) is None
    assert _local(spark, d, "S", top=1) is None
    for argv in (["query", "S", "0", "9"], ["last", "S", "1"]):
        assert _outcome(lambda: cli.run(argv, spark, d)) in ("SparkException", "Py4JJavaError")
    # another symbol's partition is neither read by Spark nor by the driver
    assert cli.run(["query", "T", "0", "9"], spark, d) == [
        "Found 1 results:", "Timestamp: 5 Price: 1.00 Volume: 1"]


def _plant(path: Path, **cols) -> None:
    """Write a tick data file straight with pyarrow (columns by keyword,
    default int64 ts/volume/seq and double price)."""
    data = {"ts": [40], "price": [4.0], "volume": [4], "seq": [9], **cols}
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(data), path, write_statistics=path.suffix != ".nostats")


def test_driver_reads_over_overlapping_row_groups(spark, tmp_path, monkeypatch):
    """Row groups whose ts and seq ranges interleave, as compaction's
    ts-sorted rewrite leaves them: ``last`` must also read every row
    group whose max seq reaches the n-th largest seq read first, and a
    window keeps only its rows from each surviving group."""
    d = str(tmp_path / "data")
    part = tmp_path / "data" / "ticks" / "symbol=S"
    part.mkdir(parents=True)
    for name, ts, seq in (("a", [1, 4, 9], [0, 5, 9]), ("b", [2, 3, 5, 6], [6, 7, 8, 1])):
        n = len(ts)
        pq.write_table(pa.table({"ts": ts, "price": [0.5] * n, "volume": seq, "seq": seq}),
                       part / f"part-{name}.parquet", row_group_size=2)
    for argv in ([["last", "S", str(n)] for n in range(8)]
                 + [["query", "S", lo, hi] for lo, hi in (("0", "9"), ("2", "4"), ("5", "5"))]):
        got, jobs, want = _both(spark, monkeypatch, argv, d)
        assert (got, jobs) == (want, 0), argv
    assert _local(spark, d, "S", top=3).column("seq").to_pylist() == [7, 8, 9]


def test_driver_reads_fall_back_where_they_cannot_be_exact(spark, tmp_path, monkeypatch):
    """Each fallback trigger alone sends ``query``/``last`` to Spark (or
    raises where Spark raises), and the lines are the Spark read's."""
    d = str(tmp_path / "data")
    for ts in (10, 20, 30):
        cli.run(["insert", "S", str(ts), "1.0", "1"], spark, d)
    part = tmp_path / "data" / "ticks" / "symbol=S"
    assert _local(spark, d, "S", window=(0, 99)).num_rows == 3
    assert _local(spark, d, "S", top=2).column("seq").to_pylist() == [1, 2]
    schema = pa.schema([("ts", pa.int64())])
    assert catalog.local_rows(spark, "s3a://b/ticks", schema, "ts", window=(0, 9)) is None
    assert _local(spark, d, "S", window=(0, 2**63)) is None
    assert _local(spark, d, "NEW", window=(0, 99)).num_rows == 0
    assert catalog.local_rows(spark, str(tmp_path / "missing"), schema, "ts", window=(0, 9)) is None

    monkeypatch.setattr(catalog, "LOCAL_READ_MAX_ROWS", 2)
    assert _local(spark, d, "S", window=(0, 99)) is None
    assert _local(spark, d, "S", window=(15, 25)).num_rows == 1
    assert _local(spark, d, "S", top=1).num_rows == 1  # reads 1 + the ties at its seq
    assert _local(spark, d, "S", top=3) is None
    monkeypatch.undo()

    plants = {
        "no stats": part / "part-p.parquet.nostats",
        "float price": part / "part-p.parquet",
        "suffix": part / "part-p.snappy.pq",
        "nested dir": part / "x=1" / "part-p.parquet",
        "root file": part.parent / "part-p.parquet",
    }
    for why, path in plants.items():
        if why == "no stats":
            _plant(path)
            path = path.rename(path.with_suffix(""))
        else:
            _plant(path, **({"price": pa.array([4.0], pa.float32())} if why == "float price" else {}))
        assert _local(spark, d, "S", window=(0, 99)) is None, why
        assert _seq_his(spark, d, "S") is None, why
        # the next seq agrees with Spark's max(seq) + 1, or raises as it does
        assert _outcome(lambda: cli._next_seq(spark, d, "S")) == _outcome(
            lambda: cli._probe_max_seq(spark, d, "S") + 1), why
        for argv in (["query", "S", "0", "99"], ["last", "S", "2"]):
            got = _outcome(lambda: cli.run(argv, spark, d))
            with monkeypatch.context() as m:
                m.setattr(catalog, "local_rows", lambda *a, **k: None)
                assert got == _outcome(lambda: cli.run(argv, spark, d)), (why, argv)
        if why in ("no stats", "suffix"):
            assert got[-1] == "Timestamp: 40 Price: 4.00 Volume: 4", why  # seq 9 is last
        path.unlink()
    assert _local(spark, d, "S", window=(0, 99)).num_rows == 3


def test_footer_probes_agree_with_spark_on_any_suffix(spark, tmp_path, monkeypatch):
    """Spark reads every non-hidden file whatever its suffix; the footer
    probes, which read only ``*.parquet`` footers, must decline such a
    listing, and the fingerprint must see the file."""
    from tests.test_catalog_adaptive import _write_events

    d = str(tmp_path / "data")
    for ts in (10, 20, 30):
        cli.run(["insert", "AAPL", str(ts), "1.0", "1"], spark, d)
    table = tmp_path / "data" / "ticks"
    part = table / "symbol=AAPL"
    assert catalog.parquet_num_rows(str(table)) == 3
    assert max(_seq_his(spark, d, "AAPL")) == 2
    _plant(part / "part-extra.snappy.pq")
    assert spark.read.parquet(str(table)).count() == 4
    assert catalog.parquet_num_rows(str(table)) is None
    assert _seq_his(spark, d, "AAPL") is None
    assert cli._next_seq(spark, d, "AAPL") == 10  # Spark's max(seq) 9, plus one
    assert "part-extra.snappy.pq" in [name for name, *_ in catalog.parquet_fingerprint(str(table))]
    for argv in (["query", "AAPL", "0", "99"], ["last", "AAPL", "1"]):
        got, jobs, want = _both(spark, monkeypatch, argv, d)
        assert got == want and got[-1] == "Timestamp: 40 Price: 4.00 Volume: 4"

    ev = tmp_path / "ev" / "events.parquet"
    ev.mkdir(parents=True)
    shutil.move(_write_events(str(tmp_path / "ev"), "us"), ev / "part-0.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    lo, hi = catalog.events_raw(spark, str(ev.parent)).agg(F.min(us), F.max(us)).collect()[0]
    assert catalog.ts_bounds_epoch_ns(spark, str(ev)) == (lo * 1000, hi * 1000)
    shutil.copy(ev / "part-0.parquet", ev / "part-1.pq")
    assert catalog.ts_bounds_epoch_ns(spark, str(ev)) is None
