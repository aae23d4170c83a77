"""The tick CLI's footer index: seq and row counts read from parquet
footers instead of Spark jobs, with a Spark fallback for footers that
cannot answer, and the write format, barrier and listing rules that make
the footer answers equal to what Spark reads."""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row

from low_latency_time_series_database_tsdb_for_market_data_spark import catalog, cli
from low_latency_time_series_database_tsdb_for_market_data_spark.sources import writer


def _seqs(spark, d: str, symbol: str) -> list[int]:
    return sorted(r.seq for r in cli._load(spark, d, symbol).select("seq").collect())


def _parquet(path: Path) -> list[Path]:
    return sorted(path.glob("**/*.parquet"))


def _jobs(spark, fn, group: str) -> int:
    """Spark jobs ``fn`` runs, counted by its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


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
    assert catalog.parquet_int_max(str(table / "symbol=AAPL"), "seq") == 2


def test_footer_probes_decline_what_they_cannot_serve(tmp_path):
    assert catalog.local_path("s3a://bucket/ticks") is None
    assert catalog.parquet_num_rows("s3a://bucket/ticks") is None
    assert catalog.parquet_num_rows(str(tmp_path / "missing")) is None
    bad = tmp_path / "bad" / "part-0.parquet"
    bad.parent.mkdir()
    bad.write_bytes(b"not parquet")
    assert catalog.parquet_num_rows(str(bad.parent)) is None
    # a timestamp column's stats are datetimes, not a seq
    f = tmp_path / "t" / "part-0.parquet"
    f.parent.mkdir()
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("us"))}), f)
    assert catalog.parquet_int_max(str(f.parent), "ts") is None
    assert catalog.parquet_int_max(str(f.parent), "seq") is None


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

    monkeypatch.setattr(type(spark), "read", property(lambda self: Broken()))
    with pytest.raises(AnalysisException):
        cli.run(["query", "X", "0", "9"], spark, d)


@pytest.mark.parametrize("symbol", ["BRK/B", "A=B", "X%1"])
def test_seq_continuity_for_escaped_symbols(spark, tmp_path, symbol):
    """Spark escapes these symbols' partition directory names; seq must
    still continue from the stored max through every writer."""
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
    assert catalog.parquet_int_max(part, "seq") is None

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


def test_compact_barrier_raises_on_short_stage(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "data")
    for ts in (1, 2, 3, 4):
        cli.run(["insert", "AAPL", str(ts), "1.0", "1"], spark, d)
    table = tmp_path / "data" / "ticks"
    before = cli.run(["query", "AAPL", "0", "9"], spark, d)
    files = _parquet(table)
    real = writer.write_ticks

    def drop_one(df, path, **kw):
        return real(df.where("seq != 0"), path, **kw)

    monkeypatch.setattr(writer, "write_ticks", drop_one)
    with pytest.raises(RuntimeError, match="compact stage incomplete: 3 != 4"):
        writer.compact_ticks(spark, str(table))
    assert _parquet(table) == files
    assert cli.run(["query", "AAPL", "0", "9"], spark, d) == before


def test_cli_jobs_per_operation(spark, tmp_path):
    """The footer index leaves one Spark job per insert and per query,
    and at most four per maintain."""
    d = str(tmp_path / "data")
    cli.run(["insert", "AAPL", "5", "1.0", "1"], spark, d)
    jobs = {
        argv[0]: _jobs(spark, lambda: cli.run(argv, spark, d), f"{tmp_path.name}-{argv[0]}")
        for argv in (["insert", "AAPL", "3", "1.0", "1"], ["query", "AAPL", "0", "9"],
                     ["maintain"])
    }
    assert jobs["insert"] == 1 and jobs["query"] == 1 and jobs["maintain"] <= 4, jobs
