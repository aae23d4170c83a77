"""One writer per tick table: the advisory table lock the CLI, ``maintain``
and retention take, and the driver-side compaction that runs under it —
no acknowledged write lost to a compaction, no seq read twice, no read
of a half-swapped table, and a driver compaction equal to Spark's."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from low_latency_time_series_database_tsdb_for_market_data_spark import catalog, cli
from low_latency_time_series_database_tsdb_for_market_data_spark.sources import writer
from tests.test_tick_footer_index import _jobs

REPO = Path(__file__).resolve().parents[1]


def _parquet(path: Path) -> list[Path]:
    return sorted(path.glob("**/*.parquet"))


def _insert(spark, d: str, sym: str, ts: int, price: str = "1.0", vol: int = 1) -> None:
    assert cli.run(["insert", sym, str(ts), price, str(vol)], spark, d) == [
        f"Inserted tick for {sym}"]


def test_insert_during_maintain_is_not_lost(spark, tmp_path, monkeypatch):
    """An insert that starts once ``maintain`` has counted the live table
    waits for the swap and lands in the compacted table; without the
    lock it landed in the old copy and was deleted with it."""
    d = str(tmp_path / "data")
    for ts in (1, 2, 3):
        _insert(spark, d, "AAPL", ts)
    real = writer._row_count
    late: list[threading.Thread] = []
    out: list = []

    def counted(spark_, path, *listing):
        n = real(spark_, path, *listing)
        if not late:
            late.append(threading.Thread(
                target=lambda: out.append(cli.run(["insert", "AAPL", "4", "1.0", "1"], spark, d))))
            late[0].start()
            late[0].join(1.0)  # an unlocked insert is done by now
        return n

    monkeypatch.setattr(writer, "_row_count", counted)
    assert cli.run(["maintain"], spark, d) == ["Compacted 3 ticks: 3 -> 1 files"]
    late[0].join(60)
    assert out == [["Inserted tick for AAPL"]]
    assert cli.run(["query", "AAPL", "0", "9"], spark, d)[0] == "Found 4 results:"
    assert cli._next_seq(spark, d, "AAPL") == 4


_CHILD = r"""
import os, sys, time
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from low_latency_time_series_database_tsdb_for_market_data_spark import cli
from low_latency_time_series_database_tsdb_for_market_data_spark.sources import writer

spark = (SparkSession.builder.master("local[1]").appName("tsdb-lock-child")
         .config("spark.driver.memory", "512m").config("spark.ui.enabled", "false")
         .getOrCreate())
d, go, n = sys.argv[2], sys.argv[3], int(sys.argv[4])
# warm the JVM calls an insert makes before the start signal
cli._symbol_dir(spark, d, "S")
writer._spark_footer_metadata(spark, cli._DATA_SCHEMA)
open(f"{go}.{os.getpid()}", "w").close()
while not os.path.exists(go):
    time.sleep(0.001)
for i in range(n):
    cli.run(["insert", "S", str(i), "1.0", "1"], spark, d)
spark.stop()
"""


def test_two_processes_insert_distinct_dense_seqs(spark, tmp_path):
    """Two processes inserting into one symbol at once: every seq is
    distinct and the seqs are dense, as from one writer."""
    d, go, n = tmp_path / "data", tmp_path / "go", 10
    procs = [subprocess.Popen([sys.executable, "-c", _CHILD, str(REPO), str(d), str(go), str(n)],
                              stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
             for _ in range(2)]
    try:
        deadline = time.monotonic() + 90
        while len(list(tmp_path.glob("go.*"))) < 2:
            assert time.monotonic() < deadline and all(p.poll() is None for p in procs), [
                p.stderr.read().decode()[-2000:] for p in procs if p.poll() is not None]
            time.sleep(0.05)
        go.touch()
        for p in procs:
            assert p.wait(timeout=90) == 0, p.stderr.read().decode()[-2000:]
    finally:
        for p in procs:
            p.kill()
            p.wait()
            p.stderr.close()
    seqs = sorted(pq.read_table(f).column("seq").to_pylist()[0] for f in _parquet(d / "ticks"))
    assert seqs == list(range(2 * n))
    assert cli.run(["last", "S", str(3 * n)], spark, str(d))[0] == f"Last {2 * n} ticks for S:"


def test_query_across_maintain_sees_every_row(spark, tmp_path, monkeypatch):
    """A query loop in a second thread across several ``maintain`` runs
    returns the full row set every time and never raises: the swap and
    the old copy's deletion happen under the exclusive lock, the query
    under the shared one.  The deletion is slowed so that an unlocked
    reader would meet the table missing."""
    d = str(tmp_path / "data")
    for i, sym in enumerate(["S", "S", "T", "S"]):
        _insert(spark, d, sym, 10 + i)
    want = cli.run(["query", "S", "0", "99"], spark, d)
    assert want[0] == "Found 3 results:"
    rmtree = shutil.rmtree

    def slow_rmtree(path, *a, **k):
        rmtree(path, *a, **k)
        time.sleep(0.2)

    monkeypatch.setattr(shutil, "rmtree", slow_rmtree)
    seen, errors, done = [], [], threading.Event()

    def loop() -> None:
        try:
            while not done.is_set():
                seen.append(cli.run(["query", "S", "0", "99"], spark, d))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    t = threading.Thread(target=loop)
    t.start()
    try:
        for _ in range(3):
            assert cli.run(["maintain"], spark, d)[0].startswith("Compacted 4 ticks:")
    finally:
        done.set()
        t.join(60)
    assert not t.is_alive() and not errors, errors
    assert seen and all(s == want for s in seen), [s[0] for s in seen if s != want]


def test_lock_waits_then_raises(spark, tmp_path, monkeypatch):
    """The lock files live beside the table, not in it.  A writer waits
    for a writer, a reader only for a swap, and a waiter raises after
    ``LOCK_TIMEOUT_S`` rather than going on without the lock."""
    d = str(tmp_path / "data")
    _insert(spark, d, "S", 1)
    table = cli._table_path(d)
    assert (tmp_path / "data" / "_ticks.lock").is_file()
    assert (tmp_path / "data" / "_ticks.read.lock").is_file()
    assert not list((tmp_path / "data" / "ticks").rglob("*.lock"))
    monkeypatch.setattr(writer, "LOCK_TIMEOUT_S", 0.2)
    with writer.table_lock(table, shared=True):
        assert cli.run(["last", "S", "1"], spark, d)[0] == "Last 1 ticks for S:"
        _insert(spark, d, "S", 2)
        with pytest.raises(TimeoutError):  # the swap waits for the reader
            cli.run(["maintain"], spark, d)
    assert cli.run(["query", "S", "0", "9"], spark, d)[0] == "Found 2 results:"
    with writer.table_lock(table):
        t0 = time.monotonic()
        for argv in (["maintain"], ["insert", "S", "3", "1.0", "1"]):
            with pytest.raises(TimeoutError):
                cli.run(argv, spark, d)
        assert time.monotonic() - t0 >= 0.4
        # a read waits for no writer
        assert cli.run(["query", "S", "0", "9"], spark, d)[0] == "Found 2 results:"
    with writer.swap_lock(table):
        for argv in (["query", "S", "0", "9"], ["last", "S", "1"]):
            with pytest.raises(TimeoutError):
                cli.run(argv, spark, d)
    assert cli.run(["maintain"], spark, d) == ["Compacted 2 ticks: 2 -> 1 files"]
    # no lock for a table that is not local
    with writer.table_lock("s3a://bucket/ticks"), writer.swap_lock("s3a://bucket/ticks"):
        pass


def test_reader_opens_an_existing_lock_file_read_only(spark, tmp_path, monkeypatch):
    """A reader opens the lock file without ``O_CREAT`` once a writer has
    made it, so a read needs no write access to the data directory; a
    reader that finds none and cannot create it reads unlocked, and a
    writer that cannot raises."""
    d = str(tmp_path / "data")
    _insert(spark, d, "S", 1)
    flags = []
    real = os.open

    def spy(path, flag, *a):
        if str(path).endswith(".lock"):
            flags.append(flag)
        return real(path, flag, *a)

    monkeypatch.setattr(writer.os, "open", spy)
    assert cli.run(["query", "S", "0", "9"], spark, d)[0] == "Found 1 results:"
    assert cli.run(["last", "S", "1"], spark, d)[0] == "Last 1 ticks for S:"
    assert flags == [os.O_RDONLY, os.O_RDONLY]

    # a table no locked writer wrote, in a directory the reader may not
    # write: it reads without the lock
    def no_create(path, flag, *a):
        if flag & os.O_CREAT:
            raise PermissionError(path)
        return real(path, flag, *a)

    (tmp_path / "data" / "_ticks.read.lock").unlink()
    monkeypatch.setattr(writer.os, "open", no_create)
    assert cli.run(["query", "S", "0", "9"], spark, d)[0] == "Found 1 results:"
    with pytest.raises(PermissionError):
        cli.run(["insert", "S", "2", "1.0", "1"], spark, d)


def test_maintain_refuses_a_table_changed_without_the_lock(spark, tmp_path, monkeypatch):
    """A writer that ignores the lock adds a file after the count: the
    listing check before the swap raises, and the live table keeps
    every file."""
    d = str(tmp_path / "data")
    for ts in (1, 2):
        _insert(spark, d, "S", ts)
    part = Path(cli._symbol_dir(spark, d, "S"))
    real = writer._row_count

    def counted(spark_, path, *listing):  # the stage's count: after the table's
        n = real(spark_, path, *listing)
        if path.endswith("__compact_stage"):
            shutil.copy(_parquet(part)[0], part / "part-unlocked.parquet")
        return n

    monkeypatch.setattr(writer, "_row_count", counted)
    with pytest.raises(RuntimeError, match="changed during the compaction"):
        cli.run(["maintain"], spark, d)
    monkeypatch.undo()
    assert len(_parquet(part)) == 3
    assert not Path(f"{cli._table_path(d)}__compact_stage").exists()
    assert cli.run(["query", "S", "0", "9"], spark, d)[0] == "Found 3 results:"


def _crash_between_renames(monkeypatch, rewrite) -> None:
    """Run ``rewrite`` with the second ``os.rename`` of its swap killed:
    the live table sits at its hidden old name, the stage beside it."""
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
            rewrite()


def test_crash_between_swap_renames_is_finished_by_next_taker(spark, tmp_path, monkeypatch):
    """A crash after the live table moved to its hidden old name but
    before the stage took its place: the next reader (``query``,
    ``last``) or writer (``maintain``, ``insert``) to take the lock puts
    the stage in place and drops the old copy, and nothing is lost."""
    d = str(tmp_path / "data")
    for ts in (1, 2, 3):
        _insert(spark, d, "S", ts)
    live, old = tmp_path / "data" / "ticks", tmp_path / "data" / ".ticks__compact_old"

    def crash() -> None:
        _crash_between_renames(monkeypatch, lambda: cli.run(["maintain"], spark, d))
        assert not live.exists() and old.exists()

    crash()
    assert cli.run(["query", "S", "0", "9"], spark, d)[0] == "Found 3 results:"
    assert live.exists() and not old.exists()
    crash()
    assert cli.run(["last", "S", "9"], spark, d)[0] == "Last 3 ticks for S:"
    crash()
    assert cli.run(["maintain"], spark, d) == ["Compacted 3 ticks: 1 -> 1 files"]
    assert not old.exists()
    _insert(spark, d, "S", 4)
    crash()
    _insert(spark, d, "S", 5)
    assert not old.exists()
    assert cli.run(["query", "S", "0", "9"], spark, d)[0] == "Found 5 results:"
    assert cli._next_seq(spark, d, "S") == 5


def _drain(tmp_path: Path) -> tuple[Path, list[str]]:
    """A one-file events feed (4 rows, ``event_id`` 0-3, all ``view``)
    and the (source, table, checkpoint) of a drain into ``data/ticks``."""
    from tests.test_catalog_adaptive import _write_events

    feed = tmp_path / "feed" / "events.parquet"
    feed.mkdir(parents=True)
    shutil.move(_write_events(str(tmp_path), "us"), feed / "part-0.parquet")
    return feed, [str(feed), str(tmp_path / "data" / "ticks"), str(tmp_path / "ckpt")]


def test_drain_finishes_a_crashed_swap_before_it_appends(spark, tmp_path, monkeypatch):
    """A stream's sink takes the writer lock, so a drain into a table
    whose compaction crashed between its two renames first puts the
    stage in place, then appends: every row survives.  Without the lock
    the drain recreated the table with only its own batch, and the next
    locked writer deleted the old copy."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        ingest_available_now,
    )

    feed, drain = _drain(tmp_path)
    ingest_available_now(spark, *drain)
    live, old = Path(drain[1]), tmp_path / "data" / ".ticks__compact_old"
    _crash_between_renames(monkeypatch, lambda: writer.compact_ticks(spark, drain[1]))
    assert not live.exists() and old.exists()
    shutil.copy(feed / "part-0.parquet", feed / "part-1.parquet")
    ingest_available_now(spark, *drain)
    assert live.exists() and not old.exists()
    assert not (tmp_path / "data" / "ticks__compact_stage").exists()
    assert spark.read.parquet(drain[1]).count() == 8


def test_drain_behind_a_held_lock_fails_then_reruns_once(spark, tmp_path, monkeypatch):
    """A drain whose sink cannot take the writer lock fails after
    ``LOCK_TIMEOUT_S`` with nothing written; its batch is not committed,
    so a re-run ingests that batch exactly once."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        ingest_available_now,
    )

    _, drain = _drain(tmp_path)
    monkeypatch.setattr(writer, "LOCK_TIMEOUT_S", 0.2)
    with writer.table_lock(drain[1]):
        with pytest.raises(Exception, match="not acquired within 0.2 s"):
            ingest_available_now(spark, *drain)
    assert not Path(drain[1]).exists()
    ingest_available_now(spark, *drain)
    rows = spark.read.parquet(drain[1]).select("seq").collect()
    assert sorted(r.seq for r in rows) == [0, 1, 2, 3]


# -- the driver compaction against Spark's, on the same table ----------------

_SYMBOLS = ["BRK/B", "007", "AAPL"]


def _mixed_table(spark, d: str, tmp_path: Path) -> None:
    """Import and insert files for every symbol, with equal ts across
    files, so the (ts, seq) order is visible."""
    for k, sym in enumerate(_SYMBOLS):
        csv = tmp_path / f"imp{k}.csv"
        csv.write_text("timestamp,price,volume\n" + "".join(
            f"{100 + i % 5},{i}.25,{i + 1}\n" for i in range(12)) + "bad,row\n")
        assert cli.run(["import", sym, str(csv)], spark, d)[0].startswith("Imported 12 ticks")
        for ts in (102, 99, 102, 200):
            _insert(spark, d, sym, ts, "7.5", 3)


def _rows(table: Path, sym_dir: str) -> list[dict]:
    files = _parquet(table / sym_dir)
    return pa.concat_tables([pq.read_table(f) for f in files]).to_pylist()


def _compacted(spark, monkeypatch, d: str, driver: bool) -> tuple[list[str], int]:
    """``maintain``'s lines and the Spark jobs it ran, on the driver
    path or forced onto Spark's."""
    out: list = []
    with monkeypatch.context() as m:
        if not driver:
            m.setattr(writer, "_spark_footer_metadata", lambda *a: None)
        jobs = _jobs(spark, lambda: out.extend(cli.run(["maintain"], spark, d)),
                     f"maintain-{Path(d).name}")
    return out, jobs


def test_driver_compaction_equals_spark_compaction(spark, tmp_path, monkeypatch):
    """On one table of import and insert files: the same rows per
    symbol in (ts, seq) order (the driver's file holds them in that
    order), the same footer signature for every output file, the same
    schema on Spark's read-back and the same ``Compacted`` line but for
    the file count after."""
    src = tmp_path / "src"
    _mixed_table(spark, str(src), tmp_path)
    dirs = {how: tmp_path / how for how in ("driver", "spark")}
    for p in dirs.values():
        shutil.copytree(src, p)
    lines, jobs = {}, {}
    for how, p in dirs.items():
        lines[how], jobs[how] = _compacted(spark, monkeypatch, str(p), how == "driver")
    assert jobs["driver"] == 0 and jobs["spark"] > 0
    prefix = {how: ln[0].rsplit(" -> ", 1)[0] for how, ln in lines.items()}
    assert prefix["driver"] == prefix["spark"] == "Compacted 48 ticks: 15"
    assert lines["driver"] == ["Compacted 48 ticks: 15 -> 3 files"]
    tables = {how: p / "ticks" for how, p in dirs.items()}
    sym_dirs = {how: sorted(x.name for x in t.iterdir() if x.is_dir()) for how, t in tables.items()}
    assert sym_dirs["driver"] == sym_dirs["spark"] == ["symbol=007", "symbol=AAPL", "symbol=BRK%2FB"]
    for sym_dir in sym_dirs["driver"]:
        rows = {how: _rows(t, sym_dir) for how, t in tables.items()}
        order = {how: sorted(r, key=lambda x: (x["ts"], x["seq"])) for how, r in rows.items()}
        assert order["driver"] == order["spark"] and len(order["driver"]) == 16
        assert rows["driver"] == order["driver"]
    sigs = {how: {catalog._footer_signature(pq.read_metadata(f)) for f in _parquet(t)}
            for how, t in tables.items()}
    assert sigs["driver"] == sigs["spark"] and len(sigs["driver"]) == 1
    schema = {how: spark.read.parquet(str(t)).schema.json() for how, t in tables.items()}
    assert schema["driver"] == schema["spark"]
    for sym in _SYMBOLS:
        for argv in (["query", sym, "0", "999"], ["last", sym, "5"]):
            assert cli.run(argv, spark, str(dirs["driver"])) == cli.run(
                argv, spark, str(dirs["spark"])), argv


def _spark_compactions(monkeypatch) -> list:
    """Record each Spark compaction write (``write_ticks`` to a stage)."""
    calls: list = []
    real = writer.write_ticks

    def spy(df, path, **kw):
        if path.endswith("__compact_stage"):
            calls.append(path)
        return real(df, path, **kw)

    monkeypatch.setattr(writer, "write_ticks", spy)
    return calls


@pytest.mark.parametrize("trigger", ["codec", "rebase", "no_stats", "over_cap", "null_partition"])
def test_driver_compaction_declines_to_spark(spark, tmp_path, monkeypatch, trigger):
    """Each input the driver cannot compact exactly goes to Spark's
    compaction, which prints the same line and keeps every row."""
    d = str(tmp_path / "data")
    for i, ts in enumerate((5, 3, 4)):
        _insert(spark, d, "S", ts, f"{i}.5", i)
    want = cli.run(["query", "S", "0", "9"], spark, d)
    n_rows, n_files = 3, 3
    part = Path(cli._symbol_dir(spark, d, "S"))
    confs = {"codec": ("spark.sql.parquet.compression.codec", "gzip"),
             "rebase": ("spark.sql.parquet.datetimeRebaseModeInWrite", "LEGACY")}
    if trigger == "no_stats":
        pq.write_table(pa.table({"ts": [6], "price": [9.0], "volume": [9], "seq": [3]}),
                       part / "part-nostats.parquet", write_statistics=False)
        want = cli.run(["query", "S", "0", "9"], spark, d)
        n_rows, n_files = 4, 4
    elif trigger == "over_cap":
        monkeypatch.setattr(catalog, "LOCAL_READ_MAX_ROWS", 2)
    elif trigger == "null_partition":
        null = part.parent / "symbol=__HIVE_DEFAULT_PARTITION__"
        null.mkdir()
        shutil.copy(_parquet(part)[0], null / "part-null.parquet")
        n_rows, n_files = 4, 4
    calls = _spark_compactions(monkeypatch)
    if trigger in confs:
        key, value = confs[trigger]
        saved = spark.conf.get(key)
        spark.conf.set(key, value)
    try:
        out = cli.run(["maintain"], spark, d)
    finally:
        if trigger in confs:
            spark.conf.set(key, saved)
    assert len(calls) == 1, trigger
    assert out[0].startswith(f"Compacted {n_rows} ticks: {n_files} -> ")
    assert cli.run(["query", "S", "0", "9"], spark, d) == want
    assert catalog.parquet_num_rows(cli._table_path(d)) == n_rows


def test_driver_compaction_declines_without_a_tick_schema(spark, tmp_path):
    """No driver compaction for a non-local path, a table read without a
    schema, or a schema whose columns the driver does not write."""
    from pyspark.sql import types as T

    d = str(tmp_path / "data")
    _insert(spark, d, "S", 1)
    path, stage = cli._table_path(d), str(tmp_path / "stage")
    wide = T.StructType(cli.TICK_SCHEMA.fields + [T.StructField("note", T.StringType())])
    files = catalog._spark_listing(path)
    for p, schema, listed in (("s3a://bucket/ticks", cli.TICK_SCHEMA, None), (path, None, files),
                              (path, wide, files)):
        assert writer._compact_on_driver(spark, p, stage, schema, listed) is None
    assert not Path(stage).exists()
    assert writer._compact_on_driver(spark, path, stage, cli.TICK_SCHEMA, files) == 1


def test_count_distinct_equals_arrow_hash_count():
    """``writer._count_distinct`` (a numpy sort of each value's bits)
    counts what ``pyarrow.compute.count_distinct(mode="all")`` counts:
    NaNs of distinct payloads and the two zeros apart, null as one more
    value, across chunks."""
    import struct

    import numpy as np
    import pyarrow.compute as pc

    nan2 = struct.unpack("<d", struct.pack("<Q", 0x7FF8000000000001))[0]
    rng = np.random.default_rng(5)
    cols = [
        pa.chunked_array([[0.0, -0.0, float("nan"), nan2, None, 1.0], [1.0, None, float("nan")]]),
        pa.chunked_array([[1, 2, None], [2, 3], []], pa.int64()),
        pa.chunked_array([rng.integers(0, 50, 1000), rng.integers(40, 90, 500)]),
        pa.chunked_array([rng.random(2000)]),
        pa.chunked_array([[]], pa.int64()),
        pa.chunked_array([[None, None]], pa.float64()),
        pa.chunked_array([pa.array([5, 5, 7], pa.timestamp("us"))]),
    ]
    for col in cols:
        assert writer._count_distinct(col) == pc.count_distinct(col, mode="all").as_py(), col


def test_maintain_lists_the_table_once(spark, tmp_path, monkeypatch):
    """``maintain`` of a 24-file table walks the live table twice (the
    one listing its counts, driver read and swap check come from, then
    the swap's re-check), the stage once (its barrier and file count),
    opens each live footer once, and runs no Spark job."""
    import pyarrow.parquet.core as pq_core

    d = str(tmp_path / "data")
    for k in range(24):
        _insert(spark, d, "ABC"[k % 3], k)
    table = tmp_path / "data" / "ticks"
    before = _parquet(table)
    walks, opens = [], []
    real_walk = os.walk

    def walk(top, *a, **k):
        walks.append(Path(top).name)
        return real_walk(top, *a, **k)

    class Opened(pq.ParquetFile):
        def __init__(self, source, *a, **k):
            if isinstance(source, (str, os.PathLike)):  # else read_metadata's handle
                opens.append(Path(source))
            super().__init__(source, *a, **k)

    def read_metadata(where, *a, **k):
        opens.append(Path(where))
        return real_metadata(where, *a, **k)

    real_metadata = pq.read_metadata
    out: list = []
    with monkeypatch.context() as m:
        m.setattr(catalog.os, "walk", walk)
        m.setattr(pq, "ParquetFile", Opened)
        m.setattr(pq_core, "ParquetFile", Opened)
        m.setattr(pq, "read_metadata", read_metadata)
        jobs = _jobs(spark, lambda: out.extend(cli.run(["maintain"], spark, d)), "maintain-24")
    assert out == ["Compacted 24 ticks: 24 -> 3 files"] and jobs == 0
    assert (walks.count("ticks"), walks.count("ticks__compact_stage")) == (2, 1), walks
    assert sorted(p for p in opens if table in p.parents) == before
    assert cli.run(["query", "B", "0", "99"], spark, d)[0] == "Found 8 results:"
