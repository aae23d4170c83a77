"""catalog.read_parquet's schema memo: a read that reuses an inferred
schema must give exactly what Spark's own inference gives, for every
layout, conf and listing order that inference depends on, and must run
no Spark job when it hits."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from low_latency_time_series_database_tsdb_for_market_data_spark import (
    catalog,
    cli,
    session_cache,
)
from tests.test_catalog_adaptive import _write_events
from tests.test_tick_footer_index import _jobs


@pytest.fixture()
def memo(spark):
    """``memo(path)``: the schema the memo holds for ``path``'s key, or
    None; the lookup never builds one."""

    def stored(path):
        key = catalog._schema_memo_key(spark, str(path))
        return key and session_cache.get(spark, "schema", key, lambda: None)

    return stored


@pytest.fixture()
def conf(spark):
    """Set session confs for one test and restore them afterwards."""
    saved = {}

    def set_(key: str, value: str) -> None:
        saved.setdefault(key, spark.conf.get(key))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        spark.conf.set(key, value)


def _x_file(path, type_) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"x": pa.array([1], type_)}), path)


def _same_twice(spark, path: str) -> None:
    want = spark.read.parquet(path).schema
    assert catalog.read_parquet(spark, path).schema == want
    assert catalog.read_parquet(spark, path).schema == want


@pytest.mark.parametrize("unit", ["ns", "us", "us_utc"])
def test_memo_matches_inference_for_event_layouts(spark, tmp_path, memo, unit):
    catalog._allow_nanos(spark)
    d = tmp_path / "events.parquet"
    d.mkdir()
    shutil.move(_write_events(str(tmp_path), unit), d / "part-0.parquet")
    _same_twice(spark, str(d))
    key = catalog._schema_memo_key(spark, str(d))
    assert memo(d) == spark.read.parquet(str(d)).schema
    # a file appended after the first one keeps the key: still a hit
    shutil.copy(d / "part-0.parquet", d / "part-1.parquet")
    _same_twice(spark, str(d))
    assert catalog._schema_memo_key(spark, str(d)) == key


@pytest.mark.parametrize("symbols", [["BRK/B", "123"], ["123"]])
def test_memo_matches_inference_for_cli_tables(spark, tmp_path, memo, symbols):
    """Partition columns are not memoized: Spark types them from the
    directories on every read (``symbol=123`` alone reads as int)."""
    d = str(tmp_path / "data")
    for s in symbols:
        cli.run(["insert", s, "5", "1.0", "1"], spark, d)
    table = f"{d}/ticks"
    assert os.path.isdir(f"{table}/symbol=123")
    _same_twice(spark, table)
    int_typed = spark.read.parquet(table).schema["symbol"].dataType.typeName()
    assert int_typed == ("integer" if symbols == ["123"] else "string")
    assert memo(table) is not None and "symbol" not in memo(table).fieldNames()


def test_memo_misses_after_a_converter_conf_change(spark, tmp_path, conf):
    catalog._allow_nanos(spark)
    us = tmp_path / "us"
    us.mkdir()
    shutil.move(_write_events(str(tmp_path), "us"), us / "part-0.parquet")
    ntz = catalog.read_parquet(spark, str(us)).schema
    assert ntz["ts"].dataType.typeName() == "timestamp_ntz"
    conf("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    got = catalog.read_parquet(spark, str(us)).schema
    assert got == spark.read.parquet(str(us)).schema
    assert got["ts"].dataType.typeName() == "timestamp"

    ns = tmp_path / "ns"
    ns.mkdir()
    shutil.move(_write_events(str(tmp_path), "ns"), ns / "part-0.parquet")
    key = catalog._schema_memo_key(spark, str(ns))
    assert catalog.read_parquet(spark, str(ns)).schema["ts"].dataType.typeName() == "long"
    conf("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert catalog._schema_memo_key(spark, str(ns)) != key
    # without the conf Spark cannot read the layout at all; the memo
    # must not answer for it
    with pytest.raises(Exception) as plain:
        spark.read.parquet(str(ns))
    with pytest.raises(type(plain.value)):
        catalog.read_parquet(spark, str(ns))


def test_memo_follows_the_file_inference_reads(spark, tmp_path):
    """Spark infers from the first file by full path string: a new first
    file with another footer misses, and ``symbol=A-B/`` sorts before
    ``symbol=A/`` (``-`` < ``/``) although its part tuple sorts after."""
    d = tmp_path / "t"
    _x_file(d / "part-1.parquet", pa.int32())
    assert catalog.read_parquet(spark, str(d)).schema["x"].dataType.typeName() == "integer"
    _x_file(d / "part-0.parquet", pa.int64())
    _same_twice(spark, str(d))
    assert catalog.read_parquet(spark, str(d)).schema["x"].dataType.typeName() == "long"

    p = tmp_path / "p"
    _x_file(p / "symbol=A" / "part-0.parquet", pa.int32())
    _same_twice(spark, str(p))
    _x_file(p / "symbol=A-B" / "part-0.parquet", pa.int64())
    assert spark.read.parquet(str(p)).schema["x"].dataType.typeName() == "long"
    _same_twice(spark, str(p))


def test_no_memo_with_summary_files_or_merge_schema(spark, tmp_path, conf):
    built = session_cache.build_seconds("schema")
    d = tmp_path / "t"
    _x_file(d / "part-0.parquet", pa.int64())
    pq.write_metadata(pa.schema([("x", pa.int32())]), d / "_metadata")
    assert catalog._schema_memo_key(spark, str(d)) is None
    _same_twice(spark, str(d))
    assert session_cache.build_seconds("schema") == built

    m = tmp_path / "m"
    _x_file(m / "part-0.parquet", pa.int64())
    conf("spark.sql.parquet.mergeSchema", "true")
    assert catalog._schema_memo_key(spark, str(m)) is None
    _same_twice(spark, str(m))
    assert session_cache.build_seconds("schema") == built


def test_memo_hit_runs_no_spark_job(spark, tmp_path, memo):
    d = tmp_path / "t"
    _x_file(d / "part-0.parquet", pa.int64())
    session_cache.drop("schema", catalog._schema_memo_key(spark, str(d)))
    assert memo(d) is None
    dfs = []
    jobs = [
        _jobs(spark, lambda: dfs.append(catalog.read_parquet(spark, str(d))),
              f"{tmp_path.name}-{n}")
        for n in ("miss", "hit")
    ]
    assert dfs[0].schema == dfs[1].schema
    assert jobs == [1, 0]


def test_memo_entries_of_a_stopped_session_are_evicted(spark):
    """Entries of every kind whose SparkContext stopped are evicted on the
    next miss, whichever session misses."""

    class Dead:
        class sparkContext:
            applicationId = "stopped-app"
            _jsc = object()

    kinds = ("relation", "schema", "corpus_bands", "even_half_state",
             "verdict_model", "warm")
    for kind in kinds:
        session_cache.get(Dead(), kind, "k", lambda: "v", "fp")
    for kind in kinds:
        assert session_cache.get(Dead(), kind, "k", pytest.fail, "fp") == "v"
    Dead.sparkContext._jsc = None  # the context stops
    session_cache.get(spark, "warm", object(), lambda: None)
    for kind in kinds:
        assert session_cache.get(Dead(), kind, "k", lambda: None, "fp") is None
