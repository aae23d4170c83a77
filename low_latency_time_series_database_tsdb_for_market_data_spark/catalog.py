"""Testdata catalog: parquet table loading + temp-view registration.

The reference binds one process to one symbol directory of raw column files
(`column_storage.cpp:13-18`); here the catalog is simply partition-prunable
parquet read through the DataFrame API so Catalyst gets pushdown and column
pruning for free (SURVEY.md §1.3).

`events.ts` is SCHEMA-ADAPTIVE.  Producers drift: the same logical column
has shipped as parquet TIMESTAMP(NANOS) (Spark reads it only via the legacy
nanos-as-long conf, surfacing int64 epoch-nanos) and as TIMESTAMP(MICROS)
isAdjustedToUTC=false (Spark reads TIMESTAMP_NTZ).  The reference never
faces this — it owns its storage format end to end — but any real Spark
deployment does, so every reader here branches on the *loaded* dtype
instead of hard-coding one physical layout:

  * LongType        -> int64 epoch nanos: `timestamp_micros(ts div 1000)`,
                       exactly DuckDB's nanos->micros truncation;
  * TimestampNTZType-> cast to session-UTC TIMESTAMP (same micros instant;
                       keeps the result schema identical across layouts and
                       matching what the DuckDB oracle yields);
  * TimestampType   -> already there.

Range/point operators must keep their predicates on the RAW column in its
native type so the comparison reaches the parquet scan as a pushed filter
(row-group min/max pruning — the Spark analogue of the reference's B+ tree
range probe, `bplus_tree.hpp:70-91`).  `ts_bound`/`ts_lit` build literals
of the matching type so no cast ever lands on the column side of the
comparison (a column-side cast would silently kill pushdown).

One footer reader: ``footer_groups`` is the only code that reads
row-group statistics.  It walks the files Spark lists (``_spark_listing``),
keeps those a read of the table or of one partition scans (``_read_set``)
and yields each non-empty row group with the raw int64 min/max of one
column (``_row_groups``), or declines with None wherever the footers
cannot give exactly what Spark reads.  Every footer question is answered
from those groups: the driver-side reads (``local_rows``), the ts bounds
(``ts_bounds_epoch_ns``) and the CLI's next seq.  A decline sends the
caller to its Spark job.

Schema memo: a ``spark.read.parquet`` without a schema runs a one-task
job that infers the data schema from ONE footer — the first listed file
by full path string — and the session's converter confs.  ``read_parquet``
keys what Spark answered by exactly those inputs (the confs in
``_SCHEMA_CONFS``, the footer's leaf columns and Spark row metadata) in
``session_cache`` and passes it back as the read schema on the next read
of any path whose first file has the same footer, so appends, stream
drains and refreshes re-read a changed table without that job.  Globs,
non-local paths, summary files and ``mergeSchema`` read more than one
footer, or one we cannot see, and keep Spark's inference.
"""

from __future__ import annotations

import datetime as _dt
import os
from contextlib import contextmanager
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import session_cache
from .session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_EPOCH = _dt.datetime(1970, 1, 1)


def _allow_nanos(spark: SparkSession) -> None:
    """Permit the TIMESTAMP(NANOS) physical layout (read as int64).  No-op
    for micros/NTZ files; without it a nanos file fails at schema read."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def ts_is_long(df: DataFrame, col: str = "ts") -> bool:
    """True iff the loaded ts column is the int64-epoch-nanos layout."""
    return isinstance(df.schema[col].dataType, T.LongType)


def with_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the raw ts column to a session-UTC microsecond TIMESTAMP,
    whatever physical layout it was loaded from.  Cheap codegen'd
    projection; apply AFTER range filters so pushdown sees the raw column."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        # NTZ wall-clock reinterpreted in the (UTC-pinned) session zone —
        # the same micros instant the nanos path produced, and the same
        # naive values DuckDB returns for the same file
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def ts_bound(df: DataFrame, epoch_ns: int, *, upper: bool = False,
             col: str = "ts") -> Column:
    """Literal for filtering the RAW ts column in its native type.

    epoch_ns is the bound as UTC epoch nanoseconds.  For the int64-nanos
    layout an inclusive upper bound adds 999 ns so values that truncate to
    the bound microsecond stay included; for timestamp layouts the literal
    is the bound's exact microsecond.  Sub-microsecond remainders on
    *lower* bounds only occur for non-round constants (ours are whole
    seconds) — floor-to-us keeps those inclusive too."""
    if ts_is_long(df, col):
        return F.lit(epoch_ns + (999 if upper else 0))
    return ts_lit(df, _EPOCH + _dt.timedelta(microseconds=epoch_ns // 1000),
                  col=col)


def ts_lit(df: DataFrame, value: _dt.datetime, *, col: str = "ts") -> Column:
    """Timestamp literal matching the raw ts column's exact Catalyst type
    (TIMESTAMP_NTZ vs TIMESTAMP), so comparisons never cast the column."""
    iso = value.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(df.schema[col].dataType, T.TimestampNTZType):
        return F.expr(f"TIMESTAMP_NTZ '{iso}'")
    return F.expr(f"TIMESTAMP '{iso}'")


def local_path(path: str) -> Path | None:
    """``path`` on the local filesystem (a plain path or a ``file:`` URI),
    or None for any other scheme (object stores, HDFS), which the footer
    probes cannot list."""
    from urllib.parse import urlparse

    u = urlparse(path)
    if u.scheme == "file":
        return Path(u.path)
    return Path(path) if u.scheme == "" else None


def _spark_hidden(name: str) -> bool:
    """Spark's listing rule for one path component
    (``PartitioningAwareFileIndex.shouldFilterOutPathName``): names
    starting with ``_`` (unless a ``k=v`` partition directory) or ``.``,
    and in-flight ``._COPYING_`` files, are never read — a crashed
    append's ``_temporary/`` among them."""
    if name.startswith(("_common_metadata", "_metadata")):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _spark_listing(path: str) -> list[Path] | None:
    """Every file Spark lists under ``path`` (a file or a directory tree),
    whatever its name ends in, summary files included; [] when the path
    is missing, None when it is not local.  Raises OSError when the tree
    cannot be listed."""
    p = local_path(path)
    if p is None:
        return None
    if not p.is_dir():
        return [p] if p.exists() else []

    def fail(e: OSError) -> None:
        raise e

    out = []
    for d, dirs, files in os.walk(p, onerror=fail):
        dirs[:] = [x for x in dirs if not _spark_hidden(x)]
        out += [Path(d, f) for f in files if not _spark_hidden(f)]
    return out


def _parquet_files(path: str) -> list[Path] | None:
    """The ``*.parquet`` files Spark reads under ``path``, sorted; [] when
    the path is missing, None when it is not local.  Raises OSError when
    the tree cannot be listed."""
    files = _spark_listing(path)
    if files is None:
        return None
    return sorted(f for f in files if f.name.endswith(".parquet"))


def file_identity(f: Path) -> tuple[int, int, int]:
    """(size, mtime_ns, inode) of ``f``: what a rewrite in place or a
    replace by rename changes, short of a same-size rewrite within one
    tick of the filesystem clock.  Raises OSError when ``f`` cannot be
    stat-ed."""
    st = f.stat()
    return st.st_size, st.st_mtime_ns, st.st_ino


def input_files(df: DataFrame) -> list[Path] | None:
    """The files the file relation ``df`` listed when it was built (Spark
    pins that listing until the relation is rebuilt), as local paths;
    None if ``df`` is not a bare file relation or any file is not local.
    Read off the analyzed plan: ``DataFrame.inputFiles`` runs the
    optimizer first, several ms per call."""
    from urllib.parse import unquote, urlparse

    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if rel.getClass().getSimpleName() != "HadoopFsRelation":
        return None
    out = []
    for uri in rel.inputFiles():
        u = urlparse(uri)
        if u.scheme not in ("", "file"):
            return None
        out.append(Path(unquote(u.path)))
    return out


# Rows the row groups a driver-side read keeps may hold before
# ``local_rows`` hands the read back to Spark.  Measured on a 4-core VM,
# min of 5 warm runs, driver read vs the same read as a local Spark job:
# a CLI ``query`` of 200 ticks out of N rows in eight unsorted files took
# 21/39/59/134 ms vs 239/282/223/235 ms at N = 0.4M/1M/2M/4M (one sorted
# row group: 5/39/77 ms vs 110/169/246 ms at 20 000/1M/2M), so the
# crossover lies near 7M rows; an out-of-slice PointServer probe over
# events rows (six columns, two of them strings) took 60/90 ms vs
# 129/204 ms at 1M/2M.  The cap stays well below the crossover, so wider
# rows are still faster on the driver, and it bounds the driver memory
# one read takes.  A driver compaction (``writer._compact_on_driver``)
# is bounded by it too: at 0.98M rows it took 0.34 s against Spark's
# 1.25 s, with 48 MB of Arrow memory at its peak.
LOCAL_READ_MAX_ROWS = 1_000_000

_INT64 = (-(2**63), 2**63 - 1)
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


class _Group(NamedTuple):
    """One non-empty row group and its footer min/max of the key column."""

    file: object  # the open pyarrow ParquetFile
    index: int
    rows: int
    lo: int
    hi: int


def _read_set(spark, root: Path, files: list[Path],
              partition: tuple[str, str] | None) -> list[Path] | None:
    """The files of ``files`` a read of ``partition`` (name, value)
    scans, or of the whole table without one; None when the layout is
    not one whose rows the driver can give exactly: a listed file not
    named ``*.parquet``, or anything but one ``name=v`` directory level
    (partitioned) or files straight under ``root`` (unpartitioned).
    Directory values are compared after Spark's unescaping, as Spark's
    partition discovery does, and the null partition never matches."""
    if not all(f.name.endswith(".parquet") for f in files):
        return None
    if partition is None:
        return files if all(f == root or f.parent == root for f in files) else None
    name, value = partition
    unescape = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    out = []
    for f in files:
        if root not in f.parents or len(f.relative_to(root).parts) != 2:
            return None
        key, _, v = f.parent.name.partition("=")
        if key != name or not v:
            return None
        if v != _HIVE_NULL and (unescape.unescapePathName(v) if "%" in v else v) == value:
            out.append(f)
    return out


def _row_groups(pf, schema, col: str, no_nulls: bool,
                nanos_as_long: bool) -> list[_Group] | None:
    """The non-empty row groups of one open file with their footer
    min/max of ``col``, or None when the file cannot be read exactly:
    a ``schema`` column missing or of another type (the one conversion
    allowed is TIMESTAMP(NANOS) to int64, which Spark's nanosAsLong
    reads as the raw count), column names equal but for case, ``col``
    not a physical INT64, or a row group without min/max stats (or with
    nulls, when ``no_nulls``)."""
    import pyarrow as pa

    arrow = pf.schema_arrow
    if len({n.lower() for n in arrow.names}) != len(arrow.names):
        return None
    for field in schema:
        i = arrow.get_field_index(field.name)
        if i < 0:
            return None
        t = arrow.field(i).type
        if t != field.type and not (
            nanos_as_long and field.type == pa.int64()
            and pa.types.is_timestamp(t) and t.unit == "ns"
        ):
            return None
    md = pf.metadata
    paths = [md.schema.column(i).path for i in range(md.num_columns)]
    if col not in paths or md.schema.column(paths.index(col)).physical_type != "INT64":
        return None
    c = paths.index(col)
    out = []
    for r in range(md.num_row_groups):
        rg = md.row_group(r)
        if rg.num_rows == 0:
            continue
        st = rg.column(c).statistics
        if st is None or not st.has_min_max:
            return None
        if no_nulls and (not st.has_null_count or st.null_count):
            return None
        out.append(_Group(pf, r, rg.num_rows, st.min_raw, st.max_raw))
    return out


@contextmanager
def footer_groups(
    spark: SparkSession,
    path: str,
    schema,
    col: str,
    *,
    no_nulls: bool = False,
    partition: tuple[str, str] | None = None,
    files: list[Path] | None = None,
):
    """The footer index of a local parquet table: yields every non-empty
    row group a Spark read of ``path`` scans, with the raw int64 footer
    min/max of ``col`` (``_Group``), or None when the footers cannot
    give exactly what Spark reads.  No data page is read and no Spark
    job runs.  The files stay open until the block exits, so a read of
    the groups sees the files whose footers were read.

    ``files`` is the listing Spark's relation pinned (default: Spark's
    listing of ``path`` now); ``partition=(name, value)`` keeps one
    partition's files, as ``_read_set`` does.  Every file must hold the
    ``schema`` columns as ``_row_groups`` admits them, and ``no_nulls``
    declines a ``col`` with nulls.  None also when the path is missing
    or not local, or a file or footer cannot be read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    opened = []
    groups = None
    try:
        root = local_path(path)
        if root is not None and root.exists():
            listing = _spark_listing(path) if files is None else files
            read = _read_set(spark, root, listing, partition)
            if read is not None:
                nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true"
                groups = []
                for f in sorted(read):
                    opened.append(pq.ParquetFile(f))
                    g = _row_groups(opened[-1], schema, col, no_nulls, nanos)
                    if g is None:
                        groups = None
                        break
                    groups += g
    # a file or footer pyarrow cannot read: Spark reads it, or raises
    except (OSError, pa.ArrowInvalid, pa.ArrowNotImplementedError):
        groups = None
    try:
        yield groups
    finally:
        for pf in opened:
            pf.close()


def _read_groups(groups: list[_Group], schema):
    """The ``schema`` columns of ``groups``, each file's part cast to
    ``schema`` (nullable, so required and optional columns concatenate)."""
    import pyarrow as pa

    parts = []
    for pf in dict.fromkeys(g.file for g in groups):
        idx = [g.index for g in groups if g.file is pf]
        part = pf.read_row_groups(idx, columns=schema.names)
        parts.append(pa.Table.from_arrays(
            [part.column(f.name).cast(f.type) for f in schema], schema=schema))
    return pa.concat_tables(parts) if parts else schema.empty_table()


def _key(tbl, col: str):
    """``col`` as its raw int64 values (timestamps as their unit count)."""
    import pyarrow as pa

    return tbl.column(col).cast(pa.int64())


def local_rows(
    spark: SparkSession,
    path: str,
    schema,
    col: str,
    *,
    window: tuple[int, int] | None = None,
    top: int | None = None,
    partition: tuple[str, str] | None = None,
    files: list[Path] | None = None,
):
    """A small local parquet read answered on the driver: the rows Spark
    would return, as a ``pyarrow.Table`` with the ``schema`` columns, or
    None when the driver cannot guarantee exactly those rows and the
    caller must run its Spark read.  No Spark job runs.

    ``path`` is the table Spark reads; ``files`` the listing its relation
    pinned (default: Spark's listing of ``path`` now).  With
    ``partition=(name, value)`` the table must be partitioned by exactly
    that column and only directories whose unescaped value is ``value``
    are read; without it every file must sit straight under ``path``.
    Every listed file must be named ``*.parquet``: Spark reads a file of
    any other name too.

    ``col`` is a physical INT64 column (an integer or a timestamp, seen
    as its raw count) whose footer min/max (``footer_groups``) prunes
    row groups before any data is read:

    * ``window=(lo, hi)``: the rows with ``lo <= col <= hi``;
    * ``top=n``: the ``n`` rows with the largest ``col``, ascending.  Row
      groups are read in descending max order until they hold ``n`` rows;
      with ``t`` the n-th largest value read, every other row group whose
      max reaches ``t`` is read too, so ties at ``t`` are all seen.

    Each file's part is cast to ``schema`` with every field nullable
    (``_row_groups`` admits only exact casts).  None when: the path is
    not local or missing, the layout or a file's columns differ, a
    footer or page cannot be read, a row group lacks stats, ``top < 0``
    (Spark raises), ``col`` holds nulls under ``top``, a bound does not
    fit an int64, or the kept row groups hold more than
    ``LOCAL_READ_MAX_ROWS`` rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if top is not None and top < 0:
        return None
    if window is not None and not all(_INT64[0] <= b <= _INT64[1] for b in window):
        return None
    schema = pa.schema([f.with_nullable(True) for f in schema])
    try:
        with footer_groups(spark, path, schema, col, no_nulls=top is not None,
                           partition=partition, files=files) as groups:
            if groups is None:
                return None
            if window is not None:
                lo, hi = window
                groups = [g for g in groups if g.hi >= lo and g.lo <= hi]
                if sum(g.rows for g in groups) > LOCAL_READ_MAX_ROWS:
                    return None
                tbl = _read_groups(groups, schema)
                key = _key(tbl, col)
                return tbl.filter(pc.and_(pc.greater_equal(key, lo), pc.less_equal(key, hi)))
            groups.sort(key=lambda g: g.hi, reverse=True)
            first, rows = 0, 0
            while first < len(groups) and rows < top:
                rows += groups[first].rows
                first += 1
            if rows > LOCAL_READ_MAX_ROWS:
                return None
            tbl = _read_groups(groups[:first], schema)
            if top and rows >= top:
                keys = _key(tbl, col).to_numpy()
                t = np.partition(keys, rows - top)[rows - top]
                more = [g for g in groups[first:] if g.hi >= t]
                if rows + sum(g.rows for g in more) > LOCAL_READ_MAX_ROWS:
                    return None
                tbl = pa.concat_tables([tbl, _read_groups(more, schema)])
            tbl = tbl.sort_by([(col, "descending")]).slice(0, top)
            return tbl.sort_by([(col, "ascending")])
    # a page pyarrow cannot read (or decode): Spark reads it, or raises
    # for it
    except (OSError, pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return None


# nanoseconds per unit of a timestamp column's raw count
_NS_PER = {"us": 1000, "ns": 1}


def ts_bounds_epoch_ns(spark: SparkSession, path: str,
                       col: str = "ts") -> tuple[int, int] | None:
    """(min, max) ts as UTC epoch nanos from the footer index
    (``footer_groups``): the raw min/max of the ``ts`` row groups,
    scaled by the column's unit — micros ×1000, nanos as stored (the
    raw count Spark's nanosAsLong reads).  No data scan, no Spark job:
    a probe that needs only a scalar bound reads the index footers as
    the reference descends its B+ tree root (`bplus_tree.hpp:95-106`).

    None (the caller runs a Spark agg) when the footers cannot answer:
    the walk declines, the table holds no rows, or the column is not a
    micros or nanos timestamp of one type in every file.  Raw counts of
    adjusted-to-UTC files are UTC already; NTZ counts are read as UTC,
    as the catalog's UTC-pinned session reads them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        files = _spark_listing(path)
        field = pq.read_schema(files[0]).field(col) if files else None
    except (OSError, KeyError, pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return None
    if field is None or not pa.types.is_timestamp(field.type) or field.type.unit not in _NS_PER:
        return None
    with footer_groups(spark, path, pa.schema([field]), col, files=files) as groups:
        if not groups:
            return None
        scale = _NS_PER[field.type.unit]
        return min(g.lo for g in groups) * scale, max(g.hi for g in groups) * scale


def ts_min_epoch_ns(spark: SparkSession, path: str, col: str = "ts") -> int | None:
    """Minimum ts as UTC epoch nanos from the footer index, or None
    (see :func:`ts_bounds_epoch_ns`)."""
    bounds = ts_bounds_epoch_ns(spark, path, col)
    return None if bounds is None else bounds[0]


def parquet_num_rows(path: str) -> int | None:
    """Exact row count from the footers' ``num_rows`` — no scan, no
    Spark job.  None when the footers cannot answer: the path is
    missing, not local or unlistable, holds no files, or lists a file
    pyarrow cannot read or whose name does not end in ``.parquet``
    (Spark reads it whatever its suffix, so the ``.parquet`` footers
    alone would miss its rows).  Planning-time scalars (block counts,
    quantizer k) read it instead of running count jobs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        files = _spark_listing(path)
        if not files or not all(f.name.endswith(".parquet") for f in files):
            return None
        return sum(pq.read_metadata(f).num_rows for f in files)
    except (OSError, pa.ArrowInvalid):
        return None


# fingerprint of a path whose files cannot be stat-ed: distinct from any
# real fingerprint, () included (the fingerprint of an empty dir)
UNSTATABLE = ("<unstat-able>",)


def parquet_fingerprint(path: str) -> tuple:
    """Cheap identity of a parquet file/dir: sorted (name, size,
    mtime_ns, inode) of every file Spark lists, whatever its suffix
    (``file_identity``) — os.stat only, no footer reads, no Spark job.
    The verdicts' ``session_cache`` entries (the verdict model, the
    corpus signature table) pass it as their fingerprint, so a table
    regenerated in place within a long-lived session rebuilds them
    instead of serving stale training, and frees what it replaces.  A
    path that cannot be listed or stat-ed (or is not local)
    fingerprints as ``UNSTATABLE``, never as the ``()`` of an empty
    dir, so a readability blip cannot alias a fingerprinted key."""
    try:
        files = _spark_listing(path)
        if files is None:
            return UNSTATABLE
        return tuple((f.name, *file_identity(f)) for f in sorted(files))
    except OSError:
        return UNSTATABLE


# the session confs ParquetToSparkSchemaConverter reads, plus the
# case-sensitivity that decides how data and partition columns match
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
)
_SUMMARY_FILES = ("_metadata", "_common_metadata")
_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_signature(md) -> tuple | None:
    """Everything in one footer that Spark's schema inference reads: per
    leaf column its path, physical, logical and converted types,
    definition and repetition levels, length, precision and scale, plus
    the Spark row metadata that overrides them when present.  None for a
    nested schema, whose group annotations the leaves do not carry."""
    cols = []
    for i in range(md.num_columns):
        c = md.schema.column(i)
        if "." in c.path:
            return None
        cols.append((c.path, c.physical_type, str(c.logical_type), c.converted_type,
                     c.max_definition_level, c.max_repetition_level, c.length,
                     c.precision, c.scale))
    return tuple(cols), (md.metadata or {}).get(_ROW_METADATA)


def _schema_memo_key(spark: SparkSession, path: str,
                     files: list[Path] | None = None) -> tuple | None:
    """The memo key of a schema-less read of ``path`` listing ``files``
    (default: Spark's listing of ``path`` now), or None where the
    memo does not apply and Spark must infer: a glob or non-local path,
    no files, summary files or ``mergeSchema`` (inference then reads
    more than one footer), an unreadable or nested first footer, or a
    data column named like a partition directory key (Spark then types
    that column from the directories).

    Inference reads the first file of the listing sorted by full path
    string (``ParquetUtils.splitFiles``), compared as Java strings are:
    by UTF-16 code unit.  Whole strings, not ``pathlib`` part tuples,
    which order ``symbol=A/`` and ``symbol=A-B/`` the other way round."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if any(c in path for c in "*?[]{}\\"):
        return None
    if spark.conf.get("spark.sql.parquet.mergeSchema").lower() == "true":
        return None
    try:
        if files is None:
            files = _spark_listing(path)
        if not files or any(f.name in _SUMMARY_FILES for f in files):
            return None
        first = min(files, key=lambda f: str(f).encode("utf-16-be", "surrogatepass"))
        sig = _footer_signature(pq.read_metadata(first))
    except (OSError, pa.ArrowInvalid):
        return None
    if sig is None:
        return None
    root = local_path(path)
    part_keys = {
        c.split("=", 1)[0].lower()
        for f in files
        if f != root
        for c in f.relative_to(root).parts[:-1]
        if "=" in c
    }
    if part_keys & {col[0].lower() for col in sig[0]}:
        return None
    return tuple(spark.conf.get(k) for k in _SCHEMA_CONFS), sig


def _data_schema(df: DataFrame) -> T.StructType | None:
    """The data columns (partition columns excluded) of a fresh
    ``spark.read.parquet`` relation, as Spark resolved them."""
    from pyspark.sql.types import _parse_datatype_json_string

    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    return _parse_datatype_json_string(plan.relation().dataSchema().json())


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job where
    the answer is already known.

    With ``schema``, read with it.  Otherwise look the data schema up in
    the memo of schemas Spark inferred before (``_schema_memo_key``): on a
    hit, read with it — Spark still discovers and types the partition
    columns from the directories, as on every read — and on a miss let
    Spark infer, then memoize what it found.  The key holds the one
    input inference reads, so a hit gives the schema inference would.
    A miss is stored only if the first file did not change while Spark
    inferred.  Non-local paths, globs, summary files and ``mergeSchema``
    keep plain inference."""
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    key = _schema_memo_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    inferred = []

    def infer() -> T.StructType | None:
        inferred.append(spark.read.parquet(path))
        if _schema_memo_key(spark, path) != key:
            return None
        return _data_schema(inferred[0])

    data = session_cache.get(spark, "schema", key, infer)
    if inferred:
        return inferred[0]
    return spark.read.schema(data).parquet(path)


def _read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    return session_cache.get(spark, "relation", path, lambda: read_parquet(spark, path))


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (events gets the normalized TIMESTAMP ts).

    Sets UTC session TZ defensively so timestamp values compare cleanly
    against the DuckDB oracle regardless of who built the session."""
    tune(spark)
    _allow_nanos(spark)
    df = _read_parquet_cached(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = with_ts(df)
    return df


def events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` with `ts` left in its physical layout (int64 nanos or
    native timestamp).  Time-range operators filter this column with
    `ts_bound`/`ts_lit` literals so the comparison reaches the parquet scan
    as a pushed filter, then convert with `with_ts` on the survivors."""
    tune(spark)
    _allow_nanos(spark)
    return _read_parquet_cached(spark, f"{sf_dir}/events.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql paths)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
