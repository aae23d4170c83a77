"""The engine's one store of session state, and what may live in it.

Each kind is something a session would otherwise recompute on every use:
``relation`` (a resolved parquet read per path: ~0.1-0.2 s of listing and
py4j work, and ``catalog.table()`` runs many times per query), ``schema``
(a schema Spark inferred, keyed by exactly what inference reads),
``corpus_bands`` and ``even_half_state`` (the dedup verdicts' shared
state), ``verdict_model`` (two entries per data dir for the ANN recall
verdicts: the ground truth all four read, and that truth plus the
training the IVF three share) — each a pure function of one table,
fingerprinted by its file stats — and ``warm`` (``warm_start`` ran).
Nothing else: ordinary registry queries keep their own plans, so no
cached result stands in for a query's work.  Values must stay valid
while their input is unchanged: writers that
replace a table's files call ``drop("relation", path)``, and a changed
fingerprint rebuilds.

Entries belong to their SparkContext and die with it: every miss evicts
the entries of stopped sessions.  A rebuild for a new fingerprint
releases the value it replaces — the ``localCheckpoint`` blocks behind a
``DataFrame``, or behind each field of a tuple such as ``DedupState`` —
so regenerating a table leaks nothing; a frame built on the old value
fails if run again.  A build that returns ``None`` is not stored.  The
map changes under one lock and builds run outside it; when two threads
build one entry, the first stored wins.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession

_ENTRIES: dict[tuple, tuple] = {}  # (app id, kind, key) -> (owner, fingerprint, value)
_SECONDS: defaultdict[str, float] = defaultdict(float)
_LOCK = threading.Lock()
_BUILT = threading.local()  # .s: seconds of the builds this thread finished


def _alive(spark: SparkSession) -> bool:
    """Whether the session's SparkContext still runs: a stopped context
    nulls its JVM handle, so this is a local check, no py4j round-trip."""
    return getattr(getattr(spark, "sparkContext", None), "_jsc", None) is not None


def _release(value) -> None:
    for df in value if isinstance(value, tuple) else (value,):
        if isinstance(df, DataFrame):
            plan = df._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(True)


def get(spark: SparkSession, kind: str, key, build, fingerprint=None):
    """The value of ``(kind, key)`` in this session if it was built for
    ``fingerprint``; otherwise ``build()``, stored and returned."""
    k = (spark.sparkContext.applicationId, kind, key)
    hit = _ENTRIES.get(k)
    if hit is not None and hit[1] == fingerprint:
        return hit[2]
    t0, before = time.perf_counter(), getattr(_BUILT, "s", 0.0)
    value = build()
    took = time.perf_counter() - t0
    nested, _BUILT.s = getattr(_BUILT, "s", 0.0) - before, before + took
    with _LOCK:
        _SECONDS[kind] += took - nested
        for ek, (owner, _, _) in list(_ENTRIES.items()):
            if not _alive(owner):
                del _ENTRIES[ek]
        if value is None:
            return None
        old = _ENTRIES.get(k)
        if old is not None and old[1] == fingerprint:
            stale, value = value, old[2]
        else:
            stale = old and old[2]
            _ENTRIES[k] = (spark, fingerprint, value)
    _release(stale)
    return value


def drop(kind: str, key) -> None:
    """Forget ``(kind, key)`` in every session, releasing live values."""
    with _LOCK:
        gone = [_ENTRIES.pop(k) for k in list(_ENTRIES) if k[1:] == (kind, key)]
    for owner, _, value in gone:
        if _alive(owner):
            _release(value)


def build_seconds(kind: str) -> float:
    """Seconds this process spent building ``kind`` values, not counting
    builds of other kinds nested inside them."""
    return _SECONDS.get(kind, 0.0)
