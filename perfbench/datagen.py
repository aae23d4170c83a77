"""Seeded synthetic inputs for the benchmark.

``write_tables`` writes the ten tables the registry queries read
(``region nation customer supplier part orders lineitem events documents
embeddings``), one parquet file each, with the schemas and value
distributions of the repo's reference fixtures (FIXTURES.md section B):
TPC-H-shaped dimensions, a 30-day ``events`` stream sorted by ``ts``, a
30-word ``documents`` corpus in which about 5% of documents are copies of
an earlier one with `` dup`` appended, and 64-dim unit ``embeddings``.
Row counts scale with ``sf`` exactly as the fixtures do.

``tick_csv`` and ``event_batch`` make the tick-ingest inputs: CSV batches
in the reference importer's format with the FIXTURES F2 malformed-line
kinds mixed in, and events-layout parquet files for the streaming source.

The same seed always gives the same bytes of data.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

PROBE_NEIGHBOURS = 24
PROBE_FILTER_LABEL = 3

EVENTS_T0 = dt.datetime(2024, 1, 1)
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
_EPOCH = dt.datetime(1970, 1, 1)
EVENTS_T0_US = (EVENTS_T0 - _EPOCH) // dt.timedelta(microseconds=1)


def _days(lo: dt.date, hi: dt.date, n: int, rng: np.random.Generator) -> pa.Array:
    """n random midnights in [lo, hi] as timestamp[us]."""
    d = rng.integers(0, (hi - lo).days + 1, n)
    base = (dt.datetime.combine(lo, dt.time()) - _EPOCH) // dt.timedelta(microseconds=1)
    return pa.array(base + d * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def events_table(rng: np.random.Generator, n: int, n_users: int,
                 first_id: int = 0, t0_us: int | None = None,
                 span_us: int = EVENTS_SPAN_US) -> pa.Table:
    """`n` events with distinct, ts-sorted microsecond timestamps."""
    if t0_us is None:
        t0_us = EVENTS_T0_US
    off = np.unique(rng.integers(0, span_us, n + n // 10 + 16))
    off = np.sort(rng.choice(off, n, replace=False))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(t0_us + off, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Random unit vectors, except that the probe vector of the recall
    verdicts (vec_id 0, queries q204 and q253) gets a planted
    neighbourhood: PROBE_NEIGHBOURS near copies, half of them carrying
    the verdicts' filter label.  Among uniformly random 64-dim vectors the
    true top-10 sits barely closer than the rest, so whether the PQ and
    IVF shortlists reach recall@10 >= 0.9 would be left to the seed."""
    x = rng.normal(size=(n, 64))
    label = rng.integers(0, 10, n)
    near = rng.choice(np.arange(1, n), PROBE_NEIGHBOURS, replace=False)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x[near] = x[0] + rng.normal(scale=0.05, size=(PROBE_NEIGHBOURS, 64))
    label[near[: PROBE_NEIGHBOURS // 2]] = PROBE_FILTER_LABEL
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_li = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _keyed_names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _keyed_names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord, rng),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li, rng),
        }
    )
    t["events"] = events_table(rng, n_ev, max(1, round(15_000 * sf)))
    t["documents"] = _documents(rng, max(500, round(50_000 * sf)))
    t["embeddings"] = _embeddings(rng, max(500, round(20_000 * sf)))
    return t


def write_tables(dest: Path, sf: float, seed: int) -> None:
    """Write every table under ``dest`` as ``<name>.parquet``."""
    dest.mkdir(parents=True, exist_ok=True)
    for name, tbl in build_tables(sf, seed).items():
        pq.write_table(tbl, dest / f"{name}.parquet")


def tick_csv(path: Path, rng: np.random.Generator, n: int, t0: int,
             n_bad: int = 4) -> list[tuple[int, str, int]]:
    """Write an importer CSV of ``n`` valid ticks (1 Hz from ``t0`` with
    occasional repeated timestamps) plus ``n_bad`` malformed lines of the
    F2 kinds; returns the valid (ts, price text, volume) rows in file order.
    Every fourth malformed line is a 4-field row, which imports with its
    extra token ignored and so is counted as valid."""
    ts = t0 + np.arange(n) - (rng.random(n) < 0.05)
    cents = rng.integers(10_000, 20_000, n)
    vol = rng.integers(100, 10_000, n)
    lines = [f"{t},{c // 100}.{c % 100:02d},{v}" for t, c, v in zip(ts, cents, vol)]
    rows = [(int(t), f"{c // 100}.{c % 100:02d}", int(v)) for t, c, v in zip(ts, cents, vol)]
    for k in range(n_bad):
        at = int(rng.integers(0, len(lines) + 1))
        kind = k % 4
        if kind == 0:
            lines.insert(at, "bad,line")
        elif kind == 1:
            lines.insert(at, f"{t0},xx,30")
        elif kind == 2:
            lines.insert(at, "garbage")
        else:
            # valid extra-token row: lands in file order among the others
            before = sum(1 for ln in lines[:at] if _valid(ln))
            t = t0 + n
            lines.insert(at, f"{t},50.50,10,extra")
            rows.insert(before, (t, "50.50", 10))
    path.write_text("timestamp,price,volume\n" + "\n".join(lines) + "\n")
    return rows


def _valid(line: str) -> bool:
    f = line.split(",")
    if len(f) < 3:
        return False
    try:
        int(f[0]), float(f[1]), int(f[2])
    except ValueError:
        return False
    return True


def event_batch(path: Path, rng: np.random.Generator, n: int, first_id: int,
                t0_us: int, span_us: int) -> pa.Table:
    """One events-layout parquet file for the streaming source."""
    tbl = events_table(rng, n, 150, first_id=first_id, t0_us=t0_us, span_us=span_us)
    pq.write_table(tbl, path)
    return tbl
