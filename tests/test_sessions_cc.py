"""Semantic tests for the session/EWMA block and connected components
(the oracle diff covers the SQL-checkable side; these pin the semantics
that SQL cannot — the EWMA recurrence and the CC fixpoint)."""

from __future__ import annotations

from low_latency_time_series_database_tsdb_for_market_data_spark.operators.llm.dedup import (
    candidate_edges,
    connected_components,
)
from low_latency_time_series_database_tsdb_for_market_data_spark.registry import (
    load_all,
)

REG = load_all()


def _round4(y: float) -> float:
    """``y`` rounded to 4 decimals as q39 (and DuckDB's ``ROUND(y, 4)``)
    round it: the double ``y * 1e4`` to the nearest integer, halves away
    from zero, divided back.  Python's ``round(y, 4)`` rounds the exact
    binary value of ``y`` instead, and ``round(y * 1e4)`` halves to
    even."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(y * 1e4).to_integral_value(ROUND_HALF_UP)) / 1e4


def test_round4_takes_half_way_products_away_from_zero():
    y = 459.31084999999996
    assert y * 1e4 == 4593108.5
    assert _round4(y) == 459.3109 and round(y, 4) == 459.3108
    assert _round4(-y) == -459.3109
    assert _round4(0.00005) == 0.0001 and round(0.5) == 0


def test_connected_components_golden(spark):
    """Chain 1-2-3 and pair 10-11 resolve to min-labeled components."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a bigint, b bigint"
    )
    got = {
        r.doc_id: r.cluster_id for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_closes_candidate_edges(spark, sf_dir):
    """Every candidate edge must land inside one cluster (CC is a
    closure of the edge set)."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.catalog import (
        table,
    )

    docs = table(spark, sf_dir, "documents")
    edges = candidate_edges(docs, 8).collect()
    labels = {
        r.doc_id: r.cluster_id
        for r in connected_components(
            spark.createDataFrame(edges, "a bigint, b bigint")
        ).collect()
    }
    assert all(labels[e.a] == labels[e.b] for e in edges)


def test_ewma_recurrence(spark, sf_dir):
    """q39's output must satisfy y_t = a*x_t + (1-a)*y_{t-1} per symbol
    (checked against a pure-Python scan of the same ordered stream,
    rounded as q39 rounds)."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.catalog import (
        table,
    )

    ev = (
        table(spark, sf_dir, "events")
        .select("event_id", "event_type", "ts", "value")
        .collect()
    )
    got = {
        r.event_id: r.ewma for r in REG["q39_ewma"].fn(spark, sf_dir).collect()
    }
    by_type: dict[str, list] = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append(r)
    a = 0.1
    checked = 0
    for rows in by_type.values():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        y = None
        for r in rows:
            y = r.value if y is None else a * r.value + (1 - a) * y
            assert abs(got[r.event_id] - _round4(y)) <= 1e-9, r.event_id
            checked += 1
    assert checked == len(ev)


def test_ewma_rounds_half_way_values_like_duckdb(spark, tmp_path):
    """One event per event_type, so each EWMA is its own value: q39 must
    round these near-half-way doubles exactly as the oracle's ROUND."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    values = [264.54155, 341.75305, 459.31084999999996]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([0, 0, 0], pa.timestamp("us")),
            "user_id": pa.array([1, 1, 1], pa.int64()),
            "event_type": ["click", "view", "buy"],
            "value": values,
            "props": ["", "", ""],
        }),
        tmp_path / "events.parquet",
    )
    q = REG["q39_ewma"]
    got = sorted((r.event_id, r.ewma) for r in q.fn(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    want = sorted(con.execute(f"SELECT event_id, ewma FROM ({q.oracle})").fetchall())
    con.close()
    assert got == want


def test_approx_percentile_close_to_exact(spark, sf_dir):
    """q73's t-digest estimates must track q27's exact interpolated
    percentiles (2% relative — the sketch returns an actual data value,
    the exact form interpolates between two)."""
    exact = {r.l_returnflag: r for r in REG["q27_percentiles"].fn(spark, sf_dir).collect()}
    approx = {
        r.l_returnflag: r
        for r in REG["q73_approx_percentile"].fn(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for flag, e in exact.items():
        a = approx[flag]
        for p in ("p25", "p50", "p75"):
            assert abs(getattr(a, p) - getattr(e, p)) <= 0.02 * abs(getattr(e, p)), (
                flag,
                p,
            )


def test_sessionize_conserves_events(spark, sf_dir):
    """q37 invariants: every event lands in exactly one session, session
    ids are dense from 1 per user, durations are non-negative."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.catalog import (
        table,
    )

    rows = REG["q37_sessionize"].fn(spark, sf_dir).collect()
    total = table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows) == total
    by_user = {}
    for r in rows:
        assert r.dur_us >= 0 and r.n_events >= 1
        by_user.setdefault(r.user_id, []).append(r.session_id)
    for sids in by_user.values():
        assert sorted(sids) == list(range(1, len(sids) + 1))


def test_rolling_time_window_inclusive_bound(spark):
    """q74's RANGE frame must include a tick exactly 1 hour old
    (inclusive bound, like the reference's range scan, S4) and exclude
    one a microsecond older."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    rows = [
        (1, "A", 0, 10.0),                    # exactly 1h before row 3
        (2, "A", 1, 20.0),                    # 1h + 1us before row 4
        (3, "A", 3_600_000_000, 1.0),
        (4, "A", 3_600_000_001 + 1_000_000, 2.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, event_type string, us bigint, value double"
    ).select(
        "event_id",
        "event_type",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "value",
    )
    w = (
        W.partitionBy("event_type")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    got = {
        r.event_id: r.n
        for r in df.select(
            "event_id", F.count(F.lit(1)).over(w).alias("n")
        ).collect()
    }
    assert got[3] == 3  # rows 1 (exactly -1h, inclusive), 2, 3
    assert got[4] == 2  # row 2 fell out (older than 1h), rows 3, 4


def test_connected_components_raises_when_not_converged(spark):
    """A diameter-6 chain cannot reach fixpoint in 2 rounds: the silent
    partial-label failure mode must be a loud error instead."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "a bigint, b bigint"
    )
    # small_graph_max=0 forces the distributed loop (the driver fast
    # path always converges, so the loud-failure contract is the loop's)
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(chain, max_iter=2, small_graph_max=0)
    got = {r.doc_id: r.cluster_id
           for r in connected_components(
               chain, max_iter=10, small_graph_max=0).collect()}
    assert set(got.values()) == {1}


def test_cc_driver_fast_path_equals_distributed(spark):
    """The size-dispatched union-find must emit IDENTICAL rows to the
    distributed min-label loop on assorted graph shapes (chains, stars,
    cycles, merged components, self-loops)."""
    import random

    rng = random.Random(13)
    shapes = {
        "chain": [(i, i + 1) for i in range(1, 9)],
        "star": [(5, i) for i in range(6, 16)],
        "cycle": [(1, 2), (2, 3), (3, 1)],
        "two_comps_merge": [(1, 2), (3, 4), (2, 3), (10, 11)],
        "random": [
            (rng.randrange(50), rng.randrange(50)) for _ in range(120)
        ],
        "self_loops": [(7, 7), (7, 8)],
    }
    for name, edge_list in shapes.items():
        edges = spark.createDataFrame(edge_list, "a bigint, b bigint")
        fast = sorted(
            (r.doc_id, r.cluster_id)
            for r in connected_components(edges).collect()
        )
        dist = sorted(
            (r.doc_id, r.cluster_id)
            for r in connected_components(
                edges, small_graph_max=0
            ).collect()
        )
        assert fast == dist, f"fast path diverges on {name}"
        # cluster_id is the component minimum
        by_cluster = {}
        for v, c in fast:
            by_cluster.setdefault(c, []).append(v)
        for c, members in by_cluster.items():
            assert c == min(members)
