"""Streaming ingest equivalence: AvailableNow stream-ingest of the events
table must equal the direct batch load (SURVEY.md §5.2), and the
watermarked windowed aggregate must equal its batch twin over on-time data."""

from __future__ import annotations

import shutil
import tempfile

import pandas as pd

from pyspark.sql import functions as F

from low_latency_time_series_database_tsdb_for_market_data_spark.catalog import table
from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
    ingest_available_now,
    windowed_counts_stream,
)
from low_latency_time_series_database_tsdb_for_market_data_spark.ticks import tick_view


def test_stream_ingest_equals_batch(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="tsdb_stream_")
    try:
        ingest_available_now(
            spark,
            f"{sf_dir}/events*.parquet",
            f"{tmp}/table",
            f"{tmp}/ckpt",
        )
        ingested = spark.read.parquet(f"{tmp}/table")
        direct = tick_view(spark, sf_dir)
        assert ingested.count() == direct.count()
        # value-level equivalence on a deterministic digest
        def digest(df):
            return df.agg(
                F.sum("seq").alias("s"),
                F.sum(F.round(F.col("price") * 100).cast("bigint")).alias("p"),
                F.sum("volume").alias("v"),
                F.countDistinct("symbol").alias("k"),
                F.max("ts").alias("mx"),
                F.min("ts").alias("mn"),
            ).collect()[0]
        assert digest(ingested) == digest(direct)
        # layout contract: partitioned by symbol
        names = {r.symbol for r in ingested.select("symbol").distinct().collect()}
        assert len(names) >= 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_windowed_stream_equals_batch_twin(spark, sf_dir):
    agg = windowed_counts_stream(spark, f"{sf_dir}/events*.parquet")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.sql(
        "SELECT window.start AS bucket, event_type, n, avg_value FROM win_out"
    )
    ev = table(spark, sf_dir, "events")
    batch = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0
            / F.count(F.lit(1)),
            4,
        ).alias("avg_value"),
    )
    a = sorted(streamed.collect())
    b = sorted(batch.collect())
    assert a == b


def _run_to_memory(df, name, mode="complete"):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_sliding_vwap_stream_equals_batch(spark, sf_dir):
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        sliding_vwap_stream,
        tick_stream,
    )

    stream = tick_stream(spark, f"{sf_dir}/events*.parquet")
    _run_to_memory(sliding_vwap_stream(stream), "vwap_out")
    streamed = spark.sql(
        "SELECT w.start AS ws, symbol, n, vwap FROM vwap_out"
    )
    ev = table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            F.col("event_type").alias("symbol"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.try_divide(
                    F.sum(
                        F.round(F.col("value") * F.col("user_id") * 100).cast(
                            "bigint"
                        )
                    ),
                    100 * F.sum(F.col("user_id")),
                ),
                4,
            ).alias("vwap"),
        )
        .select(F.col("w.start").alias("ws"), "symbol", "n", "vwap")
    )
    assert sorted(streamed.collect()) == sorted(batch.collect())


def test_session_window_stream_runs(spark, sf_dir):
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        session_window_stream,
        tick_stream,
    )

    stream = tick_stream(spark, f"{sf_dir}/events*.parquet")
    _run_to_memory(session_window_stream(stream), "sess_out")
    rows = spark.sql(
        "SELECT w.start AS s, w.end AS e, symbol, n FROM sess_out"
    ).collect()
    assert rows
    # sessions are disjoint per symbol and each holds >=1 event
    by_sym = {}
    for r in rows:
        assert r.n >= 1 and r.s < r.e
        by_sym.setdefault(r.symbol, []).append((r.s, r.e))
    for spans in by_sym.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2
    # total events conserved
    ev = table(spark, sf_dir, "events")
    assert sum(r.n for r in rows) == ev.count()


def test_dedup_stream_drops_in_batch_duplicates(spark, sf_dir, tmp_path):
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        dedup_stream,
        tick_stream,
    )

    # duplicate the whole events file inside one source dir -> every
    # event_id arrives twice in the same micro-batch
    src = tmp_path / "dup"
    src.mkdir()
    import glob as _glob
    import shutil as _shutil

    for i, f in enumerate(_glob.glob(f"{sf_dir}/events.parquet")):
        _shutil.copy(f, src / f"a{i}.parquet")
        _shutil.copy(f, src / f"b{i}.parquet")
    stream = dedup_stream(tick_stream(spark, str(src)))
    _run_to_memory(stream.select("event_id"), "dedup_out", mode="append")
    got = spark.sql("SELECT COUNT(*) AS n FROM dedup_out").collect()[0].n
    ev = table(spark, sf_dir, "events")
    assert got == ev.count()


def test_symbol_snapshot_stateful_stream(spark, sf_dir):
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        symbol_snapshot_stream,
        tick_stream,
    )

    ticks = tick_stream(spark, f"{sf_dir}/events*.parquet").select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("ts"),  # raw layout (nanos long OR timestamp) — state folds either
        F.col("value").alias("price"),
        F.col("user_id").alias("volume"),
        F.col("event_id").alias("seq"),
    )
    _run_to_memory(symbol_snapshot_stream(ticks), "snap_out", mode="update")
    # AvailableNow may run several micro-batches; the LAST snapshot per
    # symbol must equal the batch aggregate over all rows
    snaps = spark.sql("SELECT * FROM snap_out").toPandas()
    final = snaps.sort_index().groupby("symbol").last()
    ev = tick_view(spark, sf_dir).toPandas()
    import pandas as pd

    for sym, grp in ev.groupby("symbol"):
        row = final.loc[sym]
        assert int(row["n"]) == len(grp)
        last = grp.sort_values("seq").iloc[-1]
        assert abs(float(row["last_price"]) - float(last["price"])) < 1e-9
        assert abs(float(row["min_price"]) - float(grp["price"].min())) < 1e-9
        assert abs(float(row["max_price"]) - float(grp["price"].max())) < 1e-9
        assert (
            abs(
                float(row["sum_pv"])
                - float((grp["price"] * grp["volume"]).sum())
            )
            < 1e-6
        )


def test_continuous_rollup_equals_batch_ohlc(spark, sf_dir, tmp_path):
    """Multi-batch incremental rollup == one-shot batch OHLC: batch
    boundaries must be invisible (partial aggregates form a monoid)."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.rollup import (
        compact_rollup,
        continuous_ohlc,
        read_bars,
    )

    # split events into 3 files so AvailableNow + maxFilesPerTrigger=1
    # yields 3 micro-batches with buckets spanning batch boundaries
    src = str(tmp_path / "src")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev_raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev_raw.repartitionByRange(3, "event_id").write.parquet(src)

    continuous_ohlc(
        spark,
        src,
        str(tmp_path / "rollup"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    bars = read_bars(spark, str(tmp_path / "rollup"))

    ticks = tick_view(spark, sf_dir)
    direct = (
        ticks.groupBy(
            "symbol", F.window("ts", "1 hour")["start"].alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct("ts", "seq", "price"))["price"].alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max(F.struct("ts", "seq", "price"))["price"].alias("close"),
            F.round(
                F.sum(F.round(F.col("price") * 100).cast("bigint")) / 100.0
                / F.count(F.lit(1)),
                4,
            ).alias("avg_price"),
        )
        .select(
            "symbol", "bucket", "n", "open", "high", "low", "close", "avg_price"
        )
    )
    got = sorted(bars.select(*direct.columns).collect())
    want = sorted(direct.collect())
    assert got == want

    # compaction preserves the merged result
    compact_rollup(spark, str(tmp_path / "rollup"), str(tmp_path / "compacted"))
    compacted = read_bars(spark, str(tmp_path / "compacted"))
    assert sorted(compacted.select(*direct.columns).collect()) == want


def test_rollup_compaction_cycles_sf01(spark, tmp_path):
    """Production maintenance loop at sf0.1 (100k events): THREE
    ingest -> compact cycles, each appending new partials to the live
    rollup table and then re-reducing it IN PLACE (swap).  Pins the
    merge-on-read algebra across compaction generations: after every
    cycle the table holds exactly one row per (symbol, bucket), and the
    final read equals the one-shot batch OHLC over the full corpus —
    monoid fields bit-exactly, the double-sum average to the rounding
    quantum (partial sums re-associate across batch/compaction
    boundaries)."""
    import shutil
    from pathlib import Path

    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.rollup import (
        compact_rollup,
        continuous_ohlc,
        read_bars,
    )

    sf01 = "/root/testdata/sf0.1"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    staged = str(tmp_path / "staged")
    spark.read.parquet(f"{sf01}/events.parquet").repartitionByRange(
        6, "event_id"
    ).write.parquet(staged)
    files = sorted(Path(staged).glob("part-*.parquet"))
    assert len(files) == 6
    src = tmp_path / "src"
    src.mkdir()
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    for cycle in range(3):
        for f in files[cycle * 2 : (cycle + 1) * 2]:
            shutil.copy(f, src / f.name)
        # the checkpoint makes each run process only the newly arrived
        # files — this IS the perpetual trigger, run in 3 slices
        continuous_ohlc(spark, str(src), rollup, ckpt, max_files_per_trigger=1)
        compacted = str(tmp_path / f"compact{cycle}")
        compact_rollup(spark, rollup, compacted)
        shutil.rmtree(rollup)
        shutil.move(compacted, rollup)
        merged = spark.read.parquet(rollup)
        assert (
            merged.groupBy("symbol", "bucket")
            .count()
            .where("count > 1")
            .count()
            == 0
        ), "compaction left duplicate partials"

    bars = read_bars(spark, rollup)
    direct = (
        tick_view(spark, sf01)
        .groupBy("symbol", F.window("ts", "1 hour")["start"].alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct("ts", "seq", "price"))["price"].alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max(F.struct("ts", "seq", "price"))["price"].alias("close"),
            (F.sum("price") / F.count(F.lit(1))).alias("avg_exact"),
        )
    )
    j = bars.alias("b").join(direct.alias("d"), ["symbol", "bucket"], "full")
    assert j.where("b.n IS NULL OR d.n IS NULL").count() == 0
    assert (
        j.where(
            "b.n <> d.n OR b.open <> d.open OR b.high <> d.high "
            "OR b.low <> d.low OR b.close <> d.close"
        ).count()
        == 0
    )
    assert (
        j.where("abs(b.avg_price - d.avg_exact) > 1e-4").count() == 0
    )


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    from low_latency_time_series_database_tsdb_for_market_data_spark.registry import (
        load_all,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        interval_pair_stream,
    )

    pairs = interval_pair_stream(spark, f"{sf_dir}/events*.parquet")
    _run_to_memory(pairs, "ssjoin_out", mode="append")
    streamed = sorted(
        (r.event_type, r.id_a, r.id_b)
        for r in spark.sql("SELECT * FROM ssjoin_out").collect()
    )
    batch = sorted(
        (r.event_type, r.id_a, r.id_b)
        for r in load_all()["q17_interval_join"].fn(spark, sf_dir).collect()
    )
    assert streamed == batch


def _write_ordered_files(tmp_path, splits, spark):
    """Write each DataFrame in `splits` as one parquet file under
    events.parquet/ with strictly increasing mtimes, so the file stream
    source (oldest-first) replays them as ordered micro-batches."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import time as _time

    dest = tmp_path / "events.parquet"
    dest.mkdir(parents=True, exist_ok=True)
    base = _time.time() - 1000
    for i, df in enumerate(splits):
        part = tmp_path / f"part{i}"
        df.coalesce(1).write.parquet(str(part))
        f = _glob.glob(str(part / "*.parquet"))[0]
        out = dest / f"{i:02d}.parquet"
        _shutil.copy(f, out)
        _os.utime(out, (base + 10 * i, base + 10 * i))
    return str(tmp_path)


def test_gap_alert_stream_matches_batch_q87(spark, sf_dir, tmp_path):
    """Closed-gap alerts across micro-batch boundaries must reproduce the
    batch q87 report exactly: per symbol, alert count == n_gaps, summed
    gap == gap_time_us, max gap == max_gap_us.  The fixture is re-split
    into 3 time-ordered files so state must carry last_ts ACROSS batches
    (a boundary-crossing gap is invisible to any single batch)."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.registry import (
        load_all,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        gap_alert_stream,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.ingest import (
        open_tick_stream,
    )

    ev = table(spark, sf_dir, "events")
    p33, p66 = (
        ev.selectExpr(
            "percentile(unix_micros(ts), array(0.33, 0.66)) AS p"
        ).collect()[0][0]
    )
    us = F.unix_micros("ts")
    splits = [
        ev.where(us <= int(p33)),
        ev.where((us > int(p33)) & (us <= int(p66))),
        ev.where(us > int(p66)),
    ]
    sf = _write_ordered_files(tmp_path, splits, spark)

    stream = open_tick_stream(
        spark, f"{sf}/events.parquet", max_files_per_trigger=1
    )
    ticks = stream.select(
        F.col("event_type").alias("symbol"), F.col("ts_event").alias("ts")
    )
    _run_to_memory(gap_alert_stream(ticks, gap_s=300), "gap_out", mode="append")
    alerts = spark.sql("SELECT * FROM gap_out").toPandas()
    assert not alerts.open_gap.any()

    batch = {
        r["event_type"]: r
        for r in load_all()["q87_gap_report"].fn(spark, sf).collect()
    }
    got = alerts.groupby("symbol")
    for sym, row in batch.items():
        if row["n_gaps"] == 0:
            assert sym not in got.groups
            continue
        g = got.get_group(sym)
        assert len(g) == row["n_gaps"]
        assert int(g.gap_us.sum()) == row["gap_time_us"]
        assert int(g.gap_us.max()) == row["max_gap_us"]


def test_gap_alert_stream_open_timeout(spark, tmp_path):
    """open_alerts=True pages on STILL-OPEN silence: once the watermark
    passes a symbol's last tick by more than the threshold, the event-time
    timeout fires exactly one open-gap alert for it — the case no
    arrival-driven check can raise (the symbol never ticks again)."""
    import datetime as dt

    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        gap_alert_stream,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.ingest import (
        open_tick_stream,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )

    def rows(*specs):
        return spark.createDataFrame(
            [
                (i, t0 + dt.timedelta(seconds=s), 1, sym, 1.0, "{}")
                for i, (sym, s) in enumerate(specs)
            ],
            schema,
        )

    splits = [
        rows(("A", 0), ("B", 0)),
        rows(("B", 600)),   # A silent; B closes a 600 s gap
        rows(("B", 1200)),  # watermark now passes A's 300 s deadline
    ]
    sf = _write_ordered_files(tmp_path, splits, spark)

    stream = open_tick_stream(
        spark, f"{sf}/events.parquet", max_files_per_trigger=1
    )
    ticks = stream.select(
        F.col("event_type").alias("symbol"), F.col("ts_event").alias("ts")
    ).withWatermark("ts", "0 seconds")
    _run_to_memory(
        gap_alert_stream(ticks, gap_s=300, open_alerts=True),
        "gap_open_out",
        mode="append",
    )
    alerts = spark.sql("SELECT * FROM gap_open_out").toPandas()

    t0_us = int(t0.timestamp()) * 1_000_000
    opened = alerts[alerts.open_gap]
    assert list(opened.symbol) == ["A"]
    assert int(opened.gap_start_us.iloc[0]) == t0_us
    assert int(opened.gap_end_us.iloc[0]) == -1
    closed = alerts[~alerts.open_gap]
    assert list(closed.symbol) == ["B", "B"]
    assert set(closed.gap_us) == {600 * 1_000_000}


def test_burst_alert_stream_matches_causal_replay(spark, sf_dir, tmp_path):
    """Streaming burst alerts across 3 micro-batches must equal a causal
    pandas replay of the same integer rule (cnt*nm > 2*tot over minutes
    closed so far, warmup 5) — state must carry (open minute, running
    totals) ACROSS batch boundaries, and each symbol's final minute never
    closes, so it must never alert."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        burst_alert_stream,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.ingest import (
        open_tick_stream,
    )

    ev = table(spark, sf_dir, "events")
    p33, p66 = (
        ev.selectExpr(
            "percentile(unix_micros(ts), array(0.33, 0.66)) AS p"
        ).collect()[0][0]
    )
    us = F.unix_micros("ts")
    splits = [
        ev.where(us <= int(p33)),
        ev.where((us > int(p33)) & (us <= int(p66))),
        ev.where(us > int(p66)),
    ]
    sf = _write_ordered_files(tmp_path, splits, spark)

    stream = open_tick_stream(
        spark, f"{sf}/events.parquet", max_files_per_trigger=1
    )
    ticks = stream.select(
        F.col("event_type").alias("symbol"), F.col("ts_event").alias("ts")
    )
    _run_to_memory(
        burst_alert_stream(ticks, factor=2, warmup=5),
        "burst_out",
        mode="append",
    )
    got = spark.sql("SELECT * FROM burst_out").toPandas()

    # causal replay: identical integer rule over the full in-order tape
    raw = (
        ev.select(
            F.col("event_type").alias("symbol"),
            (F.floor(F.unix_micros("ts") / 60_000_000) * 60_000_000).alias(
                "minute_us"
            ),
        )
        .groupBy("symbol", "minute_us")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .toPandas()
    )
    expect = []
    for sym, g in raw.groupby("symbol"):
        g = g.sort_values("minute_us")
        nm = tot = 0
        rows = list(g.itertuples())
        for r in rows[:-1]:  # final minute never closes in the stream
            if nm >= 5 and r.cnt * nm > 2 * tot:
                expect.append((sym, int(r.minute_us), int(r.cnt), nm, tot))
            nm += 1
            tot += int(r.cnt)
    got_set = {
        (r.symbol, int(r.minute_us), int(r.n_ticks), int(r.prior_minutes),
         int(r.prior_ticks))
        for r in got.itertuples()
    }
    assert got_set == set(expect)


def test_burst_alert_planted_spike(spark, tmp_path):
    """A planted 10x minute fires exactly one alert with the right prior
    stats; steady minutes never alert; the spike minute still counts
    toward later minutes' denominator."""
    import datetime as dt

    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        burst_alert_stream,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.ingest import (
        open_tick_stream,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    rows = []
    eid = 0
    for minute in range(10):
        n = 20 if minute == 7 else 2  # 10x spike in minute 7
        for k in range(n):
            rows.append(
                (
                    eid,
                    t0 + dt.timedelta(minutes=minute, seconds=k),
                    1,
                    "A",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    df = spark.createDataFrame(rows, schema)
    sf = _write_ordered_files(tmp_path, [df], spark)

    stream = open_tick_stream(spark, f"{sf}/events.parquet")
    ticks = stream.select(
        F.col("event_type").alias("symbol"), F.col("ts_event").alias("ts")
    )
    _run_to_memory(
        burst_alert_stream(ticks, factor=2, warmup=5),
        "burst_plant_out",
        mode="append",
    )
    got = spark.sql("SELECT * FROM burst_plant_out").toPandas()
    assert len(got) == 1
    r = got.iloc[0]
    assert r.symbol == "A" and r.n_ticks == 20
    assert r.prior_minutes == 7 and r.prior_ticks == 14
    assert int(r.minute_us) == (int(t0.timestamp()) + 7 * 60) * 1_000_000


def test_streaming_centroid_scores_match_numpy(spark, sf_dir, tmp_path):
    """Train the integer centroid model in batch, score the embeddings
    as a FILE STREAM (AvailableNow), and compare every assignment to an
    independent numpy recompute of the same integer arithmetic — the
    train-offline/score-online loop with zero skew."""
    import numpy as np

    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        score_vector_stream,
        train_centroid_model,
    )

    model = train_centroid_model(spark, sf_dir)
    assert model and all(len(v) == 64 for v in model.values())

    src = tmp_path / "vecstream"
    src.mkdir()
    shutil.copy(f"{sf_dir}/embeddings.parquet", src / "part-0.parquet")
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = tmp_path / "scored"
    q = (
        score_vector_stream(stream, model)
        .select("vec_id", "label", "label_pred", "dist")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(out)).toPandas().set_index("vec_id")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    qm = np.floor(
        np.stack(emb.embedding.to_numpy()).astype("float64") * 10_000
    ).astype("int64")
    assert len(got) == len(emb)
    cents = {lbl: np.array(v, dtype="int64") for lbl, v in model.items()}
    for i, vid in enumerate(emb.vec_id):
        dists = sorted(
            (int(((qm[i] - c) ** 2).sum()), lbl) for lbl, c in cents.items()
        )
        assert (got.loc[vid].dist, got.loc[vid].label_pred) == dists[0], vid
    # the plan is a stateless narrow map: no state store directories
    assert not (tmp_path / "ckpt" / "state").exists()


def test_stream_static_enrich_equals_batch_join(spark, sf_dir, tmp_path):
    """Streaming events enriched with the customer dim must equal the
    batch join cell-for-cell (segment x event_type counts)."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.windows import (
        enrich_stream,
        tick_stream,
    )

    dim = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    src = tmp_path / "evstream"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-0.parquet")
    stream = tick_stream(spark, str(src))
    out = tmp_path / "enriched"
    q = (
        enrich_stream(stream, dim)
        .select("event_id", "event_type", "c_mktsegment")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.read.parquet(str(out))
        .groupBy("c_mktsegment", "event_type")
        .count()
        .toPandas()
        .set_index(["c_mktsegment", "event_type"])["count"]
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    expect = (
        ev.join(dim, ev.user_id == dim.c_custkey, "left")
        .groupBy("c_mktsegment", "event_type")
        .count()
        .toPandas()
        .set_index(["c_mktsegment", "event_type"])["count"]
    )
    assert got.sort_index().equals(expect.sort_index())
    assert not (tmp_path / "ckpt" / "state").exists()  # stateless plan


def test_streaming_soak_composed_pipeline_sf01(spark, tmp_path):
    """Soak (VERDICT r5 item 9, widened per r6 item 8): ONE composed
    live pipeline at sf0.1 — ingest -> continuous rollup (+ in-place
    compaction) -> gap + burst + OFI + volume-bar monitors -> centroid
    scorer — fed by SIX single-file delivery waves (six micro-batches
    per leg, checkpointed state carrying across every restart), with
    the end state of every leg asserted equal to its one-shot batch
    replay over the full corpus (OFI vs q155 closed minutes column by
    column, volume bars vs an independent pandas prefix-sum replay)."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import time as _time

    from low_latency_time_series_database_tsdb_for_market_data_spark.registry import (
        load_all,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.sources.writer import (
        read_ticks,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        burst_alert_stream,
        gap_alert_stream,
        ofi_stream,
        volume_bar_stream,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.ingest import (
        ingest_available_now,
        open_tick_stream,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.rollup import (
        compact_rollup,
        continuous_ohlc,
        read_bars,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.score import (
        score_vector_stream,
        train_centroid_model,
    )

    sf01 = "/root/testdata/sf0.1"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    n_waves = 6

    # --- stage six time-ordered event files + six embedding files ------
    ev = table(spark, sf01, "events")
    fracs = [i / n_waves for i in range(1, n_waves)]
    cuts = ev.selectExpr(
        f"percentile(unix_micros(ts), array({','.join(map(str, fracs))})) AS p"
    ).collect()[0][0]
    # the raw fixture ts may be TIMESTAMP_NTZ; cast is exact under the
    # catalog's pinned UTC session
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = [None, *[int(c) for c in cuts], None]
    ev_splits = []
    for i in range(n_waves):
        cond = F.lit(True)
        if bounds[i] is not None:
            cond = cond & (us > bounds[i])
        if bounds[i + 1] is not None:
            cond = cond & (us <= bounds[i + 1])
        ev_splits.append(spark.read.parquet(f"{sf01}/events.parquet").where(cond))
    emb = spark.read.parquet(f"{sf01}/embeddings.parquet")
    n_emb = emb.count()
    emb_splits = [
        emb.where(
            (F.col("vec_id") % n_waves) == i
        )
        for i in range(n_waves)
    ]

    def stage(splits, name):
        staged = []
        for i, df in enumerate(splits):
            part = tmp_path / f"{name}_stage{i}"
            df.coalesce(1).write.parquet(str(part))
            staged.append(_glob.glob(str(part / "*.parquet"))[0])
        return staged

    ev_files = stage(ev_splits, "ev")
    emb_files = stage(emb_splits, "emb")

    live = tmp_path / "live"
    (live / "events.parquet").mkdir(parents=True)
    (live / "embeddings.parquet").mkdir(parents=True)

    ticks_dir = str(tmp_path / "ticks_table")
    rollup = str(tmp_path / "rollup")
    ck = {n: str(tmp_path / f"ckpt_{n}")
          for n in ("ingest", "rollup", "gap", "burst", "ofi", "vbar",
                    "score")}

    model = train_centroid_model(spark, sf01)
    emb_schema = emb.schema

    # memory sinks cannot recover from checkpoints, so each monitored
    # leg appends its micro-batch output to a parquet dir via
    # foreachBatch — the restart-safe accumulation a real alert bus is
    out_dirs = {n: str(tmp_path / f"out_{n}")
                for n in ("gap", "burst", "ofi", "vbar", "score")}

    def run_leg(df, name):
        out = out_dirs[name]

        def sink(batch_df, epoch_id):
            if batch_df.count():
                batch_df.write.mode("append").parquet(out)

        q = (
            df.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ck[name])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    base = _time.time() - 1000
    for wave in range(n_waves):
        # deliver one more file to each live source
        dst_e = str(live / "events.parquet" / f"{wave:02d}.parquet")
        _shutil.copy(ev_files[wave], dst_e)
        _os.utime(dst_e, (base + 10 * wave, base + 10 * wave))
        dst_m = str(live / "embeddings.parquet" / f"{wave:02d}.parquet")
        _shutil.copy(emb_files[wave], dst_m)

        # leg 1: ingest into the partitioned tick table
        ingest_available_now(
            spark, str(live / "events.parquet"), ticks_dir, ck["ingest"]
        )
        # leg 2: continuous rollup; compact in place every second wave
        continuous_ohlc(
            spark,
            str(live / "events.parquet"),
            rollup,
            ck["rollup"],
            max_files_per_trigger=1,
        )
        if wave % 2 == 1:
            compacted = str(tmp_path / f"compact{wave}")
            compact_rollup(spark, rollup, compacted)
            _shutil.rmtree(rollup)
            _shutil.move(compacted, rollup)
        # legs 3+4: monitors (closed-gap mode, stateful across waves)
        mon_src = open_tick_stream(
            spark, str(live / "events.parquet"), max_files_per_trigger=1
        ).select(
            F.col("event_type").alias("symbol"), F.col("ts_event").alias("ts")
        )
        run_leg(gap_alert_stream(mon_src, gap_s=300), "gap")
        mon_src2 = open_tick_stream(
            spark, str(live / "events.parquet"), max_files_per_trigger=1
        ).select(
            F.col("event_type").alias("symbol"), F.col("ts_event").alias("ts")
        )
        run_leg(burst_alert_stream(mon_src2, factor=2, warmup=5), "burst")

        # legs 5+6: stateful microstructure monitors (per-minute OFI
        # with the tick-rule lag, volume-clock bars with the volume
        # prefix sum) — both carry state across every checkpointed
        # restart and only ever emit CLOSED groups
        def _tick_shaped():
            return open_tick_stream(
                spark, str(live / "events.parquet"), max_files_per_trigger=1
            ).select(
                F.col("event_type").alias("symbol"),
                F.col("ts_event").alias("ts"),
                F.col("value").alias("price"),
                F.col("user_id").alias("volume"),
                F.col("event_id").alias("seq"),
            )

        run_leg(ofi_stream(_tick_shaped()), "ofi")
        run_leg(volume_bar_stream(_tick_shaped(), bar_v=30_000), "vbar")

        # leg 7: stateless scorer over the embeddings stream
        emb_stream = (
            spark.readStream.schema(emb_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(live / "embeddings.parquet"))
        )
        run_leg(
            score_vector_stream(
                emb_stream.select("vec_id", "embedding"), model
            ).select("vec_id", "label_pred", "dist"),
            "score",
        )

    # --- end-state == batch replay, leg by leg -------------------------
    # ingest: every source row landed exactly once
    ingested = read_ticks(spark, ticks_dir)
    direct = tick_view(spark, sf01)
    assert ingested.count() == direct.count()
    def digest(df):
        return df.agg(
            F.sum("seq").alias("s"),
            F.sum(F.round(F.col("price") * 100).cast("bigint")).alias("p"),
            F.sum("volume").alias("v"),
            F.countDistinct("symbol").alias("k"),
            F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("mx"),
            F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("mn"),
        ).collect()[0]
    assert digest(ingested) == digest(direct)

    # rollup (through 3 in-place compactions): equals one-shot batch OHLC
    bars = read_bars(spark, rollup)
    ticks = tick_view(spark, sf01)
    direct_bars = (
        ticks.groupBy(
            "symbol", F.window("ts", "1 hour")["start"].alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct("ts", "seq", "price"))["price"].alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max(F.struct("ts", "seq", "price"))["price"].alias("close"),
            F.round(
                F.sum(F.round(F.col("price") * 100).cast("bigint")) / 100.0
                / F.count(F.lit(1)),
                4,
            ).alias("avg_price"),
        )
        .select(
            "symbol", "bucket", "n", "open", "high", "low", "close", "avg_price"
        )
    )
    assert sorted(bars.select(*direct_bars.columns).collect()) == sorted(
        direct_bars.collect()
    )

    # gap monitor: accumulated alerts across the 6 restarts == batch q87
    alerts = spark.read.parquet(out_dirs["gap"]).toPandas()
    assert not alerts.open_gap.any()
    batch = {
        r["event_type"]: r
        for r in load_all()["q87_gap_report"].fn(spark, str(live)).collect()
    }
    grouped = alerts.groupby("symbol")
    for sym, row in batch.items():
        if row["n_gaps"] == 0:
            assert sym not in grouped.groups
            continue
        g = grouped.get_group(sym)
        assert len(g) == row["n_gaps"]
        assert int(g.gap_us.sum()) == row["gap_time_us"]
        assert int(g.gap_us.max()) == row["max_gap_us"]

    # burst monitor: accumulated alerts == causal integer replay
    got_burst = spark.read.parquet(out_dirs["burst"]).toPandas()
    raw = (
        ev.select(
            F.col("event_type").alias("symbol"),
            (F.floor(F.unix_micros("ts") / 60_000_000) * 60_000_000).alias(
                "minute_us"
            ),
        )
        .groupBy("symbol", "minute_us")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .toPandas()
    )
    expect = []
    for sym, g in raw.groupby("symbol"):
        g = g.sort_values("minute_us")
        nm = tot = 0
        rows = list(g.itertuples())
        for r in rows[:-1]:  # the final minute never closes
            if nm >= 5 and r.cnt * nm > 2 * tot:
                expect.append((sym, int(r.minute_us), int(r.cnt), nm, tot))
            nm += 1
            tot += int(r.cnt)
    got_set = {
        (r.symbol, int(r.minute_us), int(r.n_ticks), int(r.prior_minutes),
         int(r.prior_ticks))
        for r in got_burst.itertuples()
    }
    assert got_set == set(expect)

    # OFI monitor: accumulated closed minutes across the 6 restarts ==
    # q155 batch replay minus each symbol's final (still-open) minute,
    # column by column
    got_ofi = spark.read.parquet(out_dirs["ofi"]).toPandas()
    ofi_batch = (
        load_all()["q155_order_flow_imbalance"].fn(spark, str(live)).toPandas()
    )
    ofi_batch["minute_us"] = (
        ofi_batch["minute"].to_numpy().astype("datetime64[us]").astype("int64")
    )
    last_m = ofi_batch.groupby("event_type")["minute_us"].transform("max")
    closed_ofi = ofi_batch[ofi_batch.minute_us < last_m]
    ofi_cols = ["symbol", "minute_us", "ofi", "total_volume", "n_ticks"]
    a = got_ofi.sort_values(["symbol", "minute_us"]).reset_index(drop=True)[
        ofi_cols
    ]
    b = (
        closed_ofi.rename(columns={"event_type": "symbol"})
        .sort_values(["symbol", "minute_us"])
        .reset_index(drop=True)[ofi_cols]
    )
    assert len(a) == len(b) and len(a) > 0
    for col in ofi_cols:
        assert (a[col].to_numpy() == b[col].to_numpy()).all(), f"ofi {col}"

    # volume-bar monitor: accumulated closed bars across the 6 restarts
    # == an independent pandas prefix-sum replay at the same bar size
    got_vb = spark.read.parquet(out_dirs["vbar"]).toPandas()
    tape = (
        ev.select(
            "event_type",
            "ts",
            "event_id",
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("c"),
        )
        .toPandas()
        .sort_values(["event_type", "ts", "event_id"])
    )
    vb_rows = []
    for sym, g in tape.groupby("event_type"):
        g = g.reset_index(drop=True)
        g = g.assign(bar=(g.user_id.cumsum() - g.user_id) // 30_000)
        for bar, bdf in g.groupby("bar"):
            vb_rows.append(
                (sym, bar, len(bdf), bdf.c.iloc[0], bdf.c.max(),
                 bdf.c.min(), bdf.c.iloc[-1], int(bdf.user_id.sum()))
            )
    vb_cols = ["symbol", "bar_id", "n_ticks", "open_c", "high_c",
               "low_c", "close_c", "bar_volume"]
    vb = pd.DataFrame(vb_rows, columns=vb_cols)
    last_b = vb.groupby("symbol")["bar_id"].transform("max")
    closed_vb = vb[vb.bar_id < last_b]
    a = got_vb.sort_values(["symbol", "bar_id"]).reset_index(drop=True)[
        vb_cols
    ]
    b = closed_vb.sort_values(["symbol", "bar_id"]).reset_index(drop=True)[
        vb_cols
    ]
    assert len(a) == len(b) and len(a) > 0
    for col in vb_cols:
        assert (a[col].to_numpy() == b[col].to_numpy()).all(), f"vbar {col}"

    # scorer: streamed scores across waves == the same map run in batch
    scored = spark.read.parquet(out_dirs["score"]).toPandas()
    assert len(scored) == n_emb
    batch_scored = (
        score_vector_stream(emb.select("vec_id", "embedding"), model)
        .select("vec_id", "label_pred", "dist")
        .toPandas()
    )
    a = scored.sort_values("vec_id").reset_index(drop=True)
    b = batch_scored.sort_values("vec_id").reset_index(drop=True)
    assert a.equals(b)


def test_ofi_stream_matches_batch_q155_closed_minutes(spark, sf_dir, tmp_path):
    """Streaming order-flow imbalance across 3 micro-batches must equal
    batch q155 on every CLOSED minute (each symbol's final minute stays
    open in the live monitor — a real-time operator cannot know the
    minute ended), with the tick-rule lag carrying ACROSS minute and
    batch boundaries."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.registry import (
        load_all,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        ofi_stream,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.ingest import (
        open_tick_stream,
    )

    ev = table(spark, sf_dir, "events")
    p33, p66 = (
        ev.selectExpr(
            "percentile(unix_micros(ts), array(0.33, 0.66)) AS p"
        ).collect()[0][0]
    )
    us = F.unix_micros("ts")
    splits = [
        ev.where(us <= int(p33)),
        ev.where((us > int(p33)) & (us <= int(p66))),
        ev.where(us > int(p66)),
    ]
    sf = _write_ordered_files(tmp_path, splits, spark)

    stream = open_tick_stream(
        spark, f"{sf}/events.parquet", max_files_per_trigger=1
    ).select(
        F.col("event_type").alias("symbol"),
        F.col("ts_event").alias("ts"),
        F.col("value").alias("price"),
        F.col("user_id").alias("volume"),
        F.col("event_id").alias("seq"),
    )
    _run_to_memory(ofi_stream(stream), "ofi_out", mode="append")
    got = spark.sql("SELECT * FROM ofi_out").toPandas()

    batch = load_all()["q155_order_flow_imbalance"].fn(spark, sf).toPandas()
    batch["minute_us"] = (
        batch["minute"].to_numpy().astype("datetime64[us]").astype("int64")
    )
    # closed minutes only: drop each symbol's max minute
    last = batch.groupby("event_type")["minute_us"].transform("max")
    closed = batch[batch.minute_us < last]

    a = (
        got.sort_values(["symbol", "minute_us"])
        .reset_index(drop=True)[
            ["symbol", "minute_us", "ofi", "total_volume", "n_ticks"]
        ]
    )
    b = (
        closed.rename(columns={"event_type": "symbol"})
        .sort_values(["symbol", "minute_us"])
        .reset_index(drop=True)[
            ["symbol", "minute_us", "ofi", "total_volume", "n_ticks"]
        ]
    )
    assert len(a) == len(b)
    for col in a.columns:
        assert (
            a[col].to_numpy() == b[col].to_numpy()
        ).all(), f"mismatch in {col}"


def test_volume_bar_stream_matches_batch_q165_closed_bars(
    spark, sf_dir, tmp_path
):
    """Streaming volume-clock bars across 3 micro-batches must equal
    the batch q165 semantics on every CLOSED bar (each symbol's final
    bar stays open — a live sampler cannot know no more volume is
    coming), with the volume prefix sum carrying ACROSS batch
    boundaries.  Bar size 300 (not q165's 100k) so the sf0.001 tape
    (per-symbol volume ~1.5k) closes several bars per symbol; the expectation is an independent
    pandas replay of the same prefix-sum assignment."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        volume_bar_stream,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.ingest import (
        open_tick_stream,
    )

    ev = table(spark, sf_dir, "events")
    p33, p66 = (
        ev.selectExpr(
            "percentile(unix_micros(ts), array(0.33, 0.66)) AS p"
        ).collect()[0][0]
    )
    us = F.unix_micros("ts")
    splits = [
        ev.where(us <= int(p33)),
        ev.where((us > int(p33)) & (us <= int(p66))),
        ev.where(us > int(p66)),
    ]
    sf = _write_ordered_files(tmp_path, splits, spark)

    stream = open_tick_stream(
        spark, f"{sf}/events.parquet", max_files_per_trigger=1
    ).select(
        F.col("event_type").alias("symbol"),
        F.col("ts_event").alias("ts"),
        F.col("value").alias("price"),
        F.col("user_id").alias("volume"),
        F.col("event_id").alias("seq"),
    )
    _run_to_memory(
        volume_bar_stream(stream, bar_v=300), "vbar_out", mode="append"
    )
    got = spark.sql("SELECT * FROM vbar_out").toPandas()

    # independent pandas replay of the batch assignment at the same V
    tape = (
        ev.select(
            "event_type",
            "ts",
            "event_id",
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("c"),
        )
        .toPandas()
        .sort_values(["event_type", "ts", "event_id"])
    )
    rows = []
    for sym, g in tape.groupby("event_type"):
        g = g.reset_index(drop=True)
        g = g.assign(bar=(g.user_id.cumsum() - g.user_id) // 300)
        for bar, bdf in g.groupby("bar"):
            rows.append(
                (sym, bar, len(bdf), bdf.c.iloc[0], bdf.c.max(),
                 bdf.c.min(), bdf.c.iloc[-1], int(bdf.user_id.sum()))
            )
    batch = pd.DataFrame(
        rows,
        columns=["event_type", "bar_id", "n_ticks", "open_c", "high_c",
                 "low_c", "close_c", "bar_volume"],
    )
    # closed bars only: drop each symbol's max (still-open) bar
    last = batch.groupby("event_type")["bar_id"].transform("max")
    closed = batch[batch.bar_id < last]

    cols = [
        "symbol", "bar_id", "n_ticks", "open_c", "high_c", "low_c",
        "close_c", "bar_volume",
    ]
    a = got.sort_values(["symbol", "bar_id"]).reset_index(drop=True)[cols]
    b = (
        closed.rename(columns={"event_type": "symbol"})
        .sort_values(["symbol", "bar_id"])
        .reset_index(drop=True)[cols]
    )
    assert len(a) == len(b) and len(a) > 0
    for col in cols:
        assert (
            a[col].to_numpy() == b[col].to_numpy()
        ).all(), f"mismatch in {col}"


def test_ofi_vbar_state_survives_mid_epoch_crash_restart(spark, sf_dir, tmp_path):
    """Kill-recovery for the round-7 stateful monitors (r7 VERDICT item
    #7): the sink CRASHES inside epoch 1 — after writing its output,
    before the checkpoint commit — and the restarted query must retry
    that epoch with the tick-rule lag / volume-prefix state recovered
    from epoch 0's committed store.  The sink is epoch-keyed +
    overwrite (idempotent), so at-least-once retries collapse to
    exactly-once output; the accumulated end state must equal the
    batch replay (q155 closed minutes column by column; an independent
    pandas prefix-sum replay for the bars)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from low_latency_time_series_database_tsdb_for_market_data_spark.registry import (
        load_all,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        ofi_stream,
        volume_bar_stream,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.ingest import (
        open_tick_stream,
    )

    ev = table(spark, sf_dir, "events")
    qs = ev.selectExpr(
        "percentile(unix_micros(ts), array(0.25, 0.5, 0.75)) AS p"
    ).collect()[0][0]
    us = F.unix_micros("ts")
    bounds = [None, *[int(q) for q in qs], None]
    splits = []
    for i in range(4):
        cond = F.lit(True)
        if bounds[i] is not None:
            cond = cond & (us > bounds[i])
        if bounds[i + 1] is not None:
            cond = cond & (us <= bounds[i + 1])
        splits.append(ev.where(cond))
    sf = _write_ordered_files(tmp_path, splits, spark)

    def tick_shaped():
        return open_tick_stream(
            spark, f"{sf}/events.parquet", max_files_per_trigger=1
        ).select(
            F.col("event_type").alias("symbol"),
            F.col("ts_event").alias("ts"),
            F.col("value").alias("price"),
            F.col("user_id").alias("volume"),
            F.col("event_id").alias("seq"),
        )

    def run_with_crash(make_stream, name):
        out = str(tmp_path / f"out_{name}")
        ck = str(tmp_path / f"ck_{name}")

        def crashing_sink(batch_df, epoch_id):
            batch_df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")
            if epoch_id == 1:
                raise RuntimeError("injected crash: output written, commit lost")

        q = (
            make_stream()
            .writeStream.outputMode("append")
            .foreachBatch(crashing_sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            raise AssertionError("crash was not injected")
        except StreamingQueryException:
            pass  # epoch 1 died uncommitted, epoch 0's state store stands

        def clean_sink(batch_df, epoch_id):
            batch_df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

        q2 = (
            make_stream()
            .writeStream.outputMode("append")
            .foreachBatch(clean_sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
        return spark.read.option("basePath", out).parquet(
            f"{out}/epoch=*"
        ).toPandas()

    # --- OFI: accumulated closed minutes == q155 minus each symbol's
    # final (still-open) minute ---
    got_ofi = run_with_crash(lambda: ofi_stream(tick_shaped()), "ofi")
    ofi_batch = load_all()["q155_order_flow_imbalance"].fn(spark, sf).toPandas()
    ofi_batch["minute_us"] = (
        ofi_batch["minute"].to_numpy().astype("datetime64[us]").astype("int64")
    )
    last_m = ofi_batch.groupby("event_type")["minute_us"].transform("max")
    closed = ofi_batch[ofi_batch.minute_us < last_m].rename(
        columns={"event_type": "symbol"}
    )
    cols = ["symbol", "minute_us", "ofi", "total_volume", "n_ticks"]
    a = got_ofi.sort_values(["symbol", "minute_us"]).reset_index(drop=True)[cols]
    b = closed.sort_values(["symbol", "minute_us"]).reset_index(drop=True)[cols]
    assert len(a) == len(b) and len(a) > 0
    for col in cols:
        assert (a[col].to_numpy() == b[col].to_numpy()).all(), f"ofi {col}"

    # --- volume bars: accumulated closed bars == pandas prefix replay ---
    # ~14 bars/symbol at the sf0.001 per-symbol volume of ~1.4k units
    bar_v = 100
    got_vb = run_with_crash(
        lambda: volume_bar_stream(tick_shaped(), bar_v=bar_v), "vbar"
    )
    tape = (
        ev.select(
            "event_type", "ts", "event_id", "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("c"),
        )
        .toPandas()
        .sort_values(["event_type", "ts", "event_id"])
    )
    rows = []
    for sym, g in tape.groupby("event_type"):
        g = g.reset_index(drop=True)
        g = g.assign(bar=(g.user_id.cumsum() - g.user_id) // bar_v)
        for bar, bdf in g.groupby("bar"):
            rows.append(
                (sym, bar, len(bdf), bdf.c.iloc[0], bdf.c.max(), bdf.c.min(),
                 bdf.c.iloc[-1], int(bdf.user_id.sum()))
            )
    vb_cols = ["symbol", "bar_id", "n_ticks", "open_c", "high_c", "low_c",
               "close_c", "bar_volume"]
    vb = pd.DataFrame(rows, columns=vb_cols)
    last_b = vb.groupby("symbol")["bar_id"].transform("max")
    closed_vb = vb[vb.bar_id < last_b]
    a = got_vb.sort_values(["symbol", "bar_id"]).reset_index(drop=True)[vb_cols]
    b = closed_vb.sort_values(["symbol", "bar_id"]).reset_index(drop=True)[vb_cols]
    assert len(a) == len(b) and len(a) > 0
    for col in vb_cols:
        assert (a[col].to_numpy() == b[col].to_numpy()).all(), f"vbar {col}"


def test_windowed_stream_drops_rows_beyond_watermark(spark, tmp_path):
    """The late-data contract, executable (r8 verdict item #7): rows
    older than the 2-hour watermark are DROPPED — the docstring's
    policy, previously proven only by equivalence on on-time data.

    Three availableNow runs over one checkpoint (watermark persists in
    the offset log): run 1 establishes watermark 10:00 from a 12:00
    max event; run 2 feeds one LATE row (08:30 — inside an
    already-finalized window, beyond the watermark) and one on-time
    row (12:30); run 3 advances the watermark past the on-time row's
    window.  Append mode emits each finalized window exactly once, so
    the output stream itself is the verdict: the 08:00 window holds
    only the run-1 row, the late row appears nowhere, the on-time row
    emits normally."""
    import datetime as dt

    import pandas as pd

    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.ingest import (  # noqa: E501
        windowed_counts_stream,
    )

    src = tmp_path / "late_src"
    src.mkdir()
    ckpt = str(tmp_path / "late_ckpt")
    t0 = dt.datetime(2024, 3, 1)

    def feed(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["props"] = "{}"
        spark.createDataFrame(pdf).coalesce(1).write.parquet(
            str(src / name)
        )

    emitted = []

    def run():
        agg = windowed_counts_stream(spark, f"{src}/*")
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(
                lambda b, _e: emitted.extend(
                    (r["window"].start, r["event_type"], r["n"])
                    for r in b.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: one row in the 08:00 window; max event 12:00 -> wm 10:00
    feed("a", [(1, t0 + dt.timedelta(hours=8, minutes=5), 1, "S", 1.0),
               (2, t0 + dt.timedelta(hours=12), 1, "S", 1.0)])
    run()
    assert (t0 + dt.timedelta(hours=8), "S", 1) in emitted
    n_after_run1 = len(emitted)

    # run 2: a LATE row (08:30 < wm 10:00) + an on-time row (12:30)
    feed("b", [(3, t0 + dt.timedelta(hours=8, minutes=30), 1, "S", 1.0),
               (4, t0 + dt.timedelta(hours=12, minutes=30), 1, "S", 1.0)])
    run()
    # the late row must not resurrect or re-emit its finalized window
    assert len([e for e in emitted
                if e[0] == t0 + dt.timedelta(hours=8)]) == 1
    assert (t0 + dt.timedelta(hours=8), "S", 2) not in emitted

    # run 3: advance the watermark past 13:00 -> the ON-TIME run-2 row
    # emits (n=1 with the 12:00 run-1 row? no - 12:00 and 12:30 share
    # the 12:00 window, so n=2), proving drops are selective
    feed("c", [(5, t0 + dt.timedelta(hours=16), 1, "S", 1.0)])
    run()
    assert (t0 + dt.timedelta(hours=12), "S", 2) in emitted
    # the late 08:30 row appeared in NO emitted window, ever
    total_emitted = sum(n for _, _, n in emitted)
    assert total_emitted == 3  # rows 1, 2(12:00), 4(12:30); 3 dropped, 5 pending
    assert n_after_run1 >= 1


def test_streaming_asof_enrich_equals_batch_q16(spark, sf_dir, tmp_path):
    """Streaming as-of enrichment == batch q16 when micro-batch
    boundaries respect event time: replay events as 4 ts-RANGE files
    (equal-ts rows co-located, file listing order == time order),
    enrich clicks with the latest purchase per user across forced
    batch boundaries, compare to the batch as-of cell-for-cell."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.registry import (
        load_all,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.joins import (
        asof_enrich_available_now,
    )

    src = str(tmp_path / "src")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev_raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev_raw.repartitionByRange(4, "ts").write.parquet(src)
    # the file source forms micro-batches in MODIFICATION-TIME order and
    # the parallel write finishes parts out of order — restamp mtimes in
    # part-number (= ts-range) order so the replay is a time-ordered tape
    import os
    import time

    base = time.time()
    for i, name in enumerate(
        sorted(f for f in os.listdir(src) if f.startswith("part-"))
    ):
        os.utime(f"{src}/{name}", (base + i, base + i))

    out = str(tmp_path / "enriched")
    asof_enrich_available_now(
        spark,
        src,
        out,
        str(tmp_path / "ckpt"),
        str(tmp_path / "state"),
        split_left=lambda b: b.where(F.col("event_type") == "click").select(
            "event_id", "user_id", F.col("ts_event").alias("ts")
        ),
        split_right=lambda b: b.where(
            F.col("event_type") == "purchase"
        ).select(
            "user_id",
            F.col("ts_event").alias("p_ts"),
            F.col("event_id").alias("p_seq"),
        ),
        on=["user_id"],
        left_ts="ts",
        right_ts="p_ts",
        right_seq="p_seq",
        payload={"p_ts": "asof_ts"},
        max_files_per_trigger=1,
    )
    got_df = spark.read.parquet(out)
    # the replay really crossed micro-batch boundaries
    assert got_df.select("epoch").distinct().count() >= 3
    got = (
        got_df.select(
            "event_id", F.unix_micros("asof_ts").alias("us")
        )
        .toPandas()
        .sort_values("event_id", ignore_index=True)
    )
    want = (
        load_all()["q16_asof"].fn(spark, sf_dir)
        .select("event_id", F.unix_micros("asof_ts").alias("us"))
        .toPandas()
        .sort_values("event_id", ignore_index=True)
    )
    assert len(got) == len(want) and len(got) > 0
    assert got.equals(want)


def test_asof_enrich_state_carry_and_retry(spark, tmp_path):
    """Planted multi-epoch drive of the enrichment core: (1) a
    reference row seen ONLY in epoch 0 fills a left row two epochs
    later (the state carry); (2) replaying an epoch (an at-least-once
    retry) reproduces its output bit-for-bit because the core re-reads
    the PREVIOUS state snapshot, not the post-epoch one."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.joins import (
        AsofEnrichState,
    )

    st = AsofEnrichState(
        spark,
        str(tmp_path / "state"),
        on=["k"],
        left_ts="ts",
        right_ts="r_ts",
        right_seq="r_seq",
        payload={"r_ts": "asof_ts", "quote": "asof_quote"},
    )
    r_schema = "k string, r_ts long, r_seq long, quote long"
    l_schema = "event_id long, k string, ts long"

    def rights(rows):
        return spark.createDataFrame(rows, r_schema)

    def lefts(rows):
        return spark.createDataFrame(rows, l_schema)

    # epoch 0: quote for A at t=10; no lefts
    out0 = st.process_batch(lefts([]), rights([("A", 10, 1, 100)]), 0)
    assert out0.count() == 0
    # epoch 1: nothing for A; a newer quote for B only
    st.process_batch(lefts([]), rights([("B", 5, 2, 500)]), 1).count()
    # epoch 2: left on A at t=50 -> must see epoch-0's quote (carry);
    # left on C -> no reference ever: NULL fill
    e2_left = [(1, "A", 50), (2, "C", 50)]
    out2 = (
        st.process_batch(lefts(e2_left), rights([]), 2)
        .toPandas()
        .sort_values("event_id", ignore_index=True)
    )
    assert out2.loc[0, "asof_ts"] == 10 and out2.loc[0, "asof_quote"] == 100
    assert pd.isna(out2.loc[1, "asof_ts"])
    # retry epoch 2 (simulated crash-and-replay): bit-identical output
    replay = (
        st.process_batch(lefts(e2_left), rights([]), 2)
        .toPandas()
        .sort_values("event_id", ignore_index=True)
    )
    assert replay.equals(out2)
    # epoch 3: a newer A quote in-batch beats the carried state row at
    # equal visibility, and ties at left.ts are INCLUSIVE (<=)
    out3 = (
        st.process_batch(
            lefts([(3, "A", 60)]), rights([("A", 60, 9, 900)]), 3
        )
        .toPandas()
    )
    assert out3.loc[0, "asof_ts"] == 60 and out3.loc[0, "asof_quote"] == 900


def test_streaming_incremental_dedup_matches_batch_build(spark, sf_dir, tmp_path):
    """The streamed fold (forced micro-batch boundaries, arbitrary file
    pickup order) must produce EXACTLY the survivors of a from-scratch
    batch build over the full corpus."""
    from low_latency_time_series_database_tsdb_for_market_data_spark.operators.llm.incremental import (
        dedup_state_build,
        dedup_survivors,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming import (
        dedup_stream_available_now,
    )
    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.epochs import (
        state_epochs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = str(tmp_path / "docs_src")
    # three single-file slices -> three micro-batches (pickup order is
    # the stream's choice; equivalence must hold for ANY order)
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    fold = dedup_stream_available_now(
        spark,
        src,
        str(tmp_path / "delta_out"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "state"),
        max_files_per_trigger=1,
    )
    assert max(state_epochs(fold.state_dir)) >= 2  # really ran multiple micro-batches

    got = sorted(r.doc_id for r in fold.survivors().collect())
    par = spark.sparkContext.defaultParallelism
    exp = sorted(
        r.doc_id
        for r in dedup_survivors(dedup_state_build(docs, par)).collect()
    )
    assert got == exp
    assert 0 < len(got) < docs.count()  # non-degenerate: real dups exist


def test_streaming_dedup_rejects_epoch_reset(spark, sf_dir, tmp_path):
    """Round-11 advice fix: a fresh checkpoint (epoch_id restarting at
    0) against an EXISTING state_dir must fail fast, not silently fold
    into a snapshot the keep-two retention deletes.  Retrying the
    NEWEST epoch (at-least-once) must still be allowed."""
    import pytest

    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.incremental_dedup import (
        StreamingDedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    par = spark.sparkContext.defaultParallelism
    fold = StreamingDedup(spark, str(tmp_path / "state"), par)
    fold.process_batch(docs.where(F.col("doc_id") % 2 == 0), 5)
    fold.process_batch(docs.where(F.col("doc_id") % 2 == 1), 6)
    n_before = fold.survivors().count()

    # at-least-once retry of the newest epoch: allowed, idempotent
    fold.process_batch(docs.where(F.col("doc_id") % 2 == 1), 6)
    assert fold.survivors().count() == n_before

    # fresh-checkpoint restart (epoch behind newest snapshot): rejected
    with pytest.raises(ValueError, match="mismatched"):
        fold.process_batch(docs, 0)
    assert fold.survivors().count() == n_before  # state untouched


def test_asof_enrich_state_rejects_epoch_reset(spark, tmp_path):
    """The as-of twin of the dedup fold's epoch-reset guard: a fresh
    checkpoint (epoch_id restarting at 0) over a state_dir holding epochs
    5 and 6 must fail fast, not enrich against no prior state and write a
    snapshot the keep-two retention deletes at once.  Retrying the newest
    epoch stays allowed and reproduces its output."""
    import pytest

    from low_latency_time_series_database_tsdb_for_market_data_spark.streaming.joins import (
        AsofEnrichState,
    )

    state_dir = tmp_path / "state"
    st = AsofEnrichState(
        spark,
        str(state_dir),
        on=["k"],
        left_ts="ts",
        right_ts="r_ts",
        right_seq="r_seq",
        payload={"r_ts": "asof_ts", "quote": "asof_quote"},
    )

    def rights(rows):
        return spark.createDataFrame(rows, "k string, r_ts long, r_seq long, quote long")

    def lefts(rows):
        return spark.createDataFrame(rows, "event_id long, k string, ts long")

    st.process_batch(lefts([]), rights([("A", 10, 1, 100)]), 5).count()
    out6 = st.process_batch(lefts([(1, "A", 50)]), rights([]), 6).collect()
    assert [(r.asof_ts, r.asof_quote) for r in out6] == [(10, 100)]
    # at-least-once retry of the newest epoch: allowed, same output
    assert st.process_batch(lefts([(1, "A", 50)]), rights([]), 6).collect() == out6

    with pytest.raises(ValueError, match="mismatched"):
        st.process_batch(lefts([(1, "A", 50)]), rights([]), 0)
    assert sorted(p.name for p in state_dir.iterdir()) == ["epoch=5", "epoch=6"]
