"""Time-series session block (q37-q39): sessionization, time-weighted
average price, exponentially-weighted moving average.

All absent from the reference (its only time operator is the inclusive
range scan, `timeseries_db.cpp:170-193`); these are the standard
market-data / clickstream derivatives of an ordered tick stream.  Each
partitions by its natural key (user or symbol) so window state never
crosses the shuffle key — the distributed analogue of the reference's
per-symbol directory isolation (`column_storage.cpp:13-18`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.deterministic import cents, ratio_e4
from ..registry import query

_GAP_S = 1800  # session gap: 30 min of inactivity starts a new session


@query(
    "q37_sessionize",
    oracle=f"""
    WITH g AS (SELECT user_id, ts, event_id,
                      CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_GAP_S} * 1000000
                           THEN 1 ELSE 0 END AS new_s
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, ts,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM g)
    SELECT user_id, CAST(sid AS BIGINT) AS session_id, COUNT(*) AS n_events,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
    FROM s GROUP BY user_id, sid
    """,
    category="timeseries-session",
)
def q37_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a new session starts after >30 min of user
    inactivity.  Classic gaps-and-islands — one window pass to flag
    session starts (lag), one running sum to assign session ids, one
    hash-agg.  All three stages share the user_id partitioning, so the
    plan has exactly ONE exchange; duration math is integer microseconds
    (unix_micros == DuckDB epoch_us), no float drift."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(
        gap.isNull() | (gap > _GAP_S * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    run = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    s = ev.select(
        "user_id", "ts", F.sum(new_s).over(run).cast("bigint").alias("session_id")
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us"),
    )


@query(
    "q38_twap",
    oracle="""
    WITH w AS (SELECT event_type,
                      CAST(ROUND(value * 100) AS BIGINT) AS v_c,
                      lead(epoch_us(ts)) OVER (PARTITION BY event_type
                                               ORDER BY ts, event_id)
                        - epoch_us(ts) AS dur_us
               FROM events)
    SELECT event_type,
           (SUM(v_c * dur_us) * 20000 + 100 * SUM(dur_us))
             // (200 * SUM(dur_us)) / 10000.0 AS twap,
           COUNT(*) AS n
    FROM w WHERE dur_us IS NOT NULL GROUP BY event_type
    """,
    category="timeseries",
)
def q38_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per symbol: each tick's value is
    weighted by how long it stood (microseconds until the next tick).
    One lead() window + one hash-agg on the same key = one exchange.
    Weights and values are integers (micros x cents), so the big SUMs
    are exact and order-independent — hash-stable at any parallelism."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    dur = F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")
    rows = ev.select(
        "event_type", cents("value").alias("v_c"), dur.alias("dur_us")
    ).where(F.col("dur_us").isNotNull())
    return (
        rows.groupBy("event_type")
        .agg(
            F.sum(F.col("v_c") * F.col("dur_us")).alias("wsum"),
            F.sum("dur_us").alias("wtot"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "event_type",
            ratio_e4("wsum", "100 * wtot").alias("twap"),
            "n",
        )
    )


@query(
    "q39_ewma",
    # The recurrence IS SQL-expressible sequentially: a recursive CTE
    # stepping i -> i+1 per group runs the identical double arithmetic
    # (y = 0.1*x + 0.9*y; IEEE + is commutative, so pandas' (old*0.9 +
    # new*0.1)/1.0 kernel produces bit-identical values), making q39
    # hash-checkable instead of rows-only.
    oracle="""
    WITH RECURSIVE ordered AS (
        SELECT event_type, event_id, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS i
        FROM events),
    rec(event_type, i, ewma) AS (
        SELECT event_type, i, value FROM ordered WHERE i = 1
        UNION ALL
        SELECT o.event_type, o.i, 0.1 * o.value + 0.9 * r.ewma
        FROM rec r JOIN ordered o
          ON o.event_type = r.event_type AND o.i = r.i + 1)
    SELECT o.event_id, o.event_type, o.value, ROUND(r.ewma, 4) AS ewma
    FROM rec r JOIN ordered o USING (event_type, i)
    """,
    category="timeseries",
)
def q39_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (alpha=0.1) of value per symbol — the one classic tick
    statistic whose recurrence (y_t = a*x_t + (1-a)*y_{t-1}) no
    fixed-frame window can express (closed forms overflow at long
    horizons).  Runs as ONE Arrow-batched pandas pass per symbol group
    via applyInPandas: state is a single scalar per key, the shuffle
    is the same one exchange a window would need, and inside the batch
    pandas' C ewm kernel does the scan.  The final round happens
    JVM-side as DuckDB's ``ROUND(x, 4)`` does it: round x*10^4 half
    away from zero in binary, then divide (``F.round(x, 4)`` rounds the
    decimal form, which differs near ties: 264.54155 -> 264.5416, not
    DuckDB's 264.5415); the DuckDB oracle replays the same recurrence
    via a recursive CTE."""
    import pandas as pd

    ev = table(spark, sf_dir, "events")
    schema = "event_id bigint, event_type string, value double, ewma double"

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        out = pdf[["event_id", "event_type", "value"]].copy()
        out["ewma"] = pdf["value"].ewm(alpha=0.1, adjust=False).mean()
        return out

    return (
        ev.select("event_id", "event_type", "ts", "value")
        .groupBy("event_type")
        .applyInPandas(ewma, schema)
        .withColumn("ewma", F.round(F.col("ewma") * 10000.0) / 10000.0)
    )


@query(
    "q136_holt_trend",
    # Like q39, the coupled recurrence is SQL-expressible sequentially:
    # the recursive CTE steps hour i -> i+1 per symbol running the
    # IDENTICAL double expressions (alpha=0.5, beta=0.25 — binary-exact
    # constants), so the pandas loop and the CTE produce bit-identical
    # levels/trends and the query is hash-checkable instead of
    # rows-only.  Recursion depth = hours per symbol (~720 at sf0.1) —
    # feasible at every shipped SF, unlike q39's per-tick recursion.
    oracle="""
    WITH RECURSIVE ordered AS (
        SELECT event_type, h, cs / (100.0 * n) AS x,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS i
        FROM (SELECT event_type, date_trunc('hour', ts) AS h,
                     SUM(CAST(ROUND(value*100) AS BIGINT)) AS cs,
                     COUNT(*) AS n
              FROM events GROUP BY 1, 2)),
    rec(event_type, i, l, t) AS (
        SELECT event_type, i, x, CAST(0.0 AS DOUBLE) FROM ordered WHERE i = 1
        UNION ALL
        SELECT o.event_type, o.i,
               0.5 * o.x + 0.5 * (r.l + r.t),
               0.25 * ((0.5 * o.x + 0.5 * (r.l + r.t)) - r.l) + 0.75 * r.t
        FROM rec r JOIN ordered o
          ON o.event_type = r.event_type AND o.i = r.i + 1)
    SELECT o.event_type, o.h, o.x,
           ROUND(r.l, 4) AS level,
           ROUND(r.t, 4) AS trend,
           ROUND(r.l + r.t, 4) AS forecast
    FROM rec r JOIN ordered o USING (event_type, i)
    """,
    category="timeseries",
)
def q136_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) of each
    symbol's hourly mean price, with the one-step-ahead forecast — the
    second classic recurrence (after q39's EWMA) that no fixed window
    frame expresses; the trend term is what EWMA structurally misses on
    drifting series.

    level_t = a*x_t + (1-a)*(level+trend);  trend_t = b*Δlevel + (1-b)*trend
    with a=0.5, b=0.25 (binary-exact, so every product is one rounding).

    Shape: the tape pre-aggregates to symbol x hour (exact cents, one
    hash-agg) BEFORE the recurrence — the pandas state pass runs over
    bucket-scale groups, not ticks, which is also what keeps the
    recursive oracle feasible.  One exchange; per-group state is two
    scalars."""
    import pandas as pd

    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.sum(cents("value")).alias("cs"), F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "h",
            (F.col("cs") / (100.0 * F.col("n"))).alias("x"),
        )
    )
    schema = (
        "event_type string, h timestamp, x double,"
        " level double, trend double, forecast double"
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h").reset_index(drop=True)
        ls, ts_ = [], []
        l, t = 0.0, 0.0
        for i, x in enumerate(pdf["x"]):
            if i == 0:
                l, t = x, 0.0
            else:
                l_new = 0.5 * x + 0.5 * (l + t)
                t = 0.25 * (l_new - l) + 0.75 * t
                l = l_new
            ls.append(l)
            ts_.append(t)
        out = pdf[["event_type", "h", "x"]].copy()
        out["level"] = ls
        out["trend"] = ts_
        out["forecast"] = [a + b for a, b in zip(ls, ts_)]
        return out

    return (
        hourly.groupBy("event_type")
        .applyInPandas(holt, schema)
        .withColumn("level", F.round("level", 4))
        .withColumn("trend", F.round("trend", 4))
        .withColumn("forecast", F.round("forecast", 4))
    )


@query(
    "q184_session_quartiles",
    oracle=f"""
    WITH g AS (SELECT user_id, ts, event_id,
                      CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_GAP_S} * 1000000
                           THEN 1 ELSE 0 END AS new_s
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, ts,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM g),
    sess AS (SELECT user_id, sid, COUNT(*) AS n_events,
                    epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
             FROM s GROUP BY user_id, sid)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(quantile_cont(dur_us, 0.25), 4) AS p25_dur_us,
           ROUND(quantile_cont(dur_us, 0.50), 4) AS p50_dur_us,
           ROUND(quantile_cont(dur_us, 0.75), 4) AS p75_dur_us,
           ROUND(quantile_cont(n_events, 0.50), 4) AS p50_events,
           CAST(MAX(n_events) AS BIGINT) AS max_events
    FROM sess
    """,
    category="timeseries-session",
)
def q184_session_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shape summary: quartiles of session duration and the
    median events-per-session over q37's gaps-and-islands sessions —
    the one-row engagement health panel a product dashboard reads
    (q37 publishes the per-session grain; this is its rollup).

    Exactness: sessions come from the exact q37 operator (shared
    implementation, not a re-derivation), durations are integer
    microseconds, and the quartiles are exact interpolated percentiles
    on integers (q27/q143 precedent).  Shape: the user-keyed session
    pass collapses the tape to |sessions| rows; the final 1-row agg
    rides a partial-agg tree (percentiles over the session dim — at
    100 TB that dim is users x sessions, mergeable via q73's sketch
    twin if it ever outgrows one reduce)."""
    sess = q37_sessionize(spark, sf_dir)
    dps = F.percentile(
        "dur_us", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))
    )
    return (
        sess.agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
            dps.alias("dps"),
            F.percentile("n_events", F.lit(0.50)).alias("ep"),
            F.max("n_events").alias("max_events"),
        )
        .select(
            "n_sessions",
            "n_users",
            *[
                F.round(F.col("dps")[i], 4).alias(n)
                for i, n in enumerate(
                    ("p25_dur_us", "p50_dur_us", "p75_dur_us")
                )
            ],
            F.round(F.col("ep"), 4).alias("p50_events"),
            "max_events",
        )
    )
