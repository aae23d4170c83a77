"""Round-8 depth additions (q187-q192): shipping-latency quartiles,
supplier concentration HHI, intraday volume profile, duplicate
multiplicity histogram, length/word correlation, weekday x priority
seasonality.

Same discipline as every extension block: exact integer arithmetic for
every published number (cents BIGINT, ratios via the deterministic
round-half-up identity, moments widened to DECIMAL(38,0)/HUGEINT before
any product of aggregates — the q162 rule), exact interpolated
percentiles on integers (Spark ``percentile`` == DuckDB
``quantile_cont``, the q27/q143 precedent), and shuffle shapes that
stay key-bounded at 100 TB.  Reference parity: the reference stops at
scan/count (`timeseries_db.cpp:29-233`); these extend SURVEY §2.2's
warehouse / tape / curation rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.deterministic import cents, ratio_e4
from ..functions.pairs import in_set_pairs
from ..registry import query


@query(
    "q187_ship_latency",
    oracle="""
    WITH j AS (
      SELECT o.o_orderpriority,
             CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lat_d
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(quantile_cont(lat_d, 0.25), 4) AS p25_days,
           ROUND(quantile_cont(lat_d, 0.50), 4) AS p50_days,
           ROUND(quantile_cont(lat_d, 0.75), 4) AS p75_days,
           CAST(MAX(lat_d) AS BIGINT) AS max_days
    FROM j GROUP BY 1
    """,
    category="warehouse-datetime",
)
def q187_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency quartiles per priority class — the
    fulfilment SLA panel (q174 buckets open-order AGE; this measures
    the shipping pipeline's speed on the shipped lines).

    Exactness: latency is an integer day difference (identical DATE
    arithmetic both engines), quartiles are exact interpolated
    percentiles on integers (q27/q143 precedent).  Shape: ONE
    fact-fact join keyed by orderkey (the skinny 2-column projections
    shuffle), then a |priorities|-row agg; the percentile partials
    merge map-side."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority",
                                              "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        .cast("bigint")
        .alias("lat_d"),
    )
    ps = F.percentile("lat_d", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            ps.alias("ps"),
            F.max("lat_d").alias("max_days"),
        )
        .select(
            "o_orderpriority",
            "n_items",
            *[
                F.round(F.col("ps")[i], 4).alias(n)
                for i, n in enumerate(("p25_days", "p50_days", "p75_days"))
            ],
            "max_days",
        )
    )


@query(
    "q188_supplier_hhi",
    oracle="""
    WITH r AS (
      SELECT s.s_nationkey,
             l.l_suppkey,
             CAST(SUM(CAST(ROUND(l.l_extendedprice
                                 * (1 - l.l_discount) * 10000)
                           AS BIGINT)) AS BIGINT) AS rev
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2),
    n AS (
      SELECT s_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             SUM(CAST(rev AS HUGEINT) * rev) AS sq,
             CAST(SUM(rev) AS HUGEINT) AS tot
      FROM r GROUP BY 1)
    SELECT nat.n_name, n_suppliers,
           (sq * 20000 + tot * tot) // (2 * tot * tot) / 10000.0
             AS hhi_e4
    FROM n JOIN nation nat ON nat.n_nationkey = n.s_nationkey
    WHERE tot > 0
    """,
    category="warehouse-concentration",
)
def q188_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration per nation: the Herfindahl index
    sum(share_i^2) of each nation's supplier revenue split — the
    procurement-risk screen beside q118 (turnover HHI on the tape) and
    q144 (flow concentration): HHI near 1/n = competitive supply base,
    near 1 = single-supplier dependency.

    Exactness: revenue aggregates as exact e4-scaled BIGINTs; HHI =
    sum(rev^2)/tot^2 with BOTH products widened to DECIMAL(38,0) /
    HUGEINT BEFORE multiplying (rev ~ 1e13 at 100 TB squares past
    int64 — the q162 rule), rounded by the ratio_e4 identity.  Shape:
    one supplier-keyed fact agg (map-side partials), a |suppliers|-row
    second agg, a 25-row broadcast nation stitch."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.expr("l_extendedprice * (1 - l_discount)") * 10000)
        .cast("bigint")
        .alias("rev_u"),
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation")
    r = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum("rev_u").alias("rev"))
    )
    n = r.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(
            F.col("rev").cast("decimal(38,0)") * F.col("rev")
        ).alias("sq"),
        F.sum("rev").cast("decimal(38,0)").alias("tot"),
    )
    return (
        n.where(F.col("tot") > 0)
        .join(F.broadcast(nat), n.s_nationkey == nat.n_nationkey)
        .select(
            "n_name",
            "n_suppliers",
            ratio_e4("sq", "tot * tot").alias("hhi_e4"),
        )
    )


@query(
    "q189_intraday_volume_profile",
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS n_ticks,
             CAST(SUM(user_id) AS BIGINT) AS vol
      FROM events GROUP BY 1, 2),
    t AS (SELECT event_type, CAST(SUM(vol) AS BIGINT) AS tot FROM h
          GROUP BY 1)
    SELECT h.event_type, hr, n_ticks, vol,
           (vol * 20000 + tot) // (2 * tot) / 10000.0 AS vol_share
    FROM h JOIN t ON h.event_type = t.event_type
    WHERE tot > 0
    """,
    category="timeseries-profile",
)
def q189_intraday_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraday (hour-of-day) volume profile per symbol: each clock
    hour's share of the symbol's total traded size — the U-shape
    seasonality curve execution schedulers (VWAP slicers) calibrate
    against; q96 profiles tick COUNTS, this weights by SIZE.

    Exactness: hour extraction on the NTZ timestamp is identical in
    both engines (the catalog pins UTC), volumes are integer, shares
    integer-decided.  Shape: one (symbol, hour) hash-agg collapses the
    tape to a <= |symbols| x 24 grid; the per-symbol total rides a
    window over that grid (no second scan), the publish is in-row.
    Output is grid-bounded at any scale."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum("user_id").cast("bigint").alias("vol"),
    )
    tot = F.sum("vol").over(Window.partitionBy("event_type"))
    return (
        h.withColumn("tot", tot)
        .where(F.col("tot") > 0)
        .select(
            "event_type",
            "hr",
            "n_ticks",
            "vol",
            ratio_e4("vol", "tot").alias("vol_share"),
        )
    )


@query(
    "q190_dup_multiplicity",
    oracle="""
    WITH g AS (SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS sz
               FROM documents GROUP BY 1)
    SELECT sz AS group_size,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(sz) AS BIGINT) AS n_docs
    FROM g GROUP BY 1
    """,
    category="llm-dedup",
)
def q190_dup_multiplicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate multiplicity histogram: how many identical-text
    groups exist at each copy count — the dedup PLANNING report (q50
    picks survivors; q100 rates sources; this sizes the problem: a fat
    tail of high-multiplicity groups means boilerplate, a flat 1-spike
    means the corpus is already clean).

    Exactness: md5 is bit-identical across engines, everything else is
    integer counting.  Shape: one hash-agg on the 32-byte digest
    (map-side partials — the corpus never moves, only digests), then a
    histogram agg over the |groups| frame.  Output bounded by the
    largest multiplicity."""
    d = table(spark, sf_dir, "documents")
    g = d.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    return g.groupBy(F.col("sz").alias("group_size")).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("sz").alias("n_docs"),
    )


@query(
    "q191_length_word_corr",
    oracle="""
    WITH b AS (
      SELECT source,
             CAST(LENGTH(text) AS BIGINT) AS x,
             CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))
                  AS BIGINT) AS y
      FROM documents),
    m AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM b GROUP BY 1)
    SELECT source, n AS n_docs,
           ROUND(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                      AS DOUBLE)
                 / sqrt(CAST((CAST(n AS HUGEINT) * sxx
                              - CAST(sx AS HUGEINT) * sx)
                             * (CAST(n AS HUGEINT) * syy
                                - CAST(sy AS HUGEINT) * sy) AS DOUBLE)),
                 6) AS corr_len_words
    FROM m
    WHERE CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
      AND CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy > 0
    """,
    category="llm-curation",
)
def q191_length_word_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Pearson correlation between document length and space
    count (a separator-counting word proxy) — the tokenizer-drift
    screen: a source whose length/word relationship departs from the
    corpus norm is code, tables, or CJK-like text that needs its own
    tokenizer budget (q142 measures fertility; this flags WHERE the
    linear assumption breaks).

    Exactness: x and y are byte-exact integer string measures, the five
    moments aggregate as BIGINTs, cross-products widen to
    DECIMAL(38,0)/HUGEINT BEFORE multiplication (q162/q183 rule), and
    the correlation is ONE float expression on identical integers,
    rounded to 6 — degenerate sources (zero variance on either axis)
    are excluded by integer tests.  Shape: one narrow map + one
    source-keyed hash-agg; |sources|-row output."""
    d = table(spark, sf_dir, "documents")
    b = d.select(
        "source",
        F.length("text").cast("bigint").alias("x"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
        )
        .cast("bigint")
        .alias("y"),
    )
    m = b.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    vx = f"{dec.format('n')} * sxx - {dec.format('sx')} * sx"
    vy = f"{dec.format('n')} * syy - {dec.format('sy')} * sy"
    cov = f"{dec.format('n')} * sxy - {dec.format('sx')} * sy"
    return m.where(F.expr(f"({vx}) > 0 AND ({vy}) > 0")).select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(
            F.expr(f"CAST(({cov}) AS DOUBLE) / sqrt(CAST(({vx}) * ({vy}) AS DOUBLE))"),
            6,
        ).alias("corr_len_words"),
    )


@query(
    "q192_weekday_priority_matrix",
    oracle="""
    SELECT CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_dow,
           o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS total
    FROM orders GROUP BY 1, 2
    """,
    category="warehouse-datetime",
)
def q192_weekday_priority_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order placement seasonality: the ISO-weekday x priority matrix of
    order counts and exact cent totals — the staffing/capacity heatmap
    (q146 profiles the tape's weekday volume; this profiles the order
    book's).

    Exactness: ISO weekday (Monday=1..Sunday=7) is Spark's weekday()+1
    == DuckDB's isodow() — pinned explicitly because the engines'
    DEFAULT dayofweek functions disagree on the week origin (Spark
    dayofweek: Sunday=1; DuckDB dayofweek: Sunday=0); money is integer
    cents.  Shape: one narrow map + one 7x|priorities| hash-agg with
    map-side partials; grid-bounded output."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            (F.weekday("o_orderdate") + 1).cast("bigint").alias("iso_dow"),
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(cents("o_totalprice")) / 100.0, 2).alias("total"),
        )
    )


@query(
    "q193_customer_order_gaps",
    oracle="""
    WITH g AS (
      SELECT o_custkey,
             CAST(date_diff('day',
                            lag(CAST(o_orderdate AS DATE)) OVER w,
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_d
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
    m AS (SELECT o_custkey, quantile_cont(gap_d, 0.5) AS med_gap
          FROM g WHERE gap_d IS NOT NULL GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_repeat_customers,
           ROUND(quantile_cont(med_gap, 0.25), 4) AS p25_med_gap_days,
           ROUND(quantile_cont(med_gap, 0.50), 4) AS p50_med_gap_days,
           ROUND(quantile_cont(med_gap, 0.75), 4) AS p75_med_gap_days
    FROM m
    """,
    category="warehouse-datetime",
)
def q193_customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder cadence: the distribution (quartiles) of each repeat
    customer's MEDIAN inter-order gap — the replenishment-cycle metric
    behind reorder reminders and churn windows (q125 counts cohort
    retention; this measures the rhythm of the retained).

    Exactness: gaps are integer day diffs over the (o_orderdate,
    o_orderkey) total order; both percentile levels are exact
    interpolated percentiles (inner one on integers, outer on the
    exact half-integer medians — q27/q143 precedent).  Shape: one
    customer-keyed window (cardinality ~ |customers|, far above core
    count — no keyed-prefix need), one customer-grain agg, one 1-row
    agg over the |customers| frame."""
    o = table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        )
        .cast("bigint")
        .alias("gap_d"),
    ).where(F.col("gap_d").isNotNull())
    m = g.groupBy("o_custkey").agg(
        F.percentile("gap_d", F.lit(0.5)).alias("med_gap")
    )
    ps = F.percentile(
        "med_gap", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))
    )
    return m.agg(
        F.count(F.lit(1)).alias("n_repeat_customers"), ps.alias("ps")
    ).select(
        "n_repeat_customers",
        *[
            F.round(F.col("ps")[i], 4).alias(n)
            for i, n in enumerate(
                ("p25_med_gap_days", "p50_med_gap_days", "p75_med_gap_days")
            )
        ],
    )


@query(
    "q194_unigram_surprisal",
    oracle="""
    WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token
               FROM documents),
    v AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cf FROM t GROUP BY 1),
    tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS T FROM v),
    q AS (SELECT token,
                 CAST(ROUND((ln(CAST(T AS DOUBLE)) - ln(CAST(cf AS DOUBLE)))
                            * 1000000) AS BIGINT) AS q_nats
          FROM v, tot),
    st AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS occ
           FROM t GROUP BY 1, 2)
    SELECT source,
           CAST(SUM(occ) AS BIGINT) AS n_tokens,
           (SUM(CAST(occ AS HUGEINT) * q.q_nats) * 20000
              + 1000000 * CAST(SUM(occ) AS HUGEINT))
             // (2 * 1000000 * CAST(SUM(occ) AS HUGEINT)) / 10000.0
             AS avg_surprisal_nats
    FROM st JOIN q USING (token)
    GROUP BY 1
    """,
    category="llm-curation",
)
def q194_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source average unigram surprisal (nats/token) under the
    corpus's own unigram model — the cheapest perplexity proxy: a
    source full of rare tokens (code, jargon, noise) scores high, a
    boilerplate source low.  The curation companion to q164 (rare-token
    RATIO thresholds; this integrates the whole distribution).

    Exactness: surprisal per token is ln(T) - ln(cf) on two INTEGER
    counts — both engines evaluate the identical float expression on
    identical integers — QUANTIZED to integer micro-nats before any
    accumulation, so sum order cannot drift the hash; the per-source
    average is then an integer ratio (ratio_e4 identity).  The occ *
    q_nats cross-product and the 1e6 * n_tokens denominator are widened
    to DECIMAL(38,0)/HUGEINT BEFORE multiplying (q162 rule) — at 100 TB
    (~1e13 tokens x ~3e7 micro-nats) the BIGINT products would wrap
    silently under ANSI-off.  Shape:
    explode -> vocabulary-scale cf agg, a (source, token) occurrence
    agg, one vocab-keyed join (both sides vocabulary-scale — the
    corpus itself never reshuffles), one |sources|-row agg."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    v = t.groupBy("token").agg(F.count(F.lit(1)).alias("cf"))
    tot = v.agg(F.sum("cf").alias("T"))
    q = v.crossJoin(F.broadcast(tot)).select(
        "token",
        F.round(
            (
                F.log(F.col("T").cast("double"))
                - F.log(F.col("cf").cast("double"))
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("q_nats"),
    )
    st = t.groupBy("source", "token").agg(F.count(F.lit(1)).alias("occ"))
    return (
        st.join(q, "token")
        .groupBy("source")
        .agg(
            F.sum("occ").alias("n_tokens"),
            F.sum(
                F.col("occ").cast("decimal(38,0)") * F.col("q_nats")
            ).alias("sq"),
        )
        .select(
            "source",
            "n_tokens",
            ratio_e4(
                "sq", "1000000 * CAST(n_tokens AS DECIMAL(38,0))"
            ).alias("avg_surprisal_nats"),
        )
    )


@query(
    "q195_vwap_deviation",
    oracle="""
    WITH b AS (SELECT event_type, CAST(ts AS DATE) AS d, ts, event_id,
                      CAST(ROUND(value * 100) AS BIGINT) AS c,
                      CAST(user_id AS BIGINT) AS v
               FROM events),
    r AS (SELECT *, row_number() OVER (PARTITION BY event_type, d
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM b),
    day AS (SELECT event_type, d,
                   CAST(SUM(c * v) AS HUGEINT) AS scv,
                   CAST(SUM(v) AS HUGEINT) AS sv,
                   MAX(CASE WHEN rn = 1 THEN c END) AS cl,
                   CAST(COUNT(*) AS BIGINT) AS n_ticks
            FROM r GROUP BY 1, 2)
    SELECT event_type, CAST(d AS VARCHAR) AS d, n_ticks,
           (scv * 20000 + 100 * sv) // (200 * sv) / 10000.0 AS vwap,
           CASE WHEN (CAST(cl AS HUGEINT) * sv - scv) < 0
                THEN -((-(CAST(cl AS HUGEINT) * sv - scv) * 10000 * 20000
                        + scv) // (2 * scv))
                ELSE (((CAST(cl AS HUGEINT) * sv - scv) * 10000 * 20000
                        + scv) // (2 * scv)) END / 10000.0
             AS close_dev_bps
    FROM day WHERE sv > 0
    """,
    category="timeseries-microstructure",
)
def q195_vwap_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily close-to-VWAP deviation in basis points per symbol-day —
    the execution-quality benchmark (did the close print above or
    below the day's volume-weighted average?), q23's VWAP discipline
    at the (symbol, day) grain with a signed integer-decided deviation.

    Exactness: VWAP enters as the exact integer pair (Σc·v, Σv) —
    never a float division mid-stream; the deviation
    (close·Σv - Σc·v)/Σc·v scales to bps and rounds half-away-from-
    zero via the signed integer identity (ratio_e4_signed), with the
    cross-products widened to DECIMAL(38,0)/HUGEINT (q162 rule).  The
    day close is rn = 1 over the (ts, event_id) DESC total order
    (q180's rule).  Shape: one (symbol, day) exchange carries the
    close pick AND the VWAP sums; output is symbol x days."""
    from pyspark.sql import Window
    from ..functions.deterministic import ratio_e4_signed

    ev = table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.to_date("ts").alias("d"),
        "ts",
        "event_id",
        cents("value").alias("c"),
        F.col("user_id").cast("bigint").alias("v"),
    )
    w = Window.partitionBy("event_type", "d").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    day = (
        b.withColumn("rn", F.row_number().over(w))
        .groupBy("event_type", "d")
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("v")).alias("scv"),
            F.sum("v").cast("decimal(38,0)").alias("sv"),
            F.max(F.when(F.col("rn") == 1, F.col("c"))).alias("cl"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .where(F.col("sv") > 0)
    )
    return day.select(
        "event_type",
        F.col("d").cast("string").alias("d"),
        "n_ticks",
        ratio_e4("scv", "100 * sv").alias("vwap"),
        ratio_e4_signed(
            "(CAST(cl AS DECIMAL(38,0)) * sv - scv) * 10000", "scv"
        ).alias("close_dev_bps"),
    )


@query(
    "q196_round_price_bias",
    oracle="""
    WITH c AS (SELECT event_type,
                      CAST(ROUND(value * 100) AS BIGINT) AS c
               FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(SUM(CASE WHEN c % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS whole_dollar,
           CAST(SUM(CASE WHEN c % 25 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS quarter,
           (SUM(CASE WHEN c % 100 = 0 THEN 1 ELSE 0 END) * 20000 + COUNT(*))
             // (2 * COUNT(*)) / 10000.0 AS whole_share,
           (SUM(CASE WHEN c % 25 = 0 THEN 1 ELSE 0 END) * 20000 + COUNT(*))
             // (2 * COUNT(*)) / 10000.0 AS quarter_share
    FROM c GROUP BY 1
    """,
    category="timeseries-microstructure",
)
def q196_round_price_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price clustering screen: the share of ticks printing on whole-
    dollar and quarter-dollar levels per symbol — the classic round-
    number bias diagnostic (human flow clusters on round levels;
    uniform algos don't), q119's digit test specialized to the levels
    traders actually anchor on.

    Exactness: cents are exact integers (non-negative, so % agrees
    across engines), shares integer-decided.  Shape: one narrow map +
    one symbol hash-agg with map-side partials; |symbols|-row output."""
    ev = table(spark, sf_dir, "events")
    c = cents("value")
    whole = F.when(c % 100 == 0, 1).otherwise(0)
    quarter = F.when(c % 25 == 0, 1).otherwise(0)
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum(whole).cast("bigint").alias("whole_dollar"),
            F.sum(quarter).cast("bigint").alias("quarter"),
        )
        .select(
            "event_type",
            "n_ticks",
            "whole_dollar",
            "quarter",
            ratio_e4("whole_dollar", "n_ticks").alias("whole_share"),
            ratio_e4("quarter", "n_ticks").alias("quarter_share"),
        )
    )


@query(
    "q197_copurchase_pairs",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
          FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey)
    SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM p GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
    category="warehouse-join",
)
def q197_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-purchased part pairs (market-basket lift's numerator):
    pairs of distinct parts appearing on the same order, ranked by
    co-order count with full deterministic tie-break — the
    recommendation-candidate generator.

    Exactness: pure integer counting over DISTINCT (order, part); the
    top-20 order is total (n DESC, part_a, part_b).  Shape (round-13
    optimization, guide §2.4): ONE orderkey-keyed hash-agg collapses
    each order to its sorted distinct part set (collect_set — bounded
    fan-in with TPC-H's ~7-line orders; an order cap would go here if
    a catalog allowed thousand-line orders), then the q56-class
    in-set pair generation (posexplode + slice, ordered pairs a < b by
    construction), a pair hash-agg and a TakeOrdered top-20.  The old
    form SELF-JOINED the distinct'd fact on orderkey — one extra
    distinct exchange plus two join exchanges of the same rows;
    value-identical (same distinct in-order pairs, same counts)."""
    d = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    sets = (
        d.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .where(F.size("ps") > 1)
    )
    return (
        in_set_pairs(sets, "ps", "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


from .tsdb_ext import _LAG_SQL as _R8_LAG_SQL  # noqa: E402


@query(
    "q198_weekend_effect",
    oracle=f"""
    WITH {_R8_LAG_SQL}
    SELECT event_type,
           CAST(SUM(CASE WHEN isodow(CAST(d AS DATE)) >= 6
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend,
           CAST(SUM(CASE WHEN isodow(CAST(d AS DATE)) <= 5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_weekday,
           (SUM(CASE WHEN isodow(CAST(d AS DATE)) >= 6
                     THEN abs(c - pc) ELSE 0 END) * 20000
            + GREATEST(SUM(CASE WHEN isodow(CAST(d AS DATE)) >= 6
                                THEN 1 ELSE 0 END), 1))
             // (2 * GREATEST(SUM(CASE WHEN isodow(CAST(d AS DATE)) >= 6
                                       THEN 1 ELSE 0 END), 1)) / 10000.0
             AS weekend_mean_absmove,
           (SUM(CASE WHEN isodow(CAST(d AS DATE)) <= 5
                     THEN abs(c - pc) ELSE 0 END) * 20000
            + GREATEST(SUM(CASE WHEN isodow(CAST(d AS DATE)) <= 5
                                THEN 1 ELSE 0 END), 1))
             // (2 * GREATEST(SUM(CASE WHEN isodow(CAST(d AS DATE)) <= 5
                                       THEN 1 ELSE 0 END), 1)) / 10000.0
             AS weekday_mean_absmove
    FROM s WHERE pc IS NOT NULL
    GROUP BY 1
    """,
    category="timeseries-microstructure",
)
def q198_weekend_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend-vs-weekday volatility split per symbol: mean absolute
    tick move (cents) on ISO weekend days vs weekdays — the calendar-
    anomaly screen (q146 splits VOLUME by weekday; this splits price
    ENERGY), riding the shared keyed-prefix lag so the comparison adds
    zero new window passes.

    Exactness: the lag is the shared _lagged recurrence (exact cents,
    keyed segmented prefix), day-class is ISO weekday on a DATE, both
    means integer-decided with a GREATEST(n,1) guard so a symbol with
    zero rows in one class publishes 0.0 rather than dividing by zero
    (identically in both engines).  Shape: the q86 template — the
    keyed lag pass, then ONE symbol hash-agg."""
    from .tsdb_ext import _lagged

    lag = _lagged(spark, sf_dir)
    dow = F.weekday("d") + 1  # ISO: Mon=1..Sun=7
    we = F.when(dow >= 6, 1).otherwise(0)
    wd = F.when(dow <= 5, 1).otherwise(0)
    mv = F.abs(F.col("c") - F.col("pc"))
    g = (
        lag.where(F.col("pc").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum(we).cast("bigint").alias("n_weekend"),
            F.sum(wd).cast("bigint").alias("n_weekday"),
            F.sum(F.when(dow >= 6, mv).otherwise(0)).alias("s_we"),
            F.sum(F.when(dow <= 5, mv).otherwise(0)).alias("s_wd"),
        )
    )
    return g.select(
        "event_type",
        "n_weekend",
        "n_weekday",
        ratio_e4("s_we", "GREATEST(n_weekend, CAST(1 AS BIGINT))").alias(
            "weekend_mean_absmove"
        ),
        ratio_e4("s_wd", "GREATEST(n_weekday, CAST(1 AS BIGINT))").alias(
            "weekday_mean_absmove"
        ),
    )


@query(
    "q199_dedup_savings",
    oracle="""
    WITH g AS (
      SELECT source, md5(text) AS h,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MIN(LENGTH(text)) AS BIGINT) AS sz
      FROM documents GROUP BY 1, 2),
    s AS (
      SELECT source,
             CAST(SUM(n) AS BIGINT) AS n_docs,
             CAST(SUM(n - 1) AS BIGINT) AS n_dups,
             CAST(SUM(n * sz) AS BIGINT) AS total_bytes,
             CAST(SUM((n - 1) * sz) AS BIGINT) AS dup_bytes
      FROM g GROUP BY 1)
    SELECT source, n_docs, n_dups, total_bytes, dup_bytes,
           (dup_bytes * 20000 + GREATEST(total_bytes, 1))
             // (2 * GREATEST(total_bytes, 1)) / 10000.0 AS savings_share
    FROM s
    """,
    category="llm-dedup",
)
def q199_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source storage savings from exact dedup: how many bytes
    disappear if each identical-text group keeps one survivor — the
    budget line that justifies running the q50/q66 pipeline at all
    (q190 sizes multiplicity; this prices it, per source).  Grouping is
    per (source, digest): a text duplicated across sources still costs
    each source its own copies, matching per-source storage accounting.

    Exactness: md5 is bit-identical, LENGTH counts the same characters
    in both engines (fixture text is single-byte), everything else is
    integer counting with a GREATEST(.,1) guard on the share.  Shape:
    one (source, digest) hash-agg (digests move, never text), then a
    |sources|-row rollup."""
    d = table(spark, sf_dir, "documents")
    g = d.groupBy("source", F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.length("text")).cast("bigint").alias("sz"),
    )
    s = g.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.sum(F.col("n") - 1).alias("n_dups"),
        F.sum(F.col("n") * F.col("sz")).alias("total_bytes"),
        F.sum((F.col("n") - 1) * F.col("sz")).alias("dup_bytes"),
    )
    return s.select(
        "source",
        "n_docs",
        "n_dups",
        "total_bytes",
        "dup_bytes",
        ratio_e4(
            "dup_bytes", "GREATEST(total_bytes, CAST(1 AS BIGINT))"
        ).alias("savings_share"),
    )


@query(
    "q200_priority_mix_shift",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
             o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2),
    t AS (SELECT month, CAST(SUM(n) AS BIGINT) AS tot FROM m GROUP BY 1),
    sh AS (
      SELECT m.month, m.o_orderpriority, m.n,
             (m.n * 20000 + t.tot) // (2 * t.tot) / 10000.0 AS share
      FROM m JOIN t ON m.month = t.month),
    lagged AS (
      SELECT *, lag(share) OVER (PARTITION BY o_orderpriority
                                 ORDER BY month) AS prev_share
      FROM sh)
    SELECT CAST(CAST(month AS DATE) AS VARCHAR) AS month,
           o_orderpriority, n, share,
           ROUND(share - prev_share, 4) AS share_delta
    FROM lagged WHERE prev_share IS NOT NULL
    """,
    category="warehouse-trend",
)
def q200_priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month priority mix drift: each priority class's share
    of the month's orders and its delta vs the previous month — the
    early-warning panel for demand-mix shifts (q140 tracks revenue
    GROWTH; this tracks composition).

    Exactness: shares are integer-decided per month (ratio_e4), and the
    delta subtracts two exact 4-decimal values (scaled integers over
    10^4 — the difference is again exact at 4 decimals, so round(.,4)
    is an identity in both engines).  Shape: one (month, priority)
    hash-agg, month totals via a window on that grid, the MoM lag on
    the |priorities| x |months| frame — everything after the first agg
    is grid-sized."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("mo"),
        "o_orderpriority",
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(Window.partitionBy("mo"))
    sh = m.withColumn("tot", tot).select(
        "mo", "o_orderpriority", "n", ratio_e4("n", "tot").alias("share")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("mo")
    lagged = sh.withColumn("prev_share", F.lag("share").over(w)).where(
        F.col("prev_share").isNotNull()
    )
    return lagged.select(
        F.col("mo").cast("date").cast("string").alias("month"),
        "o_orderpriority",
        "n",
        "share",
        F.round(F.col("share") - F.col("prev_share"), 4).alias(
            "share_delta"
        ),
    )


@query(
    "q201_temperature_mix",
    oracle="""
    WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY 1),
    w AS (SELECT source, n_docs,
                 CAST(ROUND(pow(CAST(n_docs AS DOUBLE), 0.7) * 1000000)
                      AS BIGINT) AS w_u
          FROM s),
    t AS (SELECT CAST(SUM(w_u) AS BIGINT) AS tot FROM w)
    SELECT source, n_docs,
           (w_u * 20000 + tot) // (2 * tot) / 10000.0 AS mix_share,
           CAST((w_u * 200000 + tot) // (2 * tot) AS BIGINT)
             AS draws_per_100k
    FROM w, t
    """,
    category="llm-curation",
)
def q201_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the standard training-mixture
    rule: weight ∝ size^alpha with alpha = 0.7, the up-sample-the-tail
    compromise between proportional and uniform): each source's
    normalized mixture share and its expected draw count for a 100k
    sample budget — the table a data-loading sampler is configured
    from (q85 reports the raw mix; this prescribes the tempered one).

    Exactness: pow(n, 0.7) is ONE float expression on an integer count,
    QUANTIZED to integer micro-units before any normalization (the q194
    rule — a 1-ulp libm divergence is 7 orders below the quantum), so
    shares and draw counts are integer-decided end to end.  Shape: one
    source hash-agg, a broadcast 1-row total, in-row publishes;
    |sources|-row output."""
    d = table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = s.select(
        "source",
        "n_docs",
        F.round(F.pow(F.col("n_docs").cast("double"), 0.7) * 1_000_000)
        .cast("bigint")
        .alias("w_u"),
    )
    # the grand total rides a global window over the ALREADY-AGGREGATED
    # |sources| frame — a single-partition pass over dim-sized rows (the
    # "1-row agg over partials" class the repo allows), never a second
    # scan of the corpus
    from pyspark.sql import Window

    w = w.withColumn(
        "tot", F.sum("w_u").over(Window.partitionBy(F.lit(1)))
    )
    return w.select(
        "source",
        "n_docs",
        ratio_e4("w_u", "tot").alias("mix_share"),
        F.expr(
            "CAST((CAST(w_u AS DECIMAL(38,0)) * 200000 + tot)"
            " div (2 * CAST(tot AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("draws_per_100k"),
    )


@query(
    "q202_surprisal_percentiles",
    oracle="""
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
               FROM documents),
    v AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cf FROM t GROUP BY 1),
    tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS T FROM v),
    q AS (SELECT token,
                 CAST(ROUND((ln(CAST(T AS DOUBLE)) - ln(CAST(cf AS DOUBLE)))
                            * 1000000) AS BIGINT) AS q_nats
          FROM v, tot),
    docs AS (SELECT doc_id,
                    CAST(SUM(q.q_nats) AS BIGINT)
                      // CAST(COUNT(*) AS BIGINT) AS mean_unats
             FROM t JOIN q USING (token) GROUP BY doc_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(quantile_cont(mean_unats, 0.10), 4) AS p10_unats,
           ROUND(quantile_cont(mean_unats, 0.25), 4) AS p25_unats,
           ROUND(quantile_cont(mean_unats, 0.50), 4) AS p50_unats,
           ROUND(quantile_cont(mean_unats, 0.75), 4) AS p75_unats,
           ROUND(quantile_cont(mean_unats, 0.90), 4) AS p90_unats
    FROM docs
    """,
    category="llm-curation",
)
def q202_surprisal_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide distribution of per-document mean unigram surprisal
    (micro-nats): the p10-p90 band a perplexity-based quality filter
    cuts against — q194 averages per SOURCE (where does odd text come
    from); this is the per-DOCUMENT distribution (what threshold keeps
    the middle of the corpus).

    Exactness: per-token surprisal is the q194 quantized integer; the
    per-doc mean is INTEGER floor division (sq, n both non-negative —
    Spark div == DuckDB //; the Spark sum is widened to DECIMAL(38,0)
    so a pathological 1e11-token document cannot wrap it, matching
    DuckDB's HUGEINT SUM), and the percentiles are exact
    interpolated percentiles over those integers.  Shape: the q194
    vocab join keyed by token, then a doc-grain agg and a 1-row
    percentile rollup over the |docs| frame."""
    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    v = t.groupBy("token").agg(F.count(F.lit(1)).alias("cf"))
    tot = v.agg(F.sum("cf").alias("T"))
    q = v.crossJoin(F.broadcast(tot)).select(
        "token",
        F.round(
            (
                F.log(F.col("T").cast("double"))
                - F.log(F.col("cf").cast("double"))
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("q_nats"),
    )
    docs = (
        t.join(q, "token")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "CAST(SUM(CAST(q_nats AS DECIMAL(38,0)))"
                " div CAST(COUNT(*) AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("mean_unats")
        )
    )
    ps = F.percentile(
        "mean_unats",
        F.array(*[F.lit(x) for x in (0.10, 0.25, 0.50, 0.75, 0.90)]),
    )
    return docs.agg(F.count(F.lit(1)).alias("n_docs"), ps.alias("ps")).select(
        "n_docs",
        *[
            F.round(F.col("ps")[i], 4).alias(n)
            for i, n in enumerate(
                ("p10_unats", "p25_unats", "p50_unats", "p75_unats",
                 "p90_unats")
            )
        ],
    )


@query(
    "q203_peak_concurrency",
    oracle="""
    WITH g AS (SELECT user_id, ts, event_id,
                      CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > 1800 * 1000000
                           THEN 1 ELSE 0 END AS new_s
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, ts,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM g),
    sess AS (SELECT user_id, sid,
                    epoch_us(MIN(ts)) AS s_us, epoch_us(MAX(ts)) AS e_us
             FROM s GROUP BY user_id, sid),
    b AS (SELECT s_us AS us, CAST(1 AS BIGINT) AS delta, user_id, sid
          FROM sess
          UNION ALL
          SELECT e_us + 1 AS us, CAST(-1 AS BIGINT) AS delta, user_id, sid
          FROM sess),
    c AS (SELECT us, delta,
                 SUM(delta) OVER (ORDER BY us, delta, user_id, sid
                                  ROWS UNBOUNDED PRECEDING) AS conc
          FROM b)
    SELECT CAST((SELECT COUNT(*) FROM sess) AS BIGINT) AS n_sessions,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
           CAST(MIN(CASE WHEN conc = (SELECT MAX(conc) FROM c)
                         THEN us END) AS BIGINT) AS first_peak_us
    FROM c
    """,
    category="timeseries-session",
)
def q203_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions (sweep line over q37's gaps-and-islands
    session intervals): the capacity-planning number a serving fleet is
    sized by, plus the first instant it was reached — the interval
    family's missing aggregate (q17 JOINS intervals; this integrates
    their overlap).

    Boundary convention: a session [s, e] occupies (s, e] closed at
    both tick instants; its -1 boundary is stamped e+1 microsecond so a
    session ending exactly when another starts still overlaps it —
    and at EQUAL boundary timestamps the -1 sorts before the +1
    (delta ASC), the conservative tie rule, pinned identically in both
    engines by the (us, delta, user_id, sid) total order.

    Exactness: boundaries are integer micros, the running concurrency
    is an integer prefix sum over the boundary stream — computed by the
    two-pass range prefix (:func:`..prefix.global_cumsum`, N-way
    parallel, no single-partition window over the 2x|sessions| frame) —
    and the peak/first-instant pair is one integer agg.  Shape: the
    q37 session pass collapses the tape to |sessions| rows; everything
    after runs on the boundary dim.  1-row output."""
    from .sessions import q37_sessionize
    from ..catalog import table as _table  # noqa: F401  (style parity)
    from .prefix import global_cumsum

    sess = q37_sessionize(spark, sf_dir)
    # q37 publishes (user_id, session_id, n_events, dur_us); recover the
    # start/end instants from the same exact session pass
    ev = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(
        gap.isNull() | (gap > 1800 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    s = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.sum(new_s).over(run).cast("bigint").alias("sid"),
    )
    spans = s.groupBy("user_id", "sid").agg(
        F.min("us").alias("s_us"), F.max("us").alias("e_us")
    )
    # round 13: both boundary rows come out of ONE pass over the spans
    # frame (explode of a 2-struct array) — the old two-branch union
    # recomputed the window+agg session chain per branch
    b = spans.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("s_us").alias("us"),
                    F.lit(1).cast("bigint").alias("delta"),
                    F.col("user_id"),
                    F.col("sid"),
                ),
                F.struct(
                    (F.col("e_us") + 1).alias("us"),
                    F.lit(-1).cast("bigint").alias("delta"),
                    F.col("user_id"),
                    F.col("sid"),
                ),
            )
        ).alias("__b")
    ).select("__b.*")
    # round 13: no pinned partition count — the boundary frame is
    # 2x|sessions| (dim-sized), so the prefix dispatch picks the
    # classic single sort at bench SF and the N-way two-pass above the
    # size threshold (the old hardcoded 8 was a local-mode tuning)
    c = global_cumsum(
        b,
        [F.col("us"), F.col("delta"), F.col("user_id"), F.col("sid")],
        "delta",
        "conc",
        count_total_col="n_bounds",
    )
    # global max via a window over the dim-sized boundary frame (the
    # q201 class), THEN one 1-row agg — Spark forbids windows inside
    # aggregates
    c = c.withColumn(
        "mx", F.max("conc").over(W.partitionBy(F.lit(1)))
    )
    return c.agg(
        (F.max("n_bounds") / 2).cast("bigint").alias("n_sessions"),
        F.max("conc").alias("peak_concurrency"),
        F.min(
            F.when(F.col("conc") == F.col("mx"), F.col("us"))
        ).alias("first_peak_us"),
    )
