"""Round-10 depth additions (q227+): pairwise Jensen-Shannon source
divergence, session-depth quartiles by entry type, arrival-order (watermark) audit,
event-id sequence-completeness audit, signup-to-purchase conversion
cohorts, JSON-field distribution profile.

Same discipline as every extension block: exact integer arithmetic for
every published number (integer micros / counts, ratios via the
deterministic round-half-up identity in
``functions.deterministic.ratio_e4``), per-key windows only on keys
whose cardinality scales with the data (user_id / bucket, never the
5-symbol tape), and shuffle shapes that stay key-bounded at 100 TB.
Reference parity: the reference stops at scan/count
(`timeseries_db.cpp:29-233`); these extend SURVEY §2.2's engagement /
quality / warehouse rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.deterministic import ratio_e4, ratio_e4_signed
from ..registry import query
from .llm.corpus_ext import q_e4_lift_guarded
from .prefix import global_row_number

_GAP_S = 1800  # q37's session gap: 30 min of inactivity
_WEEK_US = 7 * 86400 * 1_000_000

# ---------------------------------------------------------------------------
# q227: pairwise Jensen-Shannon divergence between source unigram models
# ---------------------------------------------------------------------------

# round(1e6 * ln 2): the per-token KL contribution of mass the other
# source lacks entirely (p_i/m_i == 2 there), in integer micro-nats.
_LN2_MICRO = 693147

# ln-term micro-nat quantizers, kept as IDENTICAL expression text on both
# engines (q194 rule: both evaluate the same IEEE expression on the same
# integers, then ROUND pins the value before any accumulation).  The
# count products are formed in DOUBLE — at 100 TB a_i*B would overflow
# BIGINT, and the double rounding is one IEEE op on identical inputs.
_JSD_M = (
    "ln(CAST(a AS DOUBLE) * CAST(Bt AS DOUBLE)"
    " + CAST(b AS DOUBLE) * CAST(At AS DOUBLE))"
)
_JSD_QP = (
    f"CAST(ROUND(1000000 * (ln(2.0 * CAST(a AS DOUBLE)"
    f" * CAST(Bt AS DOUBLE)) - {_JSD_M})) AS BIGINT)"
)
_JSD_QQ = (
    f"CAST(ROUND(1000000 * (ln(2.0 * CAST(b AS DOUBLE)"
    f" * CAST(At AS DOUBLE)) - {_JSD_M})) AS BIGINT)"
)


@query(
    "q227_source_divergence",
    oracle=f"""
    WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token
               FROM documents),
    st AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS occ
           FROM t GROUP BY 1, 2),
    tot AS (SELECT source, CAST(SUM(occ) AS BIGINT) AS T
            FROM st GROUP BY 1),
    inter AS (SELECT x.source AS sa, y.source AS sb,
                     x.occ AS a, y.occ AS b, ta.T AS At, tb.T AS Bt
              FROM st x JOIN st y USING (token)
              JOIN tot ta ON ta.source = x.source
              JOIN tot tb ON tb.source = y.source
              WHERE x.source < y.source),
    q AS (SELECT sa, sb, a, b, At, Bt,
                 {_JSD_QP} AS qp, {_JSD_QQ} AS qq
          FROM inter),
    g AS (SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS n_shared,
                 SUM(CAST(a AS HUGEINT) * qp) AS klp_i,
                 SUM(CAST(b AS HUGEINT) * qq) AS klq_i,
                 CAST(SUM(a) AS HUGEINT) AS sa_i,
                 CAST(SUM(b) AS HUGEINT) AS sb_i
          FROM q GROUP BY 1, 2),
    spine AS (SELECT ta.source AS sa, tb.source AS sb,
                     CAST(ta.T AS HUGEINT) AS At,
                     CAST(tb.T AS HUGEINT) AS Bt
              FROM tot ta, tot tb WHERE ta.source < tb.source),
    f AS (SELECT s.sa, s.sb, COALESCE(g.n_shared, 0) AS n_shared,
                 s.At, s.Bt,
                 COALESCE(g.klp_i, 0)
                   + (s.At - COALESCE(g.sa_i, 0)) * {_LN2_MICRO} AS klp,
                 COALESCE(g.klq_i, 0)
                   + (s.Bt - COALESCE(g.sb_i, 0)) * {_LN2_MICRO} AS klq
          FROM spine s LEFT JOIN g ON g.sa = s.sa AND g.sb = s.sb),
    r AS (SELECT sa, sb, n_shared,
                 klp * Bt + klq * At AS num,
                 2000000 * At * Bt AS den
          FROM f)
    SELECT sa, sb, n_shared,
           CASE WHEN num < 0
                THEN -(((-num) * 20000 + den) // (2 * den))
                ELSE ((num * 20000 + den) // (2 * den)) END / 10000.0
             AS jsd_nats
    FROM r
    """,
    category="llm-curation",
)
def q227_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the sources' unigram
    language models (nats; 0 = identical mixture, ln 2 = disjoint) —
    the distributional distance behind training-mix design: q85 sizes
    the sources and q194 scores their difficulty, this says WHICH
    sources are near-duplicates of each other distribution-wise.

    Math: with token counts a_i (source A, total mass At) and b_i
    (source B, total Bt), p_i/m_i = 2·a_i·Bt/(a_i·Bt + b_i·At), so
    JSD = ½[Σ (a_i/At)·ln(2a_iBt/(a_iBt+b_iAt)) + symmetric]; tokens
    the other source lacks contribute exactly ln 2 — the two closed
    "only-mass" terms (At−Σa)·ln2 need no outer join.

    Exactness: each ln term is the identical IEEE expression on
    identical integers quantized to micro-nats BEFORE accumulation
    (q194 rule); the occ×micro-nat cross-products widen to
    DECIMAL(38,0)/HUGEINT (q162 rule — at ~1e13 tokens the BIGINT
    product wraps); the final number is the signed round-half-away
    integer identity (ratio_e4_signed).  Shape: one explode →
    vocabulary-scale (source, token) agg (pinned once — both join
    branches reuse it), a token-keyed self-join whose output is
    ≤ |pairs|×|vocab|, 5-row totals broadcast twice, |pairs|-row
    output.  The corpus text itself never reshuffles."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    st = (
        t.groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("occ"))
        .localCheckpoint(eager=False)
    )
    tot = st.groupBy("source").agg(F.sum("occ").alias("T"))
    x = st.select(
        F.col("source").alias("sa"), "token", F.col("occ").alias("a")
    )
    y = st.select(
        F.col("source").alias("sb"), "token", F.col("occ").alias("b")
    )
    ta = tot.select(F.col("source").alias("sa"), F.col("T").alias("At"))
    tb = tot.select(F.col("source").alias("sb"), F.col("T").alias("Bt"))
    inter = (
        x.join(y, "token")
        .where(F.col("sa") < F.col("sb"))
        .join(F.broadcast(ta), "sa")
        .join(F.broadcast(tb), "sb")
    )
    q = inter.select(
        "sa", "sb", "a", "b", "At", "Bt",
        F.expr(_JSD_QP).alias("qp"),
        F.expr(_JSD_QQ).alias("qq"),
    )
    dec = "decimal(38,0)"
    g = q.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).alias("n_shared"),
        F.sum(F.col("a").cast(dec) * F.col("qp")).alias("klp_i"),
        F.sum(F.col("b").cast(dec) * F.col("qq")).alias("klq_i"),
        F.sum("a").cast(dec).alias("sa_i"),
        F.sum("b").cast(dec).alias("sb_i"),
    )
    # Pair SPINE from the 5-row totals cross (broadcast scalar frames —
    # the allowlisted crossJoin class): a pair sharing NO token must
    # still report its JSD (= ln 2), not vanish from the result.
    spine = (
        ta.crossJoin(F.broadcast(tb))
        .where(F.col("sa") < F.col("sb"))
        .select(
            "sa", "sb",
            F.col("At").cast(dec).alias("At"),
            F.col("Bt").cast(dec).alias("Bt"),
        )
    )
    z = F.lit(0).cast(dec)
    f = spine.join(g, ["sa", "sb"], "left").select(
        "sa", "sb",
        F.coalesce(F.col("n_shared"), F.lit(0).cast("bigint")).alias(
            "n_shared"
        ),
        "At", "Bt",
        (
            F.coalesce(F.col("klp_i"), z)
            + (F.col("At") - F.coalesce(F.col("sa_i"), z)) * _LN2_MICRO
        )
        .cast(dec)
        .alias("klp"),
        (
            F.coalesce(F.col("klq_i"), z)
            + (F.col("Bt") - F.coalesce(F.col("sb_i"), z)) * _LN2_MICRO
        )
        .cast(dec)
        .alias("klq"),
    )
    r = f.select(
        "sa", "sb", "n_shared",
        (F.col("klp") * F.col("Bt") + F.col("klq") * F.col("At"))
        .cast(dec)
        .alias("num"),
        (F.lit(2000000).cast(dec) * F.col("At") * F.col("Bt"))
        .cast(dec)
        .alias("den"),
    )
    return r.select(
        "sa", "sb", "n_shared",
        ratio_e4_signed("num", "den").alias("jsd_nats"),
    )


# ---------------------------------------------------------------------------
# q228: session depth quartiles by entry event type
# ---------------------------------------------------------------------------


@query(
    "q228_session_depth",
    oracle=f"""
    WITH g AS (SELECT user_id, ts, event_id, event_type,
                      CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > {_GAP_S} * 1000000
                           THEN 1 ELSE 0 END AS new_s
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, event_type, new_s,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM g),
    d AS (SELECT user_id, sid,
                 CAST(COUNT(*) AS BIGINT) AS depth,
                 MAX(CASE WHEN new_s = 1 THEN event_type END) AS entry_type
          FROM s GROUP BY 1, 2)
    SELECT entry_type, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           ROUND(quantile_cont(depth, 0.25), 4) AS p25_depth,
           ROUND(quantile_cont(depth, 0.50), 4) AS p50_depth,
           ROUND(quantile_cont(depth, 0.75), 4) AS p75_depth,
           CAST(MAX(depth) AS BIGINT) AS max_depth
    FROM d GROUP BY 1
    """,
    category="engagement-session",
)
def q228_session_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-depth quartiles by session ENTRY event type: how long a
    session runs depending on how it started — the landing-page depth
    panel (q215 reports the 1-event bounce share; this is the full
    depth distribution behind it).

    Exactness: depth is an integer count, quartiles are exact
    interpolated percentiles on integers (q187 precedent), and the
    entry type rides q37's new_s=1 flag through a plain MAX(CASE) —
    exactly one flagged row per session, so no ordered agg and no
    max_by(struct) sort-agg.  Shape: q37's one user-keyed exchange
    (lag + running sum + session agg share the partitioning), then a
    |types|-row agg whose percentile partials merge map-side."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(
        gap.isNull() | (gap > _GAP_S * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    s = ev.select(
        "user_id",
        "event_type",
        new_s.alias("new_s"),
        F.sum(new_s).over(run).cast("bigint").alias("sid"),
    )
    d = s.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("depth"),
        F.max(
            F.when(F.col("new_s") == 1, F.col("event_type"))
        ).alias("entry_type"),
    )
    ps = F.percentile(
        "depth", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        d.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            ps.alias("ps"),
            F.max("depth").alias("max_depth"),
        )
        .select(
            "entry_type",
            "n_sessions",
            *[
                F.round(F.col("ps")[i], 4).alias(n)
                for i, n in enumerate(
                    ("p25_depth", "p50_depth", "p75_depth")
                )
            ],
            "max_depth",
        )
    )


# ---------------------------------------------------------------------------
# q229: arrival-order (watermark) audit
# ---------------------------------------------------------------------------


@query(
    "q229_arrival_order_audit",
    oracle="""
    WITH t AS (SELECT user_id, epoch_us(ts) AS us,
                      MAX(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      ) AS wm
               FROM events)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN us < wm THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           (SUM(CASE WHEN us < wm THEN 1 ELSE 0 END) * 20000 + COUNT(*))
             // (2 * COUNT(*)) / 10000.0 AS late_share_e4,
           CAST(COALESCE(MAX(CASE WHEN us < wm THEN wm - us END), 0)
                AS BIGINT) AS max_late_us
    FROM t GROUP BY 1
    """,
    category="quality-streaming",
)
def q229_arrival_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival audit per user: an event is LATE when its
    event time is behind the per-user high-watermark of everything that
    arrived before it (arrival order = event_id, the reference's seq
    semantics, `timeseries_db.cpp:105-117`).  n_late sizes the late-data
    problem; max_late_us IS the watermark delay a streaming job needs
    (`streaming/windows.py` takes exactly this number as its
    withWatermark bound).  On the generated testdata arrival order IS
    time order, so n_late is all-zero — the healthy reading, exactly
    like q225's orphan audit; the late path is planted-fixture-tested.

    Exactness: integer microseconds throughout; the late share is the
    ratio_e4 identity; the empty-late MAX is pinned to 0 on both
    engines.  Shape: one running-MAX window + one hash-agg sharing the
    per-user partitioning — a single exchange, and user_id scales with
    the data."""
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    us = F.unix_micros("ts")
    t = ev.select(
        "user_id",
        us.alias("us"),
        F.max(us).over(w).alias("wm"),
    )
    late = F.when(F.col("us") < F.col("wm"), F.lit(1)).otherwise(F.lit(0))
    return (
        t.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(late).alias("n_late"),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("us") < F.col("wm"),
                        F.col("wm") - F.col("us"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("max_late_us"),
        )
        .select(
            "user_id",
            "n_events",
            "n_late",
            ratio_e4("n_late", "n_events").alias("late_share_e4"),
            "max_late_us",
        )
    )


# ---------------------------------------------------------------------------
# q232: event-id sequence-completeness audit
# ---------------------------------------------------------------------------

_GAP_BUCKET = 1 << 16


@query(
    "q230_eventid_gaps",
    oracle="""
    WITH ids AS (SELECT DISTINCT event_id AS id FROM events),
    t AS (SELECT id, lag(id) OVER (ORDER BY id) AS prev FROM ids),
    g AS (SELECT id - prev - 1 AS gap FROM t
          WHERE prev IS NOT NULL AND id - prev > 1)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ids) AS n_ids,
           (SELECT CAST(MIN(id) AS BIGINT) FROM ids) AS min_id,
           (SELECT CAST(MAX(id) AS BIGINT) FROM ids) AS max_id,
           (SELECT CAST(MAX(id) - MIN(id) + 1 - COUNT(*) AS BIGINT)
            FROM ids) AS n_missing,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS n_gap_runs,
           (SELECT CAST(COALESCE(MAX(gap), 0) AS BIGINT) FROM g) AS max_gap
    """,
    category="quality-integrity",
)
def q230_eventid_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-completeness audit over the arrival sequence: how many
    event_ids are missing, in how many contiguous gap runs, and the
    widest run — the did-ingest-drop-anything gate next to q225's
    foreign-key audit (the reference's seq is its implicit row id;
    a hole means a lost write).

    Exactness: pure integer id arithmetic; n_missing is the closed-form
    span − count (no adjacency needed), gap runs come from per-bucket
    lag plus a boundary pass.  Shape — NO global sort of the data:
    ids dedup into 64Ki-wide buckets (one corpus-scale exchange with
    map-side partials), intra-bucket runs use a bucket-keyed window
    (≤65 536 rows per partition by construction), and the |buckets|-row
    summary frame gets a two-pass :func:`global_row_number` (the frame
    is data/65 536 — parallel, never single-partition) so each bucket
    joins its successor for boundary gaps; the final 1-row agg reduces
    32 partials."""
    ev = table(spark, sf_dir, "events")
    ids = (
        ev.select(F.col("event_id").alias("id"))
        .distinct()
        .withColumn("bucket", F.expr(f"id div {_GAP_BUCKET}"))
    )
    w = W.partitionBy("bucket").orderBy("id")
    gap = F.col("id") - F.lag("id").over(w) - 1
    rows = ids.select("bucket", "id", gap.alias("gap"))
    s = rows.groupBy("bucket").agg(
        F.min("id").alias("first_id"),
        F.max("id").alias("last_id"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("gap") > 0, 1).otherwise(0)).alias("n_runs"),
        F.max(F.when(F.col("gap") > 0, F.col("gap"))).alias("intra_max"),
    )
    # Pin ONE execution of the range-partitioned row-numbered frame —
    # two branches (self + successor probe) must see identical rn
    # (the round-7 range-exchange-nondeterminism rule).
    b = global_row_number(s, [F.col("bucket")], "rn").localCheckpoint(
        eager=False
    )
    nxt = b.select(
        (F.col("rn") - 1).alias("rn"), F.col("first_id").alias("nxt_first")
    )
    j = b.join(nxt, "rn", "left").withColumn(
        "bd_gap", F.col("nxt_first") - F.col("last_id") - 1
    )
    agg = j.agg(
        F.sum("n").alias("n_ids"),
        F.min("first_id").alias("min_id"),
        F.max("last_id").alias("max_id"),
        (
            F.sum("n_runs")
            + F.sum(F.when(F.col("bd_gap") > 0, 1).otherwise(0))
        ).alias("n_gap_runs"),
        F.greatest(
            F.coalesce(F.max("intra_max"), F.lit(0)),
            F.coalesce(
                F.max(F.when(F.col("bd_gap") > 0, F.col("bd_gap"))),
                F.lit(0),
            ),
        ).alias("max_gap"),
    )
    return agg.select(
        "n_ids",
        "min_id",
        "max_id",
        (F.col("max_id") - F.col("min_id") + 1 - F.col("n_ids")).alias(
            "n_missing"
        ),
        "n_gap_runs",
        "max_gap",
    )


# ---------------------------------------------------------------------------
# q235: signup -> first-purchase conversion by signup week
# ---------------------------------------------------------------------------


@query(
    "q231_signup_conversion",
    oracle=f"""
    WITH s AS (SELECT user_id, MIN(epoch_us(ts)) AS signup_us
               FROM events WHERE event_type = 'signup' GROUP BY 1),
    p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS first_purchase_us
          FROM events e JOIN s USING (user_id)
          WHERE e.event_type = 'purchase'
            AND epoch_us(e.ts) >= s.signup_us
          GROUP BY 1),
    c AS (SELECT s.user_id, s.signup_us // {_WEEK_US} AS week,
                 CASE WHEN p.first_purchase_us IS NOT NULL
                       AND p.first_purchase_us - s.signup_us
                           <= {_WEEK_US} THEN 1 ELSE 0 END AS conv
          FROM s LEFT JOIN p USING (user_id))
    SELECT CAST(week AS BIGINT) AS week,
           CAST(COUNT(*) AS BIGINT) AS n_signups,
           CAST(SUM(conv) AS BIGINT) AS n_converted_7d,
           (SUM(conv) * 20000 + COUNT(*)) // (2 * COUNT(*)) / 10000.0
             AS conv_share_e4
    FROM c GROUP BY 1
    """,
    category="engagement-cohort",
)
def q231_signup_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase conversion by signup epoch-week: of the
    users whose FIRST signup landed in week W, what share purchased
    within 7 days — the activation funnel q145's retention matrix sits
    downstream of (q222 measures first→second purchase; this measures
    zero→first).

    Exactness: cohort week is integer floor-division of positive
    integer micros (identical div both engines — no engine week-origin
    ambiguity, the q192 lesson applied by sidestepping calendars
    entirely); conversion is an integer flag and the rate is the
    ratio_e4 identity.  Shape: two pushed-down event-type slices, both
    user-keyed aggs; the inequality (purchase at-or-after signup) rides
    the user_id equi-join, never a nested loop; output is |weeks|
    rows."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(us).alias("signup_us"))
        # pinned: feeds the purchase join AND the final left join — one
        # signup-slice scan instead of two (plan-contract single-scan rule)
        .localCheckpoint(eager=False)
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", us.alias("p_us"))
        .join(s, "user_id")
        .where(F.col("p_us") >= F.col("signup_us"))
        .groupBy("user_id")
        .agg(F.min("p_us").alias("first_purchase_us"))
    )
    conv = F.when(
        F.col("first_purchase_us").isNotNull()
        & (F.col("first_purchase_us") - F.col("signup_us") <= _WEEK_US),
        F.lit(1),
    ).otherwise(F.lit(0))
    c = s.join(p, "user_id", "left").select(
        F.expr(f"signup_us div {_WEEK_US}").alias("week"),
        conv.alias("conv"),
    )
    return (
        c.groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("n_signups"),
            F.sum("conv").alias("n_converted_7d"),
        )
        .select(
            "week",
            "n_signups",
            "n_converted_7d",
            ratio_e4("n_converted_7d", "n_signups").alias("conv_share_e4"),
        )
    )


# ---------------------------------------------------------------------------
# q236: JSON property distribution profile
# ---------------------------------------------------------------------------


@query(
    "q232_props_profile",
    oracle="""
    WITH t AS (SELECT event_type,
                      CAST(json_extract(props, '$.k') AS BIGINT) AS k
               FROM events)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           ROUND(quantile_cont(k, 0.25), 4) AS p25_k,
           ROUND(quantile_cont(k, 0.50), 4) AS p50_k,
           ROUND(quantile_cont(k, 0.75), 4) AS p75_k
    FROM t GROUP BY 1
    """,
    category="functions-json",
)
def q232_props_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution profile of a JSON payload field per event type:
    count, distinct cardinality, range, and quartiles of ``props.k`` —
    the schema-on-read profiling panel a pipeline runs before promoting
    a JSON field to a real column (q43 sums the field; this is the
    decide-the-column's-type-and-skew audit).

    Exactness: the extracted field is an integer on both engines
    (from_json map<string,bigint> == DuckDB json_extract → BIGINT) and
    quartiles are exact interpolated percentiles on integers.  Shape:
    from_json stays inside whole-stage codegen, one |types|-keyed
    hash-agg with map-side partials (the distinct expands to
    (type, k) partials first — k's domain is bounded, so the expansion
    is grid-sized)."""
    ev = table(spark, sf_dir, "events")
    k = F.from_json("props", "map<string,bigint>").getItem("k")
    t = ev.select("event_type", k.alias("k"))
    ps = F.percentile("k", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        t.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("k").alias("n_distinct_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            ps.alias("ps"),
        )
        .select(
            "event_type",
            "n",
            "n_distinct_k",
            "min_k",
            "max_k",
            *[
                F.round(F.col("ps")[i], 4).alias(n)
                for i, n in enumerate(("p25_k", "p50_k", "p75_k"))
            ],
        )
    )


# ---------------------------------------------------------------------------
# q233: ingestion drift panel (doc-id deciles)
# ---------------------------------------------------------------------------


@query(
    "q233_ingestion_drift",
    oracle="""
    WITH mx AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS m FROM documents),
    d AS (SELECT (doc_id * 10) // (mx.m + 1) AS decile, n_chars,
                 md5(text) AS dg
          FROM documents, mx),
    mult AS (SELECT dg, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1)
    SELECT CAST(d.decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
           (SUM(d.n_chars) * 20000 + COUNT(*)) // (2 * COUNT(*)) / 10000.0
             AS avg_chars,
           CAST(SUM(CASE WHEN mult.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           (SUM(CASE WHEN mult.c > 1 THEN 1 ELSE 0 END) * 20000 + COUNT(*))
             // (2 * COUNT(*)) / 10000.0 AS dup_share_e4
    FROM d JOIN mult USING (dg)
    GROUP BY 1
    """,
    category="llm-curation",
)
def q233_ingestion_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift along ingestion order: per doc-id decile the volume,
    exact mean length, and exact-duplicate share (a doc is "dup" when
    its text appears anywhere in the corpus more than once) — the
    is-the-crawl-degrading monitor; q224 tracks vocabulary novelty per
    decile, this tracks size and redundancy.

    Exactness: decile is the q224 integer floor-division against the
    1-row max-id probe; length mean and dup share are ratio_e4 on
    integer sums.  Shape: digests-only shuffles — the multiplicity agg
    keys on md5(text) and the join back carries (dg, decile, n_chars)
    skinny rows; the document text itself never moves (q50/q190 rule);
    10-row output."""
    d0 = table(spark, sf_dir, "documents")
    mx = d0.agg(F.max("doc_id").alias("m"))
    d = (
        d0.select("doc_id", "n_chars", F.md5("text").alias("dg"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.expr("(doc_id * 10) div (m + 1)").cast("bigint").alias(
                "decile"
            ),
            "n_chars",
            "dg",
        )
        # pinned: feeds the multiplicity agg AND the join back — the
        # corpus is digested once (plan-contract single-scan rule)
        .localCheckpoint(eager=False)
    )
    mult = d.groupBy("dg").agg(F.count(F.lit(1)).alias("c"))
    j = d.join(mult, "dg")
    dup = F.when(F.col("c") > 1, F.lit(1)).otherwise(F.lit(0))
    return (
        j.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(dup).alias("n_dup"),
        )
        .select(
            "decile",
            "n_docs",
            "sum_chars",
            ratio_e4("sum_chars", "n_docs").alias("avg_chars"),
            "n_dup",
            ratio_e4("n_dup", "n_docs").alias("dup_share_e4"),
        )
    )


# ---------------------------------------------------------------------------
# q234: nearest-centroid margin histogram (classification confidence)
# ---------------------------------------------------------------------------

_MQ_SCALE = 10_000  # corpus_ext._Q_SCALE: embeddings quantize at e4


@query(
    "q234_centroid_margin",
    oracle=f"""
    WITH x AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                      unnest(range(1, len(embedding) + 1)) AS dim,
                      CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)
                                 * {_MQ_SCALE}) AS BIGINT) AS q
               FROM embeddings),
    g AS (SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(q) AS BIGINT) AS sum_q
          FROM x GROUP BY 1, 2),
    c AS (SELECT label AS label_c, dim,
                 CASE WHEN sum_q < 0
                      THEN -(((-sum_q) * 20000 + n) // (2 * n))
                      ELSE ((sum_q * 20000 + n) // (2 * n)) END AS ci
          FROM g),
    d AS (SELECT x.vec_id, c.label_c,
                 SUM((x.q * 10000 - c.ci) * (x.q * 10000 - c.ci)) AS dist
          FROM x JOIN c USING (dim) GROUP BY 1, 2),
    p AS (SELECT vec_id, dist,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY dist, label_c) AS rn
          FROM d),
    m AS (SELECT vec_id,
                 MAX(CASE WHEN rn = 1 THEN dist END) AS d1,
                 MAX(CASE WHEN rn = 2 THEN dist END) AS d2
          FROM p WHERE rn <= 2 GROUP BY vec_id),
    b AS (SELECT LEAST(999, (d2 - d1) * 1000 // greatest(d1, 1))
                   AS margin_bucket
          FROM m)
    SELECT CAST(margin_bucket AS BIGINT) AS margin_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM b GROUP BY 1
    """,
    category="llm-embedding",
)
def q234_centroid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment-confidence histogram: for every
    vector the RELATIVE margin between its second-nearest and nearest
    label centroid, bucketed in tenths (capped at 9) — mass near bucket
    0 means ambiguous assignments and untrustworthy labels; q130 reports
    WHERE assignments land (confusion), this reports how confidently.

    Exactness: q130's recipe end-to-end — e4-quantized components,
    integer-decided centroids, exact BIGINT squared distances with BOTH
    operands at e8 scale (q * 10000 vs the e8-scale ci — round-11 fix:
    the earlier q - ci mixed scales and made the margin degenerate); the
    nearest/second pick is a row_number over the explicit (dist, label)
    total order and the margin bucket is integer floor division with a
    greatest(d1, 1) guard (a vector exactly ON its centroid still
    buckets).  Shape: q130's — KB centroid table broadcast into the
    dim-exploded vectors, the |vecs|×|labels| skinny agg, a vec-keyed
    window, ≤10-row output."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "embeddings")
    x = (
        e.select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "v"
            ),
        )
        .select(
            "vec_id",
            "label",
            (F.col("pos") + 1).cast("bigint").alias("dim"),
            q_e4_lift_guarded(F.col("v")).alias("q"),
        )
        .localCheckpoint(eager=False)
    )
    c = (
        x.groupBy(F.col("label").alias("label_c"), "dim")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("sum_q"))
        .select(
            "label_c",
            "dim",
            F.expr(
                "CASE WHEN sum_q < 0"
                " THEN -(((-sum_q) * 20000 + n) div (2 * n))"
                " ELSE ((sum_q * 20000 + n) div (2 * n)) END"
            ).alias("ci"),
        )
    )
    dd = F.col("q") * F.lit(10000) - F.col("ci")
    d = (
        x.join(F.broadcast(c), "dim")
        .groupBy("vec_id", "label_c")
        .agg(F.sum(dd * dd).alias("dist"))
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "label_c")
    m = (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("dist"))).alias("d1"),
            F.max(F.when(F.col("rn") == 2, F.col("dist"))).alias("d2"),
        )
    )
    bucket = F.least(
        F.lit(999),
        F.expr("(d2 - d1) * 1000 div greatest(d1, 1)"),
    )
    return (
        m.select(bucket.cast("bigint").alias("margin_bucket"))
        .groupBy("margin_bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


# ---------------------------------------------------------------------------
# q235: LSH bucket-health profile
# ---------------------------------------------------------------------------

from .llm.dedup import (  # noqa: E402  (shared CTE builders / helpers)
    _DF_FRAC,
    _DF_MIN_CAP,
    _HASHED_SQL,
    _SHINGLES_SQL,
    N_MINHASH,
    _exact_collapse as _exact_collapse_docs,
    _rot_sql,
    capped_pair_counts,
    lsh_buckets,
    lsh_candidate_pairs as lsh_candidate_pairs_docs,
)


@query(
    "q235_lsh_bucket_profile",
    oracle=f"""
    WITH {_HASHED_SQL},
    seeds AS (SELECT unnest(range({N_MINHASH})) AS seed),
    sig AS (SELECT doc_id, seed, MIN({_rot_sql("h", 32, "seed")}) AS mh
            FROM hs CROSS JOIN seeds GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 2 AS band,
                     md5(MAX(CASE WHEN seed % 2 = 0 THEN mh END) || '|' ||
                         MAX(CASE WHEN seed % 2 = 1 THEN mh END)) AS band_key
              FROM sig GROUP BY doc_id, seed // 2),
    bs AS (SELECT band, band_key, CAST(COUNT(*) AS BIGINT) AS n
           FROM bands GROUP BY 1, 2)
    SELECT CAST(band AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singletons,
           (SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 20000 + COUNT(*))
             // (2 * COUNT(*)) / 10000.0 AS singleton_share_e4,
           CAST(MAX(n) AS BIGINT) AS max_bucket,
           ROUND(quantile_cont(n, 0.95), 4) AS p95_bucket
    FROM bs GROUP BY 1
    """,
    category="llm-dedup",
)
def q235_lsh_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding health panel: per band the bucket count, singleton
    share, p95 and max bucket size — the tuning readout that says
    whether the band width is generating candidates (singleton share
    near 1 = no recall) or hot buckets (max near the q66 cap = pair
    blowup risk).  q55 EMITS the buckets; this is the operational
    summary a 100 TB dedup run checks before paying for pair
    generation.

    Exactness: bucket sizes are integers, the share is ratio_e4, p95 an
    exact interpolated percentile over integers.  Shape: q55's plan
    (map-side MIN partials, 8 rows/doc) plus one |bands|-row agg whose
    percentile partials merge map-side."""
    d = table(spark, sf_dir, "documents")
    bs = lsh_buckets(d, spark.sparkContext.defaultParallelism).select(
        "band", F.col("n_docs").cast("bigint").alias("n")
    )
    single = F.when(F.col("n") == 1, F.lit(1)).otherwise(F.lit(0))
    return (
        bs.groupBy(F.col("band").cast("bigint").alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(single).alias("n_singletons"),
            F.max("n").alias("max_bucket"),
            F.percentile("n", F.lit(0.95)).alias("p95"),
        )
        .select(
            "band",
            "n_buckets",
            "n_singletons",
            ratio_e4("n_singletons", "n_buckets").alias(
                "singleton_share_e4"
            ),
            "max_bucket",
            F.round(F.col("p95"), 4).alias("p95_bucket"),
        )
    )


# ---------------------------------------------------------------------------
# q236: Jaccard threshold sensitivity curve
# ---------------------------------------------------------------------------


@query(
    "q236_jaccard_threshold_curve",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    shd AS (SELECT DISTINCT doc_id, s FROM sh),
    cap AS (SELECT greatest({_DF_MIN_CAP},
                            CAST(ceil({_DF_FRAC} * COUNT(*)) AS BIGINT))
              AS cap
            FROM documents),
    grp AS (SELECT s, COUNT(*) AS c FROM shd GROUP BY s),
    kept AS (SELECT shd.doc_id, shd.s FROM shd JOIN grp USING (s), cap
             WHERE grp.c < cap.cap),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
    common AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS c
               FROM kept a JOIN kept b
                 ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
    pairs AS (SELECT ia, ib, c, sa.n + sb.n - c AS u
              FROM common
              JOIN sizes sa ON sa.doc_id = ia
              JOIN sizes sb ON sb.doc_id = ib),
    thr AS (SELECT unnest([5, 6, 7, 8, 9]) AS t10),
    pass AS (SELECT t10, ia, ib FROM pairs, thr WHERE c * 10 >= u * t10),
    aff AS (SELECT t10, ia AS doc FROM pass
            UNION SELECT t10, ib FROM pass)
    SELECT CAST(t.t10 AS BIGINT) AS threshold_e1,
           CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(a.n_docs, 0) AS BIGINT) AS n_docs
    FROM thr t
    LEFT JOIN (SELECT t10, COUNT(*) AS n_pairs FROM pass GROUP BY 1) p
      ON p.t10 = t.t10
    LEFT JOIN (SELECT t10, COUNT(*) AS n_docs FROM aff GROUP BY 1) a
      ON a.t10 = t.t10
    """,
    category="llm-dedup",
)
def q236_jaccard_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold sensitivity: candidate-pair count and affected
    document count at Jaccard thresholds 0.5–0.9 — the how-aggressive-
    should-dedup-be curve, computed from ONE pass of q56's IDF-pruned
    pair machinery (`capped_pair_counts`; q56 is the 0.6 slice of this
    curve).

    Exactness: every threshold test is the integer cross-multiplication
    c·10 ≥ u·t10 on exact counts — the reported curve cannot disagree
    with what a dedup run at that threshold would do; a threshold that
    passes nothing still reports its 0 row via the 5-row spine.  Shape:
    the pair frame (linear-bounded by the DF cap) is crossed with the
    broadcast 5-row threshold frame and consumed ONCE — each passing
    pair explodes to its two endpoints and a single (t10) aggregation
    yields both n_pairs (count div 2, integer-exact) and the distinct
    n_docs; every frame is pruned-vocabulary-sized, never
    corpus-sized."""
    thr = spark.createDataFrame(
        [(t,) for t in (5, 6, 7, 8, 9)], "t10 bigint"
    )
    d = table(spark, sf_dir, "documents")
    pairs = capped_pair_counts(d, spark.sparkContext.defaultParallelism).select(
        "ia", "ib", "c",
        (F.col("na") + F.col("nb") - F.col("c")).alias("u"),
    )
    passing = pairs.crossJoin(F.broadcast(thr)).where(
        F.col("c") * 10 >= F.col("u") * F.col("t10")
    )
    # ONE consumer of the passing frame (round 14, guide §2.4): explode
    # each passing pair to its two endpoints — n_pairs is then exactly
    # count(1) div 2 (every pair contributes two rows; integer-exact)
    # and n_docs the distinct endpoint count, both from a SINGLE
    # aggregation.  The old shape ran a pair-count agg AND a
    # union+distinct+agg branch — two reads of the pair frame (which
    # therefore needed its own checkpoint pin, now gone) and one more
    # exchange.
    both = (
        passing.select(
            "t10", F.explode(F.array("ia", "ib")).alias("doc")
        )
        .groupBy("t10")
        .agg(
            F.expr("count(1) div 2").alias("n_pairs"),
            F.countDistinct("doc").alias("n_docs"),
        )
    )
    return (
        thr.join(both, "t10", "left")
        .select(
            F.col("t10").alias("threshold_e1"),
            F.coalesce(F.col("n_pairs"), F.lit(0).cast("bigint")).alias(
                "n_pairs"
            ),
            F.coalesce(F.col("n_docs"), F.lit(0).cast("bigint")).alias(
                "n_docs"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q237: record-high revenue days per market segment (record staircase)
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000


@query(
    "q237_record_days",
    oracle=f"""
    WITH o AS (SELECT c.c_mktsegment AS segment,
                      epoch_us(o.o_orderdate) // {_DAY_US} AS day,
                      CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    d AS (SELECT segment, day, MAX(cents) AS day_max
          FROM o GROUP BY 1, 2),
    r AS (SELECT segment, day, day_max,
                 MAX(day_max) OVER (PARTITION BY segment ORDER BY day
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING) AS prev_max
          FROM d)
    SELECT segment, CAST(day AS BIGINT) AS day,
           day_max / 100.0 AS record_price
    FROM r WHERE prev_max IS NULL OR day_max > prev_max
    """,
    category="warehouse-trend",
)
def q237_record_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record staircase: the days on which a market segment set a new
    all-time-high single-order value (strictly above every prior day's
    maximum; a day tying the record is not a record) — the running-
    record operator behind "biggest order ever" alerting; q102 tracks
    drawdowns below the peak, this emits the peaks themselves.

    Exactness: order values in exact cents, day as an integer DATE
    difference from the epoch (datediff truncates to dates on both
    engines and is TIMESTAMP_NTZ-safe — unix_micros is not; the
    events-table ts adaptation lives in the catalog, the orders table
    reads raw), strict integer comparison
    against the running MAX over the explicit prior-days frame.  Shape:
    the fact joins the customer dim on custkey (AQE broadcasts at bench
    SF; shuffles co-keyed at scale), collapses to the
    |segments|×|days| grid BEFORE any window, and the record pass runs
    on that grid-bounded frame — never on order rows."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff("o_orderdate", F.lit("1970-01-01"))
        .cast("bigint")
        .alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    d = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("segment", "day")
        .agg(F.max("cents").alias("day_max"))
    )
    w = (
        W.partitionBy("segment")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    r = d.withColumn("prev_max", F.max("day_max").over(w))
    return r.where(
        F.col("prev_max").isNull() | (F.col("day_max") > F.col("prev_max"))
    ).select(
        "segment",
        F.col("day").cast("bigint").alias("day"),
        (F.col("day_max") / 100.0).alias("record_price"),
    )


# ---------------------------------------------------------------------------
# q238: volume-weighted median price per symbol
# ---------------------------------------------------------------------------


@query(
    "q238_weighted_median",
    oracle="""
    WITH t AS (SELECT event_type,
                      CAST(ROUND(value * 100) AS BIGINT) AS v_c,
                      CAST(json_extract(props, '$.k') AS BIGINT) AS wt
               FROM events),
    g AS (SELECT event_type, v_c, CAST(SUM(wt) AS BIGINT) AS w
          FROM t GROUP BY 1, 2),
    c AS (SELECT event_type, v_c, w,
                 SUM(w) OVER (PARTITION BY event_type ORDER BY v_c
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(w) OVER (PARTITION BY event_type) AS tot
          FROM g)
    SELECT event_type,
           MIN(v_c) / 100.0 AS wmedian_price,
           CAST(MAX(tot) AS BIGINT) AS total_weight
    FROM c WHERE 2 * cum >= tot
    GROUP BY 1
    """,
    category="timeseries-aggregate",
)
def q238_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted median price per symbol (props.k as the trade
    size): the price splitting the traded WEIGHT in half — where half
    the volume changed hands, which is what execution desks quote (the
    unweighted median q27-class stats miss; lower weighted median,
    first price where 2·cum ≥ total).

    Exactness: prices in exact cents, weights integer, the pick is an
    integer inequality on exact cumulative sums and a MIN over the
    qualifying cents — no interpolation, no floats until the final
    /100.0.  Shape: the tape collapses to the (symbol, price) grid
    FIRST (domain-bounded: |symbols|×|distinct cents|, independent of
    row count), so the cumulative window runs on the collapsed frame;
    one corpus-scale exchange for the collapse, grid-scale after."""
    ev = table(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v_c"),
        F.from_json("props", "map<string,bigint>").getItem("k").alias("wt"),
    )
    g = t.groupBy("event_type", "v_c").agg(F.sum("wt").alias("w"))
    wc = (
        W.partitionBy("event_type")
        .orderBy("v_c")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wt_ = W.partitionBy("event_type")
    c = g.select(
        "event_type",
        "v_c",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wt_).alias("tot"),
    )
    return (
        c.where(2 * F.col("cum") >= F.col("tot"))
        .groupBy("event_type")
        .agg(
            (F.min("v_c") / 100.0).alias("wmedian_price"),
            F.max("tot").cast("bigint").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# q239: numeric column profile (table profiling audit)
# ---------------------------------------------------------------------------

_PROFILE_COLS = (
    ("l_partkey", "l_partkey"),
    ("l_suppkey", "l_suppkey"),
    ("l_quantity", "l_quantity"),
    ("l_extendedprice", "l_extendedprice"),
    ("l_discount", "l_discount"),
    ("l_tax", "l_tax"),
    ("l_shipdate_day",
     "date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))"),
)


@query(
    "q239_column_profile",
    oracle=" UNION ALL ".join(
        f"""SELECT '{name}' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT({expr}) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {expr}) AS BIGINT) AS n_distinct,
               CAST(MIN({expr}) AS DOUBLE) AS min_value,
               CAST(MAX({expr}) AS DOUBLE) AS max_value
        FROM lineitem"""
        for name, expr in _PROFILE_COLS
    ),
    category="quality-profiling",
)
def q239_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric column profile of the fact table: per column the row
    count, null count, exact distinct cardinality, and value range
    (the date column as integer epoch-days — datediff is
    TIMESTAMP_NTZ-safe on both engines, unix_micros is not) —
    the post-load profiling audit (ANALYZE TABLE's statistics, emitted
    as a queryable result) that q225's referential audit and the
    catalog's pruning assumptions both lean on; all-zero n_nulls is the
    healthy reading (q225 class).

    Exactness: counts are integers; min/max are exact column values
    (2-decimal money doubles and integer keys/epochs are all exactly
    representable), cast to DOUBLE so the 7-row union is one column
    type on both engines.  Shape (round 14, r13 verdict item #6 — both
    alternatives measured): one COLUMN-PRUNED single-column aggregate
    per profiled column, unioned — exactly the oracle's shape.  In a
    columnar format the seven single-column passes read the SAME bytes
    as one seven-column scan (each job's ReadSchema is its one column),
    while the old single multi-distinct aggregate paid Catalyst's
    Expand — an 8x map-side row multiplication of all seven columns —
    to save scans that columnar pruning makes free.  Measured at
    sf0.1 min-of-3 solo: expand 2.35 s, per-column union 0.77 s, melt
    (posexplode long-form) 1.44 s; the union also wins the 100 TB
    argument above.  No joins, no windows."""
    li = table(spark, sf_dir, "lineitem")
    parts = []
    for name, _ in _PROFILE_COLS:
        col = (
            F.datediff("l_shipdate", F.lit("1970-01-01"))
            if name == "l_shipdate_day"
            else F.col(name)
        )
        parts.append(
            li.agg(
                F.lit(name).alias("column_name"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(col)).alias("n_nulls"),
                F.countDistinct(col).alias("n_distinct"),
                F.min(col).cast("double").alias("min_value"),
                F.max(col).cast("double").alias("max_value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# q240: top collocations by pointwise mutual information
# ---------------------------------------------------------------------------

_PMI_MIN_SUPPORT = 10

# identical expression text on both engines (q194/q227 rule): PMI in
# micro-nats from four INTEGER counts, each ln taken separately so no
# count product is ever formed (overflow-free at any corpus size).
_PMI_Q = (
    "CAST(ROUND(1000000 * (ln(CAST(n AS DOUBLE)) + ln(CAST(T AS DOUBLE))"
    " - ln(CAST(ca AS DOUBLE)) - ln(CAST(cb AS DOUBLE)))) AS BIGINT)"
)


@query(
    "q240_token_pmi",
    oracle=f"""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    uni AS (SELECT unnest(t) AS w FROM toks),
    u AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS T FROM u),
    bg AS (SELECT unnest(list_transform(range(1, len(t)),
                                        i -> [t[i], t[i+1]])) AS p
           FROM toks),
    b AS (SELECT p[1] AS w1, p[2] AS w2, CAST(COUNT(*) AS BIGINT) AS n
          FROM bg GROUP BY 1, 2),
    j AS (SELECT w1, w2, n, ua.c AS ca, ub.c AS cb, T
          FROM b JOIN u ua ON ua.w = w1 JOIN u ub ON ub.w = w2, tot
          WHERE n >= {_PMI_MIN_SUPPORT}),
    q AS (SELECT w1 || ' ' || w2 AS bigram, n, {_PMI_Q} AS pmi_micro
          FROM j)
    SELECT bigram, n, pmi_micro / 1000000.0 AS pmi_nats
    FROM q ORDER BY pmi_micro DESC, bigram LIMIT 20
    """,
    category="llm-curation",
)
def q240_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information with a
    support floor — the glued-together-more-than-chance word pairs
    (PMI = ln n·T/(cₐ·c_b)) that tokenizer merge rules and phrase
    mining start from; q69 ranks bigrams by raw count (frequency ≠
    association — PMI surfaces the rare-but-inseparable pairs count
    ranking buries).

    Exactness: the four counts are integers; PMI quantizes to integer
    micro-nats via ONE shared expression evaluated identically on both
    engines, each ln taken separately so no count product exists to
    overflow; the top-20 order is the explicit (pmi_micro DESC, bigram)
    total order; the final /1e6 divides identical integers.  Shape: two
    explode passes (unigram, bigram) collapse map-side to vocabulary
    scale; the bigram table joins the unigram counts twice on token
    keys (vocabulary-scale both sides); TakeOrdered returns 20 rows —
    the corpus itself never reshuffles."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    uni = d.select(F.explode(toks).alias("w"))
    # pinned: the vocabulary-scale count table feeds ua, ub AND the
    # 1-row total probe — one unigram pass over the corpus, not three
    u = (
        uni.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = u.agg(F.sum("c").alias("T"))
    # positions-first bigram stream (round 13): explode the position
    # sequence and build w1/w2 as top-level element_at projections —
    # whole-stage codegen end to end.  The old form built an
    # array-of-arrays via the higher-order transform lambda, which
    # evaluates INTERPRETED per window (the round-12 24x n-gram
    # finding, texthash.exploded_ngrams); row set and values identical
    # (same size>=2 guard, same adjacent-token pairs).
    b = (
        d.select(toks.alias("__toks"))
        .where(F.size("__toks") >= 2)
        .select(
            "__toks",
            F.explode(
                F.sequence(F.lit(1), F.size("__toks") - 1)
            ).alias("__i"),
        )
        .select(
            F.element_at("__toks", F.col("__i")).alias("w1"),
            F.element_at("__toks", F.col("__i") + 1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= _PMI_MIN_SUPPORT)
    )
    ua = u.select(F.col("w").alias("w1"), F.col("c").alias("ca"))
    ub = u.select(F.col("w").alias("w2"), F.col("c").alias("cb"))
    j = (
        b.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "n",
            F.expr(_PMI_Q).alias("pmi_micro"),
        )
    )
    return (
        j.orderBy(F.desc("pmi_micro"), F.asc("bigram"))
        .limit(20)
        .select(
            "bigram", "n", (F.col("pmi_micro") / 1000000.0).alias("pmi_nats")
        )
    )


# ---------------------------------------------------------------------------
# q241: near-duplicate involvement rate by source
# ---------------------------------------------------------------------------


@query(
    "q241_near_dup_rate_by_source",
    oracle=f"""
    WITH {_HASHED_SQL},
    seeds AS (SELECT unnest(range({N_MINHASH})) AS seed),
    sig AS (SELECT doc_id, seed, MIN({_rot_sql("h", 32, "seed")}) AS mh
            FROM hs CROSS JOIN seeds GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, seed // 2 AS band,
                     md5(MAX(CASE WHEN seed % 2 = 0 THEN mh END) || '|' ||
                         MAX(CASE WHEN seed % 2 = 1 THEN mh END)) AS band_key
              FROM sig GROUP BY doc_id, seed // 2),
    e0 AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id),
    flagged AS (SELECT a AS doc_id FROM e0 UNION SELECT b FROM e0),
    f AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_flagged
          FROM flagged JOIN documents d USING (doc_id) GROUP BY 1),
    s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY 1)
    SELECT s.source, s.n_docs,
           CAST(COALESCE(f.n_flagged, 0) AS BIGINT) AS n_flagged,
           (COALESCE(f.n_flagged, 0) * 20000 + s.n_docs)
             // (2 * s.n_docs) / 10000.0 AS flagged_share_e4
    FROM s LEFT JOIN f ON f.source = s.source
    """,
    category="llm-dedup",
)
def q241_near_dup_rate_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-duplicate INVOLVEMENT rate per source: the share of a
    source's documents that participate in at least one LSH candidate
    pair (exact copies included — identical texts collide in every
    band) — q100 counts exact dups only; this is the how-dirty-is-this-
    feed panel a mixture designer reads next to q85/q227 before setting
    per-source dedup budgets.

    Exactness: flagged docs on the Spark side = endpoints of exact-dup
    edges ∪ capped candidate pairs over representatives — the same
    endpoint SET the oracle's uncapped full-doc band join produces
    (every exact copy shares its representative's bands, so copy↔rep
    edges and copy↔partner collisions flag the same documents); counts
    integer, share ratio_e4, zero-flag sources kept by the source spine
    (q227 rule).  Shape: q129's candidate machinery (digests shuffle,
    text never moves), one |sources|-row agg each side of a broadcast
    spine join."""
    d = table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    reps, dup_edges = _exact_collapse_docs(d)
    # dedup_pairs=False (round 14, guide §2.4): the endpoint-level
    # distinct below subsumes ANY pair multiplicity (a doc flagged by
    # several band collisions is still one endpoint row), so the
    # pair-set's own distinct exchange was pure waste here
    cand = lsh_candidate_pairs_docs(reps, par, dedup_pairs=False)
    edges = cand.unionByName(
        dup_edges.select(F.col("a"), F.col("b"))
    )
    flagged = (
        edges.select(F.col("a").alias("doc_id"))
        .unionByName(edges.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    # pinned: the 2-column source map feeds the flagged join AND the
    # per-source totals — one source pass over the corpus
    src = d.select("doc_id", "source").localCheckpoint(eager=False)
    f = (
        flagged.join(src, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )
    s = src.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        s.join(f, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_flagged"), F.lit(0).cast("bigint")).alias(
                "n_flagged"
            ),
            ratio_e4(
                "COALESCE(n_flagged, 0)", "n_docs"
            ).alias("flagged_share_e4"),
        )
    )


# ---------------------------------------------------------------------------
# q242: SMA(20) trend-following backtest vs buy-and-hold
# ---------------------------------------------------------------------------

# daily log return in integer micro-nats from two cent closes — one
# shared expression evaluated identically on both engines (q194 rule)
_RET_Q = (
    "CAST(ROUND(1000000 * (ln(CAST(cl AS DOUBLE))"
    " - ln(CAST(pc AS DOUBLE)))) AS BIGINT)"
)


@query(
    "q242_sma_backtest",
    oracle=f"""
    WITH t AS (SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
                      CAST(ROUND(value * 100) AS BIGINT) AS c
               FROM events),
    r AS (SELECT event_type, day, c,
                 ROW_NUMBER() OVER (PARTITION BY event_type, day
                                    ORDER BY ts DESC, event_id DESC) AS rn_c
          FROM t),
    d AS (SELECT event_type, day,
                 MAX(CASE WHEN rn_c = 1 THEN c END) AS cl
          FROM r GROUP BY 1, 2),
    s AS (SELECT event_type, day, cl,
                 CAST(COUNT(*) OVER w20 AS BIGINT) AS n20,
                 CAST(SUM(cl) OVER w20 AS BIGINT) AS s20
          FROM d
          WINDOW w20 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
    lg AS (SELECT event_type, cl,
                  lag(cl) OVER w AS pc,
                  lag(CASE WHEN cl * n20 > s20 THEN 1 ELSE 0 END) OVER w
                    AS pos
           FROM s WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    v AS (SELECT event_type, pos, {_RET_Q} AS ret
          FROM lg WHERE pc IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(pos) AS BIGINT) AS n_days_long,
           CAST(SUM(CASE WHEN pos = 1 THEN ret ELSE 0 END) AS BIGINT)
             AS strat_ret_micro,
           CAST(SUM(ret) AS BIGINT) AS bh_ret_micro
    FROM v GROUP BY 1
    """,
    category="timeseries-backtest",
)
def q242_sma_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal SMA(20) trend-following backtest per symbol: hold the
    symbol on days whose PRIOR close sat above its prior 20-day SMA,
    and report the strategy's total log return beside buy-and-hold —
    the does-trend-following-beat-holding panel (q111 backtests burst
    signals; q209 counts crossovers; this prices the rule).  The
    position uses yesterday's signal (lag) — no look-ahead.

    Exactness: closes are the deterministic (ts, event_id)-ordered cent
    values (q22 OHLC rule); the above-SMA test is the integer
    cross-multiplication cl·n > Σ (no float mean exists — the q156
    rule); daily log returns quantize to integer micro-nats via ONE
    shared expression (q194 rule) and sum order-independently.  Shape:
    the tape collapses to |symbols|×|days| daily bars inside the
    (symbol, day) partitioning, every later window runs on that
    grid-bounded frame; the trailing frame is a constant-20 ROWS frame
    (the allowed q30/q156 class, not a data-width RANGE)."""
    ev = table(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    wd = W.partitionBy("event_type", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    d = (
        t.withColumn("rn_c", F.row_number().over(wd))
        .groupBy("event_type", "day")
        .agg(F.max(F.when(F.col("rn_c") == 1, F.col("c"))).alias("cl"))
    )
    w20 = (
        W.partitionBy("event_type").orderBy("day").rowsBetween(-19, 0)
    )
    s = d.select(
        "event_type",
        "day",
        "cl",
        F.count(F.lit(1)).over(w20).alias("n20"),
        F.sum("cl").over(w20).alias("s20"),
    )
    w = W.partitionBy("event_type").orderBy("day")
    sig = F.when(F.col("cl") * F.col("n20") > F.col("s20"), 1).otherwise(0)
    lg = s.select(
        "event_type",
        "cl",
        F.lag("cl").over(w).alias("pc"),
        F.lag(sig).over(w).alias("pos"),
    ).where(F.col("pc").isNotNull())
    v = lg.select("event_type", "pos", F.expr(_RET_Q).alias("ret"))
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("pos").alias("n_days_long"),
        F.sum(F.when(F.col("pos") == 1, F.col("ret")).otherwise(0)).alias(
            "strat_ret_micro"
        ),
        F.sum("ret").alias("bh_ret_micro"),
    )


# ---------------------------------------------------------------------------
# q243: exact kNN classification eval on a fixed probe panel
# ---------------------------------------------------------------------------

_KNN_PROBES = 200  # fixed panel: cost is |panel| x |train| — linear in data
_KNN_K = 5


@query(
    "q243_knn_eval",
    oracle=f"""
    WITH x AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                      list_transform(embedding,
                        v -> CAST(FLOOR(CAST(v AS DOUBLE) * 10000)
                                  AS BIGINT)) AS qv
               FROM embeddings),
    te AS (SELECT vec_id AS tid, label AS tlabel, qv AS tqv
           FROM x WHERE vec_id < {_KNN_PROBES}),
    tr AS (SELECT vec_id AS oid, label AS olabel, qv
           FROM x WHERE vec_id >= {_KNN_PROBES}),
    p AS (SELECT te.tid, te.tlabel, tr.oid, tr.olabel,
                 list_sum(list_transform(range(1, len(te.tqv) + 1),
                          i -> (te.tqv[i] - tr.qv[i])
                               * (te.tqv[i] - tr.qv[i]))) AS dist
          FROM te, tr),
    k AS (SELECT tid, tlabel, olabel,
                 ROW_NUMBER() OVER (PARTITION BY tid
                                    ORDER BY dist, oid) AS rn
          FROM p),
    m AS (SELECT tid, tlabel, olabel, CAST(COUNT(*) AS BIGINT) AS n5
          FROM k WHERE rn <= {_KNN_K} GROUP BY 1, 2, 3),
    pick AS (SELECT tid, tlabel, olabel AS pred,
                    ROW_NUMBER() OVER (PARTITION BY tid
                                       ORDER BY n5 DESC, olabel) AS rn2
             FROM m)
    SELECT tlabel AS label_true, pred AS label_pred,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pick WHERE rn2 = 1 GROUP BY 1, 2
    """,
    category="llm-embedding",
)
def q243_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-NN classification confusion matrix on a FIXED 200-vector
    probe panel (vec_id < 200 held out; everything else is the train
    set) — the are-labels-learnable eval beside q130's centroid version
    (kNN sees local structure centroids average away).  Majority vote
    with deterministic ties: neighbors rank by (dist, id), the winning
    label by (votes DESC, label).

    Exactness: components quantize to e4 integers (q130 rule) and the
    squared distance is an exact BIGINT value — no float accumulation
    can drift because every intermediate (products <= 4e8, 64-dim sums
    <= ~1e11) is an integer below 2^53, exactly representable in the
    float64 matmul; both rankings use explicit total orders.  Shape
    (round-13 optimization, guide §4.2 — the |panel|×|train| interpreted
    zip_with/aggregate fold was the suite's #2 cost at 3.5 s): the fixed
    200-row panel is collected once (a bounded driver model, constant
    size by design), the train side runs ONE mapInPandas pass whose
    batches compute all panel distances as a single BLAS matmul and
    emit only each batch's per-probe top-5 (a partial top-k — the
    global top-5 over batch-winners equals the global top-5, same
    (dist, oid) order), so the JVM never materializes pair rows; a
    probe-keyed window merges the partials and everything after is
    |panel|-sized.  At 100 TB the same eval swaps the exact pair pass
    for the IVF/PQ shortlist (q65/q204) — this is the ground-truth
    variant those are measured against."""
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings")
    panel = (
        e.where(F.col("vec_id") < _KNN_PROBES)
        .select(
            "vec_id", F.col("label").cast("bigint").alias("label"),
            "embedding",
        )
        .collect()
    )
    # identical quantization rule to the oracle: floor(double(v) * 1e4)
    tq = np.stack(
        [
            np.floor(np.asarray(r["embedding"], dtype=np.float64) * 10000.0)
            for r in panel
        ]
    )
    tids = np.array([r["vec_id"] for r in panel], dtype=np.int64)
    tlabels = np.array([r["label"] for r in panel], dtype=np.int64)
    tq_n2 = (tq * tq).sum(axis=1)  # exact: integer-valued float64
    # exactness envelope (round-14 advice): every float64 intermediate
    # below is a <=dims-term sum of integer component products, so the
    # matmul is EXACT only while 4 * dims * max|component|^2 < 2^53;
    # if the embedding contract ever widens (more dims or larger
    # values), fail loudly here instead of drifting silently
    _tq_cap = float(np.abs(tq).max()) if tq.size else 0.0
    _dims = tq.shape[1] if tq.size else 0

    def _assert_exact_envelope(batch_max: float, dims: int) -> None:
        c = max(batch_max, _tq_cap)
        if dims and 4.0 * dims * c * c >= float(1 << 53):
            raise RuntimeError(
                "q243_knn_eval: quantized components "
                f"(max |c| = {c:.0f}, dims = {dims}) exceed the float64 "
                "exact-integer envelope (4 * dims * c^2 >= 2^53); the "
                "BLAS-matmul distance would silently lose exactness — "
                "use the BIGINT fold path for this embedding contract"
            )

    _assert_exact_envelope(_tq_cap, _dims)

    k = _KNN_K
    out_schema = (
        "tid bigint, tlabel bigint, oid bigint, olabel bigint, dist bigint"
    )

    def panel_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                * 10000.0
            )
            oids = pdf["vec_id"].to_numpy(dtype=np.int64)
            olabels = pdf["label"].to_numpy(dtype=np.int64)
            _assert_exact_envelope(
                float(np.abs(m).max()) if m.size else 0.0, m.shape[1]
            )
            # squared L2 on e4 integers: every term integer < 2^53, so
            # the float64 matmul is exact; cast back to int64 losslessly
            d = (
                (m * m).sum(axis=1)[:, None]
                + tq_n2[None, :]
                - 2.0 * (m @ tq.T)
            ).astype(np.int64)
            take = min(k, len(pdf))
            out = {
                "tid": [], "tlabel": [], "oid": [], "olabel": [],
                "dist": [],
            }
            for j in range(len(tids)):
                top = np.lexsort((oids, d[:, j]))[:take]
                out["tid"].append(np.full(take, tids[j]))
                out["tlabel"].append(np.full(take, tlabels[j]))
                out["oid"].append(oids[top])
                out["olabel"].append(olabels[top])
                out["dist"].append(d[top, j])
            yield pd.DataFrame(
                {c: np.concatenate(v) for c, v in out.items()}
            )

    p = (
        e.where(F.col("vec_id") >= _KNN_PROBES)
        .select(
            "vec_id", F.col("label").cast("bigint").alias("label"),
            "embedding",
        )
        .mapInPandas(panel_topk, out_schema)
    )
    wk = W.partitionBy("tid").orderBy("dist", "oid")
    m = (
        p.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= _KNN_K)
        .groupBy("tid", "tlabel", "olabel")
        .agg(F.count(F.lit(1)).alias("n5"))
    )
    w2 = W.partitionBy("tid").orderBy(F.desc("n5"), F.asc("olabel"))
    return (
        m.withColumn("rn2", F.row_number().over(w2))
        .where(F.col("rn2") == 1)
        .groupBy(
            F.col("tlabel").alias("label_true"),
            F.col("olabel").alias("label_pred"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
