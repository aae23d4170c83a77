"""Corpus depth operators (q95, q99, q100): banded SimHash near-dup
pairs, per-label embedding centroids, and the per-source duplication
report.

These complete the dedup/embedding families: q57 computes signatures —
q95 turns them into verified near-dup PAIRS; q67 quantizes embeddings —
q99 reduces them to the per-class centroids that drive clustering
diagnostics and IVF seeding; q50 collapses exact dups — q100 reports
WHERE the duplication lives (which sources, and whether it crosses
source boundaries).  Same discipline as the rest of the llm package:
JVM-side expressions only, integer-decided ratios, hashes from the
cross-engine-identical md5 primitives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ...catalog import table
from ...functions.deterministic import ratio_e4, ratio_e4_signed
from ...functions.pairs import capped_bucket_sets, in_set_pairs, pin_under_cap
from ...functions.texthash import exploded_ngrams, shingles, tokens
from ...registry import query
from .text import simhash_cte, simhash_cte_wide, simhash_df

# SimHash banding: the 16-bit signature splits into two 8-bit bands; a
# pair is a candidate iff it matches on at least one whole band, which
# guarantees recall for Hamming distance <= 1 and probabilistically
# catches distance 2-3 (a miss needs both flips to straddle the band
# boundary).  Verification keeps pairs within _HAM_MAX bits.
_HAM_MAX = 3

# Per-(band, value) membership cap — the strict-cap discipline of
# `functions/pairs.py` applied to simhash buckets: a row_number over the
# bucket window bounds the collect_set array BEFORE it is built, and the
# query FAILS LOUDLY if any bucket reached the cap rather than silently
# diverging from the uncapped oracle.  sf0.1's hottest bucket holds ~900
# docs (templated synthetic text); 4096 gives headroom while pinning the
# worst per-bucket array at ~64 KB and the pair fan-out at C(4096, 2).
_MAX_BAND_DOCS = 4096
_CAP_REMEDY = "Widen the banding (64-bit signature) or raise the cap."


@query(
    "q95_simhash_pairs",
    oracle=f"""
    WITH {simhash_cte()},
    b AS (SELECT doc_id, simhash, simhash // 256 AS bv, 0 AS band FROM sim
          UNION ALL
          SELECT doc_id, simhash, simhash % 256 AS bv, 1 AS band FROM sim),
    p AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                 CAST(bit_count(CAST(xor(x.simhash, y.simhash) AS BIGINT))
                      AS BIGINT) AS hamming
          FROM b x JOIN b y
            ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
    SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= {_HAM_MAX}
    """,
    category="llm-dedup",
)
def q95_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: band each 16-bit signature (q57) into two
    8-bit bands, generate candidate pairs inside each band bucket, and
    keep pairs within Hamming distance 3 — the signature-side
    counterpart of the MinHash pipeline (q54-q56), cheaper per doc (one
    int vs 8 minhashes) at coarser recall.

    Shape: the q56/q91 in-set pair generation, not a self-join — one
    shuffle groups each (band, value) bucket's (doc_id, simhash) SET
    (signatures ride along, so no join-back to resolve them), two
    chained codegen generates emit ordered in-bucket pairs, and the
    Hamming verify is a single bit_count(xor) per pair.  The distinct
    that collapses pairs caught by both bands runs AFTER the <= 3
    filter, so it dedups only verified near-dups.

    Scale: bucket membership is hard-bounded at _MAX_BAND_DOCS by a
    row_number cap BELOW the set-building agg (same key, no extra
    shuffle), and a capped bucket raises instead of silently dropping
    oracle pairs — dedup.py's strict-cap rule.  Average occupancy is
    corpus/256 per band at 16 bits; the 100 TB path widens the
    signature (64-bit, four 16-bit bands -> 65,536 values/band) before
    the cap ever binds, keeping the operator shape unchanged."""
    return simhash_pairs(table(spark, sf_dir, "documents"))


def simhash_pairs(
    d: DataFrame,
    max_band: int = _MAX_BAND_DOCS,
    ham_max: int = _HAM_MAX,
) -> DataFrame:
    """q95 as a reusable transform — see the query docstring.  max_band
    is the strict per-bucket cap (raises when a bucket reaches it).

    Round-9 plan (the sf1 bench's worst query, 19 s): the 16-bit
    signature space is BOUNDED, so the in-bucket all-pairs generation
    (O(occupancy^2) per bucket — occupancy grows linearly with the
    corpus at 256 values/band, hence quadratic total cost) is replaced
    by a signature HISTOGRAM + XOR-neighbour join.  A pair collides
    in the band scheme iff (hi bands equal AND popcount(lo xor) <=
    ham_max) OR (lo equal AND popcount(hi xor) <= ham_max), i.e. the
    two SIGNATURES differ by one of the 2 x 92 single-band masks of
    popcount 1..ham_max — so:

      1. one hash-agg collapses the corpus to <= 65,536
         (signature -> sorted doc list, count) rows,
      2. a broadcast join with the 184-row mask table generates each
         qualifying signature PAIR exactly once (sx < sx^m), the
         hamming distance read off the mask — never computed per doc
         pair,
      3. doc pairs explode only for signature pairs that already
         qualify, plus the same-signature (hamming 0) in-list pairs.

    Work now scales with |signature space| + |true output|, not
    corpus^2/buckets: sf1 (50k docs) went 19 s -> ~1 s, and a 100x
    corpus only deepens the doc lists (step 1's map-side partial agg
    absorbs it).  The strict per-(band, value) cap keeps the identical
    trigger (bucket membership = sum of list sizes sharing a band
    value), so capped corpora raise exactly as before.  The wide
    variant (q160) keeps the banded generator: its 36k-mask
    neighbourhood would dwarf its 32k-value buckets."""
    spark = d.sparkSession
    sim = simhash_df(d)
    sigs = sim.groupBy("simhash").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ds"),
        F.count(F.lit(1)).alias("n"),
    )

    # strict cap: per band, bucket membership = sum of same-value sigs
    def band_sizes(pinned: DataFrame) -> DataFrame:
        b0, b1 = (
            pinned.groupBy(F.expr(bv)).agg(F.sum("n").alias("m")).select("m")
            for bv in ("simhash div 256", "simhash % 256")
        )
        return b0.unionAll(b1)

    sigs = pin_under_cap(  # 4 consumers; <= 65,536 rows
        sigs, max_band, "simhash_pairs", _CAP_REMEDY, band_sizes
    )
    pc = lambda v: bin(v).count("1")  # noqa: E731
    masks = [
        (e << shift, pc(e))
        for e in range(1, 256)
        if pc(e) <= ham_max
        for shift in (0, 8)
    ]
    mdf = F.broadcast(
        spark.createDataFrame(masks, "m bigint, pc bigint")
    )
    x = sigs.select(
        F.col("simhash").alias("sx"), F.col("ds").alias("dsx")
    )
    y = sigs.select(
        F.col("simhash").alias("sy"), F.col("ds").alias("dsy")
    )
    cross = (
        x.join(mdf)
        .withColumn("sy", F.col("sx").bitwiseXOR(F.col("m")))
        .where(F.col("sx") < F.col("sy"))
        .join(y, "sy")
        .select(
            F.explode("dsx").alias("a"),
            F.col("dsy"),
            F.col("pc").alias("hamming"),
        )
        .select(
            "a", F.explode("dsy").alias("b"), "hamming"
        )
        .select(
            F.least("a", "b").alias("doc_a"),
            F.greatest("a", "b").alias("doc_b"),
            "hamming",
        )
    )
    same = in_set_pairs(
        sigs.where(F.col("n") > 1), "ds", "doc_a", "doc_b"
    ).withColumn("hamming", F.lit(0).cast("bigint"))
    return cross.unionAll(same)


def simhash_pairs_wide(
    d: DataFrame,
    bits: int = 60,
    n_bands: int = 4,
    max_band: int = _MAX_BAND_DOCS,
    ham_max: int = _HAM_MAX,
) -> DataFrame:
    """The WIDE-signature near-dup pair search — q95's documented 100 TB
    path made concrete: a 60-bit signature banded into four 15-bit bands
    gives 32,768 values per band (vs 256 at 16 bits), so average bucket
    occupancy drops 128x at the same corpus size and the per-bucket cap
    stops binding until corpora 128x larger.  Same capped in-set pair
    generation and bit_count(xor) verify; recall semantics follow the
    banding theory (a pair collides when any band matches exactly)."""
    from .text import simhash_df_wide

    if bits % n_bands:
        raise ValueError("bits must divide evenly into n_bands")
    w = bits // n_bands
    sim = simhash_df_wide(d, bits)
    banded = sim.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"(simhash div {2 ** (w * j)}) % {2 ** w}")
                    for j in range(n_bands)
                ]
            )
        ).alias("band", "bv"),
    )
    groups = pin_under_cap(
        capped_bucket_sets(
            banded, ["band", "bv"], F.struct("doc_id", "simhash"), max_band
        ),
        max_band, "simhash_pairs_wide", _CAP_REMEDY,
    )
    pairs = in_set_pairs(groups, "ds", "a", "b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("bigint")
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= ham_max)
        .distinct()
    )


# Fixed-point embedding scale for exact cross-engine sums.  FLOOR, not
# ROUND: the synthetic embeddings contain components whose value*1e4
# lands EXACTLY on .5 ties (measured at sf0.1), and Spark (shortest
# decimal string, HALF_UP) and DuckDB (exact binary) resolve such ties
# differently — floor of the identical double is unambiguous.
_Q_SCALE = 10_000

# e8-LIFT HEADROOM GUARD (ADVICE r11): the q130/q234 distance recipe
# sums <= 64 dims of (q*10000 - ci)^2 in BIGINT, where ci is the
# e8-scale integer centroid mean (|ci| <= max|q|*1e4 + 1).  So
# |term| <= (2*max|q|*1e4 + 1)^2 and the 64-dim sum stays inside
# int64 iff max|q| < ~18,974; past that Spark wraps SILENTLY
# (non-ANSI) while DuckDB promotes to HUGEINT — a latent engine
# divergence.  Components are quantized through this guard, which
# raises (both engines would, loudly, at the same rows) instead of
# letting embeddings with |v| > 1.8 corrupt the argmin.
_Q_LIFT_MAX = 18_000


def q_e4_lift_guarded(v: Column) -> Column:
    """floor(v * 1e4) with the e8-lift headroom assertion above —
    use for any quantization feeding the (q*10000 - ci)^2 sum."""
    q = F.floor(v * _Q_SCALE)
    return F.when(F.abs(q) <= _Q_LIFT_MAX, q).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "embedding component outside the e8-lift headroom"
                    f" (|floor(v*1e4)| > {_Q_LIFT_MAX}, i.e. |v| > 1.8):"
                    " got q="
                ),
                q.cast("string"),
            )
        )
    )


@query(
    "q99_label_centroids",
    oracle=f"""
    WITH x AS (SELECT CAST(label AS BIGINT) AS label,
                      unnest(range(1, len(embedding) + 1)) AS dim,
                      CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)
                                 * {_Q_SCALE}) AS BIGINT) AS q
               FROM embeddings)
    SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(q) AS BIGINT) AS sum_q,
           CASE WHEN SUM(q) < 0
                THEN -((-SUM(q) * 20000 + COUNT(*)) // (2 * COUNT(*)))
                ELSE ((SUM(q) * 20000 + COUNT(*)) // (2 * COUNT(*)))
           END / 10000.0 AS centroid_e4
    FROM x GROUP BY label, dim
    """,
    category="llm-embedding",
)
def q99_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, one row per (label, dimension):
    the class means behind clustering diagnostics, nearest-centroid
    classification, and warm-starting the IVF coarse quantizer
    (similarity.train_centroids) from labeled data.

    Exactness: components quantize to fixed-point integers (floor of
    value*1e4 — see _Q_SCALE for why floor, not round), so sums are
    order-independent exact BIGINTs and the centroid is the
    integer-decided signed 4-decimal ratio (in 1e-4 value units).

    Shape: posexplode is in-row codegen; ONE hash-agg keyed by
    (label, dim) with map-side partials — |labels| x dim output cells
    regardless of corpus size.  At 100 TB this is the same one-shuffle
    shape as q92's vocabulary table."""
    e = table(spark, sf_dir, "embeddings")
    x = e.select(
        F.col("label").cast("bigint").alias("label"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "v"
        ),
    ).select(
        "label",
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        # guarded (ADVICE r12): q99's centroids seed the e8-lift
        # consumers (q128/q130/q234), so out-of-headroom components
        # must fail loudly here too, not wrap downstream
        q_e4_lift_guarded(F.col("v")).alias("q"),
    )
    return (
        x.groupBy("label", "dim")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("sum_q"))
        .select(
            "label",
            "dim",
            "n",
            "sum_q",
            ratio_e4_signed("sum_q", "n").alias("centroid_e4"),
        )
    )


@query(
    "q100_dup_rate_by_source",
    oracle="""
    WITH h AS (SELECT source, md5(text) AS hx FROM documents),
    g AS (SELECT hx, COUNT(*) AS cnt, COUNT(DISTINCT source) AS nsrc
          FROM h GROUP BY hx)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
           CAST(SUM(CASE WHEN nsrc > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cross_docs,
           (SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) * 20000 + COUNT(*))
               // (2 * COUNT(*)) / 10000.0 AS dup_share
    FROM h JOIN g USING (hx)
    GROUP BY source
    """,
    category="llm-curation",
)
def q100_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report: how many of each source's
    documents are exact duplicates of SOME corpus document (dup_share),
    and how many duplicate across a source boundary — the
    which-acquisition-is-redundant summary that q50 (global exact
    dedup) and q91 (pairwise overlap matrix) bracket from either side.

    Shape: documents reduce to (source, md5) immediately — text never
    shuffles; one hash-keyed agg builds the per-text profile, one
    hash-keyed shuffle join annotates each doc (both sides partition on
    hx, so AQE plans a co-partitioned join), one source-keyed agg
    produces |sources| rows.  At 100 TB all three exchanges move
    32-byte hashes, not documents.  The digest projection feeds BOTH
    the profile agg and the annotate probe, so it is checkpoint-
    materialized once: text is scanned and md5'd a single time, and the
    checkpoint holds 32-byte digests, not documents (a collect_list
    single-pass alternative would instead buffer one unbounded array
    per mega-duplicated text — a hot-key hazard this shape avoids)."""
    d = table(spark, sf_dir, "documents")
    h = d.select("source", F.md5("text").alias("hx")).localCheckpoint()
    g = h.groupBy("hx").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("source").alias("nsrc"),
    )
    return (
        h.join(g, "hx")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_docs"),
            F.sum(F.when(F.col("nsrc") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_cross_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            "n_cross_docs",
            ratio_e4("n_dup_docs", "n_docs").alias("dup_share"),
        )
    )


# Integer centroid component at e8 RAW-VALUE scale (round(mean_q * 1e4)
# where q is already the e4-quantized component; i.e. the ratio_e4_signed
# integer BEFORE its final /10000.0) — shared by the Spark side and the
# oracle of q128.  Consumers that compare ci against per-vector q MUST
# lift q to the same scale (q * 10000) before differencing — see q130 /
# q234 (round-11 scale-consistency fix).
_CENT_INT_SQL = (
    "CASE WHEN sum_q < 0"
    " THEN -(((-sum_q) * 20000 + n) div (2 * n))"
    " ELSE ((sum_q * 20000 + n) div (2 * n)) END"
)


@query(
    "q128_centroid_separation",
    oracle=f"""
    WITH x AS (SELECT CAST(label AS BIGINT) AS label,
                      unnest(range(1, len(embedding) + 1)) AS dim,
                      CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)
                                 * {_Q_SCALE}) AS BIGINT) AS q
               FROM embeddings),
    g AS (SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(q) AS BIGINT) AS sum_q
          FROM x GROUP BY 1, 2),
    c AS (SELECT label, dim,
                 CASE WHEN sum_q < 0
                      THEN -(((-sum_q) * 20000 + n) // (2 * n))
                      ELSE ((sum_q * 20000 + n) // (2 * n)) END AS ci
          FROM g)
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(COUNT(*) AS BIGINT) AS n_dims,
           CAST(SUM((a.ci - b.ci) * (a.ci - b.ci)) AS BIGINT) AS l2sq_e16
    FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
    GROUP BY 1, 2
    """,
    category="llm-embedding",
)
def q128_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise squared L2 distance between the per-label centroids of
    q99 — the cluster-separation matrix behind classifier sanity checks
    ("are these classes even separable?") and IVF seeding diagnostics
    (centroids too close = wasted coarse cells).

    Exactness: centroids are the same integer-decided components as q99
    (kept as the e8-scale INTEGERS — no final division), so the distance
    is an exact BIGINT sum of integer squares on both engines; with both
    operands at e8 the squared sum is at e16 scale, hence l2sq_e16
    (round-11 rename from the misleading l2sq_e8 — values unchanged,
    the two operands were always at the same scale here).

    Shape: ONE corpus pass reduces to |labels| x dims cells (the q99
    aggregation), which localCheckpoint materializes so the pair join
    reads the KB-scale cell table twice WITHOUT re-scanning embeddings;
    the self-join broadcasts one side and outputs C(|labels|, 2) rows.
    At 100 TB only the first aggregation touches the corpus."""
    e = table(spark, sf_dir, "embeddings")
    g = (
        e.select(
            F.col("label").cast("bigint").alias("label"),
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "v"
            ),
        )
        .select(
            "label",
            (F.col("pos") + 1).cast("bigint").alias("dim"),
            # guarded (ADVICE r12): with |q| <= _Q_LIFT_MAX the e8
            # centroids satisfy |ci| <= 1.8001e8, so the 64-dim sum of
            # (ca - cb)^2 is bounded by 64 * (3.6002e8)^2 ~ 8.30e18 <
            # int64 max (9.22e18) — without the guard a single |v| > 1.8
            # component could wrap the sum silently in non-ANSI Spark
            # while DuckDB promotes to HUGEINT
            q_e4_lift_guarded(F.col("v")).alias("q"),
        )
        .groupBy("label", "dim")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("sum_q"))
    )
    c = g.select(
        "label", "dim", F.expr(_CENT_INT_SQL).alias("ci")
    ).localCheckpoint(eager=False)
    a = c.select(
        F.col("label").alias("label_a"), "dim", F.col("ci").alias("ca")
    )
    b = c.select(
        F.col("label").alias("label_b"), "dim", F.col("ci").alias("cb")
    )
    d = F.col("ca") - F.col("cb")
    return (
        a.join(F.broadcast(b), "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.sum(d * d).cast("bigint").alias("l2sq_e16"),
        )
    )


@query(
    "q130_nearest_centroid_eval",
    oracle=f"""
    WITH x AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                      unnest(range(1, len(embedding) + 1)) AS dim,
                      CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)
                                 * {_Q_SCALE}) AS BIGINT) AS q
               FROM embeddings),
    g AS (SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(q) AS BIGINT) AS sum_q
          FROM x GROUP BY 1, 2),
    c AS (SELECT label AS label_c, dim,
                 CASE WHEN sum_q < 0
                      THEN -(((-sum_q) * 20000 + n) // (2 * n))
                      ELSE ((sum_q * 20000 + n) // (2 * n)) END AS ci
          FROM g),
    d AS (SELECT x.vec_id, x.label AS label_true, c.label_c,
                 SUM((x.q * 10000 - c.ci) * (x.q * 10000 - c.ci)) AS dist
          FROM x JOIN c USING (dim) GROUP BY 1, 2, 3),
    p AS (SELECT vec_id, label_true, label_c AS label_pred,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY dist, label_c) AS rn
          FROM d)
    SELECT label_true, label_pred, CAST(COUNT(*) AS BIGINT) AS n
    FROM p WHERE rn = 1 GROUP BY 1, 2
    """,
    category="llm-embedding",
)
def q130_nearest_centroid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification audit: every vector is assigned
    to its closest per-label centroid (q99's integer components) and the
    confusion matrix label_true x label_pred comes back — the standard
    are-the-classes-separable / is-the-quantizer-sane evaluation, run
    entirely inside the engine.

    Exactness: distances are exact BIGINT sums of integer squares with
    BOTH operands lifted to e8 scale (q * 10000 vs the e8-scale
    integer-decided centroid ci — round-11 fix: the earlier q - ci mixed
    e4 against e8, so the argmin barely depended on the vector); the
    argmin is a row_number over the explicit (dist, label) total order —
    no engine tie-break ambiguity.

    Shape: the centroid table (|labels| x dims cells, KB) broadcasts
    into the dim-exploded vectors; the distance agg keys on
    (vec_id, label) with map-side partials, so the only corpus-scale
    shuffle carries |vecs| x |labels| skinny rows, then a vec-keyed
    window picks the winner and the confusion agg reduces to
    |labels|^2 cells.  The same recipe at 100 TB is IVF coarse
    assignment with k centroids (q65's narrow-map variant trades the
    joined agg for driver-literal centroids when k is small)."""
    e = table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id",
        F.col("label").cast("bigint").alias("label"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "v"
        ),
    ).select(
        "vec_id",
        F.col("label").alias("label_true"),
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        q_e4_lift_guarded(F.col("v")).alias("q"),
    ).localCheckpoint(eager=False)
    c = (
        x.groupBy(F.col("label_true").alias("label_c"), "dim")
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
        .groupBy("vec_id", "label_true", "label_c")
        .agg(F.sum(dd * dd).alias("dist"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy("dist", "label_c")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("label_true", F.col("label_c").alias("label_pred"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _wide_bands_sql(bits: int = 60, n_bands: int = 4) -> str:
    w = bits // n_bands
    return " UNION ALL ".join(
        f"SELECT doc_id, simhash, (simhash // {2 ** (w * j)}) % {2 ** w}"
        f" AS bv, {j} AS band FROM sim"
        for j in range(n_bands)
    )


@query(
    "q160_simhash_wide_pairs",
    oracle=f"""
    WITH {simhash_cte_wide()},
    b AS ({_wide_bands_sql()}),
    p AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                 CAST(bit_count(CAST(xor(x.simhash, y.simhash) AS BIGINT))
                      AS BIGINT) AS hamming
          FROM b x JOIN b y
            ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
    SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= {_HAM_MAX}
    """,
    category="llm-dedup",
)
def q160_simhash_wide_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-signature SimHash near-dup pairs: the 60-bit signature q95's
    docstring names as the 100 TB path, banded into four 15-bit bands
    (32,768 values per band — average bucket occupancy 128x smaller than
    the 16-bit variant at the same corpus size, so the strict per-bucket
    cap stops binding until corpora 128x larger), Hamming <= 3 verify.

    Precision/recall trade vs q95: more signature bits mean Hamming
    distance reflects token-level similarity more faithfully (fewer
    vote-tie collisions), while exact-band collision becomes RARER per
    band — the four bands compensate (a pair within Hamming 3 of 60
    bits differs in at most 3 bands, so at least one 15-bit band always
    matches... unless all 3 flipped bits straddle 3 different bands and
    a fourth differs — banding recall is probabilistic by design, and
    the oracle reproduces the identical banding, so the check is exact
    over the DECLARED semantics, not over an ideal).

    Shape: identical to q95 — signature agg (60 vote columns, map-side
    partials), posexplode to 4 band rows/doc, capped in-set pair
    generation, bit_count(xor) verify."""
    return simhash_pairs_wide(table(spark, sf_dir, "documents"))


@query(
    "q172_source_novelty",
    oracle="""
    WITH toks AS (SELECT source, string_split(text, ' ') AS t
                  FROM documents),
    sh0 AS (SELECT source,
                   unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
            FROM toks),
    sh AS (SELECT DISTINCT source, s FROM sh0),
    g AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS k FROM sh GROUP BY s)
    SELECT sh.source,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN g.k = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exclusive,
           (SUM(CASE WHEN g.k = 1 THEN 1 ELSE 0 END) * 20000 + COUNT(*))
             // (2 * COUNT(*)) / 10000.0 AS exclusive_share
    FROM sh JOIN g USING (s)
    GROUP BY 1
    """,
    category="llm-curation",
)
def q172_source_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source shingle novelty: how much of each source's distinct
    3-gram vocabulary appears NOWHERE else in the corpus — the
    marginal-value measure behind buy/crawl decisions (a source whose
    shingles all exist elsewhere adds deduplication load, not
    information), complementing q91's pairwise overlap with a
    corpus-wide exclusivity rate.

    Exactness: set counts are integers, the share is the
    integer-decided e4 ratio.  Shape: one explode->distinct shuffle to
    the (source, shingle) universe, one groupBy(shingle) carrying a
    collect_set of sources (bounded by |sources|, a handful), a narrow
    re-explode, and a final |sources|-bounded aggregate — all
    vocabulary-scale, never corpus² (the q81/q92 scale story)."""
    par = spark.sparkContext.defaultParallelism
    d = table(spark, sf_dir, "documents").select("source", "text")
    sh = exploded_ngrams(d.repartition(par), 3, "s", ["source"]).distinct()
    g = sh.groupBy("s").agg(F.collect_set("source").alias("srcs"))
    per_src = g.select(
        F.explode("srcs").alias("source"), F.size("srcs").alias("k")
    )
    return (
        per_src.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_exclusive"),
        )
        .select(
            "source",
            "n_shingles",
            "n_exclusive",
            ratio_e4("n_exclusive", "n_shingles").alias("exclusive_share"),
        )
    )
