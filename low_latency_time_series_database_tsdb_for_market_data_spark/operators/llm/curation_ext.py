"""Corpus-organization operators (q90-q92, q94): deterministic
train/val/test splitting, the cross-source n-gram overlap matrix, the
token document-frequency (vocabulary) table, and deterministic
stratified subsampling.

Same discipline as pipeline_ext: JVM-side column expressions only, every
ratio integer-decided, every hash built from the md5/substring/compare
primitives texthash.py pins as cross-engine-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ...catalog import table
from ...functions.deterministic import ratio_e4
from ...functions.pairs import in_set_pairs
from ...functions.texthash import exploded_ngrams, hex_nibble_sql, ngrams, tokens
from ...registry import query
from .pipeline_ext import _ngram_sql

# Split fractions over the 256 buckets of the leading md5 byte:
# [0,204) train (~80%), [204,230) val (~10%), [230,256) test (~10%).
_VAL_LO = 204
_TEST_LO = 230


def split_assign(doc_id_col: str = "doc_id") -> "F.Column":
    """Deterministic split label from the leading byte of md5(doc_id).

    Keyed on the IMMUTABLE id, never the text: re-running the pipeline
    after a cleaning pass must keep every document in its original split
    (text-keyed splits leak val into train whenever a revision lands).
    A pure narrow map — composes into any scan without a shuffle."""
    bucket = F.conv(
        F.substring(F.md5(F.col(doc_id_col).cast("string")), 1, 2), 16, 10
    ).cast("int")
    return (
        F.when(bucket < _VAL_LO, "train")
        .when(bucket < _TEST_LO, "val")
        .otherwise("test")
    )


@query(
    "q90_hash_split",
    oracle=f"""
    WITH h AS (SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS hx
               FROM documents),
    b AS (SELECT doc_id, n_chars,
                 {hex_nibble_sql("substr(hx, 1, 1)")} * 16
                   + {hex_nibble_sql("substr(hx, 2, 1)")} AS bucket
          FROM h)
    SELECT CASE WHEN bucket < {_VAL_LO} THEN 'train'
                WHEN bucket < {_TEST_LO} THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM b GROUP BY 1
    """,
    category="llm-curation",
)
def q90_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split report (~80/10/10 by the
    leading md5(doc_id) byte) — the assignment every training pipeline
    needs to be reproducible across re-runs, machines, and engines.
    min_doc_id is a spot-check handle for auditing membership.

    Shape: narrow map (one md5 per row) + a 3-group hash-agg; the split
    column itself (`split_assign`) is reusable as a partition key for
    writing split-separated output at 100 TB."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            split_assign().alias("split"), "n_chars", "doc_id"
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


_OVERLAP_N = 5  # 5-gram overlap: long enough to mean shared provenance


@query(
    "q91_source_overlap",
    oracle=f"""
    WITH {_ngram_sql(_OVERLAP_N)},
    sg AS (SELECT DISTINCT d.source AS source, g.g
           FROM g JOIN documents d USING (doc_id)),
    p AS (SELECT a.source AS src_a, b.source AS src_b
          FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source)
    SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM p GROUP BY src_a, src_b
    """,
    category="llm-curation",
)
def q91_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source overlap matrix: for every source pair, how many
    distinct 5-grams they share — the corpus-vs-corpus generalization of
    q83's probe-vs-corpus contamination screen, and the report that
    decides which acquired datasets are actually redundant.

    Shape: explode to (source, gram), distinct (collapses each source's
    repeats map-side), then q56's pair-generation shape instead of a
    gram-keyed self-join: group each gram's source SET (bounded by the
    source count, never the corpus) and emit in-set pairs with two
    chained codegen generates — one shuffle on (source, g) for the
    distinct plus one on g, where the self-join needed a third exchange
    and materialized both sides.  Per-gram fan-out is C(|sources|, 2) —
    pair count scales with the source count only (a 100 TB corpus with
    1e4 sources caps a gram's contribution at ~5e7 pairs; vocabulary-
    frequency caps like q56's DF bound apply above that)."""
    d = table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    sg = exploded_ngrams(
        d.repartition(par), _OVERLAP_N, "g", ["source"]
    ).distinct()
    groups = (
        sg.groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .where(F.size("ss") > 1)
    )
    pairs = in_set_pairs(groups, "ss", "src_a", "src_b")
    return pairs.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )


# Corpus-rebalancing rates per source bucket, in 256ths of the hash space
# (deterministic subsampling toward a target mix): even-numbered sources
# keep everything, odd-numbered downsample to ~50%.
_KEEP_EVEN = 256
_KEEP_ODD = 128


def sample_keep(doc_id_col: str = "doc_id", source_col: str = "source") -> "F.Column":
    """Deterministic keep/drop decision for stratified subsampling: keep
    iff the leading byte of md5('s:' || doc_id) falls under the source's
    rate (in 256ths).  The hash is SALTED differently from split_assign's
    — reusing q90's bytes would make "kept" correlate perfectly with
    "train", quietly starving val/test.  Narrow map, no shuffle."""
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("s:"), F.col(doc_id_col).cast("string"))),
            1,
            2,
        ),
        16,
        10,
    ).cast("int")
    src_num = F.regexp_extract(F.col(source_col), r"(\d+)$", 1).cast("int")
    rate = F.when(src_num % 2 == 0, _KEEP_EVEN).otherwise(_KEEP_ODD)
    return bucket < rate


@query(
    "q94_stratified_sample",
    oracle=f"""
    WITH h AS (SELECT doc_id, source, n_chars,
                      md5('s:' || CAST(doc_id AS VARCHAR)) AS hx
               FROM documents),
    b AS (SELECT source, n_chars,
                 {hex_nibble_sql("substr(hx, 1, 1)")} * 16
                   + {hex_nibble_sql("substr(hx, 2, 1)")} AS bucket,
                 CASE WHEN CAST(regexp_extract(source, '(\\d+)$', 1) AS INT)
                           % 2 = 0
                      THEN {_KEEP_EVEN} ELSE {_KEEP_ODD} END AS rate
          FROM h)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN bucket < rate THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars,
           (SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) * 20000
            + COUNT(*)) // (2 * COUNT(*)) / 10000.0 AS kept_share
    FROM b GROUP BY source
    """,
    category="llm-curation",
)
def q94_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified subsampling report — the corpus-mix
    REBALANCING step q85's report feeds: each source keeps a configured
    fraction of the hash space (here even sources 100%, odd ~50%),
    decided per document by a salted md5 so the sample is reproducible
    across engines and runs and independent of q90's split hash.

    Shape: narrow map (one salted md5 + one regexp per row) + hash-agg
    keyed by source; the keep decision (`sample_keep`) composes into any
    scan as a pushed residual filter — the 100 TB rebalance is a single
    filtered write with zero shuffles."""
    d = table(spark, sf_dir, "documents")
    keep = sample_keep().cast("int")
    return (
        d.select("source", "n_chars", keep.alias("k"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("k").cast("bigint").alias("n_kept"),
            F.sum(F.col("k") * F.col("n_chars"))
            .cast("bigint")
            .alias("kept_chars"),
            F.sum("k").alias("kept_raw"),
        )
        .select(
            "source",
            "n_total",
            "n_kept",
            "kept_chars",
            ratio_e4("kept_raw", "n_total").alias("kept_share"),
        )
    )


@query(
    "q92_token_df",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    t AS (SELECT doc_id, unnest(t) AS token FROM toks),
    v AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cf,
                 CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
          FROM t GROUP BY token)
    SELECT token, cf, df,
           (df * 20000 + tot) // (2 * tot) / 10000.0 AS df_share
    FROM v CROSS JOIN (SELECT COUNT(*) AS tot FROM documents)
    """,
    category="llm-curation",
)
def q92_token_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary table: per token, collection frequency (total
    occurrences), document frequency, and the share of documents
    containing it — the statistics behind IDF weighting, stopword lists,
    and tokenizer-vocabulary audits.

    Shape: explode + one hash-agg keyed by token (partial counts
    map-side); the corpus-size scalar joins in as a broadcast single-row
    aggregate, so df_share costs no second pass over the data.  At
    100 TB the vocabulary is still orders of magnitude smaller than the
    corpus — the agg output is the small side."""
    d = table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    v = (
        d.repartition(par)
        .select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("cf"),
            F.countDistinct("doc_id").alias("df"),
        )
    )
    tot = d.agg(F.count(F.lit(1)).alias("tot"))
    return v.crossJoin(F.broadcast(tot)).select(
        "token", "cf", "df", ratio_e4("df", "tot").alias("df_share")
    )


# A token is "rare" when its whole-corpus collection frequency is at or
# below this — the hapax/near-hapax band OCR noise and mojibake live in.
_RARE_MAX = 3


@query(
    "q164_rare_token_ratio",
    oracle=f"""
    WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS token
                  FROM documents),
    st AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS m
           FROM toks GROUP BY 1, 2),
    w AS (SELECT source, token, m,
                 SUM(m) OVER (PARTITION BY token) AS cf
          FROM st)
    SELECT source,
           CAST(SUM(m) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN cf <= {_RARE_MAX} THEN m ELSE 0 END)
                AS BIGINT) AS rare_tokens,
           CAST(SUM(CASE WHEN cf <= {_RARE_MAX} THEN 1 ELSE 0 END)
                AS BIGINT) AS rare_types,
           (SUM(CASE WHEN cf <= {_RARE_MAX} THEN m ELSE 0 END) * 20000
              + SUM(m)) // (2 * SUM(m)) / 10000.0 AS rare_share
    FROM w GROUP BY 1
    """,
    category="llm-curation",
)
def q164_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token exposure per source: what fraction of a source's token
    stream is corpus-rare (collection frequency <= 3) — the
    noise/quality proxy curation pipelines threshold on (OCR garbage,
    mojibake, and boilerplate IDs are hapax-heavy; clean prose is not),
    next to the count of distinct rare types it contributes.

    Exactness: occurrence counts are exact BIGINTs; the share rounds
    half-up in integers (ratio_e4 identity).  The corpus-wide frequency
    is a SUM over the (source, token) partials — no float ever exists.

    Shape: explode -> ONE (source, token) hash-agg (map-side partials
    shrink the token stream to the per-source vocabulary), then the
    corpus frequency arrives as a whole-partition window SUM over that
    SAME compacted table — replacing the vocab self-join q92 would need
    — and a source-keyed agg finishes.  Three exchanges, all moving
    vocabulary-sized rows, never the corpus."""
    d = table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    st = (
        d.repartition(par)
        .select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    cf = F.sum("m").over(Window.partitionBy("token"))
    w = st.select("source", "m", cf.alias("cf"))
    rare_m = F.when(F.col("cf") <= _RARE_MAX, F.col("m")).otherwise(
        F.lit(0)
    )
    rare_t = F.when(F.col("cf") <= _RARE_MAX, 1).otherwise(F.lit(0))
    agg = w.groupBy("source").agg(
        F.sum("m").cast("bigint").alias("total_tokens"),
        F.sum(rare_m).cast("bigint").alias("rare_tokens"),
        F.sum(rare_t).cast("bigint").alias("rare_types"),
    )
    return agg.select(
        "source",
        "total_tokens",
        "rare_tokens",
        "rare_types",
        ratio_e4("rare_tokens", "total_tokens").alias("rare_share"),
    )
