"""Deterministic byte-pair-encoding subword tokenizer as DataFrame ops
(round-12 verdict item #3 — the largest remaining LLM-pipeline fidelity
gap: every token operator tokenized on whitespace, so fertility/packing/
surprisal described WORD statistics, not what a subword-tokenized model
actually consumes).

This is Sennrich et al. 2016's word-level BPE re-expressed Spark-first:

  * the corpus collapses ONCE to its word vocabulary (word, freq) — a
    corpus-scale hash-agg with map-side partials, after which training
    never touches the corpus again (the classic BPE trick: pair counts
    weight by word frequency, so the training state is VOCABULARY-sized
    — at 100 TB web scale that is ~1e8 types, a comfortably distributed
    DataFrame, while the corpus stays on disk);
  * each merge step is one vocabulary-scale hash-agg (adjacent-pair
    counts weighted by freq), one bounded driver probe (the single best
    pair — count desc, then lexicographic (left, right), the
    deterministic tie-break), and one narrow per-word fold applying the
    merge greedily leftmost-non-overlapping (the reference
    implementation's re.sub semantics);
  * the recurrence is fully deterministic on integer counts, so a
    DuckDB oracle can REPLAY the identical merges stage by stage
    (q251's oracle unrolls _BPE_MERGES stages of pair-count -> argmax ->
    run-parity greedy merge in pure SQL) and the driver hash proves the
    whole trainer, not just its outputs.

Reference parity: the reference tokenizes only CSV fields
(`cli.cpp:169-175`); this extends SURVEY §2.2's LLM-pipeline rows.

Scale notes: the per-step fold is an interpreted higher-order
``aggregate`` — deliberately so.  The round-12 24x HOF finding applies
to CORPUS-scale hot paths; here the lambda runs once per VOCABULARY
row per merge (never per corpus token), and the corpus-scale work
(word counting, final per-source application) is plain codegen
hash-aggs.  Each step localCheckpoints the (tiny) symbolization so
step N's plan does not replay steps 1..N-1 — the connected-components
iterative-algorithm discipline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ...catalog import table
from ...functions.deterministic import ratio_e4
from ...functions.texthash import tokens
from ...registry import query

# Fixed merge budget: enough to exercise multi-round merges on the
# fixture's vocabulary while keeping the unrolled SQL oracle tractable.
# Production trainers raise it (30k-50k merges); the recurrence and its
# per-step cost envelope are identical.
_BPE_MERGES = 16


def _word_vocab(docs: DataFrame) -> DataFrame:
    """(word, freq) corpus vocabulary — the ONLY corpus-scale pass of
    training.  Empty-string words are excluded on both engines (a
    zero-length word would make Spark's sequence(1, 0) step DOWNWARD
    where DuckDB's generate_series(1, 0) is empty)."""
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .where(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _char_split(word: str = "word") -> Column:
    """Initial symbolization: one single-character symbol per position
    (the BPE base alphabet).  substring-per-position, mirroring the
    oracle's word[i]."""
    return F.expr(
        f"transform(sequence(1, length({word})), i -> substring({word}, i, 1))"
    )


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """Greedy leftmost-non-overlapping application of one merge
    (left, right) -> left||right over a symbol array — the reference
    BPE's `re.sub` pass as a left fold: carry the previous unmerged
    symbol; when (prev, cur) hits the pair, emit the merged symbol and
    clear the carry (so "a a a" under (a,a) gives [aa, a], never a
    re-merge of the fresh token within the same pass)."""
    l_, r_ = F.lit(left), F.lit(right)
    init = F.struct(
        F.array().cast("array<string>").alias("acc"),
        F.lit(None).cast("string").alias("prev"),
    )

    def step(acc: Column, x: Column) -> Column:
        flush = F.when(
            acc["prev"].isNull(), acc["acc"]
        ).otherwise(F.concat(acc["acc"], F.array(acc["prev"])))
        return F.when(
            (acc["prev"] == l_) & (x == r_),
            F.struct(
                F.concat(acc["acc"], F.array(F.concat(l_, r_))).alias("acc"),
                F.lit(None).cast("string").alias("prev"),
            ),
        ).otherwise(F.struct(flush.alias("acc"), x.alias("prev")))

    def finish(acc: Column) -> Column:
        return F.when(
            acc["prev"].isNull(), acc["acc"]
        ).otherwise(F.concat(acc["acc"], F.array(acc["prev"])))

    return F.aggregate(syms, init, step, finish)


# Driver-trainer threshold: a vocabulary at or below this collects to
# the driver (the connected_components size-dispatch pattern — model-
# sized data, exception class documented there).  131k distinct words
# x ~30 B is ~4 MB; real web-scale vocabularies (1e8 types) exceed it
# and take the distributed loop below.
_DRIVER_VOCAB_MAX = 1 << 17


def _merge_word(
    syms: list[str], left: str, right: str
) -> list[str]:
    """Pure-Python twin of :func:`_apply_merge`'s fold — greedy
    leftmost-non-overlapping, carry-flush semantics identical."""
    out: list[str] = []
    prev: str | None = None
    for x in syms:
        if prev == left and x == right:
            out.append(left + right)
            prev = None
        else:
            if prev is not None:
                out.append(prev)
            prev = x
    if prev is not None:
        out.append(prev)
    return out


def _bpe_train_driver(
    rows: list, n_merges: int
) -> tuple[list[tuple[str, int, list[str]]], list[tuple[str, str, int]]]:
    """The merge recurrence on a collected vocabulary: identical pair
    counting (adjacent occurrences, frequency-weighted), identical
    argmax (count desc, then lexicographic (left, right) — Python's
    code-point string order equals Spark/DuckDB binary order for the
    UTF-8 text the corpus carries), identical greedy application.
    Equality with the distributed loop is pinned by tests running both
    paths on the same vocabulary."""
    state = [(r[0], int(r[1]), list(r[0])) for r in rows]
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for _w, f, syms in state:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (l_, r_), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((l_, r_, c))
        state = [
            (w, f, _merge_word(syms, l_, r_)) for w, f, syms in state
        ]
    return state, merges


def bpe_train(
    vocab: DataFrame,
    n_merges: int = _BPE_MERGES,
    driver_vocab_max: int = _DRIVER_VOCAB_MAX,
) -> tuple[DataFrame, list[tuple[str, str, int]]]:
    """Train ``n_merges`` BPE merges on a (word, freq) vocabulary.

    Returns ``(state, merges)``: the final symbolization
    (word, freq, syms array<string>) and the ordered merge table
    [(left, right, pair_count), ...].

    Size-dispatched like :func:`..dedup.connected_components`: ONE
    ``limit(max + 1).collect()`` probes the vocabulary size AND, under
    the threshold, IS the training input — the recurrence then runs on
    the driver exactly as the reference BPE trainers do (Sennrich's
    operates on an in-memory vocab dict after the corpus count), since
    n_merges sequential Spark rounds on a model-sized vocabulary are
    pure scheduling overhead (measured 3.6 s -> ~0.3 s at the fixture's
    31-word vocab).  Past the threshold, the distributed loop: each
    step one vocabulary-scale pair-count hash-agg, ONE driver-collected
    row (the argmax pair), one narrow fold applying it.  Both paths are
    value-identical (pinned by tests) and both stop early when no
    adjacent pair remains — the oracle's stages no-op identically from
    that point, so a shorter merge table is still hash-equivalent."""
    probe = vocab.select("word", "freq").limit(
        driver_vocab_max + 1
    ).collect()
    if len(probe) <= driver_vocab_max:
        fin, merges = _bpe_train_driver(probe, n_merges)
        state = vocab.sparkSession.createDataFrame(
            fin, "word string, freq bigint, syms array<string>"
        )
        return state, merges
    state = vocab.select(
        "word", "freq", _char_split("word").alias("syms")
    ).localCheckpoint(eager=False)
    merges: list[tuple[str, str, int]] = []
    pair_structs = F.expr(
        "transform(sequence(1, size(syms) - 1),"
        " i -> struct(element_at(syms, i) AS l,"
        " element_at(syms, i + 1) AS r))"
    )
    for _ in range(n_merges):
        best = (
            state.where(F.size("syms") >= 2)
            .select("freq", F.explode(pair_structs).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .first()
        )
        if best is None:  # vocabulary fully merged — oracle no-ops too
            break
        merges.append((best["l"], best["r"], int(best["c"])))
        state = state.select(
            "word",
            "freq",
            _apply_merge(F.col("syms"), best["l"], best["r"]).alias("syms"),
        ).localCheckpoint(eager=False)
    return state, merges


def _bpe_oracle_sql(n_merges: int) -> str:
    """The training recurrence unrolled stage by stage in DuckDB SQL.

    Stage k: pair counts over symbolization s{k} (LEAD within word,
    SUM(freq)), the argmax pair (count desc, lexicographic tie-break),
    greedy leftmost-non-overlapping application via run parity —
    consecutive marked positions form a run (pos - ROW_NUMBER is
    constant), and exactly the even offsets within each run merge,
    which is precisely the left fold's behaviour — then drop the
    consumed right-hand rows (LAG(do_merge) = 1) and renumber.  An
    exhausted vocabulary makes the argmax scalar subqueries NULL and
    every later stage a no-op, matching the trainer's early stop.

    Every recurrence CTE is AS MATERIALIZED: DuckDB inlines plain CTEs,
    and each stage references its predecessor several times (the pair
    agg, the two argmax scalar subqueries, the merge pass) — inlined,
    the replay would re-evaluate stage k's whole prefix ~3^k times
    (the first un-materialized run exhausted the file-descriptor
    budget re-opening the parquet); materialized, each stage is
    evaluated exactly once, the trainer's own cost shape."""
    parts = [
        "WITH tok AS MATERIALIZED (SELECT source,"
        " unnest(string_split(text, ' ')) AS word FROM documents)",
        "wc AS MATERIALIZED (SELECT source, word,"
        " CAST(COUNT(*) AS BIGINT) AS freq_sw"
        " FROM tok WHERE word <> '' GROUP BY 1, 2)",
        "vocab AS MATERIALIZED (SELECT word,"
        " CAST(SUM(freq_sw) AS BIGINT) AS freq FROM wc GROUP BY 1)",
        "s0 AS MATERIALIZED (SELECT word, freq, CAST(i AS BIGINT) AS pos,"
        " word[i] AS sym"
        " FROM vocab, unnest(generate_series(1, len(word))) u(i))",
    ]
    for k in range(n_merges):
        parts.append(
            f"p{k} AS MATERIALIZED (SELECT word, freq, pos, sym,"
            f" LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt"
            f" FROM s{k})"
        )
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT sym AS l, nxt AS r,"
            f" SUM(freq) AS c FROM p{k} WHERE nxt IS NOT NULL GROUP BY 1, 2)"
        )
        parts.append(
            f"b{k} AS MATERIALIZED"
            f" (SELECT l, r FROM c{k} ORDER BY c DESC, l, r LIMIT 1)"
        )
        parts.append(
            f"g{k} AS MATERIALIZED (SELECT word, freq, pos, sym, nxt,"
            f" CASE WHEN mark = 1 AND (pos - MIN(pos) OVER"
            f" (PARTITION BY word, grp)) % 2 = 0 THEN 1 ELSE 0 END"
            f" AS do_merge FROM"
            f" (SELECT *, CASE WHEN mark = 1 THEN pos - ROW_NUMBER() OVER"
            f" (PARTITION BY word, mark ORDER BY pos) END AS grp FROM"
            f" (SELECT *, CASE WHEN sym = (SELECT l FROM b{k})"
            f" AND nxt = (SELECT r FROM b{k}) THEN 1 ELSE 0 END AS mark"
            f" FROM p{k})))"
        )
        parts.append(
            f"s{k + 1} AS MATERIALIZED (SELECT word, freq,"
            f" CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos)"
            f" AS BIGINT) AS pos,"
            f" CASE WHEN do_merge = 1 THEN sym || nxt ELSE sym END AS sym"
            f" FROM (SELECT *, LAG(do_merge) OVER"
            f" (PARTITION BY word ORDER BY pos) AS pm FROM g{k})"
            f" WHERE COALESCE(pm, 0) = 0)"
        )
    parts.append(
        f"fin AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sub"
        f" FROM s{n_merges} GROUP BY 1)"
    )
    return (
        ",\n    ".join(parts)
        + """
    SELECT wc.source,
           CAST(SUM(wc.freq_sw) AS BIGINT) AS n_words,
           CAST(SUM(wc.freq_sw * f.n_sub) AS BIGINT) AS n_subtokens,
           CAST(SUM(wc.freq_sw * len(wc.word)) AS BIGINT) AS n_chars,
           (SUM(wc.freq_sw * f.n_sub) * 20000 + SUM(wc.freq_sw))
             // (2 * SUM(wc.freq_sw)) / 10000.0 AS fertility_e4,
           (SUM(wc.freq_sw * len(wc.word)) * 20000
              + SUM(wc.freq_sw * f.n_sub))
             // (2 * SUM(wc.freq_sw * f.n_sub)) / 10000.0
             AS chars_per_subtok_e4
    FROM wc JOIN fin f USING (word)
    GROUP BY 1
    """
    )


@query(
    "q251_bpe_fertility",
    oracle=_bpe_oracle_sql(_BPE_MERGES),
    category="llm-tokenize",
)
def q251_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword fertility per source on a REAL trained tokenizer
    (round-12 verdict item #3): train {_BPE_MERGES} BPE merges on the
    corpus word vocabulary (deterministic: integer pair counts,
    lexicographic tie-break, greedy leftmost application), segment
    every word, and report per source the word/subword/char totals,
    tokens-per-word fertility and chars-per-subword-token — q142's
    chars/token family re-expressed on what a subword-tokenized model
    actually consumes.  The DuckDB oracle REPLAYS the identical merge
    recurrence stage by stage (unrolled SQL), so the driver hash
    verifies the trainer itself — a wrong pair count, tie-break, or
    merge application anywhere in the {_BPE_MERGES} steps lands on
    different totals.

    Shape: two corpus-scale hash-aggs total — (source, word) counts,
    reduced to the global vocabulary — then training is
    vocabulary-scale per step (pair-count agg + 1-row driver argmax +
    narrow fold), and the final application is a vocabulary-sized
    broadcast-able join back onto the (source, word) frame.  Text
    never shuffles; at 100 TB the corpus is read once and every
    shuffle after it carries (word, counts) rows."""
    d = table(spark, sf_dir, "documents")
    wc = (
        d.select("source", F.explode(tokens("text")).alias("word"))
        .where(F.length("word") >= 1)
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("freq_sw"))
        .localCheckpoint(eager=False)  # feeds vocab AND the final join
    )
    vocab = wc.groupBy("word").agg(F.sum("freq_sw").alias("freq"))
    state, _merges = bpe_train(vocab, _BPE_MERGES)
    n_sub = state.select("word", F.size("syms").cast("bigint").alias("n_sub"))
    return (
        wc.join(n_sub, "word")
        .groupBy("source")
        .agg(
            F.sum("freq_sw").alias("n_words"),
            F.sum(F.col("freq_sw") * F.col("n_sub")).alias("n_subtokens"),
            F.sum(F.col("freq_sw") * F.length("word")).alias("n_chars"),
        )
        .select(
            "source",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.col("n_subtokens").cast("bigint").alias("n_subtokens"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
            ratio_e4("n_subtokens", "n_words").alias("fertility_e4"),
            ratio_e4("n_chars", "n_subtokens").alias(
                "chars_per_subtok_e4"
            ),
        )
    )
