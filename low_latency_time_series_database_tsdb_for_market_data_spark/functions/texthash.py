"""Portable text hashing / shingling column expressions.

Everything here is built from primitives whose results are identical in
Spark and DuckDB (md5 hex, string concat, lexicographic compare on ASCII),
so the LLM-pipeline operators (dedup, fingerprinting, simhash) can be
verified bit-for-bit against the SQL oracle.  MinHash uses the
lexicographic MIN of ``md5(seed || ':' || shingle)`` — simulating k hash
functions by salting one, with fixed-width lowercase-hex order standing in
for integer order (order-isomorphic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_MINHASH = 8  # seeds 0..7
ROWS_PER_BAND = 2  # -> 4 LSH bands
SIMHASH_BITS = 16


def tokens(text: Column | str) -> Column:
    """Whitespace tokens (documents.text is single-space separated)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def ngrams(toks: Column, n: int) -> Column:
    """Word n-gram strings, one per position (empty if < n tokens).

    The short-doc case must be guarded explicitly: ``sequence(1, size-k)``
    steps DOWNWARD when ``size <= k`` (Spark's sequence uses step -1 when
    start > stop), so an unguarded transform would index past the array
    and throw INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI mode."""
    # concat_ws over n element_at lookups, NOT array_join(slice(...)):
    # slice allocates a fresh n-element array per position inside the
    # (interpreted) higher-order lambda — measured ~4x slower over a
    # full-corpus explode
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(toks: Column) -> Column:
    """Word 3-gram shingles (the dedup-pipeline unit; see ngrams)."""
    return ngrams(toks, 3)


def exploded_ngrams(
    df: DataFrame,
    n: int,
    out: str,
    keep: list[str],
    text: str = "text",
) -> DataFrame:
    """One row per word n-gram — the ``select(keep, explode(ngrams()))``
    shape, built POSITIONS-FIRST so the whole pass stays in whole-stage
    codegen: explode the position sequence, then build each window
    string as a TOP-LEVEL concat_ws projection over n element_at
    lookups.  The ngrams() higher-order ``transform`` lambda evaluates
    INTERPRETED per window — measured 24x slower (8.1 s vs 0.34 s for
    sf0.1's 236k width-8 windows on one split, round 12); every
    explode-immediately consumer (shingle pipelines, contamination
    n-grams, span fingerprints) routes here.  ngrams() itself remains
    for consumers that need the ARRAY (containment's array_intersect).
    Value-identical: same strings, same empty result below n tokens."""
    toks = tokens(text)
    return (
        df.select(*keep, toks.alias("__toks"))
        .where(F.size("__toks") >= n)
        .select(
            *keep,
            "__toks",
            F.explode(
                F.sequence(F.lit(1), F.size("__toks") - (n - 1))
            ).alias("__i"),
        )
        .select(
            *keep,
            F.concat_ws(
                " ",
                *[
                    F.element_at("__toks", F.col("__i") + k)
                    for k in range(n)
                ],
            ).alias(out),
        )
    )


def salted_md5(seed: Column | int, s: Column) -> Column:
    seed_c = F.lit(seed) if isinstance(seed, int) else seed
    return F.md5(F.concat(seed_c.cast("string"), F.lit(":"), s))


def simhash_prefix16(hash_col: Column) -> Column:
    """The 16 leading bits of an md5-hex column as one int (0..65535) —
    a single conv() per row; bit tests are then integer shifts."""
    return F.conv(F.substring(hash_col, 1, 4), 16, 10).cast("int")


def simhash16(hash_col: Column) -> list[Column]:
    """The 16 leading bits of an md5-hex column, MSB-first, as 0/1 ints.

    All 16 bits derive from ONE shared conv(substr(h,1,4)) subexpression;
    codegen CSE evaluates it once per row (vs 16 per-bit string convs)."""
    pre = simhash_prefix16(hash_col)
    return [
        F.shiftright(pre, SIMHASH_BITS - 1 - b).bitwiseAND(F.lit(1))
        for b in range(SIMHASH_BITS)
    ]


def hex_nibble_sql(sub_expr: str) -> str:
    """DuckDB CASE chain: hex char expression -> 0..15."""
    cases = " ".join(f"WHEN '{c}' THEN {i}" for i, c in enumerate("0123456789abcdef"))
    return f"(CASE {sub_expr} {cases} END)"
