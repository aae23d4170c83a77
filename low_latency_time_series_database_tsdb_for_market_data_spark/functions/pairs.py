"""In-set pair generation and its capped bucket sets: the one shape every
pair search in the engine shares (near-dup dedup, q91's source overlap,
q197's co-purchase pairs).

Instead of a self-join on the bucket key, each bucket collapses to its
sorted distinct member array in one shuffle, and two chained codegen
generates emit the ordered pairs inside it.  Where bucket sizes depend
on the data (near-dup buckets), a row_number below the set-building
aggregate caps every array first, and a strict caller pins the capped
sets and fails loudly if any bucket reached the cap: a truncated bucket
would silently drop pairs that the uncapped DuckDB oracle keeps.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def in_set_pairs(df: DataFrame, arr: str, a: str, b: str) -> DataFrame:
    """(a, b) for every ordered pair of elements of the sorted, distinct
    array column ``arr``, so a < b: C(n, 2) rows per n-element array,
    none for an array of fewer than two.  posexplode gives each element
    with its position i, and explode of ``slice(arr, i + 2, size)``
    pairs it with every later element."""
    return df.select(F.posexplode(arr).alias("__i", a), arr).select(
        a, F.explode(F.slice(arr, F.col("__i") + 2, F.size(arr))).alias(b)
    )


def capped_bucket_sets(rows: DataFrame, keys: list[str], item: Column,
                       cap: int) -> DataFrame:
    """(keys..., ds, max_rn): per bucket of ``rows`` (one row per doc,
    keyed by ``keys``), ``ds`` = sort_array(collect_set(item)) over the
    ``cap`` smallest doc_ids and ``max_rn`` the number of members kept;
    buckets of one member are dropped.  The row_number shares the
    aggregate's partitioning, so the cap costs no extra shuffle and the
    per-bucket array is bounded before it is built."""
    w = Window.partitionBy(*keys).orderBy("doc_id")
    return (
        rows.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= cap)
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_set(item)).alias("ds"),
             F.max("rn").alias("max_rn"))
        .where(F.size("ds") > 1)
    )


def pin_under_cap(
    frame: DataFrame,
    cap: int,
    who: str,
    remedy: str,
    sizes: Callable[[DataFrame], DataFrame] = lambda f: f.select("max_rn"),
) -> DataFrame:
    """``frame`` pinned by a lazy localCheckpoint, then the largest
    bucket size (``sizes(pinned)``'s one column; default its
    ``max_rn``) read by one aggregate over the pin.  With AQE on, the
    pin itself runs ``frame``'s shuffle and broadcast stages while it
    is built; the aggregate then materializes the narrow final stage
    into the pinned blocks as it reads the size.  Raises
    ``RuntimeError`` naming ``who`` when that size reaches ``cap``: a
    bucket of exactly ``cap`` members trips it too, since the capped
    sets cannot tell it from a truncated one."""
    pinned = frame.localCheckpoint(eager=False)
    s = sizes(pinned)
    peak = s.agg(F.max(s.columns[0])).collect()[0][0]
    if peak is not None and peak >= cap:
        raise RuntimeError(
            f"{who}: a bucket reached the per-bucket cap ({cap}); results "
            f"would silently diverge from the uncapped oracle.  {remedy}"
        )
    return pinned
