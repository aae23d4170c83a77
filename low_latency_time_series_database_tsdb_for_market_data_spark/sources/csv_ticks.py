"""CSV tick source with the reference importer's exact row semantics.

The reference importer (`cli.cpp:140-207`) tokenizes each line on ',' and:
  * skips the first line iff it contains the substring "timestamp";
  * drops rows with fewer than 3 tokens (warns);
  * drops rows whose first three tokens fail numeric parse (warns);
  * IGNORES extra tokens beyond the third (verified: a 4-field row imports).

Spark's csv reader with mode=DROPMALFORMED drops rows with *extra* tokens,
which diverges from the reference (FIXTURES.md#F2 expects the 4-field row to
survive), so this source is built from text + split + try_cast — all
JVM-side built-in expressions, no Python UDFs.  Unparseable lines (including
any header) fall out naturally because try_cast yields NULL.

At 100 TB scale this is a plain distributed text scan: no shuffle, no
driver-side parsing, one codegen stage per file split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_tick_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read `timestamp,price,volume` CSV -> (ts BIGINT, price DOUBLE,
    volume BIGINT), reproducing the reference's keep/drop decisions.

    Unlike the reference, the reported count is the number of rows actually
    imported (the reference misprints lines-read, `cli.cpp:206`).
    """
    lines = spark.read.text(path)
    toks = lines.select(F.split(F.col("value"), ",").alias("t"))
    # get() is NULL past the end of a short row, where t[i] raises under
    # ANSI mode once the row's leading tokens parse
    parsed = toks.select(
        F.trim(F.get("t", 0)).try_cast("bigint").alias("ts"),
        F.trim(F.get("t", 1)).try_cast("double").alias("price"),
        F.trim(F.get("t", 2)).try_cast("bigint").alias("volume"),
    )
    return parsed.where(
        F.col("ts").isNotNull()
        & F.col("price").isNotNull()
        & F.col("volume").isNotNull()
    )
