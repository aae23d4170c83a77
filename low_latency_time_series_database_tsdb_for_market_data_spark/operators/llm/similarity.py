"""Similarity search over the embeddings table (q51, q64).

Baseline: brute-force cosine top-k — a single scan with a JVM-side
zip_with/aggregate dot product (no Python UDF in the hot path) and a
TakeOrdered top-k (per-partition heaps, driver merge of k rows).

Scale path: LSH-bucketed ANN (q64) — 4-bit random-hyperplane signatures
derived deterministically from fixed reference vectors; the probe scans
only its own bucket.  At 100 TB the bucket assignment is a narrow map, the
per-bucket layout is a partitioned write, and queries touch 1/16th of data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ... import session_cache
from ...catalog import parquet_fingerprint, table
from ...registry import query

PROBE_VEC_ID = 0
TOP_K = 10


def _dbl(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _norm2(col: Column) -> Column:
    return F.aggregate(
        F.transform(col, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _d2(probe: list[float]) -> Column:
    """Squared L2 distance from the row's ``embedding`` to ``probe``, in
    double, summed left to right (the oracles' order)."""
    p = F.array(*[F.lit(float(x)) for x in probe])
    return F.aggregate(
        F.zip_with(_dbl(F.col("embedding")), p, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _nearest(vecs: DataFrame, probe: list[float], topk: int) -> DataFrame:
    """The exact top-k of ``vecs`` for ``probe``: (vec_id, d2) rows in
    ascending (d2, vec_id) order — every rerank's and every recall
    verdict's ground truth."""
    return (
        vecs.select("vec_id", _d2(probe).alias("d2"))
        .orderBy(F.asc("d2"), F.asc("vec_id"))
        .limit(topk)
    )


@query(
    "q51_similarity_topk",
    oracle=f"""
    WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = {PROBE_VEC_ID}),
    idx AS (SELECT unnest(range(1, 65)) AS i),
    dots AS (SELECT e.vec_id,
                    SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(p.p[i] AS DOUBLE)) AS dot,
                    SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) AS nn,
                    SUM(CAST(p.p[i] AS DOUBLE) * CAST(p.p[i] AS DOUBLE)) AS np
             FROM embeddings e, probe p, idx
             GROUP BY e.vec_id)
    SELECT vec_id, ROUND(dot / sqrt(nn * np), 4) AS cos
    FROM dots WHERE vec_id <> {PROBE_VEC_ID}
    ORDER BY dot / sqrt(nn * np) DESC, vec_id
    LIMIT {TOP_K}
    """,
    category="llm-similarity",
)
def q51_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the probe vector (vec_id=0): the
    exact baseline every ANN variant is judged against."""
    e = table(spark, sf_dir, "embeddings")
    probe = F.broadcast(
        e.where(F.col("vec_id") == PROBE_VEC_ID).select(
            _dbl(F.col("embedding")).alias("p")
        )
    )
    cand = e.where(F.col("vec_id") != PROBE_VEC_ID).select(
        "vec_id", _dbl(F.col("embedding")).alias("v")
    )
    j = cand.join(probe)
    cos = _dot(F.col("v"), F.col("p")) / F.sqrt(_norm2(F.col("v")) * _norm2(F.col("p")))
    return (
        j.withColumn("cos_raw", cos)
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id", F.round("cos_raw", 4).alias("cos"))
    )


@query(
    "q64_ann_lsh_bucketed",
    # The full ANN pipeline IS SQL-expressible: signature bits are
    # float-sign decisions QUANTIZED to 1e-6 before the sign test on
    # BOTH sides (r7 ADVICE: a near-zero plane dot product could
    # otherwise flip a bit on one engine only — rounding first makes
    # every |dot| < 5e-7 deterministically non-negative on both);
    # accumulation order is the shared left-to-right one (q51
    # precedent), bucket algebra is integer.  Recall vs exact q51 is
    # additionally asserted in tests.
    oracle=f"""
    WITH planes AS (SELECT vec_id AS pid, embedding AS c
                    FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
    probe AS (SELECT embedding AS p FROM embeddings
              WHERE vec_id = {PROBE_VEC_ID}),
    idx AS (SELECT unnest(range(1, 65)) AS i),
    bits AS (SELECT e.vec_id, pl.pid,
                    CASE WHEN ROUND(SUM(CAST(e.embedding[i] AS DOUBLE)
                                        * CAST(pl.c[i] AS DOUBLE)), 6) >= 0
                         THEN 1 << (pl.pid - 1) ELSE 0 END AS bit
             FROM embeddings e, planes pl, idx
             WHERE e.vec_id <> {PROBE_VEC_ID}
             GROUP BY e.vec_id, pl.pid),
    buckets AS (SELECT vec_id, CAST(SUM(bit) AS BIGINT) AS bucket
                FROM bits GROUP BY vec_id),
    pbits AS (SELECT CAST(SUM(bit) AS BIGINT) AS pb FROM (
                SELECT pl.pid,
                       CASE WHEN ROUND(SUM(CAST(p.p[i] AS DOUBLE)
                                           * CAST(pl.c[i] AS DOUBLE)), 6) >= 0
                            THEN 1 << (pl.pid - 1) ELSE 0 END AS bit
                FROM probe p, planes pl, idx GROUP BY pl.pid)),
    allowed AS (SELECT xor(pb, m.m) AS bucket
                FROM pbits, (VALUES (0), (1), (2), (4), (8)) m(m)),
    dots AS (SELECT e.vec_id,
                    SUM(CAST(e.embedding[i] AS DOUBLE)
                        * CAST(p.p[i] AS DOUBLE)) AS dot,
                    SUM(CAST(e.embedding[i] AS DOUBLE)
                        * CAST(e.embedding[i] AS DOUBLE)) AS nn,
                    SUM(CAST(p.p[i] AS DOUBLE)
                        * CAST(p.p[i] AS DOUBLE)) AS np
             FROM embeddings e, probe p, idx
             WHERE e.vec_id <> {PROBE_VEC_ID} GROUP BY e.vec_id)
    SELECT d.vec_id, ROUND(d.dot / sqrt(d.nn * d.np), 4) AS cos
    FROM dots d
    JOIN buckets b USING (vec_id)
    JOIN allowed a ON a.bucket = b.bucket
    ORDER BY d.dot / sqrt(d.nn * d.np) DESC, d.vec_id
    LIMIT {TOP_K}
    """,
    category="llm-similarity",
)
def q64_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate nearest neighbours for the probe.

    Hyperplanes = the 4 embeddings with the smallest vec_ids > 0 (fixed,
    deterministic).  Every vector gets a 4-bit signature (sign of dot with
    each hyperplane); the probe multi-probes its own bucket plus the four
    Hamming-1 neighbours (5/16 of the data instead of 1/16 — the standard
    recall/cost knob).  Returns the probed cosine top-10 — tests assert
    overlap vs the exact q51 answer (recall), the honest check for ANN.
    """
    e = table(spark, sf_dir, "embeddings")
    # hyperplanes + probe are tiny fixed model state: collect once on the
    # driver (the moral equivalent of broadcasting an ANN index's
    # centroids) so bucket assignment is a pure narrow map — no join, no
    # shuffle, regardless of table size
    model = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in e.where(F.col("vec_id").between(0, 4)).collect()
    }
    probe_v = model[PROBE_VEC_ID]
    planes = [model[i] for i in (1, 2, 3, 4)]

    def lit_vec(vals: list[float]):
        return F.array(*[F.lit(x) for x in vals])

    vecs = e.where(F.col("vec_id") != PROBE_VEC_ID).select(
        "vec_id", _dbl(F.col("embedding")).alias("v")
    )
    # sign test quantized to 1e-6 on every side (Spark bits, the
    # driver-side probe bits, and the DuckDB oracle) — see the oracle
    # comment: near-zero dots must decide identically across engines
    bucket = None
    for i, plane in enumerate(planes):
        bit = F.when(
            F.round(_dot(F.col("v"), lit_vec(plane)), 6) >= 0, 1 << i
        ).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    signed = vecs.withColumn("bucket", bucket)

    probe_bits = sum(
        (1 << i)
        for i, plane in enumerate(planes)
        if round(sum(a * b for a, b in zip(probe_v, plane)), 6) >= 0
    )
    probe_buckets = [probe_bits ^ m for m in (0, 1, 2, 4, 8)]  # multi-probe

    p = lit_vec(probe_v)
    probe_norm = sum(x * x for x in probe_v)
    cos = _dot(F.col("v"), p) / F.sqrt(_norm2(F.col("v")) * F.lit(probe_norm))
    return (
        signed.where(F.col("bucket").isin(probe_buckets))
        .withColumn("cos_raw", cos)
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id", F.round("cos_raw", 4).alias("cos"))
    )


@query(
    "q67_embed_quantize",
    oracle="""
    WITH q AS (SELECT vec_id, label,
                      list_max(list_transform(embedding,
                                              x -> abs(CAST(x AS DOUBLE))))
                        / 127.0 AS scale,
                      CAST(round(CAST(embedding[1] AS DOUBLE)
                                 / (list_max(list_transform(embedding,
                                        x -> abs(CAST(x AS DOUBLE)))) / 127.0))
                           AS BIGINT) AS q0
               FROM embeddings)
    SELECT CAST(label AS BIGINT) AS label,
           ROUND(SUM(CAST(round(scale * 1000000000) AS BIGINT))
                 / 1e9 / COUNT(*), 6) AS avg_scale,
           CAST(SUM(q0) AS BIGINT) AS sum_q0, COUNT(*) AS n
    FROM q GROUP BY 1
    """,
    category="llm-similarity",
)
def q67_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (symmetric absmax: scale = max|x|/127,
    q_i = round(x_i/scale)) — the storage/bandwidth step before ANN at
    100 TB (4x smaller vectors, SIMD-friendly int dot products).  All
    in-row JVM array ops (transform/array_max), zero Python; verified by
    per-label aggregates of the quantized values.  The scale average is
    summed as nano-units so the check is order-independent."""
    e = table(spark, sf_dir, "embeddings")
    v = _dbl(F.col("embedding"))
    scale = F.array_max(F.transform(v, F.abs)) / 127.0
    q0 = F.round(F.element_at(v, 1) / scale).cast("bigint")
    q = e.select(
        F.col("label").cast("bigint").alias("label"),
        scale.alias("scale"),
        q0.alias("q0"),
    )
    return q.groupBy("label").agg(
        F.round(
            F.sum(F.round(F.col("scale") * 1e9).cast("bigint"))
            / 1e9
            / F.count(F.lit(1)),
            6,
        ).alias("avg_scale"),
        F.sum("q0").alias("sum_q0"),
        F.count(F.lit(1)).alias("n"),
    )


def train_centroids(
    vecs: DataFrame, k: int, iters: int = 5, seed_count: int | None = None
) -> list[list[float]]:
    """Lloyd's k-means for the IVF coarse quantizer, as DataFrame ops.

    Init = the k embeddings with the smallest vec_ids (deterministic —
    no RNG, so training is reproducible run-to-run, the property every
    oracle-checked consumer needs).  Each round: assign every vector to
    its nearest centroid with the same narrow-map argmin q65 uses
    (centroids ride along as literal arrays — the broadcast-a-model
    pattern, no join), then recompute means with ONE hash-agg via
    per-dimension posexplode.  Centroids come back to the driver each
    round (k x dim floats — KBs), everything row-scale stays on
    executors.  At 100 TB this is exactly mini-batch-free Lloyd's with
    per-round cost = one narrow pass + one shuffle of k x dim partial
    sums per partition.

    Returns the trained centroids (list of k dim-length float lists).
    """
    vecs = vecs.select("vec_id", _dbl(F.col("embedding")).alias("v"))
    first = vecs.orderBy("vec_id").limit(seed_count or k).collect()
    cents = [list(r["v"]) for r in first[:k]]

    def lit_vec(vals: list[float]):
        return F.array(*[F.lit(x) for x in vals])

    for _ in range(iters):
        scored = [
            F.struct(
                (
                    F.lit(sum(x * x for x in c)) - 2.0 * _dot(F.col("v"), lit_vec(c))
                ).alias("score"),
                F.lit(i).alias("idx"),
            )
            for i, c in enumerate(cents)
        ]
        assigned = vecs.withColumn(
            "centroid", F.array_min(F.array(*scored))["idx"]
        )
        sums = (
            assigned.select("centroid", F.posexplode("v").alias("dim", "x"))
            .groupBy("centroid", "dim")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_c: dict[int, dict[int, float]] = {}
        counts: dict[int, int] = {}
        for r in sums:
            by_c.setdefault(r["centroid"], {})[r["dim"]] = r["s"]
            counts[r["centroid"]] = r["n"]
        dim = len(cents[0])
        cents = [
            [by_c[i][d] / counts[i] for d in range(dim)]
            if i in by_c
            else cents[i]  # empty cluster keeps its old position
            for i in range(k)
        ]
    return cents


N_CENTROIDS = 8
N_PROBE = 2


@query(
    "q65_ann_ivf",
    # IVF assignment is deterministic arithmetic end-to-end: centroid
    # scores use the same accumulation order both engines share (q51
    # precedent), argmin ties break on (score, centroid index) exactly
    # like Spark's array_min over (score, idx) structs, probe-list
    # selection mirrors Python's stable sort by distance.  Recall vs
    # exact q51 is additionally asserted in tests — that recall test is
    # the PRIMARY correctness check (r7 ADVICE): the oracle's argmin
    # hinges on double accumulation agreeing bit-for-bit across
    # engines, which holds on this fixture (verified EXACT at
    # sf0.001/0.01/0.1) but is fixture-tied by nature — two centroids
    # exactly equidistant from a vector at some other SF could assign
    # differently without either engine being wrong.
    oracle=f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS c
                   FROM embeddings
                   WHERE vec_id BETWEEN 1 AND {N_CENTROIDS}),
    probe AS (SELECT embedding AS p FROM embeddings
              WHERE vec_id = {PROBE_VEC_ID}),
    idx AS (SELECT unnest(range(1, 65)) AS i),
    cstats AS (SELECT cid, SUM(CAST(c[i] AS DOUBLE)
                              * CAST(c[i] AS DOUBLE)) AS cnorm
               FROM cents, idx GROUP BY cid),
    scores AS (SELECT e.vec_id, ct.cid,
                      MAX(cs.cnorm)
                        - 2.0 * SUM(CAST(e.embedding[i] AS DOUBLE)
                                    * CAST(ct.c[i] AS DOUBLE)) AS score
               FROM embeddings e, cents ct, idx, cstats cs
               WHERE cs.cid = ct.cid AND e.vec_id <> {PROBE_VEC_ID}
               GROUP BY e.vec_id, ct.cid),
    assigned AS (SELECT vec_id, cid - 1 AS centroid
                 FROM (SELECT vec_id, cid,
                              ROW_NUMBER() OVER (PARTITION BY vec_id
                                                 ORDER BY score, cid) AS rn
                       FROM scores)
                 WHERE rn = 1),
    pd AS (SELECT ct.cid,
                  SUM((CAST(ct.c[i] AS DOUBLE) - CAST(p.p[i] AS DOUBLE))
                      * (CAST(ct.c[i] AS DOUBLE)
                         - CAST(p.p[i] AS DOUBLE))) AS d2
           FROM cents ct, probe p, idx GROUP BY ct.cid),
    plist AS (SELECT cid - 1 AS centroid FROM pd
              ORDER BY d2, cid LIMIT {N_PROBE}),
    dots AS (SELECT e.vec_id,
                    SUM(CAST(e.embedding[i] AS DOUBLE)
                        * CAST(p.p[i] AS DOUBLE)) AS dot,
                    SUM(CAST(e.embedding[i] AS DOUBLE)
                        * CAST(e.embedding[i] AS DOUBLE)) AS nn,
                    SUM(CAST(p.p[i] AS DOUBLE)
                        * CAST(p.p[i] AS DOUBLE)) AS np
             FROM embeddings e, probe p, idx
             WHERE e.vec_id <> {PROBE_VEC_ID} GROUP BY e.vec_id)
    SELECT d.vec_id, ROUND(d.dot / sqrt(d.nn * d.np), 4) AS cos
    FROM dots d
    JOIN assigned a ON a.vec_id = d.vec_id
    JOIN plist pl ON pl.centroid = a.centroid
    ORDER BY d.dot / sqrt(d.nn * d.np) DESC, d.vec_id
    LIMIT {TOP_K}
    """,
    category="llm-similarity",
)
def q65_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest neighbours.

    Coarse quantizer = the 8 embeddings with vec_ids 1..8 (fixed,
    deterministic — a real deployment trains k-means centroids; the
    partition/probe mechanics are identical).  Every vector is assigned
    to its nearest centroid by a pure narrow map (argmin over literal
    centroid arrays via array_min of (score, idx) structs — no join, no
    shuffle); the probe scans only its N_PROBE nearest inverted lists,
    i.e. ~N_PROBE/N_CENTROIDS of the data.  At 100 TB the assignment is
    the partition key of the layout (`partitionBy(centroid)`), making
    each query a partition-pruned scan."""
    e = table(spark, sf_dir, "embeddings")
    model = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in e.where(
            (F.col("vec_id") >= 0) & (F.col("vec_id") <= N_CENTROIDS)
        ).collect()
    }
    probe_v = model[PROBE_VEC_ID]
    centroids = [model[i] for i in range(1, N_CENTROIDS + 1)]

    def lit_vec(vals):
        return F.array(*[F.lit(x) for x in vals])

    vecs = e.where(F.col("vec_id") != PROBE_VEC_ID).select(
        "vec_id", "embedding", _dbl(F.col("embedding")).alias("v")
    )
    # argmin_c ||v - c||^2 == argmin_c (||c||^2 - 2 v.c); ||v||^2 constant
    scored = [
        F.struct(
            (
                F.lit(sum(x * x for x in c)) - 2.0 * _dot(F.col("v"), lit_vec(c))
            ).alias("score"),
            F.lit(i).alias("idx"),
        )
        for i, c in enumerate(centroids)
    ]
    assigned = vecs.withColumn("centroid", F.array_min(F.array(*scored))["idx"])
    return ivf_search(assigned, centroids, probe_v, N_PROBE)


def ivf_index(
    vecs: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """Assign every (vec_id, embedding) row to its nearest centroid —
    the IVF build pass, Arrow-batched: the centroid matrix broadcasts
    inside the closure and each batch runs ONE numpy matmul
    (argmin_c ||v-c||² == argmin_c (||c||² − 2 v·c); first-occurrence
    ties).  Measured at 1M x 64-dim vectors / k=64: 3.4 s (292 k vec/s)
    vs 27 s for the same argmin as JVM literal-array expressions — the
    k-crossover rule of thumb: literal arrays for single-digit k (q65's
    8 centroids), this path from k ≈ 64 up (BASELINE.md round-6 notes).

    Returns (vec_id, embedding, centroid).  At 100 TB the result is
    written `partitionBy(centroid)` so probes are partition-pruned
    scans."""
    import numpy as np

    cmat = np.array(centroids, dtype=np.float64)
    csq = (cmat * cmat).sum(axis=1)

    def assign(batches):
        for pdf in batches:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            d = csq[None, :] - 2.0 * (m @ cmat.T)
            out = pdf[["vec_id", "embedding"]].copy()
            out["centroid"] = d.argmin(axis=1).astype("int64")
            yield out

    return vecs.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id bigint, embedding array<float>, centroid bigint"
    )


def ivf_search(
    indexed: DataFrame,
    centroids: list[list[float]],
    probe: list[float],
    nprobe: int,
    topk: int = TOP_K,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Top-k cosine neighbours of `probe` over an `ivf_index`-ed table,
    scanning only the nprobe nearest inverted lists (~nprobe/k of the
    data; with a partitionBy(centroid) layout, partition-pruned).  The
    in-list scoring is the q51 JVM dot product; top-k compiles to
    TakeOrderedAndProject.  Approximate by design — recall governed by
    nprobe/k, checked against exact search in tests."""
    lists = ivf_probe_lists(centroids, probe, nprobe)
    p = F.array(*[F.lit(float(x)) for x in probe])
    pnorm = float(sum(x * x for x in probe))
    hits = indexed.where(F.col("centroid").isin(lists))
    if exclude_vec_id is not None:
        hits = hits.where(F.col("vec_id") != exclude_vec_id)
    v = _dbl(F.col("embedding"))
    cos = _dot(v, p) / F.sqrt(_norm2(v) * F.lit(pnorm))
    return (
        hits.withColumn("cos_raw", cos)
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(topk)
        .select("vec_id", F.round("cos_raw", 4).alias("cos"))
    )


# ---------------------------------------------------------------------------
# Product quantization (round 8): the memory side of the ANN scale story.
# IVF (above) prunes WHICH vectors a probe scans; PQ compresses WHAT is
# scanned — m sub-codebooks of k centroids turn a 64-dim float vector
# (256 B) into m small codes (m bytes at k <= 256), a 16-32x reduction
# that decides whether a 100 TB embedding corpus fits the cluster's RAM.
# Public-knowledge design (Jegou et al., "Product Quantization for
# Nearest Neighbor Search", PAMI 2011): split dims into m subspaces,
# k-means each, encode = per-subspace argmin, search = asymmetric
# distance (ADC) via a per-probe lookup table.  No reference analogue
# (the reference has no vector surface); extends SURVEY §2.4's
# ivf_index/ivf_search scale path.
# ---------------------------------------------------------------------------


def pq_train(
    vecs: DataFrame,
    m: int = 16,
    k: int = 16,
    iters: int = 10,
    sample: int = 65_536,
) -> list[list[list[float]]]:
    """Train m per-subspace codebooks of k centroids each.

    Deterministic end to end: the training sample is the `sample`
    smallest vec_ids (no RNG), init is the first k rows of each
    subspace, and Lloyd's runs a fixed `iters` rounds in numpy on the
    driver — model fitting happens on a bounded sample (KBs-MBs)
    exactly like train_centroids' driver-side means; only ENCODING
    (below) touches the full corpus.  Empty clusters keep their old
    position (the train_centroids rule).

    Returns codebooks[m][k][dim/m]."""
    import numpy as np

    rows = (
        vecs.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(sample)
        .collect()
    )
    x = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    return _pq_lloyd(x, m, k, iters)


def _pq_lloyd(x, m: int, k: int, iters: int) -> list[list[list[float]]]:
    """Per-subspace Lloyd's over an in-memory (n, dim) sample — the
    shared training loop behind pq_train (raw vectors) and ivfpq_train
    (coarse residuals).  Deterministic: first-k init, fixed iters,
    empty clusters keep their old position."""
    n, dim = x.shape
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        c = xs[:k].copy()
        for _ in range(iters):
            # matmul form of ||x-c||^2 (argmin-invariant): n x k, never
            # the n x k x sub broadcast cube — k=256 training at 65k
            # samples stays in MBs
            d = (c * c).sum(axis=1)[None, :] - 2.0 * (xs @ c.T)
            a = d.argmin(axis=1)
            for ci in range(k):
                mask = a == ci
                if mask.any():
                    c[ci] = xs[mask].mean(axis=0)
        books.append(c.tolist())
    return books


def pq_encode(vecs: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """Encode every (vec_id, embedding) row to its m-byte PQ code —
    Arrow-batched, one numpy distance matrix per (batch, subspace), no
    shuffle (a pure narrow map like ivf_index; at 100 TB this is the
    one full pass that writes the compressed copy).

    Returns (vec_id, code array<smallint>) — smallint holds k <= 256
    with headroom; the storage story is bytes-per-code, metered in
    tests via the m x log2(k) arithmetic, not the test-side dtype."""
    import numpy as np

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    sub = books[0].shape[1]

    def encode(batches):
        for pdf in batches:
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            codes = np.empty((x.shape[0], m), dtype=np.int16)
            for j, c in enumerate(books):
                xs = x[:, j * sub : (j + 1) * sub]
                d = (c * c).sum(axis=1)[None, :] - 2.0 * (xs @ c.T)
                codes[:, j] = d.argmin(axis=1).astype(np.int16)
            out = pdf[["vec_id"]].copy()
            out["code"] = list(codes)
            yield out

    return vecs.select("vec_id", "embedding").mapInPandas(
        encode, "vec_id bigint, code array<smallint>"
    )


def pq_search(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    probe: list[float],
    topk: int = TOP_K,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Approximate top-k nearest neighbours (squared-L2) of `probe`
    over a pq_encode'd table via asymmetric distance (ADC): the
    per-subspace lookup table ||p_j - c_jk||^2 is built ONCE on the
    driver (m x k floats), broadcast in the closure, and each Arrow
    batch scores rows with numpy fancy-indexing — the scan reads only
    the m-byte codes, never the original vectors.  Approximate by
    design; recall vs exact search is asserted in tests.

    Returns (vec_id, adist) rows, ascending approximate distance with
    vec_id tie-break via TakeOrdered (per-partition heaps)."""
    import numpy as np

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    sub = books[0].shape[1]
    p = np.asarray(probe, dtype=np.float64)
    lut = np.stack(
        [
            ((books[j] - p[j * sub : (j + 1) * sub][None, :]) ** 2).sum(axis=1)
            for j in range(m)
        ]
    )  # (m, k)

    def score(batches):
        for pdf in batches:
            c = np.stack(pdf["code"].to_numpy()).astype(np.int64)
            d = lut[np.arange(m)[None, :], c].sum(axis=1)
            out = pdf[["vec_id"]].copy()
            out["adist"] = d
            yield out

    scored = codes.mapInPandas(score, "vec_id bigint, adist double")
    if exclude_vec_id is not None:
        scored = scored.where(F.col("vec_id") != exclude_vec_id)
    return (
        scored.orderBy(F.asc("adist"), F.asc("vec_id"))
        .limit(topk)
        .select("vec_id", F.round("adist", 6).alias("adist"))
    )


def pq_search_rerank(
    codes: DataFrame,
    vecs: DataFrame,
    codebooks: list[list[list[float]]],
    probe: list[float],
    topk: int = TOP_K,
    shortlist: int = 100,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """The deployed PQ pipeline: ADC over the compressed codes produces
    a `shortlist` of candidates (reading m bytes/vector), then ONLY
    those rows' original vectors are fetched and re-ranked by exact
    squared L2 — recall approaches exact search while the full-corpus
    scan still never touches a float vector.  The candidate set is a
    driver-side list of <= `shortlist` ids (KBs), pushed into the
    vector fetch as an isin filter — at 100 TB that fetch is an
    id-pruned point lookup, not a scan."""
    cand = pq_search(
        codes, codebooks, probe, topk=shortlist, exclude_vec_id=exclude_vec_id
    )
    return _rerank(vecs, cand, probe, topk)


def _rerank(
    vecs: DataFrame, cand: DataFrame, probe: list[float], topk: int
) -> DataFrame:
    """Exact squared-L2 top-k of ``probe`` over only the rows of
    ``vecs`` whose ids ``cand`` shortlists (collected to the driver, an
    id-pruned fetch): (vec_id, dist) rows, dist rounded to 6 places."""
    ids = [r["vec_id"] for r in cand.collect()]
    return _nearest(vecs.where(F.col("vec_id").isin(ids)), probe, topk).select(
        "vec_id", F.round("d2", 6).alias("dist")
    )


@query(
    "q204_pq_recall_verdict",
    # The q185/q166 verdict pattern for the PQ pipeline (r8 verdict
    # item #2): the oracle states the contract — the corpus size, the
    # EXACT nearest neighbour (recomputed by brute force in SQL, the
    # q51 unnest trick), and pq_ok = 1.  Spark runs the real
    # train -> encode -> ADC -> exact-rerank pipeline and emits
    # pq_ok = (recall@10 >= 0.9); a broken codebook, encoder, LUT, or
    # rerank drops the overlap and fails the driver hash.  The recall
    # number itself stays engine-private (DuckDB cannot run PQ).
    oracle=f"""
    WITH probe AS (SELECT embedding AS p FROM embeddings
                   WHERE vec_id = {PROBE_VEC_ID}),
    idx AS (SELECT unnest(range(1, 65)) AS i),
    d AS (SELECT e.vec_id,
                 SUM((CAST(e.embedding[i] AS DOUBLE)
                        - CAST(p.p[i] AS DOUBLE))
                     * (CAST(e.embedding[i] AS DOUBLE)
                        - CAST(p.p[i] AS DOUBLE))) AS d2
          FROM embeddings e, probe p, idx
          WHERE e.vec_id <> {PROBE_VEC_ID}
          GROUP BY e.vec_id)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vectors,
           (SELECT vec_id FROM d ORDER BY d2, vec_id LIMIT 1) AS top1_exact,
           CAST(1 AS BIGINT) AS pq_ok
    """,
    category="llm-similarity",
)
def q204_pq_recall_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization made driver-visible: train 16x16 codebooks
    on the (deterministic, RNG-free) id-ordered sample, encode the
    whole embeddings table to 16-byte codes, ADC-score a 100-candidate
    shortlist for the q51 probe, exact-rerank it, and emit the 1-row
    verdict (n_vectors, exact top-1 id, recall@10 >= 0.9).  Everything
    in the output row is integer, and the exact top-1 is independently
    recomputed by the DuckDB oracle — the PQ stages can only influence
    the row through pq_ok, which is precisely the claim under test.

    Scale: the pipeline is the soaked 10M-vector one (BASELINE.md "PQ
    at 10M"): training is a bounded driver-side sample, encoding the
    one full Arrow-batched pass, search reads 16 bytes/vector, rerank
    fetches <= 100 original vectors by id.

    The probe, corpus count and exact top-10 come from
    :func:`_verdict_truth` (shared with q245/q249/q253 per session);
    this query trains no IVF centroids."""
    e = table(spark, sf_dir, "embeddings")
    t = _verdict_truth(spark, sf_dir)
    books = pq_train(e, m=16, k=16, iters=4, sample=4096)
    approx = pq_search_rerank(
        pq_encode(e, books), e, books, t["probe"],
        topk=TOP_K, shortlist=100, exclude_vec_id=PROBE_VEC_ID,
    )
    return spark.createDataFrame(
        [(t["n_vectors"], t["exact_ids"][0], _recall_ok(t["exact_ids"], approx))],
        "n_vectors bigint, top1_exact bigint, pq_ok bigint",
    )


# ---------------------------------------------------------------------------
# IVF+PQ composite (round 11, r10 verdict item #7): the standard IVFPQ
# shape — IVF coarse lists prune WHICH vectors a probe scans, PQ codes
# over the COARSE RESIDUAL (v - centroid) compress WHAT is scanned
# (Jegou et al. 2011, §IV: residual quantization beats raw-vector PQ
# because the residual distribution is tighter than the corpus's).
# Both halves already exist above; these compose them into one index
# build (single Arrow pass), one ADC search over the probed lists only,
# and the deployed shortlist->exact-rerank pipeline.
# ---------------------------------------------------------------------------


def ivfpq_train(
    vecs: DataFrame,
    centroids: list[list[float]],
    m: int = 16,
    k: int = 16,
    iters: int = 10,
    sample: int = 65_536,
) -> list[list[list[float]]]:
    """Train PQ codebooks on the COARSE RESIDUALS of a deterministic
    id-ordered sample: assign each sample vector to its nearest IVF
    centroid (numpy argmin, first-occurrence ties — the ivf_index
    rule), subtract, then run the shared per-subspace Lloyd loop.
    Driver-side on a bounded sample like pq_train; only the index
    build below touches the full corpus."""
    import numpy as np

    rows = (
        vecs.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(sample)
        .collect()
    )
    x = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    cmat = np.array(centroids, dtype=np.float64)
    csq = (cmat * cmat).sum(axis=1)
    a = (csq[None, :] - 2.0 * (x @ cmat.T)).argmin(axis=1)
    return _pq_lloyd(x - cmat[a], m, k, iters)


def ivfpq_index(
    vecs: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """ONE Arrow-batched narrow map producing the composite index row
    (vec_id, centroid, code): nearest coarse centroid, then the PQ code
    of the residual v - centroid.  No shuffle — at 100 TB the result is
    written partitionBy(centroid) so searches are partition-pruned
    scans of m-byte codes.  The centroid matrix and codebooks broadcast
    inside the closure (k x dim + m x k x sub floats, KBs).

    ``extra_cols`` carries metadata columns (label, source, ts buckets)
    INTO the index rows — the filtered-ANN layout (round-12 verdict
    item #5): a composite "metadata predicate + vector" query then
    filters those columns inside the partition-pruned scan itself
    (parquet pushdown on the probed lists' files), never joining back
    to the corpus before scoring."""
    import numpy as np

    cmat = np.array(centroids, dtype=np.float64)
    csq = (cmat * cmat).sum(axis=1)
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    sub = books[0].shape[1]
    extra_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in vecs.schema
        if f.name in extra_cols
    )

    def assign_encode(batches):
        for pdf in batches:
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            a = (csq[None, :] - 2.0 * (x @ cmat.T)).argmin(axis=1)
            r = x - cmat[a]
            codes = np.empty((x.shape[0], m), dtype=np.int16)
            for j, c in enumerate(books):
                rs = r[:, j * sub : (j + 1) * sub]
                d = (c * c).sum(axis=1)[None, :] - 2.0 * (rs @ c.T)
                codes[:, j] = d.argmin(axis=1).astype(np.int16)
            out = pdf[["vec_id"]].copy()
            out["centroid"] = a.astype("int64")
            out["code"] = list(codes)
            for c in extra_cols:
                out[c] = pdf[c]
            yield out

    return vecs.select("vec_id", "embedding", *extra_cols).mapInPandas(
        assign_encode,
        "vec_id bigint, centroid bigint, code array<smallint>"
        + extra_schema,
    )


def ivf_probe_lists(
    centroids: list[list[float]], probe: list[float], nprobe: int
) -> list[int]:
    """The nprobe nearest coarse lists to a probe vector (squared L2,
    index tie-break) — the driver-side list-selection step shared by
    every IVF-family search (q65's included) and by the
    partition-pruned persisted-index probe (q249, q253)."""
    import numpy as np

    cmat = np.array(centroids, dtype=np.float64)
    p = np.asarray(probe, dtype=np.float64)
    pd2 = ((cmat - p[None, :]) ** 2).sum(axis=1)
    return sorted(range(len(centroids)), key=lambda i: (pd2[i], i))[:nprobe]


def write_ivfpq_index(indexed: DataFrame, path: str) -> None:
    """Persist an :func:`ivfpq_index` frame ``partitionBy(centroid)``
    — the deployment layout the build-pass docstrings promise: each
    coarse list is its own directory of m-byte code rows, so a probe's
    ``centroid IN (lists)`` filter becomes PARTITION PRUNING at the
    file index (the scan never opens, lists, or reads the other
    k - nprobe lists' files).  The plan contract is pinned in
    tests/test_plan_contracts.py (PartitionFilters on the scan, no
    post-scan centroid filter) and made driver-visible by q249."""
    indexed.write.mode("overwrite").partitionBy("centroid").parquet(path)


def read_ivfpq_index(
    spark: SparkSession, path: str, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Open a persisted IVFPQ index.  The partition column comes back
    as ``centroid`` (directory-derived); cast to bigint so the frame
    is schema-identical to the in-memory :func:`ivfpq_index` output.
    ``extra_cols`` re-selects metadata columns written into the index
    rows (the filtered-ANN layout)."""
    df = spark.read.parquet(path)
    return df.select(
        "vec_id",
        F.col("centroid").cast("bigint").alias("centroid"),
        "code",
        *extra_cols,
    )


def ivfpq_search(
    indexed: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    probe: list[float],
    nprobe: int,
    topk: int = TOP_K,
    exclude_vec_id: int | None = None,
    prefilter=None,
) -> DataFrame:
    """Approximate top-k (squared L2) over an ivfpq_index'ed table:
    pick the nprobe nearest coarse lists on the driver, build ONE ADC
    lookup table PER PROBED LIST from the probe's residual against that
    list's centroid (nprobe x m x k floats — KBs, broadcast in the
    closure), filter the scan to the probed lists (partition-pruned
    under a partitionBy(centroid) layout), and score each Arrow batch
    with numpy fancy-indexing over the m-byte codes.  Returns
    (vec_id, adist) ascending with vec_id tie-break via TakeOrdered.
    Approximate by design — recall governed by nprobe and the residual
    codebook resolution, asserted vs exact search in tests and the
    q245 verdict.

    ``prefilter`` (a boolean Column over index columns, e.g.
    ``F.col("label") == 3``) composes a metadata predicate INTO the
    probed scan: under the persisted layout it lands as a parquet
    PushedFilter on the pruned lists' files, so a filtered ANN query
    reads only matching rows of only the probed lists — widen nprobe
    to hold recall, since qualifying neighbours spread over more
    lists."""
    import numpy as np

    cmat = np.array(centroids, dtype=np.float64)
    p = np.asarray(probe, dtype=np.float64)
    lists = ivf_probe_lists(centroids, probe, nprobe)
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    sub = books[0].shape[1]
    luts = {}
    for li in lists:
        r = p - cmat[li]
        luts[li] = np.stack(
            [
                ((books[j] - r[j * sub : (j + 1) * sub][None, :]) ** 2)
                .sum(axis=1)
                for j in range(m)
            ]
        )  # (m, k)

    def score(batches):
        ar = np.arange(m)[None, :]
        for pdf in batches:
            c = np.stack(pdf["code"].to_numpy()).astype(np.int64)
            cent = pdf["centroid"].to_numpy()
            d = np.empty(len(pdf), dtype=np.float64)
            for li in np.unique(cent):
                mask = cent == li
                d[mask] = luts[int(li)][ar, c[mask]].sum(axis=1)
            out = pdf[["vec_id"]].copy()
            out["adist"] = d
            yield out

    hits = indexed.where(F.col("centroid").isin([int(i) for i in lists]))
    if prefilter is not None:
        hits = hits.where(prefilter)
    if exclude_vec_id is not None:
        hits = hits.where(F.col("vec_id") != exclude_vec_id)
    # prune to the scoring columns so metadata columns never ride the
    # Arrow transfer (they did their job inside the scan filter)
    scored = hits.select("vec_id", "centroid", "code").mapInPandas(
        score, "vec_id bigint, adist double"
    )
    return (
        scored.orderBy(F.asc("adist"), F.asc("vec_id"))
        .limit(topk)
        .select("vec_id", F.round("adist", 6).alias("adist"))
    )


def ivfpq_search_rerank(
    indexed: DataFrame,
    vecs: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    probe: list[float],
    nprobe: int,
    topk: int = TOP_K,
    shortlist: int = 100,
    exclude_vec_id: int | None = None,
    prefilter=None,
) -> DataFrame:
    """The deployed IVFPQ pipeline: ADC over the probed lists'
    compressed codes -> `shortlist` candidate ids (driver-side KBs) ->
    exact squared-L2 rerank over ONLY those rows' original vectors
    (id-pruned point fetch, never a scan) — pq_search_rerank's shape
    with the IVF pruning composed in front.  ``prefilter`` applies a
    metadata predicate inside the probed scan (see ivfpq_search); the
    rerank fetch needs no re-filter — every shortlisted id already
    satisfied it."""
    cand = ivfpq_search(
        indexed, centroids, codebooks, probe, nprobe,
        topk=shortlist, exclude_vec_id=exclude_vec_id,
        prefilter=prefilter,
    )
    return _rerank(vecs, cand, probe, topk)


# --- the recall verdicts' shared state.  q204, q245, q249 and q253 each
# check an approximate pipeline against the SAME exact answer for the
# q51 probe, and q245/q249/q253 run the SAME coarse k-means
# (k=N_CENTROIDS, iters=2, id-ordered deterministic init) and
# residual-PQ training (m=16, k=16, iters=4, sample=4096).  Both are
# pure deterministic functions of the embeddings table, so each is built
# once per (session, sf_dir) and kept in ``session_cache`` under the
# "verdict_model" kind, fingerprinted by the table's parquet file stats
# (a table regenerated in place rebuilds both): the ground truth
# (:func:`_verdict_truth`, read by all four) and the trained model
# (:func:`_verdict_model`, the truth plus the training, read by the IVF
# three).  That is compute dedup, not result reuse — each verdict still
# builds, probes and checks its OWN index; q253's label-filtered truth
# stays its own.  Ordinary registry queries keep their own plans, and a
# fresh process (every bench/oracle invocation) rebuilds from the
# parquet input.


def _exact_ids(vecs: DataFrame, probe: list[float]) -> list[int]:
    """The exact top-K ids of ``vecs`` for ``probe``, the probe's own
    row excluded."""
    cand = vecs.where(F.col("vec_id") != PROBE_VEC_ID)
    return [r["vec_id"] for r in _nearest(cand, probe, TOP_K).collect()]


def _verdict_truth(spark: SparkSession, sf_dir: str) -> dict:
    """The probe vector, the corpus count and the exact unfiltered
    top-K ids every recall verdict checks against (see the comment
    above)."""

    def build() -> dict:
        e = table(spark, sf_dir, "embeddings")
        probe = [
            float(x)
            for x in e.where(F.col("vec_id") == PROBE_VEC_ID)
            .select("embedding")
            .head()["embedding"]
        ]
        return {"probe": probe, "n_vectors": e.count(), "exact_ids": _exact_ids(e, probe)}

    return session_cache.get(spark, "verdict_model", (sf_dir, "truth"), build,
                             parquet_fingerprint(f"{sf_dir}/embeddings.parquet"))


def _verdict_model(spark: SparkSession, sf_dir: str) -> dict:
    """:func:`_verdict_truth` plus the trained coarse centroids
    (``cents``) and residual codebooks (``books``) the IVF-family
    verdicts share (see the comment above)."""

    def build() -> dict:
        e = table(spark, sf_dir, "embeddings")
        cents = train_centroids(e, k=N_CENTROIDS, iters=2)
        books = ivfpq_train(e, cents, m=16, k=16, iters=4, sample=4096)
        return {**_verdict_truth(spark, sf_dir), "cents": cents, "books": books}

    return session_cache.get(spark, "verdict_model", sf_dir, build,
                             parquet_fingerprint(f"{sf_dir}/embeddings.parquet"))


def _recall_ok(exact_ids: list[int], approx: DataFrame) -> int:
    """1 when ``approx`` holds at least 9 of the exact top-10 ids
    (recall@10 >= 0.9), else 0: every recall verdict's flag."""
    got = {r["vec_id"] for r in approx.collect()}
    return 1 if len(set(exact_ids) & got) * 10 >= 9 * TOP_K else 0


def _persisted_probe(
    spark: SparkSession,
    sf_dir: str,
    exact_ids: list[int],
    nprobe: int,
    extra_cols: tuple[str, ...] = (),
    prefilter=None,
) -> tuple[int, int, int]:
    """Probe the verdict model's index as deployed: build it with
    ``extra_cols`` in its rows, WRITE it ``partitionBy(centroid)`` to a
    temp dir, re-open it, and run the ADC -> exact-rerank pipeline over
    ``nprobe`` lists with ``prefilter`` inside the scan.  Returns
    (recall flag against ``exact_ids``, pruned_ok, pushed_ok), the two
    plan flags read off the probe's own scan: its PartitionFilters
    carry the centroid filter, and its PushedFilters name every extra
    column.  Everything is collected before the temp index is deleted,
    so nothing returned reads it."""
    import shutil
    import tempfile

    from ...plans.contracts import physical_plan

    e = table(spark, sf_dir, "embeddings")
    m = _verdict_model(spark, sf_dir)
    probe, cents, books = m["probe"], m["cents"], m["books"]
    tmp = tempfile.mkdtemp(prefix="ivfpq_index_")
    try:
        write_ivfpq_index(ivfpq_index(e, cents, books, extra_cols=extra_cols), tmp)
        persisted = read_ivfpq_index(spark, tmp, extra_cols=extra_cols)
        lists = ivf_probe_lists(cents, probe, nprobe)
        scan = persisted.where(F.col("centroid").isin([int(i) for i in lists]))
        if prefilter is not None:
            scan, e = scan.where(prefilter), e.where(prefilter)
        plan = physical_plan(scan)

        def listed(field: str) -> str:
            seg = plan.split(f"{field}: [", 1)
            return seg[1].split("]", 1)[0] if len(seg) == 2 else ""

        ok = _recall_ok(exact_ids, ivfpq_search_rerank(
            persisted, e, cents, books, probe,
            nprobe=nprobe, topk=TOP_K, shortlist=100,
            exclude_vec_id=PROBE_VEC_ID, prefilter=prefilter,
        ))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    pushed = listed("PushedFilters")
    return (ok, int("centroid#" in listed("PartitionFilters")),
            int(all(c in pushed for c in extra_cols)))


@query(
    "q245_ivfpq_recall_verdict",
    # q204's verdict pattern for the COMPOSITE index: the oracle states
    # the engine-independent contract (corpus size, the exact nearest
    # neighbour recomputed by brute force in SQL, ivfpq_ok = 1); Spark
    # runs the real coarse-train -> residual-PQ-train -> fused index ->
    # per-list ADC -> exact-rerank pipeline and emits
    # ivfpq_ok = (recall@10 >= 0.9) — a broken residual codebook,
    # fused encoder, per-list LUT, list pruning, or rerank drops the
    # overlap and fails the driver hash.
    oracle=f"""
    WITH probe AS (SELECT embedding AS p FROM embeddings
                   WHERE vec_id = {PROBE_VEC_ID}),
    idx AS (SELECT unnest(range(1, 65)) AS i),
    d AS (SELECT e.vec_id,
                 SUM((CAST(e.embedding[i] AS DOUBLE)
                        - CAST(p.p[i] AS DOUBLE))
                     * (CAST(e.embedding[i] AS DOUBLE)
                        - CAST(p.p[i] AS DOUBLE))) AS d2
          FROM embeddings e, probe p, idx
          WHERE e.vec_id <> {PROBE_VEC_ID}
          GROUP BY e.vec_id)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vectors,
           (SELECT vec_id FROM d ORDER BY d2, vec_id LIMIT 1) AS top1_exact,
           CAST(1 AS BIGINT) AS ivfpq_ok
    """,
    category="llm-similarity",
)
def q245_ivfpq_recall_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ made driver-visible (r10 verdict item #7): train the
    8-centroid coarse quantizer (the q65 IVF size) and 16x16 RESIDUAL
    codebooks on the deterministic id-ordered sample, build the fused
    (centroid, code) index in one Arrow pass, ADC-score a
    100-candidate shortlist over nprobe=4 of 8 lists for the q51
    probe, exact-rerank, and emit the 1-row verdict (n_vectors, exact
    top-1 id, recall@10 >= 0.9).  The exact top-1 is independently
    recomputed by the DuckDB oracle; the composite pipeline can only
    influence the row through ivfpq_ok — precisely the claim under
    test.

    Scale: coarse training is bounded driver-side Lloyd's; the index
    build is the one full narrow pass (write partitionBy(centroid) in
    production); a probe reads m bytes/vector over ~nprobe/k of the
    corpus, then fetches <= 100 original vectors by id.

    The deterministic training and the exact ground truth come from
    :func:`_verdict_model` (shared with q204/q249/q253 per session —
    see the cache comment); this query's own cost is the index build +
    ADC probe + rerank it verifies."""
    e = table(spark, sf_dir, "embeddings")
    m = _verdict_model(spark, sf_dir)
    approx = ivfpq_search_rerank(
        ivfpq_index(e, m["cents"], m["books"]), e, m["cents"], m["books"],
        m["probe"], nprobe=4, topk=TOP_K, shortlist=100,
        exclude_vec_id=PROBE_VEC_ID,
    )
    return spark.createDataFrame(
        [(m["n_vectors"], m["exact_ids"][0], _recall_ok(m["exact_ids"], approx))],
        "n_vectors bigint, top1_exact bigint, ivfpq_ok bigint",
    )


@query(
    "q249_ivfpq_pruned_verdict",
    # q245's verdict pattern for the PERSISTED index (round-12 verdict
    # item #4): the oracle independently recomputes the exact top-1 by
    # brute force and states the contract constants; Spark runs the
    # full train -> build -> write partitionBy(centroid) -> re-open ->
    # partition-pruned ADC probe -> exact-rerank pipeline and emits
    # ivfpq_ok = (recall@10 >= 0.9) AND pruned_ok = (the probe's scan
    # plan carries the centroid filter as PartitionFilters — file-index
    # pruning, not a post-scan filter).  A layout that silently stops
    # pruning (cast in the wrong place, wrong partition column, probe
    # filtering after a repartition) drops pruned_ok to 0 and fails
    # the driver hash.
    oracle=f"""
    WITH probe AS (SELECT embedding AS p FROM embeddings
                   WHERE vec_id = {PROBE_VEC_ID}),
    idx AS (SELECT unnest(range(1, 65)) AS i),
    d AS (SELECT e.vec_id,
                 SUM((CAST(e.embedding[i] AS DOUBLE)
                        - CAST(p.p[i] AS DOUBLE))
                     * (CAST(e.embedding[i] AS DOUBLE)
                        - CAST(p.p[i] AS DOUBLE))) AS d2
          FROM embeddings e, probe p, idx
          WHERE e.vec_id <> {PROBE_VEC_ID}
          GROUP BY e.vec_id)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vectors,
           (SELECT vec_id FROM d ORDER BY d2, vec_id LIMIT 1) AS top1_exact,
           CAST(1 AS BIGINT) AS ivfpq_ok,
           CAST(1 AS BIGINT) AS pruned_ok
    """,
    category="llm-similarity",
)
def q249_ivfpq_pruned_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted partition-pruned ANN index made driver-visible
    (round-12 verdict item #4 — the docstring-promised
    ``partitionBy(centroid)`` deployment layout, now exercised
    end-to-end instead of only described): train the q245 composite
    (8-centroid coarse + 16x16 residual PQ), build the fused index,
    WRITE it ``partitionBy(centroid)``, re-open it from disk, and
    probe through the identical ADC -> exact-rerank pipeline.  Emits
    the q245 recall verdict plus pruned_ok: the probed scan's physical
    plan must carry the ``centroid IN (lists)`` predicate as
    PartitionFilters on the file scan — proof the layout engages
    Spark's file-index pruning (the scan plans only nprobe/k of the
    directories; the other lists' files are never listed, opened, or
    read — the mirror of round 11's bucketed dedup state).

    Scale: the write is the one full narrow pass the build already
    does plus a partitioned parquet write (no shuffle — mapInPandas
    output partitions write their own directory splits); the probe
    reads m bytes/vector over ~nprobe/k of the corpus FROM DISK, which
    is the real serving shape (the in-memory q245 path assumes the
    index fits in executor memory; at 100 TB it won't).  The verdict
    row is collected before the temp index is deleted, so the returned
    frame is disk-independent (:func:`_persisted_probe`, shared with
    q253)."""
    t = _verdict_truth(spark, sf_dir)
    ok, pruned_ok, _ = _persisted_probe(spark, sf_dir, t["exact_ids"], nprobe=4)
    return spark.createDataFrame(
        [(t["n_vectors"], t["exact_ids"][0], ok, pruned_ok)],
        "n_vectors bigint, top1_exact bigint, ivfpq_ok bigint,"
        " pruned_ok bigint",
    )


# Metadata predicate for the filtered-ANN verdict: one fixture label
# (~10% of vectors).  Constant by design — the oracle must state the
# same filter.
_FILTER_LABEL = 3


@query(
    "q253_ann_filtered_verdict",
    # q249's verdict pattern for the FILTERED composite query (round-12
    # verdict item #5): the oracle independently recomputes the exact
    # FILTERED nearest neighbour (label-constrained brute force) and
    # states the contract constants; Spark runs train -> build with the
    # label column IN the index rows -> write partitionBy(centroid) ->
    # re-open -> partition-pruned AND label-filtered ADC probe ->
    # exact-rerank, and emits ivfpq_ok = (filtered recall@10 >= 0.9),
    # pruned_ok = (centroid IN as PartitionFilters) and
    # filter_pushed_ok = (the label predicate as a parquet PushedFilter
    # on the same pruned scan).  A layout that stops pruning, or a
    # probe that filters only after the scan, drops the corresponding
    # flag and fails the driver hash.
    oracle=f"""
    WITH probe AS (SELECT embedding AS p FROM embeddings
                   WHERE vec_id = {PROBE_VEC_ID}),
    idx AS (SELECT unnest(range(1, 65)) AS i),
    d AS (SELECT e.vec_id,
                 SUM((CAST(e.embedding[i] AS DOUBLE)
                        - CAST(p.p[i] AS DOUBLE))
                     * (CAST(e.embedding[i] AS DOUBLE)
                        - CAST(p.p[i] AS DOUBLE))) AS d2
          FROM embeddings e, probe p, idx
          WHERE e.vec_id <> {PROBE_VEC_ID} AND e.label = {_FILTER_LABEL}
          GROUP BY e.vec_id)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
            WHERE label = {_FILTER_LABEL}) AS n_label,
           (SELECT vec_id FROM d ORDER BY d2, vec_id LIMIT 1)
             AS top1_exact,
           CAST(1 AS BIGINT) AS ivfpq_ok,
           CAST(1 AS BIGINT) AS pruned_ok,
           CAST(1 AS BIGINT) AS filter_pushed_ok
    """,
    category="llm-similarity",
)
def q253_ann_filtered_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN made driver-visible (round-12 verdict item #5 —
    the production composite query: metadata predicate + vector): the
    persisted q249 layout is rebuilt with the label column written
    INTO the index rows, and the probe composes ``label = 3`` into the
    partition-pruned scan itself — the predicate lands as a parquet
    PushedFilter on the nprobe probed lists' files, so the scan reads
    only matching rows of only the probed directories (filter-inside-
    the-lists, the FAISS selector / Milvus expr pattern — never
    post-filtering a finished unfiltered top-k, which starves k for
    selective predicates, and never joining the corpus before
    scoring).  nprobe widens 4 -> 7 of 8 because qualifying neighbours
    spread over more lists when ~90% of each list is filtered away —
    the recall/selectivity trade the docstring of ivfpq_search states
    (per-nprobe recall measured in the body comment).
    Emits the label-constrained recall verdict plus BOTH plan flags
    (PartitionFilters carries centroid IN; PushedFilters carries the
    label EqualTo) checked on the probe's own scan.

    Scale: identical envelope to q249 (one narrow build pass + a
    pruned probe) — the label column adds bytes-per-row to the index,
    and the filter cuts the scanned rows BEFORE Arrow transfer and
    ADC scoring; the exact rerank touches <= shortlist original
    vectors by id.  The exact top-10 recall set is recomputed
    label-filtered; the oracle independently recomputes its top-1."""
    flt = F.col("label") == _FILTER_LABEL
    labeled = table(spark, sf_dir, "embeddings").where(flt)
    exact_ids = _exact_ids(labeled, _verdict_truth(spark, sf_dir)["probe"])
    # probe budget follows the filter's selectivity at the list grain
    # (the production rule: nprobe scales with 1/selectivity): ~10% of
    # each ~n/8-vector list qualifies, so the label-constrained top-10
    # spreads over nearly every coarse list at fixture scale — measured
    # recall@10 per nprobe at 500 vectors: 4 -> 0.5, 6 -> 0.7, 7 -> 0.9
    # (the unfiltered q249 holds 0.9 at nprobe=4 on the same index).  A
    # production deployment raises k_coarse with corpus size and keeps
    # nprobe/k low; the partition-pruning contract is what scales, not
    # the fixture's 7/8 ratio.
    ok, pruned_ok, filter_pushed_ok = _persisted_probe(
        spark, sf_dir, exact_ids, nprobe=7, extra_cols=("label",), prefilter=flt
    )
    return spark.createDataFrame(
        [(labeled.count(), exact_ids[0], ok, pruned_ok, filter_pushed_ok)],
        "n_label bigint, top1_exact bigint, ivfpq_ok bigint,"
        " pruned_ok bigint, filter_pushed_ok bigint",
    )
