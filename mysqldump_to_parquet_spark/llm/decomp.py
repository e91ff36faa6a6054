"""Embedding decomposition: one-pass exact covariance and PCA projection
(SURVEY §2.2 extension surface — vector/embedding pipeline operators).

Distributed PCA over an ``array<float>`` embedding column is a standard
pre-processing step for the similarity stack (whitening and
dimensionality reduction before the IVF index, SemDeDup-style cluster
prep).  The
scalable shape is the textbook one:

1. **one-pass Gram accumulation** — each partition folds its rows into a
   D×D int64 Gram matrix + D-vector of sums + count with vectorized
   NumPy (``X.T @ X``); only ``D(D+1)/2 + D + 1`` fixed-width rows per
   partition cross the shuffle, regardless of row count;
2. **tiny merge** — one partial-aggregated ``groupBy(i, j).sum`` over
   those fixed-width partials;
3. **driver-side eigendecomposition** — the D×D covariance (D=64 here)
   is eigendecomposed with LAPACK on the driver: the MLlib ``fit``
   contract, K×D scalars only;
4. **map-only projection** — a broadcast component matrix, NumPy matmul
   per Arrow batch, zero shuffles.

Cross-engine exactness (the hash-green contract): float sums across rows
are order-sensitive, so the Gram pass quantizes every element to
fixed-point int64 first (``round(x · 10⁶)``) — integer sums are exact
and partition-order-free, and the final covariance is a deterministic
double expression over identical integers in both engines (same fix
class as q_sessionize's exact-BIGINT oracle sums).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table

#: embedding dimensionality of the fixture corpus
DIM = 64

#: fixed-point quantization scale: exact int64 sums, ~1e-6 element
#: precision (embedding values are O(1) floats)
QUANT = 1_000_000

#: principal components the projection keeps
N_COMPONENTS = 4


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v: array<long>) — elements rounded to QUANT fixed-point."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * QUANT).cast("long"),
        ).alias("v"),
    )


def _gram_partials(batches):
    """mapInPandas body: fold a partition into one D×D int64 Gram matrix,
    per-dim sums, and a count — emitted as (i, j, s) rows.  Sentinels:
    (i, -1, sum_i) per dimension, (-1, -1, n) for the count.

    Overflow: each product is ~(|x|·QUANT)² ≈ 10¹² for unit-scale
    embeddings, so a PARTITION's fold stays far below 2⁶³ at any sane
    ``maxPartitionBytes`` (~400k rows/128 MB split → ≤ 4·10¹⁷); the
    conservative running bound below fails LOUD instead of wrapping if
    a pathological partition would exceed it.  The cross-partition
    merge is the unbounded sum — it runs in DECIMAL(38,0) (see
    :func:`_gram`), exact at any corpus size."""
    import numpy as np

    G = np.zeros((DIM, DIM), dtype=np.int64)
    sums = np.zeros(DIM, dtype=np.int64)
    n = 0
    bound = 0.0
    for pdf in batches:
        if not len(pdf):
            continue
        X = np.stack(pdf["v"].to_numpy()).astype(np.int64)  # (rows, D)
        amax = float(np.abs(X).max()) if X.size else 0.0
        bound += X.shape[0] * amax * amax
        if bound >= 2.0**62:
            raise ValueError(
                "decomp gram partial would overflow int64 in this "
                "partition; lower spark.sql.files.maxPartitionBytes (or "
                "repartition the embeddings) so fewer rows fold per task"
            )
        G += X.T @ X
        sums += X.sum(axis=0)
        n += X.shape[0]
    if n == 0:
        return
    iu, ju = [], []
    for i in range(DIM):
        for j in range(i, DIM):
            iu.append(i)
            ju.append(j)
    vals = [int(G[i, j]) for i, j in zip(iu, ju)]
    iu += list(range(DIM)) + [-1]
    ju += [-1] * DIM + [-1]
    vals += [int(x) for x in sums] + [n]
    yield pd.DataFrame(
        {
            "i": pd.Series(iu, dtype="int32"),
            "j": pd.Series(ju, dtype="int32"),
            "s": pd.Series(vals, dtype="int64"),
        }
    )


def _gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged exact Gram table: (i, j, s) with sentinel sum/count rows.

    The merge sums in DECIMAL(38,0): a plain long sum wraps silently
    once enough partitions contribute (~10¹² per row of data ⇒ 2⁶³ at
    ~9M unit-scale rows — far below the target corpus size), while
    decimal addition is exact and order-free at any scale (ADVICE r6
    review).  Downstream casts to double are deterministic."""
    q = _quantized(spark, sf_dir)
    partials = q.mapInPandas(_gram_partials, "i int, j int, s long")
    return partials.groupBy("i", "j").agg(
        F.sum(F.col("s").cast("decimal(38,0)")).alias("s")
    )


def embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_embed_covariance: exact upper-triangle covariance matrix of the
    embedding columns — cov(i, j) for 0 ≤ i ≤ j < D, one pass.

    The division back to real units (QUANT² = 10¹²) and the mean
    subtraction happen once per output cell, as a deterministic double
    expression over exact integers — bit-identical across engines and
    partitionings."""
    g = _gram(spark, sf_dir)
    n_df = g.where((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("s").cast("double").alias("n")
    )
    sums = g.where((F.col("j") == -1) & (F.col("i") >= 0)).select(
        F.col("i").alias("dim"), F.col("s").alias("sx")
    )
    pairs = g.where(F.col("j") >= 0)
    sa = sums.select(F.col("dim").alias("i"), F.col("sx").alias("sx_i"))
    sb = sums.select(F.col("dim").alias("j"), F.col("sx").alias("sx_j"))
    cov = (
        (
            F.col("s").cast("double")
            - F.col("sx_i").cast("double") * F.col("sx_j").cast("double") / F.col("n")
        )
        / F.col("n")
        / F.lit(1_000_000_000_000.0)
    )
    return (
        pairs.join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .crossJoin(F.broadcast(n_df))
        # + 0.0 collapses IEEE -0.0 (a tiny negative rounded to zero
        # keeps its sign bit; repr('-0.0') != repr('0.0') in the
        # driver's canonicalizer even though -0.0 == 0.0)
        .select("i", "j", (F.round(cov, 6) + F.lit(0.0)).alias("cov"))
        .orderBy("i", "j")
    )


EMBED_COVARIANCE_SQL = f"""
WITH q AS (
  SELECT vec_id, i,
         CAST(round(CAST(embedding[i] AS DOUBLE) * {QUANT}) AS BIGINT) AS v
  FROM embeddings, generate_series(1, {DIM}) g(i)
),
pairsum AS (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.v * b.v) AS BIGINT) AS sxy
  FROM q a JOIN q b USING (vec_id)
  WHERE a.i <= b.i
  GROUP BY a.i, b.i
),
s AS (SELECT i, CAST(SUM(v) AS BIGINT) AS sx FROM q GROUP BY i),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings)
SELECT CAST(p.i - 1 AS INTEGER) AS i, CAST(p.j - 1 AS INTEGER) AS j,
       ROUND((CAST(p.sxy AS DOUBLE)
              - CAST(sa.sx AS DOUBLE) * CAST(sb.sx AS DOUBLE) / n.n)
             / n.n / 1000000000000.0, 6) + 0.0 AS cov
FROM pairsum p, s sa, s sb, n
WHERE sa.i = p.i AND sb.i = p.j
ORDER BY i, j
"""


def covariance_and_mean(spark: SparkSession, sf_dir: str):
    """(C, mean): exact covariance matrix and mean vector as NumPy arrays
    — the driver-side inputs to the eigendecomposition.  Executes the
    one-pass Gram job (fixed D² driver state, the MLlib fit contract)."""
    import numpy as np

    rows = _gram(spark, sf_dir).collect()
    G = np.zeros((DIM, DIM), dtype=np.float64)
    sums = np.zeros(DIM, dtype=np.float64)
    n = 0.0
    for r in rows:
        if r.i == -1:
            n = float(r.s)
        elif r.j == -1:
            sums[r.i] = float(r.s)
        else:
            G[r.i, r.j] = float(r.s)
            G[r.j, r.i] = float(r.s)
    mean_q = sums / n
    C = (G - np.outer(sums, sums) / n) / n / float(QUANT) ** 2
    return C, mean_q / QUANT


def pca_components(spark: SparkSession, sf_dir: str):
    """(components (D, K), mean (D,), eigenvalues (K,)) — deterministic:
    the covariance is exact integers, LAPACK ``eigh`` is deterministic on
    identical input, and each component's sign is pinned so its
    largest-|magnitude| element is positive."""
    import numpy as np

    C, mean = covariance_and_mean(spark, sf_dir)
    w, V = np.linalg.eigh(C)  # ascending eigenvalues
    order = np.argsort(w)[::-1][:N_COMPONENTS]
    comps = V[:, order]
    evs = w[order]
    for k in range(comps.shape[1]):
        if comps[np.argmax(np.abs(comps[:, k])), k] < 0:
            comps[:, k] = -comps[:, k]
    return comps, mean, evs


def embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_embed_pca: project every embedding onto the top-K principal
    components of the corpus (centered), K = 4.

    Rows-only driver check (eigendecomposition is not SQL-expressible);
    ``tests/test_decomp.py`` pins the full differential against a pure
    NumPy PCA on the same parquet — exact covariance equality, component
    orthonormality, descending eigenvalues, and projection equality.

    Scale: fit = the one-pass Gram + a 64×64 driver eigh; transform =
    broadcast (D, K) matrix, map-only NumPy matmul per Arrow batch, zero
    shuffles."""
    comps, mean, _ = pca_components(spark, sf_dir)
    comps_l = [[float(x) for x in row] for row in comps]
    mean_l = [float(x) for x in mean]
    names = [f"pc{k + 1}" for k in range(N_COMPONENTS)]

    def project(batches):
        import numpy as np

        W = np.asarray(comps_l, dtype=np.float64)  # (D, K)
        mu = np.asarray(mean_l, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            P = np.round((X - mu) @ W, 6) + 0.0  # collapse IEEE -0.0
            out = {"vec_id": pdf["vec_id"]}
            for k, c in enumerate(names):
                out[c] = P[:, k]
            yield pd.DataFrame(out)

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    schema = "vec_id long, " + ", ".join(f"{c} double" for c in names)
    return e.mapInPandas(project, schema)


QUERIES = {
    "q_embed_covariance": embed_covariance,
    "q_embed_pca": embed_pca,
}

ORACLE = {
    "q_embed_covariance": EMBED_COVARIANCE_SQL,
}
