"""Similarity search over the embeddings table.

Two paths, as a real ANN stack is layered:

* **Brute-force cosine top-k** (`q_sim_topk`, `q_sim_radius`) — the exact
  baseline.  The probe is broadcast (a literal); the scan computes one
  fold per row and TakeOrderedAndProject keeps k rows per partition → k
  global.  At 100 TB this is a single pass, no shuffle beyond the k-row
  merge.
* **IVF ANN** (`q_sim_ann_ivf*`) — the scale path and the one ANN index:
  a spherical k-means coarse quantizer (spark.ml KMeans, fit once per
  corpus on a bounded sample) assigns each vector to a cell; the corpus
  is written ``partitionBy`` cell as one int8 code per vector, and a
  probe reads only its nearest ``IVF_SCAN_FRACTION`` of cells, then
  re-ranks the survivors by exact cosine.  The serial and batched
  probes, the kNN join, the dedup-against-index gate and the
  incremental append all read that one code column.
"""

from __future__ import annotations

import threading as _threading
from collections import OrderedDict

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .dedup import cosine_expr

#: Deterministic rational probe vector (exact in binary doubles — no
#: transcendental functions, so both engines see identical literals).
PROBE = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]


def _probe_col():
    return F.array(*[F.lit(v) for v in PROBE])


def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 against the fixed probe vector."""
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return (
        e.select(
            "vec_id",
            "label",
            F.round(cosine_expr(dbl, _probe_col()), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def _probe_sql_list() -> str:
    return "[" + ", ".join(repr(v) for v in PROBE) + "]"


SIM_TOPK_SQL = f"""
WITH probe AS (SELECT {_probe_sql_list()}::DOUBLE[] AS p)
SELECT vec_id, label,
       ROUND(
         list_reduce(list_prepend(0.0,
             list_transform(generate_series(1, 64),
                            i -> CAST(embedding[i] AS DOUBLE) * p[i])),
           (s, x) -> s + x)
         / (sqrt(list_reduce(list_prepend(0.0,
               list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
             (s, x) -> s + x))
            * sqrt(list_reduce(list_prepend(0.0,
               list_transform(p, x -> x * x)), (s, x) -> s + x)))
       , 6) AS cosine
FROM embeddings, probe
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""

def _masked_rows(vs: pd.Series, dim: int = 64):
    """(valid_mask, (n_valid, dim) float64 matrix) for one Arrow batch of
    embedding arrays — NULL rows AND wrong-length rows are masked out
    before ``np.vstack`` (None raises, mixed lengths raise) so a corpus
    with degraded embeddings degrades to "never a candidate / no
    signature" instead of crashing the scan (ADVICE r8 for nulls;
    review r15 extended the same contract to wrong-dim rows — every
    consumer already treats the mask as "unroutable")."""
    import numpy as np

    # len() per element; NaN for None → False under == dim
    valid = (vs.str.len() == dim).to_numpy(dtype=bool, na_value=False)
    if valid.any():
        mat = np.vstack(vs[valid].to_numpy()).astype(np.float64)
    else:
        mat = np.empty((0, dim), dtype=np.float64)
    return valid, mat


def _well_formed(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Rows the index can route: non-null, exactly len(PROBE)-dim.
    The ONE definition of "index mass" — the quantizer fits, the
    layout write, and the incremental append all filter through this,
    so a degraded corpus row is consistently a non-event (never a
    candidate, never a crash, never a ``__HIVE_DEFAULT_PARTITION__``
    directory) at every stage of the index lifecycle (review r15)."""
    return df.where(
        F.col(col).isNotNull() & (F.size(col) == len(PROBE))
    )


def _corpus_fingerprint(sf_dir: str) -> tuple:
    """Cheap snapshot id of the embeddings table's files ((relative
    path, mtime, size) per part file, RECURSIVE) — layout/quantizer
    cache keys include it so a corpus regenerated at the same path can
    never serve a stale artifact (VERDICT r8 #5 / ADVICE r8).  The walk
    recurses because a *partitioned* corpus (e.g. one written by the
    repo's own maintenance compaction) keeps its part files in nested
    ``key=value`` directories — a top-level listing would fingerprint
    directory names only and miss an in-place partition rewrite
    (VERDICT r9 #5); relative paths (not basenames) keep identically
    named part files in different partitions distinct.

    The table path is resolved through :func:`catalog.table_path` — the
    SAME construction ``load_table`` reads through, so the fingerprint
    can never silently diverge from the data.  Non-local URIs carry no
    local stat: the fingerprint degrades to the path alone and a warning
    says so ONCE (auto-invalidation off — an object-store deployment
    versions its corpus paths or registers the layout in a catalog);
    a MISSING local path raises instead of fingerprinting nothing."""
    import os
    import warnings

    from ..catalog import table_path

    p = table_path(sf_dir, "embeddings")
    if "://" in p:
        if p not in _FINGERPRINT_WARNED:
            _FINGERPRINT_WARNED.add(p)
            warnings.warn(
                f"no local fingerprint for {p!r}: ANN layout/quantizer "
                "caches will NOT auto-invalidate if this corpus is "
                "rewritten in place — version the path or rebuild the "
                "session after regeneration",
                stacklevel=2,
            )
        return (p,)
    if os.path.isdir(p):
        out = []
        for droot, dnames, fnames in os.walk(p):
            # deterministic walk order; skip hidden/metadata entries
            # (_SUCCESS, _committed, .crc) exactly as Spark's reader does
            dnames[:] = sorted(
                d for d in dnames if not d.startswith((".", "_"))
            )
            for f in sorted(fnames):
                if f.startswith((".", "_")):
                    continue
                full = os.path.join(droot, f)
                out.append(
                    (
                        os.path.relpath(full, p),
                        os.path.getmtime(full),
                        os.path.getsize(full),
                    )
                )
        return tuple(out)
    if os.path.exists(p):
        return ((p, os.path.getmtime(p), os.path.getsize(p)),)
    raise FileNotFoundError(
        f"embeddings corpus not found at {p!r} — cannot fingerprint "
        "(and load_table would fail on the same path)"
    )


#: paths already warned about missing-fingerprint degradation
_FINGERPRINT_WARNED: set = set()

#: one lock for every layout/quantizer cache build (ADVICE r9) — an
#: RLock because the IVF layout build calls ``ivf_centroids`` (also
#: guarded) from inside ``_cached_layout``'s critical section
_CACHE_LOCK = _threading.RLock()


def _cached_layout(cache: dict, spark: SparkSession, sf_dir: str,
                   prefix: str, build) -> str:
    """The SINGLE fingerprint-keyed layout-cache lifecycle (lookup →
    compare → evict stale → mkdtemp → atexit cleanup → build → store)
    for written index layouts (the IVF cell layout), so the
    invalidation semantics live in one place.  ``build(corpus_df,
    root)`` materializes the layout under ``root``; the cached value
    (and return) is ``root`` itself.

    An evicted stale root is NOT deleted eagerly: lazy DataFrames
    returned by an earlier probe may still reference its files, and an
    action on such a handle after an eager delete fails mid-session with
    FileNotFoundException (ADVICE r9).  Eviction only drops the cache
    entry; the tree itself is reclaimed by the atexit hook registered at
    creation — bounded leakage of one stale layout per corpus rewrite
    per session, the price of keeping outstanding handles valid.

    Guarded by ``_CACHE_LOCK`` so two threads probing the same cold
    corpus build ONE layout instead of racing (the loser's tree used to
    be orphaned until exit and the duplicate build wasted a full write
    job, ADVICE r9).  A WARM hit is checked lock-free first (dict reads
    are GIL-atomic; the fingerprint stat costs microseconds) so a probe
    on an already-cached corpus never stalls behind another corpus's
    multi-second cold build — the lock only serializes builds."""
    import atexit
    import shutil
    import tempfile

    fp = _corpus_fingerprint(sf_dir)
    hit = cache.get(sf_dir)
    if hit is not None and hit[0] == fp:  # warm: no lock
        return hit[1]
    with _CACHE_LOCK:
        hit = cache.get(sf_dir)  # re-check: the build race goes here
        if hit is not None and hit[0] == fp:
            return hit[1]
        if hit is not None:  # corpus changed under the same path
            cache.pop(sf_dir)  # tree deleted at exit, not now — see above
        root = tempfile.mkdtemp(prefix=prefix)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        build(load_table(spark, sf_dir, "embeddings"), root)
        cache[sf_dir] = (fp, root)
        return root


#: IVF parameters.  The CELL COUNT is corpus-adaptive (r10, closing the
#: last fixed-granularity constant in the ANN stack): the FAISS nlist
#: rule sizes the coarse grid as ~c·√n, so the expected cell holds
#: ~√n/c vectors, so cells track the corpus size.  A FIXED 64-cell
#: grid (r5–r9) is wrong at both ends: at 10⁹ rows each cell holds 16M
#: vectors (a probe reads nprobe·16M rows), and at 100 rows k-means
#: barely converges.
#: The r5 sweep at a FIXED 25 % scan fraction (fresh quantizer per
#: point) already showed the finer-grid direction: 16 cells/probe 4 →
#: recall@10 0.70, 64/16 → 0.80 on the sf0.01 fixture — finer
#: quantization buys recall at constant scan cost — but only down to a
#: TRAINING floor: r10 measured the bare 4√n rule at n=500 (89 cells ≈
#: 5.6 points/cell, undertrained k-means) at recall 0.5–0.7 vs the
#: 64-cell grid's 0.8, while at n=2000 the 179-cell grid reached 1.0
#: (vs 0.9 fixed).  So the grid is ``min(4√n, n/8)``: the n/8 cap keeps
#: ≥8 training points per centroid (binding below n≈1k — it reproduces
#: the nine-round-validated ~64-cell point at n=500, re-measured 0.8),
#: and √n growth takes over at scale (binding above n≈1k — measured
#: strictly better there).  This is the FAISS pairing of the nlist≈c√n
#: rule with its points-per-centroid training guidance.
IVF_CELLS_PER_SQRT = 4   # FAISS guidance: nlist ≈ 4√n … 16√n
IVF_MIN_TRAIN_PER_CELL = 8  # fixture-measured training floor
IVF_MAX_CELLS = 4096     # centroid table stays a few MB of doubles

#: fraction of cells a probe scans — nprobe = max(1, ¼·cells), the
#: r5-swept operating point; a deployment tunes this per-query
IVF_SCAN_FRACTION = 0.25


def _ivf_cells(n_rows: int) -> int:
    """Coarse-grid size for an ``n_rows`` corpus:
    ``min(c·√n, n/IVF_MIN_TRAIN_PER_CELL)`` clamped to [1,
    IVF_MAX_CELLS] — √n growth above the training floor, and never
    above the corpus itself (MLlib KMeans requires k ≤ n)."""
    import math

    return max(
        1,
        min(
            IVF_MAX_CELLS,
            int(round(IVF_CELLS_PER_SQRT * math.sqrt(max(0, n_rows)))),
            n_rows // IVF_MIN_TRAIN_PER_CELL if n_rows > 0 else 1,
        ),
    )

#: Rows sampled for the one-time quantizer fit.  K-means centroids need a
#: representative sample, not the full corpus — at 100 TB the fit reads a
#: bounded sample and the resulting centroid table (cells × dims doubles,
#: a few KB) is what persists, exactly like a FAISS coarse quantizer.
#: This is a FLOOR, not a cap: the actual fit-sample target grows with
#: the grid (``_ivf_fit_sample_target``) so the IVF_MIN_TRAIN_PER_CELL
#: training floor holds for the rows the fit actually sees, not just the
#: corpus (ADVICE r10: a fixed 20k sample under the 4096-cell grid is
#: ≈4.9 points/cell — exactly the undertrained regime the n/8 clamp
#: exists to prevent).  At the 4096-cell cap the target is 32 768 rows —
#: still a bounded, trivially samplable fit set.
IVF_FIT_SAMPLE = 20_000


def _ivf_fit_sample_target(cells: int) -> int:
    """Rows the quantizer fit should sample for a ``cells``-sized grid:
    at least IVF_FIT_SAMPLE, and at least IVF_MIN_TRAIN_PER_CELL
    training points per centroid — so the training floor ``_ivf_cells``
    enforces against the corpus also holds against the sample the
    k-means fit actually sees."""
    return max(IVF_FIT_SAMPLE, cells * IVF_MIN_TRAIN_PER_CELL)

#: Fit-once cache: corpus dir → (corpus fingerprint, (cells, dims)
#: float64 centroid matrix).  Module-lifetime stand-in for the tiny
#: centroid parquet a deployed index would store beside the data; the
#: fingerprint key means a regenerated corpus re-fits instead of serving
#: a stale quantizer (VERDICT r8 #5).
_IVF_CENTROIDS: dict[str, tuple[tuple, "object"]] = {}


def _unit_expr(col):
    """L2-normalized copy of a float-array column (zero vectors pass
    through unscaled rather than dividing by zero)."""
    dbl = F.transform(col, lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return F.when(norm > 0, F.transform(dbl, lambda x: x / norm)).otherwise(dbl)


def ivf_centroids(spark: SparkSession, sf_dir: str):
    """Coarse-quantizer centroids for ``sf_dir``, fit exactly once.

    The quantizer is SPHERICAL: vectors are L2-normalized before the fit
    (and before assignment), so squared-L2 cell geometry coincides with
    cosine order (``‖â−b̂‖² = 2 − 2·cos``) — the metric the probe ranks
    by.  Fitting raw vectors and probing by cosine mixes two geometries
    and measured only 0.1 recall@10 on the sf0.01 fixture; the spherical
    fit is the standard FAISS ``IndexIVF`` + normalized-input recipe for
    cosine search.

    Subsequent calls (including every ``sim_ann_ivf`` probe) reuse the
    cached matrix — no KMeans stage appears in a probe's plan."""
    import numpy as np

    fp = _corpus_fingerprint(sf_dir)
    hit = _IVF_CENTROIDS.get(sf_dir)
    if hit is not None and hit[0] == fp:  # warm: no lock (see
        return hit[1]  # _cached_layout — only builds serialize)
    with _CACHE_LOCK:  # one fit per cold corpus, even under threads
        hit = _IVF_CENTROIDS.get(sf_dir)
        if hit is None or hit[0] != fp:
            from pyspark.ml.clustering import KMeans
            from pyspark.ml.functions import array_to_vector

            # Fit on index mass only: a null embedding NPEs MLlib's
            # array_to_vector and a wrong-dim row would skew the fit —
            # the same _well_formed filter the layout write applies, so
            # the quantizer and the index agree on the corpus (r15).
            e = _well_formed(load_table(spark, sf_dir, "embeddings"))
            # Seeded UNIFORM sample, never limit(N): first-N rows of a
            # corpus written sorted/clustered by any correlate of the
            # embedding (timestamp, source, label) fit the quantizer on
            # one biased region and silently degrade recall (VERDICT r8
            # #2).  The count is metadata-cheap on parquet and runs once
            # per corpus; the Bernoulli sample's ±few-% size jitter is
            # irrelevant to k-means.
            n = e.count()
            k = _ivf_cells(n)
            # Sample target scales with the grid so every centroid sees
            # ≥ IVF_MIN_TRAIN_PER_CELL training rows (ADVICE r10); the
            # 1.05 pad absorbs Bernoulli-sample size jitter.
            target = _ivf_fit_sample_target(k)
            frac = min(1.0, 1.05 * float(target) / max(n, 1))
            fit_src = e if frac >= 1.0 else e.sample(fraction=frac, seed=42)
            sample = fit_src.select(
                array_to_vector(_unit_expr(F.col("embedding"))).alias(
                    "features"
                )
            )
            # Corpus-adaptive grid (the FAISS nlist rule), which also
            # guarantees k ≤ n: MLlib KMeans throws an opaque
            # ArrayIndexOutOfBounds when k > n rows (VERDICT r9 #3) and
            # rejects k < 2 outright.  A <16-row corpus collapses to ONE
            # cell = the whole corpus (every probe reads everything →
            # exact top-k); with a single cell the centroid VALUE never
            # affects assignment, so no fit runs at all.
            # _ivf_probe_cells derives its probe set from the ACTUAL
            # centroid count, so nprobe self-clamps.
            if k < 2:
                matrix = np.zeros((1, len(PROBE)))
            else:
                km = KMeans(k=k, seed=42, featuresCol="features")
                model = km.fit(sample)
                matrix = np.vstack(
                    [np.asarray(c) for c in model.clusterCenters()]
                )
            _IVF_CENTROIDS[sf_dir] = (fp, matrix)
        return _IVF_CENTROIDS[sf_dir][1]


def ivf_assign(df: DataFrame, vec_col: str, centroids) -> DataFrame:
    """Add a ``cell`` column = nearest-centroid id (squared-L2, ties → lowest
    id).  One vectorized NumPy/Arrow pass — ``‖v−c‖² = ‖v‖² − 2v·C + ‖C‖²``
    over the whole batch, no per-row Python.  At scale this runs once at
    write time (`partitionBy('cell')`), not per probe."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cent = np.ascontiguousarray(centroids)  # (k, d)
    cent_sq = (cent * cent).sum(axis=1)  # (k,)

    @pandas_udf("int")
    def _nearest(vs: pd.Series) -> pd.Series:
        valid, mat = _masked_rows(vs, cent.shape[1])  # null → null cell
        # argmin of ||v||^2 - 2 v.C^T + ||C||^2 — the ||v||^2 term is
        # constant per row and drops out of the argmin.
        d2 = cent_sq[None, :] - 2.0 * (mat @ cent.T)  # (n, k)
        out = pd.array([None] * len(vs), dtype="Int32")
        out[valid] = np.argmin(d2, axis=1).astype("int32")
        return pd.Series(out)

    return df.withColumn("cell", _nearest(F.col(vec_col)))


def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: a k-means coarse quantizer assigns each
    vector to its nearest centroid cell; a probe scans only the
    nearest ``IVF_SCAN_FRACTION`` of cells and ranks those candidates by
    exact cosine.

    At 100 TB the corpus is *written partitioned by cell id* (``ivf_assign``
    at write time), so a probe is a partition-pruned read of nprobe/cells of
    the data.  Centroids are fit once on a bounded sample and cached
    (``ivf_centroids``) — a probe's plan has no fit stage and no ML
    transformer, just the cell filter + exact-cosine rank.
    Approximate ⇒ rows-only driver check; recall pytest-asserted.
    """
    centroids = ivf_centroids(spark, sf_dir)
    probe_cells = _ivf_probe_cells(centroids)

    e = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(
        e.select("vec_id", "label", _unit_expr(F.col("embedding")).alias("v")),
        "v",
        centroids,
    )
    return (
        assigned.where(F.col("cell").isin(probe_cells))
        .select(
            "vec_id",
            "label",
            # cosine is scale-invariant: ranking the unit vectors is
            # exactly the raw-vector cosine rank
            F.round(cosine_expr(F.col("v"), _probe_col()), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


#: Candidates kept from the int8 code scan for the exact re-rank (the
#: FAISS ``IndexRefineFlat`` recipe).  4096 ≫ k=10 — at fixture scales
#: it exceeds the probed candidate count entirely (the re-rank is then
#: a no-op on the candidate SET, so the top-10 stays bit-identical to
#: the in-memory probe), and at scale the int8 approximation only has
#: to get the true top-10 into the top ~4k, a ~400× margin against a
#: quantization error of ~1e-2 per cosine.  Measured at the first scale
#: where the cut actually truncates (sf10, n=200k, ~50k probed
#: candidates → 4096 survivors): the written probe's top-10 is STILL
#: identical to the in-memory float probe's, recall@10 = 1.0 vs exact.
IVF_RERANK = 4096


def _quantize_codes(mat):
    """Symmetric per-vector int8 quantization of an (n, d) float matrix:
    ``scale = max|v|/127, code = round_half_away(v/scale)`` — THE one
    int8 quantizer implementation (``..vectors.embed_quantize`` calls
    this too, so the oracle-pinned key and the written IVF codes cannot
    drift apart).  Zero vectors get scale 0 and an all-zero code."""
    import numpy as np

    amax = np.abs(mat).max(axis=1) if len(mat) else np.empty(0)
    safe = np.where(amax > 0, amax, 1.0) / 127.0
    y = mat / safe[:, None]
    codes = np.trunc(y + np.copysign(0.5, y)).astype(np.int8)
    return codes, np.where(amax > 0, safe, 0.0)


def _ivf_encode(df: DataFrame, centroids) -> DataFrame:
    """The ONE (vec_id, code, cell) encode plan both the full layout
    build and the incremental append write through — extracted from
    :func:`write_ivf_partitioned` (VERDICT r15 task 2) so the appended
    rows can never drift from the built rows in quantizer, rounding,
    or column order."""
    from pyspark.sql.functions import pandas_udf

    dim = len(PROBE)

    @pandas_udf("array<tinyint>")
    def _codes(vs: pd.Series) -> pd.Series:
        valid, mat = _masked_rows(vs, dim)
        codes, _ = _quantize_codes(mat)
        # scatter valid rows back by hand — pandas/NumPy masked
        # assignment coerces a list of arrays into a 2-D block and
        # rejects it; the loop is O(batch) pointer stores, the math
        # above stays vectorized
        out = [None] * len(vs)
        j = 0
        for i, ok in enumerate(valid):
            if ok:
                out[i] = codes[j]
                j += 1
        return pd.Series(out, dtype=object)

    assigned = ivf_assign(
        df.withColumn("_v", _unit_expr(F.col("embedding"))), "_v", centroids
    )
    return assigned.select("vec_id", _codes(F.col("_v")).alias("code"), "cell")


def write_ivf_partitioned(df: DataFrame, out_path: str, centroids) -> None:
    """Materialize the deploy-time IVF layout: **int8 codes**, written
    ``partitionBy`` the coarse-quantizer cell id (assignment on the
    L2-normalized vectors, same spherical geometry as the fit), so a
    probe is a partition-pruned read of nprobe/cells of the data — and
    of ~¼ the bytes per row the pre-r11 float layout paid (64×1 B codes
    vs 64×4 B raw floats; VERDICT r10 #2).

    The layout stores ``(vec_id, code)`` only — the float vectors stay
    in the source corpus, which the probe's exact re-rank reads for its
    ≤IVF_RERANK survivors (at 100 TB that fetch is an id-keyed point
    read against the primary store, never a scan; the index itself
    shrinks ~4×).  Codes quantize the UNIT vector, so ``code·p̂ /
    ‖code‖`` approximates the cosine the re-rank finalizes; cosine
    ignores a vector's length, so no per-vector scale is stored.  One
    file per cell: the codes are hash-partitioned on ``cell`` before
    ``partitionBy`` (without it every task emits a file into every
    directory it touches — tasks × cells small files), which also keeps
    a probe's pruned read a handful of large sequential files at scale.

    Degraded rows (null / wrong-dim embedding) are filtered OUT here —
    the layout never carries a ``__HIVE_DEFAULT_PARTITION__``
    directory, its footer counts ARE the index mass the staleness
    signal compares against, and the incremental append (which applies
    the same :func:`_well_formed` filter) stays exactly symmetric with
    a from-scratch rebuild on such corpora (review r15)."""
    (
        _ivf_encode(_well_formed(df), centroids)
        .repartition("cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(out_path)
    )


#: Session cache: sf_dir → (corpus fingerprint, written IVF layout root),
#: so a repeated probe never re-writes the corpus — the layout is the
#: persistent artifact a deployment stores once.  ``_cached_layout``
#: owns the lifecycle: a fingerprint miss evicts the entry (the stale
#: tree stays until exit), and every root is registered for
#: interpreter-exit cleanup.
_IVF_LAYOUTS: dict[str, tuple[tuple, str]] = {}


def _ivf_layout_dir(spark: SparkSession, sf_dir: str) -> str:
    """The materialized cell layout for ``sf_dir`` (fingerprint-keyed,
    shared ``_cached_layout`` lifecycle); returns the ``cells`` dir."""
    import json
    import os

    def _build(corpus, root):
        cells = os.path.join(root, "cells")
        write_ivf_partitioned(corpus, cells, ivf_centroids(spark, sf_dir))
        # Fit-time per-cell row counts, the reference distribution the
        # append path's staleness signal compares against (VERDICT r15
        # task 2).  A parquet count is footer metadata — no row scan.
        # Null-embedding rows land under the default partition (cell
        # null) — excluded here, as everywhere: they are never probe
        # candidates, so they are not index mass (review r15: int(None)
        # crashed the build on exactly the corpora _masked_rows exists
        # to support).
        reader = spark.read.parquet(cells)
        sizes = {
            int(r["cell"]): int(r["count"])
            for r in reader.groupBy("cell").count().collect()
            if r["cell"] is not None
        }
        with open(os.path.join(root, "ivf_meta.json"), "w") as f:
            json.dump(
                {"fit_cell_sizes": sizes, "fit_total": sum(sizes.values())},
                f,
            )

    root = _cached_layout(
        _IVF_LAYOUTS, spark, sf_dir, "ivf_layout_", _build
    )
    return os.path.join(root, "cells")


#: sf_dir → (fingerprint, applicationId, DataFrame): the probe-side
#: handle on the written cell layout.  ``spark.read.parquet`` builds a
#: fresh file index — a listing of EVERY cell directory — per call,
#: measured at 1.45 s of every sf1 probe (566 dirs, r12 QPS profile);
#: a deployed probe service holds its index handle open, so the
#: session cache does the same.  Keyed by corpus fingerprint (a
#: regenerated corpus rebuilds) AND application id (a new session
#: cannot reuse another session's plan objects).
_IVF_LAYOUT_DFS: "OrderedDict[str, tuple]" = OrderedDict()

#: sf_dir → (corpus fingerprint, {cell: rows}) — the written layout's
#: CURRENT per-cell row counts, maintained incrementally (r16, guide
#: §6): seeded by the first staleness scan, advanced by each append's
#: own per-cell counts (one groupBy over the already-materialized
#: batch), re-stamped in the same critical section as the other
#: caches.  Valid iff the stamp matches ``_IVF_LAYOUTS[sf_dir][0]``.
#: This turns the per-append staleness signal from a footer scan of
#: EVERY cell directory (O(total index files), the r15 ingest soak's
#: growing tail) into pure driver arithmetic.
_IVF_CELL_COUNTS: dict[str, tuple] = {}

#: LRU bound on the probe-handle caches: per-corpus fingerprint keying
#: already REPLACES on regeneration, but a long-lived probe service
#: cycling many distinct corpora would accumulate one plan object per
#: corpus forever (VERDICT r12 nit #3).  32 comfortably holds every
#: corpus a session realistically probes while bounding the leak.
_PROBE_HANDLE_CACHE_MAX = 32


def _handle_cache_get(cache, key, fp, app):
    """Cached DataFrame handle for ``key`` iff fingerprint+session still
    match; refreshes LRU recency on hit."""
    hit = cache.get(key)
    if hit is not None and hit[0] == fp and hit[1] == app:
        cache.move_to_end(key)
        return hit[2]
    return None


def _handle_cache_put(cache, key, fp, app, df):
    cache[key] = (fp, app, df)
    cache.move_to_end(key)
    while len(cache) > _PROBE_HANDLE_CACHE_MAX:
        cache.popitem(last=False)
    return df


def _ivf_layout_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = _corpus_fingerprint(sf_dir)
    app = spark.sparkContext.applicationId
    hit = _handle_cache_get(_IVF_LAYOUT_DFS, sf_dir, fp, app)
    if hit is not None:
        return hit
    df = spark.read.parquet(_ivf_layout_dir(spark, sf_dir))
    return _handle_cache_put(_IVF_LAYOUT_DFS, sf_dir, fp, app, df)


# ------------------------------------------- incremental index maintenance

#: Refit triggers for :func:`ivf_index_staleness` — the quantizer aged
#: out when appended mass exceeds this fraction of the fit-time corpus
#: (the k-means fit saw none of it, so the cell geometry no longer
#: reflects ~1/(1+f) of the data) ...
IVF_REFIT_APPEND_FRACTION = 0.2
#: ... or when one cell grew this many times faster than uniform
#: growth would predict — a drifting arrival distribution piles into
#: few cells, and a probe of those cells degrades toward a scan long
#: before the global append fraction trips.
IVF_REFIT_CELL_SKEW = 4.0


def ivf_index_staleness(spark: SparkSession, sf_dir: str) -> dict:
    """Quantizer-age signal for the written IVF layout: current
    per-cell row counts (parquet footer metadata — no row scan) vs the
    fit-time distribution recorded in ``ivf_meta.json`` at build.

    Returns ``{"fit_total", "current_total", "appended_fraction",
    "max_cell_growth", "refit_due"}``.  ``max_cell_growth`` is the
    worst cell's growth ratio normalized by the corpus-wide growth, so
    uniform appends score ~1.0 no matter how much was appended and a
    drift-skewed cell scores its multiple of fair share.  ``refit_due``
    is advisory: the caller rebuilds by dropping the session layout
    cache (or simply opening a fresh session), which refits centroids
    on the grown corpus."""
    import json
    import os

    with _CACHE_LOCK:  # fast lookups only — the seeding scan runs outside
        hit = _IVF_LAYOUTS.get(sf_dir)
        counts_hit = _IVF_CELL_COUNTS.get(sf_dir)
    if hit is None:
        raise ValueError(
            f"no written IVF layout for {sf_dir!r} in this session — "
            "build it first (any IVF probe or kNN join builds it)"
        )
    meta_path = os.path.join(hit[1], "ivf_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    fit_sizes = {int(k): int(v) for k, v in meta["fit_cell_sizes"].items()}
    fit_total = int(meta["fit_total"])
    # Current counts come from the incrementally-maintained session
    # cache when its stamp matches the layout's (r16, guide §6): each
    # append already knows exactly what it wrote per cell, so the
    # signal is driver arithmetic, not a footer scan that grows with
    # every appended file.  A cold cache (first call for this layout)
    # pays the scan once and seeds it.
    if counts_hit is not None and counts_hit[0] == hit[0]:
        cur = dict(counts_hit[1])
    else:
        cur = {
            int(r["cell"]): int(r["count"])
            for r in _ivf_layout_df(spark, sf_dir)
            .groupBy("cell")
            .count()
            .collect()
            if r["cell"] is not None  # null rows are not index mass
        }
        with _CACHE_LOCK:
            # seed only if no append re-stamped the layout during the
            # scan — never clobber the counts that append just merged
            if _IVF_LAYOUTS.get(sf_dir, (None,))[0] == hit[0]:
                _IVF_CELL_COUNTS[sf_dir] = (hit[0], dict(cur))
    return _staleness_from_counts(fit_sizes, fit_total, cur)


def _staleness_from_counts(
    fit_sizes: dict, fit_total: int, cur: dict
) -> dict:
    """Pure staleness math over (fit-time cell sizes, current cell
    sizes) — split from :func:`ivf_index_staleness` so the small-cell
    edge cases are unit-testable without a layout on disk.

    The skew ratio's denominator is floored at ¼ of the AVERAGE
    fit-time cell mass: the 1M measurement (tools/ivf_append_1m.py,
    r15) showed a strictly uniform 1 % append scoring 26.7× because a
    near-empty-at-fit cell received its fair ~20 rows against a
    denominator of max(fit≈0, 1) — a false refit_due on exactly the
    append the signal must call healthy.  A sub-¼-average cell is not
    a probe-cost concern; with the floor it trips the 4× skew bar only
    once it accumulates ~an average cell's mass, which is when it
    genuinely starts to matter."""
    cur_total = sum(cur.values())
    growth = cur_total / max(fit_total, 1)
    fit_floor = max(1.0, 0.25 * fit_total / max(len(fit_sizes), 1))
    max_cell_growth = max(
        (cur_c / max(fit_sizes.get(c, 0), fit_floor))
        / max(growth, 1e-12)
        for c, cur_c in cur.items()
    )
    appended_fraction = (cur_total - fit_total) / max(fit_total, 1)
    return {
        "fit_total": fit_total,
        "current_total": cur_total,
        "appended_fraction": round(appended_fraction, 6),
        "max_cell_growth": round(max_cell_growth, 4),
        "refit_due": bool(
            appended_fraction > IVF_REFIT_APPEND_FRACTION
            or max_cell_growth > IVF_REFIT_CELL_SKEW
        ),
    }


def ivf_index_append(
    spark: SparkSession,
    sf_dir: str,
    admitted: DataFrame,
    verify_primary: bool = True,
    idempotent: bool = False,
) -> dict:
    """Append an admitted batch INTO the written IVF layout (VERDICT
    r15 task 2) — the index-maintenance half of the ingest loop the
    admission gate opens: gate arrivals against the index, land the
    admitted rows in the primary store (the ``embeddings`` table), then
    index them incrementally instead of paying the full rebuild a
    corpus-fingerprint miss would otherwise force.

    ``admitted``: (vec_id long, embedding array<float|double>) rows
    **already present in ``sf_dir``'s embeddings table** — the probe's
    exact re-rank joins survivors back to the primary store on vec_id,
    so an appended id absent there would silently vanish from every
    result; ``verify_primary`` fail-louds on that contract (an id-keyed
    anti-join — at deploy scale a point lookup, and the admitted batch
    is micro-batch-sized).

    Mechanics: the batch rides the SAME encode plan as the build
    (:func:`_ivf_encode` — existing centroids route and the one int8
    quantizer encodes, so appended rows are byte-identical to what a
    rebuild under the same quantizer writes), lands as NEW part files
    under the existing ``cell=N`` directories (``mode("append")`` +
    ``partitionBy`` — old files are never rewritten; pytest pins their
    (path, size, mtime) unchanged), and the session caches are
    re-stamped with the post-ingest corpus fingerprint so subsequent
    probes neither refit nor rebuild.  Unroutable rows (null or
    wrong-dim embedding, pre-filtered by ``F.size`` — the streaming
    gate's discipline) are skipped and counted: they cannot be probed,
    and the gate already audit-logs them as admitted-unroutable.

    The append reuses the FIT-TIME quantizer by design — cells only
    stay balanced while arrivals resemble the fit distribution, so the
    returned ``staleness`` dict (see :func:`ivf_index_staleness`) says
    when to stop appending and refit.  ``idempotent=True`` makes the
    call safe under at-least-once delivery (a retried streaming epoch
    replaying the same batch): rows whose vec_id already sits in the
    batch's cells are anti-joined out against a partition-pruned id
    read, so a replay appends nothing and reports the batch under
    ``already_indexed``.  Returns ``{"appended_rows",
    "skipped_unroutable", "already_indexed", "index_rows",
    "staleness"}``.

    Locking (review r15): ``_CACHE_LOCK`` is held only for the cache
    LOOKUPS and the final re-stamp — the Spark jobs between (verify
    anti-join, encode, write, counts) run outside it, so a
    minutes-long deploy-scale append never blocks another thread's
    cold layout build on an unrelated corpus.  If a concurrent probe
    of the SAME corpus fingerprint-misses mid-append (the primary
    store already grew), it rebuilds from the union — wasteful but
    correct — and the re-stamp below restores this append's root; the
    orphaned rebuild tree is reclaimed by its atexit hook, the same
    bounded leak the eviction path already documents."""
    import os

    with _CACHE_LOCK:  # fast lookups only — no Spark jobs under it
        hit = _IVF_LAYOUTS.get(sf_dir)
        if hit is None:
            raise ValueError(
                f"no written IVF layout for {sf_dir!r} in this session "
                "— build it first (any IVF probe or kNN join builds "
                "it), then append batches"
            )
        fp_old, root = hit
        cells_dir = os.path.join(root, "cells")
        cent_hit = _IVF_CENTROIDS.get(sf_dir)
        if cent_hit is None:
            raise ValueError(
                f"no fitted centroids for {sf_dir!r} — the layout "
                "build populates them; cannot route an append without "
                "the fit-time quantizer"
            )
        centroids = cent_hit[1]

    if verify_primary:
        e = load_table(spark, sf_dir, "embeddings")
        missing = (
            admitted.select("vec_id")
            .join(e.select("vec_id"), "vec_id", "left_anti")
            .count()
        )
        if missing:
            raise ValueError(
                f"{missing} admitted vec_ids are not in the "
                "primary embeddings table — land the batch in the "
                "primary store before indexing it (the exact "
                "re-rank would silently drop them)"
            )

    # unroutable = null OR wrong-dim, filtered by the SAME predicate
    # the layout build uses (_well_formed) so append ≡ rebuild on
    # degraded corpora — and so a wrong-dim vector never reaches the
    # routing batch (review r15; the streaming gate's F.size
    # discipline, now shared)
    n_in = admitted.count()
    well_formed = _well_formed(admitted.select("vec_id", "embedding"))
    coded = _ivf_encode(well_formed, centroids).localCheckpoint(
        eager=True
    )  # one encode: counts + write
    writable = coded.where(F.col("cell").isNotNull())
    # ONE job over the checkpointed batch yields both the routable
    # count and the batch's distinct cells with their sizes (r16 —
    # was a count plus a separate distinct-collect); the per-cell
    # sizes also advance the incremental staleness counts below.
    cell_rows = {
        int(r["cell"]): int(r["count"])
        for r in writable.groupBy("cell").count().collect()
    }
    n_routable = sum(cell_rows.values())
    appended_by_cell = cell_rows
    if idempotent and cell_rows:
        # At-least-once callers (a retried streaming epoch replays the
        # SAME batch after a crash anywhere around this call): drop
        # rows whose vec_id already sits in the batch's own cells.
        # The existing-id read is pruned at the LISTING (r16,
        # _pruned_cells_reader — only the batch's cell directories are
        # walked), not just at the scan, so the guard's cost follows
        # the batch's cells, never the layout's total file count.
        # Routing is deterministic (same centroids), so a replayed row
        # always lands in the cell where its first copy already is.
        cells = sorted(cell_rows)
        if "://" in cells_dir:
            existing = _prune_layout_to_cells(
                spark.read.parquet(cells_dir), cells
            )
        else:
            existing = _pruned_cells_reader(spark, cells_dir, cells)
        if existing is not None:
            # Materialized BEFORE the write — localCheckpoint, not
            # persist: the write's refreshByPath makes the
            # CacheManager RECACHE any cached plan reading cells_dir,
            # re-executing the anti-join against a fresh listing that
            # now contains this very write's output, which silently
            # zeroes the appended counts (caught by the r16 soak's
            # staleness probe).  A checkpoint's lineage is already
            # cut, so nothing re-executes.
            writable = writable.join(
                existing.select("vec_id"), "vec_id", "left_anti"
            ).localCheckpoint(eager=True)
            appended_by_cell = {
                int(r["cell"]): int(r["count"])
                for r in writable.groupBy("cell").count().collect()
            }
    (
        writable.repartition("cell")
        .write.partitionBy("cell")
        .mode("append")
        .parquet(cells_dir)
    )
    appended = int(sum(appended_by_cell.values()))

    with _CACHE_LOCK:
        # Re-stamp every quantizer/layout cache with the POST-ingest
        # corpus fingerprint: the primary store already grew, so the
        # next fingerprint check would otherwise evict and full-rebuild
        # — exactly the cost this function exists to avoid.  The probe
        # handle cache is EVICTED instead (its file index predates the
        # new part files).
        fp_new = _corpus_fingerprint(sf_dir)
        _IVF_CENTROIDS[sf_dir] = (fp_new, centroids)
        _IVF_LAYOUTS[sf_dir] = (fp_new, root)
        _IVF_LAYOUT_DFS.pop(sf_dir, None)
        # advance the incremental staleness counts with this append's
        # own per-cell sizes (valid only if they were current for the
        # PRE-append layout; otherwise drop them and let the next
        # staleness call re-seed from a scan)
        counts_hit = _IVF_CELL_COUNTS.get(sf_dir)
        if counts_hit is not None and counts_hit[0] == fp_old:
            merged = dict(counts_hit[1])
            for c, n in appended_by_cell.items():
                merged[c] = merged.get(c, 0) + n
            _IVF_CELL_COUNTS[sf_dir] = (fp_new, merged)
        else:
            _IVF_CELL_COUNTS.pop(sf_dir, None)

    staleness = ivf_index_staleness(spark, sf_dir)
    return {
        "appended_rows": appended,
        "skipped_unroutable": n_in - n_routable,
        # rows the idempotent guard found already present (a replayed
        # epoch reports its whole batch here and appends nothing)
        "already_indexed": n_routable - appended,
        "index_rows": staleness["current_total"],
        "staleness": staleness,
    }


def ivf_index_refit(spark: SparkSession, sf_dir: str) -> dict:
    """The action ``refit_due`` schedules, as one explicit call — the
    last piece of the index lifecycle (build → probe → gate → append →
    staleness → REFIT): drop the session quantizer/layout caches for
    ``sf_dir`` and rebuild from the current primary store, so the
    centroids are REFIT on the grown corpus (the opposite contract to
    :func:`ivf_index_append`, which deliberately reuses the fit-time
    quantizer and so accumulates the drift this call clears).

    Eviction follows `_cached_layout`'s lifecycle exactly: cache
    entries are popped, the stale tree is NOT deleted eagerly
    (outstanding lazy handles may still read it — ADVICE r9) and is
    reclaimed by its atexit hook.  At deploy scale this is the
    expensive full-rebuild path — the staleness triggers exist to make
    it RARE (appended_fraction > 20 % or cell skew > 4×), amortizing
    one rebuild over many cheap appends.  Returns the fresh layout's
    staleness dict (growth ratios reset to ~1 by construction)."""
    with _CACHE_LOCK:
        _IVF_LAYOUTS.pop(sf_dir, None)
        _IVF_LAYOUT_DFS.pop(sf_dir, None)
        _IVF_CENTROIDS.pop(sf_dir, None)
        _IVF_CELL_COUNTS.pop(sf_dir, None)
    _ivf_layout_dir(spark, sf_dir)  # rebuild = refit + rewrite
    return ivf_index_staleness(spark, sf_dir)


def _ivf_probe_cells(centroids) -> list[int]:
    """The ``IVF_SCAN_FRACTION`` of cells nearest the fixed PROBE — same
    squared-L2-on-unit-vectors metric the assignment uses (the ‖p̂‖²
    term is constant and drops out of the ordering).  nprobe derives
    from the ACTUAL centroid count, so it tracks the corpus-adaptive
    grid and self-clamps on tiny corpora."""
    import numpy as np

    probe = np.array(PROBE, dtype=float)
    return _ivf_cells_for_hat(centroids, probe / np.linalg.norm(probe))


def _ivf_cells_for_hat(centroids, probe_hat) -> list[int]:
    """Probe-parametric form of :func:`_ivf_probe_cells` — the cell
    selection shared by the registry probes (fixed PROBE), the QPS
    harness, and the batched multi-probe plan."""
    import numpy as np

    nprobe = max(1, int(round(len(centroids) * IVF_SCAN_FRACTION)))
    d2 = (centroids * centroids).sum(axis=1) - 2.0 * (centroids @ probe_hat)
    return [int(c) for c in np.argsort(d2)[:nprobe]]


def sim_ann_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_sim_ann_ivf_partitioned: IVF probe over the *written* int8-code
    layout — the partition-pruned read :func:`sim_ann_ivf` computes
    in-memory, at ~¼ the bytes.  Two phases (the FAISS IVF + refine
    recipe):

    1. **Code scan**: read ONLY the probed cell directories of the
       layout (``cell IN (…)`` reaches the scan as a PartitionFilter),
       rank by the int8 approximation ``code·p̂ / ‖code‖`` (the
       quantizer's per-vector scale cancels out of cosine), keep the
       top IVF_RERANK ids — ≤4096 ids to the driver, the probe's only
       collect.
    2. **Exact re-rank**: fetch the survivors' float vectors from the
       source corpus (id-keyed point read at scale; a pushed
       ``vec_id IN`` filter here) and rank by exact cosine.

    Write-time and probe-time cell assignment share the cached
    centroids and the same vectorized UDF, so the probed candidate set
    is IDENTICAL to ``sim_ann_ivf``'s; IVF_RERANK exceeds the fixture
    candidate counts, so the re-ranked top-10 is bit-identical too
    (pytest-asserted).

    NOTE: phase 1 executes when the DataFrame is BUILT (this is the
    registry's only eager probe) — the returned plan embeds the
    survivor-id snapshot, the correct semantics for a point-in-time
    probe, but plan-only consumers (gen_plans) pay the candidate
    scan."""
    return ivf_probe_topk(spark, sf_dir, PROBE)


def _code_scores(codes: pd.Series, hats):
    """The ONE int8 scorer of the serial and batched probes:
    ``(len(hats), len(codes))`` approximate cosines ``code·p̂ / ‖code‖``
    of each code against each unit probe row of ``hats``; a null,
    wrong-dim or all-zero code scores -2.0, below any cosine.  One
    dgemv per probe, not one dgemm over all — matrix-matrix BLAS may
    round differently, and sharing this body is what keeps the batch
    bit-identical to serial probes (pytest-pinned)."""
    import numpy as np

    valid, mat = _masked_rows(codes, hats.shape[1])  # codes as float64
    norm = np.linalg.norm(mat, axis=1)
    safe = np.where(norm > 0, norm, 1.0)
    out = np.full((len(hats), len(codes)), -2.0)
    for j, h in enumerate(hats):
        out[j, valid] = np.where(norm > 0, (mat @ h) / safe, -2.0)
    return out


def ivf_probe_topk(
    spark: SparkSession, sf_dir: str, probe, k: int = 10
) -> DataFrame:
    """Probe-parametric serial probe over the written IVF layout — the
    two-phase body of ``sim_ann_ivf_partitioned``, with the probe
    vector as a parameter so the QPS harness and the batch-equality
    tests drive the REAL code path instead of mirrored copies (r13;
    tools/ann_qps.py carried the mirror through r12)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    probe = np.asarray(probe, dtype=np.float64)
    hats = (probe / np.linalg.norm(probe))[None, :]
    cells = _ivf_cells_for_hat(ivf_centroids(spark, sf_dir), hats[0])
    layout = _prune_layout_to_cells(_ivf_layout_df(spark, sf_dir), cells)

    @pandas_udf("double")
    def _score(cs: pd.Series) -> pd.Series:
        return pd.Series(_code_scores(cs, hats)[0])

    survivors = (
        layout.select("vec_id", _score(F.col("code")).alias("acos"))
        .orderBy(F.desc("acos"), F.asc("vec_id"))
        .limit(IVF_RERANK)
        .collect()
    )
    return _exact_rerank(
        spark, sf_dir, [r.vec_id for r in survivors], probe, k=k
    )


def _exact_rerank(
    spark: SparkSession,
    sf_dir: str,
    ids: list,
    probe,
    k: int = 10,
) -> DataFrame:
    """Refine stage of the serial probe: fetch the ≤ IVF_RERANK
    survivors' float vectors from the SOURCE corpus (a pushed
    ``vec_id IN`` filter here; an id-keyed point read against the
    primary store at 100 TB) and rank by exact cosine against
    ``probe``.

    The IN predicate is built as ONE SQL string, not
    ``isin(python_list)``: the r12 QPS profile found ~3 s of every
    probe was py4j constructing 4096 Literal columns one call at a
    time — the SQL parser builds the IDENTICAL pushed-In plan from a
    single string crossing in 0.5 s (5.5× measured; a broadcast
    semi-join is similarly fast but forfeits the parquet row-group
    skip that makes this a point read on a vec_id-clustered corpus).
    Ids come from our own layout but are int-coerced anyway, so no
    text can reach the parser."""
    e = load_table(spark, sf_dir, "embeddings")
    if ids:
        e = e.where(f"vec_id IN ({','.join(str(int(i)) for i in ids)})")
    else:
        e = e.where(F.lit(False))  # SQL `IN ()` does not parse
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    pcol = F.array(*[F.lit(float(x)) for x in probe])
    return (
        e.select(
            "vec_id",
            "label",
            F.round(cosine_expr(dbl, pcol), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


#: probes in the registry's deterministic batch key (PROBE + seeded
#: jitters — distinct cell sets, fixed across runs)
ANN_BATCH_PROBES = 4


def ann_probe_batch(
    spark: SparkSession, sf_dir: str, probes, k: int = 10
) -> DataFrame:
    """Batched multi-probe ANN over the written IVF layout — M probes
    composed into ONE lazy plan (VERDICT r12 #2: the serial probe's
    residual wall is per-probe driver orchestration — two scheduled
    jobs plus one ≤IVF_RERANK-row collect per probe serialize on the
    Python driver at ~1 QPS/session no matter the thread count; a
    deployed pipeline's real shape is M probes at once: eval-set kNN,
    dedup-against-index).

    Phases, all in one composed DataFrame (no collect anywhere):

    1. **Union cell scan**: one partition-pruned read of the union of
       all probes' cell sets (the same :func:`_prune_layout_to_cells`
       ``cell IN (…)`` SQL string as the serial probe — the r12
       py4j-Literal lesson).
    2. **Per-(probe, candidate) scores in a single vectorized stage**:
       ``mapInPandas`` groups each Arrow batch by cell and scores it
       against exactly the probes that probed that cell, through the
       serial probe's own scorer (:func:`_code_scores`), so the batch
       is bit-identical to serial probes by construction.
    3. **Per-probe IVF_RERANK cut**: ``row_number() OVER (PARTITION BY
       probe_id ORDER BY acos DESC, vec_id)`` — Spark pushes the rank
       predicate into a WindowGroupLimit, so every scan partition
       pre-prunes to its local top-IVF_RERANK before the one shuffle
       by probe_id.
    4. **ONE grouped exact re-rank**: the ≤M·IVF_RERANK survivor
       (probe_id, vec_id) pairs broadcast against a single source-
       corpus scan; exact cosine per pair against the probe row joined
       in from an M-row broadcast; final top-k per probe via the same
       window shape.

    Scale note: the serial probe's pushed ``vec_id IN`` point read is
    the right plan for ONE probe; at M probes the grouped fetch
    amortizes to one shared scan + broadcast semi-join — for M·RERANK
    ids scattered across a 100 TB corpus the IN list stops skipping
    row groups anyway, and the broadcast join reads the corpus once
    for ALL probes instead of M times.  Throughput vs the threaded
    serial form is measured in SCALING.md (tools/ann_qps.py
    --batched)."""
    import numpy as np
    from pyspark.sql.window import Window

    probes_arr = np.asarray(probes, dtype=np.float64)
    m = len(probes_arr)
    hats = probes_arr / np.linalg.norm(probes_arr, axis=1)[:, None]
    centroids = ivf_centroids(spark, sf_dir)
    cell_probes: dict[int, list[int]] = {}
    for p in range(m):
        for c in _ivf_cells_for_hat(centroids, hats[p]):
            cell_probes.setdefault(c, []).append(p)
    c2p = {c: np.asarray(ps, dtype=np.int64) for c, ps in cell_probes.items()}
    layout = _prune_layout_to_cells(_ivf_layout_df(spark, sf_dir), sorted(c2p))

    def _score_batches(pdfs):
        for pdf in pdfs:
            outs = []
            for cell, grp in pdf.groupby("cell", sort=False):
                pids = c2p.get(int(cell))
                if pids is None:
                    continue
                vids = grp["vec_id"].to_numpy().astype(np.int64)
                scores = _code_scores(grp["code"], hats[pids])
                outs.extend((p, vids, s) for p, s in zip(pids, scores))
            if outs:
                yield pd.DataFrame(
                    {
                        "probe_id": np.concatenate(
                            [
                                np.full(len(v), p, dtype=np.int32)
                                for p, v, _ in outs
                            ]
                        ),
                        "vec_id": np.concatenate([v for _, v, _ in outs]),
                        "acos": np.concatenate([s for _, _, s in outs]),
                    }
                )

    scored = layout.select("cell", "vec_id", "code").mapInPandas(
        _score_batches, "probe_id int, vec_id bigint, acos double"
    )
    w_cut = Window.partitionBy("probe_id").orderBy(
        F.desc("acos"), F.asc("vec_id")
    )
    surv = (
        scored.withColumn("rn", F.row_number().over(w_cut))
        .where(F.col("rn") <= IVF_RERANK)
        .select("probe_id", "vec_id")
    )

    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    probes_df = spark.createDataFrame(
        [(int(i), [float(x) for x in probes_arr[i]]) for i in range(m)],
        "probe_id int, probe array<double>",
    )
    exact = (
        e.join(F.broadcast(surv), "vec_id")
        .join(F.broadcast(probes_df), "probe_id")
        .select(
            "probe_id",
            "vec_id",
            "label",
            F.round(cosine_expr(dbl, F.col("probe")), 6).alias("cosine"),
        )
    )
    w_rank = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        exact.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= k)
        .drop("rn")
        .orderBy("probe_id", F.desc("cosine"), F.asc("vec_id"))
    )


def sim_ann_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_sim_ann_ivf_batch: the batched multi-probe plan over a
    deterministic ANN_BATCH_PROBES-vector set (the fixed PROBE plus
    seeded jitters — distinct cell sets, fixed across runs).  Output is
    (probe_id, vec_id, label, cosine) — top-10 per probe; probe 0's
    rows are pytest-pinned identical to ``sim_ann_ivf_partitioned``'s.
    Approximate ⇒ rows-only driver check."""
    import numpy as np

    base = np.array(PROBE, dtype=np.float64)
    rng = np.random.default_rng(13)
    jitters = base + rng.normal(0.0, 0.5, size=(ANN_BATCH_PROBES - 1, len(base)))
    return ann_probe_batch(spark, sf_dir, np.vstack([base, jitters]))


def _knn_route_queries(
    spark: SparkSession, sf_dir: str, queries: DataFrame
) -> DataFrame:
    """Executor-side cell routing for the kNN join: assign each query
    row its nprobe nearest cells from the broadcast centroid table (a
    few KB in the UDF closure — no driver trip per query) and explode
    to (qid, qv, cell)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    centroids = ivf_centroids(spark, sf_dir)
    nprobe = max(1, int(round(len(centroids) * IVF_SCAN_FRACTION)))
    cnorm2 = (centroids * centroids).sum(axis=1)

    @pandas_udf("array<int>")
    def _route(qs: pd.Series) -> pd.Series:
        valid, mat = _masked_rows(qs)
        norms = np.linalg.norm(mat, axis=1)
        hats = mat / np.where(norms > 0, norms, 1.0)[:, None]
        d2 = cnorm2[None, :] - 2.0 * (hats @ centroids.T)
        cells = np.argsort(d2, axis=1)[:, :nprobe].astype("int32")
        out = [None] * len(qs)
        vi = 0
        for i in range(len(qs)):
            if valid[i]:
                out[i] = cells[vi].tolist()
                vi += 1
        return pd.Series(out)

    return queries.select(
        "qid", "qv", F.explode(_route(F.col("qv"))).alias("cell")
    )


def _knn_batch_cells(routed: DataFrame) -> list[int]:
    """The batch's DISTINCT probed cells — bounded by the CELL COUNT
    (≈√n ints), never by |queries|; the one legitimate tiny collect of
    the small-batch kNN-join path."""
    return sorted(
        int(r[0]) for r in routed.select("cell").distinct().collect()
    )


def _prune_layout_to_cells(layout: DataFrame, cells: list[int]) -> DataFrame:
    """Literal ``cell IN`` filter (a SQL string — ~5.5× cheaper to build
    than py4j ``isin`` at thousands of ids, identical pushed-In plan)
    that reaches the partitioned layout scan as a PartitionFilter."""
    if not cells:  # SQL `IN ()` does not parse
        return layout.where(F.lit(False))
    return layout.where(
        f"cell IN ({','.join(str(int(c)) for c in cells)})"
    )


def _pruned_cells_reader(
    spark: SparkSession, cells_dir: str, cells: list[int]
) -> DataFrame | None:
    """Listing-pruned layout reader (r16, guide §6): a ``cell IN``
    PartitionFilter prunes the DATA read, but ``spark.read.parquet``
    over the layout ROOT still eagerly lists EVERY cell directory to
    build its file index — per streaming epoch that listing grows with
    every appended file (the r15 ingest soak's p95 tail).  Reading the
    named cell directories directly (``basePath`` keeps the partition
    column) bounds the listing by the batch's own cells.  Returns None
    when none of the directories exist yet (nothing indexed there —
    callers treat it as an empty relation).  LOCAL-FS paths only (the
    ``os.path.isdir`` probe), which the session-tempdir layouts always
    are — callers must route a remote layout root to the full reader
    BEFORE calling this, since its directories would probe as
    all-missing here and None would wrongly read as empty."""
    import os

    if "://" in cells_dir:
        raise ValueError(
            f"_pruned_cells_reader is local-FS only, got {cells_dir!r}"
        )
    paths = [
        p
        for c in cells
        if os.path.isdir(p := f"{cells_dir}/cell={int(c)}")
    ]
    if not paths:
        return None
    return spark.read.option("basePath", cells_dir).parquet(*paths)


def _layout_for_cells(
    spark: SparkSession, sf_dir: str, cells: list[int]
) -> DataFrame:
    """The layout relation a small batch's cell-pruned join should
    read, picking the cheapest correct file index (r16, guide §6):

    1. the session's cached full handle + ``cell IN`` filter when the
       handle is warm — no listing at all (the repeated-probe shape);
    2. a listing-pruned read of just the batch's cell directories when
       the handle is cold and the batch touches a minority of cells —
       the streaming-gate shape, where each epoch's index append
       evicts the handle and a full re-list would grow with every
       appended file (the r15 soak's p95 tail);
    3. the full reader (which also re-warms the handle cache for the
       next caller) otherwise — bulk batches that touch most cells,
       remote layout roots, or cells not yet on disk.

    Result-identical in every arm: the ``cell`` equi-join discards
    unprobed cells anyway, and the IN filter stays on top of the
    pruned read as belt-and-braces."""
    with _CACHE_LOCK:
        fp = _corpus_fingerprint(sf_dir)
        app = spark.sparkContext.applicationId
        hit = _handle_cache_get(_IVF_LAYOUT_DFS, sf_dir, fp, app)
        cent_hit = _IVF_CENTROIDS.get(sf_dir)
    if hit is not None:
        return _prune_layout_to_cells(hit, cells)
    n_cells_total = len(cent_hit[1]) if cent_hit is not None else 0
    if cells and n_cells_total and len(cells) <= n_cells_total // 2:
        cells_dir = _ivf_layout_dir(spark, sf_dir)
        if "://" not in cells_dir:
            pruned = _pruned_cells_reader(spark, cells_dir, cells)
            if pruned is not None:
                return _prune_layout_to_cells(pruned, cells)
    return _prune_layout_to_cells(_ivf_layout_df(spark, sf_dir), cells)


def ivf_knn_join(
    spark: SparkSession,
    sf_dir: str,
    queries: DataFrame,
    k: int = 3,
    exclude_self: bool = True,
    broadcast_queries: bool = True,
    prune_cells: bool | None = None,
) -> DataFrame:
    """Distributed kNN JOIN through the written IVF layout — the
    dedup-against-index / eval-set-kNN shape where the probe set is a
    DATAFRAME, not a driver-side vector list (r13; the batched probe
    removes per-probe orchestration for tens of probes, this removes
    the driver entirely for millions).

    ``queries``: (qid long, qv array<double>).  Plan (lazy, except the
    small-batch pre-route of step 2b when ``prune_cells``):

    1. **Executor-side cell routing**: a vectorized UDF assigns each
       query its nprobe cells from the broadcast centroid table (a few
       KB in the closure) — no driver trip per query; explode to
       (qid, qv, cell).
    2. **Broadcast hash join on cell** (hinted): the exploded query
       side builds the hash, so the LAYOUT side — the 100 TB side —
       streams partition-local and NEVER shuffles.  For query sets too
       large to broadcast, ``broadcast_queries=False`` drops the hint
       EVERYWHERE (cell join AND both re-rank joins — ADVICE r13: a
       hinted broadcast bypasses autoBroadcastJoinThreshold, so a huge
       query set must not carry one through the re-rank either) and
       AQE picks each join's strategy.  Measured guidance (SCALING.md
       "broadcast crossover", 1M corpus): dropping the hint loses
       NOTHING at any batch size (AQE still picks BHJ while the routed
       side — M × nprobe × ~530 B — fits its threshold, so the layout
       still never shuffles) and removes the hinted form's hard 8 GB
       broadcast cap (M ≈ 15k at this geometry); keep the default for
       small admission batches where ``prune_cells`` is what pays, use
       ``broadcast_queries=False`` for bulk eval-set joins.
    2b. **Small-batch cell pruning** (``prune_cells``, default =
       ``broadcast_queries``; VERDICT r13 #1): the admission-gate
       deploy shape is a SMALL batch against a HUGE index, where a
       full-layout scan is a 1/IVF_SCAN_FRACTION (4×) over-read.  The
       literal ``cell IN`` PartitionFilter the serial/batched probes
       push needs driver-known cells, so the small-batch path runs the
       routing once as a tiny pre-job and collects the batch's
       DISTINCT probed cells — bounded by the CELL COUNT (≈√n ints),
       never by |queries| — then prunes the layout scan to exactly the
       directories the join can match.  The routed batch is
       localCheckpoint-ed so the collected IN-list and the join's
       query side read ONE routing evaluation (ADVICE r14: a re-run
       UDF could route differently on a non-deterministic source or an
       argsort tie and probe a pruned cell); results are identical to
       the unpruned join by construction (the cell equi-join discards
       unprobed cells anyway; pytest-pinned).  A large random batch
       probes every cell
       and is too big to pre-route cheaply — there pruning buys
       nothing, which is why it rides the ``broadcast_queries``
       small-batch signal by default.
    3. **Codegen approx scores**: whole-stage-codegen ``cosine(code,
       qv)`` per (query, candidate) pair — per-query ordering is
       identical to the serial scorer's ``code·q̂/‖code‖`` (the 1/‖qv‖
       factor is a per-query constant) and nothing crosses to Python.
    4. **Per-query IVF_RERANK cut** (WindowGroupLimit), then **exact
       re-rank**: survivors join the source corpus on vec_id and their
       query vector back on qid; exact cosine; top-k per query.

    Approximate (probed cells only) ⇒ rows-only key; the pytest twin
    pins recall@k against the brute-force join and exactness of every
    returned cosine."""
    import numpy as np
    from pyspark.sql.window import Window

    q = _knn_route_queries(spark, sf_dir, queries)
    if prune_cells is None:
        prune_cells = broadcast_queries
    if prune_cells:
        # Materialize the routing ONCE (ADVICE r14): the pre-job that
        # collects the batch's distinct probed cells and the join's
        # query side must see the SAME routing evaluation — if the UDF
        # re-ran for the join, a non-deterministic queries source (or
        # an FP/batching difference flipping an argsort tie at the
        # nprobe boundary) could probe a cell at join time that the
        # collected IN-list pruned from the layout, silently losing its
        # candidates.  localCheckpoint (not persist) so a long-running
        # caller — the admission-gate stream routes a FRESH batch per
        # epoch — doesn't accumulate cache-manager entries: checkpoint
        # blocks are freed by the ContextCleaner when the plan is
        # GC'd.  eager=True runs the routing job here; the collect
        # below and the join both read the materialized rows.
        q = q.localCheckpoint(eager=True)
        layout = _layout_for_cells(spark, sf_dir, _knn_batch_cells(q))
    else:
        layout = _ivf_layout_df(spark, sf_dir)
    layout = layout.select("cell", "vec_id", "code")
    # broadcast_queries=False for query sets too large to broadcast
    # (the routed side is |queries|·nprobe rows of qid+qv): AQE then
    # picks the join strategy, at the price of shuffling the layout
    pairs = layout.join(
        F.broadcast(q) if broadcast_queries else q, "cell"
    )

    # Per-pair approx score stays JVM-side: codegen cosine(code, qv)
    # ranks each query's candidates IDENTICALLY to the serial scorer's
    # code·q̂/‖code‖ (the extra 1/‖qv‖ factor is constant per query, so
    # per-query ordering — all the cut uses — is unchanged), and the
    # first cut of this function measured the Arrow crossing as the
    # wall: shipping a 64-double qv per PAIR into a pandas UDF cost
    # 7.5 s at sf1 where this expression runs in 1.3 s.  nanvl floors
    # zero-norm codes: NaN sorts ABOVE every double in Spark ordering,
    # so an unfloored zero vector would top every candidate list.
    code_dbl = F.transform(F.col("code"), lambda x: x.cast("double"))
    scored = pairs.select(
        "qid",
        "vec_id",
        "qv",
        F.nanvl(cosine_expr(code_dbl, F.col("qv")), F.lit(-2.0)).alias(
            "acos"
        ),
    )
    if exclude_self:
        scored = scored.where(F.col("vec_id") != F.col("qid"))
    w_cut = Window.partitionBy("qid").orderBy(
        F.desc("acos"), F.asc("vec_id")
    )
    surv = (
        scored.withColumn("rn", F.row_number().over(w_cut))
        .where(F.col("rn") <= IVF_RERANK)
        .select("qid", "vec_id")
    )

    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qside = queries.select("qid", "qv")
    # the re-rank sides scale with |queries| (surv = |queries|·RERANK
    # ids, qside = every query vector), so the broadcast hints must
    # honor the same opt-out as the cell join — a forced hint here
    # would bypass autoBroadcastJoinThreshold at exactly the scale the
    # flag targets (ADVICE r13); unhinted, AQE picks the strategy
    if broadcast_queries:
        surv, qside = F.broadcast(surv), F.broadcast(qside)
    exact = (
        e.join(surv, "vec_id")
        .join(qside, "qid")
        .select(
            "qid",
            "vec_id",
            "label",
            F.round(cosine_expr(dbl, F.col("qv")), 6).alias("cosine"),
        )
    )
    w_rank = Window.partitionBy("qid").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        exact.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= k)
        .drop("rn")
        .orderBy("qid", F.desc("cosine"), F.asc("vec_id"))
    )


#: query rows in the registry kNN-join keys (vec_id < this bound)
KNN_JOIN_QUERIES = 30
KNN_JOIN_K = 3


def _knn_join_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.where(F.col("vec_id") < KNN_JOIN_QUERIES).select(
        F.col("vec_id").alias("qid"), dbl.alias("qv")
    )


def sim_knn_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_sim_knn_join_exact: brute-force top-K neighbors per query row
    (bounded query set × full corpus — the exact ground truth the IVF
    kNN join is pinned against, and the generalization of
    ``dedup_embedding``'s top-1 to ranked lists)."""
    from pyspark.sql.window import Window

    q = _knn_join_queries(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    c = e.select("vec_id", "label", dbl.alias("cv"))
    scored = c.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        "label",
        F.round(cosine_expr(F.col("cv"), F.col("qv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_JOIN_K)
        .orderBy("qid", "rank")
    )


def sim_knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_sim_knn_join_ivf: the distributed index-backed kNN join over
    the same bounded query set — approximate (probed cells) ⇒
    rows-only; recall@3 vs the exact twin pytest-pinned."""
    return ivf_knn_join(
        spark, sf_dir, _knn_join_queries(spark, sf_dir), k=KNN_JOIN_K
    )


#: cosine threshold above which a query document counts as a duplicate
#: of an indexed one (the fixture's true-neighbor cosines sit at
#: 0.24–0.38, so 0.2 separates signal from noise there)
DEDUP_INDEX_TAU = 0.2


def sim_dedup_against_index_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q_dedup_against_index_exact: for each incoming document (the
    bounded query set), does the INDEXED corpus already hold a
    near-duplicate (cosine ≥ DEDUP_INDEX_TAU)?  The admission gate a
    training pipeline runs on every new batch, in its brute-force
    ground-truth form: top-1 neighbor per query + threshold flag."""
    from pyspark.sql.window import Window

    q = _knn_join_queries(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    c = e.select("vec_id", dbl.alias("cv"))
    scored = c.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        F.round(cosine_expr(F.col("cv"), F.col("qv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "qid",
            F.col("vec_id").alias("nearest_id"),
            "cosine",
            (F.col("cosine") >= DEDUP_INDEX_TAU).alias("is_dup"),
        )
        .orderBy("qid")
    )


def sim_dedup_against_index_ivf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q_dedup_against_index_ivf: the same admission gate through the
    written IVF index — :func:`ivf_knn_join` at k=1 + threshold flag.
    Approximate (probed cells) ⇒ rows-only; the pytest twin pins flag
    agreement with the exact gate ≥ 0.9 at fixture scale (a missed
    neighbor can only flip is_dup toward False — admission errs open,
    never silently drops)."""
    top1 = ivf_knn_join(
        spark, sf_dir, _knn_join_queries(spark, sf_dir), k=1
    )
    return top1.select(
        "qid",
        F.col("vec_id").alias("nearest_id"),
        "cosine",
        (F.col("cosine") >= DEDUP_INDEX_TAU).alias("is_dup"),
    ).orderBy("qid")


#: Analytic twin of the exact admission gate.
DEDUP_AGAINST_INDEX_SQL = f"""
WITH dbl AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS vec_id,
         ROUND(
           list_reduce(list_prepend(0.0,
               list_transform(generate_series(1, len(q.v)),
                              i -> c.v[i] * q.v[i])),
             (s, x) -> s + x)
           / (sqrt(list_reduce(list_prepend(0.0,
                 list_transform(c.v, x -> x * x)), (s, x) -> s + x))
              * sqrt(list_reduce(list_prepend(0.0,
                 list_transform(q.v, x -> x * x)), (s, x) -> s + x)))
         , 6) AS cosine
  FROM dbl q JOIN dbl c
    ON q.vec_id < {KNN_JOIN_QUERIES} AND c.vec_id <> q.vec_id
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM scored
)
SELECT qid, vec_id AS nearest_id, cosine,
       cosine >= {DEDUP_INDEX_TAU} AS is_dup
FROM ranked
WHERE rn = 1
ORDER BY qid
"""


#: Radius search: cosine threshold and the bounded candidate id range
#: (the verifier role — at scale the candidate set comes from the IVF
#: cells above, exactly as ngram-Jaccard verifies MinHash candidates).
RADIUS_TAU = 0.15
RADIUS_MAX_ID = 150


def sim_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_sim_radius: range similarity search — every vector within cosine
    ≥ τ of the probe (the "find all near matches" complement of top-k,
    which can only answer "find the k nearest").

    Same single-pass fold-per-row plan as q_sim_topk, but the cut is a
    scan-side predicate instead of a global k-merge — output size is
    data-dependent, so the operator reports the full matching set.  The
    id bound documents the verifier role: at 100 TB the radius predicate
    runs over ANN candidates, not the raw corpus."""
    e = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < RADIUS_MAX_ID
    )
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    cos = F.round(cosine_expr(dbl, _probe_col()), 6)
    return (
        e.select("vec_id", "label", cos.alias("cosine"))
        .where(F.col("cosine") >= RADIUS_TAU)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
    )


SIM_RADIUS_SQL = f"""
WITH probe AS (SELECT {_probe_sql_list()}::DOUBLE[] AS p)
SELECT vec_id, label, cosine
FROM (
  SELECT vec_id, label,
         ROUND(
           list_reduce(list_prepend(0.0,
               list_transform(generate_series(1, 64),
                              i -> CAST(embedding[i] AS DOUBLE) * p[i])),
             (s, x) -> s + x)
           / (sqrt(list_reduce(list_prepend(0.0,
                 list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
               (s, x) -> s + x))
              * sqrt(list_reduce(list_prepend(0.0,
                 list_transform(p, x -> x * x)), (s, x) -> s + x)))
         , 6) AS cosine
  FROM embeddings, probe
  WHERE vec_id < {RADIUS_MAX_ID}
)
WHERE cosine >= {RADIUS_TAU}
ORDER BY cosine DESC, vec_id ASC
"""


#: Analytic twin of sim_knn_join_exact — the same sequential-fold
#: cosine the other oracles use (bit-identical across engines), ranked
#: per query on the ROUNDED value exactly as the Spark plan does.
SIM_KNN_JOIN_SQL = f"""
WITH dbl AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS vec_id, c.label,
         ROUND(
           list_reduce(list_prepend(0.0,
               list_transform(generate_series(1, len(q.v)),
                              i -> c.v[i] * q.v[i])),
             (s, x) -> s + x)
           / (sqrt(list_reduce(list_prepend(0.0,
                 list_transform(c.v, x -> x * x)), (s, x) -> s + x))
              * sqrt(list_reduce(list_prepend(0.0,
                 list_transform(q.v, x -> x * x)), (s, x) -> s + x)))
         , 6) AS cosine
  FROM dbl q JOIN dbl c
    ON q.vec_id < {KNN_JOIN_QUERIES} AND c.vec_id <> q.vec_id
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT qid, vec_id, label, cosine, rank
FROM ranked
WHERE rank <= {KNN_JOIN_K}
ORDER BY qid, rank
"""


def sim_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_ivf_index_append: the ingest-loop index-maintenance cycle as a
    driver-checkable query (VERDICT r15 task 2).  Builds a tempdir
    corpus = embeddings minus the ``vec_id % 10`` slice, builds its IVF
    layout, lands the slice in the temp primary store (the contract:
    primary first, index second), APPENDS it via
    :func:`ivf_index_append`, and returns the maintenance summary.

    Every output column is derivable from corpus arithmetic — appended
    = |slice| (the fixture has no null embeddings), skipped = 0,
    index_rows = |corpus|, refit_due = false (a uniform 1/9 append is
    far under both refit triggers; the skew bound is pytest-pinned at
    this exact construction) — so this side-effecting maintenance op
    gets a full ORACLE hash check, same discipline as the ingest keys.
    The temp corpus lives in a mkdtemp with atexit cleanup (the layout
    cache's own lifecycle rules)."""
    import atexit
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="ivf_append_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    e = load_table(spark, sf_dir, "embeddings")
    held = e.where(F.col("vec_id") % 10 == 0)
    spine = e.where(F.col("vec_id") % 10 != 0)
    spine.write.parquet(f"{root}/embeddings.parquet")
    _ivf_layout_dir(spark, root)  # build on the 90 % corpus
    held.write.mode("append").parquet(f"{root}/embeddings.parquet")
    res = ivf_index_append(
        spark, root, held.select("vec_id", "embedding")
    )
    return spark.createDataFrame(
        [
            (
                res["appended_rows"],
                res["skipped_unroutable"],
                res["index_rows"],
                res["staleness"]["refit_due"],
            )
        ],
        "appended_rows long, skipped_unroutable long, "
        "index_rows long, refit_due boolean",
    )


#: corpus-arithmetic twin of the maintenance summary: the fixture has
#: no null embeddings, the slice is exactly the %10 ids, and a uniform
#: 1/9 append sits far under both refit triggers (pytest-pinned).
IVF_INDEX_APPEND_SQL = """
SELECT CAST(count(*) FILTER (WHERE vec_id % 10 = 0) AS BIGINT)
           AS appended_rows,
       CAST(0 AS BIGINT) AS skipped_unroutable,
       CAST(count(*) AS BIGINT) AS index_rows,
       false AS refit_due
FROM embeddings
"""


QUERIES = {
    "q_sim_topk": sim_topk,
    "q_sim_radius": sim_radius,
    "q_sim_ann_ivf": sim_ann_ivf,
    "q_sim_ann_ivf_partitioned": sim_ann_ivf_partitioned,
    "q_sim_ann_ivf_batch": sim_ann_ivf_batch,
    "q_sim_knn_join_exact": sim_knn_join_exact,
    "q_sim_knn_join_ivf": sim_knn_join_ivf,
    "q_dedup_against_index_exact": sim_dedup_against_index_exact,
    "q_dedup_against_index_ivf": sim_dedup_against_index_ivf,
    "q_ivf_index_append": sim_ivf_index_append,
}

ORACLE = {
    "q_sim_topk": SIM_TOPK_SQL,
    "q_sim_radius": SIM_RADIUS_SQL,
    "q_sim_knn_join_exact": SIM_KNN_JOIN_SQL,
    "q_dedup_against_index_exact": DEDUP_AGAINST_INDEX_SQL,
    "q_ivf_index_append": IVF_INDEX_APPEND_SQL,
    # q_sim_ann_ivf / the batch + ivf kNN-join and
    # admission-gate forms: approximate-recall ANN — rows-only.
}
