#!/usr/bin/env python
"""IVF fit-sample ablation at ≥1M rows (VERDICT r11 #2).

``_ivf_fit_sample_target`` (the ADVICE r10 fix) grows the quantizer fit
sample with the grid — but it only DEPARTS from the old fixed-20k
sample once cells × 8 > 20 000, i.e. corpus ≳ 390k rows, and the
largest ANN corpus measured through r11 was sf10's 200k.  This tool
measures the regime the fix exists for:

1. **Corpus**: 500 jittered copies of sf0.1's 2 000 embeddings → 1M
   rows at ``--out`` (default /tmp/ann1m).  Key-shifted vec_ids like
   ``gen_sf1``, plus deterministic per-copy coordinate noise
   (hash-seeded, std ≈ 0.1 — comparable to the base coordinate scale,
   copies land at cosine ≈ 0.78 of their source) so the 1M vectors are
   genuinely distinct: bit-identical copies would let a quantizer that
   learned only the 2 000 source points look perfect.
2. **Two fits of the REAL quantizer path** (``ivf_centroids`` —
   seeded-uniform sample, spherical MLlib k-means, 4 000-cell grid at
   n=1M): the shipped scaled sample (32 000 rows = cells × 8) vs the
   pre-fix fixed 20 000 (≈5 points/cell — the undertrained regime the
   r10 fixture sweep measured at recall 0.5–0.7).
3. **Recall@10 over 20 held-out probes**, evaluated with the same
   geometry the Spark probe uses (unit vectors, squared-L2 argmin
   assignment, nprobe = cells/4 nearest centroids): candidates = rows
   in probed cells, recall = |exact top-10 ∩ candidate top-10| / 10.
   This isolates the QUANTIZER's recall — the written probe's int8 +
   IVF_RERANK refine stage is order-preserving far beyond top-10
   (BASELINE.md records that margin).

Prints one JSON line per arm; paste the result into BASELINE.md.

    python tools/ann_fit_ablation.py [--out /tmp/ann1m] [--copies 500]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
NOISE_STD = 0.1
N_PROBES = 20


def build_corpus(spark, out: str, copies: int) -> None:
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{SRC}/embeddings.parquet")
    base = e.agg(F.max("vec_id")).collect()[0][0] + 1
    c = spark.range(copies).withColumnRenamed("id", "copy")
    # uniform hash noise in [-0.5, 0.5) scaled to std NOISE_STD
    # (uniform std = width/sqrt(12)); deterministic in (vec_id, copy, i)
    width = NOISE_STD * (12.0 ** 0.5)

    def jitter(x, i):
        h = F.pmod(F.hash(F.col("vec_id"), F.col("copy"), i, F.lit(42)), F.lit(100_000))
        return (x + ((h / 100_000.0) - 0.5) * width).cast("float")

    out_df = (
        e.crossJoin(c)
        .select(
            (F.col("vec_id") + F.col("copy") * base).alias("vec_id"),
            F.transform("embedding", jitter).alias("embedding"),
            "label",
        )
    )
    out_df.repartition(32).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet"
    )


def load_numpy(out: str):
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{out}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = t["vec_id"].to_numpy()
    mat = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    mat /= np.where(norms > 0, norms, 1.0)
    return ids, mat


#: nprobe fractions evaluated per fit: the deployed operating point
#: (IVF_SCAN_FRACTION = 0.25) plus tighter settings a latency-tuned
#: deployment runs — quantizer quality only DISCRIMINATES at tight
#: nprobe (at 25 % of a 4 000-cell grid, 1 000 probed cells forgive
#: even an undertrained fit; measured r12: both arms 1.0 there).
NPROBE_FRACS = (0.01, 0.02, 0.05, 0.25)


def recall_for(centroids, ids, unit, probes) -> dict:
    """frac → mean recall@10 over the probe set, blocked so the
    (n × cells) distance matrix never materializes whole."""
    import numpy as np

    cent = np.ascontiguousarray(centroids)
    cent_sq = (cent * cent).sum(axis=1)
    n = len(unit)
    assign = np.empty(n, dtype=np.int32)
    for lo in range(0, n, 50_000):
        hi = min(lo + 50_000, n)
        d2 = cent_sq[None, :] - 2.0 * (unit[lo:hi] @ cent.T)
        assign[lo:hi] = d2.argmin(axis=1)

    hits = {f: 0 for f in NPROBE_FRACS}
    for p in probes:
        p_hat = p / np.linalg.norm(p)
        cos = unit @ p_hat  # unit rows: this IS the cosine order
        order = np.lexsort((ids, -np.round(cos, 6)))
        exact = set(ids[order[:10]].tolist())
        pd2 = cent_sq - 2.0 * (cent @ p_hat)
        cell_rank = np.argsort(pd2)
        for frac in NPROBE_FRACS:
            nprobe = max(1, int(round(len(cent) * frac)))
            cells = cell_rank[:nprobe]
            cidx = np.flatnonzero(np.isin(assign, cells))
            corder = np.lexsort((ids[cidx], -np.round(cos[cidx], 6)))
            top = set(ids[cidx[corder[:10]]].tolist())
            hits[frac] += len(exact & top)
    return {f: h / (10 * len(probes)) for f, h in hits.items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/ann1m")
    ap.add_argument("--copies", type=int, default=500)
    ap.add_argument(
        "--skip-build",
        action="store_true",
        help="reuse an existing corpus at --out",
    )
    args = ap.parse_args()

    import numpy as np

    from mysqldump_to_parquet_spark.llm import similarity as S
    from mysqldump_to_parquet_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(
        app_name="ann-fit-ablation",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    if not args.skip_build:
        t0 = time.perf_counter()
        build_corpus(spark, args.out, args.copies)
        print(
            f"corpus built: {time.perf_counter() - t0:.1f}s", file=sys.stderr
        )

    ids, unit = load_numpy(args.out)
    rng = np.random.default_rng(7)
    base = unit[:N_PROBES]  # held-out probes: fresh jitter of corpus rows
    probe_sets = {
        # the realistic query: near one jitter cluster — its true top-10
        # are cluster siblings, concentrated in few cells (measured r12:
        # every arm recalls 1.0 down to nprobe 1% on these)
        "clustered": base + rng.normal(0.0, NOISE_STD, size=base.shape),
        # the adversarial query: a random direction, equidistant from
        # everything — its true top-10 scatter across many cells, so
        # quantizer quality (the thing the fit sample buys) is what
        # decides whether the probed nprobe cells contain them
        "uniform": rng.normal(0.0, 1.0, size=base.shape),
    }

    n = len(ids)
    cells = S._ivf_cells(n)
    arms = {
        "scaled_sample": None,  # the shipped _ivf_fit_sample_target
        "pinned_20k": lambda _cells: 20_000,  # the pre-ADVICE-r10 fixed sample
    }
    orig = S._ivf_fit_sample_target
    for arm, patch in arms.items():
        S._IVF_CENTROIDS.clear()  # force a re-fit per arm
        S._ivf_fit_sample_target = patch or orig
        try:
            t0 = time.perf_counter()
            cent = S.ivf_centroids(spark, args.out)
            fit_s = time.perf_counter() - t0
            recs = {
                kind: recall_for(cent, ids, unit, probes)
                for kind, probes in probe_sets.items()
            }
        finally:
            S._ivf_fit_sample_target = orig
        print(
            json.dumps(
                {
                    "arm": arm,
                    "rows": n,
                    "cells": cells,
                    "fit_sample_target": (patch or orig)(cells),
                    "fit_s": round(fit_s, 1),
                    "recall_at_10": {
                        kind: {
                            f"nprobe_{f}": round(r, 3)
                            for f, r in rec.items()
                        }
                        for kind, rec in recs.items()
                    },
                    "probes": N_PROBES,
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
