#!/usr/bin/env python
"""Concurrent-probe (QPS) measurement for the written IVF layout
(VERDICT r11 #3, batched form r12 #2): every probe number through r11
was a single-query wall, but a deployed index serves many queries at
once.

Two serving shapes:

* **Threaded serial probes** (``--levels``): N ∈ {1, 8, 32} threads
  sharing one SparkSession, each running the REAL probe-parametric
  serial path (``similarity.ivf_probe_topk`` — r13 removed this tool's
  mirrored probe bodies).  r12 measured the ceiling of this shape at
  ~1 QPS/session: two scheduled jobs + one ≤IVF_RERANK-row collect per
  probe serialize on the Python driver regardless of thread count.
* **Batched multi-probe** (``--batched``): all M probes composed into
  ONE plan (``similarity.ann_probe_batch`` — union cell scan →
  per-(probe, candidate) vectorized scores → per-probe WindowGroupLimit
  cut → one grouped broadcast re-rank).  Aggregate QPS = M / wall of
  the single collect.  Bit-identity with the serial path is
  pytest-pinned (tests/test_llm.py::test_ann_batch_equals_serial).

Each probe is a DISTINCT vector (fresh jitter of corpus rows, so
distinct cell sets).  Layout build and quantizer fits go through the
real cached paths, so warm probes hit the lock-free cache exactly as
deployed.

    python tools/ann_qps.py [--sf-dir /tmp/sf1] [--probes 32] [--batched]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # sibling tools

NOISE_STD = 0.1


def _probe_vectors(sf_dir: str, n: int):
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["embedding"]
    )
    base = np.array(t["embedding"].to_pylist()[:n], dtype=np.float64)
    rng = np.random.default_rng(11)
    return base + rng.normal(0.0, NOISE_STD, size=base.shape)


def run_level(fn, probes, concurrency: int) -> dict:
    walls = [None] * len(probes)

    def one(i):
        t0 = time.perf_counter()
        fn(probes[i])
        walls[i] = time.perf_counter() - t0

    t0 = time.perf_counter()
    if concurrency == 1:
        for i in range(len(probes)):
            one(i)
    else:
        with ThreadPoolExecutor(max_workers=concurrency) as pool:
            list(pool.map(one, range(len(probes))))
    total = time.perf_counter() - t0
    ws = sorted(walls)
    return {
        "concurrency": concurrency,
        "probes": len(probes),
        "total_s": round(total, 2),
        "qps": round(len(probes) / total, 2),
        "p50_s": round(ws[len(ws) // 2], 2),
        "p95_s": round(ws[int(len(ws) * 0.95) - 1], 2),
    }


def run_batched(spark, sf_dir, probes, with_recall: bool = False) -> dict:
    from mysqldump_to_parquet_spark.llm import similarity as S

    def batch(ps):
        return S.ann_probe_batch(spark, sf_dir, ps)

    # warm the code path (codegen, Python worker pool) on a 2-probe batch
    batch(probes[:2]).collect()
    t0 = time.perf_counter()
    rows = batch(probes).collect()
    total = time.perf_counter() - t0
    rec = {
        "batched": True,
        "probes": len(probes),
        "rows": len(rows),
        "total_s": round(total, 2),
        "qps": round(len(probes) / total, 2),
    }
    if with_recall:  # recall@10 vs NumPy exact (r13 #7: the 1M row)
        from knn_join_1m import load_numpy  # shared Arrow fast path

        ids, unit = load_numpy(sf_dir)
        by_p: dict = {}
        for r in rows:
            by_p.setdefault(r.probe_id, set()).add(r.vec_id)
        hits = 0
        for p in range(len(probes)):
            cos = np.round(unit @ (probes[p] / np.linalg.norm(probes[p])), 6)
            exact = set(ids[np.lexsort((ids, -cos))[:10]].tolist())
            hits += len(exact & by_p.get(p, set()))
        rec["recall_at_10"] = round(hits / (10 * len(probes)), 4)
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/sf1")
    ap.add_argument("--probes", type=int, default=32)
    ap.add_argument(
        "--levels", default="1,8,32", help="comma-separated concurrency levels"
    )
    ap.add_argument(
        "--batched",
        action="store_true",
        help="measure the one-plan M-probe batch instead of threaded "
        "serial probes",
    )
    ap.add_argument(
        "--recall",
        action="store_true",
        help="with --batched: also score recall@10 vs a NumPy exact "
        "ground truth (r13 #7 — the 1M-corpus row)",
    )
    args = ap.parse_args()

    from mysqldump_to_parquet_spark.llm import similarity as S
    from mysqldump_to_parquet_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(
        app_name="ann-qps", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    # build once + hold the file-index handles open (the r12 probe fix)
    S._ivf_layout_df(spark, args.sf_dir)
    S.ivf_centroids(spark, args.sf_dir)
    probes = _probe_vectors(args.sf_dir, args.probes)

    if args.batched:
        rec = {"layout": "ivf_int8_batched", "sf_dir": args.sf_dir}
        rec.update(
            run_batched(spark, args.sf_dir, probes, with_recall=args.recall)
        )
        print(json.dumps(rec))
    else:
        def fn(p):
            return S.ivf_probe_topk(spark, args.sf_dir, p).collect()

        fn(probes[0])  # warm the code path (codegen, worker pool)
        for lvl in [int(x) for x in args.levels.split(",")]:
            rec = {"layout": "ivf_int8", "sf_dir": args.sf_dir}
            rec.update(run_level(fn, probes, lvl))
            print(json.dumps(rec))
    spark.stop()


if __name__ == "__main__":
    main()
