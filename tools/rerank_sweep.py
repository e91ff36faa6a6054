#!/usr/bin/env python
"""IVF_RERANK bytes-vs-recall knee sweep (VERDICT r11 #7).

The written-layout probes keep the top IVF_RERANK (=4096) candidates
from the approximate code scan and exact-re-rank ONLY those from the
source corpus.  4096 was one measured point (sf10's truncating 50k→4k
cut held recall@10 = 1.0, suggesting it is generous).  This sweeps the
cut at 256/512/1024/2048/4096 for BOTH approximate orders (int8 code
cosine, PQ ADC) and reports recall@10 plus the re-rank read cost
(survivors × 256 B — the id-keyed float-vector fetch at scale).

Method: the REAL fits — spherical
MLlib coarse quantizer (``ivf_centroids``) and seeded PQ codebooks
(``pq_codebooks``) — plus the REAL quantizers (``_quantize_codes``, the
``_pq_encode_udf`` math) drive a NumPy re-enactment of the probe:
assignment → nprobe cells → approximate order → cut → exact order of
survivors.  Recall is averaged over 20 held-out probes (fresh jitter of
corpus rows), not just the registry's fixed PROBE.

    python tools/rerank_sweep.py [sf_dir ...]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysqldump_to_parquet_spark.llm import similarity as S  # noqa: E402

CUTS = (256, 512, 1024, 2048, 4096)
NOISE_STD = 0.1
N_PROBES = 20
VEC_BYTES = 256  # 64 × float32: the source-corpus bytes per re-ranked id


def corpus_state(spark, sf_dir: str):
    cent = np.ascontiguousarray(S.ivf_centroids(spark, sf_dir))
    books = np.ascontiguousarray(S.pq_codebooks(spark, sf_dir))
    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    ids = t["vec_id"].to_numpy()
    mat = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    unit = mat / np.where(norms > 0, norms, 1.0)

    cent_sq = (cent * cent).sum(axis=1)
    n = len(unit)
    assign = np.empty(n, dtype=np.int32)
    for lo in range(0, n, 50_000):
        hi = min(lo + 50_000, n)
        assign[lo:hi] = (
            cent_sq[None, :] - 2.0 * (unit[lo:hi] @ cent.T)
        ).argmin(axis=1)

    codes, _scale = S._quantize_codes(unit)
    codes = codes.astype(np.float64)
    code_norm = np.linalg.norm(codes, axis=1)
    code_norm = np.where(code_norm > 0, code_norm, 1.0)

    dsub = unit.shape[1] // S.PQ_M
    pq_ids = np.zeros((n, S.PQ_M), dtype=np.int64)
    bsq = (books * books).sum(axis=2)  # (m, k)
    for m in range(S.PQ_M):
        sub = unit[:, m * dsub : (m + 1) * dsub]
        pq_ids[:, m] = (bsq[m][None, :] - 2.0 * (sub @ books[m].T)).argmin(1)

    return ids, unit, assign, cent, cent_sq, codes, code_norm, books, pq_ids


def sweep(spark, sf_dir: str) -> None:
    (
        ids, unit, assign, cent, cent_sq, codes, code_norm, books, pq_ids
    ) = corpus_state(spark, sf_dir)
    n = len(ids)
    nprobe = max(1, int(round(len(cent) * S.IVF_SCAN_FRACTION)))
    dsub = unit.shape[1] // S.PQ_M

    rng = np.random.default_rng(11)
    probe_sets = {
        # near-cluster (realistic) and random-direction (adversarial —
        # true top-10 scattered, the regime where the approximate
        # order's job is hardest); see ann_fit_ablation.py
        "clustered": unit[:N_PROBES]
        + rng.normal(0.0, NOISE_STD, size=(N_PROBES, unit.shape[1])),
        "uniform": rng.normal(0.0, 1.0, size=(N_PROBES, unit.shape[1])),
    }
    for kind, probes in probe_sets.items():
        _sweep_probes(
            sf_dir, kind, probes, ids, unit, assign, cent, cent_sq,
            codes, code_norm, books, pq_ids, nprobe, dsub,
        )


def _sweep_probes(
    sf_dir, kind, probes, ids, unit, assign, cent, cent_sq,
    codes, code_norm, books, pq_ids, nprobe, dsub,
):
    import numpy as np  # noqa: F811 (tool-local)

    n = len(ids)
    # recall_sum[(order, cut)] and candidate-count accumulator
    acc = {(o, c): 0 for o in ("int8", "pq") for c in CUTS}
    cand_total = 0
    for p in probes:
        p_hat = p / np.linalg.norm(p)
        cos = unit @ p_hat
        exact = set(ids[np.lexsort((ids, -np.round(cos, 6)))[:10]].tolist())
        cells = np.argsort(cent_sq - 2.0 * (cent @ p_hat))[:nprobe]
        cidx = np.flatnonzero(np.isin(assign, cells))
        cand_total += len(cidx)

        approx = {
            "int8": (codes[cidx] @ p_hat) / code_norm[cidx],
            "pq": np.einsum(
                "mkd,md->mk", books, p_hat.reshape(S.PQ_M, dsub)
            )[np.arange(S.PQ_M)[None, :], pq_ids[cidx]].sum(axis=1),
        }
        for order, score in approx.items():
            rank = np.lexsort((ids[cidx], -score))
            for cut in CUTS:
                keep = cidx[rank[:cut]]
                kc = cos[keep]
                top = set(
                    ids[keep[np.lexsort((ids[keep], -np.round(kc, 6)))[:10]]]
                    .tolist()
                )
                acc[(order, cut)] += len(exact & top)

    for order in ("int8", "pq"):
        for cut in CUTS:
            print(
                json.dumps(
                    {
                        "sf_dir": sf_dir,
                        "rows": n,
                        "probe_kind": kind,
                        "order": order,
                        "rerank_cut": cut,
                        "recall_at_10": round(
                            acc[(order, cut)] / (10 * N_PROBES), 3
                        ),
                        "mean_candidates": int(cand_total / N_PROBES),
                        "rerank_read_kb": round(
                            min(cut, cand_total / N_PROBES)
                            * VEC_BYTES
                            / 1024,
                            1,
                        ),
                    }
                )
            )


def main() -> None:
    from mysqldump_to_parquet_spark.session import get_spark

    dirs = sys.argv[1:] or ["/tmp/sf1", "/tmp/sf10"]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(
        app_name="rerank-sweep",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    for d in dirs:
        sweep(spark, d)
    spark.stop()


if __name__ == "__main__":
    main()
