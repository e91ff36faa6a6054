#!/usr/bin/env python
"""Regenerate the query table + totals inside COVERAGE.md from the live
``__spark_entry__`` registry, keeping the hand-written prose (header and
"non-query surfaces" tail) intact.

Run from the repo root: ``python tools/gen_coverage.py``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrypoint  # noqa: E402

#: Extra detail for rows-only entries (everything else gets the default).
ROWS_ONLY_NOTES = {
    "q_agg_sketch_distinct": (
        "rows-only (engine-specific HLL sketch; ≤5% accuracy pytest-asserted)"
    ),
    "q_agg_approx_distinct": (
        "rows-only (HLL++; exact twin q_agg_distinct hash-checked, "
        "≤5% accuracy pytest-asserted)"
    ),
    "q_agg_histogram_approx": (
        "rows-only (sketch buckets; exact twin q_agg_histogram "
        "hash-checked, bracketing pytest-asserted)"
    ),
    "q_agg_weighted_median_approx": (
        "rows-only (bucketed sketch, the SCALE PRIMARY at 1.9×/100×; "
        "exact q_agg_weighted_median brackets it in pytest)"
    ),
    "q_dedup_near": (
        "rows-only (seeded LSH; recall 1.0 = 25/25 vs exact all-pairs "
        "Jaccard≥0.4 truth at sf0.01, pytest-pinned; precision exact "
        "by construction — verify stage is exact Jaccard)"
    ),
    "q_dedup_near_candidates": (
        "rows-only but DETERMINISTIC (fixed-seed banding, partition-"
        "independent pair set, pytest-asserted) — pins the exact "
        "candidate stage of q_dedup_near"
    ),
    "q_dedup_simhash": (
        "rows-only (engine-specific xxhash64 fingerprints; quantitative "
        "bound pytest-pinned at sf0.01: all 25 true near-dup pairs "
        "within Hamming ≤ 8 — measured max 5 — random-pair median ≥ 12 "
        "— measured 18; plus bit-packing + determinism invariants)"
    ),
    "q_sim_ann_ivf": (
        "rows-only (spherical IVF, corpus-adaptive grid min(4√n, n/8) "
        "cells at a 25% scan fraction — r10; recall@10 ≥ 0.7 vs exact "
        "q_sim_topk at sf0.01 — measured 0.8/0.8/1.0 across "
        "sf0.001/0.01/0.1 — pytest-pinned; quantizer fit on a SEEDED "
        "UNIFORM sample — layout-independent, sorted-corpus property "
        "test pins ≥ 0.7)"
    ),
    "q_sim_ann_ivf_partitioned": (
        "rows-only (probe over the WRITTEN partitionBy(cell) IVF "
        "layout — int8 codes since r11, ~1/4 the probe bytes "
        "(pinned ≤1/3), top-4096 code-cosine survivors exact-re-ranked "
        "from the source corpus; cell IN (…) reaches the scan as a "
        "PartitionFilter, nprobe/cells of the data read; write-time "
        "and probe-time assignment share the cached centroids, so the "
        "top-10 EQUALS sim_ann_ivf's exactly — equality + pruning + "
        "bytes pytest-asserted)"
    ),
    "q_sim_ann_ivf_batch": (
        "rows-only (batched multi-probe plan, r13: M probes in ONE "
        "composed job — union-cell scan, vectorized per-(probe, "
        "candidate) scores, WindowGroupLimit rank cut, one grouped "
        "broadcast re-rank; every probe's rows bit-identical to the "
        "probe-parametric serial path (one shared scorer), pytest-"
        "asserted; 12–25× threaded-serial QPS at M=32, SCALING.md)"
    ),
    "q_sim_knn_join_ivf": (
        "rows-only (distributed index-backed kNN join, r13: executor-"
        "side cell routing + BroadcastHashJoin on cell — the corpus "
        "side never shuffles — + exact re-rank; recall@3 ≥0.8 pytest-"
        "pinned (measured 0.911), returned cosines exact, twin "
        "q_sim_knn_join_exact hash-checked)"
    ),
    "q_dedup_against_index_ivf": (
        "rows-only (admission gate through the written IVF index, r13: "
        "ivf_knn_join k=1 + cosine ≥ τ flag; no-false-positive "
        "invariant (returned cosines are exact) + flag agreement ≥0.9 "
        "pytest-pinned, measured 30/30; exact twin "
        "q_dedup_against_index_exact hash-checked)"
    ),
    "q_embed_pca": (
        "rows-only (64×64 driver eigh not SQL-expressible; covariance "
        "input is EXACT fixed-point — q_embed_covariance hash-checked — "
        "and the projection is pinned by a full NumPy differential in "
        "tests/test_decomp.py: exact covariance equality, orthonormal "
        "sign-pinned components, per-vector projection equality)"
    ),
    "q_ingest_mysqldump": (
        "rows-only (side-effecting parquet sink; round-trip equality + "
        "100+ ingest unit/property/differential tests)"
    ),
}
DEFAULT_ROWS_ONLY = "rows-only (approx/side-effecting)"

ANNOTATIONS = {
    "q_decontaminate": "DuckDB hash-match (train/eval n-gram leakage join)",
    "q_agg_weighted_median": (
        "DuckDB hash-match (GROUND TRUTH ONLY — per-group sort window, "
        "5.5×/100×; q_agg_weighted_median_approx is the scale primary)"
    ),
    "q_win_running_distinct": (
        "DuckDB hash-match (GROUND TRUTH — per-type window sort, "
        "4.0×/100×; q_win_running_distinct_daily is the scale primary)"
    ),
    "q_win_running_distinct_daily": (
        "DuckDB hash-match (day-grain scale primary: groupBy pre-agg + "
        "tiny window; differential pytest vs the exact per-event form)"
    ),
}


def main() -> None:
    queries = entrypoint.queries()
    oracle = entrypoint.oracle_sql()
    modules = {}
    for mod in entrypoint._MODULES:
        prefix = "mysqldump_to_parquet_spark."
        short = mod.__name__.removeprefix(prefix)
        for key in mod.QUERIES:
            modules[key] = short

    lines = ["| queries() key | module | correctness check |", "|---|---|---|"]
    for key in sorted(queries):
        if key in oracle:
            check = ANNOTATIONS.get(key, "DuckDB hash-match")
        else:
            check = ROWS_ONLY_NOTES.get(key, DEFAULT_ROWS_ONLY)
        lines.append(f"| `{key}` | `{modules[key]}` | {check} |")
    n_rows_only = sum(1 for k in queries if k not in oracle)
    lines.append("")
    lines.append(
        f"Total: {len(queries)} queries, {len(queries) - n_rows_only} "
        f"oracle-checked ({n_rows_only} rows-only by design: approximate"
    )
    lines.append("or side-effecting ops).")

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")
    text = open(path).read()
    # Replace from the table header through the "Total: ..." sentence.
    new = re.sub(
        r"\| queries\(\) key \| module \| correctness check \|.*?or side-effecting ops\)\.",
        "\n".join(lines),
        text,
        flags=re.S,
    )
    open(path, "w").write(new)
    print(f"COVERAGE.md: {len(queries)} queries, {n_rows_only} rows-only")


if __name__ == "__main__":
    main()
