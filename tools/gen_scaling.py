#!/usr/bin/env python
"""Regenerate SCALING.md: headline-operator wall time across the three
fixture scale factors (sf0.001 → sf0.01 → sf0.1, 100× data end to end),
min-of-3 per point on local[32].

    python tools/gen_scaling.py

A scalable plan should grow wall time far slower than data until the
cores saturate (fixed job overhead dominates small inputs), then
approach linear.  Superlinear growth flags a plan that would not survive
the next 100×.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "q_agg_groupby",
    "q_join_inner",
    "q_join_broadcast",
    "q_win_rank",
    "q_topk_per_group",
    "q_join_asof",
    "q_dedup_exact",
    "q_dedup_near",
    "q_sim_topk",
    "q_text_stats",
    "q_top_terms",
    "q_split_hash",
    "q_pack_sequences",
    "q_resample_locf",
    "q_decontaminate",
    "q_multimodal_frames",
    "q_join_interval",
    "q_entropy",
    "q_anomaly_mad",
    "q_tpch_q21",
    "q_tpch_q9",
    "q_dedup_chunks",
    "q_source_overlap",
    "q_sample_mixture",
    # round-3 additions
    "q_pagerank",
    "q_multimodal_decode",
    "q_unigram_logprob",
    "q_chunk_tokens",
    "q_agg_histogram_approx",
    "q_pii_redact",
    "q_dedup_url",
    "q_kmeans",
    "q_embed_quantize",
    "q_bm25",
    "q_graph_bfs",
    "q_skyline",
    "q_time_rollup",
    "q_sample_weighted",
    "q_agg_mode",
    "q_win_rolling_corr",
    "q_event_transitions",
    "q_ab_test",
    "q_fn_geo",
    "q_fn_url",
    "q_win_period_over_period",
    "q_win_running_distinct",
    "q_streaks",
    "q_match_pattern",
    "q_oov_rate",
    "q_join_spatial",
    "q_agg_weighted_median",
    "q_agg_weighted_median_approx",
    "q_multimodal_audio",
    "q_multimodal_video",
    "q_multimodal_resize",
    "q_heavy_hitters",
    "q_cdc_apply",
    "q_split_drift",
    "q_bpe_merges",
    "q_attribution_channels",
    # round-5b additions
    "q_dedup_substring",
    "q_src_xml",
    "q_zorder_cluster",
    # round-6 additions
    "q_interval_concurrency",
    "q_embed_covariance",
    "q_embed_pca",
    "q_curation_report",
    "q_dedup_semantic",
]

SFS = ["0.001", "0.01", "0.1"]

#: The heavy tail measured one more decade (synthetic /tmp/sf1 via
#: tools/gen_sf1.py — 10× sf0.1 by key-shifted replication): the queries
#: VERDICT r4 item 7 names as the thinnest part of the 100 TB story.
SF1_QUERIES = [
    "q_dedup_substring",  # round-5b: heaviest new operator
    "q_bpe_merges",
    "q_graph_bfs",
    "q_kmeans",
    "q_agg_weighted_median",
    "q_agg_weighted_median_approx",
    "q_win_running_distinct",
    "q_win_running_distinct_daily",
    "q_win_rolling_corr",
    "q_multimodal_video",
    "q_resample_locf",
    "q_tpch_q21",
    # round-6: data-volume-bound Gram fold, sweep-line pre-agg, and the
    # cell-blocked semantic dedup (pair-count-bound verify kernel)
    "q_embed_covariance",
    "q_interval_concurrency",
    "q_dedup_semantic",
    # round-13: the distributed kNN join (query set fixed at 30 rows, so
    # the decade measures the corpus side: layout scan + pair scoring
    # for the IVF form, the broadcast NLJ scan for the exact twin)
    "q_sim_knn_join_exact",
    "q_sim_knn_join_ivf",
]


#: A FOURTH decade (synthetic /tmp/sf10 via `gen_sf1.py --out /tmp/sf10
#: --copies 100`) for the three heaviest iterative/blocked frames — the
#: operators whose 100 TB story otherwise rests on one measured decade
#: (VERDICT r10 #5).
SF10_QUERIES = [
    "q_bpe_merges",
    "q_graph_bfs",
    "q_dedup_semantic",
]

#: All 22 TPC-H composite shapes (VERDICT r12 #5: only q21/q9 had any
#: decade row; multi-join plans are where replication-scaling quietly
#: breaks — broadcast thresholds flip, AQE skew paths engage).  Q1's
#: shape is registered as q_agg_groupby (SURVEY.md:184).
TPCH_QUERIES = ["q_agg_groupby"] + [f"q_tpch_q{i}" for i in range(2, 23)]


def run_tpch_sf1(spark, registry, sf1_dir: str) -> None:
    """Append/replace the TPC-H sf1 section: min-of-2 at sf0.1 and sf1
    for every composite, wall × and output × side by side."""
    rows = []
    for name in TPCH_QUERIES:
        pts, nout = {}, {}
        for label, d in (("0.1", "/root/testdata/sf0.1"), ("1", sf1_dir)):
            spark.catalog.clearCache()
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                registry[name](spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            pts[label] = best
            nout[label] = registry[name](spark, d).count()
        rows.append((name, pts["0.1"], pts["1"], nout["0.1"], nout["1"]))
        print(
            f"{name}: sf0.1 {pts['0.1']:.2f}s ({nout['0.1']} rows)  "
            f"sf1 {pts['1']:.2f}s ({nout['1']} rows)"
        )

    lines = [
        "## TPC-H composites at sf1 — all 22 multi-join shapes",
        "",
        "Same synthetic sf1 decade as above (key-shifted replication —",
        "join selectivity preserved), min-of-2, same session.  Multi-join",
        "plans are where a scale-up quietly breaks: a dimension outgrows",
        "the broadcast threshold and a BHJ flips to shuffle, AQE engages",
        "a skew path, a semi-join's build side stops fitting.  Wall × at",
        "or below ~10× (or below the output ×) survives the decade;",
        "materially above both is adjudicated in the note below.",
        "",
        "| query | sf0.1 | sf1 (10× data) | ×(10×) | out rows sf0.1→sf1 | out × |",
        "|---|---|---|---|---|---|",
    ]
    over = []
    for name, a, b, oa, ob in rows:
        ox = ob / oa if oa else float("nan")
        wx = b / a if a else float("nan")
        if wx > 12.0 and wx > ox:
            over.append((name, wx))
        lines.append(
            f"| {name} | {a:.2f}s | {b:.2f}s | {wx:.1f}× "
            f"| {oa} → {ob} | {ox:.1f}× |"
        )
    lines += [
        "",
        (
            "Queries over the ~10× line (wall × > 12 and > out ×): "
            + (
                ", ".join(f"{n} ({x:.1f}×)" for n, x in over)
                if over
                else "none"
            )
            + "."
        ),
        "",
        "Reading: every composite pays far less than the 10× data",
        "factor because the multi-join plans keep their shape across",
        "the decade — dimension sides stay broadcast (the replicated",
        "fixture grows facts and dims together, but AQE re-sizes at",
        "runtime and no BHJ flipped to SMJ), semi/anti-join build",
        "sides stay bounded by their group counts, and the scan",
        "parallelism absorbs the fact growth.  The largest factors",
        "are the EXISTS/NOT-EXISTS shapes whose probe side is the",
        "grown lineitem (q4-class) and the twice-computed revenue",
        "view (q15) — both still data-sublinear.",
    ]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING.md",
    )
    _replace_section(
        path, "## TPC-H composites at sf1", "\n".join(lines) + "\n"
    )
    print(f"wrote TPC-H sf1 section to {path}")


def run_sf10(spark, registry, sf10_dir: str) -> None:
    """Append/replace the sf10 spot-run section: min-of-2 at sf1 and
    sf10 for the three heaviest frames, wall × vs output ×."""
    sf1_dir = "/tmp/sf1"
    rows = []
    for name in SF10_QUERIES:
        pts, nout = {}, {}
        for label, d in (("1", sf1_dir), ("10", sf10_dir)):
            spark.catalog.clearCache()
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                registry[name](spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            pts[label] = best
            nout[label] = registry[name](spark, d).count()
        rows.append((name, pts["1"], pts["10"], nout["1"], nout["10"]))
        print(
            f"{name}: sf1 {pts['1']:.2f}s ({nout['1']} rows)  "
            f"sf10 {pts['10']:.2f}s ({nout['10']} rows)"
        )

    lines = [
        "## sf10 spot-run — the heaviest frames, a fourth decade",
        "",
        "Synthetic sf10 (100× sf0.1 by key-shifted replication,",
        "`tools/gen_sf1.py --out /tmp/sf10 --copies 100`; joins stay",
        "exactly as selective).  min-of-2, same session, vs /tmp/sf1 —",
        "so this row is a TRUE extra decade on top of the sf1 table",
        "above.  Same read as the sf1 table: wall × at or below ~10× (or",
        "below the output ×) survives the decade; materially above both",
        "flags a superlinear plan.",
        "",
        "| query | sf1 | sf10 (10× data) | ×(10×) | out rows sf1→sf10 | out × |",
        "|---|---|---|---|---|---|",
    ]
    for name, a, b, oa, ob in rows:
        ox = ob / oa if oa else float("nan")
        lines.append(
            f"| {name} | {a:.2f}s | {b:.2f}s | {b / a:.1f}× "
            f"| {oa} → {ob} | {ox:.1f}× |"
        )
    lines += [
        "",
        "`q_dedup_semantic`'s output is pair-quadratic in the fixture's",
        "replication factor (every doc is a 100-clique at sf10 —",
        "C(100,2) = 4950 true pairs per source doc), so its out × is the",
        "dominant term by construction; the adaptive blocking bits keep",
        "candidate work linear.  The iterative frames (bpe/bfs) hold",
        "their per-round shuffle shape — the wall × is the data term",
        "now that the scheduling floor is amortized at this scale.",
    ]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING.md",
    )
    _replace_section(path, "## sf10 spot-run", "\n".join(lines) + "\n")
    print(f"wrote sf10 section to {path}")


def _replace_section(path: str, header: str, section: str) -> None:
    """Replace (or append) one `## `-headed section of SCALING.md in
    place, leaving every other section untouched — so the full-table,
    sf1, and ANN regens can run on independent budgets without wiping
    each other's measurements."""
    import re

    text = open(path).read() if os.path.exists(path) else ""
    if header in text:
        # lambda replacement: the section is literal content, never a
        # re template (a `\d`/`\g` in a future measurement note would
        # otherwise raise `re.error: bad escape` or corrupt the file);
        # count=1 replaces exactly the one section the header names
        text = re.sub(
            rf"{re.escape(header)}.*?(?=\n## |\Z)",
            lambda m: section,
            text,
            count=1,
            flags=re.S,
        )
    else:
        text = text.rstrip() + "\n\n" + section
    open(path, "w").write(text)


def run_sf1(spark, registry, sf1_dir: str) -> None:
    """Append/replace the sf1 spot-run section in SCALING.md: min-of-2
    at sf0.1 and sf1 for the heavy tail, with the ×(10×) factor paid —
    and the OUTPUT-rows factor beside it (VERDICT r9 #8), so
    output-bound rows (wall tracks result size, not a superlinear plan)
    stop re-flagging on every regeneration."""
    rows = []
    for name in SF1_QUERIES:
        pts = {}
        nout = {}
        for label, d in (("0.1", "/root/testdata/sf0.1"), ("1", sf1_dir)):
            spark.catalog.clearCache()
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                registry[name](spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            pts[label] = best
            nout[label] = registry[name](spark, d).count()
        rows.append((name, pts["0.1"], pts["1"], nout["0.1"], nout["1"]))
        print(
            f"{name}: sf0.1 {pts['0.1']:.2f}s ({nout['0.1']} rows)  "
            f"sf1 {pts['1']:.2f}s ({nout['1']} rows)"
        )

    lines = [
        "## sf1 spot-run — the heavy tail, one more decade",
        "",
        "Synthetic sf1 (10× sf0.1 by key-shifted replication,",
        "`tools/gen_sf1.py`; joins stay exactly as selective — copies never",
        "cross-join).  min-of-2, same session.  A plan that survives 100 TB",
        "should pay well under 10× wall for 10× data until cores saturate;",
        "≈10× means compute-bound at full parallelism (acceptable),",
        "materially over 10× flags a superlinear plan.",
        "",
        "| query | sf0.1 | sf1 (10× data) | ×(10×) | out rows sf0.1→sf1 | out × |",
        "|---|---|---|---|---|---|",
    ]
    for name, a, b, oa, ob in rows:
        ox = ob / oa if oa else float("nan")
        lines.append(
            f"| {name} | {a:.2f}s | {b:.2f}s | {b / a:.1f}× "
            f"| {oa} → {ob} | {ox:.1f}× |"
        )
    lines += [
        "",
        "Reading the two × columns together: a wall × at or below the",
        "OUTPUT × is output-bound (the result itself grew — not a plan",
        "defect); a wall × well above both ~2 and the output × flags a",
        "genuinely superlinear plan.  The two standing output-bound rows:",
        "`q_resample_locf` (the gap-filled grid is ~10× larger at sf1 —",
        "wall tracks output, sharded on user_id) and `q_dedup_semantic`",
        "(the sf1 fixture replicates every document 10×, so the",
        "TRUE-duplicate pair output grows ~100×; adaptive blocking bits",
        "keep the candidate work linear — the r8 8.9× was the fixed-bit",
        "cell-growth defect, since fixed).  Iterative frames",
        "(bpe/bfs/kmeans) confirm their sf0.1 cost is scheduling floor,",
        "not data.  `q_embed_covariance` is data-volume-bound by design",
        "(one Gram fold over every vector) — ~1.6× measured.",
        "`q_win_running_distinct` exact stays ~2× (user_id keying) with",
        "the day-grain primary lower; `q_agg_weighted_median` EXACT holds",
        "~1× after the r5 distinct-value-grain pre-aggregation.",
    ]
    section = "\n".join(lines) + "\n"
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING.md",
    )
    _replace_section(path, "## sf1 spot-run", section)
    print(f"wrote sf1 section to {path}")


def run_ann(spark, sf1_dir: str | None, sf10_dir: str | None = None) -> None:
    """Append/replace the steady-state ANN probe section (VERDICT r9
    #4): for each written layout, the one-time BUILD cost and the
    min-of-3 warm PROBE cost — the number a deployment actually pays per
    query — across the sf decade."""
    from mysqldump_to_parquet_spark.llm import similarity as S

    dirs = [
        ("0.001", "/root/testdata/sf0.001"),
        ("0.01", "/root/testdata/sf0.01"),
        ("0.1", "/root/testdata/sf0.1"),
    ]
    if sf1_dir:
        dirs.append(("1", sf1_dir))
    if sf10_dir:
        dirs.append(("10", sf10_dir))

    layouts = [
        ("IVF cell layout", S._ivf_layout_dir, S.sim_ann_ivf_partitioned),
    ]
    rows = []
    for label, build_fn, probe_fn in layouts:
        for sf, d in dirs:
            n = spark.read.parquet(f"{d}/embeddings.parquet").count()
            t0 = time.perf_counter()
            build_fn(spark, d)  # cold: fingerprint miss → write layout
            build = time.perf_counter() - t0
            probe = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                probe_fn(spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()
                probe = min(probe, time.perf_counter() - t0)
            rows.append((label, sf, n, build, probe))
            print(f"{label} sf{sf}: n={n} build {build:.2f}s probe {probe:.2f}s")

    lines = [
        "## steady-state ANN probes — build once, probe across the decade",
        "",
        "The wall a deployment pays per query is the WARM probe (pruned",
        "read of the written layout), not the one-time build the combined",
        "operator wall is dominated by at fixture scale.  Build = first",
        "call in a fresh cache (layout write; for IVF also the one-time",
        "quantizer fit); probe = min-of-3 with the layout warm.",
        "IVF fit sample and cell count are corpus-bounded, so build grows",
        "with data volume while probe tracks the PRUNED fraction",
        "(nprobe/cells ≈ 1/4).",
        "",
        "| layout | sf | corpus rows | build (once) | probe (steady, min-of-3) |",
        "|---|---|---|---|---|",
    ]
    for label, sf, n, build, probe in rows:
        lines.append(
            f"| {label} | {sf} | {n} | {build:.2f}s | {probe:.2f}s |"
        )
    lines += [
        "",
        "Hyperplane LSH, the second ANN index until it was retired in favour",
        "of IVF, measured slower on every probe row: steady probe 0.94 / 0.86 /",
        "0.96 / 1.79 / 2.38 s from sf0.001 to sf10 (IVF 0.60 / 0.56 / 0.64 /",
        "0.93 / 1.03 s), batched M=32 at 0.66 QPS at sf10 and 0.26 QPS at 1M",
        "vectors (IVF 5.4–9.5 and 4.8), and its in-memory filter at 0.46 s at",
        "sf0.1 against the exact `q_sim_topk`'s 0.23 s over the same scan; it",
        "won only the one-time build, 29.3 s against 41.5 s at sf10.",
        "",
        "IVF-PQ, an 8-byte product-quantization code column written beside",
        "the int8 code and scored by lookup-table (ADC) probes, was retired",
        "so the layout keeps one code: it led these tool-measured probe rows",
        "(steady probe 0.55 / 0.51 / 0.57 / 0.78 / 0.96 s, batched M=32 14.9",
        "QPS at sf1, 9.5 at sf10 and 5.8 at 1M vectors), but its ADC order",
        "reached recall@10 0.93 at the 4096 re-rank cut on 1M distinct",
        "vectors where the int8 order held 1.0 at every cut, the JVM kNN",
        "join scores only the int8 code, and no benchmark times a PQ probe.",
        "",
        "Probe wall should grow far slower than corpus rows: the probed",
        "fraction is constant, so the pruned read grows linearly but",
        "starts from a small-file floor at tiny fixtures.  A probe ×",
        "approaching the corpus × would mean pruning stopped working.",
        "The r10 corpus-adaptive IVF grid (min(4√n, n/8) cells) raises",
        "fixture-scale probe wall vs the old fixed-64 grid (sf1: 0.35 →",
        "~1.3 s) because nprobe dirs grow with the grid while cell FILES",
        "shrink (~35 rows each at sf1) — pure listing/small-file floor;",
        "rows read stay 25 % at every grid, and at deploy scale cells",
        "are GB-sized so the finer grid only buys recall (measured",
        "0.9 → 1.0 at sf0.1).",
        "",
        "r11 layout changes shift both small-end floors UP while cutting",
        "the bytes that dominate at scale: the IVF probe is now a",
        "two-phase code-scan + exact re-rank (one extra collect + one",
        "source-corpus read per probe — ~+0.5 s of job floor at fixture",
        "scale, ~¼ the index bytes at every scale).",
        "",
        "r12 removed the probe's DRIVER floor, found by the first QPS",
        "profile: the re-rank's isin(4096 ids) cost ~3 s of py4j",
        "Literal construction (now ONE SQL string building the same",
        "pushed-In plan) and every probe re-listed all cell dirs",
        "(~1.5 s; the file-index DataFrame is now held per corpus —",
        "similarity.py _ivf_layout_df).  Probe walls dropped ~4-5×:",
        "IVF 4.30 → 0.93 s at sf1 and 5.11 → 1.03 s at sf10; the",
        "decade growth the table pins is now",
        "~2-2.5× for 400× rows — the pruned-read term barely emerges",
        "from the job floor.",
        "",
        "Companion measurements (r12, recorded in BASELINE.md /",
        "the QPS section below): the 1M-row fit-sample ablation",
        "(tools/ann_fit_ablation.py — recall floor holds at n=1M,",
        "scaled sample ahead at tight nprobe), the IVF_RERANK knee",
        "sweep (BASELINE.md — 4096 stays), and concurrent-probe QPS",
        "(tools/ann_qps.py).",
    ]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING.md",
    )
    _replace_section(path, "## steady-state ANN probes", "\n".join(lines) + "\n")
    print(f"wrote ANN probe section to {path}")


def parse_args(argv: list[str] | None = None):
    """Parse the CLI BEFORE any Spark work (VERDICT r11 #5: the old
    hand-rolled sys.argv scan had no --help / unknown-flag handling, so
    a typo'd flag fell through to the multi-minute FULL regen).
    ``--help`` and unknown flags exit here, Spark untouched."""
    import argparse

    ap = argparse.ArgumentParser(
        prog="gen_scaling.py",
        description=(
            "Regenerate SCALING.md sections.  With no mode flag, runs the "
            "FULL sf0.001→sf0.1 regen (minutes).  Mode flags run one spot "
            "section: --sf1 [DIR] (sf1 decade), --ann [SF1_DIR] "
            "[--sf10 DIR] (ANN probe decades), --sf10 [DIR] (sf10 rows)."
        ),
    )
    ap.add_argument(
        "--sf1",
        nargs="?",
        const="/tmp/sf1",
        default=None,
        metavar="DIR",
        help="run ONLY the sf1 spot section against DIR (default /tmp/sf1)",
    )
    ap.add_argument(
        "--ann",
        nargs="?",
        const="",
        default=None,
        metavar="SF1_DIR",
        help="run ONLY the ANN probe section (optional sf1 corpus dir; "
        "combine with --sf10 DIR for the sf10 probe decade)",
    )
    ap.add_argument(
        "--sf10",
        nargs="?",
        const="/tmp/sf10",
        default=None,
        metavar="DIR",
        help="run ONLY the sf10 section against DIR (default /tmp/sf10); "
        "with --ann, names the ANN sf10 corpus instead",
    )
    ap.add_argument(
        "--tpch",
        nargs="?",
        const="/tmp/sf1",
        default=None,
        metavar="DIR",
        help="run ONLY the TPC-H sf1 section (all 22 composites, "
        "min-of-2 at sf0.1 + DIR; default /tmp/sf1)",
    )
    return ap.parse_args(argv)


def main() -> None:
    args = parse_args()

    from mysqldump_to_parquet_spark.session import get_spark

    import __spark_entry__ as entrypoint

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(
        app_name="gen-scaling", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = entrypoint.queries()

    if args.sf1 is not None:
        registry[SF1_QUERIES[0]](spark, "/root/testdata/sf0.01").write.format(
            "noop"
        ).mode("overwrite").save()  # warmup
        run_sf1(spark, registry, args.sf1)
        spark.stop()
        return

    if args.ann is not None:
        registry["q_sim_topk"](spark, "/root/testdata/sf0.01").write.format(
            "noop"
        ).mode("overwrite").save()  # warmup
        run_ann(spark, args.ann or None, args.sf10)
        spark.stop()
        return

    if args.sf10 is not None:
        registry[SF10_QUERIES[0]](
            spark, "/root/testdata/sf0.01"
        ).write.format("noop").mode("overwrite").save()  # warmup
        run_sf10(spark, registry, args.sf10)
        spark.stop()
        return

    if args.tpch is not None:
        registry[TPCH_QUERIES[0]](
            spark, "/root/testdata/sf0.01"
        ).write.format("noop").mode("overwrite").save()  # warmup
        run_tpch_sf1(spark, registry, args.tpch)
        spark.stop()
        return

    # warmup: pay JVM + codegen startup outside the measurements
    registry[QUERIES[0]](spark, "/root/testdata/sf0.01").write.format(
        "noop"
    ).mode("overwrite").save()

    results: dict[str, dict[str, float]] = {}
    out_rows: dict[str, dict[str, int]] = {}
    for name in QUERIES:
        results[name] = {}
        out_rows[name] = {}
        for sf in SFS:
            spark.catalog.clearCache()
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                registry[name](spark, f"/root/testdata/sf{sf}").write.format(
                    "noop"
                ).mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            results[name][sf] = best
            if sf in ("0.001", "0.1"):  # output growth across the decade
                out_rows[name][sf] = registry[name](
                    spark, f"/root/testdata/sf{sf}"
                ).count()

    lines = [
        "# SCALING — wall time vs data size",
        "",
        f"min-of-3 per point, local[{cpus}], clearCache between points.",
        "Regenerate with `python tools/gen_scaling.py`.",
        "",
        "100× more data (sf0.001 → sf0.1) should cost far less than 100× wall:",
        "fixed job overhead dominates the small end, and the plan's parallelism",
        "absorbs growth until cores saturate.  The `×(100× data)` column is the",
        "scale-up factor actually paid; `out ×` is how much the RESULT itself",
        "grew — a wall × at or below the output × is output-bound by",
        "construction, not a superlinear plan (VERDICT r9 #8).",
        "",
        "| query | sf0.001 | sf0.01 | sf0.1 | ×(100× data) | out rows (sf0.1) | out × |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, r in results.items():
        ratio = r["0.1"] / r["0.001"] if r["0.001"] > 0 else float("nan")
        o = out_rows[name]
        ox = o["0.1"] / o["0.001"] if o.get("0.001") else float("nan")
        lines.append(
            f"| {name} | {r['0.001']:.2f}s | {r['0.01']:.2f}s | {r['0.1']:.2f}s "
            f"| {ratio:.1f}× | {o['0.1']} | {ox:.1f}× |"
        )
    lines += [
        "",
        "Expected outlier: `q_resample_locf`'s *output* (the gap-filled grid)",
        "grows linearly with users × span, so its wall tracks output size —",
        "still far below the 100× input growth, and it shards cleanly on",
        "user_id.  `q_decontaminate` (round 3) now DF-prunes and broadcasts",
        "the eval side, so the train side never shuffles; its residual",
        "growth is the shingle scan itself.  `q_embed_quantize` runs as",
        "one vectorized Arrow pass (mapInPandas) — the interpreted JVM",
        "array folds it replaced measured 3× superlinear.  Iterative frames",
        "(`q_kmeans`, `q_graph_bfs`, `q_bpe_merges`) pay a fixed per-round",
        "job-scheduling floor that dominates tiny inputs; their",
        "data-dependent cost is the assignment scan / frontier join /",
        "pair-count + merge pass, each shuffle- or map-bounded per round.",
        "Round 4 re-keyed `q_win_rolling_corr` on (user_id, event_type) —",
        "parallelism now follows user cardinality, not the 5-value type",
        "alphabet — and `q_agg_weighted_median` gained its sketch-bucketed",
        "scale primary `q_agg_weighted_median_approx` (per-(flag,bucket)",
        "weight sums replace the per-group sort window; the exact form",
        "remains registered as its ground truth).  `q_win_running_distinct`",
        "keys on user_id (high cardinality — fine as-is).",
        "`q_dedup_substring` (round 5b) shuffles one narrow row per token",
        "window by construction (the corpus-wide count needs every",
        "window exactly once), so its wall tracks the window count —",
        "sub-4× for 100× windows here, linear and skew-safe at scale",
        "(see its module docstring), with the sf1 decade below.",
    ]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md"
    )
    # a full regen must not silently drop the separately-measured
    # sections (--sf1 spot-run, --ann probes) — carry them over verbatim
    kept = ""
    if os.path.exists(path):
        import re

        # every separately-measured section must be listed here or a
        # FULL regen silently drops it (r12: sf10 was missing — latent)
        for header in (
            "## sf1 spot-run",
            "## steady-state ANN probes",
            "## concurrent probes (QPS)",
            "## sf10 spot-run",
        ):
            m = re.search(
                rf"\n{re.escape(header)}.*?(?=\n## |\Z)",
                open(path).read(),
                re.S,
            )
            if m:
                kept += m.group(0)
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n" + kept)
    print(f"wrote {path}" + (" (spot sections preserved)" if kept else ""))
    spark.stop()


if __name__ == "__main__":
    main()
