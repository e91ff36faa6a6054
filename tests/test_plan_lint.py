"""Plan-linter tests: each lint fires on a deliberately bad plan, stays
quiet on the engine's own plans, and the whole registry sweep proves the
no-row-UDF contract."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

import __spark_entry__ as entrypoint
from mysqldump_to_parquet_spark.catalog import load_table
from mysqldump_to_parquet_spark.plans.lint import (
    CARTESIAN,
    GLOBAL_SORT,
    ROW_UDF,
    SINGLE_PARTITION,
    UNPUSHED_FILTER,
    WINDOW_GROUP_AGG,
    lint_plan,
)

SF = "/root/testdata/sf0.001"


def _codes(findings):
    return {f.split(":", 1)[0] for f in findings}


def test_clean_topk_plans(spark):
    from mysqldump_to_parquet_spark.operators.relational import (
        sort_limit,
        topk_per_group,
    )

    assert lint_plan(sort_limit(spark, SF)) == []
    assert lint_plan(topk_per_group(spark, SF)) == []


def test_cartesian_detected_and_allowable(spark):
    o = load_table(spark, SF, "orders")
    c = load_table(spark, SF, "customer")
    bad = o.crossJoin(c)
    assert CARTESIAN in _codes(lint_plan(bad))
    # conscious tiny-side theta join → suppressed via allow
    from mysqldump_to_parquet_spark.operators.relational import join_theta_range

    theta = join_theta_range(spark, SF)
    assert CARTESIAN not in _codes(lint_plan(theta, allow={CARTESIAN, GLOBAL_SORT}))


def test_row_udf_detected_but_not_arrow_or_udtf(spark):
    o = load_table(spark, SF, "orders")
    slow = F.udf(lambda x: x + 1, T.LongType())
    assert ROW_UDF in _codes(lint_plan(o.select(slow("o_orderkey"))))
    # Arrow-vectorized path is the engine contract — must NOT flag
    from mysqldump_to_parquet_spark.functions.udfs import udf_pandas_scalar

    assert ROW_UDF not in _codes(lint_plan(udf_pandas_scalar(spark, SF)))
    # the intentional Python UDTF surface (BatchEvalPythonUDTF) is distinct
    from mysqldump_to_parquet_spark.functions.udfs import udtf_python

    assert ROW_UDF not in _codes(lint_plan(udtf_python(spark, SF)))


def test_single_partition_window_detected(spark):
    o = load_table(spark, SF, "orders")
    w = Window.orderBy("o_orderdate")  # no partitionBy → SinglePartition
    bad = o.select("o_orderkey", F.row_number().over(w).alias("rn"))
    assert SINGLE_PARTITION in _codes(lint_plan(bad))


def test_window_group_agg_detected_and_fixed_sites_clean(spark):
    """VERDICT r6 #3/#4: group counts via Window.partitionBy(key) with no
    orderBy hot-spot one task per key value; the lint flags the whole-
    partition frame, and the two fixed operators must no longer plan it."""
    o = load_table(spark, SF, "orders")
    w = Window.partitionBy("o_orderstatus")  # 3-value key, no orderBy
    bad = o.select("o_orderkey", F.count(F.lit(1)).over(w).alias("n"))
    assert WINDOW_GROUP_AGG in _codes(lint_plan(bad))
    # a bounded/ordered frame (running sum) is NOT this lint
    w_run = Window.partitionBy("o_custkey").orderBy("o_orderdate").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ok = o.select(F.sum("o_totalprice").over(w_run).alias("r"))
    assert WINDOW_GROUP_AGG not in _codes(lint_plan(ok))
    # the r6 offenders now partial-aggregate instead of window-counting
    from mysqldump_to_parquet_spark.llm.report import curation_report
    from mysqldump_to_parquet_spark.llm.semdedup import dedup_semantic

    assert WINDOW_GROUP_AGG not in _codes(lint_plan(curation_report(spark, SF)))
    assert WINDOW_GROUP_AGG not in _codes(
        lint_plan(dedup_semantic(spark, SF))
    )


def test_global_sort_detected_but_not_topk(spark):
    o = load_table(spark, SF, "orders")
    assert GLOBAL_SORT in _codes(lint_plan(o.orderBy("o_totalprice")))
    assert GLOBAL_SORT not in _codes(lint_plan(o.orderBy("o_totalprice").limit(5)))


def test_unpushed_filter_detected(spark):
    l = load_table(spark, SF, "lineitem")
    # null-tolerant expression over two columns: nothing pushes to the scan
    bad = l.where(F.coalesce("l_quantity", "l_discount") > 0)
    assert UNPUSHED_FILTER in _codes(lint_plan(bad))
    from mysqldump_to_parquet_spark.operators.relational import project_filter

    assert UNPUSHED_FILTER not in _codes(lint_plan(project_filter(spark, SF)))


#: Queries excluded from the sweep: side-effecting (write fixtures / run
#: conversions at plan-build time) or job-executing at build time
#: (iterative fixpoint, model fit, driver-side probe prep) — each has its
#: own plan/behavior assertions in test_plans.py / test_llm.py.
_SWEEP_EXCLUDE = {
    "q_ingest_mysqldump",
    "q_scan_parquet",
    "q_sink_partitioned",
    "q_src_csv",
    "q_src_json",
    "q_src_orc",
    "q_join_dpp",
    "q_join_bucketed",  # writes bucketed tables at plan-build time
    "q_udtf_python",  # intentional Python UDTF surface
    "q_dedup_components",  # iterative fixpoint executes jobs to converge
    "q_bpe_merges",  # iterative merge rounds execute jobs at plan-build
    "q_bpe_apply",  # same learn loop runs before the apply aggregation
    "q_sim_ann_ivf",  # quantizer fit executes jobs
    "q_embed_pca",  # Gram pass + driver eigh execute at plan-build (fit)
}


#: Queries ALLOWED to plan an Exchange SinglePartition, each with the
#: reason it is inherent (not an accident to fix).  Anything else that
#: starts single-partitioning is a regression the sweep catches.
_SINGLE_PARTITION_ALLOWED = {
    # exact global ntile = total order through one consumer by definition;
    # the 100 TB path is approx_percentile on a sample (see docstring)
    "q_agg_histogram_eq",
    # global ORDER BY ... LIMIT k collapses to one partition for the final
    # k-cut (TakeOrderedAndProject) — bounded by k, not by data
    "q_sort_limit",
    # single-row scalar-subquery / global-aggregate exchanges (1-row or
    # sketch-state, size-independent): thresholds, corpus counts, sketch
    # merges
    "q_subquery_scalar",
    "q_tpch_q6", "q_tpch_q11", "q_tpch_q14", "q_tpch_q15", "q_tpch_q17",
    "q_tpch_q19", "q_tpch_q22",
    "q_agg_incremental",
    "q_agg_sketch_distinct",
    "q_tfidf", "q_cooccur_pmi",  # broadcast 1-row n_docs
    "q_heavy_hitters",  # broadcast 1-row total-token count (θ·N threshold)
    "q_unigram_logprob",  # broadcast 1-row (N, V) smoothing constants
    "q_agg_histogram_approx",  # broadcast 1-row sketch-boundary array
    "q_funnel",  # 1-row step-order literal spine
    # whole-table profile/QA summaries: output is O(columns)/O(rules),
    # partial-aggregated map-side, merged through one 1-row-ish exchange
    "q_profile_columns", "q_group_skew", "q_check_constraints",
    # full-result deterministic ORDER BY on an already-tiny aggregate
    "q_win_ratio",
    # 1-row global max broadcast (the PPS probability denominator)
    "q_sample_weighted",
    # 1-row grid-bounds broadcast (min/max per Z dimension) + final
    # ORDER BY on the 64-row bucket summary — both size-independent
    "q_zorder_cluster",
    # k-cut runs first (TakeOrderedAndProject); the rank window sees only
    # the k survivors — bounded by k, not data
    "q_bm25",
    # stage-2 sweep consumes only local-skyline candidates — bounded by
    # blocks × frontier size, not |data| (see skyline docstring)
    "q_skyline",
    # PSI reduces to O(bins) (bin, split) counts map-side; the global
    # total / final sum exchanges carry 1-row results, and the two
    # crossJoins broadcast those 1-row aggregates (scalar-subquery shape)
    "q_split_drift",
    # 1-row corpus totals broadcast (Σlen + SEM_BITS bucket sums) feeding
    # the exact integer rate-sign blocking — scalar-subquery shape (r6)
    "q_dedup_semantic",
}


#: Queries ALLOWED to plan a whole-partition-frame window aggregate
#: (``count/sum(..).over(Window.partitionBy(k))``), each with the reason
#: the one-shuffle window beats groupBy + join-back THERE.  Anything
#: else that plans the shape is VERDICT r6 #3/#4 returning.
_WINDOW_GROUP_AGG_ALLOWED = {
    # bucket-size cap counted on (band_idx, band_hash) — high-cardinality
    # hash key, and the window shuffles on exactly the key the candidate
    # self-join reuses next (dedup.py docstring); join-back would double
    # the shingle-table shuffle
    "q_dedup_near", "q_dedup_near_candidates",
    # occurrence count on the 8-byte rolling win_hash — high-cardinality,
    # positions survive in place, no join-back of the (doc, pos) table
    "q_dedup_substring",
    # row totals over the POST-AGGREGATE (from,to) alphabet² table —
    # input is group-cardinality rows, not data
    "q_event_transitions",
    # share-of-region over the post-aggregate 25-row (region, nation)
    # table — group-cardinality input (windows.py docstring)
    "q_win_ratio",
    # per-purchase touch count: high-cardinality purchase_id, group size
    # bounded by the attribution window hours
    "q_attribution_channels",
    # group total rides the SAME (flag) exchange+sort the inherent
    # cumulative-weight window already forces — join-back would add a
    # shuffle to an operator whose scale primary is the approx variant
    "q_agg_weighted_median", "q_agg_weighted_median_approx",
    # order-grain supplier counts over the POST-AGGREGATE
    # (l_orderkey, l_suppkey) table: high-cardinality key, group size =
    # suppliers per order (bounded ~7 by TPC-H construction); the
    # groupBy + join-back alternative re-evaluated the whole
    # lineitem⋈orders subtree — two fact scans, 5 exchanges, a
    # SortMergeJoin (r16 C5, plans/r16/q_tpch_q21_{before,after}.txt)
    "q_tpch_q21",
}


def test_registry_sweep_row_udfs_and_single_partition(spark):
    """Engine contract, one pass over every registered plan: (a) no
    row-at-a-time Python UDF anywhere; (b) Exchange SinglePartition only
    where a total order / 1-row result makes it inherent; (c) whole-
    partition-frame window aggregates only where the one-shuffle window
    provably beats groupBy + join-back (documented allowlists above)."""
    registry = entrypoint.queries()
    flagged_udf = {}
    flagged_single = {}
    flagged_wga = {}
    for name, fn in registry.items():
        if name in _SWEEP_EXCLUDE:
            continue
        codes = _codes(lint_plan(fn(spark, SF)))
        if ROW_UDF in codes:
            flagged_udf[name] = codes
        if SINGLE_PARTITION in codes and name not in _SINGLE_PARTITION_ALLOWED:
            flagged_single[name] = codes
        if WINDOW_GROUP_AGG in codes and name not in _WINDOW_GROUP_AGG_ALLOWED:
            flagged_wga[name] = codes
    assert not flagged_udf, flagged_udf
    assert not flagged_single, (
        f"undocumented single-partition exchanges: {flagged_single}"
    )
    assert not flagged_wga, (
        f"undocumented whole-partition window aggregates: {flagged_wga}"
    )
