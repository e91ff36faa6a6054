"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``mysqldump_to_parquet_spark/``; each operator
module exposes ``QUERIES`` / ``ORACLE`` dicts which are aggregated here, so
the registry grows automatically as operators land (SURVEY.md §2 is the
inventory being filled).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mysqldump_to_parquet_spark.functions import scalar as fn_scalar
from mysqldump_to_parquet_spark.functions import udfs as fn_udfs
from mysqldump_to_parquet_spark.llm import bpe as llm_bpe
from mysqldump_to_parquet_spark.llm import decomp as llm_decomp
from mysqldump_to_parquet_spark.llm import dedup as llm_dedup
from mysqldump_to_parquet_spark.llm import multimodal as llm_multimodal
from mysqldump_to_parquet_spark.llm import quality as llm_quality
from mysqldump_to_parquet_spark.llm import report as llm_report
from mysqldump_to_parquet_spark.llm import sampling as llm_sampling
from mysqldump_to_parquet_spark.llm import scrub as llm_scrub
from mysqldump_to_parquet_spark.llm import semdedup as llm_semdedup
from mysqldump_to_parquet_spark.llm import similarity as llm_similarity
from mysqldump_to_parquet_spark.llm import terms as llm_terms
from mysqldump_to_parquet_spark.llm import vectors as llm_vectors
from mysqldump_to_parquet_spark.llm import textstats as llm_textstats
from mysqldump_to_parquet_spark.llm import substring as llm_substring
from mysqldump_to_parquet_spark.operators import (
    aggregates,
    graph,
    asof,
    cogroup,
    composite,
    events,
    intervals,
    profile,
    relational,
    skew,
    spatial,
    temporal,
    windows,
)
from mysqldump_to_parquet_spark.sources import dump_datasource
from mysqldump_to_parquet_spark.sources import files as file_sources
from mysqldump_to_parquet_spark.sources import maintenance as maintenance_source
from mysqldump_to_parquet_spark.sources import mysqldump as mysqldump_source
from mysqldump_to_parquet_spark.sources import xmlsrc as xml_source
from mysqldump_to_parquet_spark.streaming import windows as stream_windows

#: Module registry — every operator module lands here.  Intra-module key
#: order is the module's QUERIES dict order; cross-module order is
#: normalized by ``_ordered`` below.
_MODULES = [
    llm_bpe,
    llm_decomp,
    llm_dedup,
    llm_semdedup,
    llm_substring,
    llm_similarity,
    llm_vectors,
    llm_textstats,
    llm_quality,
    llm_report,
    llm_terms,
    llm_sampling,
    llm_scrub,
    llm_multimodal,
    composite,
    graph,
    intervals,
    spatial,
    temporal,
    cogroup,
    profile,
    events,
    stream_windows,
    file_sources,
    xml_source,
    maintenance_source,
    dump_datasource,
    aggregates,
    relational,
    mysqldump_source,
    asof,
    skew,
    fn_udfs,
    windows,
    fn_scalar,
]

#: STALENESS-ROTATION ordering (VERDICT r4 item 1, the permanent
#: policy): the driver checks a bounded registry prefix (~50 entries per
#: round), so the whole registry is pinned in check-priority order —
#: (1) never-driver-checked keys, (2) keys whose module changed this
#: round but whose latest green driver row predates the change, (3)
#: everything else, oldest driver row first.  Every future round
#: re-verifies the stalest slice plus whatever code moved.  Both blocks
#: are generated by ``python tools/gen_window.py --write`` (inputs:
#: CORRECTNESS_r0*.json + the round's git diff) — regenerate after the
#: round's last code commit; ``tests/test_registry.py`` pins the
#: invariants.  ``_VERIFIED`` = every key holding a green driver row
#: (hash-match, or the rows-only check approx/side-effecting ops
#: maximally get); red rows never count.
# --- BEGIN GENERATED CHECK ORDER (tools/gen_window.py) ---
#: inputs this ordering was generated from — tests re-derive
#: the generator's view through these pins, so a newer
#: CORRECTNESS file landing later cannot invert the invariants;
#: a plain tools/gen_window.py run re-reads the base and pins
_ORDER_BASE_COMMIT = "643b776"
_ORDER_BASIS_ROUND = 16
#: touched-bucket pins (sub-module change annotations)
_ORDER_PINS = (
    "q_tpch_q21",
    "q_kmeans",
    "q_ivf_index_append",
    "q_sim_knn_join_ivf",
    "q_bpe_merges",
    "q_bpe_apply",
    "q_dedup_phash",
    "q_graph_bfs",
    "q_ingest_mysqldump",
)

_CHECK_ORDER = (
        "q_tpch_q21", "q_kmeans", "q_ivf_index_append",
        "q_sim_knn_join_ivf", "q_bpe_merges", "q_bpe_apply",
        "q_dedup_phash", "q_graph_bfs", "q_ingest_mysqldump",
        "q_scan_parquet", "q_src_dump_datasource", "q_assoc_rules",
        "q_pagerank", "q_tpch_q11", "q_tpch_q12", "q_tpch_q13",
        "q_tpch_q14", "q_check_constraints", "q_cogroup_pandas",
        "q_cohort_retention", "q_decontaminate", "q_entropy",
        "q_fingerprint", "q_fn_array_algebra", "q_fn_bitwise",
        "q_fn_date_calendar", "q_fn_explode_outer", "q_fn_hash",
        "q_fn_regex", "q_fn_string_pad", "q_gopher_rules",
        "q_join_interval", "q_lang_id", "q_merge_upsert", "q_ngram_lm",
        "q_pack_sequences", "q_quality_score", "q_repetition",
        "q_resample_locf", "q_sample_stratified", "q_scd2",
        "q_split_hash", "q_src_json", "q_src_orc", "q_text_clean",
        "q_text_stats", "q_tfidf", "q_token_count", "q_top_terms",
        "q_win_time_range", "q_tpch_q15", "q_tpch_q16", "q_tpch_q17",
        "q_tpch_q19", "q_tpch_q2", "q_tpch_q20", "q_tpch_q22",
        "q_tpch_q4", "q_tpch_q6", "q_tpch_q7", "q_tpch_q8", "q_tpch_q9",
        "q_dedup_against_index_exact", "q_dedup_against_index_ivf",
        "q_multimodal_audio", "q_multimodal_decode",
        "q_multimodal_frames", "q_multimodal_jpeg", "q_multimodal_meta",
        "q_multimodal_png", "q_multimodal_resize", "q_multimodal_video",
        "q_sim_radius", "q_sim_topk", "q_dedup_chunks",
        "q_dedup_components", "q_dedup_embedding", "q_dedup_exact",
        "q_dedup_fuzzy", "q_dedup_near", "q_dedup_near_candidates",
        "q_dedup_ngram_jaccard", "q_dedup_simhash",
        "q_embed_covariance", "q_embed_pca", "q_sim_ann_ivf",
        "q_sim_ann_ivf_batch", "q_sim_ann_ivf_partitioned",
        "q_sim_knn_join_exact", "q_embed_centroids", "q_embed_quantize",
        "q_join_dpp", "q_knn_classify", "q_lateral_topk",
        "q_sink_partitioned", "q_subquery_scalar", "q_tpch_q10",
        "q_tpch_q18", "q_tpch_q3", "q_tpch_q5",
        "q_attribution_channels", "q_bm25", "q_cdc_apply",
        "q_chunk_tokens", "q_conversion_latency", "q_cooccur_pmi",
        "q_curation_report", "q_dedup_url", "q_fn_variant", "q_funnel",
        "q_group_skew", "q_join_null_safe", "q_profile_columns",
        "q_set_except_all", "q_set_intersect_all", "q_src_evolution",
        "q_src_nested", "q_ab_test", "q_agg_approx_distinct",
        "q_agg_cube", "q_agg_distinct", "q_agg_groupby", "q_agg_gsets",
        "q_agg_histogram", "q_agg_histogram_approx",
        "q_agg_histogram_eq", "q_agg_incremental", "q_agg_mode",
        "q_agg_pivot", "q_event_transitions", "q_ewma", "q_fn_geo",
        "q_fn_url", "q_heavy_hitters", "q_join_asof_nearest",
        "q_join_bucketed", "q_join_spatial", "q_lang_confusion",
        "q_match_pattern", "q_oov_rate", "q_pii_redact",
        "q_sample_k_per_group", "q_sample_mixture", "q_sample_weighted",
        "q_sessionize", "q_skyline", "q_source_overlap",
        "q_split_drift", "q_streaks", "q_stream_attribution",
        "q_time_rollup", "q_unigram_logprob", "q_zipf_slope",
        "q_agg_quantile", "q_agg_rollup", "q_agg_sketch_distinct",
        "q_agg_stats", "q_agg_unpivot", "q_agg_weighted_median",
        "q_agg_weighted_median_approx", "q_dedup_semantic",
        "q_dedup_substring", "q_filter_null_in_like", "q_fn_array",
        "q_fn_cond", "q_fn_date", "q_fn_json", "q_fn_map", "q_fn_math",
        "q_fn_string", "q_interval_concurrency", "q_join_anti",
        "q_src_xml", "q_win_cume", "q_win_lag_lead", "q_win_moving_avg",
        "q_win_ntile", "q_win_period_over_period", "q_win_rank",
        "q_win_ratio", "q_win_rolling_corr", "q_win_running_distinct",
        "q_win_running_distinct_daily", "q_win_running_sum",
        "q_zorder_cluster", "q_agg_bool", "q_agg_collect",
        "q_agg_grouping", "q_agg_minmax_by", "q_anomaly_mad",
        "q_join_asof", "q_join_broadcast", "q_join_cross",
        "q_join_full", "q_join_inner", "q_join_left", "q_join_salted",
        "q_join_semi", "q_join_theta_range", "q_project_filter",
        "q_set_except", "q_set_intersect", "q_set_union",
        "q_sort_limit", "q_src_csv", "q_stream_dedup",
        "q_stream_session", "q_stream_sliding", "q_stream_tumbling",
        "q_topk_per_group", "q_udaf_grouped", "q_udf_pandas_scalar",
        "q_udtf_explode", "q_udtf_python",
)

_VERIFIED = frozenset({
        "q_ab_test", "q_agg_approx_distinct", "q_agg_bool",
        "q_agg_collect", "q_agg_cube", "q_agg_distinct",
        "q_agg_groupby", "q_agg_grouping", "q_agg_gsets",
        "q_agg_histogram", "q_agg_histogram_approx",
        "q_agg_histogram_eq", "q_agg_incremental", "q_agg_minmax_by",
        "q_agg_mode", "q_agg_pivot", "q_agg_quantile", "q_agg_rollup",
        "q_agg_sketch_distinct", "q_agg_stats", "q_agg_unpivot",
        "q_agg_weighted_median", "q_agg_weighted_median_approx",
        "q_anomaly_mad", "q_assoc_rules", "q_attribution_channels",
        "q_bm25", "q_bpe_apply", "q_bpe_merges", "q_cdc_apply",
        "q_check_constraints", "q_chunk_tokens", "q_cogroup_pandas",
        "q_cohort_retention", "q_conversion_latency", "q_cooccur_pmi",
        "q_curation_report", "q_decontaminate",
        "q_dedup_against_index_exact", "q_dedup_against_index_ivf",
        "q_dedup_chunks", "q_dedup_components", "q_dedup_embedding",
        "q_dedup_exact", "q_dedup_fuzzy", "q_dedup_near",
        "q_dedup_near_candidates", "q_dedup_ngram_jaccard",
        "q_dedup_phash", "q_dedup_semantic", "q_dedup_simhash",
        "q_dedup_substring", "q_dedup_url", "q_embed_centroids",
        "q_embed_covariance", "q_embed_pca", "q_embed_quantize",
        "q_entropy", "q_event_transitions", "q_ewma",
        "q_filter_null_in_like", "q_fingerprint", "q_fn_array",
        "q_fn_array_algebra", "q_fn_bitwise", "q_fn_cond", "q_fn_date",
        "q_fn_date_calendar", "q_fn_explode_outer", "q_fn_geo",
        "q_fn_hash", "q_fn_json", "q_fn_map", "q_fn_math", "q_fn_regex",
        "q_fn_string", "q_fn_string_pad", "q_fn_url", "q_fn_variant",
        "q_funnel", "q_gopher_rules", "q_graph_bfs", "q_group_skew",
        "q_heavy_hitters", "q_ingest_mysqldump",
        "q_interval_concurrency", "q_ivf_index_append", "q_join_anti",
        "q_join_asof", "q_join_asof_nearest", "q_join_broadcast",
        "q_join_bucketed", "q_join_cross", "q_join_dpp", "q_join_full",
        "q_join_inner", "q_join_interval", "q_join_left",
        "q_join_null_safe", "q_join_salted", "q_join_semi",
        "q_join_spatial", "q_join_theta_range", "q_kmeans",
        "q_knn_classify", "q_lang_confusion", "q_lang_id",
        "q_lateral_topk", "q_match_pattern", "q_merge_upsert",
        "q_multimodal_audio", "q_multimodal_decode",
        "q_multimodal_frames", "q_multimodal_jpeg", "q_multimodal_meta",
        "q_multimodal_png", "q_multimodal_resize", "q_multimodal_video",
        "q_ngram_lm", "q_oov_rate", "q_pack_sequences", "q_pagerank",
        "q_pii_redact", "q_profile_columns", "q_project_filter",
        "q_quality_score", "q_repetition", "q_resample_locf",
        "q_sample_k_per_group", "q_sample_mixture",
        "q_sample_stratified", "q_sample_weighted", "q_scan_parquet",
        "q_scd2", "q_sessionize", "q_set_except", "q_set_except_all",
        "q_set_intersect", "q_set_intersect_all", "q_set_union",
        "q_sim_ann_ivf", "q_sim_ann_ivf_batch",
        "q_sim_ann_ivf_partitioned", "q_sim_knn_join_exact",
        "q_sim_knn_join_ivf", "q_sim_radius", "q_sim_topk",
        "q_sink_partitioned", "q_skyline", "q_sort_limit",
        "q_source_overlap", "q_split_drift", "q_split_hash",
        "q_src_csv", "q_src_dump_datasource", "q_src_evolution",
        "q_src_json", "q_src_nested", "q_src_orc", "q_src_xml",
        "q_streaks", "q_stream_attribution", "q_stream_dedup",
        "q_stream_session", "q_stream_sliding", "q_stream_tumbling",
        "q_subquery_scalar", "q_text_clean", "q_text_stats", "q_tfidf",
        "q_time_rollup", "q_token_count", "q_top_terms",
        "q_topk_per_group", "q_tpch_q10", "q_tpch_q11", "q_tpch_q12",
        "q_tpch_q13", "q_tpch_q14", "q_tpch_q15", "q_tpch_q16",
        "q_tpch_q17", "q_tpch_q18", "q_tpch_q19", "q_tpch_q2",
        "q_tpch_q20", "q_tpch_q21", "q_tpch_q22", "q_tpch_q3",
        "q_tpch_q4", "q_tpch_q5", "q_tpch_q6", "q_tpch_q7", "q_tpch_q8",
        "q_tpch_q9", "q_udaf_grouped", "q_udf_pandas_scalar",
        "q_udtf_explode", "q_udtf_python", "q_unigram_logprob",
        "q_win_cume", "q_win_lag_lead", "q_win_moving_avg",
        "q_win_ntile", "q_win_period_over_period", "q_win_rank",
        "q_win_ratio", "q_win_rolling_corr", "q_win_running_distinct",
        "q_win_running_distinct_daily", "q_win_running_sum",
        "q_win_time_range", "q_zipf_slope", "q_zorder_cluster",
})
# --- END GENERATED CHECK ORDER ---


def _ordered(full: dict) -> dict:
    """Driver-sweep packing: keys added after the last ``gen_window``
    run (never checked, hence maximally stale) lead, then the pinned
    staleness order."""
    known = {k: full[k] for k in _CHECK_ORDER if k in full}
    fresh = {k: v for k, v in full.items() if k not in known}
    return {**fresh, **known}

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    return aggregates.tpch_q1(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        overlap = out.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query keys from {mod.__name__}: {overlap}")
        out.update(mod.QUERIES)
    return _ordered(out)


def oracle_sql() -> dict[str, str]:
    """DuckDB-ANSI twins for every hash-checkable query; keys absent here
    (approximate / side-effecting ops) get the driver's rows-only check."""
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLE)
    return _ordered(out)
