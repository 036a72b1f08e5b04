"""Driver-contract query catalog: one entry per SURVEY.md §2 operator.

Each entry pairs a Spark implementation (exercising the package's
operators) with an equivalent ANSI-SQL oracle that DuckDB runs on the same
parquet tables. Conventions keeping the two sides hash-identical:

* every computed column is aliased identically on both sides;
* doubles are ``round(x, 6)`` (or 4 for large-magnitude sums) on both
  sides — summation order differs between engines in the last ulp;
* integer aggregates are cast to BIGINT in SQL (DuckDB ``sum`` yields
  HUGEINT otherwise) and long in Spark;
* deterministic hashing uses the md5-based ``h32`` (identical textual
  definition in both dialects);
* ordered operators order by (ts, id) so ties are deterministic.
"""

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from solarboat_data_pipeline_spark.driver import (  # noqa: F401
    core as _core,
    jaw as _jaw,
    dedup as _dedup,
    similarity as _similarity,
    text as _text,
    multimodal as _multimodal,
    sampling as _sampling,
    streaming as _streaming,
    skew as _skew,
)
from solarboat_data_pipeline_spark.driver._registry import (  # noqa: F401
    _REGISTRY,
    QuerySpec,
    SQL_TOKENS,
    _SQL_SH,
    _SQL_TOKS,
    _event_bounds,
    _io_dir,
    _sql_band_hashes,
    _sql_lsh_bucket,
    _sql_lsh_pairs,
    _sql_minhash_mins,
    _t,
    register,
    sql_h32,
    sql_shingles,
)

# re-export every query function and family helper at the old paths
# (tests and notebooks import them from here)
for _m in (_core, _jaw, _dedup, _similarity, _text, _multimodal, _sampling, _streaming, _skew):
    for _k, _v in vars(_m).items():
        if callable(_v) and getattr(_v, '__module__', '') == _m.__name__:
            globals()[_k] = _v
del _m, _k, _v



# ---------------------------------------------------------------------------
# public accessors
# ---------------------------------------------------------------------------

# The driver evaluates the first 50 names of queries(); this list is that
# window, ordered stalest-first (the rows whose last driver check is
# oldest lead). Everything else follows _REGISTRATION_ORDER via
# _ordered() and stays under the same pytest oracle gate.
_PRIORITY = [
    "s5_json_dump_roundtrip",
    "k_sinks_roundtrip",
    "dd_near_dup_incremental",
    "k_bucketed_join",
    "st_stream_decode_wide",
    "pipeline_can_e2e",
    "sim_recall_eval",
    "dd_hot_buckets",
    "dd_simhash_capped",
    "p3_p4_time_window",
    "a1_a4_group_stats",
    "a6_a7_energy_cumsum",
    "w5_w6_dedup_rank",
    "f1_f3_track",
    "sim_ivf_drift",
    "s2_scan_pushdown",
    "s1_candump_parse",
    "a3_resample_dense",
    "a3_w3_fused_grid",
    "w6_sort_rank",
    "f3_speed_guard",
    "f1_haversine",
    "f2_heading",
    "dd_minhash_signature",
    "dd_lsh_pairs",
    "dd_minhash_estimate",
    "dd_simhash",
    "dd_ngram_jaccard",
    "dd_embedding_cosine",
    "sim_sq8_topk",
    "sim_ivf_sq8_index_topk",
    "txt_langid",
    "txt_tokens",
    "txt_fingerprint",
    "txt_repetition",
    "skew_count_distinct",
    "k_partitioned_prune",
    "st_stream_ffill",
    "w_sessionize_scaled",
    "w6_rank_scaled",
    "samp_hash_sample",
    "samp_shard_shuffle",
    "samp_pack_sequences",
    "samp_weighted_mix",
    "samp_token_budget_scaled",
    "txt_decontaminate_scaled",
    "txt_decontaminate_fuzzy",
    "txt_redact",
    "s3_forecast_csv_roundtrip",
    "s4_gpx_roundtrip",
]


# the FULL registration order of the original single-module catalog,
# captured verbatim at the round-9 split: _ordered()'s tail (everything
# not in _PRIORITY) follows THIS list, so the split can never reorder
# queries()/oracle_sql() no matter how family modules import.
_REGISTRATION_ORDER = [
    "q1_pricing_summary",
    "s2_scan_pushdown",
    "p1_regex_extract",
    "p2_epoch_seconds",
    "p3_time_offset",
    "p5_hex_roundtrip",
    "p6_unhex_payload",
    "p9_conditional_rewrite",
    "p13_p16_project_slice",
    "p17_float_downcast",
    "s1_candump_parse",
    "p4_crop_bounds",
    "p8_dict_lookup",
    "p12_explode_tokens",
    "f4_tz_convert",
    "j1_left_join_enrich",
    "j2_left_join_summary",
    "j4_asof_backward",
    "j3_asof_linear",
    "j5_unify_chunks",
    "a2_pivot_wide",
    "a3_resample_dense",
    "a4_minmax_bounds",
    "a5_quantile_iqr",
    "a6_cumulative_sum",
    "a7_trapezoid_energy",
    "a1_group_mean",
    "agg_rollup",
    "agg_count_distinct",
    "w_rolling_time",
    "w1_lag_diff",
    "w2_lagk_outlier_filter",
    "w3_interpolate_bounded",
    "a3_w3_fused_grid",
    "w5_dedup_keep_first",
    "w7_asfreq_dense",
    "w_sessionize",
    "w6_sort_rank",
    "f3_speed_guard",
    "f1_haversine",
    "f2_heading",
    "f5_candump_format",
    "f6_json_extract",
    "p10_binary_decode",
    "dd_exact",
    "dd_minhash_signature",
    "dd_lsh_pairs",
    "dd_minhash_estimate",
    "dd_near_dup_pipeline",
    "pipeline_curation",
    "dd_clusters",
    "dd_simhash",
    "dd_simhash_pairs",
    "dd_ngram_jaccard",
    "dd_embedding_cosine",
    "sim_cosine_topk",
    "sim_ivf_topk",
    "sim_ivf_trained_topk",
    "sim_ivf_index_topk",
    "sim_sq8_topk",
    "sim_ivf_sq8_index_topk",
    "sim_ann_lsh",
    "dd_embedding_lsh",
    "txt_langid",
    "txt_quality",
    "txt_quality_filter",
    "txt_ngram_topk",
    "txt_tokens",
    "txt_fingerprint",
    "txt_repetition",
    "mm_binary_meta",
    "mm_frame_sample",
    "mm_png_decode",
    "mm_png_resize",
    "mm_wav_decode",
    "mm_wav_resample",
    "mm_avi_decode",
    "mm_avi_frames",
    "mm_mjpeg_decode",
    "dd_paragraph_dedup",
    "skew_salted_topk",
    "skew_count_distinct",
    "f7_solar_position",
    "f7_poa_irradiance",
    "st_stream_resample",
    "k_partitioned_prune",
    "st_stream_sessionize",
    "st_stream_dedup",
    "mm_resize",
    "st_stream_parse",
    "st_stream_enrich",
    "st_stream_ffill",
    "st_stream_asof",
    "st_stream_asof_linear",
    "mm_features",
    "j4_asof_backward_scaled",
    "j3_asof_linear_scaled",
    "w3_interpolate_scaled",
    "w3_interpolate_wide_scaled",
    "w_sessionize_scaled",
    "w2_lagk_scaled",
    "j6_interval_join",
    "w6_rank_scaled",
    "a7_trapezoid_scaled",
    "samp_hash_sample",
    "samp_shard_shuffle",
    "samp_pack_sequences",
    "samp_weighted_mix",
    "samp_stratified",
    "samp_token_budget",
    "samp_token_budget_scaled",
    "txt_model_score",
    "txt_model_score_real",
    "dd_incremental",
    "txt_decontaminate",
    "txt_decontaminate_scaled",
    "txt_decontaminate_fuzzy",
    "txt_redact",
    "p3_p4_time_window",
    "p5_p6_hex_payload",
    "a1_a4_group_stats",
    "a6_a7_energy_cumsum",
    "w5_w6_dedup_rank",
    "f1_f3_track",
    "s3_forecast_csv_roundtrip",
    "s4_gpx_roundtrip",
    "s5_json_dump_roundtrip",
    "k_sinks_roundtrip",
    "dd_incremental_index",
    "dd_near_dup_incremental",
    "k_bucketed_join",
    "sim_ivf_drift",
    "st_stream_decode_wide",
    "mm_mp4_probe",
    "mm_h264_keyframes",
    "mm_ivf_vp9_probe",
    "mm_mp4_sample_ranges",
    "mm_fmp4_ranges",
    "mm_mp3_probe",
    "mm_mp4_extract",
    "pipeline_media_curation",
    "mm_h264_decode",
    "mm_mp4_pixels",
    "mm_fmp4_extract",
    "st_stream_media_probe",
    "mm_phash_near_dup",
    "pipeline_media_retrieval",
    "mm_phash_clusters",
    "mm_phash_clusters_scaled",
    "mm_phash_incremental",
    "st_stream_phash",
    "aud_fingerprint_near_dup",
    "vid_fingerprint_near_dup",
    "pipeline_can_e2e",
    "sim_recall_eval",
    "pipeline_media_dedup",
    "dd_hot_buckets",
    "dd_simhash_capped",
]


def _ordered() -> dict[str, QuerySpec]:
    for lst, label in ((_PRIORITY, "_PRIORITY"), (_REGISTRATION_ORDER, "_REGISTRATION_ORDER")):
        if len(lst) != len(set(lst)):
            dupes = sorted({n for n in lst if lst.count(n) > 1})
            # a duplicate would silently mask a missing registration in the
            # unordered-queries check below, so fail loudly at import
            raise KeyError(f"duplicate entries in {label}: {dupes}")
    missing = [n for n in _PRIORITY if n not in _REGISTRY]
    missing += [n for n in _REGISTRATION_ORDER if n not in _REGISTRY]
    if missing:  # fail loudly at import: a typo here silently drops coverage
        raise KeyError(f"priority list names unknown queries: {missing}")
    unordered = [n for n in _REGISTRY if n not in set(_REGISTRATION_ORDER)]
    if unordered:
        raise KeyError(
            "queries registered but missing from _REGISTRATION_ORDER "
            f"(append them there): {unordered}"
        )
    out = {n: _REGISTRY[n] for n in _PRIORITY}
    out.update(
        {n: _REGISTRY[n] for n in _REGISTRATION_ORDER if n not in out}
    )
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _ordered().items() if sql is not None}
