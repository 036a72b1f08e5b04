"""The package root IS the supported API: every name in ``__all__``
resolves, every COVERAGE.md implementation family is reachable from the
root, and importing the root stays side-effect free (no SparkSession)."""

from __future__ import annotations

import importlib


def test_all_names_resolve():
    pkg = importlib.import_module("solarboat_data_pipeline_spark")
    missing = [n for n in pkg.__all__ if not hasattr(pkg, n)]
    assert not missing, f"__all__ names that do not resolve: {missing}"
    assert len(set(pkg.__all__)) == len(pkg.__all__), "duplicate __all__ names"


def test_every_root_public_callable_is_in_all():
    # the CONVERSE of the check above: anything imported into the root
    # namespace without a leading underscore is presented as public and
    # must be declared in __all__ (a silent omission shipped twice —
    # shard_corpus and pack_sequences — before this test existed)
    import inspect

    pkg = importlib.import_module("solarboat_data_pipeline_spark")
    undeclared = [
        n
        for n, obj in vars(pkg).items()
        if not n.startswith("_")
        and (inspect.isfunction(obj) or inspect.isclass(obj))
        and getattr(obj, "__module__", "").startswith(
            "solarboat_data_pipeline_spark"
        )
        and n not in pkg.__all__
    ]
    assert not undeclared, f"root-public names missing from __all__: {undeclared}"


def test_coverage_rows_import_from_root():
    # one representative callable per COVERAGE.md section
    import solarboat_data_pipeline_spark as sb

    for name in [
        # §2.1 scans/sinks
        "scan_candump", "scan_gpx", "scan_json_dump", "write_parquet",
        "write_bucketed",
        # §2.2 parse/decode
        "with_frame_meta", "decode_wide", "pivot_wide", "CanCatalog",
        # §2.3 joins
        "asof_join_backward", "asof_join_linear", "interval_join",
        "unify_chunks",
        # §2.4 aggs
        "resample_mean", "trapezoid_integral", "cumulative_sum",
        # §2.5 windows
        "resample_interpolate", "dedup_keep_first", "asfreq",
        # §2.6 functions
        "haversine_km", "solar_position", "poa_irradiance", "candump_line",
        # LLM-data ops
        "exact_dedup", "lsh_candidate_pairs", "cosine_topk",
        "quality_metrics", "hash_sample", "decode_image_stats",
    ]:
        assert callable(getattr(sb, name)) or isinstance(
            getattr(sb, name), type
        ), name


def test_scaled_twins_under_scale_namespace():
    import solarboat_data_pipeline_spark as sb

    for name in [
        "compute_bounds", "bounds_from_parquet_metadata", "with_buckets",
        "asof_join_backward", "asof_join_linear", "interpolate_time",
        "cumulative_sum", "sessionize", "trapezoid_integral", "global_rank",
        "lag_k", "clean_timestamp_outliers",
    ]:
        assert callable(getattr(sb.scale, name)), f"scale.{name}"


def test_streaming_namespace():
    import solarboat_data_pipeline_spark as sb

    for name in [
        "stream_candump", "stream_decode_long", "stream_resample_mean",
        "stream_sessionize", "stream_dedup_exact", "stream_enrich_grid",
        "write_parquet_stream",
    ]:
        assert callable(getattr(sb.streaming, name)), f"streaming.{name}"
    assert callable(sb.stateful.stream_ffill)


# every package call the benchmark makes (perfbench/workloads.py, run.py),
# as (module, function, positional argument count, keyword arguments):
# the benchmark directory is frozen between benchmark revisions, so a
# signature change here would break it silently
BENCHMARK_CALLS = [
    ("", "get_spark", 0, ("app_name",)),
    ("catalog", "CanCatalog.load", 1, ()),
    ("sources.candump", "scan_candump", 2, ()),
    ("sources.candump", "extract_frames", 1, ("with_order",)),
    ("operators.parse", "with_timestamp", 1, ()),
    ("operators.parse", "with_frame_meta", 1, ()),
    ("operators.parse", "decode_long", 2, ()),
    ("functions.solar", "solcast_preprocess", 1, ()),
    ("functions.solar", "poa_irradiance", 1,
     ("latitude", "longitude", "period_seconds")),
    ("operators.timeseries", "trapezoid_integral", 1,
     ("col", "out_col", "time_constant")),
    ("functions.geo", "derive_track", 1, ()),
    ("sources.gpx", "scan_gpx", 2, ()),
    ("sources.sinks", "write_parquet", 2, ()),
    ("pipeline", "run_pipeline", 3, ("period_seconds", "forecast", "gpx_path")),
    ("pipeline", "parse_stage", 3, ("stats_out",)),
    ("pipeline", "resample_stage", 2, ("known_bounds",)),
    ("pipeline", "unify_forecast_stage", 3, ("known_bounds",)),
    ("pipeline", "grid_bounds", 2, ()),
    ("pipeline", "unify_gps_stage", 2, ()),
    ("streaming.pipeline", "stream_candump", 2, ("max_files_per_trigger",)),
    ("streaming.pipeline", "write_parquet_stream", 3, ("available_now",)),
    ("streaming.stateful", "stream_ffill", 1, ("key_cols",)),
]


def test_benchmark_calls_bind(spark):
    import inspect
    import os

    for mod, name, n_pos, kws in BENCHMARK_CALLS:
        obj = importlib.import_module(
            "solarboat_data_pipeline_spark" + (f".{mod}" if mod else "")
        )
        for part in name.split("."):
            obj = getattr(obj, part)
        # raises TypeError when the benchmark's call no longer fits
        inspect.signature(obj).bind(*[None] * n_pos, **dict.fromkeys(kws))

    # the stats_out keys the benchmark reads back
    from solarboat_data_pipeline_spark.catalog import CanCatalog
    from solarboat_data_pipeline_spark.pipeline import parse_stage

    data = os.path.join(os.path.dirname(__file__), "data")
    stats: dict = {}
    parse_stage(
        spark, os.path.join(data, "sample.candump"),
        CanCatalog.load(os.path.join(data, "mini_can_ids.json")),
        stats_out=stats,
    )
    assert {"first_ts", "last_ts"} <= stats.keys()


def test_root_import_has_no_spark_session(monkeypatch):
    # importing the package must not create a SparkSession (module-level
    # side effects would break spark-submit workflows that configure the
    # session themselves)
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    importlib.reload(importlib.import_module("solarboat_data_pipeline_spark"))
    assert SparkSession.getActiveSession() is active
