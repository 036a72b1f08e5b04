"""End-to-end batch pipeline: the reference's ``main_*.py`` flow.

Composes the stage kernels in the reference's order
(``main_2022.py:159-163``): parse → resample → unify-forecast → unify-GPS.
Each stage is also usable alone; this module only wires DataFrames
together, so Catalyst sees ONE logical plan per stage run and optimizes
across the composition (e.g. column pruning reaches the candump scan even
for a downstream projection).

Scale notes: the parse stage is embarrassingly parallel over input splits;
resample shuffles once on the window bucket; each unify join broadcasts
the (small) enrichment side. Partition the parquet sinks by date for
partition pruning on re-reads.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solarboat_data_pipeline_spark.catalog import CanCatalog
from solarboat_data_pipeline_spark.functions.geo import derive_track
from solarboat_data_pipeline_spark.operators.parse import (
    _decode_wide,
    file_order_bounds,
    with_frame_meta,
    with_timestamp,
)
from solarboat_data_pipeline_spark.operators.timeseries import (
    WIDE_INTERPOLATE_MAX_COLS,
    asfreq,
    asof_join_backward,
    clean_timestamp_outliers,
    dedup_keep_first,
    interpolate_time,
    reindex_interpolate,
    resample_interpolate,
)
from solarboat_data_pipeline_spark.sources.candump import extract_frames, scan_candump
from solarboat_data_pipeline_spark.sources.gpx import scan_gpx

# r14 (guide §2.4): below this total output width the unify stages carry
# the telemetry columns THROUGH the reindex/as-of window instead of
# joining the projected columns back on the grid key — each stage drops
# one SortMergeJoin (2 Exchange + 2 Sort over the telemetry grid).
# Guarded by width because the passthrough window's sort carries full
# rows: for wide telemetry (the 187-column report catalog) the
# thin-window + join-back form keeps the single-task sort small.
UNIFY_PASSTHROUGH_MAX_COLS = 32


def parse_stage(
    spark: SparkSession,
    path: str,
    catalog: CanCatalog,
    offset_seconds: float = 0.0,
    mab20_workaround: bool = False,
    clean_outliers: bool = False,
    stats_out: dict | None = None,
) -> DataFrame:
    """E1 (``lib/canparser.py:263-364``): candump text → decoded wide table.

    Construction runs two eager thin jobs. The first measures the P4 crop
    bounds (:func:`operators.parse.file_order_bounds`), which fold into
    literal filters. The second is :func:`operators.parse.decode_wide`'s
    duplicate count over the cropped frames that match the catalog.

    ``stats_out``: pass a dict and it receives that second job's
    ``first_ts``/``last_ts`` — the returned table's exact timestamp
    min/max (``None`` for an empty table) — and ``dup_n``, the number of
    timestamps holding more than one matched frame. Downstream stages
    reuse the bounds (``resample_stage(known_bounds=...)``) instead of
    re-aggregating the table. Left unfilled with ``clean_outliers=True``,
    which can drop edge rows."""
    frames = extract_frames(scan_candump(spark, path))
    frames = with_timestamp(frames, offset_seconds=offset_seconds)
    bounds = file_order_bounds(frames).first()
    # an empty corpus has null bounds, and the null filter keeps nothing
    frames = frames.where(
        F.col("timestamp").between(
            F.lit(bounds["first_ts"]), F.lit(bounds["last_ts"])
        )
    )
    frames = with_frame_meta(frames, mab20_workaround=mab20_workaround)
    wide, stats = _decode_wide(frames, catalog, downcast=True)
    if clean_outliers:
        return clean_timestamp_outliers(wide)
    if stats_out is not None:
        stats_out.update(
            first_ts=stats["first_ts"], last_ts=stats["last_ts"],
            dup_n=stats["dup_n"],
        )
    return wide


def resample_stage(
    wide: DataFrame,
    period_seconds: float,
    ts_col: str = "timestamp",
    max_gap_seconds: float = 60.0,
    known_bounds: tuple | None = None,
) -> DataFrame:
    """E2 (``lib/resampler.py:59-101``): mean-downsample to a fixed period
    and gap-fill ≤ ``max_gap_seconds`` with bounded time interpolation
    (``limit = max(1, gap/period)`` samples, ``lib/resampler.py:63-66``).

    One kernel at every catalog width: the fused dense-grid form
    :func:`operators.timeseries.resample_interpolate` (one sparse sort +
    arithmetic gap generation), cell-for-cell equal to ``resample_mean`` +
    ``interpolate_time`` (locked by ``tests/test_resample_interpolate.py``).
    Grids too large for one task's sort take the bucketed kernels directly
    (``resample_interpolate(group_width=...)``,
    ``operators.scale.interpolate_time``).

    ``known_bounds`` (r14, guide §2.4): ``(lo, hi)`` datetimes equal to
    ``wide``'s exact ``ts_col`` min/max — e.g. ``parse_stage(stats_out=...)``
    bounds, ``(None, None)`` for an empty table. Skips this stage's own
    bounds aggregate."""
    return resample_interpolate(
        wide, period_seconds, ts_col=ts_col,
        limit=max(1, int(max_gap_seconds / period_seconds)),
        limit_area="inside", known_bounds=known_bounds,
    )


def unify_forecast_stage(
    telemetry: DataFrame,
    forecast: DataFrame,
    period_seconds: float,
    ts_col: str = "timestamp",
    prefix: str = "solcast_",
    shift_back_hours: float = 0.0,
    known_bounds: tuple | None = None,
) -> DataFrame:
    """E3a (``lib/unifier_with_forecast_data.py:11-104``): dedup + dense
    reindex of telemetry, forecast reprojected onto the telemetry grid with
    linear interpolation, then left-joined with a column prefix.

    ``known_bounds`` (r14, guide §2.4): ``(lo, hi)`` datetimes equal to
    ``telemetry``'s exact ``ts_col`` min/max (dedup cannot change them),
    e.g. the grid bounds of the upstream resample — skips ``asfreq``'s
    bounds aggregate."""
    telemetry = dedup_keep_first(telemetry, [ts_col], [ts_col])
    telemetry = asfreq(
        telemetry, period_seconds, ts_col=ts_col, known_bounds=known_bounds
    )
    if shift_back_hours:
        shift_us = int(shift_back_hours * 3600 * 1_000_000)
        forecast = forecast.withColumn(
            ts_col,
            F.timestamp_micros(
                F.unix_micros(F.col(ts_col).cast("timestamp")) - shift_us
            ),
        )
    value_cols = [c for c in forecast.columns if c != ts_col]
    if (
        len(telemetry.columns) + len(value_cols) <= UNIFY_PASSTHROUGH_MAX_COLS
        and len(value_cols) <= WIDE_INTERPOLATE_MAX_COLS
    ):
        # passthrough form (r14, guide §2.4): the same exact-match left
        # join puts the forecast samples on the same unique grid rows,
        # and the interpolation windows order by the same grid
        # timestamps — telemetry columns ride along as passengers, so
        # the projection never needs joining back. Output is
        # column-for-column identical to the join-back form (locked by
        # tests/test_pipeline.py); the e2e plan drops one SortMergeJoin.
        prefixed = [f"{prefix}{c}" for c in value_cols]
        fc = forecast.select(
            ts_col, *[F.col(c).alias(p) for c, p in zip(value_cols, prefixed)]
        )
        matched = telemetry.join(fc, ts_col, "left")
        return interpolate_time(
            matched, ts_col=ts_col, value_cols=prefixed, limit_area=None
        )
    proj = reindex_interpolate(telemetry, forecast, on=ts_col, value_cols=value_cols)
    proj = proj.select(
        ts_col, *[F.col(c).alias(f"{prefix}{c}") for c in value_cols]
    )
    return telemetry.join(proj, ts_col, "left")


def grid_bounds(bounds: tuple, period_seconds: float) -> tuple:
    """Floor raw data-time bounds onto the resample grid: the exact
    ``ts`` min/max of ``resample_stage``'s dense output for the same
    period (the spine starts at ``floor(lo)`` and ends at ``floor(hi)``,
    and both grid rows exist by construction). Uses the same
    ``TimestampType`` µs conversion as the spine literals, so the result
    is bit-identical to measuring the resampled frame."""
    from pyspark.sql.types import TimestampType

    lo, hi = bounds
    if lo is None:
        return (None, None)
    t = TimestampType()
    step_us = int(round(period_seconds * 1_000_000))
    return (
        t.fromInternal(t.toInternal(lo) // step_us * step_us),
        t.fromInternal(t.toInternal(hi) // step_us * step_us),
    )


def unify_gps_stage(
    telemetry: DataFrame,
    gps: DataFrame,
    ts_col: str = "timestamp",
    prefix: str = "gps_",
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """E3b (``lib/process_gpx_data.py:105-200``): GPS reprojected onto the
    telemetry timestamps with backward fill, left-joined with a prefix."""
    if value_cols is None:
        value_cols = [c for c in gps.columns if c != ts_col]
    gps = dedup_keep_first(gps, [ts_col], [ts_col])
    if len(telemetry.columns) + len(value_cols) <= UNIFY_PASSTHROUGH_MAX_COLS:
        # passthrough form (r14, guide §2.4): the union-window as-of
        # emits exactly one row per telemetry row with the same
        # backward fill (right rows sort before left at ties in both
        # forms), so the join-back on the grid key is redundant — one
        # SortMergeJoin dropped. Width-guarded: the as-of window sorts
        # full rows here, so wide telemetry keeps the thin form below.
        names = [f"{prefix}{c}" for c in value_cols]
        gp = gps.select(
            ts_col, *[F.col(c).alias(p) for c, p in zip(value_cols, names)]
        )
        return asof_join_backward(telemetry, gp, on=ts_col, value_cols=names)
    joined = asof_join_backward(
        telemetry.select(ts_col), gps, on=ts_col, value_cols=list(value_cols)
    )
    prefixed = joined.select(
        ts_col, *[F.col(c).alias(f"{prefix}{c}") for c in value_cols]
    )
    return telemetry.join(prefixed, ts_col, "left")


def run_pipeline(
    spark: SparkSession,
    candump_path: str,
    catalog: CanCatalog,
    period_seconds: float = 1.0,
    forecast: DataFrame | None = None,
    gpx_path: str | None = None,
    offset_seconds: float = 0.0,
    mab20_workaround: bool = False,
) -> DataFrame:
    """The full reference flow (``main_2022.py:159-163``), one logical plan."""
    stats: dict = {}
    wide = parse_stage(
        spark,
        candump_path,
        catalog,
        offset_seconds=offset_seconds,
        mab20_workaround=mab20_workaround,
        stats_out=stats,
    )
    # the parse stage already measured the decoded table's bounds — reuse
    # them for the resample spine and the asfreq grid instead of
    # re-aggregating the table at each stage
    kb = (stats["first_ts"], stats["last_ts"]) if "first_ts" in stats else None
    out = resample_stage(wide, period_seconds, known_bounds=kb)
    if forecast is not None:
        out = unify_forecast_stage(
            out, forecast, period_seconds,
            known_bounds=(
                grid_bounds(kb, period_seconds) if kb is not None else None
            ),
        )
    if gpx_path is not None:
        track = derive_track(scan_gpx(spark, gpx_path)).select(
            "timestamp", "latitude", "longitude", "altitude",
            "speed", "heading", "distance",
        )
        out = unify_gps_stage(out, track)
    return out
