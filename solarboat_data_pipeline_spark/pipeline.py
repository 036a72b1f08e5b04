"""End-to-end batch pipeline: the reference's ``main_*.py`` flow.

Composes the stage kernels in the reference's order
(``main_2022.py:159-163``): parse → resample → unify-forecast → unify-GPS.
Each stage is also usable alone; this module only wires DataFrames
together, so Catalyst optimizes across the composition. The parse stage
is the one lineage cut: it materialises the extracted frames once, so the
candump text is scanned and regex-matched once per run.

Scale notes: the parse stage is embarrassingly parallel over input splits;
resample shuffles once on the window bucket; each unify stage broadcasts
its (small) enrichment side as an interval lookup, so the telemetry grid
is never sorted again. Partition the parquet sinks by date for partition
pruning on re-reads.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
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
    _us,
    clean_timestamp_outliers,
    resample_interpolate,
)
from solarboat_data_pipeline_spark.sources.candump import extract_frames, scan_candump
from solarboat_data_pipeline_spark.sources.gpx import scan_gpx


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

    Construction scans the text once. One eager job materialises the
    extracted frames, cut to timestamp and payload (``localCheckpoint``),
    and measures the P4 crop bounds on the way as observed metrics
    (:func:`operators.parse.file_order_bounds`); the bounds fold into
    literal filters. A second thin job over that table is
    :func:`operators.parse.decode_wide`'s duplicate count over the cropped
    frames that match the catalog, and the returned plan decodes from the
    same table.

    ``stats_out``: pass a dict and it receives that second job's
    ``first_ts``/``last_ts`` — the returned table's exact timestamp
    min/max (``None`` for an empty table) — and ``dup_n``, the number of
    timestamps holding more than one matched frame. Downstream stages
    reuse the bounds (``resample_stage(known_bounds=...)``) instead of
    re-aggregating the table. Left unfilled with ``clean_outliers=True``,
    which can drop edge rows."""
    frames = extract_frames(scan_candump(spark, path))
    frames = with_timestamp(frames, offset_seconds=offset_seconds)
    frames = with_frame_meta(frames, mab20_workaround=mab20_workaround)
    seen = Observation()
    frames = frames.observe(seen, *file_order_bounds(frames)).select(
        "timestamp", "signature", "topic_id", "payload_len", "payload_hex"
    ).localCheckpoint(eager=True)
    bounds = seen.get
    # an empty corpus has null bounds, and the null filter keeps nothing
    frames = frames.where(
        F.col("timestamp").between(
            F.lit(bounds["first_ts"]), F.lit(bounds["last_ts"])
        )
    )
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
    """E3a (``lib/unifier_with_forecast_data.py:11-104``): the forecast
    reindexed onto the telemetry grid and interpolated linearly (clamped
    forward after the last sample, null before the first — pandas
    defaults), left-joined with a column prefix. One broadcast lookup,
    cell-for-cell equal to ``reindex_interpolate`` + join.

    ``telemetry`` must be a dense, unique ``period_seconds`` grid, as
    :func:`resample_stage` returns (the reference's dedup + ``asfreq`` of
    it are the identity there). Forecast samples off that grid or outside
    its bounds drop, as in the reference's reindex; a duplicate forecast
    timestamp keeps its first row. ``known_bounds``: the grid's exact
    ``(lo, hi)``, e.g. :func:`grid_bounds` of the upstream resample —
    skips this stage's bounds aggregate."""
    lo, hi = known_bounds or telemetry.agg(F.min(ts_col), F.max(ts_col)).first()
    lo, hi = _us(F.lit(lo)), _us(F.lit(hi))
    t = _us(F.col(ts_col)) - int(shift_back_hours * 3600 * 1_000_000)
    step_us = int(round(period_seconds * 1_000_000))
    on_grid = forecast.where(t.between(lo, hi) & ((t - lo) % step_us == 0))
    value_cols = [c for c in forecast.columns if c != ts_col]
    return _interval_lookup(telemetry, on_grid, t, ts_col, prefix, value_cols, True)


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
    telemetry timestamps with backward fill, left-joined with a prefix; a
    duplicate GPS timestamp keeps its first row. One broadcast lookup,
    cell-for-cell equal to ``asof_join_backward`` + join."""
    if value_cols is None:
        value_cols = [c for c in gps.columns if c != ts_col]
    t = _us(F.col(ts_col))
    return _interval_lookup(telemetry, gps, t, ts_col, prefix, value_cols, False)


# Bin width of the lookup's interval explode: it sizes only the broadcast
# side; the containment filter is exact, so results do not depend on it.
_LOOKUP_BIN_US = 1_000_000


def _interval_lookup(
    telemetry: DataFrame,
    side: DataFrame,
    side_us: Column,
    ts_col: str,
    prefix: str,
    value_cols: Sequence[str],
    interpolate: bool,
) -> DataFrame:
    """Left-join the small ``side`` (µs time ``side_us``) onto every
    telemetry row as one broadcast interval lookup; only ``side`` is
    ordered, the telemetry is never sorted or shuffled.

    Same-instant side duplicates drop (first kept). Side row *i* owns
    ``[t_i, t_{i+1})``, the last one open-ended, and carries per column
    the last valid value at or before ``t_i`` and its time: the backward
    as-of. ``interpolate`` adds the first valid value after ``t_i``, and
    the row gets ``interpolate_time(limit_area=None)``'s exact expression.
    Rows before ``t_0`` get nulls. The last-bin aggregate materialises the
    side while the stage is built, so the side's single-task windows do
    not queue behind the telemetry plan's stages."""
    t = F.col("__t")
    w = Window.orderBy(t)
    frames = {"p": w.rowsBetween(Window.unboundedPreceding, 0)}
    if interpolate:
        # strictly after row i: a running frame over the reverse order (an
        # unbounded-following frame is O(n²), see interpolate_time)
        after = Window.orderBy(t.desc())
        frames["n"] = after.rowsBetween(Window.unboundedPreceding, -1)
    s = side.select(
        side_us.alias("__t"),
        *[F.col(c).alias(f"__v{j}") for j, c in enumerate(value_cols)],
    )
    s = s.withColumn("__lag", F.lag(t).over(w)).where(~F.col("__lag").eqNullSafe(t))
    cols = {"__end": F.lead(t).over(w)}
    for j in range(len(value_cols)):
        v = F.col(f"__v{j}")
        for k, frame in frames.items():
            cols[f"__{k}v{j}"] = F.last(v, True).over(frame)
            cols[f"__{k}t{j}"] = F.last(F.when(v.isNotNull(), t), True).over(frame)

    def bin_of(us: Column) -> Column:
        return F.floor(us / _LOOKUP_BIN_US)

    bins = F.sequence(bin_of(t), bin_of(F.coalesce(F.col("__end") - 1, t)))
    s = s.withColumns(cols).select(
        *cols, "__t", F.explode(bins).alias("__bin")
    ).localCheckpoint(eager=False)
    last_bin = s.agg(F.max("__bin")).first()[0]

    ts = _us(F.col(ts_col))
    hit = (
        (F.col("__bin") == F.least(bin_of(ts), F.lit(last_bin)))
        & (t <= ts)
        & (F.col("__end").isNull() | (ts < F.col("__end")))
    )
    vals = []
    for j, c in enumerate(value_cols):
        pv, pt, nv, nt = (F.col(f"__{k}{j}") for k in ("pv", "pt", "nv", "nt"))
        if interpolate:
            blend = pv + (nv - pv) * ((ts - pt) / (nt - pt))
            pv = F.when(pt == ts, pv).when(
                pv.isNotNull() & nv.isNotNull(), blend
            ).when(pv.isNotNull(), pv)
        vals.append(pv.alias(f"{prefix}{c}"))
    rest = [c for c in telemetry.columns if c != ts_col]
    joined = telemetry.join(F.broadcast(s), hit, "left")
    return joined.select(ts_col, *rest, *vals)


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
    """The full reference flow (``main_2022.py:159-163``), one logical plan
    over the parse stage's materialised frame table."""
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
    # them for the resample spine and the forecast's grid filter instead
    # of re-aggregating the table at each stage
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
