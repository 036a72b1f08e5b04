"""End-to-end pipeline test: the full reference flow (parse → 1 s resample
→ forecast unify → GPS unify) over the adversarial candump corpus, a
synthetic forecast grid, and a real GPX file."""

import math
import os

import pytest
from pyspark.sql import functions as F

from solarboat_data_pipeline_spark.catalog import CanCatalog
from solarboat_data_pipeline_spark.pipeline import (
    parse_stage,
    resample_stage,
    run_pipeline,
    unify_forecast_stage,
    unify_gps_stage,
)
from solarboat_data_pipeline_spark.sources.gpx import scan_gpx

from tests.conftest import DATA_DIR

CORPUS = os.path.join(DATA_DIR, "sample.candump")
MINI = os.path.join(DATA_DIR, "mini_can_ids.json")
GPX = os.path.join(DATA_DIR, "track.gpx")

T0 = 1700000000  # corpus epoch start (2023-11-14T22:13:20Z)


@pytest.fixture(scope="module")
def catalog():
    return CanCatalog.load(MINI)


@pytest.fixture(scope="module")
def forecast(spark):
    # on-grid points at :00 and :02; dni ramps 100 → 200
    return spark.createDataFrame(
        [(T0, 100.0, 10.0), (T0 + 2, 200.0, 20.0)],
        "epoch long, dni double, ghi double",
    ).select(
        F.timestamp_seconds("epoch").alias("timestamp"), "dni", "ghi"
    )


def test_parse_resample_shape(spark, catalog):
    wide = parse_stage(spark, CORPUS, catalog)
    res = resample_stage(wide, 1.0)
    rows = {r["timestamp"].second % 10: r for r in res.collect()}
    # dense 1 s grid over the cropped corpus: buckets :00..:03
    assert sorted(rows) == [0, 1, 2, 3]
    # bucket :00 averages the two same-µs ADC frames plus the others
    assert rows[0]["BAT21__STATE__STATE"] == 3.0
    # STATE valid at :00 (3) and :03 (5) → time-linear fill between
    assert math.isclose(rows[1]["BAT21__STATE__STATE"], 3 + 2 / 3, rel_tol=1e-6)
    assert math.isclose(rows[2]["BAT21__STATE__STATE"], 3 + 4 / 3, rel_tol=1e-6)
    assert rows[3]["BAT21__STATE__STATE"] == 5.0


def _rows_equal(a, b, key="timestamp"):
    ra = {r[key]: r.asDict() for r in a.collect()}
    rb = {r[key]: r.asDict() for r in b.collect()}
    assert ra.keys() == rb.keys()
    assert a.columns == b.columns
    for k, row in ra.items():
        for c, va in row.items():
            vb = rb[k][c]
            assert (va is None) == (vb is None), (k, c, va, vb)
            if isinstance(va, float) and va is not None:
                assert math.isclose(va, vb, rel_tol=1e-12), (k, c, va, vb)
            else:
                assert va == vb, (k, c)


# first frame in file order has an unknown signature, last one a wrong
# payload length: the regex keeps both, the decode drops both
EDGE_REJECTS = """\
(1699999999.500000) can0 021#559f04f600f600
(1700000000.100000) can0 008#fa03
(1700000000.300000) can0 021#fa9f04f600f600
(1700000000.300000) can0 021#faa104f600f600
(1700000001.200000) can0 040#e60301
(1700000002.400000) can0 008#fa05
(1700000003.900000) can0 008#fa03ff
"""


def test_known_bounds_forms_match_measured(spark, catalog, forecast, tmp_path):
    """r14: every known_bounds fast path must be cell-identical to the
    measured form — the parse stats bounds fed through resample_stage,
    the grid bounds fed through unify_forecast_stage, and the driver-side
    time_spine row count. Also on a corpus whose first and
    last frames the decode rejects, where the crop bounds are not the
    decoded table's bounds."""
    from solarboat_data_pipeline_spark.operators.timeseries import time_spine
    from solarboat_data_pipeline_spark.pipeline import grid_bounds

    edge = tmp_path / "edge_rejects.candump"
    edge.write_text(EDGE_REJECTS)
    for corpus in (CORPUS, str(edge)):
        stats: dict = {}
        wide = parse_stage(spark, corpus, catalog, stats_out=stats)
        assert "first_ts" in stats and stats["dup_n"] >= 0
        kb = (stats["first_ts"], stats["last_ts"])

        # the recorded stats bounds ARE the decoded table's exact min/max
        m = wide.agg(F.min("timestamp"), F.max("timestamp")).first()
        assert (m[0], m[1]) == kb, corpus

        _rows_equal(
            resample_stage(wide, 1.0),
            resample_stage(wide, 1.0, known_bounds=kb),
        )
        res = resample_stage(wide, 1.0)
        gkb = grid_bounds(kb, 1.0)
        g = res.agg(F.min("timestamp"), F.max("timestamp")).first()
        assert (g[0], g[1]) == gkb
        _rows_equal(
            unify_forecast_stage(res, forecast, 1.0),
            unify_forecast_stage(res, forecast, 1.0, known_bounds=gkb),
        )
        # time_spine: driver-side count (datetime bounds) vs the job form
        # (string bounds force the Spark path)
        py_spine = time_spine(spark, gkb[0], gkb[1], 1.0)
        job_spine = time_spine(
            spark, gkb[0].isoformat(sep=" "), gkb[1].isoformat(sep=" "), 1.0
        )
        assert [r[0] for r in py_spine.collect()] == [
            r[0] for r in job_spine.collect()
        ]


def test_full_pipeline_enrichment(spark, catalog, forecast):
    out = run_pipeline(
        spark,
        CORPUS,
        catalog,
        period_seconds=1.0,
        forecast=forecast,
        gpx_path=GPX,
    )
    rows = {r["timestamp"].second % 10: r for r in out.collect()}
    assert sorted(rows) == [0, 1, 2, 3]

    # forecast reprojected onto the grid: linear between :00 and :02,
    # clamped forward after the last sample (pandas interpolate default)
    assert rows[0]["solcast_dni"] == 100.0
    assert math.isclose(rows[1]["solcast_dni"], 150.0, rel_tol=1e-9)
    assert rows[2]["solcast_dni"] == 200.0
    assert rows[3]["solcast_dni"] == 200.0
    assert math.isclose(rows[1]["solcast_ghi"], 15.0, rel_tol=1e-9)

    # GPS backward as-of: track points at :19.5 and :21.5
    assert math.isclose(rows[0]["gps_latitude"], -27.5935, rel_tol=1e-9)
    assert math.isclose(rows[1]["gps_latitude"], -27.5935, rel_tol=1e-9)
    assert math.isclose(rows[2]["gps_latitude"], -27.5940, rel_tol=1e-9)
    assert math.isclose(rows[3]["gps_latitude"], -27.5940, rel_tol=1e-9)
    # second point carries derived speed/heading/cumulative distance
    assert rows[2]["gps_speed"] is not None and rows[2]["gps_speed"] > 0
    assert rows[2]["gps_distance"] > 0


def test_gpx_scan_parses_track(spark):
    track = scan_gpx(spark, GPX)
    pts = track.orderBy("timestamp").collect()
    assert len(pts) == 2
    assert pts[0]["latitude"] == -27.5935
    assert pts[0]["altitude"] == 3.0
    assert pts[0]["timestamp"].isoformat().startswith("2023-11-14T22:13:19.5")


def test_unify_stages_compose_independently(spark, catalog, forecast):
    wide = parse_stage(spark, CORPUS, catalog)
    res = resample_stage(wide, 1.0)
    with_fc = unify_forecast_stage(res, forecast, 1.0)
    assert "solcast_dni" in with_fc.columns
    track = scan_gpx(spark, GPX).select("timestamp", "latitude")
    with_gps = unify_gps_stage(with_fc, track)
    assert "gps_latitude" in with_gps.columns
    assert with_gps.count() == 4


# a 100 s grid at 250 ms, so several grid instants share each lookup bin
GRID_N, GRID_US = 400, 250_000
T0_US = T0 * 1_000_000


def _grid(spark, width):
    """Dense unique telemetry grid with ``width`` value columns, some null."""
    return spark.range(GRID_N).select(
        F.timestamp_micros(F.lit(T0_US) + F.col("id") * GRID_US).alias("timestamp"),
        *[
            F.when(F.col("id") % (j + 3) != 1, F.col("id") * 0.5 + j).alias(f"c{j}")
            for j in range(width)
        ],
    )


def _side(spark, rows, cols):
    """Rows of ``(µs offset from T0, *values)`` as a timestamped table."""
    return spark.createDataFrame(
        rows, ", ".join(["dt long"] + [f"{c} double" for c in cols])
    ).select(
        F.timestamp_micros(F.lit(T0_US) + F.col("dt")).alias("timestamp"), *cols
    )


# forecast: on-grid samples with a per-column null, an off-grid sample,
# on-grid samples before and after the grid bounds, and one on-grid
# instant given twice
FORECAST_ROWS = [
    (-10_000_000, 1.0, 2.0),
    (5_000_000, 100.0, 10.0),
    (25_000_000, None, 30.0),
    (30_100_000, 9999.0, 9999.0),
    (41_250_000, 250.0, None),
    (60_000_000, 180.0, 40.0),
    (60_000_000, 180.0, 40.0),
    (77_750_000, 120.0, 50.0),
    (200_000_000, 7.0, 7.0),
]
# GPS: starts before the grid, one sample exactly on a grid instant,
# irregular spacing, a per-column null and a duplicate timestamp
GPS_ROWS = [
    (-3_300_000, -27.0, 48.0),
    (2_700_000, -27.1, None),
    (10_000_000, -27.2, 48.2),
    (10_050_000, None, 48.3),
    (47_300_000, -27.4, 48.4),
    (47_300_000, -27.4, 48.4),
    (47_310_000, -27.5, 48.5),
    (88_800_000, -27.6, 48.6),
]


def _cells(df):
    return df.columns, {r["timestamp"]: tuple(r) for r in df.collect()}


def test_unify_stages_match_reference_operators(spark):
    """Both unify stages equal the J3/J4 operators joined back onto the
    grid, cell for cell with ``==``, at a narrow and a wide telemetry
    width. A duplicated forecast instant adds no grid row."""
    from solarboat_data_pipeline_spark.operators.timeseries import (
        asof_join_backward,
        reindex_interpolate,
    )

    fc = _side(spark, FORECAST_ROWS, ["dni", "ghi"])
    gps = _side(spark, GPS_ROWS, ["lat", "lon"])
    for width in (2, 40):
        grid = _grid(spark, width).localCheckpoint()
        ref_fc = reindex_interpolate(
            grid, fc.dropDuplicates(["timestamp"]), on="timestamp"
        ).select("timestamp", F.col("dni").alias("solcast_dni"),
                 F.col("ghi").alias("solcast_ghi"))
        ref_gps = asof_join_backward(
            grid.select("timestamp"), gps, on="timestamp"
        ).select("timestamp", F.col("lat").alias("gps_lat"),
                 F.col("lon").alias("gps_lon"))
        kb = tuple(grid.agg(F.min("timestamp"), F.max("timestamp")).first())
        for out, ref in (
            (unify_forecast_stage(grid, fc, GRID_US / 1e6), ref_fc),
            (unify_forecast_stage(grid, fc, GRID_US / 1e6, known_bounds=kb), ref_fc),
            (unify_gps_stage(grid, gps), ref_gps),
        ):
            cols, got = _cells(out)
            assert out.count() == GRID_N, width
            ref_cols, want = _cells(grid.join(ref, "timestamp", "left"))
            assert cols == ref_cols, width
            assert got == want, width
