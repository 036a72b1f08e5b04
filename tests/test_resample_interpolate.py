"""Fused resample+interpolate kernel (timeseries.resample_interpolate), the
one form pipeline.resample_stage runs: cell-for-cell equivalence with the
classic resample_mean→interpolate_time composition, across gap shapes,
limits, duplicate timestamps, all-null columns, leading/trailing nulls,
and both limit_area modes."""

import math
import random

import pytest
from pyspark.sql import functions as F

from solarboat_data_pipeline_spark.operators import timeseries as tsops
from solarboat_data_pipeline_spark.pipeline import resample_stage


def _mk(spark, rows, cols=("a", "b")):
    schema = "epoch double, " + ", ".join(f"{c} double" for c in cols)
    df = spark.createDataFrame(rows, schema)
    return df.select(
        F.timestamp_seconds("epoch").alias("timestamp"), *cols
    )


def _cells(df):
    out = {}
    for r in df.collect():
        key = r["timestamp"]
        assert key not in out, f"duplicate output timestamp {key}"
        out[key] = {c: r[c] for c in df.columns if c != "timestamp"}
    return out


def _assert_same(fused, classic):
    fc, cc = _cells(fused), _cells(classic)
    assert fc.keys() == cc.keys()
    for t in cc:
        for c in cc[t]:
            a, b = fc[t][c], cc[t][c]
            if b is None or (isinstance(b, float) and math.isnan(b)):
                assert a is None or (isinstance(a, float) and math.isnan(a)), (t, c, a, b)
            else:
                assert a is not None and math.isclose(a, b, rel_tol=0, abs_tol=0), (t, c, a, b)


def _classic(df, period, limit, limit_area="inside"):
    res = tsops.resample_mean(df, period, dense=True)
    return tsops.interpolate_time(
        res, limit=limit, limit_area=limit_area
    )


CASES = [
    # (rows, period, limit)
    # simple interior gap, exact fill
    ([(0.0, 1.0, 10.0), (4.0, 5.0, None), (8.0, None, 50.0)], 1.0, None),
    # bounded limit shorter than the gap
    ([(0.0, 1.0, 10.0), (10.0, 11.0, 20.0)], 1.0, 3),
    # duplicate timestamps average within the bucket
    ([(0.0, 1.0, None), (0.4, 3.0, 8.0), (5.0, 7.0, 2.0)], 1.0, None),
    # leading/trailing nulls stay null under limit_area="inside"
    ([(0.0, None, None), (2.0, 5.0, 1.0), (6.0, 9.0, None), (9.0, None, None)], 1.0, 2),
    # sub-second grid
    ([(0.0, 1.0, 2.0), (0.95, None, 4.0), (2.5, 3.0, None)], 0.1, 5),
]


@pytest.mark.parametrize("rows,period,limit", CASES)
def test_fused_matches_classic(spark, rows, period, limit):
    df = _mk(spark, rows)
    fused = tsops.resample_interpolate(df, period, limit=limit)
    _assert_same(fused, _classic(df, period, limit))


def test_fused_matches_classic_randomized(spark):
    rng = random.Random(42)
    cols = tuple(f"c{i}" for i in range(12))
    rows = []
    t = 0.0
    for _ in range(400):
        t += rng.random() * 8.0
        rows.append(
            (t, *[rng.uniform(-50, 50) if rng.random() < 0.25 else None for _ in cols])
        )
    df = _mk(spark, rows, cols)
    for limit in (None, 1, 4):
        fused = tsops.resample_interpolate(df, 1.0, limit=limit)
        _assert_same(fused, _classic(df, 1.0, limit))


def test_group_width_matches_global(spark):
    """The 100 TB form: bucket-group windows + boundary-table carry must
    equal the global per-column window exactly, including gaps that span
    several (possibly empty) groups, same-µs rows and an all-null
    column."""
    rng = random.Random(11)
    cols = ("a", "b", "c", "z")
    rows = []
    t = 0.0
    for i in range(300):
        t += rng.random() * 9.0 if i % 50 else 0.0
        rows.append(
            (t, *[rng.uniform(-5, 5) if rng.random() < 0.2 else None
                  for _ in cols[:-1]], None)
        )
    df = _mk(spark, rows, cols)
    for limit in (None, 3, 60):
        for la in ("inside", None):
            base = tsops.resample_interpolate(df, 1.0, limit=limit, limit_area=la)
            for gw in (1, 7, 64):
                g = tsops.resample_interpolate(
                    df, 1.0, limit=limit, limit_area=la, group_width=gw
                )
                _assert_same(g, base)


def test_fused_limit_area_none_trailing_clamp(spark):
    rows = [(0.0, 1.0, 4.0), (3.0, 7.0, None), (9.0, None, None)]
    df = _mk(spark, rows)
    for limit in (None, 2):
        fused = tsops.resample_interpolate(df, 1.0, limit=limit, limit_area=None)
        _assert_same(fused, _classic(df, 1.0, limit, limit_area=None))


def test_fused_all_null_column_and_empty(spark):
    rows = [(0.0, 1.0, None), (5.0, 2.0, None)]
    df = _mk(spark, rows)
    fused = tsops.resample_interpolate(df, 1.0, limit=None)
    _assert_same(fused, _classic(df, 1.0, None))
    empty = df.where(F.lit(False))
    measured = tsops.resample_interpolate(empty, 1.0)
    assert measured.count() == 0
    # parse_stage(stats_out=) measures an empty table as (None, None)
    for out in (
        tsops.resample_interpolate(empty, 1.0, known_bounds=(None, None)),
        resample_stage(empty, 1.0, known_bounds=(None, None)),
    ):
        assert out.count() == 0
        assert out.dtypes == measured.dtypes


def test_resample_stage_strategies_agree(spark):
    # 10 columns is the benchmark catalog's width, 40 a wide one
    for n_cols in (10, 40):
        rng = random.Random(7)
        cols = tuple(f"s{i}" for i in range(n_cols))
        rows = []
        t = 0.0
        for _ in range(300):
            t += rng.random() * 5.0
            rows.append(
                (t, *[rng.uniform(0, 10) if rng.random() < 0.1 else None
                      for _ in cols])
            )
        df = _mk(spark, rows, cols)
        stage = resample_stage(df, 1.0)  # limit 60 s / 1 s
        _assert_same(stage, tsops.resample_interpolate(df, 1.0, limit=60))
        _assert_same(stage, _classic(df, 1.0, 60))


def test_fused_plan_has_single_sort(spark):
    """The whole point: the fused plan sorts only the sparse valid cells
    once — the classic composition's two dense-grid window sorts must not
    appear."""
    from solarboat_data_pipeline_spark.plans.audit import explain_string

    cols = tuple(f"s{i}" for i in range(40))
    df = _mk(spark, [(float(i), *[1.0] * 40) for i in range(10)], cols)
    plan = explain_string(tsops.resample_interpolate(df, 1.0, limit=5))
    classic = explain_string(_classic(df, 1.0, 5))
    # exactly one Window (the sparse lead()) vs the classic pair of
    # dense-grid window passes, and strictly fewer sorts overall (the
    # remaining sorts are the spine join's single-column key sorts, which
    # the classic plan pays too inside resample_mean's dense join)
    assert plan.count(") Window") == 1, plan
    assert classic.count(") Window") >= 2, classic
    assert plan.count(") Sort") < classic.count(") Sort"), (plan, classic)
    # the stage runs the fused kernel at every width, narrow ones too
    narrow = _mk(spark, [(float(i), 1.0, 2.0) for i in range(10)])
    stage = explain_string(resample_stage(narrow, 1.0))
    assert stage.count(") Window") == 1, stage


def test_fused_partition_cols_matches_classic(spark):
    """Per-series form: partition_cols must partition the grid, the
    windows, and the spine independently per key."""
    rng = random.Random(3)
    rows = []
    for sid in ("x", "y"):
        t = 0.0 if sid == "x" else 1000.0
        for _ in range(120):
            t += rng.random() * 6.0
            rows.append(
                (sid, t,
                 rng.uniform(0, 9) if rng.random() < 0.3 else None,
                 rng.uniform(0, 9) if rng.random() < 0.3 else None)
            )
    df = spark.createDataFrame(
        rows, "sid string, epoch double, a double, b double"
    ).select("sid", F.timestamp_seconds("epoch").alias("timestamp"), "a", "b")

    def cells(out):
        res = {}
        for r in out.collect():
            k = (r["sid"], r["timestamp"])
            assert k not in res
            res[k] = (r["a"], r["b"])
        return res

    for gw in (None, 16):
        fused = tsops.resample_interpolate(
            df, 1.0, partition_cols=["sid"], limit=4, group_width=gw
        )
        res = tsops.resample_mean(df, 1.0, partition_cols=["sid"], dense=True)
        classic = tsops.interpolate_time(
            res, partition_cols=["sid"], limit=4
        )
        fc, cc = cells(fused), cells(classic)
        assert fc.keys() == cc.keys()
        for k in cc:
            for x, y in zip(fc[k], cc[k]):
                if y is None:
                    assert x is None, (k, x, y)
                else:
                    assert x is not None and math.isclose(x, y, abs_tol=0), (k, x, y)
