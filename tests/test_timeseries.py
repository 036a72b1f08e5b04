"""Time-series kernels vs pandas reference semantics."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from solarboat_data_pipeline_spark.operators import timeseries as ts


def _collect_series(df, ts_col="timestamp", val_col="v"):
    rows = df.orderBy(ts_col).collect()
    return [(r[ts_col], r[val_col]) for r in rows]


@pytest.fixture(scope="module")
def sparse_df(spark):
    # 10 Hz-ish sparse signal with gaps, seconds 0..9
    data = [
        (0.0, 1.0),
        (1.0, None),
        (2.0, None),
        (3.0, None),
        (4.0, None),
        (5.0, 5.0),
        (6.0, None),
        (7.0, None),
        (8.0, 2.0),
        (9.0, None),
    ]
    return spark.createDataFrame(
        [(pd.Timestamp(s, unit="s").to_pydatetime(), v) for s, v in data],
        "timestamp timestamp, v double",
    )


def test_time_spine(spark):
    spine = ts.time_spine(spark, "2024-01-01 00:00:00", "2024-01-01 00:00:10", 2.5)
    vals = [r["timestamp"] for r in spine.orderBy("timestamp").collect()]
    assert len(vals) == 5
    assert vals[1].microsecond == 500000


def test_interpolate_inside_limit_matches_pandas(sparse_df):
    idx = pd.to_datetime(range(10), unit="s")
    s = pd.Series([1.0, np.nan, np.nan, np.nan, np.nan, 5.0, np.nan, np.nan, 2.0, np.nan], index=idx)
    # note leading value present; emulate reference: limit=2, inside
    expected = s.interpolate(method="time", limit_area="inside", limit=2).tolist()
    got = [
        v
        for _, v in _collect_series(
            ts.interpolate_time(sparse_df, value_cols=["v"], limit=2)
        )
    ]
    for g, e in zip(got, expected):
        if math.isnan(e):
            assert g is None
        else:
            assert math.isclose(g, e), (got, expected)


def test_interpolate_forward_clamp_matches_pandas(sparse_df):
    idx = pd.to_datetime(range(10), unit="s")
    s = pd.Series([1.0, np.nan, np.nan, np.nan, np.nan, 5.0, np.nan, np.nan, 2.0, np.nan], index=idx)
    expected = s.interpolate(method="time").tolist()  # default: trailing clamped
    got = [
        v
        for _, v in _collect_series(
            ts.interpolate_time(sparse_df, value_cols=["v"], limit_area=None)
        )
    ]
    for g, e in zip(got, expected):
        assert math.isclose(g, e), (got, expected)


def test_interpolate_nonuniform_time_weights(spark):
    df = spark.createDataFrame(
        [
            (pd.Timestamp(0, unit="s").to_pydatetime(), 0.0),
            (pd.Timestamp(1, unit="s").to_pydatetime(), None),
            (pd.Timestamp(4, unit="s").to_pydatetime(), None),
            (pd.Timestamp(10, unit="s").to_pydatetime(), 10.0),
        ],
        "timestamp timestamp, v double",
    )
    got = [v for _, v in _collect_series(ts.interpolate_time(df, value_cols=["v"]))]
    assert got == [0.0, 1.0, 4.0, 10.0]  # pandas method="time" parity


def test_resample_mean_dense(spark):
    rows = [
        (0.1, 1.0),
        (0.9, 3.0),  # bucket 0 → mean 2
        (2.5, 10.0),  # bucket 2 → 10; bucket 1 empty (dense null row)
    ]
    df = spark.createDataFrame(
        [(pd.Timestamp(s, unit="s").to_pydatetime(), v) for s, v in rows],
        "timestamp timestamp, v double",
    )
    out = _collect_series(ts.resample_mean(df, 1.0))
    assert len(out) == 3
    assert math.isclose(out[0][1], 2.0)
    assert out[1][1] is None
    assert math.isclose(out[2][1], 10.0)

    pdf = pd.DataFrame(
        {"v": [v for _, v in rows]},
        index=pd.to_datetime([s for s, _ in rows], unit="s"),
    )
    expected = pdf.resample("1s").mean()
    assert len(expected) == len(out)
    for (_, got_v), exp_v in zip(out, expected["v"].tolist()):
        if math.isnan(exp_v):
            assert got_v is None
        else:
            assert math.isclose(got_v, exp_v)


def test_resample_then_interpolate_matches_reference_chain(spark):
    # the reference resample stage: resample(period).mean().interpolate(
    #   method="time", limit_area="inside", limit=max(1, 60/period))
    rng = np.random.RandomState(42)
    secs = np.sort(rng.uniform(0, 120, 200))
    vals = rng.randn(200).cumsum()
    keep = rng.rand(200) > 0.6  # sparse
    pdf = pd.DataFrame(
        {"v": np.where(keep, vals, np.nan)}, index=pd.to_datetime(secs, unit="s")
    )
    period = 1.0
    expected = (
        pdf.resample("1s").mean().interpolate(method="time", limit_area="inside", limit=60)
    )

    sdf = spark.createDataFrame(
        [
            (pd.Timestamp(s, unit="s").to_pydatetime(), None if not k else float(v))
            for s, v, k in zip(secs, vals, keep)
        ],
        "timestamp timestamp, v double",
    )
    got = ts.interpolate_time(
        ts.resample_mean(sdf, period), value_cols=["v"], limit=60
    )
    got_list = _collect_series(got)
    assert len(got_list) == len(expected)
    for (ts_g, v_g), (ts_e, v_e) in zip(got_list, expected["v"].items()):
        assert pd.Timestamp(ts_g) == ts_e
        if math.isnan(v_e):
            assert v_g is None, (ts_g, v_g, v_e)
        else:
            assert math.isclose(v_g, v_e, rel_tol=1e-9), (ts_g, v_g, v_e)


def test_asof_backward_matches_pandas_merge_asof(spark):
    rng = np.random.RandomState(7)
    left_ts = np.sort(rng.uniform(0, 100, 150))
    right_ts = np.sort(rng.uniform(-5, 95, 40))
    right_v = rng.randn(40)

    left = spark.createDataFrame(
        [(pd.Timestamp(s, unit="s").to_pydatetime(),) for s in left_ts],
        "timestamp timestamp",
    )
    right = spark.createDataFrame(
        [
            (pd.Timestamp(s, unit="s").to_pydatetime(), float(v))
            for s, v in zip(right_ts, right_v)
        ],
        "timestamp timestamp, gps double",
    )
    got = _collect_series(
        ts.asof_join_backward(left, right, value_cols=["gps"]), val_col="gps"
    )
    expected = pd.merge_asof(
        pd.DataFrame({"timestamp": pd.to_datetime(left_ts, unit="s")}),
        pd.DataFrame(
            {"timestamp": pd.to_datetime(right_ts, unit="s"), "gps": right_v}
        ),
        on="timestamp",
        direction="backward",
    )
    for (ts_g, v_g), v_e in zip(got, expected["gps"].tolist()):
        if math.isnan(v_e):
            assert v_g is None
        else:
            assert math.isclose(v_g, v_e, rel_tol=1e-12)


def test_asof_linear_interpolates(spark):
    left = spark.createDataFrame(
        [(pd.Timestamp(s, unit="s").to_pydatetime(),) for s in [0.0, 1.0, 2.0, 3.0, 11.0]],
        "timestamp timestamp",
    )
    right = spark.createDataFrame(
        [
            (pd.Timestamp(0, unit="s").to_pydatetime(), 0.0),
            (pd.Timestamp(2, unit="s").to_pydatetime(), 20.0),
            (pd.Timestamp(10, unit="s").to_pydatetime(), 100.0),
        ],
        "timestamp timestamp, f double",
    )
    got = _collect_series(
        ts.asof_join_linear(left, right, value_cols=["f"]), val_col="f"
    )
    vals = [v for _, v in got]
    assert vals[0] == 0.0  # exact
    assert math.isclose(vals[1], 10.0)  # midpoint
    assert vals[2] == 20.0  # exact
    assert math.isclose(vals[3], 30.0)  # (3-2)/(10-2)*80+20
    assert vals[4] == 100.0  # clamp after last


def test_reindex_interpolate_discards_off_grid(spark):
    # reference J3 quirk: off-grid right rows are dropped entirely
    grid = spark.createDataFrame(
        [(pd.Timestamp(s, unit="s").to_pydatetime(),) for s in [0.0, 1.0, 2.0, 3.0, 4.0]],
        "timestamp timestamp",
    )
    right = spark.createDataFrame(
        [
            (pd.Timestamp(0, unit="s").to_pydatetime(), 0.0),
            (pd.Timestamp(2.5, unit="s").to_pydatetime(), 999.0),  # off-grid → dropped
            (pd.Timestamp(4, unit="s").to_pydatetime(), 8.0),
        ],
        "timestamp timestamp, f double",
    )
    got = [v for _, v in _collect_series(ts.reindex_interpolate(grid, right), val_col="f")]
    # pandas: reindex([0..4]) keeps 0 and 4 only → linear between → [0,2,4,6,8]
    assert got == [0.0, 2.0, 4.0, 6.0, 8.0]


def test_unify_chunks_clips_and_unions(spark):
    t = spark.createDataFrame(
        [(pd.Timestamp(s, unit="s").to_pydatetime(), 1.0) for s in [10.0, 20.0]],
        "timestamp timestamp, a double",
    )
    r = spark.createDataFrame(
        [(pd.Timestamp(s, unit="s").to_pydatetime(), 2.0) for s in [5.0, 15.0, 25.0]],
        "timestamp timestamp, b double",
    )
    out = ts.unify_chunks(t, r).collect()
    assert len(out) == 3  # 2 target + 1 ref row inside [10, 20]


def test_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 5, "b"), (2, 7, "c")], "k int, ord int, v string"
    )
    out = ts.dedup_keep_first(df, ["k"], ["ord"]).orderBy("k").collect()
    assert [(r["k"], r["v"]) for r in out] == [(1, "b"), (2, "c")]


def test_clean_timestamp_outliers(spark):
    # 30 rows 1s apart, with 5 rows jumped +200s in the middle (lag 10)
    rows = []
    for i in range(30):
        t = i + (200.0 if 12 <= i < 17 else 0.0)
        rows.append((pd.Timestamp(t, unit="s").to_pydatetime(), float(i)))
    df = spark.createDataFrame(rows, "timestamp timestamp, v double")
    out = ts.clean_timestamp_outliers(df, lag_rows=10, threshold_ns=1e11)
    kept = {int(r["v"]) for r in out.collect()}
    # rows whose ts-lag10 diff lands in [100s,1000s): the jumped rows (diff≈210s)
    # and the rows 10 after them (diff≈-190s → only negative branch range)
    assert all(i not in kept for i in range(12, 17))


def test_cumsum_and_trapezoid(spark):
    df = spark.createDataFrame(
        [
            (pd.Timestamp(0, unit="s").to_pydatetime(), 0.0),
            (pd.Timestamp(3600, unit="s").to_pydatetime(), 10.0),
            (pd.Timestamp(7200, unit="s").to_pydatetime(), None),
            (pd.Timestamp(10800, unit="s").to_pydatetime(), 20.0),
        ],
        "timestamp timestamp, p double",
    )
    c = ts.cumulative_sum(df, "p", "tot", ["timestamp"])
    vals = [r["tot"] for r in c.orderBy("timestamp").collect()]
    assert vals == [0.0, 10.0, 10.0, 30.0]

    t = ts.trapezoid_integral(df.na.fill(0.0), "p", "e")
    evals = [r["e"] for r in t.orderBy("timestamp").collect()]
    # trapezoid: 0, (0+10)/2*1h=5, 5+(10+0)/2=10, 10+(0+20)/2=20
    assert [round(v, 6) for v in evals] == [0.0, 5.0, 10.0, 20.0]


def test_iqr_clip(spark):
    data = [(float(i),) for i in range(1, 101)] + [(10000.0,)]
    df = spark.createDataFrame(data, "x double")
    out = ts.iqr_clip(df, ["x"], percentile=0.25, exact=True)
    vals = [r["x"] for r in out.collect()]
    assert vals.count(None) == 1  # only the 10000 outlier nulled
    assert 10000.0 not in [v for v in vals if v is not None]


def test_interpolate_long_strategy_matches_wide(spark):
    # the >8-column width switch must be invisible: the 12-column call
    # (long form) agrees cell-for-cell with one call per column (wide form)
    import math

    from pyspark.sql import functions as F

    cols = [f"c{i}" for i in range(12)]
    base = spark.range(120).select(
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 10).alias("timestamp"),
        *[
            (F.when((F.col("id") + i) % 5 != 0, (F.col("id") % 97) * 0.5 + i)).alias(
                c
            )
            for i, c in enumerate(cols)
        ],
    )
    for kwargs in ({"limit": 3}, {"limit_area": None}, {}):
        long = ts.interpolate_time(base, **kwargs).orderBy("timestamp").collect()
        for c in cols:
            wide = (
                ts.interpolate_time(base.select("timestamp", c), **kwargs)
                .orderBy("timestamp")
                .collect()
            )
            assert len(wide) == len(long)
            for rw, rl in zip(wide, long):
                assert rw["timestamp"] == rl["timestamp"]
                vw, vl = rw[c], rl[c]
                assert (vw is None) == (vl is None), (kwargs, c, vw, vl)
                if vw is not None:
                    assert math.isclose(vw, vl, rel_tol=1e-12), (kwargs, c)


def test_rolling_time_stats_matches_brute_force(spark):
    """Trailing [ts-window, ts] range stats vs a brute-force double loop,
    including duplicate timestamps (the RANGE frame groups peers) and
    multi-series isolation."""
    import datetime

    from solarboat_data_pipeline_spark.operators.timeseries import (
        rolling_time_stats,
    )

    base = datetime.datetime(2023, 1, 1)
    rows = []
    offs = [0, 1, 2, 2, 5, 9, 10, 14, 30, 31]  # seconds; includes a tie
    for series in ("a", "b"):
        for i, o in enumerate(offs):
            rows.append((series, base + datetime.timedelta(seconds=o),
                         float((i + 1) * (2 if series == "b" else 1))))
    df = spark.createDataFrame(rows, ["k", "timestamp", "v"])
    got = {
        (r["k"], r["timestamp"], r["v"]): (
            r["roll_mean"], r["roll_min"], r["roll_max"], r["roll_n"])
        for r in rolling_time_stats(
            df, "v", 10.0, partition_cols=["k"]).collect()
    }
    assert len(got) == len(rows)
    for k, t, v in [(r[0], r[1], r[2]) for r in rows]:
        window = [
            rv for rk, rt, rv in rows
            if rk == k and t - datetime.timedelta(seconds=10) <= rt <= t
        ]
        mean, mn, mx, n = (sum(window) / len(window), min(window),
                           max(window), len(window))
        gm, gmn, gmx, gn = got[(k, t, v)]
        assert (abs(gm - mean) < 1e-9 and gmn == mn and gmx == mx
                and gn == n), (k, t)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="window_seconds"):
        rolling_time_stats(df, "v", 0)

    # fractional windows: 0.3*1e6 is 299999.99999... in binary floating
    # point — a truncating int() would exclude a row spaced EXACTLY at
    # the window width from the inclusive frame
    f2 = spark.createDataFrame(
        [("a", base, 1.0),
         ("a", base + datetime.timedelta(microseconds=300_000), 2.0)],
        ["k", "timestamp", "v"],
    )
    r = (
        rolling_time_stats(f2, "v", 0.3, partition_cols=["k"])
        .orderBy("timestamp")
        .collect()[-1]
    )
    assert r["roll_n"] == 2 and r["roll_min"] == 1.0
