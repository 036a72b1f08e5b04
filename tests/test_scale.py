"""Scale-path kernels (operators/scale.py) vs their global-window twins.

Same semantics, different physical plan: random adversarial series (nulls,
duplicate timestamps, long gaps, empty buckets) must produce identical
results through the bucketed carry scan and the single global window. Bucket
boundaries are forced to land mid-series (small ``num_buckets`` and explicit
``bounds``) so the carry logic is actually exercised.
"""

import math
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from solarboat_data_pipeline_spark.operators import scale, timeseries as ts


def _ts(s):
    return pd.Timestamp(s, unit="s").to_pydatetime()


def _mk_series(spark, seed=7, n=400):
    rng = random.Random(seed)
    rows = []
    t = 0.0
    for _ in range(n):
        # irregular steps incl. repeats (step 0 → duplicate timestamps)
        t += rng.choice([0.0, 0.5, 1.0, 1.0, 2.0, 30.0])
        v = None if rng.random() < 0.45 else round(rng.uniform(-5, 5), 3)
        rows.append((_ts(t), v))
    return spark.createDataFrame(rows, "timestamp timestamp, v double")


def _uniq_ts(df, val_col="v"):
    """Collapse duplicate timestamps deterministically (max value). Ordered
    kernels that read values through ties (ffill, lag) are tie-arbitrary in
    BOTH implementations — exactly like pandas and the global window — so
    parity tests compare on tie-free series, as the reference itself dedups
    timestamps (W5) before its as-of joins."""
    return df.groupBy("timestamp").agg(F.max(val_col).alias(val_col))


def _vals(df, cols=("v",), ts_col="timestamp"):
    out = []
    for r in df.orderBy(ts_col, *cols).collect():
        out.append(tuple([r[ts_col]] + [r[c] for c in cols]))
    return out


def _approx_eq(a, b, tol=1e-9):
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra[0] == rb[0]
        for x, y in zip(ra[1:], rb[1:]):
            if x is None or y is None:
                assert x is None and y is None
            else:
                assert math.isclose(x, y, rel_tol=tol, abs_tol=tol), (ra, rb)


BUCKETS = 7  # few, so every bucket has many rows and boundaries bite


def test_with_buckets_is_contiguous_and_tie_safe(spark):
    df = _mk_series(spark, seed=1)
    b = scale.with_buckets(df, "timestamp", num_buckets=BUCKETS)
    # bucket id must be a non-decreasing function of the timestamp
    rows = b.select("timestamp", scale.BUCKET).orderBy("timestamp").collect()
    ids = [r[scale.BUCKET] for r in rows]
    assert ids == sorted(ids)
    assert len(set(ids)) > 1, "quantile bounds produced a single bucket"
    per_ts = b.groupBy("timestamp").agg(
        F.countDistinct(scale.BUCKET).alias("n")
    )
    assert per_ts.agg(F.max("n")).first()[0] == 1, "a tie group split buckets"


def test_cumulative_sum_matches_global(spark):
    df = _mk_series(spark, seed=2)
    g = ts.cumulative_sum(df, "v", "cum", order_cols=["timestamp"])
    s = scale.cumulative_sum(df, "v", "cum", ts_col="timestamp", num_buckets=BUCKETS)
    _approx_eq(_vals(g, ("cum",)), _vals(s, ("cum",)))


def test_sessionize_matches_global(spark):
    df = _mk_series(spark, seed=3).drop("v")
    g = ts.sessionize(df, gap_seconds=10.0)
    s = scale.sessionize(df, gap_seconds=10.0, num_buckets=BUCKETS)
    assert _vals(g, ("session_id",)) == _vals(s, ("session_id",))


def test_trapezoid_matches_global(spark):
    df = _uniq_ts(_mk_series(spark, seed=4).where(F.col("v").isNotNull()))
    g = ts.trapezoid_integral(df, "v", "e")
    s = scale.trapezoid_integral(df, "v", "e", num_buckets=BUCKETS)
    _approx_eq(_vals(g, ("e",)), _vals(s, ("e",)))


@pytest.mark.parametrize(
    "limit,area",
    [(None, "inside"), (2, "inside"), (None, None), (3, None), (60, "inside")],
)
def test_interpolate_matches_global(spark, limit, area):
    # "z" is all-null, as most catalog columns are on a resampled grid
    df = _uniq_ts(_mk_series(spark, seed=5)).withColumn(
        "z", F.lit(None).cast("double")
    )
    cols = ["v", "z"]
    g = ts.interpolate_time(df, value_cols=cols, limit=limit, limit_area=area)
    s = scale.interpolate_time(
        df, value_cols=cols, limit=limit, limit_area=area, num_buckets=BUCKETS
    )
    _approx_eq(_vals(g, cols), _vals(s, cols))


def _mk_wide(spark, seed=11, n=120, n_cols=50):
    """Strictly-increasing timestamps, ``n_cols`` sparse double columns —
    the 233-signal telemetry shape that must take the long-format plan."""
    rng = random.Random(seed)
    rows = []
    t = 0.0
    for _ in range(n):
        t += rng.choice([0.5, 1.0, 2.0, 30.0])
        vals = [
            None if rng.random() < 0.4 else round(rng.uniform(-5, 5), 3)
            for _ in range(n_cols)
        ]
        rows.append((_ts(t), *vals))
    cols = ", ".join(f"c{i} double" for i in range(n_cols))
    return spark.createDataFrame(rows, f"timestamp timestamp, {cols}")


@pytest.mark.parametrize("limit,area", [(None, "inside"), (2, None)])
def test_interpolate_long_strategy_matches_global(spark, limit, area):
    """50 value columns: both auto paths switch to long format; the scale
    form (bucketed, carries per (name, bucket)) must equal the timeseries
    long form (one global window per name)."""
    df = _mk_wide(spark)
    cols = [c for c in df.columns if c != "timestamp"]
    g = ts.interpolate_time(df, value_cols=cols, limit=limit, limit_area=area)
    s = scale.interpolate_time(
        df, value_cols=cols, limit=limit, limit_area=area, num_buckets=BUCKETS
    )
    _approx_eq(_vals(g, cols), _vals(s, cols))


def test_interpolate_long_strategy_no_per_column_fanout(spark):
    """The chosen long plan must not contain per-column carry expressions:
    no reference to a per-column temp like ``__p_c37`` may appear (the one
    value column after unpivot is ``__v``)."""
    df = _mk_wide(spark, n=40)
    cols = [c for c in df.columns if c != "timestamp"]
    plan = scale.interpolate_time(
        df, value_cols=cols, num_buckets=3
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "__p_c37" not in plan and "__p___v" in plan
    # long form materializes via posexplode (Generate) — int column
    # indexes, not per-column expressions
    assert "posexplode" in plan.lower() or "generate" in plan.lower()


def test_interpolate_partition_cols_matches_global(spark):
    """Two independent series in one frame: partition-scoped carries must
    reproduce the per-partition global windows."""
    a = _uniq_ts(_mk_series(spark, seed=21)).withColumn("dev", F.lit("a"))
    b = _uniq_ts(_mk_series(spark, seed=22)).withColumn("dev", F.lit("b"))
    df = a.unionByName(b)
    g = ts.interpolate_time(df, value_cols=["v"], partition_cols=["dev"])
    s = scale.interpolate_time(
        df, value_cols=["v"], partition_cols=["dev"], num_buckets=BUCKETS
    )

    def vals(d):
        return [
            (r["dev"], r["timestamp"], r["v"])
            for r in d.orderBy("dev", "timestamp").collect()
        ]

    gv, sv = vals(g), vals(s)
    assert len(gv) == len(sv)
    for ra, rb in zip(gv, sv):
        assert ra[:2] == rb[:2]
        if ra[2] is None or rb[2] is None:
            assert ra[2] is None and rb[2] is None
        else:
            assert math.isclose(ra[2], rb[2], rel_tol=1e-9, abs_tol=1e-9)


def test_asof_backward_matches_global(spark):
    left = _mk_series(spark, seed=6).drop("v")
    right = _uniq_ts(
        _mk_series(spark, seed=7).where(F.col("v").isNotNull())
    ).withColumnRenamed("v", "rv")
    g = ts.asof_join_backward(left, right, on="timestamp", value_cols=["rv"])
    s = scale.asof_join_backward(left, right, on="timestamp", value_cols=["rv"], num_buckets=BUCKETS)
    _approx_eq(_vals(g, ("rv",)), _vals(s, ("rv",)))


def test_asof_backward_tolerance_matches_global(spark):
    left = _mk_series(spark, seed=8).drop("v")
    right = _uniq_ts(
        _mk_series(spark, seed=9).where(F.col("v").isNotNull())
    ).withColumnRenamed("v", "rv")
    g = ts.asof_join_backward(
        left, right, on="timestamp", value_cols=["rv"], tolerance_seconds=20.0
    )
    s = scale.asof_join_backward(
        left,
        right,
        on="timestamp",
        value_cols=["rv"],
        tolerance_seconds=20.0,
        num_buckets=BUCKETS,
    )
    _approx_eq(_vals(g, ("rv",)), _vals(s, ("rv",)))


@pytest.mark.parametrize("clamp", [True, False])
def test_asof_linear_matches_global(spark, clamp):
    left = _mk_series(spark, seed=10).drop("v")
    right = _uniq_ts(
        _mk_series(spark, seed=11).where(F.col("v").isNotNull())
    ).withColumnRenamed("v", "rv")
    g = ts.asof_join_linear(
        left, right, on="timestamp", value_cols=["rv"], clamp_forward=clamp
    )
    s = scale.asof_join_linear(
        left,
        right,
        on="timestamp",
        value_cols=["rv"],
        clamp_forward=clamp,
        num_buckets=BUCKETS,
    )
    _approx_eq(_vals(g, ("rv",)), _vals(s, ("rv",)))


def test_explicit_bounds_skip_quantile_pass(spark):
    df = _mk_series(spark, seed=12)
    lo, hi = df.agg(
        F.unix_micros(F.min("timestamp")), F.unix_micros(F.max("timestamp"))
    ).first()
    bounds = [lo + (hi - lo) * i // 5 for i in range(1, 5)]
    g = ts.cumulative_sum(df, "v", "cum", order_cols=["timestamp"])
    s = scale.cumulative_sum(df, "v", "cum", bounds=bounds)
    _approx_eq(_vals(g, ("cum",)), _vals(s, ("cum",)))


def test_degenerate_single_bucket(spark):
    # all rows share one timestamp → every quantile boundary collapses
    rows = [(_ts(5.0), float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "timestamp timestamp, v double")
    s = scale.cumulative_sum(df, "v", "cum", num_buckets=BUCKETS)
    total = s.agg(F.max("cum")).first()[0]
    assert total == sum(range(20))


def test_data_path_window_is_partitioned(spark):
    """The big-side window must partition by bucket — only the ≤N-row carry
    summary may use a global (single-partition) window."""
    from solarboat_data_pipeline_spark.plans.audit import explain_string

    df = _mk_series(spark, seed=13)
    s = scale.interpolate_time(df, value_cols=["v"], num_buckets=BUCKETS)
    plan = explain_string(s, mode="formatted")
    assert scale.BUCKET in plan  # bucket column drives partitioning
    assert "unboundedfollowing" not in plan.lower()  # no O(n²) frames


def test_lag_k_matches_global_window(spark):
    from pyspark.sql import Window

    df = _uniq_ts(_mk_series(spark, seed=14))
    g = df.withColumn(
        "lv", F.lag("v", 17).over(Window.orderBy("timestamp"))
    )
    s = scale.lag_k(df, 17, {"lv": "v"}, num_buckets=BUCKETS)
    _approx_eq(_vals(g, ("v", "lv")), _vals(s, ("v", "lv")))


def test_clean_timestamp_outliers_matches_global(spark):
    df = _mk_series(spark, seed=15).drop("v")
    g = ts.clean_timestamp_outliers(df, lag_rows=50, threshold_ns=2e10)
    s = scale.clean_timestamp_outliers(
        df, lag_rows=50, threshold_ns=2e10, num_buckets=BUCKETS
    )
    kept = g.count()
    assert 0 < kept < df.count(), "filter must actually drop rows here"
    assert sorted(r[0] for r in g.collect()) == sorted(r[0] for r in s.collect())


def test_bounds_from_parquet_metadata(spark, tmp_path):
    """Footer-only bounds: piecewise-uniform CDF over row-group (min, max,
    rows) triples must land cuts near the true quantiles, and operators fed
    those bounds must match the global window exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # 3 row groups with disjoint, differently-dense time ranges
    times = (
        [1_000_000 * i for i in range(600)]  # dense: 0..600s
        + [1_000_000 * (1000 + 10 * i) for i in range(300)]  # sparse
        + [1_000_000 * (10_000 + i) for i in range(100)]
    )
    path = str(tmp_path / "meta_bounds.parquet")
    schema = pa.schema([("t_us", pa.int64())])
    with pq.ParquetWriter(path, schema) as w:
        # one row group per density regime (as time-partitioned data has)
        for seg in (times[:600], times[600:900], times[900:]):
            w.write_table(pa.table({"t_us": pa.array(seg, pa.int64())}))
    assert pq.ParquetFile(path).metadata.num_row_groups == 3

    bounds = scale.bounds_from_parquet_metadata(path, "t_us", 4)
    assert bounds is not None and len(bounds) == 3
    # each bucket should hold ~250 of the 1000 rows (CDF is approximate
    # within a row group, exact at group edges)
    import bisect

    sorted_t = sorted(times)
    counts = []
    prev = 0
    for b in [*bounds, 10**18]:
        i = bisect.bisect_left(sorted_t, b)
        counts.append(i - prev)
        prev = i
    assert all(150 <= c <= 350 for c in counts), counts

    # missing column → None (fallback signal)
    assert scale.bounds_from_parquet_metadata(path, "nope", 4) is None

    # results through metadata bounds == global window
    df = spark.createDataFrame(
        [(pd.Timestamp(t, unit="us").to_pydatetime(), float(i % 7))
         for i, t in enumerate(times)],
        "timestamp timestamp, v double",
    )
    g = ts.cumulative_sum(df, "v", "cum", order_cols=["timestamp"])
    s = scale.cumulative_sum(df, "v", "cum", bounds=bounds)
    _approx_eq(_vals(g, ("v", "cum")), _vals(s, ("v", "cum")))


def test_bounds_from_timestamp_stats_match_time_range(tmp_path):
    """Timestamp-typed statistics (pandas ns Timestamps) convert to µs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts_arr = pa.array(
        [1_700_000_000_000_000_000 + int(i * 1e9) for i in range(100)],
        pa.timestamp("ns"),
    )
    path = str(tmp_path / "tsstats.parquet")
    pq.write_table(pa.table({"ts": ts_arr}), path)
    bounds = scale.bounds_from_parquet_metadata(path, "ts", 2)
    assert bounds is not None and len(bounds) == 1
    lo_us, hi_us = 1_700_000_000_000_000, 1_700_000_000_000_000 + 99 * 1_000_000
    assert lo_us < bounds[0] <= hi_us
    # midpoint of a uniform range
    assert abs(bounds[0] - (lo_us + hi_us) / 2) < 2_000_000
