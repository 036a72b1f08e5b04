"""Randomized equivalence properties for the restructured ("scale-shape")
kernels against their straightforward exact twins:

* ``salted_topk`` ≡ plain ``row_number`` window top-k (skew.py — the
  two-phase shard plan must be invisible in the result, including under
  duplicate order values, where only the VALUE multiset per rank is
  deterministic);
* ``interval_join`` chunked equi-join plan ≡ brute-force range predicate
  (timeseries.py — chunk explosion over arbitrary interval/chunk
  geometry, intervals nesting/overlapping/degenerate).
"""

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from solarboat_data_pipeline_spark.operators import timeseries as tsops
from solarboat_data_pipeline_spark.operators.skew import salted_topk


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(-50, 50)),
        min_size=1,
        max_size=60,
    ),
    st.sampled_from([1, 2, 5]),
    st.sampled_from([2, 3]),
)
def test_salted_topk_matches_plain_window(spark, rows, k, n_salts):
    df = spark.createDataFrame(
        [(f"k{a}", float(b)) for a, b in rows], "key string, v double"
    )
    got = salted_topk(df, ["key"], "v", k, n_salts=n_salts).collect()
    w = Window.partitionBy("key").orderBy(F.col("v").desc())
    want = (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .collect()
    )
    # duplicate v values make WHICH row wins a tie arbitrary, but the
    # multiset of returned values per key is deterministic
    got_vals = Counter((r["key"], r["v"]) for r in got)
    want_vals = Counter((r["key"], r["v"]) for r in want)
    assert got_vals == want_vals, (rows, k, n_salts)
    # and rank sequences must be exactly 1..n per key on both sides
    for res in (got, want):
        per_key = {}
        for r in res:
            per_key.setdefault(r["key"], []).append(r["rank"])
        assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_key.values())


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(0, 1000), min_size=1, max_size=30),
    st.lists(
        st.tuples(st.integers(0, 1000), st.integers(0, 300)),
        min_size=1,
        max_size=10,
    ),
    st.sampled_from([10.0, 60.0, 500.0]),
)
def test_interval_join_matches_brute_force(spark, point_epochs, ivs, chunk_s):
    points = spark.createDataFrame(
        [(i, e) for i, e in enumerate(point_epochs)], "pid long, pe long"
    ).select("pid", F.timestamp_seconds("pe").alias("timestamp"))
    intervals = spark.createDataFrame(
        [(j, s, s + d) for j, (s, d) in enumerate(ivs)],
        "iid long, se long, ee long",
    ).select(
        "iid",
        F.timestamp_seconds("se").alias("start"),
        F.timestamp_seconds("ee").alias("end"),
    )
    got = {
        (r["pid"], r["iid"])
        for r in tsops.interval_join(
            points, intervals, chunk_seconds=chunk_s
        ).collect()
    }
    want = {
        (i, j)
        for i, e in enumerate(point_epochs)
        for j, (s, d) in enumerate(ivs)
        if s <= e <= s + d
    }
    assert got == want, (point_epochs, ivs, chunk_s)


def test_interval_join_auto_chunk(spark):
    """chunk_seconds="auto" picks the median interval length (clamped) and
    matches the explicit-chunk result exactly."""
    points = spark.createDataFrame(
        [(i, i * 40) for i in range(200)], "pid long, pe long"
    ).select("pid", F.timestamp_seconds("pe").alias("timestamp"))
    intervals = spark.createDataFrame(
        [(j, j * 500, j * 500 + 600) for j in range(12)], "iid long, se long, ee long"
    ).select(
        "iid",
        F.timestamp_seconds("se").alias("start"),
        F.timestamp_seconds("ee").alias("end"),
    )
    auto = {
        (r["pid"], r["iid"])
        for r in tsops.interval_join(points, intervals).collect()
    }
    pinned = {
        (r["pid"], r["iid"])
        for r in tsops.interval_join(points, intervals, chunk_seconds=600.0).collect()
    }
    assert auto == pinned and len(auto) > 0

    empty = intervals.where("iid < 0")
    assert tsops.interval_join(points, empty).count() == 0

def test_interval_join_rejects_unknown_chunk_string(spark):
    """Any string other than 'auto' must raise up front, not fall through
    to an opaque TypeError in the microsecond arithmetic."""
    points = spark.createDataFrame([(1, 40)], "pid long, pe long").select(
        "pid", F.timestamp_seconds("pe").alias("timestamp")
    )
    intervals = spark.createDataFrame([(1, 0, 600)], "iid long, se long, ee long").select(
        "iid",
        F.timestamp_seconds("se").alias("start"),
        F.timestamp_seconds("ee").alias("end"),
    )
    with pytest.raises(ValueError, match="chunk_seconds"):
        tsops.interval_join(points, intervals, chunk_seconds="fast")


def test_interpolate_duplicate_timestamps_never_divide_by_zero(spark):
    """Duplicate order keys are outside the contract (pandas reindex
    raises; dedup_keep_first is the documented pre-step), but the
    kernels must NEVER hard-fail on them under ANSI mode: a degenerate
    bracket (both valid neighbors at one instant) fills with prev_v —
    the same guard the as-of linear kernels have always had. Found by
    scale_smoke_asof_skew.py when its hot/cold arms accidentally
    collided at 20M rows."""
    from solarboat_data_pipeline_spark.operators import scale as sc

    # a null strictly between two valid rows AT THE SAME instant: the
    # unguarded blend is 0/0 for every tie order
    rows = [(0, 0, 1.0), (1, 1000, 2.0), (2, 1000, None), (3, 1000, 3.0),
            (4, 2000, 4.0)]
    df = spark.createDataFrame(rows, "event_id long, us long, v double").select(
        "event_id", F.timestamp_micros("us").alias("ts"), "v"
    )
    g = {r["event_id"]: r["v"]
         for r in tsops.interpolate_time(df, ts_col="ts", value_cols=["v"]).collect()}
    s = {r["event_id"]: r["v"]
         for r in sc.interpolate_time(df, ts_col="ts", value_cols=["v"],
                                      num_buckets=2).collect()}
    assert g == s
    assert g[2] in (2.0, 3.0)  # a neighboring valid value, never 0/0
    # valid rows untouched
    assert (g[0], g[1], g[3], g[4]) == (1.0, 2.0, 3.0, 4.0)
