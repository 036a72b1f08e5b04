"""SURVEY.md §2 join/aggregate/window driver queries (J/A/W families, their bucketed *_scaled twins, and the agg_* rollups).

Split out of driver_queries.py (round 9); conventions in the facade
docstring there.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from solarboat_data_pipeline_spark.operators import scale as sc
from solarboat_data_pipeline_spark.operators import skew as sk
from solarboat_data_pipeline_spark.operators import timeseries as ts

from solarboat_data_pipeline_spark.driver._registry import (  # noqa: F401
    _REGISTRY,
    _event_bounds,
    _t,
    register,
)



# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


@register(
    "j1_left_join_enrich",
    """
    SELECT o_orderkey, round(o_totalprice, 6) AS total, c_name, c_mktsegment
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    """,
)
def j1_left_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    c = _t(spark, sf_dir, "customer")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey",
        F.round("o_totalprice", 6).alias("total"),
        "c_name",
        "c_mktsegment",
    )


@register(
    "j2_left_join_summary",
    """
    WITH s AS (SELECT user_id, round(avg(value), 6) AS user_avg FROM events GROUP BY user_id)
    SELECT e.event_id, e.user_id, round(e.value, 6) AS value, s.user_avg
    FROM events e LEFT JOIN s USING (user_id)
    """,
)
def j2_left_join_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(F.round(F.avg("value"), 6).alias("user_avg"))
    return ev.join(F.broadcast(s), "user_id", "left").select(
        "event_id", "user_id", F.round("value", 6).alias("value"), "user_avg"
    )


@register(
    "j4_asof_backward",
    """
    WITH l AS (SELECT ts, event_id FROM events WHERE event_type = 'purchase'),
         r AS (SELECT ts, value FROM events WHERE event_type = 'error')
    SELECT l.event_id, round(r.value, 6) AS last_error_value
    FROM l ASOF LEFT JOIN r ON l.ts >= r.ts
    """,
)
def j4_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select("ts", "event_id")
    right = ev.where(F.col("event_type") == "error").select(
        "ts", F.col("value").alias("last_error_value")
    )
    out = ts.asof_join_backward(
        left, right, on="ts", value_cols=["last_error_value"]
    )
    return out.select("event_id", F.round("last_error_value", 6).alias("last_error_value"))


@register(
    "j3_asof_linear",
    """
    WITH l AS (SELECT ts, event_id, NULL::DOUBLE AS v, 1 AS src
               FROM events WHERE event_type = 'purchase'),
         r AS (SELECT ts, NULL::BIGINT AS event_id, value AS v, 0 AS src
               FROM events WHERE event_type = 'signup'),
         u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
         w AS (
           SELECT *,
             last_value(v IGNORE NULLS) OVER
               (ORDER BY ts, src ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             first_value(v IGNORE NULLS) OVER
               (ORDER BY ts, src ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             last_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER
               (ORDER BY ts, src ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             first_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER
               (ORDER BY ts, src ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
           FROM u)
    SELECT event_id,
           round(CASE
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               CASE WHEN nt = pt THEN pv
                    ELSE pv + (nv - pv) * (epoch_us(ts) - pt) / (nt - pt) END
             WHEN pv IS NOT NULL THEN pv
           END, 6) AS interp_value
    FROM w WHERE src = 1
    """,
)
def j3_asof_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select("ts", "event_id")
    right = ev.where(F.col("event_type") == "signup").select(
        "ts", F.col("value").alias("interp_value")
    )
    out = ts.asof_join_linear(left, right, on="ts", value_cols=["interp_value"])
    return out.select("event_id", F.round("interp_value", 6).alias("interp_value"))


@register(
    "j5_unify_chunks",
    """
    WITH t AS (SELECT ts, event_id, value FROM events WHERE user_id = 3),
         b AS (SELECT min(ts) lo, max(ts) hi FROM t),
         r AS (SELECT ts, event_id, value FROM events, b
               WHERE user_id = 5 AND ts BETWEEN lo AND hi)
    SELECT ts, event_id, round(value, 6) AS value FROM t
    UNION ALL
    SELECT ts, event_id, round(value, 6) AS value FROM r
    """,
)
def j5_unify_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    target = ev.where(F.col("user_id") == 3).select("ts", "event_id", "value")
    ref = ev.where(F.col("user_id") == 5).select("ts", "event_id", "value")
    out = ts.unify_chunks(target, ref, ts_col="ts")
    return out.select("ts", "event_id", F.round("value", 6).alias("value"))


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


@register(
    "a2_pivot_wide",
    """
    SELECT l_linestatus,
           round(avg(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 6) AS qty_A,
           round(avg(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 6) AS qty_N,
           round(avg(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 6) AS qty_R
    FROM lineitem GROUP BY l_linestatus
    """,
)
def a2_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.avg("l_quantity"), 6))
    )
    return out.select(
        "l_linestatus",
        F.col("A").alias("qty_A"),
        F.col("N").alias("qty_N"),
        F.col("R").alias("qty_R"),
    )


@register(
    "a3_resample_dense",
    """
    WITH b AS (
      SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS bucket,
             avg(value) AS avg_value
      FROM events GROUP BY 1),
    spine AS (
      SELECT unnest(generate_series((SELECT min(bucket) FROM b),
                                    (SELECT max(bucket) FROM b),
                                    INTERVAL 6 HOUR)) AS bucket)
    SELECT spine.bucket AS timestamp, round(b.avg_value, 6) AS value
    FROM spine LEFT JOIN b USING (bucket)
    """,
)
def a3_resample_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").alias("timestamp"), F.col("value")
    )
    out = ts.resample_mean(ev, 21600.0, value_cols=["value"])
    return out.select("timestamp", F.round("value", 6).alias("value"))


@register(
    "a4_minmax_bounds",
    """
    SELECT event_type, min(ts) AS first_ts, max(ts) AS last_ts,
           round(min(value), 6) AS min_value, round(max(value), 6) AS max_value,
           count(*)::BIGINT AS n
    FROM events GROUP BY event_type
    """,
)
def a4_minmax_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "a5_quantile_iqr",
    """
    WITH q AS (SELECT quantile_cont(l_extendedprice, 0.01) q1,
                      quantile_cont(l_extendedprice, 0.99) q3
               FROM lineitem)
    SELECT round(q1, 6) AS q1, round(q3, 6) AS q3,
           (SELECT count(*) FROM lineitem, q
            WHERE l_extendedprice < q1 - 1.5 * (q3 - q1)
               OR l_extendedprice > q3 + 1.5 * (q3 - q1))::BIGINT AS n_outliers
    FROM q
    """,
)
def a5_quantile_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # exact quantiles via the bounded-memory selection kernel: Spark's
    # exact `percentile` agg funnels a value->count map of every distinct
    # value through one reducer (OOM at scale); this resolves each rank
    # with aggregate passes + a tiny bracketed collect, then the outlier
    # count is one scan with literal bounds (no crossJoin stage)
    q1, q3 = sk.exact_quantile_cont(li, "l_extendedprice", [0.01, 0.99])
    iqr = q3 - q1
    lo, hi = q1 - 1.5 * iqr, q3 + 1.5 * iqr
    price = F.col("l_extendedprice")
    return li.agg(
        F.round(F.lit(q1), 6).alias("q1"),
        F.round(F.lit(q3), 6).alias("q3"),
        F.sum(((price < lo) | (price > hi)).cast("long"))
        .cast("long")
        .alias("n_outliers"),
    )


@register(
    "a6_cumulative_sum",
    """
    SELECT event_id,
           round(sum(coalesce(value, 0)) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_total
    FROM events
    """,
)
def a6_cumulative_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = ts.cumulative_sum(
        ev, "value", "running_total", order_cols=["ts", "event_id"], partition_cols=["user_id"]
    )
    return out.select("event_id", F.round("running_total", 6).alias("running_total"))


@register(
    "a7_trapezoid_energy",
    """
    WITH w AS (
      SELECT event_id, ts, value,
             lag(value) OVER (ORDER BY ts, event_id) AS pv,
             lag(ts) OVER (ORDER BY ts, event_id) AS pt
      FROM events WHERE user_id = 1)
    SELECT event_id,
           round(sum(coalesce((value + pv) / 2 *
                 ((epoch_us(ts) - epoch_us(pt)) / 1000000.0 / 3600.0), 0)) OVER
             (ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             6) AS energy
    FROM w
    """,
)
def a7_trapezoid_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") == 1)
    # note: order ties broken by event_id to match the oracle exactly
    w_lag = Window.orderBy("ts", "event_id")
    w_sum = w_lag.rowsBetween(Window.unboundedPreceding, 0)
    v, pv = F.col("value"), F.lag("value").over(w_lag)
    dt = (
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w_lag)))
        / 1_000_000.0
        / 3600.0
    )
    step = F.coalesce((v + pv) / 2 * dt, F.lit(0.0))
    return ev.select(
        "event_id", F.round(F.sum(step).over(w_sum), 6).alias("energy")
    )


@register(
    "a1_group_mean",
    """
    SELECT user_id, event_type,
           round(avg(value), 6) AS mean_value, count(*)::BIGINT AS n
    FROM events GROUP BY user_id, event_type
    """,
)
def a1_group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A1: group-by mean (same-key collision dedup, lib/canparser.py:226-230)
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.round(F.avg("value"), 6).alias("mean_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "agg_rollup",
    """
    SELECT coalesce(l_returnflag, '<all>') AS returnflag,
           coalesce(l_linestatus, '<all>') AS linestatus,
           round(sum(l_quantity), 4) AS sum_qty, count(*)::BIGINT AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@register(
    "agg_count_distinct",
    """
    SELECT l_returnflag, count(DISTINCT l_partkey)::BIGINT AS n_parts,
           count(DISTINCT l_suppkey)::BIGINT AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
    )


# ---------------------------------------------------------------------------
# §2.5 window / ordered operators
# ---------------------------------------------------------------------------


@register(
    "w_rolling_time",
    """
    SELECT event_id,
           round(avg(value) OVER w, 6)  AS roll_mean,
           min(value) OVER w            AS roll_min,
           max(value) OVER w            AS roll_max,
           (count(value) OVER w)::BIGINT AS roll_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)
    """,
)
def w_rolling_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing event-time rolling statistics
    (operators/timeseries.py:rolling_time_stats — round 7): per-user
    mean/min/max/count over the inclusive [ts − 300 s, ts] RANGE frame
    on microsecond epochs — a native rangeBetween window, no self-join,
    no explode, microsecond-exact boundaries; the oracle is the
    identical RANGE window in SQL."""
    ev = _t(spark, sf_dir, "events")
    out = ts.rolling_time_stats(
        ev, "value", 300.0, ts_col="ts", partition_cols=["user_id"]
    )
    return out.select(
        "event_id",
        F.round(F.col("roll_mean"), 6).alias("roll_mean"),
        "roll_min",
        "roll_max",
        F.col("roll_n").cast("long").alias("roll_n"),
    )


@register(
    "w1_lag_diff",
    """
    SELECT event_id,
           round(value - lag(value) OVER w, 6) AS dv,
           ((epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0) AS dt_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w1_lag_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("dv"),
        (
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w)))
            / 1_000_000.0
        ).alias("dt_s"),
    )


@register(
    "w2_lagk_outlier_filter",
    """
    WITH d AS (
      SELECT event_id, ts,
             coalesce((epoch_us(ts) - epoch_us(lag(ts, 100) OVER
               (ORDER BY ts, event_id))) * 1000.0, 0.0) AS diff_ns
      FROM events)
    SELECT event_id FROM d
    WHERE NOT (((diff_ns < -600000000000000.0) AND (diff_ns > -6000000000000000.0))
            OR ((diff_ns > 600000000000000.0) AND (diff_ns < 6000000000000000.0)))
    """,
)
def w2_lagk_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", F.col("ts"))
    # events span a month at ~1000 rows: lag-100 diffs are ~days; the
    # reference's ±[1e11, 1e12) ns band is rescaled to ±[6e14, 6e15) ns so
    # the filter has bite on this corpus. Ties ordered by event_id.
    w = Window.orderBy("ts", "event_id")
    # materialize the lag ONCE: referencing the window expression from
    # four filter comparands makes Catalyst emit four identical lag
    # columns in the Window operator (no CSE across window expressions,
    # plan-audited round 8) — one named column, then a plain filter
    diff_ns = (
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts", 100).over(w))) * 1000.0
    )
    ev = ev.withColumn("__d", F.coalesce(diff_ns, F.lit(0.0)))
    d = F.col("__d")
    lo, hi = 6e14, 6e15
    outlier = ((d < -lo) & (d > -hi)) | ((d > lo) & (d < hi))
    return ev.where(~outlier).select("event_id")


@register(
    "w3_interpolate_bounded",
    """
    WITH src AS (
      -- x1e6 integer quantization: exact bucket sums in any association
      -- order (see a3_w3_fused_grid), un-scaled in the final round
      SELECT ts, round(value * 1e6) AS value
      FROM events WHERE user_id = 7),
    b AS (
      SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket,
             avg(value) AS v
      FROM src GROUP BY 1),
    spine AS (
      SELECT unnest(generate_series((SELECT min(bucket) FROM b),
                                    (SELECT max(bucket) FROM b),
                                    INTERVAL 1 HOUR)) AS bucket),
    g AS (
      SELECT spine.bucket, b.v,
             row_number() OVER (ORDER BY spine.bucket) AS rn
      FROM spine LEFT JOIN b USING (bucket)),
    w AS (
      SELECT *,
        last_value(v IGNORE NULLS) OVER wp AS pv,
        first_value(v IGNORE NULLS) OVER wn AS nv,
        last_value(CASE WHEN v IS NOT NULL THEN epoch_us(bucket) END IGNORE NULLS) OVER wp AS pt,
        first_value(CASE WHEN v IS NOT NULL THEN epoch_us(bucket) END IGNORE NULLS) OVER wn AS nt,
        last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER wp AS last_rn
      FROM g
      WINDOW wp AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT bucket AS timestamp,
           round((CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NOT NULL AND nv IS NOT NULL AND (rn - last_rn) <= 6 THEN
               pv + (nv - pv) * (epoch_us(bucket) - pt) / (nt - pt)
           END) / 1e6, 6) AS value
    FROM w
    """,
)
def w3_interpolate_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id") == 7)
        .select(
            F.col("ts").alias("timestamp"),
            F.round(F.col("value") * 1e6).alias("value"),
        )
    )
    res = ts.resample_mean(src, 3600.0, value_cols=["value"])
    out = ts.interpolate_time(res, value_cols=["value"], limit=6)
    return out.select(
        "timestamp", F.round(F.col("value") / 1e6, 6).alias("value")
    )


@register(
    "a3_w3_fused_grid",
    """
    WITH src AS (
      -- inputs quantized to integers (x1e6): bucket SUMS are then exact
      -- in any association order, so avg (and every blend derived from
      -- it) is bit-identical across engines; un-scaled at the end
      SELECT ts, round(value * 1e6) AS value,
             CASE WHEN event_id % 3 = 0 THEN NULL
                  ELSE round(value * 5e5) END AS v2
      FROM events WHERE user_id % 4 = 1),
    b AS (
      SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket,
             avg(value) AS v1, avg(v2) AS v2
      FROM src GROUP BY 1),
    spine AS (
      SELECT unnest(generate_series((SELECT min(bucket) FROM b),
                                    (SELECT max(bucket) FROM b),
                                    INTERVAL 1 HOUR)) AS bucket),
    g AS (
      SELECT spine.bucket, b.v1, b.v2,
             row_number() OVER (ORDER BY spine.bucket) AS rn
      FROM spine LEFT JOIN b USING (bucket)),
    w AS (
      SELECT *,
        last_value(v1 IGNORE NULLS) OVER wp AS p1,
        first_value(v1 IGNORE NULLS) OVER wn AS n1,
        last_value(CASE WHEN v1 IS NOT NULL THEN epoch_us(bucket) END IGNORE NULLS) OVER wp AS pt1,
        first_value(CASE WHEN v1 IS NOT NULL THEN epoch_us(bucket) END IGNORE NULLS) OVER wn AS nt1,
        last_value(CASE WHEN v1 IS NOT NULL THEN rn END IGNORE NULLS) OVER wp AS lr1,
        last_value(v2 IGNORE NULLS) OVER wp AS p2,
        first_value(v2 IGNORE NULLS) OVER wn AS n2,
        last_value(CASE WHEN v2 IS NOT NULL THEN epoch_us(bucket) END IGNORE NULLS) OVER wp AS pt2,
        first_value(CASE WHEN v2 IS NOT NULL THEN epoch_us(bucket) END IGNORE NULLS) OVER wn AS nt2,
        last_value(CASE WHEN v2 IS NOT NULL THEN rn END IGNORE NULLS) OVER wp AS lr2
      FROM g
      WINDOW wp AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT bucket AS timestamp,
           round((CASE WHEN v1 IS NOT NULL THEN v1
             WHEN p1 IS NOT NULL AND n1 IS NOT NULL AND (rn - lr1) <= 6 THEN
               p1 + (n1 - p1) * (epoch_us(bucket) - pt1) / (nt1 - pt1)
           END) / 1e6, 6) AS value,
           round((CASE WHEN v2 IS NOT NULL THEN v2
             WHEN p2 IS NOT NULL AND n2 IS NOT NULL AND (rn - lr2) <= 6 THEN
               p2 + (n2 - p2) * (epoch_us(bucket) - pt2) / (nt2 - pt2)
           END) / 1e6, 6) AS v2
    FROM w
    """,
)
def a3_w3_fused_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused A3+W3 dense-grid kernel at driver level
    (operators/timeseries.py:resample_interpolate): one sparse lead()
    window + arithmetic gap generation replaces the classic
    resample→interpolate pair of dense-grid window sorts. Runs with
    ``group_width=16`` so the 100 TB bucket-group form (structural
    per-task bounds + boundary-table carry across groups) is what the
    oracle actually certifies. Two value columns with different null
    patterns exercise the multi-column repivot."""
    src = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id") % 4 == 1)
        .select(
            F.col("ts").alias("timestamp"),
            F.round(F.col("value") * 1e6).alias("value"),
            F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(
                F.round(F.col("value") * 5e5)
            ).alias("v2"),
        )
    )
    out = ts.resample_interpolate(src, 3600.0, limit=6, group_width=16)
    return out.select(
        "timestamp",
        F.round(F.col("value") / 1e6, 6).alias("value"),
        F.round(F.col("v2") / 1e6, 6).alias("v2"),
    )


@register(
    "w5_dedup_keep_first",
    """
    WITH r AS (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events)
    SELECT user_id, event_type, event_id FROM r WHERE rn = 1
    """,
)
def w5_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = ts.dedup_keep_first(ev, ["user_id", "event_type"], ["ts", "event_id"])
    return out.select("user_id", "event_type", "event_id")


@register(
    "w7_asfreq_dense",
    """
    WITH ranked AS (
      SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket,
             value,
             row_number() OVER (
               PARTITION BY make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
               ORDER BY ts, event_id) AS rn
      FROM events WHERE user_id = 2),
    firsts AS (SELECT bucket, value FROM ranked WHERE rn = 1),
    spine AS (
      SELECT unnest(generate_series((SELECT min(bucket) FROM firsts),
                                    (SELECT max(bucket) FROM firsts),
                                    INTERVAL 1 HOUR)) AS bucket)
    SELECT spine.bucket AS timestamp, round(firsts.value, 6) AS value
    FROM spine LEFT JOIN firsts USING (bucket)
    """,
)
def w7_asfreq_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") == 2)
    hour = F.timestamp_micros(
        (F.floor(F.unix_micros(F.col("ts")) / 3_600_000_000) * 3_600_000_000).cast(
            "long"
        )
    )
    firsts = (
        ev.withColumn("timestamp", hour)
        .groupBy("timestamp")
        .agg(F.min_by("value", F.struct("ts", "event_id")).alias("value"))
    )
    out = ts.asfreq(firsts, 3600.0)
    return out.select("timestamp", F.round("value", 6).alias("value"))


@register(
    "w_sessionize",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, event_id,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM g)
    SELECT user_id, session_id::BIGINT AS session_id,
           count(*)::BIGINT AS n_events,
           min(event_id)::BIGINT AS first_event
    FROM s GROUP BY user_id, session_id
    """,
)
def w_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gap-based sessionization (30 min) + per-session stats; ties in the
    # event order broken by event_id to match the oracle exactly
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev)) > 1_800_000_000),
        1,
    ).otherwise(0)
    s = ev.withColumn("session_id", F.sum(new_s).over(w_cum))
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
        )
        .withColumn("session_id", F.col("session_id").cast("long"))
    )


@register(
    "w6_sort_rank",
    """
    SELECT event_id,
           row_number() OVER (ORDER BY ts, event_id)::BIGINT AS pos
    FROM events
    """,
)
def w6_sort_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W6: global sort — encoded as a rank so the order-insensitive digest
    # still verifies the ordering
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.row_number().over(Window.orderBy("ts", "event_id")).cast("long").alias("pos"),
    )


# ---------------------------------------------------------------------------
# scale-path variants (operators/scale.py): same semantics as their global
# twins — the oracle SQL is shared verbatim — but the ordered scan runs as
# bucketed local windows + a tiny carry pass instead of one global window,
# so nothing funnels through a single task at 100 TB. The driver verifies
# both variants hash-identically against the same DuckDB oracle.
# ---------------------------------------------------------------------------


@register("j4_asof_backward_scaled", _REGISTRY["j4_asof_backward"][1])
def j4_asof_backward_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select("ts", "event_id")
    right = ev.where(F.col("event_type") == "error").select(
        "ts", F.col("value").alias("last_error_value")
    )
    out = sc.asof_join_backward(
        left,
        right,
        on="ts",
        value_cols=["last_error_value"],
        num_buckets=32,
        bounds=_event_bounds(sf_dir),
    )
    return out.select(
        "event_id", F.round("last_error_value", 6).alias("last_error_value")
    )


@register("j3_asof_linear_scaled", _REGISTRY["j3_asof_linear"][1])
def j3_asof_linear_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select("ts", "event_id")
    right = ev.where(F.col("event_type") == "signup").select(
        "ts", F.col("value").alias("interp_value")
    )
    out = sc.asof_join_linear(
        left,
        right,
        on="ts",
        value_cols=["interp_value"],
        num_buckets=32,
        bounds=_event_bounds(sf_dir),
    )
    return out.select("event_id", F.round("interp_value", 6).alias("interp_value"))


@register("w3_interpolate_scaled", _REGISTRY["w3_interpolate_bounded"][1])
def w3_interpolate_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id") == 7)
        .select(
            F.col("ts").alias("timestamp"),
            F.round(F.col("value") * 1e6).alias("value"),
        )
    )
    res = ts.resample_mean(src, 3600.0, value_cols=["value"])
    out = sc.interpolate_time(
        res,
        value_cols=["value"],
        limit=6,
        num_buckets=32,
        bounds=_event_bounds(sf_dir),
    )
    return out.select(
        "timestamp", F.round(F.col("value") / 1e6, 6).alias("value")
    )


_W3_WIDE_USERS = list(range(10))
_W3_WIDE_SQL_COLS = ",\n".join(
    f"       max(CASE WHEN user_id = {u} THEN value END) AS u{u}"
    for u in _W3_WIDE_USERS
)


@register(
    "w3_interpolate_wide_scaled",
    f"""
    WITH src AS (
      SELECT user_id,
             make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket,
             round(avg(value), 4) AS v
      FROM events WHERE user_id <= 9 GROUP BY 1, 2),
    spine AS (
      SELECT u.user_id, s.bucket
      FROM (SELECT DISTINCT user_id FROM src) u
      CROSS JOIN (
        SELECT unnest(generate_series((SELECT min(bucket) FROM src),
                                      (SELECT max(bucket) FROM src),
                                      INTERVAL 1 HOUR)) AS bucket) s),
    g AS (
      SELECT spine.user_id, spine.bucket, src.v
      FROM spine LEFT JOIN src USING (user_id, bucket)),
    w AS (
      SELECT *,
        last_value(v IGNORE NULLS) OVER wp AS pv,
        first_value(v IGNORE NULLS) OVER wn AS nv,
        last_value(CASE WHEN v IS NOT NULL THEN epoch_us(bucket) END IGNORE NULLS) OVER wp AS pt,
        first_value(CASE WHEN v IS NOT NULL THEN epoch_us(bucket) END IGNORE NULLS) OVER wn AS nt
      FROM g
      WINDOW wp AS (PARTITION BY user_id ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY user_id ORDER BY bucket
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
    i AS (
      SELECT user_id, bucket AS timestamp,
             -- floor-canonicalized rounding: the blend double is
             -- bit-identical to Spark's (same association), and
             -- floor(x*1e6+0.5)/1e6 is deterministic on identical
             -- doubles where engine round() rules differ on exact ties
             floor((CASE
               WHEN v IS NOT NULL THEN v
               WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                 pv + (nv - pv) * ((epoch_us(bucket) - pt) / (nt - pt))
             END) * 1000000 + 0.5) / 1000000 AS value
      FROM w)
    SELECT timestamp,
{_W3_WIDE_SQL_COLS}
    FROM i GROUP BY timestamp
    """,
)
def w3_interpolate_wide_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 on the WIDE telemetry shape through the scale path: 10 value
    columns trips the width switch into the long-format plan —
    unpivot → one bucketed interpolation partitioned by (``__name``,
    bucket) → repivot — instead of fanning 4 carry exprs per column
    (reference shape: 233 signals, SURVEY §1.3). The oracle interpolates
    per-user in long form and pivots, matching column-for-column."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") <= 9)
    hour = F.timestamp_micros(
        (ts._us(F.col("ts")) / 3_600_000_000).cast("long") * 3_600_000_000
    )
    agg = (
        ev.groupBy(hour.alias("timestamp"))
        .pivot("user_id", _W3_WIDE_USERS)
        .agg(F.round(F.avg("value"), 4))
    )
    bounds_row = agg.agg(
        F.min("timestamp").alias("lo"), F.max("timestamp").alias("hi")
    ).first()
    spine = ts.time_spine(spark, bounds_row["lo"], bounds_row["hi"], 3600.0)
    wide = spine.join(agg, "timestamp", "left")
    filled = sc.interpolate_time(
        wide,
        value_cols=[str(u) for u in _W3_WIDE_USERS],
        num_buckets=32,
        bounds=_event_bounds(sf_dir),
    )
    # floor-canonicalized rounding (matches the oracle expression exactly;
    # engine round() rules disagree on exact-tie doubles)
    return filled.select(
        "timestamp",
        *[
            (F.floor(F.col(str(u)) * 1_000_000 + 0.5) / 1_000_000).alias(
                f"u{u}"
            )
            for u in _W3_WIDE_USERS
        ],
    )


@register(
    "w_sessionize_scaled",
    """
    WITH g AS (
      SELECT event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 300000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (ORDER BY ts, event_id)),
    s AS (
      SELECT event_id,
             sum(new_s) OVER (ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM g)
    SELECT session_id::BIGINT AS session_id,
           count(*)::BIGINT AS n_events,
           min(event_id)::BIGINT AS first_event
    FROM s GROUP BY session_id
    """,
)
def w_sessionize_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single global series (no user partition — the hard case): 5-min gap
    # sessions over the full event stream via the distributed carry scan
    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    s = sc.sessionize(
        ev,
        ts_col="ts",
        gap_seconds=300.0,
        tiebreak_cols=["event_id"],
        num_buckets=32,
        bounds=_event_bounds(sf_dir),
    )
    return s.groupBy("session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event"),
    )


@register("w2_lagk_scaled", _REGISTRY["w2_lagk_outlier_filter"][1])
def w2_lagk_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lag-k via the distributed rn self-join instead of a global window
    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    out = sc.clean_timestamp_outliers(
        ev,
        ts_col="ts",
        lag_rows=100,
        threshold_ns=6e14,
        tiebreak_cols=["event_id"],
        num_buckets=32,
        bounds=_event_bounds(sf_dir),
    )
    return out.select("event_id")


@register(
    "j6_interval_join",
    """
    WITH iv AS (
      SELECT event_id AS window_id, ts AS start_ts,
             ts + INTERVAL 30 MINUTE AS end_ts
      FROM events WHERE event_id % 97 = 0)
    SELECT p.event_id, iv.window_id
    FROM events p JOIN iv
      ON p.ts >= iv.start_ts AND p.ts <= iv.end_ts
    """,
)
def j6_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join (operators/timeseries.py:interval_join):
    intervals explode across fixed time chunks, the match is an equi-join
    on the chunk + exact containment filter — no nested-loop product.
    chunk_seconds="auto" exercises the median-interval-length heuristic
    (here every window is 30 min, so auto picks the 1800 s chunk).
    The oracle is DuckDB's native range join over the same windows."""
    ev = _t(spark, sf_dir, "events")
    iv = ev.where(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("start_ts"),
        F.expr("ts + INTERVAL 30 MINUTES").alias("end_ts"),
    )
    out = ts.interval_join(
        ev.select("event_id", "ts"),
        iv,
        ts_col="ts",
        start_col="start_ts",
        end_col="end_ts",
        chunk_seconds="auto",
    )
    return out.select("event_id", "window_id")


@register("w6_rank_scaled", _REGISTRY["w6_sort_rank"][1])
def w6_rank_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 global sort at scale (operators/scale.py:global_rank): bucket-
    local row_number + broadcast prefix of bucket counts — no single-task
    window. Shares w6_sort_rank's oracle verbatim."""
    ev = _t(spark, sf_dir, "events")
    out = sc.global_rank(
        ev.select("event_id", "ts"),
        out_col="pos",
        ts_col="ts",
        tiebreak_cols=["event_id"],
        num_buckets=32,
        bounds=_event_bounds(sf_dir),
    )
    return out.select("event_id", F.col("pos").cast("long").alias("pos"))


@register(
    "a7_trapezoid_scaled",
    _REGISTRY["a7_trapezoid_energy"][1],
)
def a7_trapezoid_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") == 1)
    out = sc.trapezoid_integral(
        ev.select("event_id", "ts", "value"),
        "value",
        "energy",
        ts_col="ts",
        tiebreak_cols=["event_id"],
        num_buckets=32,
        bounds=_event_bounds(sf_dir),
    )
    return out.select("event_id", F.round("energy", 6).alias("energy"))


@register(
    "a1_a4_group_stats",
    """
    SELECT user_id, event_type,
           round(avg(value), 6) AS mean_value,
           min(ts) AS first_ts, max(ts) AS last_ts,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value,
           count(*)::BIGINT AS n
    FROM events GROUP BY user_id, event_type
    """,
)
def a1_a4_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 group-by mean + A4 min/max summary in one hash aggregation
    (``lib/canparser.py:226-230`` dedup mean; min/max report stage).
    One shuffle on the group key with map-side partials — the same plan
    shape at 100 TB."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.round(F.avg("value"), 6).alias("mean_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "a6_a7_energy_cumsum",
    """
    WITH w AS (
      SELECT event_id, ts, value,
             lag(value) OVER (ORDER BY ts, event_id) AS pv,
             lag(ts) OVER (ORDER BY ts, event_id) AS pt
      FROM events WHERE user_id = 1)
    SELECT event_id,
           round(sum(coalesce((value + pv) / 2 *
                 ((epoch_us(ts) - epoch_us(pt)) / 1000000.0 / 3600.0), 0)) OVER win,
             6) AS energy,
           round(sum(coalesce(value, 0)) OVER win, 6) AS running_total
    FROM w
    WINDOW win AS (ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def a6_a7_energy_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 cumulative sum + A7 trapezoid integral over the same running
    window (``lib/process_gpx_data.py`` nancumsum; energy integral stage).
    Both accumulations share one window spec, so Catalyst plans a single
    sort + single Window node."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") == 1)
    w_lag = Window.orderBy("ts", "event_id")
    w_sum = w_lag.rowsBetween(Window.unboundedPreceding, 0)
    v, pv = F.col("value"), F.lag("value").over(w_lag)
    dt = (
        (ts._us(F.col("ts")) - ts._us(F.lag("ts").over(w_lag)))
        / 1_000_000.0
        / 3600.0
    )
    step = F.coalesce((v + pv) / 2 * dt, F.lit(0.0))
    return ev.select(
        "event_id",
        F.round(F.sum(step).over(w_sum), 6).alias("energy"),
        F.round(F.sum(F.coalesce(v, F.lit(0.0))).over(w_sum), 6).alias(
            "running_total"
        ),
    )


@register(
    "w5_w6_dedup_rank",
    """
    WITH r AS (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events),
    d AS (SELECT user_id, event_type, event_id, ts FROM r WHERE rn = 1)
    SELECT user_id, event_type, event_id,
           row_number() OVER (ORDER BY ts, event_id)::BIGINT AS pos
    FROM d
    """,
)
def w5_w6_dedup_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 dedup-keep-first + W6 global sort (encoded as a rank so the
    order-insensitive digest still verifies the ordering)."""
    ev = _t(spark, sf_dir, "events")
    d = ts.dedup_keep_first(ev, ["user_id", "event_type"], ["ts", "event_id"])
    return d.select(
        "user_id",
        "event_type",
        "event_id",
        F.row_number()
        .over(Window.orderBy("ts", "event_id"))
        .cast("long")
        .alias("pos"),
    )
