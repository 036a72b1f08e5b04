"""SURVEY.md §2 driver queries: sources/sinks (S/K), parse (P), scalar functions (F), and the flagship q1.

Split out of driver_queries.py (round 9); conventions in the facade
docstring there.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from solarboat_data_pipeline_spark.functions.formatting import epoch_seconds
from solarboat_data_pipeline_spark.functions.geo import haversine_km, heading_deg
from solarboat_data_pipeline_spark.operators import text as tx
from solarboat_data_pipeline_spark.operators import timeseries as ts

from solarboat_data_pipeline_spark.driver._registry import (  # noqa: F401
    SQL_TOKENS,
    _io_dir,
    _t,
    register,
)



# ---------------------------------------------------------------------------
# §2.2 projections / filters / row transforms + §2.1 scan
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                                        AS sum_qty,
           round(sum(l_extendedprice), 4)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)  AS sum_charge,
           round(avg(l_quantity), 6)                                        AS avg_qty,
           round(avg(l_extendedprice), 6)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)::BIGINT                                                 AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc), 4).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "s2_scan_pushdown",
    """
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 6) AS price
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00' AND l_quantity > 45
    """,
)
def s2_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    # projection + predicate reach the parquet scan (PushedFilters/ReadSchema)
    return (
        _t(spark, sf_dir, "lineitem")
        .where((F.col("l_shipdate") < "1996-01-01") & (F.col("l_quantity") > 45))
        .select(
            "l_orderkey", "l_linenumber", F.round("l_extendedprice", 6).alias("price")
        )
    )


@register(
    "p1_regex_extract",
    r"""
    SELECT event_id,
           regexp_extract(props, '"k":\s*(\d+)', 1)::BIGINT AS k_val
    FROM events
    WHERE regexp_matches(props, '"k":\s*(\d+)')
    """,
)
def p1_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    pat = r'"k":\s*(\d+)'
    return ev.where(F.col("props").rlike(pat)).select(
        "event_id", F.regexp_extract("props", pat, 1).cast("long").alias("k_val")
    )


@register(
    "p2_epoch_seconds",
    """
    SELECT event_id, round(extract(epoch FROM ts), 6) AS epoch_s
    FROM events
    """,
)
def p2_epoch_seconds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").select(
        "event_id", F.round(epoch_seconds(F.col("ts")), 6).alias("epoch_s")
    )


@register(
    "p3_time_offset",
    """
    SELECT event_id, ts + INTERVAL 3 HOUR AS ts_shifted FROM events
    """,
)
def p3_time_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").select(
        "event_id", F.expr("ts + INTERVAL 3 HOURS").alias("ts_shifted")
    )


@register(
    "p5_hex_roundtrip",
    """
    SELECT p_partkey, printf('%x', p_partkey) AS hex_key,
           ('0x' || printf('%x', p_partkey))::BIGINT AS back
    FROM part
    """,
)
def p5_hex_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    hexed = F.lower(F.hex(F.col("p_partkey")))
    return p.select(
        "p_partkey",
        hexed.alias("hex_key"),
        F.conv(hexed, 16, 10).cast("long").alias("back"),
    )


@register(
    "p6_unhex_payload",
    """
    SELECT p_partkey,
           octet_length(unhex(md5(p_name)))::BIGINT AS n_bytes,
           ('0x' || substr(md5(p_name), 1, 2))::BIGINT AS first_byte
    FROM part
    """,
)
def p6_unhex_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    h = F.md5(F.col("p_name"))
    return p.select(
        "p_partkey",
        F.octet_length(F.unhex(h)).cast("long").alias("n_bytes"),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("long").alias("first_byte"),
    )


@register(
    "p9_conditional_rewrite",
    """
    SELECT event_id,
           CASE WHEN event_type = 'error' THEN 230 ELSE user_id END::BIGINT AS signature,
           CASE WHEN event_type = 'error' THEN substr(props, 1, 2) ELSE props END AS payload
    FROM events
    """,
)
def p9_conditional_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    err = F.col("event_type") == "error"
    return ev.select(
        "event_id",
        F.when(err, F.lit(230)).otherwise(F.col("user_id")).cast("long").alias("signature"),
        F.when(err, F.substring("props", 1, 2)).otherwise(F.col("props")).alias("payload"),
    )


@register(
    "p13_p16_project_slice",
    """
    SELECT event_id, ts AS timestamp, round(value, 6) AS gps_value
    FROM events
    WHERE value IS NOT NULL
      AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
    """,
)
def p13_p16_project_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P13 prefix-rename + P14 drop + P15 dropna + P16 time slice in one pass
    ev = _t(spark, sf_dir, "events")
    return (
        ev.na.drop(subset=["value"])
        .where(F.col("ts").between("2024-01-05 00:00:00", "2024-01-20 00:00:00"))
        .select(
            "event_id",
            F.col("ts").alias("timestamp"),
            F.round("value", 6).alias("gps_value"),
        )
    )


@register(
    "p17_float_downcast",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice::REAL::DOUBLE AS price_f32
    FROM lineitem
    """,
)
def p17_float_downcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("float").cast("double").alias("price_f32"),
    )


# candump frame pattern for the oracle: DuckDB's RE2 lacks the trailing
# (?!\w) lookahead of sources.candump.FRAME_REGEX; on the well-formed lines
# this query constructs, the two patterns match identically.
_SQL_FRAME_PAT = r"\((\d{10}\.\d{6})\)\s(\w+)\s([0-9a-fA-F]{3})#((?:[0-9a-fA-F]{2}){2,8})"


@register(
    "s1_candump_parse",
    rf"""
    WITH lines AS (
      SELECT printf('(%.6f) can0 %s#%s',
                    round(extract(epoch FROM ts), 6),
                    lpad(printf('%x', event_id % 2048), 3, '0'),
                    substr(md5(props), 1, 14)) ||
             CASE WHEN event_id % 10 = 0 THEN
               printf('(%.6f) can1 %s#%s',
                      round(extract(epoch FROM ts), 6) + 0.5,
                      lpad(printf('%x', (event_id + 7) % 2048), 3, '0'),
                      substr(md5(props), 15, 14))
             ELSE '' END AS line
      FROM events),
    frames AS (
      SELECT unnest(regexp_extract_all(line, '{_SQL_FRAME_PAT}', 0)) AS fr
      FROM lines)
    SELECT regexp_extract(fr, '{_SQL_FRAME_PAT}', 1)::DOUBLE AS ts_raw,
           regexp_extract(fr, '{_SQL_FRAME_PAT}', 2) AS interface,
           ('0x' || regexp_extract(fr, '{_SQL_FRAME_PAT}', 3))::BIGINT AS topic_id,
           round((('0x' || substr(regexp_extract(fr, '{_SQL_FRAME_PAT}', 4), 3, 2))::BIGINT +
                  ('0x' || substr(regexp_extract(fr, '{_SQL_FRAME_PAT}', 4), 5, 2))::BIGINT * 256)
                 / 100.0, 6) AS u16_scaled
    FROM frames
    """,
)
def s1_candump_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+P1+P5+P10 end-to-end on candump-format text built from events:
    multi-frame lines exercise the extract-all explode, then the real
    frame-extraction and LE-u16 decode expressions run."""
    from solarboat_data_pipeline_spark.sources.candump import extract_frames

    ev = _t(spark, sf_dir, "events")
    frame1 = F.format_string(
        "(%.6f) can0 %s#%s",
        F.round(epoch_seconds(F.col("ts")), 6),
        F.lpad(F.lower(F.hex(F.col("event_id") % 2048)), 3, "0"),
        F.substring(F.md5("props"), 1, 14),
    )
    frame2 = F.format_string(
        "(%.6f) can1 %s#%s",
        F.round(epoch_seconds(F.col("ts")), 6) + 0.5,
        F.lpad(F.lower(F.hex((F.col("event_id") + 7) % 2048)), 3, "0"),
        F.substring(F.md5("props"), 15, 14),
    )
    lines = ev.select(
        F.concat(
            frame1, F.when(F.col("event_id") % 10 == 0, frame2).otherwise(F.lit(""))
        ).alias("value")
    )
    fr = extract_frames(lines, with_order=False)
    b = lambda pos: F.conv(F.substring("payload_hex", pos, 2), 16, 10).cast("long")  # noqa: E731
    return fr.select(
        F.col("ts_raw").cast("double").alias("ts_raw"),
        "interface",
        F.conv("topic_hex", 16, 10).cast("long").alias("topic_id"),
        F.round((b(3) + b(5) * 256) / 100.0, 6).alias("u16_scaled"),
    )


@register(
    "p4_crop_bounds",
    """
    WITH b AS (SELECT arg_min(ts, event_id) AS lo, arg_max(ts, event_id) AS hi
               FROM events)
    SELECT event_id FROM events, b WHERE ts BETWEEN lo AND hi
    """,
)
def p4_crop_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P4 semantics: first/last rows IN ORDER are trusted, intermediates are
    # cropped to their range (event_id stands in for file order here)
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min_by("ts", "event_id").alias("lo"), F.max_by("ts", "event_id").alias("hi")
    )
    return (
        ev.crossJoin(F.broadcast(bounds))
        .where(F.col("ts").between(F.col("lo"), F.col("hi")))
        .select("event_id")
    )


@register(
    "p8_dict_lookup",
    """
    WITH dim(event_type, type_code) AS
         (VALUES ('click', 1), ('purchase', 2), ('error', 3))
    SELECT e.event_id, d.type_code
    FROM events e JOIN dim d USING (event_type)
    """,
)
def p8_dict_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P8: catalog lookup as a broadcast INNER join — unknown keys silently
    # dropped (lib/canparser.py:135-145 semantics)
    ev = _t(spark, sf_dir, "events")
    from solarboat_data_pipeline_spark.operators.similarity import _local_frame

    dim = _local_frame(
        spark,
        [("click", 1), ("purchase", 2), ("error", 3)],
        "event_type string, type_code int",
    )
    return ev.join(F.broadcast(dim), "event_type").select("event_id", "type_code")


@register(
    "p12_explode_tokens",
    rf"""
    WITH t AS (SELECT doc_id, {SQL_TOKENS.format(t='text')} AS toks
               FROM documents WHERE doc_id % 50 = 0)
    SELECT doc_id,
           unnest(generate_series(0, len(toks) - 1))::BIGINT AS pos,
           unnest(toks) AS token
    FROM t WHERE len(toks) > 0
    """,
)
def p12_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P12: 1 row → N rows via posexplode of a generated array
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 50 == 0)
    toked = docs.select("doc_id", tx.tokens(F.col("text")).alias("__toks"))
    return toked.select(
        "doc_id", F.posexplode("__toks").alias("pos", "token")
    ).withColumn("pos", F.col("pos").cast("long"))


@register(
    "f4_tz_convert",
    """
    SELECT event_id,
           (ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/Sao_Paulo' AS local_ts,
           (ts AT TIME ZONE 'America/Sao_Paulo') AT TIME ZONE 'UTC' AS back_utc
    FROM events
    """,
)
def f4_tz_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F4: tz localize/convert (lib/unifier_with_forecast_data.py:44,59-61)
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.from_utc_timestamp("ts", "America/Sao_Paulo").alias("local_ts"),
        F.to_utc_timestamp("ts", "America/Sao_Paulo").alias("back_utc"),
    )


@register(
    "f3_speed_guard",
    """
    WITH d AS (
      SELECT event_id,
             value - lag(value) OVER w AS dv,
             (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0 AS dt_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_id,
           round(CASE WHEN dt_s = 0 THEN NULL ELSE dv / dt_s END, 6) + 0.0 AS speed
    FROM d
    """,
)
def f3_speed_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F3: rate with divide-by-zero → null (lib/process_gpx_data.py:59-61)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dv = F.col("value") - F.lag("value").over(w)
    dt = (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))) / 1_000_000.0
    # + 0.0 folds IEEE -0.0 to 0.0 (mirrored in the oracle)
    return ev.select(
        "event_id",
        (F.round(F.when(dt == 0, None).otherwise(dv / dt), 6) + F.lit(0.0)).alias(
            "speed"
        ),
    )


# ---------------------------------------------------------------------------
# §2.6 scalar functions
# ---------------------------------------------------------------------------

_SQL_GEO = """
    WITH pts AS (
      SELECT event_id, user_id, ts,
             value / 10.0 - 10.0 AS lat,
             (user_id * 20.0) - 150.0 + value / 100.0 AS lon
      FROM events),
    seq AS (
      SELECT event_id, lat, lon,
             lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
"""


@register(
    "f1_haversine",
    _SQL_GEO
    + """
    SELECT event_id,
           round(6371 * 2 * asin(sqrt(
             pow(sin((radians(lat) - radians(plat)) / 2), 2) +
             cos(radians(plat)) * cos(radians(lat)) *
             pow(sin((radians(lon) - radians(plon)) / 2), 2))), 6) AS dist_km
    FROM seq WHERE plat IS NOT NULL
    """,
)
def f1_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    lat = F.col("value") / 10.0 - 10.0
    lon = (F.col("user_id") * 20.0) - 150.0 + F.col("value") / 100.0
    pts = ev.select("event_id", "user_id", "ts", lat.alias("lat"), lon.alias("lon"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = pts.select(
        "event_id",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    )
    return seq.where(F.col("plat").isNotNull()).select(
        "event_id",
        F.round(
            haversine_km(F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon")), 6
        ).alias("dist_km"),
    )


@register(
    "f2_heading",
    _SQL_GEO
    + """
    SELECT event_id,
           round(degrees(atan2(
             cos(radians(plat)) * sin(radians(lon) - radians(plon)) + 0.0,
             sin(radians(plat)) * (cos(radians(plat)) -
               cos(radians(lat)) * cos(radians(lon) - radians(plon))) + 0.0
           )) + 180.0, 6) AS heading
    FROM seq WHERE plat IS NOT NULL
    """,
)
def f2_heading(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    lat = F.col("value") / 10.0 - 10.0
    lon = (F.col("user_id") * 20.0) - 150.0 + F.col("value") / 100.0
    pts = ev.select("event_id", "user_id", "ts", lat.alias("lat"), lon.alias("lon"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = pts.select(
        "event_id",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    )
    return seq.where(F.col("plat").isNotNull()).select(
        "event_id",
        F.round(
            heading_deg(F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon")), 6
        ).alias("heading"),
    )


@register(
    "f5_candump_format",
    """
    SELECT event_id,
           printf('(%10.6f) can0 %s#%s',
                  round(extract(epoch FROM ts), 6),
                  lpad(printf('%x', event_id % 2048), 3, '0'),
                  substr(md5(props), 1, 14)) AS line
    FROM events
    """,
)
def f5_candump_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    from solarboat_data_pipeline_spark.functions.formatting import candump_line

    return ev.select(
        "event_id",
        candump_line(
            F.round(epoch_seconds(F.col("ts")), 6),
            F.col("event_id") % 2048,
            F.substring(F.md5("props"), 1, 14),
        ).alias("line"),
    )


@register(
    "f6_json_extract",
    """
    SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k
    FROM events
    """,
)
def f6_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


@register(
    "p10_binary_decode",
    """
    WITH payloads AS (
      SELECT event_id, substr(md5(props), 1, 14) AS payload_hex FROM events)
    SELECT event_id,
           ('0x' || substr(payload_hex, 1, 2))::BIGINT AS signature,
           round((('0x' || substr(payload_hex, 3, 2))::BIGINT +
                  ('0x' || substr(payload_hex, 5, 2))::BIGINT * 256) / 100.0,
                 6) AS avg_u16_scaled,
           (('0x' || substr(payload_hex, 13, 2))::BIGINT & 1)::BIGINT AS flag_bit
    FROM payloads
    """,
)
def p10_binary_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # u8 / LE-u16-with-scale / bitfield-LSB decode over a hex payload —
    # the exact expression shapes generated by catalog codegen
    ev = _t(spark, sf_dir, "events")
    payload = F.substring(F.md5("props"), 1, 14)
    b = lambda pos: F.conv(F.substring(payload, pos, 2), 16, 10).cast("long")  # noqa: E731
    return ev.select(
        "event_id",
        b(1).alias("signature"),
        F.round((b(3) + b(5) * 256) / 100.0, 6).alias("avg_u16_scaled"),
        b(13).bitwiseAND(1).cast("long").alias("flag_bit"),
    )


# F7: real solar physics with an exact oracle. The NOAA solar-position +
# isotropic-transposition chain (functions/solar.py:SOLPOS_STEPS/POA_EXPR,
# citing lib/process_solcast_historic_data.py:20-71) is a single shared
# formula text evaluated by BOTH engines, so the oracle mirrors the Spark
# plan op-for-op. poa is rounded to 3 decimals on both sides before the
# energy integral: +,*,/ are IEEE-identical across engines, and libm trig
# ULP drift (~1e-13) is far below the 1e-3 grid, so the rounded values
# (and hence the integer-quantized trapezoid sums) match bit-wise.
def _f7_oracle() -> str:
    from solarboat_data_pipeline_spark.functions.solar import poa_irradiance_sql

    src = """
      SELECT timestamp, ghi, ghi * 0.8 AS dni, ghi * 0.2 AS dhi,
             CAST(0.9 AS DOUBLE) AS albedo
      FROM (SELECT ts AS timestamp, round(avg(abs(value)) * 10, 6) AS ghi
            FROM events GROUP BY ts)
    """
    poa = poa_irradiance_sql(src, latitude=-27.59, longitude=-48.55)
    # A7 energy: each trapezoid increment is QUANTIZED to an exact integer
    # (×1e6, round, BIGINT) before the running sum: integer sums are exact
    # in any association order (DuckDB's windowed SUM uses a segment tree,
    # Spark sums sequentially — over ~100k doubles the association drift
    # crosses the rounding grid; sf0.1 exposed this, sf0.01 did not).
    return f"""
    WITH w AS (
      SELECT timestamp, round(poa, 3) AS poa,
             lag(round(poa, 3)) OVER (ORDER BY timestamp) AS pv,
             lag(timestamp) OVER (ORDER BY timestamp) AS pt
      FROM {poa})
    SELECT timestamp, poa,
           round(sum(coalesce(CAST(round((poa + pv) / 2 *
                 ((epoch_us(timestamp) - epoch_us(pt)) / 1000000.0 / 3600.0)
                 * 1000000.0) AS BIGINT),
                 0)) OVER (ORDER BY timestamp
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / 1000000.0, 6) AS energy
    FROM w
    """


def _solpos_oracle() -> str:
    from solarboat_data_pipeline_spark.functions.solar import (
        SOLPOS_OUTPUTS,
        solar_position_sql,
    )

    pos = solar_position_sql(
        "SELECT DISTINCT ts AS timestamp FROM events",
        latitude=-27.59, longitude=-48.55, keep=SOLPOS_OUTPUTS,
    )
    # 1e-4 grid: libm ULP drift (~1e-13) must not straddle a rounding
    # boundary across ~1e5 rows x 6 angles at sf0.1
    cols = ", ".join(f"round({c}, 4) AS {c}" for c in SOLPOS_OUTPUTS)
    return f"SELECT timestamp, {cols} FROM {pos}"


@register("f7_solar_position", _solpos_oracle())
def f7_solar_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOAA solar-position chain driver-visible on its own
    (functions/solar.py:SOLPOS_STEPS): declination, equation of time,
    zenith, elevation, apparent (refraction-corrected) zenith, azimuth —
    all whole-stage-codegen expressions; the oracle evaluates the
    identical formula text in DuckDB."""
    from solarboat_data_pipeline_spark.functions.solar import (
        SOLPOS_OUTPUTS,
        solar_position,
    )

    src = _t(spark, sf_dir, "events").select(
        F.col("ts").alias("timestamp")
    ).distinct()
    pos = solar_position(
        src, latitude=-27.59, longitude=-48.55, keep=SOLPOS_OUTPUTS
    )
    return pos.select(
        "timestamp",
        *[F.round(c, 4).alias(c) for c in SOLPOS_OUTPUTS],
    )


@register("f7_poa_irradiance", _f7_oracle())
def f7_poa_irradiance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solarboat_data_pipeline_spark.functions.solar import poa_irradiance

    ev = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("ts").alias("timestamp"))
        .agg(F.round(F.avg(F.abs(F.col("value"))) * 10, 6).alias("ghi"))
        .select(
            "timestamp",
            "ghi",
            (F.col("ghi") * 0.8).alias("dni"),
            (F.col("ghi") * 0.2).alias("dhi"),
            F.lit(0.9).alias("albedo"),
        )
    )
    poa = poa_irradiance(ev, latitude=-27.59, longitude=-48.55).withColumn(
        "poa", F.round("poa", 3)
    )
    # A7: POA → cumulative energy (lib/process_solcast_historic_data.py:104).
    # The increment expression mirrors the oracle SQL op-for-op and is
    # quantized to an exact integer before the running sum — see the
    # _F7_ORACLE comment (integer sums are association-order-exact, so
    # Spark's sequential window and DuckDB's segment tree agree bit-wise).
    w = Window.orderBy("timestamp").rowsBetween(
        Window.unboundedPreceding, 0
    )
    lag1 = Window.orderBy("timestamp")
    pv = F.lag("poa").over(lag1)
    pt = F.lag("timestamp").over(lag1)
    inc = (
        (F.col("poa") + pv)
        / 2
        * ((F.unix_micros("timestamp") - F.unix_micros(pt)) / 1000000.0 / 3600.0)
        * 1000000.0
    )
    out = poa.withColumn(
        "energy",
        F.sum(F.coalesce(F.round(inc).cast("long"), F.lit(0))).over(w)
        / 1000000.0,
    )
    return out.select(
        "timestamp",
        "poa",
        F.round("energy", 6).alias("energy"),
    )


@register(
    "k_partitioned_prune",
    """
    SELECT event_id, ts, round(value, 6) AS value, event_type
    FROM events WHERE event_id % 3 = 0 AND event_type = 'click'
    """,
)
def k_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 partitioned sink + partition pruning: the subset is written
    ``partitionBy(event_type)`` and read back with a partition filter —
    at scale the pruned read touches only the matching directory, no file
    of any other partition is opened (hive-style pruning at planning
    time). The oracle recomputes the same rows from the flat parquet."""
    import shutil

    from solarboat_data_pipeline_spark.sources.sinks import write_parquet

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 3 == 0)
    sub = ev.select(
        "event_id", "ts", F.round("value", 6).alias("value"), "event_type"
    )
    path = _io_dir(sf_dir, "k_partitioned_events")
    shutil.rmtree(path, ignore_errors=True)
    write_parquet(sub, path, mode="overwrite", partition_by=["event_type"])
    back = spark.read.parquet(path).where(F.col("event_type") == "click")
    return back.select("event_id", "ts", "value", "event_type")


# ---------------------------------------------------------------------------
# merged family queries: several §2 ops verified in ONE driver row so every
# operator family fits inside the driver's 50-query correctness window.
# The single-op originals stay registered below the priority cut as extras
# (the local pytest oracle gate still runs all of them).
# ---------------------------------------------------------------------------


@register(
    "p3_p4_time_window",
    """
    SELECT event_id, ts + INTERVAL 3 HOUR AS ts_shifted
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00'
                 AND TIMESTAMP '2024-01-20 00:00:00'
    """,
)
def p3_p4_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 timestamp offset + P4 time crop in one pass
    (reference ``lib/canparser.py`` time shift + crop stages)."""
    ev = _t(spark, sf_dir, "events")
    return ev.where(
        F.col("ts").between("2024-01-05 00:00:00", "2024-01-20 00:00:00")
    ).select("event_id", F.expr("ts + INTERVAL 3 HOURS").alias("ts_shifted"))


@register(
    "p5_p6_hex_payload",
    """
    SELECT p_partkey,
           printf('%x', p_partkey) AS hex_key,
           ('0x' || printf('%x', p_partkey))::BIGINT AS back,
           octet_length(unhex(md5(p_name)))::BIGINT AS n_bytes,
           ('0x' || substr(md5(p_name), 1, 2))::BIGINT AS first_byte
    FROM part
    """,
)
def p5_p6_hex_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 hex→int round-trip + P6 hex→binary in one scan
    (``lib/canparser.py`` payload hex handling)."""
    p = _t(spark, sf_dir, "part")
    hexed = F.lower(F.hex(F.col("p_partkey")))
    h = F.md5(F.col("p_name"))
    return p.select(
        "p_partkey",
        hexed.alias("hex_key"),
        F.conv(hexed, 16, 10).cast("long").alias("back"),
        F.octet_length(F.unhex(h)).cast("long").alias("n_bytes"),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("long").alias("first_byte"),
    )


@register(
    "f1_f3_track",
    """
    WITH pts AS (
      SELECT event_id, user_id, ts, value,
             value / 10.0 - 10.0 AS lat,
             (user_id * 20.0) - 150.0 + value / 100.0 AS lon
      FROM events),
    seq AS (
      SELECT event_id, ts, value, lat, lon,
             lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
             lag(value) OVER w AS pv, lag(ts) OVER w AS pt
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_id,
           round(6371 * 2 * asin(sqrt(
             pow(sin((radians(lat) - radians(plat)) / 2), 2) +
             cos(radians(plat)) * cos(radians(lat)) *
             pow(sin((radians(lon) - radians(plon)) / 2), 2))), 6) AS dist_km,
           round(degrees(atan2(
             cos(radians(plat)) * sin(radians(lon) - radians(plon)) + 0.0,
             sin(radians(plat)) * (cos(radians(plat)) -
               cos(radians(lat)) * cos(radians(lon) - radians(plon))) + 0.0
           )) + 180.0, 6) AS heading,
           round(CASE WHEN epoch_us(ts) - epoch_us(pt) = 0 THEN NULL
                 ELSE (value - pv) / ((epoch_us(ts) - epoch_us(pt)) / 1000000.0)
                 END, 6) + 0.0 AS speed
    FROM seq WHERE plat IS NOT NULL
    """,
)
def f1_f3_track(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 haversine + F2 heading (quirk kept) + F3 speed guard + W1 lag
    diff, the full per-point track derivation of
    ``lib/process_gpx_data.py:26-73`` in one window pass."""
    ev = _t(spark, sf_dir, "events")
    lat = F.col("value") / 10.0 - 10.0
    lon = (F.col("user_id") * 20.0) - 150.0 + F.col("value") / 100.0
    pts = ev.select(
        "event_id", "user_id", "ts", "value", lat.alias("lat"), lon.alias("lon")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = pts.select(
        "event_id",
        "ts",
        "value",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
        F.lag("value").over(w).alias("pv"),
        F.lag("ts").over(w).alias("pt"),
    )
    dt_s = (ts._us(F.col("ts")) - ts._us(F.col("pt"))) / 1_000_000.0
    dv = F.col("value") - F.col("pv")
    return seq.where(F.col("plat").isNotNull()).select(
        "event_id",
        F.round(
            haversine_km(F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon")),
            6,
        ).alias("dist_km"),
        F.round(
            heading_deg(F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon")),
            6,
        ).alias("heading"),
        (
            F.round(F.when(dt_s == 0, None).otherwise(dv / dt_s), 6) + F.lit(0.0)
        ).alias("speed"),
    )


@register(
    "s3_forecast_csv_roundtrip",
    """
    SELECT ts AS timestamp,
           round(coalesce(value, 0), 6) AS solcast_Ghi,
           round(user_id * 1.5e0, 6) AS solcast_AirTemp
    FROM events WHERE event_id % 11 = 0
    """,
)
def s3_forecast_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 forecast-CSV scan (``lib/unifier_with_forecast_data.py:50-56``) +
    K2 CSV sink: a forecast-shaped frame is written with the CSV sink and
    scanned back through :func:`sources.csvs.scan_forecast_csv` (PeriodStart
    parsing + ``solcast_`` prefixing); the oracle reads the same values
    straight from the parquet."""
    from solarboat_data_pipeline_spark.sources.csvs import scan_forecast_csv
    from solarboat_data_pipeline_spark.sources.sinks import write_csv

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 11 == 0)
    out = ev.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("PeriodStart"),
        F.round(F.coalesce(F.col("value"), F.lit(0.0)), 6).alias("Ghi"),
        F.round(F.col("user_id") * 1.5, 6).alias("AirTemp"),
    )
    path = _io_dir(sf_dir, "s3_forecast_csv")
    write_csv(out, path, mode="overwrite")
    back = scan_forecast_csv(spark, path)
    return back.select(
        "timestamp",
        F.round("solcast_Ghi", 6).alias("solcast_Ghi"),
        F.round("solcast_AirTemp", 6).alias("solcast_AirTemp"),
    )


@register(
    "s4_gpx_roundtrip",
    """
    SELECT ts AS timestamp,
           round(round(value / 10.0 - 10.0, 6), 6) AS latitude,
           round(round((user_id * 20.0) - 150.0 + value / 100.0, 6), 6) AS longitude,
           round(round(coalesce(value, 0) * 2.0, 6), 6) AS altitude
    FROM events WHERE event_id % 101 = 0 AND value IS NOT NULL
    """,
)
def s4_gpx_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 GPX scan (``lib/process_gpx_data.py:83``): a GPX XML document is
    synthesized from `events` GPS-shaped points (6-decimal fixed point, the
    precision GPX files carry), written as one file, and parsed back through
    the ``mapInPandas`` XML track reader."""
    from solarboat_data_pipeline_spark.sources.gpx import scan_gpx

    ev = (
        _t(spark, sf_dir, "events")
        .where((F.col("event_id") % 101 == 0) & F.col("value").isNotNull())
    )
    lat = F.round(F.col("value") / 10.0 - 10.0, 6)
    lon = F.round((F.col("user_id") * 20.0) - 150.0 + F.col("value") / 100.0, 6)
    ele = F.round(F.col("value") * 2.0, 6)
    pt = F.format_string(
        '<trkpt lat="%.6f" lon="%.6f"><ele>%.6f</ele><time>%s</time></trkpt>',
        lat,
        lon,
        ele,
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
    )
    # one small XML document (a real track is a few MB); assembled with a
    # bounded collect_list — this builds a FIXTURE, not a data path
    doc = ev.agg(
        F.concat(
            F.lit('<gpx><trk><trkseg>'),
            F.array_join(F.collect_list(pt), ""),
            F.lit("</trkseg></trk></gpx>"),
        ).alias("value")
    )
    path = _io_dir(sf_dir, "s4_track_gpx")
    doc.coalesce(1).write.mode("overwrite").text(path)
    back = scan_gpx(spark, f"{path}/part-*")
    return back.select(
        "timestamp",
        F.round("latitude", 6).alias("latitude"),
        F.round("longitude", 6).alias("longitude"),
        F.round("altitude", 6).alias("altitude"),
    )


@register(
    "s5_json_dump_roundtrip",
    """
    WITH src AS (
      SELECT event_id % 2048 AS top, user_id % 200 AS mod,
             [event_id % 256, user_id % 256, (event_id // 256) % 256] AS bytes,
             epoch_us(date_trunc('millisecond', ts)) / 1000000.0 AS epoch
      FROM events WHERE event_id % 13 = 0)
    SELECT printf('(%10.6f) can0 %s#%s', round(epoch, 6),
                  lpad(printf('%x', top), 3, '0'),
                  lpad(printf('%x', mod), 2, '0') ||
                    array_to_string(list_transform(bytes,
                                                   b -> printf('%02x', b)), '')
           ) AS value,
           true AS valid
    FROM src
    """,
)
def s5_json_dump_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 JSON dump scan + K4 candump-line formatting
    (``convert_json_to_candump.py:125-156``): events become the reference's
    ``{bytes, date, mod, top}`` JSON-array dump (ms-precision date strings),
    scanned back via :func:`sources.jsondump.scan_json_dump` and formatted
    into candump lines; the oracle formats the same lines from parquet."""
    import glob
    import os

    from solarboat_data_pipeline_spark.sources.jsondump import (
        json_dump_to_candump,
        scan_json_dump,
    )

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 13 == 0)
    rec = F.to_json(
        F.struct(
            F.array(
                (F.col("event_id") % 256).cast("string"),
                (F.col("user_id") % 256).cast("string"),
                ((F.col("event_id") / 256).cast("long") % 256).cast("string"),
            ).alias("bytes"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSS").alias("date"),
            (F.col("user_id") % 200).alias("mod"),
            (F.col("event_id") % 2048).alias("top"),
        )
    )
    stage = _io_dir(sf_dir, "s5_json_stage")
    ev.select(rec.alias("value")).coalesce(1).write.mode("overwrite").text(stage)
    # the reference format is ONE json array per file: bracket the staged
    # JSONL (streamed line-by-line; fixture assembly, not a data path)
    dump = _io_dir(sf_dir, "s5_json_dump")
    os.makedirs(dump, exist_ok=True)
    dump_file = os.path.join(dump, "dump.json")
    with open(dump_file, "w") as out:
        out.write("[\n")
        first = True
        for part in sorted(glob.glob(os.path.join(stage, "part-*"))):
            with open(part) as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    if not first:
                        out.write(",\n")
                    out.write(line)
                    first = False
        out.write("\n]")
    scanned = scan_json_dump(spark, dump_file)
    return json_dump_to_candump(scanned)


@register(
    "k_sinks_roundtrip",
    """
    SELECT event_id, ts, user_id, event_type, round(value, 6) AS value
    FROM events WHERE event_id % 7 = 0
    """,
)
def k_sinks_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 parquet sink + K5 idempotent write (``lib/canparser.py:315-317``
    skip-if-exists): the subset is written once, then a POISONED frame is
    written to the same path with ``mode='ignore'`` — if idempotency broke,
    the poison rows would surface and the oracle hash would catch it."""
    import shutil

    from solarboat_data_pipeline_spark.sources.sinks import write_parquet

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 7 == 0)
    sub = ev.select(
        "event_id", "ts", "user_id", "event_type",
        F.round("value", 6).alias("value"),
    )
    path = _io_dir(sf_dir, "k1_events_parquet")
    shutil.rmtree(path, ignore_errors=True)
    write_parquet(sub, path, mode="overwrite")
    poison = sub.withColumn("value", F.lit(-999999.0)).limit(10)
    write_parquet(poison, path, mode="ignore")  # K5: must be a no-op
    return spark.read.parquet(path)


@register(
    "k_bucketed_join",
    """
    SELECT c_mktsegment,
           count(*)::BIGINT            AS n_orders,
           round(sum(o_totalprice), 4) AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def k_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table layout end-to-end (sources/bucketed.py): both join
    sides written with ``bucketBy(8, custkey)`` + ``sortBy``, read back
    through the catalog, and joined on the bucket key — the sort-merge
    join runs directly on the bucketed scans with ZERO Exchange before the
    final tiny segment aggregate (asserted in tests/test_bucketed.py).
    This is the 100 TB layout for a fact table repeatedly joined on one
    key: the shuffle is paid once at write time, never per query. The
    MERGE hint keeps the plan on the bucket-aware sort-merge path even
    where the dimension side would auto-broadcast at test scale."""
    from solarboat_data_pipeline_spark.sources import bucketed as bk

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    root = _io_dir(sf_dir, "k_bucketed")
    # r14 (guide §2.6 — overlap independent jobs): the two bucketed
    # writes share no lineage (different source tables, different target
    # tables), so the dimension side's write+DDL latency hides under the
    # fact side's instead of following it. Each worker thread issues its
    # own saveAsTable; the embedded-derby DDL for two DISTINCT tables
    # serializes briefly inside the catalog but the write jobs overlap.
    from concurrent.futures import ThreadPoolExecutor

    def _wo():
        bk.write_bucketed(
            orders.select("o_custkey", "o_totalprice"),
            "drv_orders_bkt", ["o_custkey"], 8, path=f"{root}/orders",
        )

    def _wc():
        bk.write_bucketed(
            cust.select("c_custkey", "c_mktsegment"),
            "drv_customer_bkt", ["c_custkey"], 8, path=f"{root}/customer",
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(_wo), pool.submit(_wc)]:
            f.result()
    o = bk.read_bucketed(spark, "drv_orders_bkt")
    c = bk.read_bucketed(spark, "drv_customer_bkt").hint("merge")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# the four-stage pipeline composition under the hard gate (VERDICT r12 #2)
# ---------------------------------------------------------------------------

# Inline catalog for the E2E row: one module (signature 0xfa=250), a
# 3-byte topic T (SIGNATURE + LE-u16 V) and a 2-byte topic S (SIGNATURE +
# u8 S) — the mini test catalog's shapes, unitless so decode scale is 1.
_E2E_CATALOG = {
    "version": "e2e-0.1",
    "modules": [
        {
            "name": "MTR",
            "description": "e2e driver module",
            "signature": 250,
            "topics": [
                {
                    "name": "S",
                    "description": "u8 state",
                    "id": 8,
                    "bytes": [
                        {"name": "SIGNATURE", "description": "sender", "type": "uint8_t", "units": ""},
                        {"name": "S", "description": "state", "type": "uint8_t", "units": ""},
                        None, None, None, None, None, None,
                    ],
                },
                {
                    "name": "T",
                    "description": "LE-u16 value",
                    "id": 33,
                    "bytes": [
                        {"name": "SIGNATURE", "description": "sender", "type": "uint8_t", "units": ""},
                        {"name": "V_L", "description": "value low", "type": "uint16_t", "units": ""},
                        {"name": "V_H", "description": "value high", "type": "uint16_t", "units": ""},
                        None, None, None, None, None,
                    ],
                },
            ],
        }
    ],
}

_E2E_T0 = 1_700_000_000  # corpus epoch start


@register(
    "pipeline_can_e2e",
    """
    WITH src AS (
      -- the candump corpus, decoded arithmetically: epoch spreads events
      -- over a <=1798 s window (3 s stride, so resample's 1 s grid must
      -- gap-fill), every 13th event is an S frame, the rest are V frames
      SELECT ((1700000000 + (event_id % 600) * 3) * 1000000
              + (event_id // 600) % 1000000)::BIGINT AS eus,
             CASE WHEN event_id % 13 <> 0
                  THEN ((event_id * 997) % 65536)::DOUBLE END AS v,
             CASE WHEN event_id % 13 = 0
                  THEN (user_id % 200)::DOUBLE END AS s
      FROM events),
    b AS (
      SELECT make_timestamp((eus // 1000000) * 1000000) AS ts,
             avg(v) AS v, avg(s) AS s
      FROM src GROUP BY 1),
    spine AS (
      SELECT unnest(generate_series((SELECT min(ts) FROM b),
                                    (SELECT max(ts) FROM b),
                                    INTERVAL 1 SECOND)) AS ts),
    g AS (
      SELECT spine.ts, b.v, b.s, row_number() OVER (ORDER BY spine.ts) AS rn
      FROM spine LEFT JOIN b USING (ts)),
    w AS (
      SELECT *,
        last_value(v IGNORE NULLS) OVER wp AS pv,
        first_value(v IGNORE NULLS) OVER wn AS nv,
        last_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER wp AS pt,
        first_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER wn AS nt,
        last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER wp AS lr,
        last_value(s IGNORE NULLS) OVER wp AS ps,
        first_value(s IGNORE NULLS) OVER wn AS ns,
        last_value(CASE WHEN s IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER wp AS pst,
        first_value(CASE WHEN s IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER wn AS nst,
        last_value(CASE WHEN s IS NOT NULL THEN rn END IGNORE NULLS) OVER wp AS lsr
      FROM g
      WINDOW wp AS (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
    tele AS (
      -- resample_stage: 1 s mean + bounded time interpolation
      -- (limit 60 samples, inside only), blend association mirroring
      -- interpolate_time: pv + (nv-pv) * ((t-pt)/(nt-pt))
      SELECT ts, rn,
        CASE WHEN v IS NOT NULL THEN v
             WHEN pv IS NOT NULL AND nv IS NOT NULL AND (rn - lr) <= 60
               THEN pv + (nv - pv) * ((epoch_us(ts) - pt) / (nt - pt)) END AS v,
        CASE WHEN s IS NOT NULL THEN s
             WHEN ps IS NOT NULL AND ns IS NOT NULL AND (rn - lsr) <= 60
               THEN ps + (ns - ps) * ((epoch_us(ts) - pst) / (nst - pst)) END AS s
      FROM w),
    fc AS (
      SELECT make_timestamp(((1700000000 + 15)::BIGINT * 1000000 + k * 30000000)) AS ts,
             ((k % 17) * 25 + 100)::DOUBLE AS dni,
             ((k % 23) * 10 + 50)::DOUBLE AS ghi
      FROM (SELECT unnest(generate_series(0::BIGINT, 69::BIGINT)) AS k)
      UNION ALL
      -- off-grid forecast point: reference reindex semantics DISCARD it
      SELECT make_timestamp(1700000000::BIGINT * 1000000 + 45500000), 9999.0, 9999.0),
    fj AS (
      SELECT t.ts, t.rn, t.v, t.s, f.dni, f.ghi
      FROM tele t LEFT JOIN fc f USING (ts)),
    fw AS (
      SELECT *,
        last_value(dni IGNORE NULLS) OVER wp AS pd,
        first_value(dni IGNORE NULLS) OVER wn AS nd,
        last_value(CASE WHEN dni IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER wp AS pdt,
        first_value(CASE WHEN dni IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER wn AS ndt,
        last_value(ghi IGNORE NULLS) OVER wp AS pg,
        first_value(ghi IGNORE NULLS) OVER wn AS ng,
        last_value(CASE WHEN ghi IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER wp AS pgt,
        first_value(CASE WHEN ghi IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER wn AS ngt
      FROM fj
      WINDOW wp AS (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
    fi AS (
      -- unify_forecast_stage: unlimited inside linear, trailing clamp,
      -- leading nulls (interpolate_time limit_area=None)
      SELECT ts, v, s,
        CASE WHEN dni IS NOT NULL THEN dni
             WHEN pd IS NOT NULL AND nd IS NOT NULL
               THEN pd + (nd - pd) * ((epoch_us(ts) - pdt) / (ndt - pdt))
             WHEN pd IS NOT NULL THEN pd END AS dni,
        CASE WHEN ghi IS NOT NULL THEN ghi
             WHEN pg IS NOT NULL AND ng IS NOT NULL
               THEN pg + (ng - pg) * ((epoch_us(ts) - pgt) / (ngt - pgt))
             WHEN pg IS NOT NULL THEN pg END AS ghi
      FROM fw),
    gps AS (
      SELECT make_timestamp(1700000000::BIGINT * 1000000 + 500000 + m * 7000000) AS gts,
             -27.0::DOUBLE + m * 0.0001::DOUBLE AS lat,
             48.0::DOUBLE + m * 0.0002::DOUBLE AS lon
      FROM (SELECT unnest(generate_series(0::BIGINT, 259::BIGINT)) AS m))
    SELECT f.ts AS timestamp,
           round(f.v, 6) AS v, round(f.s, 6) AS s,
           round(f.dni, 6) AS dni, round(f.ghi, 6) AS ghi,
           round(g.lat, 6) AS lat, round(g.lon, 6) AS lon
    FROM fi f ASOF LEFT JOIN gps g ON f.ts >= g.gts
    """,
)
def pipeline_can_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual product — parse → resample(1 s) →
    unify-forecast → unify-GPS (``main_2022.py:159-163``) — as ONE gated
    artifact. Candump text is synthesized from ``events`` (deterministic
    payloads), staged to disk time-ordered (so the P4 crop's file-order
    bounds equal the time bounds), and run through the real
    :func:`pipeline.parse_stage` / :func:`pipeline.resample_stage` /
    :func:`pipeline.unify_forecast_stage` / :func:`pipeline.unify_gps_stage`
    kernels; the oracle replays every stage arithmetically (frame values
    are exact functions of event_id/user_id, so no SQL regex pass is
    needed — a garbled parse surfaces as a value mismatch)."""
    from solarboat_data_pipeline_spark.catalog import CanCatalog
    from solarboat_data_pipeline_spark.pipeline import (
        parse_stage,
        resample_stage,
        unify_forecast_stage,
        unify_gps_stage,
    )

    ev = _t(spark, sf_dir, "events")
    sec = F.lit(_E2E_T0) + (F.col("event_id") % 600) * 3
    us = (F.col("event_id") / F.lit(600)).cast("long") % 1_000_000
    v = (F.col("event_id") * 997) % 65536
    s = F.col("user_id") % 200
    is_s = F.col("event_id") % 13 == 0
    line = F.when(
        is_s,
        F.format_string("(%d.%06d) can0 008#fa%02x", sec, us, s),
    ).otherwise(
        F.format_string(
            "(%d.%06d) can0 021#fa%02x%02x",
            sec, us, v.bitwiseAND(F.lit(255)), F.shiftright(v, 8),
        )
    )
    eus = sec * 1_000_000 + us
    stage = _io_dir(sf_dir, "pipeline_can_e2e_text")
    # time-ordered staging, in parallel: range-partition on the epoch
    # key, sort within each partition. part-file indices follow the
    # range-partition order (part-00000 < part-00001 lexicographically),
    # so FILE order still equals TIME order — the invariant the P4
    # crop's ORDER_COLS bounds rely on — while the sort+write fans out
    # over every core instead of one task (measured: the single-task
    # form was 4.9 s of this row's 6.4 s warm total).
    (
        ev.select(eus.alias("__eus"), line.alias("value"))
        .repartitionByRange(spark.sparkContext.defaultParallelism, "__eus")
        .sortWithinPartitions("__eus")
        .select("value")
        .write.mode("overwrite")
        .text(stage)
    )

    catalog = CanCatalog.from_dict(_E2E_CATALOG)
    # the parse stats job already measured the decoded table's bounds —
    # carry them into the resample spine and the forecast's grid filter
    # (known_bounds) so neither stage re-aggregates the table
    from solarboat_data_pipeline_spark.pipeline import grid_bounds

    stats: dict = {}
    wide = parse_stage(spark, stage, catalog, stats_out=stats)
    kb = (stats["first_ts"], stats["last_ts"]) if "first_ts" in stats else None
    res = resample_stage(wide, 1.0, known_bounds=kb)

    fc = spark.range(0, 70).select(
        F.timestamp_micros(
            F.lit((_E2E_T0 + 15) * 1_000_000) + F.col("id") * 30_000_000
        ).alias("timestamp"),
        ((F.col("id") % 17) * 25 + 100).cast("double").alias("dni"),
        ((F.col("id") % 23) * 10 + 50).cast("double").alias("ghi"),
    ).unionByName(
        spark.range(1).select(
            F.timestamp_micros(
                F.lit(_E2E_T0 * 1_000_000 + 45_500_000)
            ).alias("timestamp"),
            F.lit(9999.0).alias("dni"),
            F.lit(9999.0).alias("ghi"),
        )
    )
    out = unify_forecast_stage(
        res, fc, 1.0,
        known_bounds=grid_bounds(kb, 1.0) if kb is not None else None,
    )

    gps = spark.range(0, 260).select(
        F.timestamp_micros(
            F.lit(_E2E_T0 * 1_000_000 + 500_000) + F.col("id") * 7_000_000
        ).alias("timestamp"),
        (F.lit(-27.0) + F.col("id") * 0.0001).alias("latitude"),
        (F.lit(48.0) + F.col("id") * 0.0002).alias("longitude"),
    )
    out = unify_gps_stage(out, gps, value_cols=["latitude", "longitude"])

    return out.select(
        "timestamp",
        F.round(F.col("MTR__T__V").cast("double"), 6).alias("v"),
        F.round(F.col("MTR__S__S").cast("double"), 6).alias("s"),
        F.round("solcast_dni", 6).alias("dni"),
        F.round("solcast_ghi", 6).alias("ghi"),
        F.round("gps_latitude", 6).alias("lat"),
        F.round("gps_longitude", 6).alias("lon"),
    )
