"""Property-based round-trip: random frames formatted to candump text
(K4, ``convert_json_to_candump.py:96``) then re-extracted and decoded
(P1/P5/P6) must recover every field exactly — the two directions of the
text format are mutual inverses on the valid domain."""

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from solarboat_data_pipeline_spark.functions.formatting import (
    candump_line,
    payload_from_int_array,
)
from solarboat_data_pipeline_spark.sources.candump import extract_frames

FRAME = st.tuples(
    # 10-digit epoch seconds, capped where a double's ulp stays < 1 µs so
    # the %.6f text is injective per distinct microsecond
    st.integers(1_000_000_000, 3_999_999_999),
    st.integers(0, 999_999),  # microseconds
    st.integers(0, 0x7FF),  # 11-bit CAN topic id
    st.integers(0, 255),  # module signature byte
    st.lists(st.integers(0, 255), min_size=1, max_size=7),  # payload bytes
)


@settings(max_examples=10, deadline=None)
@given(st.lists(FRAME, min_size=1, max_size=8, unique_by=lambda f: (f[0], f[1])))
def test_format_then_parse_roundtrip(spark, frames):
    rows = [
        (i, sec + us / 1e6, topic, mod, body)
        for i, (sec, us, topic, mod, body) in enumerate(frames)
    ]
    df = spark.createDataFrame(
        rows, "i long, epoch double, topic long, mod long, body array<int>"
    )
    lines = df.select(
        "i",
        "epoch",
        "topic",
        "mod",
        "body",
        candump_line(
            F.col("epoch"),
            F.col("topic"),
            payload_from_int_array(F.col("body"), F.col("mod")),
        ).alias("value"),
    )
    parsed = extract_frames(lines.select("value"))
    got = {r["ts_raw"]: r for r in parsed.collect()}
    assert len(got) == len(frames)
    for sec, us, topic, mod, body in frames:
        key = f"{sec + us / 1e6:.6f}"
        r = got[key]
        assert r["interface"] == "can0"
        assert int(r["topic_hex"], 16) == topic
        want_payload = f"{mod:02x}" + "".join(f"{b:02x}" for b in body)
        assert r["payload_hex"] == want_payload


# randomized decode equivalence: for an arbitrary mini catalog topic mix
# (u8 / u16 pairs / bitfields) and arbitrary frames — including same-µs
# duplicates, unknown signatures, and wrong payload lengths — decode_wide
# must produce the same cells as the pivoted long decode
DECODE_FRAME = st.tuples(
    st.integers(0, 49),  # same-second base keeps duplicate ts likely
    st.sampled_from([0, 100, 100, 200]),  # µs with planted collisions
    st.sampled_from([33, 8, 64, 999]),  # known topics + one unknown
    st.sampled_from([250, 230, 17]),  # known signatures + one unknown
    st.integers(0, 8),  # payload body length (may violate the guard)
    st.integers(0, 2**32 - 1),  # body entropy
)


@settings(max_examples=8, deadline=None)
@given(st.lists(DECODE_FRAME, min_size=1, max_size=30))
def test_decode_strategies_agree_on_random_frames(spark, frames):
    import math
    import os

    from solarboat_data_pipeline_spark.catalog import CanCatalog
    from solarboat_data_pipeline_spark.operators.parse import (
        decode_long,
        decode_wide,
        pivot_wide,
        with_frame_meta,
        with_timestamp,
    )

    cat = CanCatalog.load(
        os.path.join(os.path.dirname(__file__), "data", "mini_can_ids.json")
    )
    rows = []
    for i, (sec, us, topic, mod, blen, ent) in enumerate(frames):
        body = "".join(
            f"{(ent >> (8 * (k % 4))) & 0xFF:02x}" for k in range(blen)
        )
        payload = f"{mod:02x}" + body
        rows.append(
            (i, f"{1_700_000_000 + sec}.{us:06d}", f"{topic:03x}", payload)
        )
    lines = spark.createDataFrame(
        rows, "i long, ts_raw string, topic_hex string, payload_hex string"
    )
    fr = with_frame_meta(with_timestamp(lines))
    outs = [
        decode_wide(fr, cat, downcast=False),
        pivot_wide(decode_long(fr, cat), cat, strategy="agg"),
        pivot_wide(decode_long(fr, cat), cat, strategy="map"),
    ]
    collected = [
        {r["timestamp"]: r for r in o.collect()} for o in outs
    ]
    base = collected[0]
    for alt in collected[1:]:
        assert base.keys() == alt.keys()
        for ts, row in base.items():
            for c in outs[0].columns:
                if c == "timestamp":
                    continue
                va, vb = row[c], alt[ts][c]
                assert (va is None) == (vb is None), (ts, c)
                if va is not None:
                    assert math.isclose(va, vb, rel_tol=1e-12), (ts, c)
