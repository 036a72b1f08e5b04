"""Parse-stage conformance on a fresh adversarial candump corpus.

The corpus (tests/data/sample.candump) covers the same failure modes as the
reference's test corpus: concatenated frames on one line, bad interfaces,
odd-length / oversize / non-hex payloads, truncated timestamps, unknown
modules/topics, wrong payload lengths, and an out-of-range timestamp that
the P4 crop must remove.
"""

import math
import os

import pytest
from pyspark.sql import functions as F

from solarboat_data_pipeline_spark.catalog import CanCatalog
from solarboat_data_pipeline_spark.operators.parse import (
    crop_to_bounds,
    decode_long,
    decode_wide,
    pivot_wide,
    with_frame_meta,
    with_timestamp,
)
from solarboat_data_pipeline_spark.sources.candump import extract_frames, scan_candump

from tests.conftest import DATA_DIR

CORPUS = os.path.join(DATA_DIR, "sample.candump")
MINI = os.path.join(DATA_DIR, "mini_can_ids.json")


@pytest.fixture(scope="module")
def catalog():
    return CanCatalog.load(MINI)


@pytest.fixture(scope="module")
def frames(spark):
    lines = scan_candump(spark, CORPUS)
    return with_frame_meta(
        crop_to_bounds(with_timestamp(extract_frames(lines)))
    ).cache()


def test_frame_extraction_counts(spark):
    lines = scan_candump(spark, CORPUS)
    raw = extract_frames(lines)
    # 13 well-formed frames in the corpus (2 on the first line)
    assert raw.count() == 13
    first_line = raw.where(F.col("_line_id") == raw.agg(F.min("_line_id")).first()[0])
    assert first_line.count() == 2


def test_crop_removes_wrapped_timestamp(spark):
    lines = scan_candump(spark, CORPUS)
    with_ts = with_timestamp(extract_frames(lines))
    cropped = crop_to_bounds(with_ts)
    assert with_ts.count() == 13
    assert cropped.count() == 12  # the 1600000000.0 row is outside [first, last]


def test_decode_long(frames, catalog):
    long_df = decode_long(frames, catalog)
    rows = long_df.collect()
    # 5 ADC frames x 5 signals + 2 STATE x 2 + 1 PUMPS x 3
    assert len(rows) == 32

    adc = {
        (r["byte_name"]): r
        for r in rows
        if r["topic_name"] == "ADC" and abs(r["value"]) >= 0  # keep all
        and r["timestamp"].microsecond == 100
    }
    assert math.isclose(adc["SIGNATURE"]["value"], 250.0)
    assert math.isclose(adc["AVG"]["value"], 11.83)  # 0x049f / 100
    assert adc["AVG"]["unit"] == "V"
    assert math.isclose(adc["CUR"]["value"], 2.46)  # 0x00f6 / 100
    # strict-units quirk: D scaled by A/100, not %/255
    assert math.isclose(adc["D"]["value"], 2.46)
    assert adc["D"]["unit"] == "A"
    # FLAGS bit0 of byte 6 (0x01) scaled by the quirk A/100 unit
    assert math.isclose(adc["FLAGS"]["value"], 0.01)

    pumps = {r["byte_name"]: r for r in rows if r["topic_name"] == "PUMPS"}
    assert math.isclose(pumps["PUMP_A"]["value"], 1.0)  # 0x03 bit 0
    assert math.isclose(pumps["PUMP_B"]["value"], 1.0)  # 0x03 bit 1


def _assert_cells_equal(a_df, b_df, rel_tol=1e-12):
    a = {r["timestamp"]: r for r in a_df.collect()}
    b = {r["timestamp"]: r for r in b_df.collect()}
    assert set(a_df.columns) == set(b_df.columns)
    assert a.keys() == b.keys()
    for ts in a:
        for c in a_df.columns:
            if c == "timestamp":
                continue
            va, vb = a[ts][c], b[ts][c]
            assert (va is None) == (vb is None), (ts, c)
            if va is not None:
                assert math.isclose(va, vb, rel_tol=rel_tol), (ts, c)


def test_decode_wide_matches_pivot(frames, catalog):
    # the widened catalog crosses WIDE_PIVOT_MAX_AGG_COLS, so both
    # pivot_wide forms run; the fixture's same-µs duplicate pair takes
    # decode_wide's merge
    for cat in (catalog, _widened(MINI)):
        wide = decode_wide(frames, cat, downcast=False)
        assert wide.count() == 7  # distinct matched timestamps
        for strategy in ("agg", "map"):
            _assert_cells_equal(
                wide, pivot_wide(decode_long(frames, cat), cat, strategy=strategy)
            )
    # PAD columns exist and are all-null (never match)
    pads = [c for c in wide.columns if c.startswith("PAD__")]
    assert len(pads) == 20 * 2  # sig byte + v{k} per topic
    assert wide.where(F.coalesce(*pads).isNotNull()).count() == 0


def test_same_microsecond_frames_average(frames, catalog):
    wide = decode_wide(frames, catalog, downcast=False)
    row = [r for r in wide.collect() if r["timestamp"].microsecond == 300000][0]
    # two ADC frames at the same µs: AVG values 11.83 and 11.85 → 11.84
    assert math.isclose(row["BAT21__ADC__AVG"], 11.84)


def test_downcast_to_float(frames, catalog):
    wide = decode_wide(frames, catalog, downcast=True)
    assert all(
        f.dataType.typeName() == "float"
        for f in wide.schema.fields
        if f.name != "timestamp"
    )


def test_extract_frames_group_values_exact(spark):
    # regression: positional group splitting must yield the exact regex
    # groups — no separator chars leaking into interface/topic/payload
    lines = spark.createDataFrame(
        [("(1581695094.944000) can0 021#fa9f04f600f600",),
         ("(1600000000.000001) vcan12 7ff#AB12",)],
        ["value"],
    )
    rows = {r["ts_raw"]: r for r in extract_frames(lines).collect()}
    r1 = rows["1581695094.944000"]
    assert r1["interface"] == "can0"
    assert r1["topic_hex"] == "021"
    assert r1["payload_hex"] == "fa9f04f600f600"
    r2 = rows["1600000000.000001"]
    assert r2["interface"] == "vcan12"
    assert r2["topic_hex"] == "7ff"
    assert r2["payload_hex"] == "ab12"


def test_crop_bounds_multi_file_order(spark, tmp_path):
    # regression: Spark packs file splits into partitions LARGEST-FIRST,
    # so monotonically_increasing_id alone is not file-ordered once the
    # corpus spans multiple files/splits — the crop must take its first/
    # last frames from the (file, block) metadata order, not task order.
    # a.log is tiny and lexicographically first; b.log is much larger, so
    # size-ordered packing reads it first and (pre-fix) its first line
    # would masquerade as the corpus "first".
    a = tmp_path / "a.log"
    a.write_text(
        "(1700000100.000000) can0 021#fa9f04f600f600\n"  # trusted first
        "(1700000050.000000) can0 021#fa9f04f600f600\n"  # corrupt: early
        "(1700000110.000000) can0 021#fa9f04f600f600\n"
    )
    b = tmp_path / "b.log"
    mid = "".join(
        f"(17000001{5 + i % 30:02d}.000000) can0 021#fa9f04f600f600\n"
        for i in range(3000)
    )
    b.write_text(mid + "(1700000150.000000) can0 021#fa9f04f600f600\n")

    frames = with_timestamp(extract_frames(scan_candump(spark, str(tmp_path))))
    cropped = crop_to_bounds(frames)
    ts = [r["timestamp"].timestamp() for r in cropped.collect()]
    # bounds = [first line of a.log, last line of b.log] = [100, 150]
    assert min(ts) == 1700000100.0
    assert max(ts) == 1700000150.0
    # the corrupt early row (50) is cropped; everything in-range survives
    assert 1700000050.0 not in ts
    assert len(ts) == 2 + 3000 + 1  # a.log keeps 2 of 3; all of b.log


def test_randomized_decode_parity_vs_python_reference(spark, tmp_path):
    """Seeded-random catalogs + payloads, decoded cell-for-cell three
    ways: the per-frame projection (`decode_wide`, literal field
    geometry), the index-keyed long path pivoted (word-arithmetic
    `_decode_field`), and a pure-Python byte decoder implementing the
    ctypes LittleEndianStructure semantics directly. Duplicate-timestamp
    frames exercise the A1 mean; wrong-length payloads and unknown
    signatures must drop."""
    import random

    rng = random.Random(0xC0FFEE)
    type_pool = ["u8", "u16", "bitfield"]
    modules = []
    for m in range(2):
        topics = []
        for t in range(3):
            n_fields = rng.randint(1, 6)
            fields = [{"name": "sig", "type": "u8", "units": ""}] + [
                {"name": f"f{k}", "type": rng.choice(type_pool), "units": ""}
                for k in range(n_fields)
            ]
            topics.append({"name": f"T{t}", "id": 0x20 + 16 * m + t, "bytes": fields})
        modules.append({"name": f"MOD{m}", "signature": 0xA0 + m, "topics": topics})
    catalog = CanCatalog.from_dict({"modules": modules})

    def py_decode(payload: bytes, s) -> float:
        if s.bit_width == 16:
            raw = payload[s.byte_offset] + payload[s.byte_offset + 1] * 256
        elif s.bit_width == 8:
            raw = payload[s.byte_offset]
        else:
            raw = (payload[s.byte_offset] >> s.bit_offset) & 1
        return raw * s.scale

    lines, expected = [], {}  # expected[(ts_us, col)] = [values to mean]
    cols = catalog.wide_columns()
    ts_base = 1_700_000_000_000_000
    for i in range(300):
        mod, top = rng.choice(list(catalog.iter_topics()))
        # ~1 in 6 lines reuses the previous timestamp (A1 mean case)
        ts_us = ts_base + (i - (1 if i and rng.random() < 0.18 else 0)) * 1000
        kind = rng.random()
        if kind < 0.08:  # wrong-length payload: size guard must drop it
            payload = bytes([mod.signature]) + bytes(
                rng.randrange(256) for _ in range(top.size + rng.choice([-1, 1]) - 1)
            )
        elif kind < 0.14:  # unknown signature: spec probe must drop it
            payload = bytes([0x55]) + bytes(
                rng.randrange(256) for _ in range(top.size - 1)
            )
        else:
            payload = bytes([mod.signature]) + bytes(
                rng.randrange(256) for _ in range(top.size - 1)
            )
            from solarboat_data_pipeline_spark.catalog import SEPARATOR

            for s in top.signals:
                col = SEPARATOR.join([mod.name, top.name, s.name])
                expected.setdefault((ts_us, col), []).append(
                    py_decode(payload, s)
                )
        lines.append(
            f"({ts_us // 1_000_000}.{ts_us % 1_000_000:06d}) can0 "
            f"{top.topic_id:03x}#{payload.hex()}"
        )
    f = tmp_path / "rand.candump"
    f.write_text("\n".join(lines) + "\n")

    frames = with_frame_meta(
        with_timestamp(extract_frames(scan_candump(spark, str(f))))
    )
    want = {}  # (ts_us, col) -> mean
    for (ts_us, col), vals in expected.items():
        want[(ts_us, col)] = sum(vals) / len(vals)
    want_ts = {ts for ts, _ in want}

    for name, wide in (
        ("decode_wide", decode_wide(frames, catalog, downcast=False)),
        ("pivot_wide", pivot_wide(decode_long(frames, catalog), catalog)),
    ):
        got = {}
        for r in wide.collect():
            ts_us = int(r["timestamp"].timestamp() * 1_000_000)
            for c in cols:
                if r[c] is not None:
                    got[(ts_us, c)] = r[c]
        assert set(got) == set(want), name
        for k, v in want.items():
            assert got[k] == pytest.approx(v, abs=1e-9), (name, k)
        # every rejected line produced no row at all
        got_ts = {int(r["timestamp"].timestamp() * 1_000_000)
                  for r in wide.collect()}
        assert got_ts == want_ts, name


def test_decode_handles_payloads_beyond_8_bytes(spark):
    """The word-array decode must cover any offset the catalog can
    declare (CAN FD / synthetic frames exceed classic CAN's 8 bytes) —
    a 13-byte topic reads bytes 8..12 correctly. Frames are built
    directly since the candump source itself caps at 8 bytes."""
    cat = CanCatalog.from_dict({
        "modules": [{"name": "FD", "signature": 0xAB, "topics": [
            {"name": "W", "id": 0x30, "bytes": (
                [{"name": "sig", "type": "u8", "units": ""}]
                + [{"name": f"p{k}", "type": "u8", "units": ""} for k in range(7)]
                + [{"name": "tail16", "type": "u16", "units": ""},
                   {"name": "b8", "type": "bitfield", "units": ""},
                   {"name": "last", "type": "u8", "units": ""},
                   {"name": "pad", "type": "u8", "units": ""}]
            )}]}]})
    payload = bytes([0xAB, 1, 2, 3, 4, 5, 6, 7, 0x34, 0x12, 0x05, 0xFE, 0x00])
    import datetime

    frames = spark.createDataFrame(
        [(datetime.datetime(2023, 1, 1), payload.hex(), 0xAB, 0x30, len(payload))],
        "timestamp timestamp, payload_hex string, signature int, "
        "topic_id int, payload_len int",
    )
    # every wide form must decode the >8-byte tail identically (the
    # streaming slot decode once capped at 8 slots and silently nulled
    # tail fields; on a batch frame it runs as a plain aggregate)
    from solarboat_data_pipeline_spark.streaming import stream_decode_wide

    for name, wide in (
        ("decode_wide", decode_wide(frames, cat, downcast=False)),
        ("pivot_wide", pivot_wide(decode_long(frames, cat), cat)),
        ("stream_decode_wide", stream_decode_wide(frames, cat, downcast=False)),
    ):
        r = wide.first()
        # tail16 at bytes 8-9 little-endian = 0x34 + 0x12*256
        assert r["FD__W__tail16"] == float(0x34 + 0x12 * 256), name
        # b8: bit 0 of byte 10 (0x05) = 1 ; last: byte 11 = 0xFE
        assert r["FD__W__b8"] == 1.0, name
        assert r["FD__W__last"] == 254.0, name
        assert r["FD__W__p6"] == 7.0, name  # below the old boundary too
    # a duplicate-free input decodes as a pure projection: no aggregate
    plan = decode_wide(frames, cat)._jdf.queryExecution().optimizedPlan()
    assert "Aggregate" not in plan.toString(), plan.toString()


def _widened(catalog_path):
    """The mini catalog widened past WIDE_PIVOT_MAX_AGG_COLS with
    never-matching topics, so the wide side of pivot_wide's width switch
    runs on the small fixture."""
    import json

    with open(catalog_path) as f:
        d = json.load(f)
    d["modules"].append({
        "name": "PAD", "signature": 0x77, "topics": [
            {"name": f"T{k}", "id": 0x60 + k, "bytes": [
                {"name": "sig", "type": "u8", "units": ""},
                {"name": f"v{k}", "type": "u8", "units": ""},
            ]} for k in range(20)
        ],
    })
    return CanCatalog.from_dict(d)


def _colliding_frames(spark, tmp_path):
    """A corpus where every timestamp holds two matched frames, its
    path, and the long pivot of its decode."""
    f = tmp_path / "collide.candump"
    f.write_text("".join(
        f"(17000000{i:02d}.500000) can0 021#fa{i:02x}04f600f600\n"
        f"(17000000{i:02d}.500000) can0 021#fa{i + 1:02x}05f600f600\n"
        for i in range(40)
    ))
    cat = _widened(MINI)
    fr = with_frame_meta(
        crop_to_bounds(with_timestamp(extract_frames(scan_candump(spark, str(f)))))
    )
    want = pivot_wide(decode_long(fr, cat), cat)
    assert want.count() == 40
    return str(f), cat, fr, want


def test_auto_degrades_to_long_past_dup_cap(spark, tmp_path):
    """Every timestamp collides, far more duplicates than the former
    projection cap allowed: the same-µs merge has no size cap, so
    decode_wide equals the long pivot with no fallback."""
    _, cat, fr, want = _colliding_frames(spark, tmp_path)
    _assert_cells_equal(decode_wide(fr, cat, downcast=False), want)


def test_parse_stage_degrades_to_long_past_dup_cap(spark, tmp_path):
    """parse_stage on the every-timestamp-collides corpus equals the
    long pivot, and its measured stats count every timestamp as a
    duplicate."""
    from solarboat_data_pipeline_spark.pipeline import parse_stage

    path, cat, _, want = _colliding_frames(spark, tmp_path)
    stats: dict = {}
    _assert_cells_equal(
        parse_stage(spark, path, cat, stats_out=stats), want, rel_tol=1e-6
    )
    assert stats["dup_n"] == 40


def test_parse_stage_wide_fast_path_matches_long(spark):
    """pipeline.parse_stage (eager crop bounds + projection decode, wide
    catalog): same rows, same cells, same crop semantics as cropping
    lazily and pivoting the long decode — on the adversarial fixture
    with its out-of-range timestamp and same-µs duplicate frames."""
    from solarboat_data_pipeline_spark.pipeline import parse_stage

    cat = _widened(MINI)
    fast = parse_stage(spark, CORPUS, cat)
    lines = scan_candump(spark, CORPUS)
    fr = with_frame_meta(crop_to_bounds(with_timestamp(extract_frames(lines))))
    classic = pivot_wide(decode_long(fr, cat), cat)
    assert fast.count() == 7
    _assert_cells_equal(fast, classic, rel_tol=1e-6)
