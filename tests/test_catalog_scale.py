"""Catalog-codegen scaling: a full-size catalog (56 topics, ~290 signals —
the 2022 schema's shape) must compile to a plannable decode and a static
wide schema without pivot-column explosion (SURVEY §7 hard-item 4)."""

import time

from pyspark.sql import functions as F

from solarboat_data_pipeline_spark.catalog import CanCatalog
from solarboat_data_pipeline_spark.operators.parse import decode_wide


def _steal_ticks() -> int | None:
    """Cumulative hypervisor-steal ticks from /proc/stat (all CPUs)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def _wall_bound_trustworthy(s0: int | None, s1: int | None) -> bool:
    """A wall-clock bound is only meaningful when the hypervisor did not
    steal whole CPU-seconds during the measured window (VERDICT r13 item
    3: this box shows measured 160-CPU-second steal bursts, under which
    ANY wall assertion flakes). >2 stolen CPU-seconds during the window
    → skip the assertion rather than fail on the hypervisor's mood."""
    if s0 is None or s1 is None:
        return True  # no steal counter (non-Linux): keep the plain bound
    return (s1 - s0) / 100.0 <= 2.0


def synth_catalog(n_modules: int = 8, topics_per_module: int = 7) -> dict:
    mods = []
    for m in range(n_modules):
        topics = []
        for t in range(topics_per_module):
            topics.append(
                {
                    "name": f"T{t}",
                    "id": m * topics_per_module + t + 1,
                    "bytes": [
                        {"name": "SIGNATURE", "type": "uint8_t", "units": ""},
                        {"name": "V_L", "type": "uint16_t", "units": "V/100"},
                        {"name": "V_H", "type": "uint16_t", "units": "V/100"},
                        {"name": "I_L", "type": "uint16_t", "units": "A/100"},
                        {"name": "I_H", "type": "uint16_t", "units": "A/100"},
                        {"name": "DUTY", "type": "uint8_t", "units": "%"},
                        {"name": "FLAG", "type": "bitfield", "units": ""},
                        None,
                    ],
                }
            )
        mods.append({"name": f"M{m}", "signature": 200 + m, "topics": topics})
    return {"version": "scale-test", "modules": mods}


def test_full_size_catalog_codegen(spark):
    cat = CanCatalog.from_dict(synth_catalog())
    cols = cat.wide_columns()
    # 56 topics × 5 decoded signals (u16 pairs fuse, trailing null pads drop)
    assert len(cols) == 56 * 5
    assert len(set(cols)) == len(cols)

    frames = spark.createDataFrame(
        [(201, 8, 7, "c99f04f600f601")],
        "signature int, topic_id int, payload_len int, payload_hex string",
    ).withColumn("timestamp", F.timestamp_seconds(F.lit(1700000000)))

    s0 = _steal_ticks()
    t0 = time.time()
    wide = decode_wide(frames, cat, downcast=False)
    plan_s = time.time() - t0
    if _wall_bound_trustworthy(s0, _steal_ticks()):
        assert plan_s < 30, f"decode_wide plan build took {plan_s:.1f}s"

    s0 = _steal_ticks()
    t0 = time.time()
    rows = wide.collect()
    exec_s = time.time() - t0
    if _wall_bound_trustworthy(s0, _steal_ticks()):
        assert exec_s < 120, f"decode_wide execution took {exec_s:.1f}s"

    assert len(rows) == 1
    r = rows[0]
    # topic (sig=201, id=8) is M1.T0; u16 V = 0x049f/100; FLAG is the
    # bitfield LSB of 0x01 scaled by the strict-units quirk (unit looked up
    # by FUSED field index → A/100, see catalog.py) = 0.01
    assert abs(r["M1__T0__V"] - 11.83) < 1e-9
    assert r["M1__T0__FLAG"] == 0.01
    # all other modules' columns are null for this frame
    assert r["M0__T0__V"] is None


def test_plan_build_py4j_calls_do_not_grow_with_catalog_width(spark, monkeypatch):
    """The catalog enters a decode plan as SQL text, so building the plan
    costs the same few py4j round trips at any catalog width. Built from
    per-signal Column calls, this 280-column catalog cost about 56,000
    (decode_long) and 57,000 (stream_decode_wide) round trips."""
    from py4j.java_gateway import GatewayClient

    from solarboat_data_pipeline_spark.operators.parse import decode_long
    from solarboat_data_pipeline_spark.streaming import stream_decode_wide

    cat = CanCatalog.from_dict(synth_catalog())
    frames = spark.createDataFrame(
        [],
        "timestamp timestamp, signature int, topic_id int, payload_len int,"
        " payload_hex string",
    )
    calls = 0
    send = GatewayClient.send_command

    def counted(self, *args, **kwargs):
        nonlocal calls
        calls += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    for name, build in (
        ("decode_long", decode_long),
        ("stream_decode_wide", stream_decode_wide),
    ):
        calls = 0
        build(frames, cat)
        assert calls <= 1500, (name, calls)
