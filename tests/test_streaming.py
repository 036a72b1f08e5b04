"""Streaming pipeline parity: the readStream parse variant must produce the
same decoded rows as the batch path, and the watermarked windowed resample
must match the batch windowed mean."""

import math
import os

import pytest
from pyspark.sql import functions as F

from solarboat_data_pipeline_spark.catalog import CanCatalog
from solarboat_data_pipeline_spark.operators.parse import (
    decode_long,
    with_frame_meta,
    with_timestamp,
)
from solarboat_data_pipeline_spark.sources.candump import extract_frames, scan_candump
from solarboat_data_pipeline_spark.streaming import (
    stream_candump,
    stream_decode_long,
    stream_resample_mean,
    write_parquet_stream,
)

from tests.conftest import DATA_DIR

CORPUS = os.path.join(DATA_DIR, "sample.candump")
# file streams require a directory/glob, not a single file
CORPUS_GLOB = os.path.join(DATA_DIR, "*.candump")
MINI = os.path.join(DATA_DIR, "mini_can_ids.json")


@pytest.fixture(scope="module")
def catalog():
    return CanCatalog.load(MINI)


def _key(r):
    return (r["timestamp"], r["module_name"], r["topic_name"], r["byte_name"])


def test_stream_decode_matches_batch(spark, catalog, tmp_path):
    lines = stream_candump(spark, CORPUS_GLOB)
    decoded = stream_decode_long(lines, catalog)
    assert decoded.isStreaming

    out = str(tmp_path / "out.parquet")
    ckpt = str(tmp_path / "ckpt")
    q = write_parquet_stream(decoded, out, ckpt)
    q.awaitTermination(120)

    got = {_key(r): r["value"] for r in spark.read.parquet(out).collect()}

    batch = decode_long(
        with_frame_meta(with_timestamp(extract_frames(scan_candump(spark, CORPUS)))),
        catalog,
    )
    want = {_key(r): r["value"] for r in batch.collect()}

    assert got.keys() == want.keys()
    for k, v in want.items():
        assert math.isclose(got[k], v, rel_tol=1e-12), k


def test_stream_restart_is_idempotent(spark, catalog, tmp_path):
    # K5: re-running against the same checkpoint must not duplicate rows
    lines = stream_candump(spark, CORPUS_GLOB)
    decoded = stream_decode_long(lines, catalog)
    out = str(tmp_path / "out.parquet")
    ckpt = str(tmp_path / "ckpt")
    write_parquet_stream(decoded, out, ckpt).awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    write_parquet_stream(
        stream_decode_long(stream_candump(spark, CORPUS_GLOB), catalog), out, ckpt
    ).awaitTermination(120)
    assert spark.read.parquet(out).count() == n1


def test_stream_resample_matches_batch_windows(spark, catalog, tmp_path):
    decoded = stream_decode_long(stream_candump(spark, CORPUS_GLOB), catalog)
    res = stream_resample_mean(decoded, 1.0, watermark="0 seconds")
    q = (
        res.writeStream.format("memory")
        .queryName("res_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["timestamp"], r["module_name"], r["topic_name"], r["byte_name"]): r["value"]
        for r in spark.sql("select * from res_stream").collect()
    }

    batch = decode_long(
        with_frame_meta(with_timestamp(extract_frames(scan_candump(spark, CORPUS)))),
        catalog,
    )
    want = {
        (r["w"]["start"], r["module_name"], r["topic_name"], r["byte_name"]): r["value"]
        for r in batch.groupBy(
            F.window("timestamp", "1 seconds").alias("w"),
            "module_name",
            "topic_name",
            "byte_name",
        )
        .agg(F.avg("value").alias("value"))
        .collect()
    }
    assert got.keys() == want.keys()
    for k, v in want.items():
        assert math.isclose(got[k], v, rel_tol=1e-12), k


def test_stream_decode_wide_matches_batch(spark, catalog, tmp_path):
    """VERDICT r9 #5: the streaming WIDE decode runs the projection-shaped
    plan (no explode, no spec-map, no wide shuffle before the merge) and
    is cell-identical to the batch strategies — including the fixture's
    same-µs duplicate pair — with state bounded by UNIQUE timestamps,
    not input frames."""
    from solarboat_data_pipeline_spark.operators.parse import decode_wide
    from solarboat_data_pipeline_spark.streaming import stream_decode_wide

    lines = stream_candump(spark, CORPUS_GLOB)
    frames = with_frame_meta(with_timestamp(extract_frames(lines, with_order=False)))
    wide = stream_decode_wide(frames, catalog, watermark="0 seconds",
                              downcast=False)
    assert wide.isStreaming
    # the batch decode counts duplicates eagerly, which a stream cannot
    with pytest.raises(ValueError, match="stream_decode_wide"):
        decode_wide(frames, catalog)
    q = (
        wide.writeStream.format("memory")
        .queryName("wide_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    progress = q.lastProgress
    got = {r["timestamp"]: r for r in
           spark.sql("select * from wide_stream").collect()}

    batch_frames = with_frame_meta(
        with_timestamp(extract_frames(scan_candump(spark, CORPUS)))
    )
    want = {r["timestamp"]: r for r in
            decode_wide(batch_frames, catalog, downcast=False).collect()}
    # NO crop on the stream (the watermark replaces P4), so the batch
    # side here decodes uncropped frames too
    assert got.keys() == want.keys() and len(got) == 8
    for ts in want:
        for c in want[ts].asDict():
            if c == "timestamp":
                continue
            va, vb = got[ts][c], want[ts][c]
            assert (va is None) == (vb is None), (ts, c)
            if va is not None:
                assert math.isclose(va, vb, rel_tol=1e-12), (ts, c)
    # state = one row per unique timestamp (the merge keys), NOT per frame
    state = progress["stateOperators"][0]
    assert state["numRowsTotal"] == len(want), state


def test_stream_decode_wide_merges_cross_batch_duplicates(spark, catalog,
                                                          tmp_path):
    """Same-µs duplicate frames arriving in DIFFERENT micro-batches must
    still A1-average (the batch project path folds them via its eager dup
    pass; the stream merges them in watermark-bounded state)."""
    from solarboat_data_pipeline_spark.streaming import stream_decode_wide

    d = tmp_path / "dup_stream"
    d.mkdir()
    # BAT21.STATE (topic 0x008, u8 payload): values 10 and 30 at the SAME
    # microsecond, one per file -> one per micro-batch
    (d / "a.candump").write_text("(1700000000.500000) can0 008#fa0a\n")
    (d / "b.candump").write_text(
        "(1700000000.500000) can0 008#fa1e\n"
        "(1700000001.000000) can0 008#fa02\n"
    )
    lines = spark.readStream.option("maxFilesPerTrigger", 1).text(
        str(d / "*.candump")
    )
    frames = with_frame_meta(with_timestamp(extract_frames(lines, with_order=False)))
    wide = stream_decode_wide(frames, catalog, watermark="0 seconds",
                              downcast=False)
    q = (
        wide.writeStream.format("memory")
        .queryName("wide_dup_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["timestamp"].microsecond: r["BAT21__STATE__STATE"]
            for r in spark.sql("select * from wide_dup_stream").collect()}
    assert rows[500000] == pytest.approx(20.0)  # mean(10, 30)
    assert rows[0] == pytest.approx(2.0)


def test_stream_sessionize_matches_batch_gaps(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from solarboat_data_pipeline_spark.operators.timeseries import sessionize
    from solarboat_data_pipeline_spark.streaming.pipeline import stream_sessionize

    src = str(tmp_path / "sess_src")
    os.makedirs(src)
    rows = [("a", e) for e in (0, 5, 8, 100, 103, 300)] + [("b", e) for e in (0, 200)]
    spark.createDataFrame(rows, "series string, epoch long").select(
        "series", F.timestamp_seconds("epoch").alias("timestamp")
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/all.parquet")

    stream = spark.readStream.schema("series string, timestamp timestamp").parquet(
        f"{src}/*.parquet"
    )
    out = stream_sessionize(stream, gap_seconds=30.0, watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["series"], int(r["session_start"].timestamp())): r["n_events"]
        for r in spark.sql("select * from sess_stream").collect()
    }
    # sessions: a:[0,5,8], a:[100,103], a:[300], b:[0], b:[200]
    assert got == {
        ("a", 0): 3,
        ("a", 100): 2,
        ("a", 300): 1,
        ("b", 0): 1,
        ("b", 200): 1,
    }

    # batch sessionize must find the same groups
    batch = spark.read.parquet(f"{src}/all.parquet")
    sess = sessionize(batch, gap_seconds=30.0, partition_cols=["series"])
    counts = {
        (r["series"], r["session_id"]): r["n"]
        for r in sess.groupBy("series", "session_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts == {
        ("a", 1): 3,
        ("a", 2): 2,
        ("a", 3): 1,
        ("b", 1): 1,
        ("b", 2): 1,
    }


def test_stream_dedup_exact_matches_batch(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from solarboat_data_pipeline_spark.streaming.pipeline import stream_dedup_exact

    src = str(tmp_path / "dedup_src")
    os.makedirs(src)
    # duplicates within the watermark span, one exact pair, one triple
    rows = [
        (0, "alpha"), (1, "beta"), (2, "alpha"), (3, "gamma"),
        (4, "alpha"), (5, "beta"), (6, "delta"),
    ]
    spark.createDataFrame(rows, "epoch long, text string").select(
        F.timestamp_seconds("epoch").alias("timestamp"), "text"
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/all.parquet")

    stream = spark.readStream.schema("timestamp timestamp, text string").parquet(
        f"{src}/*.parquet"
    )
    out = stream_dedup_exact(stream, ("text",), watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r["text"] for r in spark.sql("select * from dedup_stream").collect()
    )
    assert got == ["alpha", "beta", "delta", "gamma"]

    # batch equivalent: dropDuplicates over the whole corpus
    batch = spark.read.parquet(f"{src}/all.parquet")
    assert sorted(
        r["text"] for r in batch.dropDuplicates(["text"]).collect()
    ) == got


def test_stream_enrich_grid_matches_batch_asof(spark, tmp_path):
    """Stream-static snap-to-grid enrichment must equal the batch backward
    as-of join when the static side sits on a fixed grid."""
    import os

    from solarboat_data_pipeline_spark.operators.timeseries import (
        asof_join_backward,
    )
    from solarboat_data_pipeline_spark.streaming.pipeline import stream_enrich_grid

    src = str(tmp_path / "enrich_src")
    os.makedirs(src)
    # telemetry at irregular sub-second times; forecast on a 10 s grid
    tel_epochs = [0.5, 3.2, 9.99, 10.0, 17.7, 29.3, 31.0, 45.05]
    spark.createDataFrame(
        [(e,) for e in tel_epochs], "epoch double"
    ).select(
        F.timestamp_seconds(F.col("epoch")).alias("timestamp"),
        (F.col("epoch") * 2).alias("reading"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/all.parquet")

    forecast = spark.createDataFrame(
        [(g, float(g) * 10) for g in (0, 10, 20, 30, 40)], "g long, ghi double"
    ).select(F.timestamp_seconds("g").alias("timestamp"), "ghi")

    stream = spark.readStream.schema("timestamp timestamp, reading double").parquet(
        f"{src}/*.parquet"
    )
    out = stream_enrich_grid(stream, forecast, 10.0, prefix="solcast_")
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("enrich_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["timestamp"]: r["solcast_ghi"]
        for r in spark.sql("select * from enrich_stream").collect()
    }

    batch = spark.read.parquet(f"{src}/all.parquet")
    asof = asof_join_backward(
        batch.select("timestamp"), forecast, on="timestamp", value_cols=["ghi"]
    )
    want = {r["timestamp"]: r["ghi"] for r in asof.collect()}
    assert got == want
    assert len(got) == len(tel_epochs)
