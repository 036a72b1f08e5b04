"""Streaming chaos: kill a query MID-STREAM (committed batches behind it,
pending input files ahead of it), restart from the checkpoint, and prove
exactly-once output — no dropped batches, no duplicates — for both the
transactional parquet file sink and the ``applyInPandasWithState``
forward-fill (whose per-key state must also survive the kill).

The round-4 restart test only re-ran an already-complete query; these
tests stop the query between micro-batches (``maxFilesPerTrigger=1`` +
a slow processing-time trigger, stopped right after the first commit),
so the restart genuinely resumes half-done work.
"""

import os
import time

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
    write_parquet_stream,
)
from solarboat_data_pipeline_spark.streaming.stateful import stream_ffill

from tests.conftest import DATA_DIR

CORPUS = os.path.join(DATA_DIR, "sample.candump")
MINI = os.path.join(DATA_DIR, "mini_can_ids.json")


@pytest.fixture(scope="module")
def catalog():
    return CanCatalog.load(MINI)


def _stop_after_first_commit(q, timeout=90):
    """Block until the query commits its first non-empty micro-batch,
    then stop it — deterministically mid-stream when more input files
    than one batch's worth are pending."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        # recentProgress, not lastProgress: a no-data batch (watermark
        # advance) may report right after the first data batch
        if any(p.get("numInputRows", 0) > 0 for p in q.recentProgress):
            q.stop()
            q.awaitTermination(60)
            return
        time.sleep(0.05)
    q.stop()
    raise AssertionError("no micro-batch committed within the timeout")


def test_file_sink_exactly_once_across_midstream_kill(spark, catalog, tmp_path):
    # split the corpus into many 2-line files so maxFilesPerTrigger=1
    # yields many micro-batches
    src = str(tmp_path / "src")
    os.makedirs(src)
    lines = [ln for ln in open(CORPUS).read().splitlines() if ln.strip()]
    n_files = 0
    for i in range(0, len(lines), 2):
        with open(f"{src}/part-{i:04d}.candump", "w") as f:
            f.write("\n".join(lines[i : i + 2]) + "\n")
        n_files += 1
    assert n_files >= 5, "corpus too small for a mid-stream kill to mean anything"

    out = str(tmp_path / "out.parquet")
    ckpt = str(tmp_path / "ckpt")

    def build():
        return stream_decode_long(
            stream_candump(spark, f"{src}/*.candump", max_files_per_trigger=1),
            catalog,
        )

    # phase 1: slow trigger (2 s between single-file batches), killed right
    # after the first commit — pending files are guaranteed
    q = (
        build()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="2 seconds")
        .start()
    )
    _stop_after_first_commit(q)

    batch = decode_long(
        with_frame_meta(with_timestamp(extract_frames(scan_candump(spark, CORPUS)))),
        catalog,
    )

    def multiset(rows):
        # the corpus legitimately contains a repeated frame, so compare
        # MULTISETS (a dict would mask stream-side duplicates)
        return sorted(
            (
                r["timestamp"],
                r["module_name"],
                r["topic_name"],
                r["byte_name"],
                round(r["value"], 9),
            )
            for r in rows
        )

    want = multiset(batch.collect())

    partial = spark.read.parquet(out).count()
    assert 0 < partial < len(want), (
        f"kill was not mid-stream: {partial} of {len(want)} rows at stop"
    )

    # phase 2: restart from the checkpoint, drain the backlog
    assert write_parquet_stream(build(), out, ckpt).awaitTermination(120)

    got = multiset(spark.read.parquet(out).collect())
    assert got == want, "duplicate or dropped rows after restart"


def test_ffill_state_survives_midstream_kill(spark, tmp_path):
    # 8 single-row-group files in strict event-time order (explicit mtimes
    # so the file source's modification-time ordering is deterministic);
    # nulls straddle batch boundaries so the fill NEEDS the carried state
    src = str(tmp_path / "src")
    os.makedirs(src)
    data = [
        ("a", 100, 1.0), ("a", 101, None), ("a", 102, 2.0), ("a", 103, None),
        ("a", 104, None), ("a", 105, 5.0), ("a", 106, None), ("a", 107, 7.0),
    ]
    base = time.time() - 3600
    for i, row in enumerate(data):
        path = f"{src}/b{i}.parquet"
        spark.createDataFrame([row], "series string, epoch long, value double").select(
            "series", F.timestamp_seconds("epoch").alias("timestamp"), "value"
        ).coalesce(1).write.mode("overwrite").parquet(path)
        mtime = base + i * 10
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(path, (mtime, mtime))

    schema = "series string, timestamp timestamp, value double"
    out = str(tmp_path / "out.parquet")
    ckpt = str(tmp_path / "ckpt")

    def build():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*.parquet")
        )
        return stream_ffill(stream, key_cols=("series",))

    q = (
        build()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="2 seconds")
        .start()
    )
    _stop_after_first_commit(q)
    partial = spark.read.parquet(out).count()
    assert 0 < partial < len(data), (
        f"kill was not mid-stream: {partial} of {len(data)} rows at stop"
    )

    q2 = (
        build()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    assert len(rows) == len(data), "duplicate or dropped rows after restart"
    # global forward-fill expectation — requires state carried across both
    # micro-batches AND the kill/restart boundary
    expect, last = {}, None
    for series, epoch, value in data:
        last = value if value is not None else last
        expect[epoch] = last
    for r in rows:
        epoch = int(r["timestamp"].timestamp())
        assert r["filled"] == expect[epoch], (epoch, r["filled"], expect[epoch])


def test_asof_state_survives_midstream_kill(spark, tmp_path):
    """The streaming backward as-of's carried right row must survive a
    mid-stream kill: right rows land in early batches, the query dies,
    and left rows drained after the restart must still match them."""
    from solarboat_data_pipeline_spark.streaming.stateful import (
        stream_asof_backward,
    )

    src = str(tmp_path / "src")
    os.makedirs(f"{src}/l")
    os.makedirs(f"{src}/r")
    base = time.time() - 3600

    def write_one(path, rows, schema, i):
        spark.createDataFrame(rows, schema).selectExpr(
            "series", "timestamp_seconds(epoch) as timestamp",
            schema.split(",")[-1].strip().split(" ")[0],
        ).coalesce(1).write.mode("overwrite").parquet(path)
        mtime = base + i * 10
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(path, (mtime, mtime))

    # interleaved arrival: right values appear in early files, left rows
    # that need them arrive across batch (and kill) boundaries
    write_one(f"{src}/r/r0.parquet", [("a", 100, 10.0)],
              "series string, epoch long, ref double", 0)
    left_data = [
        ("a", 101, 1.0), ("a", 150, 2.0), ("a", 260, 3.0),
        ("a", 300, 4.0), ("a", 400, 5.0), ("a", 500, 6.0),
    ]
    for i, row in enumerate(left_data):
        write_one(f"{src}/l/b{i}.parquet", [row],
                  "series string, epoch long, value double", 1 + i)
    write_one(f"{src}/r/r1.parquet", [("a", 250, 20.0)],
              "series string, epoch long, ref double", 2)

    out = str(tmp_path / "out.parquet")
    ckpt = str(tmp_path / "ckpt")

    def build():
        sl = (
            spark.readStream.schema("series string, timestamp timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/l/*.parquet")
        )
        sr = (
            spark.readStream.schema("series string, timestamp timestamp, ref double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/r/*.parquet")
        )
        return stream_asof_backward(
            sl, sr, key_cols=("series",), ts_col="timestamp"
        )

    q = (
        build()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="2 seconds")
        .start()
    )
    _stop_after_first_commit(q)
    partial = spark.read.parquet(out).count()
    assert 0 < partial < len(left_data), (
        f"kill was not mid-stream: {partial} of {len(left_data)} rows at stop"
    )

    q2 = (
        build()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    assert len(rows) == len(left_data), "duplicate or dropped rows after restart"
    # expectation = batch backward as-of on the merged fixture; rows
    # after the restart still need the carried (ts=100 → 10.0, then
    # ts=250 → 20.0) right state from before the kill
    expect = {101: 10.0, 150: 10.0, 260: 20.0, 300: 20.0, 400: 20.0, 500: 20.0}
    for r in rows:
        epoch = int(r["timestamp"].timestamp())
        assert r["ref"] == expect[epoch], (epoch, r["ref"], expect[epoch])


def test_buffered_asof_state_survives_midstream_kill(spark, tmp_path):
    """The watermark-buffered as-of carries ARRAY-typed state (right-row
    buffer + pending lefts). Kill the query between micro-batches and
    restart from the checkpoint: the buffers must survive and the final
    output must be exactly-once and batch-exact."""
    from solarboat_data_pipeline_spark.streaming.stateful import (
        stream_asof_backward,
    )

    src = str(tmp_path / "src")
    os.makedirs(f"{src}/l")
    os.makedirs(f"{src}/r")
    base = time.time() - 3600

    def write_one(path, rows, schema, i):
        spark.createDataFrame(rows, schema).selectExpr(
            "series", "timestamp_seconds(epoch) as timestamp",
            schema.split(",")[-1].strip().split(" ")[0],
        ).coalesce(1).write.mode("overwrite").parquet(path)
        mtime = base + i * 10
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(path, (mtime, mtime))

    write_one(f"{src}/r/r0.parquet", [("a", 100, 10.0)],
              "series string, epoch long, ref double", 0)
    left_data = [
        ("a", 101, 1.0), ("a", 150, 2.0), ("a", 260, 3.0),
        ("a", 300, 4.0), ("a", 400, 5.0), ("a", 500, 6.0),
    ]
    for i, row in enumerate(left_data):
        write_one(f"{src}/l/b{i}.parquet", [row],
                  "series string, epoch long, value double", 1 + i)
    # the t=250 right lands in a LATER file than the t=260 left's batch
    # position would suggest — the buffered kernel must reorder it
    write_one(f"{src}/r/r1.parquet", [("a", 250, 20.0)],
              "series string, epoch long, ref double", 4)

    out = str(tmp_path / "out.parquet")
    ckpt = str(tmp_path / "ckpt")

    def build():
        sl = (
            spark.readStream.schema(
                "series string, timestamp timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/l/*.parquet")
            .withWatermark("timestamp", "100 seconds")
        )
        sr = (
            spark.readStream.schema(
                "series string, timestamp timestamp, ref double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/r/*.parquet")
        )
        return stream_asof_backward(
            sl, sr, key_cols=("series",), ts_col="timestamp", buffered=True,
        )

    q = (
        build()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="2 seconds")
        .start()
    )
    _stop_after_first_commit(q)
    q2 = (
        build()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    # final watermark = 500 - 100 = 400: the t=500 left stays pending on
    # this finite stream; everything at-or-below 400 must be exactly once
    expect = {101: 10.0, 150: 10.0, 260: 20.0, 300: 20.0, 400: 20.0}
    assert len(rows) == len(expect), "duplicate or dropped rows after restart"
    for r in rows:
        epoch = int(r["timestamp"].timestamp())
        assert r["ref"] == expect[epoch], (epoch, r["ref"], expect[epoch])


def test_auto_asof_flip_survives_midstream_kill(spark, tmp_path):
    """The auto kernel's fast-path bookkeeping (ok_fast, max_us) rides
    the checkpoint too: kill after the first commit — while the key is
    still on the in-order fast path — restart, then deliver a LATE right
    (t=250 after the t=260 left already emitted). The restored max_us
    must detect the disorder and flip the key, so post-flip lefts get
    the exact buffered answer while pre-flip rows keep their documented
    in-order answers, all exactly-once across the restart."""
    from solarboat_data_pipeline_spark.streaming.stateful import (
        stream_asof_backward,
    )

    src = str(tmp_path / "src")
    os.makedirs(f"{src}/l")
    os.makedirs(f"{src}/r")
    base = time.time() - 3600

    def write_one(path, rows, schema, i):
        spark.createDataFrame(rows, schema).selectExpr(
            "series", "timestamp_seconds(epoch) as timestamp",
            schema.split(",")[-1].strip().split(" ")[0],
        ).coalesce(1).write.mode("overwrite").parquet(path)
        mtime = base + i * 10
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(path, (mtime, mtime))

    left_data = [
        ("a", 101, 1.0), ("a", 150, 2.0), ("a", 260, 3.0),
        ("a", 300, 4.0), ("a", 400, 5.0), ("a", 500, 6.0),
    ]

    def write_rest():
        # each file SOURCE advances one file per trigger independently,
        # so pad the right source with other-key files to position the
        # late right in the 4th right-batch — the trigger AFTER key a's
        # t=260 left emitted on the fast path
        write_one(f"{src}/r/rp1.parquet", [("pad", 102, 0.0)],
                  "series string, epoch long, ref double", 1)
        write_one(f"{src}/r/rp2.parquet", [("pad", 151, 0.0)],
                  "series string, epoch long, ref double", 2)
        for i, row in enumerate(left_data[1:], start=1):
            write_one(f"{src}/l/b{i}.parquet", [row],
                      "series string, epoch long, value double", 1 + i)
        # late right: key a's t=250 arrives in the batch AFTER its t=260
        # left emitted on the fast path -> cross-batch disorder -> flip
        write_one(f"{src}/r/r1.parquet", [("a", 250, 20.0)],
                  "series string, epoch long, ref double", 4)

    # only the first batch's files exist while the first query runs: a
    # kill while it plans a second batch can log a new file in one
    # source's metadata but not in the offset log, and the restart then
    # hands that source two files in one batch, which shifts the late
    # right one batch behind the t=300 left
    write_one(f"{src}/r/r0.parquet", [("a", 100, 10.0)],
              "series string, epoch long, ref double", 0)
    write_one(f"{src}/l/b0.parquet", [left_data[0]],
              "series string, epoch long, value double", 1)

    out = str(tmp_path / "out.parquet")
    ckpt = str(tmp_path / "ckpt")

    def build():
        sl = (
            spark.readStream.schema(
                "series string, timestamp timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/l/*.parquet")
            .withWatermark("timestamp", "100 seconds")
        )
        sr = (
            spark.readStream.schema(
                "series string, timestamp timestamp, ref double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/r/*.parquet")
        )
        return stream_asof_backward(
            sl, sr, key_cols=("series",), ts_col="timestamp",
            buffered="auto",
        )

    q = (
        build()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="2 seconds")
        .start()
    )
    _stop_after_first_commit(q)
    write_rest()
    q2 = (
        build()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(120)

    rows = spark.read.parquet(out).collect()
    # fast-path lefts 101..260 emitted in their arrival batches with
    # in-order answers (260 -> 10.0: the late 250 had not arrived);
    # the t=300 batch brings the disordered right -> permanent flip, so
    # 300/400 carry the exact buffered answer (20.0) and 500 (post-flip,
    # above the final watermark 400) stays pending on the finite stream.
    expect = {101: 10.0, 150: 10.0, 260: 10.0, 300: 20.0, 400: 20.0}
    got = {int(r["timestamp"].timestamp()): r["ref"] for r in rows}
    assert len(rows) == len(got), "duplicate rows after restart"
    assert got == expect, (got, expect)
