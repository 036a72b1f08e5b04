"""Streaming analogue of the parse → resample pipeline (SURVEY.md §2.7).

The reference is batch-only but *shaped* like a stream job: chunked source
(``lib/canparser.py:306``), per-chunk stateless transform, append sink,
skip-if-exists restart (``lib/canparser.py:315-317``). The Structured
Streaming mapping:

* chunked tolerant text read        → ``readStream.text`` (S1)
* per-chunk regex/decode transforms → the SAME stateless batch operators
  (P1-P12 are row-local, so :mod:`..sources.candump` and
  :mod:`..operators.parse` apply unchanged to a streaming DataFrame)
* per-chunk timestamp crop          → event-time watermark (late/corrupt
  timestamps dropped by the engine instead of the per-chunk min/max crop,
  ``lib/canparser.py:207-212``)
* fixed-period resample             → tumbling ``window()`` mean with
  watermark-bounded state (A3)
* skip-if-exists restart            → checkpointed exactly-once file sink

Scale notes: the stateless stages have no shuffle at all; the windowed mean
shuffles on (window) once per micro-batch with map-side partial aggregation,
and the watermark bounds state size to (watermark span / period) windows per
key — constant memory regardless of total stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from solarboat_data_pipeline_spark.catalog import CanCatalog
from solarboat_data_pipeline_spark.operators.parse import (
    decode_long,
    with_frame_meta,
    with_timestamp,
)
from solarboat_data_pipeline_spark.sources.candump import extract_frames


def stream_candump(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S1, streaming: tolerant text file stream (one ``value`` column).

    ``maxFilesPerTrigger`` is the micro-batch analogue of the reference's
    1M-line chunk size — it bounds per-batch memory.
    """
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.text(path)


def stream_decode_long(
    lines: DataFrame,
    catalog: CanCatalog,
    offset_seconds: float = 0.0,
    mab20_workaround: bool = False,
) -> DataFrame:
    """P1-P12 on a stream: identical operator chain as the batch path —
    every stage is row-local, hence stream-safe with no state."""
    frames = extract_frames(lines, with_order=False)
    frames = with_timestamp(frames, offset_seconds=offset_seconds)
    frames = with_frame_meta(frames, mab20_workaround=mab20_workaround)
    return decode_long(frames, catalog)


def stream_decode_wide(
    frames: DataFrame,
    catalog: CanCatalog,
    watermark: str = "10 seconds",
    downcast: bool = True,
) -> DataFrame:
    """A2 wide decode on a STREAM — the stream-safe counterpart of the
    batch per-frame projection ``operators.parse.decode_wide``
    (VERDICT r9 #5).

    Batch ``decode_wide`` counts duplicate timestamps in an EAGER pass
    before it picks its plan — impossible on an unbounded source. Here
    the per-frame decode stays a pure projection (one higher-order
    ``transform`` of the matched topic's field specs through the batch
    decodes' field decoder: no explode, no per-row Python) and the A1
    same-µs duplicate merge runs as a WATERMARK-BOUNDED streaming
    aggregate keyed by timestamp:

    * per-key state is the frame's decoded ``(idx, value)`` entry list —
      ~tens of bytes per unique timestamp in the watermark span, NOT a
      187-column aggregation buffer (the wide-agg form would hold ~3 KB
      per key and evaluate 187 avg updates per input row);
    * duplicates merge through :func:`_merge_entries_mean`, whose
      no-duplicate fast path is the map identity — bit-exact parity with
      the batch decode (cell-for-cell, locked by
      ``tests/test_streaming.py``);
    * state retires as the watermark passes each timestamp (append
      mode), so memory is rate × span, independent of stream length.

    The one shuffle per micro-batch carries thin ``(timestamp, entries)``
    rows — the wide row materializes only AFTER the merge, once per
    unique timestamp, in one ``selectExpr``. Reference parity:
    ``lib/canparser.py:222-239`` (groupby-mean + unstack), chunked
    analogue ``lib/canparser.py:306``.
    """
    from solarboat_data_pipeline_spark.operators.parse import (
        _decode_frame_entries,
        _merge_entries_mean,
        _sql_quote,
    )

    per_frame = _decode_frame_entries(frames, catalog)
    merged = (
        per_frame.withWatermark("timestamp", watermark)
        .groupBy("timestamp")
        .agg(F.flatten(F.collect_list("_sv")).alias("_sv"))
        .select("timestamp", _merge_entries_mean(F.col("_sv")).alias("_m"))
    )
    value = "CAST(_m[{}] AS FLOAT)" if downcast else "_m[{}]"
    return merged.selectExpr(
        "timestamp",
        *[
            f"{value.format(i)} AS {_sql_quote(c, '`')}"
            for i, c in enumerate(catalog.wide_columns())
        ],
    )


def stream_resample_mean(
    signals: DataFrame,
    period_seconds: float,
    watermark: str = "10 seconds",
    ts_col: str = "timestamp",
    value_col: str = "value",
    key_cols: tuple[str, ...] = ("module_name", "topic_name", "byte_name"),
) -> DataFrame:
    """A3, streaming: tumbling-window mean per signal, watermark-bounded.

    Unlike the batch resampler there is no dense spine — a stream has no
    "end", so empty buckets are a sink-side concern. The watermark bounds
    state (windows finalize and emit in append mode once it passes them)
    and is the engine's out-of-order tolerance, replacing the reference's
    per-chunk timestamp crop. Note the measured engine semantics on this
    Spark build: a row arriving after its window was finalized re-creates
    the window and re-emits it (merge, not drop) — downstream consumers of
    an append sink should treat re-emissions as upserts keyed by window.
    """
    period = f"{period_seconds} seconds"
    return (
        signals.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), period).alias("w"), *key_cols)
        .agg(F.avg(value_col).alias(value_col))
        .select(
            F.col("w.start").alias(ts_col),
            *key_cols,
            value_col,
        )
    )


def stream_sessionize(
    events: DataFrame,
    gap_seconds: float = 1800.0,
    watermark: str = "10 seconds",
    ts_col: str = "timestamp",
    key_cols: tuple[str, ...] = ("series",),
) -> DataFrame:
    """Streaming sessionization via the native ``session_window`` — merging
    session state is maintained by the engine and bounded by the watermark
    (the batch analogue is :func:`..operators.timeseries.sessionize`)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), f"{gap_seconds} seconds"), *key_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *key_cols,
            "n_events",
        )
    )


def stream_dedup_exact(
    df: DataFrame,
    dedup_cols: tuple[str, ...],
    ts_col: str = "timestamp",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming exact dedup with watermark-bounded state.

    The batch form (:func:`..operators.dedup.exact_dedup`) is a hash
    aggregate over the whole corpus; a stream can't hold every key it has
    ever seen. ``dropDuplicatesWithinWatermark`` keeps a key's state only
    until the watermark passes it — duplicates arriving within the
    watermark span are dropped exactly, state stays O(keys-per-span) no
    matter how long the stream runs. That bounded-memory trade (dups
    separated by more than the span survive) is the standard streaming
    ingest-dedup contract; the batch operator remains the exact whole-corpus
    pass for compaction jobs.
    """
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(dedup_cols)
    )


def stream_enrich_grid(
    stream: DataFrame,
    static: DataFrame,
    grid_seconds: float,
    ts_col: str = "timestamp",
    prefix: str = "",
    value_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """J1/J2/J4, streaming: enrich a stream from a static table that lives
    on a fixed time grid (the reference's forecast CSV is a 5-min grid,
    GPS is 1 Hz — ``lib/unifier_with_forecast_data.py:50-56``,
    ``lib/process_gpx_data.py:142-152``).

    Because the static side's timestamps are grid-aligned, "most recent
    value at or before t" is exactly "the value at floor(t / grid) * grid"
    — the backward as-of collapses to a stateless snap-to-grid equi-join.
    Stream-static joins keep no state at all; the static side is tiny and
    broadcast, so each micro-batch is a map-only pass. (A NON-gridded
    static side needs the interval form of the same stateless lookup:
    each static row owns ``[t_i, t_{i+1})``, as in the batch
    :func:`..pipeline.unify_gps_stage`.)
    """
    if value_cols is None:
        value_cols = tuple(c for c in static.columns if c != ts_col)
    us = int(grid_seconds * 1_000_000)
    snapped = stream.withColumn(
        "__grid_ts",
        F.timestamp_micros(
            (F.unix_micros(F.col(ts_col).cast("timestamp")) / us).cast("long") * us
        ),
    )
    rhs = F.broadcast(
        static.select(
            F.col(ts_col).alias("__grid_ts"),
            *[F.col(c).alias(f"{prefix}{c}") for c in value_cols],
        )
    )
    return snapped.join(rhs, "__grid_ts", "left").drop("__grid_ts")


def write_parquet_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """K1+K5, streaming: exactly-once parquet append sink.

    The checkpoint directory supplies the reference's skip-if-exists restart
    semantics (``lib/canparser.py:315-317``) with actual transactional
    guarantees: a re-run after failure neither drops nor duplicates batches.
    ``available_now=True`` processes the current backlog then stops — the
    batch-parity mode used in tests.
    """
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
