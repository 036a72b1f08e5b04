"""Parse stage: extracted frames → decoded long / wide telemetry tables.

Covers P2-P12, A1, A2, P17 from SURVEY.md §2 in pure native expressions —
the reference's per-row ctypes loop (``lib/canparser.py:74-187``) becomes
schema-driven codegen: every topic's decode is a generated ``Column`` over
the hex payload, so the whole stage runs inside whole-stage codegen with no
Python on the data path.

Two output shapes:

* :func:`decode_long` — one row per decoded signal (the reference's
  intermediate "tall" table built at ``lib/canparser.py:106-111,159-169``),
  via a single generated CASE producing ``array<struct>`` + ``explode``.
* :func:`decode_wide` — the pivoted wide table (``lib/canparser.py:222-239``)
  computed as a per-frame projection: each matched frame decodes directly
  to its wide row, and the A1 same-µs mean runs as a ``groupBy`` only when
  a thin eager pass finds duplicate timestamps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from solarboat_data_pipeline_spark.catalog import SEPARATOR, CanCatalog

SIGNAL_STRUCT = T.StructType(
    [
        T.StructField("module_name", T.StringType()),
        T.StructField("topic_name", T.StringType()),
        T.StructField("byte_name", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("unit", T.StringType()),
    ]
)


def with_timestamp(frames: DataFrame, offset_seconds: float = 0.0) -> DataFrame:
    """P2+P3: epoch string → µs TimestampType, plus per-dataset clock-skew
    offset (reference ``lib/canparser.py:62-66,201-205``)."""
    ts = F.timestamp_seconds(F.col("ts_raw").cast("double"))
    if offset_seconds:
        ts = F.timestamp_add("MICROSECOND", F.lit(int(round(offset_seconds * 1e6))), ts)
    return frames.withColumn("timestamp", ts)


def file_order_bounds(frames: DataFrame) -> list[Column]:
    """P4 bounds as two aggregate columns ``first_ts``, ``last_ts``: the
    timestamps of the first and last frame *in file order*
    (``lib/canparser.py:207-212`` — first/last are trusted, intermediates
    may be corrupt). The order key includes the (file, block-offset)
    metadata keys from ``extract_frames`` — required once the corpus spans
    multiple splits, where bare ``monotonically_increasing_id`` is not
    file-ordered."""
    from solarboat_data_pipeline_spark.sources.candump import ORDER_COLS

    order = F.struct(*[c for c in ORDER_COLS if c in frames.columns])
    return [
        F.min_by("timestamp", order).alias("first_ts"),
        F.max_by("timestamp", order).alias("last_ts"),
    ]


def crop_to_bounds(frames: DataFrame) -> DataFrame:
    """P4: keep rows between the first and last timestamp in file order
    (:func:`file_order_bounds`). Implemented as a broadcast of the 1-row
    bounds so the plan stays lazy and scales: one cheap agg pass + a
    map-side filter."""
    return (
        frames.crossJoin(F.broadcast(frames.agg(*file_order_bounds(frames))))
        .where(F.col("timestamp").between(F.col("first_ts"), F.col("last_ts")))
        .drop("first_ts", "last_ts")
    )


def with_frame_meta(frames: DataFrame, mab20_workaround: bool = False) -> DataFrame:
    """P5-P7 + P9: topic id (hex→int), signature (first payload byte),
    payload byte length; optional MAB20 rewrite (``lib/canparser.py:126-133``:
    topics 64/65 force signature 230, topic 65 truncates to 2 bytes)."""
    df = frames.withColumns(
        {
            "topic_id": F.conv("topic_hex", 16, 10).cast("int"),
            "signature": F.conv(F.substring("payload_hex", 1, 2), 16, 10).cast("int"),
        }
    )
    if mab20_workaround:
        df = df.withColumns(
            {
                "signature": F.when(
                    F.col("topic_id").isin(64, 65), F.lit(230)
                ).otherwise(F.col("signature")),
                "payload_hex": F.when(
                    F.col("topic_id") == 65, F.substring("payload_hex", 1, 4)
                ).otherwise(F.col("payload_hex")),
            }
        )
    return df.withColumn("payload_len", (F.length("payload_hex") / 2).cast("int"))


def decode_long(frames: DataFrame, catalog: CanCatalog) -> DataFrame:
    """P8+P10-P12: schema lookup + binary decode + 1→N explode.

    Decodes via the index-keyed spec map (:func:`decode_indexed` — O(1)
    codegen size in catalog width; frames matching no (signature, topic,
    valid-length) key are silently dropped, the reference's semantics at
    ``lib/canparser.py:135-157``), then attaches the signal's name
    strings + unit from a constant-folded metadata array indexed by the
    signal's wide-column position."""
    meta = []
    for mod, top in catalog.iter_topics():
        for s in top.signals:
            meta.append(
                F.struct(
                    F.lit(mod.name).alias("module_name"),
                    F.lit(top.name).alias("topic_name"),
                    F.lit(s.name).alias("byte_name"),
                    F.lit(s.unit).alias("unit"),
                )
            )
    if not meta:
        raise ValueError("empty catalog")
    named = F.get(F.array(*meta), F.col("idx"))
    return decode_indexed(frames, catalog).select(
        "timestamp",
        named["module_name"].alias("module_name"),
        named["topic_name"].alias("topic_name"),
        named["byte_name"].alias("byte_name"),
        "value",
        named["unit"].alias("unit"),
    )


# above this many wide columns, the pivot runs as ONE collect_list-to-map
# aggregate + per-column map extraction instead of n_cols aggregate
# functions: measured on 2M lines × 280 columns, agg-pivot 53k lines/s vs
# map-pivot 90k
WIDE_PIVOT_MAX_AGG_COLS = 32


def decode_indexed(frames: DataFrame, catalog: CanCatalog) -> DataFrame:
    """P8+P10-P12, index-keyed and catalog-size-independent: each signal
    row is ``(timestamp, idx, value)`` where ``idx`` is the signal's
    position in ``catalog.wide_columns()`` order — the internal shape for
    the wide pivot at scale.

    Unlike the per-topic generated CASE of :func:`decode_long` — whose
    single CaseWhen expression overflows Janino's 64 KB method limit on
    wide catalogs (50+ topics) and knocks the whole stage out of
    whole-stage codegen into interpreted eval — the catalog here is a
    CONSTANT-FOLDED literal ``map<key, struct<size, fields>>`` looked up
    per frame, and the field decode is one small GENERIC expression over
    ``(byte_offset, bit_offset, width, scale)`` applied after the explode.
    Codegen size is O(1) in catalog width, so the decode stays compiled
    for the reference's 233-signal schema and beyond. Dropping the three
    name strings + unit per signal row (≈40 bytes → 12) also shrinks both
    pivot shuffles ~3×."""
    matched = _matched_frames(frames, catalog)
    s = matched.select(
        "timestamp",
        "__w",
        F.explode("_spec.fields").alias("f"),
    )
    return s.select(
        "timestamp",
        F.col("f.idx").alias("idx"),
        _decode_field(F.col("__w"), F.col("f")).alias("value"),
    )


def _payload_words(catalog: CanCatalog) -> Column:
    """The hex payload parsed ONCE per frame into big-endian-text 4-byte
    words (zero right-padding is harmless: the size guard keeps every
    field inside the real payload) — the per-field decode is then pure
    long arithmetic instead of two string F.conv parses per signal row
    (same-session A/B at 6 M lines / 187 columns: best pass 7.4 → 6.3 s,
    medians within noise — the explode + pivot shuffle dominate this
    stage; the word form also keeps the explode payload fixed-width).
    The word count comes from the catalog's LARGEST topic, so payloads
    beyond classic CAN's 8 bytes (CAN FD, synthetic frames) decode at any
    offset the catalog can declare — the packed layout guarantees every
    field ends at or before the topic size."""
    n_words = max(2, -(-max(t.size for _, t in catalog.iter_topics()) // 4))
    ph = F.rpad(F.col("payload_hex"), 8 * n_words, "0")
    return F.array(
        *[
            F.conv(ph.substr(8 * w + 1, 8), 16, 10).cast("long")
            for w in range(n_words)
        ]
    )


def _matched_frames(frames: DataFrame, catalog: CanCatalog) -> DataFrame:
    """Frames that match a catalog topic (key + size guard), with the
    topic's field-spec struct attached as ``_spec``. The catalog is a
    constant-folded literal map, so the lookup is a per-row map probe.
    Reference parity: the (signature, topic) dispatch + payload-size
    guard of ``lib/canparser.py:81-90,135-157`` (unknown frames and
    wrong-length payloads silently dropped)."""
    idx_of = {c: i for i, c in enumerate(catalog.wide_columns())}
    entries = []
    for mod, top in catalog.iter_topics():
        key = mod.signature * 4096 + top.topic_id
        fields = [
            F.struct(
                F.lit(
                    idx_of[SEPARATOR.join([mod.name, top.name, s.name])]
                ).alias("idx"),
                F.lit(s.byte_offset).alias("off"),
                F.lit(s.bit_offset).alias("bit"),
                F.lit(s.bit_width).alias("width"),
                F.lit(s.scale).alias("scale"),
            )
            for s in top.signals
        ]
        entries += [
            F.lit(key),
            F.struct(
                F.lit(top.size).alias("size"), F.array(*fields).alias("fields")
            ),
        ]
    if not entries:
        raise ValueError("empty catalog")
    spec = F.element_at(
        F.create_map(*entries),
        (F.col("signature") * 4096 + F.col("topic_id")).cast("int"),
    )
    return frames.select(
        "timestamp",
        _payload_words(catalog).alias("__w"),
        spec.alias("_spec"),
    ).where(F.col("_spec").isNotNull() & (F.col("payload_len") == F.col("_spec.size")))


def _byte_at(words: Column, off: Column) -> Column:
    """Payload byte ``off`` (0-based) out of the pre-parsed 4-byte word
    array. shiftright() only takes a literal shift count, so the
    within-word position dispatches through a 4-arm literal-shift CASE —
    still one codegen expression, no string work."""
    w = F.element_at(words, (off / 4).cast("int") + 1)
    p = off % 4
    return (
        F.when(p == 0, F.shiftright(w, 24))
        .when(p == 1, F.shiftright(w, 16))
        .when(p == 2, F.shiftright(w, 8))
        .otherwise(w)
    ).bitwiseAND(255)


def _decode_field(words: Column, f: Column) -> Column:
    """Generic field decode over the pre-parsed payload words given one
    field-spec struct ``(idx, off, bit, width, scale)`` — small fixed
    codegen. Semantics of the reference's ctypes
    ``LittleEndianStructure`` access
    (``lib/canparser_generator.py:29-54``): LE u16 fuse, LSB-run
    bitfields, unit scaling folded into ``scale``."""
    lo = _byte_at(words, f["off"])
    raw = (
        F.when(f["width"] == 16, lo + _byte_at(words, f["off"] + 1) * 256)
        .when(f["width"] == 8, lo)
        # bitfield: the shift count is a per-field COLUMN, so divide by
        # the power-of-two literal instead (exact for byte-range values)
        .otherwise(
            F.floor(
                lo
                / F.element_at(
                    F.array(*[F.lit(1 << b) for b in range(8)]),
                    f["bit"].cast("int") + 1,
                )
            )
            .cast("long")
            .bitwiseAND(1)
        )
    )
    return raw.cast("double") * f["scale"]


def _byte_at_static_sql(words_col: str, off: int) -> str:
    """:func:`_byte_at` with a LITERAL offset, as SQL text — the word
    index and within-word shift resolve at plan time, so the byte read is
    one ``element_at`` + literal shift + mask instead of a 4-arm CASE."""
    w = f"element_at({words_col}, {off // 4 + 1})"
    shift = (3 - off % 4) * 8
    inner = f"shiftright({w}, {shift})" if shift else w
    return f"({inner} & 255)"


def _decode_field_static_sql(
    words_col: str, off: int, bit: int, width: int, scale: float
) -> str:
    """:func:`_decode_field` with LITERAL field geometry, as SQL text:
    the width/offset dispatch happens in Python at plan time, emitting
    just the 2-3 arithmetic ops the field actually needs (same semantics
    — ctypes ``LittleEndianStructure`` access, LE u16 fuse, LSB-run
    bitfields, scale folded in). Why text: a 187-column
    catalog's projection built through the Column API costs ~2,000 py4j
    round trips ≈ 8-10 s of driver time PER plan build (measured on the
    6 M-line bench row — more than the executed scan itself); the same
    tree parsed from one string per column is ~20× cheaper to build and
    resolves to the identical expressions, so decoded values are
    bit-identical. ``{scale!r}D`` is the shortest-roundtrip decimal of
    the Python double with Spark's DOUBLE-literal suffix — both parse
    via round-to-nearest, so the literal is the exact same double."""
    lo = _byte_at_static_sql(words_col, off)
    if width == 16:
        raw = f"({lo} + {_byte_at_static_sql(words_col, off + 1)} * 256)"
    elif width == 8:
        raw = lo
    else:  # LSB-run bitfield: lo >= 0, so shiftright == floor-div by 2^bit
        raw = f"(shiftright({lo}, {bit}) & 1)"
    return f"CAST({raw} AS DOUBLE) * {scale!r}D"


# a CAN payload is at most 8 bytes, so a topic decodes to at most 8 fused
# fields — the streaming wide decode fills all slots with fixed expressions
MAX_TOPIC_FIELDS = 8


def _decode_frame_entries(frames: DataFrame, catalog: CanCatalog) -> DataFrame:
    """One row PER FRAME with its decoded ``(idx, value)`` entry array —
    no explode, no shuffle: each possible field slot is decoded by a
    fixed generic expression (null-idx slots filtered out). The slot
    count is the CATALOG's widest topic (≥ the classic-CAN 8 so existing
    plans are unchanged) — pinned at 8, a >8-byte CAN FD topic's tail
    fields would silently null here while the batch decode reads them."""
    matched = _matched_frames(frames, catalog)
    n_slots = max(
        MAX_TOPIC_FIELDS,
        max(len(t.signals) for _, t in catalog.iter_topics()),
    )
    slots = []
    for k in range(n_slots):
        # F.get is 0-based and null past the end (element_at throws there
        # under ANSI mode)
        f = F.get(F.col("_spec.fields"), k)
        slots.append(
            F.struct(
                f["idx"].alias("idx"),
                _decode_field(F.col("__w"), f).alias("value"),
            )
        )
    entries = F.filter(
        F.array(*slots), lambda x: x["idx"].isNotNull()
    )
    return matched.select("timestamp", entries.alias("_sv"))


def _merge_entries_mean(arr: Column) -> Column:
    """A1-merge an ``array<struct<idx,value>>`` into an int-keyed map with
    the mean per duplicate idx. When a row has no duplicates (the typical
    case) the entries ARE the map and the per-idx mean scans are skipped."""
    idxs = F.array_distinct(F.transform(arr, lambda x: x["idx"]))
    mean_of = lambda i: (  # noqa: E731
        F.aggregate(
            F.filter(arr, lambda x: x["idx"] == i),
            F.lit(0.0),
            lambda acc, x: acc + x["value"],
        )
        / F.size(F.filter(arr, lambda x: x["idx"] == i))
    )
    return F.when(
        F.size(idxs) == F.size(arr), F.map_from_entries(arr)
    ).otherwise(F.map_from_arrays(idxs, F.transform(idxs, mean_of)))


def _extract_wide_cols(
    m: DataFrame, cols: list[str], downcast: bool
) -> DataFrame:
    """(timestamp, _m map<idx,value>) → the static wide schema."""
    val = lambda i: F.col("_m").getItem(i)  # noqa: E731
    if downcast:
        val = lambda i: F.col("_m").getItem(i).cast("float")  # noqa: E731
    return m.select(
        "timestamp", *[val(i).alias(c) for i, c in enumerate(cols)]
    )


def pivot_wide(
    long_df: DataFrame, catalog: CanCatalog, strategy: str = "auto"
) -> DataFrame:
    """A1+A2: long signals → static wide schema (parity shape with the
    reference's groupby-mean + unstack). Pivot values come from the schema
    so the pivot is single-pass and the output schema is static.

    ``strategy="agg"`` plans one conditional-avg aggregate per wide column;
    ``"map"`` first A1-reduces per (timestamp, signal), then aggregates the
    few present signals into a map and extracts columns as projections —
    the scale path for wide catalogs where most columns are absent at any
    timestamp; ``"auto"`` picks by catalog width."""
    cols = catalog.wide_columns()
    if strategy not in ("auto", "agg", "map"):
        raise ValueError("strategy must be auto|agg|map")
    use_map = strategy == "map" or (
        strategy == "auto" and len(cols) > WIDE_PIVOT_MAX_AGG_COLS
    )
    name = F.concat_ws(
        SEPARATOR, F.col("module_name"), F.col("topic_name"), F.col("byte_name")
    )
    if not use_map:
        return (
            long_df.withColumn("_wide_name", name)
            .groupBy("timestamp")
            .pivot("_wide_name", cols)
            .agg(F.avg("value"))
        )
    a1 = (
        long_df.select("timestamp", name.alias("_wide_name"), "value")
        .groupBy("timestamp", "_wide_name")
        .agg(F.avg("value").alias("value"))
    )
    m = a1.groupBy("timestamp").agg(
        F.map_from_entries(
            F.collect_list(F.struct("_wide_name", "value"))
        ).alias("_m")
    )
    return m.select(
        "timestamp", *[F.col("_m").getItem(c).alias(c) for c in cols]
    )


def decode_wide(
    frames: DataFrame, catalog: CanCatalog, downcast: bool = True
) -> DataFrame:
    """A1+A2 wide decode (``lib/canparser.py:222-239``, groupby-mean +
    unstack) as a per-frame projection: each frame matching a catalog
    topic decodes directly to its wide row — statically specialized
    expressions per column (:func:`_decode_field_static_sql`), no
    explode. Unknown frames and wrong-length payloads drop, as in
    :func:`decode_long`.

    Construction runs one EAGER thin job over the matched frames
    (timestamp only, 8-byte shuffle rows) that counts duplicate
    timestamps. Only when it finds one does the plan merge same-µs
    frames with a ``groupBy(timestamp)`` mean over the wide rows; a
    duplicate-free corpus (every measured replay) stays a pure
    projection with no wide shuffle. Batch only — for a
    stream use ``streaming.stream_decode_wide``. ``downcast=True`` casts
    value columns to float, the faithful superset of the reference's
    float16 (``lib/canparser.py:234``, P17)."""
    return _decode_wide(frames, catalog, downcast)[0]


def _decode_wide(
    frames: DataFrame, catalog: CanCatalog, downcast: bool
) -> tuple[DataFrame, Row]:
    """:func:`decode_wide` plus its eager stats row: ``first_ts`` and
    ``last_ts`` (the returned table's exact timestamp min/max, ``None``
    when empty) and ``dup_n`` (timestamps holding more than one matched
    frame)."""
    if frames.isStreaming:
        raise ValueError(
            "decode_wide is batch-only: its duplicate-timestamp count runs"
            " eagerly — decode a stream with streaming.stream_decode_wide"
        )
    cols = catalog.wide_columns()
    topics = list(catalog.iter_topics())
    if not topics:
        raise ValueError("empty catalog")
    key = (F.col("signature").cast("long") * 4096 + F.col("topic_id"))
    keys, size_entries = [], []
    for mod, top in topics:
        k = mod.signature * 4096 + top.topic_id
        keys.append(k)
        size_entries += [F.lit(k), F.lit(top.size)]
    base = frames.select(
        "timestamp",
        key.alias("__k"),
        F.col("payload_len").alias("__len"),
        _payload_words(catalog).alias("__w"),
    ).where(
        F.col("__k").isin(keys)
        & (
            F.col("__len")
            == F.element_at(F.create_map(*size_entries), F.col("__k"))
        )
    )
    # the scan prunes to the timestamp and the match keys
    stats = (
        base.groupBy("timestamp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(
            F.min("timestamp").alias("first_ts"),
            F.max("timestamp").alias("last_ts"),
            F.count(F.when(F.col("__n") > 1, 1)).alias("dup_n"),
        )
        .first()
    )
    idx_of = {c: i for i, c in enumerate(cols)}
    # SQL-text projection: one parsed string per wide column instead of
    # ~10 py4j Column calls per column — see _decode_field_static_sql
    exprs: list[str | None] = [None] * len(cols)
    for mod, top in topics:
        k = mod.signature * 4096 + top.topic_id
        for s in top.signals:
            name = SEPARATOR.join([mod.name, top.name, s.name])
            decode = _decode_field_static_sql(
                "__w", s.byte_offset, s.bit_offset, s.bit_width, s.scale
            )
            exprs[idx_of[name]] = f"CASE WHEN __k = {k} THEN {decode} END"
    if stats["dup_n"]:
        # the mean of a single value is that value, so unique timestamps
        # come out of the merge unchanged
        exprs = [f"avg({e})" for e in exprs]
    if downcast:
        exprs = [f"CAST({e} AS FLOAT)" for e in exprs]
    out = [F.expr(f"{e} AS `{c}`") for e, c in zip(exprs, cols)]
    if stats["dup_n"]:
        return base.groupBy("timestamp").agg(*out), stats
    return base.select("timestamp", *out), stats
