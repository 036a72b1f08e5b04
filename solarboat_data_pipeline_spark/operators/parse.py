"""Parse stage: extracted frames → decoded long / wide telemetry tables.

Covers P2-P12, A1, A2, P17 from SURVEY.md §2 in pure native expressions —
the reference's per-row ctypes loop (``lib/canparser.py:74-187``) becomes
schema-driven SQL: :func:`_catalog_sql` walks the catalog once and writes
what a decode needs of it as SQL text, and one field decoder
(:func:`_field_sql`) reads each signal out of the hex payload. A plan is
parsed from a few strings instead of built from py4j ``Column`` calls per
signal, and the whole stage runs inside whole-stage codegen with no Python
on the data path.

Two output shapes:

* :func:`decode_long` — one row per decoded signal (the reference's
  intermediate "tall" table built at ``lib/canparser.py:106-111,159-169``),
  via :func:`decode_indexed`'s literal spec-map lookup + ``explode``, with
  the signal names and unit attached from a literal array.
* :func:`decode_wide` — the pivoted wide table (``lib/canparser.py:222-239``)
  computed as a per-frame projection: each matched frame decodes directly
  to its wide row, and the A1 same-µs mean runs as a ``groupBy`` only when
  a thin eager pass finds duplicate timestamps.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from solarboat_data_pipeline_spark.catalog import SEPARATOR, CanCatalog


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
    names = _catalog_sql(catalog).names
    return decode_indexed(frames, catalog).selectExpr(
        "timestamp", f"get({names}, idx) AS __n", "value"
    ).selectExpr(
        "timestamp",
        "__n.module_name AS module_name",
        "__n.topic_name AS topic_name",
        "__n.byte_name AS byte_name",
        "value",
        "__n.unit AS unit",
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

    The catalog is a CONSTANT-FOLDED literal
    ``map<key, struct<size, fields>>`` looked up per frame, and
    :func:`_field_sql` with the exploded field struct as its geometry is
    one small GENERIC expression applied after the explode. Codegen size
    is O(1) in catalog width, so the decode stays compiled for the
    reference's 233-signal schema and beyond. Dropping the three name
    strings + unit per signal row (≈40 bytes → 12) also shrinks both
    pivot shuffles ~3×."""
    return (
        _matched_frames(frames, _catalog_sql(catalog))
        .selectExpr("timestamp", "__w", "explode(_spec.fields) AS f")
        .selectExpr("timestamp", "f.idx AS idx", f"{_FIELD_OF_F} AS value")
    )


def _sql_quote(text: str, mark: str = "'") -> str:
    """``text`` as a SQL string literal (``mark="'"``) or a backquoted
    identifier (``mark="`"``). Catalog names and units are outside input,
    so a quote, a backslash or a backtick in them must stay text."""
    if mark == "`":
        return "`" + text.replace("`", "``") + "`"
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


# the topic key of a frame: signature·4096 + topic_id
_KEY = "signature * 4096 + topic_id"


@dataclass(frozen=True)
class _CatalogSql:
    """A catalog as the SQL text its decodes are parsed from."""

    words: str  # payload_hex → array<bigint> of big-endian 4-byte words
    spec: str  # map<key, struct<size, fields: array<struct<idx, off, bit, width, scale>>>>
    keys: str  # "key, key, …" for an IN list
    sizes: str  # map<key, size>: the payload-length guard
    names: str  # array<struct<module_name, topic_name, byte_name, unit>> by idx
    wide: list[tuple[str, str]]  # (wide column, its CASE decode over __k, __w)


def _catalog_sql(catalog: CanCatalog) -> _CatalogSql:
    """The one catalog-to-plan builder: a single walk of
    ``catalog.iter_topics()`` (signal ``idx`` = ``catalog.wide_columns()``
    position) emits every catalog-derived part of a decode plan as SQL
    text. A literal ``map(...)``/``array(...)`` folds to one constant, so
    the executed plan probes it per frame, and building it costs a few
    parsed strings however wide the catalog is (py4j ``Column`` calls per
    signal cost ~57-60 k round trips at 280 columns; SCALE.md
    "Catalog as SQL text").

    The hex payload is parsed ONCE per frame into 4-byte words, so each
    field decode is long arithmetic instead of two string ``conv`` parses
    (same-session A/B at 6 M lines / 187 columns: best pass 7.4 → 6.3 s).
    The words are sized by the catalog's LARGEST topic, so
    payloads beyond classic CAN's 8 bytes (CAN FD, synthetic frames)
    decode at any offset the catalog can declare — the packed layout
    guarantees every field ends at or before the topic size, and the size
    guard keeps every field inside the real payload, so the zero
    right-padding is never read."""
    spec, keys, sizes, names, wide = [], [], [], [], []
    largest = 0
    for mod, top in catalog.iter_topics():
        largest = max(largest, top.size)
        k = mod.signature * 4096 + top.topic_id
        fields = []
        for s in top.signals:
            # the shortest round-trip decimal of the double, DOUBLE-typed:
            # Spark parses it back to the exact same double
            scale = f"{s.scale!r}D"
            fields.append(
                f"named_struct('idx', {len(wide)}, 'off', {s.byte_offset},"
                f" 'bit', {s.bit_offset}, 'width', {s.bit_width},"
                f" 'scale', {scale})"
            )
            names.append(
                f"named_struct('module_name', {_sql_quote(mod.name)},"
                f" 'topic_name', {_sql_quote(top.name)},"
                f" 'byte_name', {_sql_quote(s.name)},"
                f" 'unit', {_sql_quote(s.unit)})"
            )
            decode = _field_sql(
                "__w", str(s.byte_offset), str(s.bit_offset), str(s.bit_width), scale
            )
            wide.append((
                SEPARATOR.join([mod.name, top.name, s.name]),
                f"CASE WHEN __k = {k} THEN {decode} END",
            ))
        spec.append(
            f"{k}, named_struct('size', {top.size}, 'fields', array({', '.join(fields)}))"
        )
        keys.append(str(k))
        sizes.append(f"{k}, {top.size}")
    if not names:
        raise ValueError("empty catalog")
    n_words = max(2, -(-largest // 4))
    padded = f"rpad(payload_hex, {8 * n_words}, '0')"
    words = ", ".join(
        f"CAST(conv(substr({padded}, {8 * w + 1}, 8), 16, 10) AS BIGINT)"
        for w in range(n_words)
    )
    return _CatalogSql(
        words=f"array({words})",
        spec=f"map({', '.join(spec)})",
        keys=", ".join(keys),
        sizes=f"map({', '.join(sizes)})",
        names=f"array({', '.join(names)})",
        wide=wide,
    )


def _field_sql(words: str, off: str, bit: str, width: str, scale: str) -> str:
    """The one field decoder, as SQL text: the field at byte ``off``, bit
    ``bit``, ``width`` bits wide (16, 8 or a 1-bit bitfield), times
    ``scale``, read from the payload's 4-byte ``words`` as a DOUBLE.
    Semantics of the reference's ctypes ``LittleEndianStructure`` access
    (``lib/canparser_generator.py:29-54``): LE u16 fuse, LSB-run
    bitfields, unit scaling folded into ``scale``.

    The geometry is SQL text too. Literals (:func:`decode_wide`) fold at
    plan time: the width ``CASE`` drops to its one arm, and each byte's
    word index and shift become constants. Struct fields
    (:func:`decode_indexed`, the stream decode) give one small generic
    expression. A byte is non-negative, so the bitfield's shift is an
    exact floor-division by ``2^bit``."""

    def byte(o: str) -> str:
        return (
            f"(shiftright(element_at({words}, CAST({o} DIV 4 AS INT) + 1),"
            f" (3 - {o} % 4) * 8) & 255)"
        )

    lo = byte(off)
    raw = (
        f"CASE WHEN {width} = 16 THEN {lo} + {byte(f'({off} + 1)')} * 256"
        f" WHEN {width} = 8 THEN {lo} ELSE shiftright({lo}, {bit}) & 1 END"
    )
    return f"CAST({raw} AS DOUBLE) * {scale}"


# the generic decode of a field-spec struct ``f`` (see _catalog_sql.spec)
_FIELD_OF_F = _field_sql("__w", "f.off", "f.bit", "f.width", "f.scale")


def _matched_frames(frames: DataFrame, cat: _CatalogSql) -> DataFrame:
    """Frames that match a catalog topic (key + size guard), with the
    topic's field-spec struct attached as ``_spec``. The catalog is a
    constant-folded literal map, so the lookup is a per-row map probe.
    Reference parity: the (signature, topic) dispatch + payload-size
    guard of ``lib/canparser.py:81-90,135-157`` (unknown frames and
    wrong-length payloads silently dropped)."""
    return frames.selectExpr(
        "timestamp",
        f"{cat.words} AS __w",
        f"element_at({cat.spec}, {_KEY}) AS _spec",
    ).where("_spec IS NOT NULL AND payload_len = _spec.size")


def _decode_frame_entries(frames: DataFrame, catalog: CanCatalog) -> DataFrame:
    """One row PER FRAME with its decoded ``(idx, value)`` entry array —
    no explode, no shuffle: the matched topic's field specs map through
    :func:`_field_sql` in one higher-order ``transform``, so a topic of
    any width decodes."""
    return _matched_frames(frames, _catalog_sql(catalog)).selectExpr(
        "timestamp",
        "transform(_spec.fields,"
        f" f -> named_struct('idx', f.idx, 'value', {_FIELD_OF_F})) AS _sv",
    )


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
    topic decodes directly to its wide row — one ``CASE`` per column
    over :func:`_field_sql` with LITERAL field geometry, which constant
    folding specializes to the 2-3 arithmetic ops the field needs; no
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
    cat = _catalog_sql(catalog)
    base = frames.selectExpr(
        "timestamp",
        f"{_KEY} AS __k",
        "payload_len AS __len",
        f"{cat.words} AS __w",
    ).where(f"__k IN ({cat.keys}) AND __len = element_at({cat.sizes}, __k)")
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
    exprs = [e for _, e in cat.wide]
    if stats["dup_n"]:
        # the mean of a single value is that value, so unique timestamps
        # come out of the merge unchanged
        exprs = [f"avg({e})" for e in exprs]
    if downcast:
        exprs = [f"CAST({e} AS FLOAT)" for e in exprs]
    out = [
        F.expr(f"{e} AS {_sql_quote(c, '`')}") for e, (c, _) in zip(exprs, cat.wide)
    ]
    if stats["dup_n"]:
        return base.groupBy("timestamp").agg(*out), stats
    return base.select("timestamp", *out), stats
