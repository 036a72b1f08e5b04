"""Time-series kernels: spine, resample, interpolation, as-of joins.

These are the reusable primitives behind the reference's resample and unify
stages (``lib/resampler.py``, ``lib/unifier_with_forecast_data.py``,
``lib/process_gpx_data.py``), re-expressed as window/join compositions that
Catalyst can plan. Every ordered operator takes ``partition_cols``: with an
empty tuple you get the reference's single-series semantics (one global sort
— fine for one boat's telemetry); at 100 TB you pass the series key
(device/day) so windows partition and nothing funnels through one task.
When no natural series key exists, :mod:`.scale` provides equivalents of
the single-series forms (as-of joins, interpolation, cumulative sums,
sessionization, lag-k) that distribute the global order over range buckets
with a carry pass — same semantics, no single-task window.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

MICROS = 1_000_000


def _us(col: Column) -> Column:
    """Epoch microseconds, tolerant of ``TIMESTAMP_NTZ`` inputs.

    The fixtures store naive ``timestamp[us]`` parquet, which Spark 4 reads
    as ``TIMESTAMP_NTZ`` — a type ``unix_micros`` rejects. The cast
    interprets NTZ values in the session timezone (UTC in every session this
    engine builds — see :mod:`..session`), making them the stored instants;
    for a column that is already ``TIMESTAMP`` the cast is a no-op Catalyst
    removes, so nothing changes on the normal path.
    """
    return F.unix_micros(col.cast("timestamp"))


def time_spine(
    spark: SparkSession,
    start,
    end,
    step_seconds: float,
    ts_col: str = "timestamp",
) -> DataFrame:
    """Dense constant-period timestamp spine, ``[start, end]`` inclusive.

    Built from ``spark.range`` so generation is distributed (a
    ``sequence()`` + ``explode`` of one row cannot parallelize and overflows
    on long ranges); at 1 µs precision a century-long 1 s spine is ~3e9
    rows — range handles that, one literal array does not.
    """
    import datetime as _dt

    step_us = int(round(step_seconds * MICROS))
    if type(start) is _dt.datetime and type(end) is _dt.datetime:
        # r14 (guide §1.2 — fixed per-call cost): for plain datetime
        # bounds (what every internal caller collects), the row count is
        # pure literal arithmetic — compute it driver-side instead of
        # paying a one-row Spark job per spine. TimestampType.toInternal
        # is EXACTLY the conversion ``F.lit(datetime)`` applies, so the
        # count and the generated instants are bit-identical to the job
        # form (which also went through ``F.lit``).
        from pyspark.sql.types import TimestampType

        t = TimestampType()
        s_us, e_us = t.toInternal(start), t.toInternal(end)
        n = (e_us - s_us) // step_us + 1
        return spark.range(int(max(n, 0))).select(
            F.timestamp_micros(F.lit(s_us) + F.col("id") * step_us).alias(
                ts_col
            )
        )
    start_us = F.lit(start).cast("timestamp")
    n = (
        spark.range(1)
        .select(
            ((_us(F.lit(end).cast("timestamp")) - _us(start_us)) / step_us + 1)
            .cast("long")
            .alias("n")
        )
        .first()["n"]
    )
    return spark.range(int(max(n, 0))).select(
        F.timestamp_micros(
            _us(F.lit(start).cast("timestamp")) + F.col("id") * step_us
        ).alias(ts_col)
    )


# beyond this many value columns the per-column avg aggregates dominate
# (n_cols agg buffers touched per input row); the sparse long path
# explodes non-null cells instead — measured 54 s → ~15 s on 11.9 M rows
# × 187 columns at ~2% density
WIDE_RESAMPLE_MAX_AGG_COLS = 32


def resample_mean(
    df: DataFrame,
    period_seconds: float,
    ts_col: str = "timestamp",
    value_cols: Sequence[str] | None = None,
    partition_cols: Sequence[str] = (),
    dense: bool = True,
    known_bounds: tuple | None = None,
) -> DataFrame:
    """A3: fixed-period mean downsample (``df.resample(period).mean()``,
    ``lib/resampler.py:97-99``).

    Bucket = floor(epoch/period) — identical alignment to pandas for the
    reference's 1 s / 100 ms periods. With ``dense=True`` empty buckets are
    materialized as all-null rows (pandas emits the dense grid), via a
    spine join; the spine side is tiny relative to data and broadcasts.

    ``known_bounds`` (r14, guide §2.4): ``(lo, hi)`` datetimes covering
    ``df``'s EXACT ``ts_col`` min/max (e.g. the parse stage's fused
    stats bounds). When given (and the frame is unpartitioned), the
    dense spine derives from ``floor(lo)``/``floor(hi)`` arithmetically
    instead of re-aggregating the data — one full-input job dropped.
    Both bounds rows must exist in ``df`` or the grid would be wrong.
    """
    step_us = int(round(period_seconds * MICROS))
    if value_cols is None:
        value_cols = [
            c for c in df.columns if c != ts_col and c not in partition_cols
        ]
    bucket = F.timestamp_micros(
        (F.floor(_us(F.col(ts_col)) / step_us) * step_us).cast("long")
    )
    if len(value_cols) > WIDE_RESAMPLE_MAX_AGG_COLS:
        # sparse long path for wide telemetry tables: n_cols avg
        # aggregates evaluated per input row degrade linearly with
        # catalog width (the wide parse output is ~2% non-null), so
        # explode only the non-null cells into thin (bucket, idx, value)
        # rows, average those, and repivot via one int-keyed map. Buckets
        # whose cells are all null still appear (all-null rows) via the
        # distinct bucket-key join — identical output to the agg path.
        base = df.withColumn("__bucket", bucket)
        arr = F.array(*[F.col(c).cast("double") for c in value_cols])
        long = base.select(
            *partition_cols, "__bucket", F.posexplode(arr).alias("__idx", "__v")
        ).where(F.col("__v").isNotNull())
        a1 = long.groupBy(*partition_cols, "__bucket", "__idx").agg(
            F.avg("__v").alias("__v")
        )
        mapped = a1.groupBy(*partition_cols, "__bucket").agg(
            F.map_from_entries(
                F.collect_list(F.struct("__idx", "__v"))
            ).alias("__m")
        )
        keys = base.select(*partition_cols, "__bucket").distinct()
        out = keys.join(mapped, [*partition_cols, "__bucket"], "left").select(
            *partition_cols,
            F.col("__bucket").alias(ts_col),
            *[
                F.col("__m").getItem(i).alias(c)
                for i, c in enumerate(value_cols)
            ],
        )
    else:
        aggs = [F.avg(c).alias(c) for c in value_cols]
        out = (
            df.withColumn("__bucket", bucket)
            .groupBy(*partition_cols, "__bucket")
            .agg(*aggs)
            .withColumnRenamed("__bucket", ts_col)
        )
    if not dense:
        return out
    spark = df.sparkSession
    if known_bounds is not None and not partition_cols:
        import datetime as _dt

        lo, hi = known_bounds
        if lo is None:
            return out
        if type(lo) is _dt.datetime and type(hi) is _dt.datetime:
            from pyspark.sql.types import TimestampType

            t = TimestampType()
            # floor both bounds onto the bucket grid with the same
            # integer-µs arithmetic the bucket expression uses; the
            # spine instants then equal the measured min/max buckets
            lo_us = t.toInternal(lo) // step_us * step_us
            hi_us = t.toInternal(hi) // step_us * step_us
            spine = spark.range(
                int(max((hi_us - lo_us) // step_us + 1, 0))
            ).select(
                F.timestamp_micros(
                    F.lit(lo_us) + F.col("id") * step_us
                ).alias(ts_col)
            )
            return spine.join(out, [ts_col], "left")
    bounds = out.groupBy(*partition_cols).agg(
        F.min(ts_col).alias("__lo"), F.max(ts_col).alias("__hi")
    )
    if partition_cols:
        # per-series spine: sequence() per group is fine here because a
        # single series' bucket count is bounded by its time extent
        spine = bounds.select(
            *partition_cols,
            F.explode(
                F.sequence(
                    F.col("__lo"),
                    F.col("__hi"),
                    F.expr(f"INTERVAL {step_us} MICROSECOND"),
                )
            ).alias(ts_col),
        )
    else:
        row = bounds.first()
        if row is None or row["__lo"] is None:
            return out
        spine = time_spine(spark, row["__lo"], row["__hi"], period_seconds, ts_col)
    return spine.join(out, [*partition_cols, ts_col], "left")


# beyond this many value columns, interpolate via the long-format plan:
# per-column window-function fan-out (5·n_cols functions over two sorts)
# degrades sharply — 250 cols measured 94 s for 20 k rows wide vs ~seconds
# long — while the long plan keeps ONE set of window functions partitioned
# by column name (parallel across columns) and repivots in a single pass.
WIDE_INTERPOLATE_MAX_COLS = 8


def interpolate_time(
    df: DataFrame,
    ts_col: str = "timestamp",
    value_cols: Sequence[str] | None = None,
    partition_cols: Sequence[str] = (),
    limit: int | None = None,
    limit_area: str | None = "inside",
    strategy: str = "auto",
) -> DataFrame:
    """W3/W4: pandas ``interpolate(method="time")`` parity as window exprs.

    * values at non-null rows are untouched;
    * a null row between two valid neighbors gets the time-weighted linear
      blend of them;
    * ``limit_area="inside"`` (reference resampler, ``lib/resampler.py:100``)
      leaves leading/trailing nulls; ``limit_area=None`` reproduces pandas'
      default forward behavior: trailing nulls clamp to the last valid
      value, leading nulls stay null;
    * ``limit=n`` fills only the first *n* nulls of each gap (pandas limit
      semantics — ``sample_limit`` at ``lib/resampler.py:63-66``).

    Pure window composition, no UDFs. ``strategy``: ``"wide"`` computes
    window exprs per column in place; ``"long"`` unpivots, interpolates one
    value column partitioned by series name, and repivots — the scale path
    for wide telemetry tables; ``"auto"`` picks by column count.

    Duplicate order keys are OUTSIDE the contract, matching the reference:
    pandas ``reindex`` raises on a duplicate index (``lib/resampler.py``
    dedups by timestamp first) — run :func:`dedup_keep_first` first. On
    ties the kernel never hard-fails (a degenerate bracket with both
    valid neighbors at one instant fills with ``prev_v`` instead of an
    ANSI 0/0 error), but which tied row counts as the neighbor is
    plan-order-dependent.
    """
    if value_cols is None:
        value_cols = [
            c for c in df.columns if c != ts_col and c not in partition_cols
        ]
    if strategy not in ("auto", "wide", "long"):
        raise ValueError("strategy must be auto|wide|long")
    use_long = (
        strategy == "long"
        or (strategy == "auto" and len(value_cols) > WIDE_INTERPOLATE_MAX_COLS)
    )
    # the long plan only carries (partition, ts, values); fall back to wide
    # when the frame holds extra passenger columns
    extras = set(df.columns) - {ts_col, *partition_cols, *value_cols}
    if use_long and not extras:
        return _interpolate_time_long(
            df, ts_col, value_cols, partition_cols, limit, limit_area
        )
    w_prev = (
        Window.partitionBy(*partition_cols)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # "next valid" via a RUNNING aggregate over the reverse order: a
    # [current, unboundedFollowing) frame makes Spark recompute the whole
    # frame per row (UnboundedFollowingWindowFunctionFrame is O(n) per row
    # → O(n²) per partition); last() over the __rn-descending running frame
    # is the same value in O(n) with one extra sort.
    ts_us = _us(F.col(ts_col))
    rn = F.row_number().over(Window.partitionBy(*partition_cols).orderBy(ts_col))
    df = df.withColumn("__rn", rn)
    w_next = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col("__rn").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    out_cols: dict[str, Column] = {}
    for c in value_cols:
        v = F.col(c)
        prev_v = F.last(v, ignorenulls=True).over(w_prev)
        next_v = F.last(v, ignorenulls=True).over(w_next)
        prev_ts = F.last(F.when(v.isNotNull(), ts_us), ignorenulls=True).over(w_prev)
        next_ts = F.last(F.when(v.isNotNull(), ts_us), ignorenulls=True).over(w_next)
        last_valid_rn = F.last(
            F.when(v.isNotNull(), F.col("__rn")), ignorenulls=True
        ).over(w_prev)
        gap_pos = F.col("__rn") - last_valid_rn  # 1-based index into the null run
        # duplicate-timestamp guard (same convention as the as-of linear
        # kernels): a degenerate bracket (both valid neighbors at the
        # same instant) fills with prev_v instead of dividing 0/0 —
        # under ANSI mode the unguarded division is a hard error
        blend = F.when(next_ts == prev_ts, prev_v).otherwise(
            prev_v + (next_v - prev_v) * ((ts_us - prev_ts) / (next_ts - prev_ts))
        )
        fill_inside = prev_v.isNotNull() & next_v.isNotNull()
        cond = fill_inside
        if limit is not None:
            cond = cond & (gap_pos <= F.lit(int(limit)))
        filled = F.when(v.isNotNull(), v).when(cond, blend)
        if limit_area is None:
            # pandas default (limit_direction="forward"): clamp after the
            # last valid sample
            trail = prev_v.isNotNull() & next_v.isNull()
            tcond = trail
            if limit is not None:
                tcond = tcond & (gap_pos <= F.lit(int(limit)))
            filled = filled.when(tcond, prev_v)
        elif limit_area != "inside":
            raise ValueError("limit_area must be 'inside' or None")
        out_cols[c] = filled
    return df.withColumns(out_cols).drop("__rn")


def _interpolate_time_long(
    df: DataFrame,
    ts_col: str,
    value_cols: Sequence[str],
    partition_cols: Sequence[str],
    limit: int | None,
    limit_area: str | None,
) -> DataFrame:
    """Wide → long → interpolate → wide. Semantically identical to the wide
    path (same window math on one ``__v`` column, partitioned additionally
    by the column index); one posexplode projection + one collect-to-map
    hash aggregate replace the 5·n_cols window-function fan-out. The long
    rows carry an INTEGER column index instead of the column name — the
    window sort keys and the repivot map stay integer-typed — and the
    repivot is a single collect_list aggregate + per-index map extraction,
    not an n_cols-aggregate pivot evaluated for every long row.

    Requires unique ``(partition, ts)`` input rows (any interpolation
    presupposes a proper time index; the repivot raises on duplicates
    rather than blending them silently)."""
    dtypes = dict(df.dtypes)
    arr = F.array(*[F.col(c).cast("double") for c in value_cols])
    long = df.select(
        *partition_cols, ts_col, F.posexplode(arr).alias("__idx", "__v")
    )
    filled = interpolate_time(
        long,
        ts_col=ts_col,
        value_cols=["__v"],
        partition_cols=[*partition_cols, "__idx"],
        limit=limit,
        limit_area=limit_area,
        strategy="wide",
    )
    m = filled.groupBy(*partition_cols, ts_col).agg(
        F.map_from_entries(F.collect_list(F.struct("__idx", "__v"))).alias(
            "__m"
        )
    )
    return m.select(
        *partition_cols,
        ts_col,
        *[
            F.col("__m").getItem(i).cast(dtypes[c]).alias(c)
            for i, c in enumerate(value_cols)
        ],
    )


def resample_interpolate(
    df: DataFrame,
    period_seconds: float,
    ts_col: str = "timestamp",
    value_cols: Sequence[str] | None = None,
    partition_cols: Sequence[str] = (),
    limit: int | None = None,
    limit_area: str | None = "inside",
    group_width: int | None = None,
    known_bounds: tuple | None = None,
) -> DataFrame:
    """Fused A3+W3: ``resample_mean(dense=True)`` followed by
    ``interpolate_time`` in ONE kernel, specialized to the uniform grid the
    resample guarantees (``lib/resampler.py:59-101`` composition).

    The composed classic plan materializes the dense wide grid, re-explodes
    it, and runs TWO full window sorts over every grid cell (rows × cols —
    450 M cells at the reference's 100 ms corpus). On a uniform grid none
    of that is needed: a null run between two valid samples is filled by
    arithmetic in the run bounds alone, so this kernel

    1. averages the non-null input cells per (bucket, column) — the same
       sparse aggregate the wide resample path uses;
    2. takes ONE ``lead()`` window over those sparse valid samples only
       (the single sort, over ~non-null-density of the grid volume);
    3. GENERATES valid and filled cells in ONE pass with
       ``explode(sequence(0, fill_n))`` — ``k=0`` emits the valid sample
       itself (bit-identical, no float ops), ``k≥1`` the blend
       ``v0 + (v1-v0)·k·step/((gap+1)·step)``, bit-identical to the
       windowed form's time-weighted blend (same long-ratio division);
    4. repivots the generated cells with one collect-to-map aggregate
       and left-joins the dense bucket spine so empty buckets appear as
       all-null rows — exactly the classic output.

    Shuffles: cell aggregate, sparse sort, repivot — the classic pair costs
    the same three PLUS the wide materialization and two dense-grid sorts.
    ``limit``/``limit_area`` follow :func:`interpolate_time` (``limit_area
    =None`` clamps ≤ ``limit`` trailing cells to the last valid value,
    bounded by the partition's grid end). Output value columns are DOUBLE
    (the mean), matching the classic composition. Fully distributed — no
    driver-side bounds collect; the only broadcast is the single global
    bounds row in the ``partition_cols=()`` case (the keyed-bounds table
    joins plain, so high-cardinality partitions never funnel through the
    driver).

    ``group_width``: the lead() window partitions by column, so one
    column's full sample history sorts in one task — fine to ~1e8
    samples/column, a scale-killer at a 100 TB corpus's years-of-10 Hz
    columns. Passing a width W (in GRID BUCKETS, e.g. one day's worth)
    re-partitions the window by ``(column, floor(bucket/W))`` — on a
    uniform grid a fixed width bounds per-task rows STRUCTURALLY (≤ W
    samples), no quantile scan needed — and carries the cross-group lead
    through a boundary table (first valid sample per non-empty group,
    |columns|·|groups| rows) joined back onto each group's last row
    only. Equivalence with the global window is locked in
    ``tests/test_resample_interpolate.py``."""
    if limit_area not in ("inside", None):
        raise ValueError("limit_area must be 'inside' or None")
    step_us = int(round(period_seconds * MICROS))
    if value_cols is None:
        value_cols = [
            c for c in df.columns if c != ts_col and c not in partition_cols
        ]
    pc = list(partition_cols)
    ib = F.floor(_us(F.col(ts_col)) / step_us).cast("long")
    arr = F.array(*[F.col(c).cast("double") for c in value_cols])
    base = df.select(*pc, ib.alias("__b"), arr.alias("__a"))
    cells = base.select(
        *pc, "__b", F.posexplode("__a").alias("__idx", "__v")
    ).where(F.col("__v").isNotNull())
    a1 = cells.groupBy(*pc, "__b", "__idx").agg(F.avg("__v").alias("__v"))

    # per-partition grid bounds from ALL input buckets (a row whose cells
    # are all null still extends the dense spine, as in resample_mean).
    # A caller that already measured the global bounds (e.g. the parse
    # stage's stats_out) passes them as ``known_bounds=(min_ts, max_ts)``
    # and the plan loses this aggregate subtree — partition_cols=() only, where the bounds
    # ARE one global row.
    if known_bounds is not None and not pc:
        lo_ts, hi_ts = known_bounds
        kb = df.sparkSession.range(1).select(
            F.floor(_us(F.lit(lo_ts).cast("timestamp")) / step_us)
            .cast("long")
            .alias("__lo"),
            F.floor(_us(F.lit(hi_ts).cast("timestamp")) / step_us)
            .cast("long")
            .alias("__hi"),
        )
    else:
        kb = base.groupBy(*pc).agg(
            F.min("__b").alias("__lo"), F.max("__b").alias("__hi")
        )

    if group_width is None:
        w = Window.partitionBy(*pc, "__idx").orderBy("__b")
        src = a1.withColumns(
            {"__nb": F.lead("__b").over(w), "__nv": F.lead("__v").over(w)}
        )
    else:
        gw = int(group_width)
        a1g = a1.withColumn("__g", F.floor(F.col("__b") / gw).cast("long"))
        wg = Window.partitionBy(*pc, "__idx", "__g").orderBy("__b")
        srcg = a1g.withColumns(
            {"__nb": F.lead("__b").over(wg), "__nv": F.lead("__v").over(wg)}
        )
        # cross-group carry: each non-empty group's FIRST valid sample;
        # lead over the (tiny) boundary table skips empty groups, so the
        # carry is exactly the next valid sample in grid order
        bnd = a1g.groupBy(*pc, "__idx", "__g").agg(
            F.min(F.struct("__b", "__v")).alias("__s")
        )
        wb = Window.partitionBy(*pc, "__idx").orderBy("__g")
        nxt = bnd.withColumn("__n", F.lead("__s").over(wb)).select(
            *pc,
            "__idx",
            "__g",
            F.col("__n.__b").alias("__cb"),
            F.col("__n.__v").alias("__cv"),
        )
        # only each group's last row needs the carry — join that thin
        # slice (|columns|·|groups| rows), never the full sample stream
        carried = (
            srcg.where(F.col("__nb").isNull())
            .join(nxt, [*pc, "__idx", "__g"], "left")
            .withColumns({"__nb": F.col("__cb"), "__nv": F.col("__cv")})
            .drop("__cb", "__cv")
        )
        src = (
            srcg.where(F.col("__nb").isNotNull())
            .unionByName(carried)
            .drop("__g")
        )
    gap = F.col("__nb") - F.col("__b") - F.lit(1)
    fill_n = gap if limit is None else F.least(gap, F.lit(int(limit)))
    # the generator COVERS the valid samples too (k=0 emits the sample
    # itself, bit-identical — no float ops touch it): a separate
    # `union(a1, gen)` branch would read the a1 exchange twice and pay a
    # second final-aggregate pass over every sparse sample (round 10;
    # measured on the 78 M / 100 ms replay profile)
    fill_n_all = F.when(F.col("__nb").isNull(), F.lit(0).cast("long")).otherwise(
        fill_n
    )
    # time-weighted blend with the SAME long/long→double ratio as the
    # windowed kernel: (k·step)/((gap+1)·step), not the simplified k/(gap+1)
    frac = (F.col("__k") * F.lit(step_us)) / (
        (gap + F.lit(1)) * F.lit(step_us)
    )
    gen = (
        src.select(
            *pc,
            "__idx",
            "__b",
            "__v",
            "__nv",
            F.col("__nb"),
            F.explode(
                F.sequence(F.lit(0).cast("long"), fill_n_all)
            ).alias("__k"),
        )
        .select(
            *pc,
            (F.col("__b") + F.col("__k")).alias("__b"),
            "__idx",
            F.when(F.col("__k") == 0, F.col("__v"))
            .otherwise(
                F.col("__v") + (F.col("__nv") - F.col("__v")) * frac
            )
            .alias("__v"),
        )
    )
    parts = [gen]
    if limit_area is None:
        # pandas forward clamp: ≤ limit cells after the last valid sample,
        # never past the partition's grid end. kb is keyed by the
        # partition cols, whose cardinality is unbounded at the 100 TB
        # target — a forced broadcast would collect it through the driver,
        # so join plain (AQE may still pick broadcast when it IS small);
        # the pc=() case is a single global row, always broadcast-safe.
        tail = src.where(F.col("__nb").isNull()).join(
            kb, pc, "inner"
        ) if pc else src.where(F.col("__nb").isNull()).crossJoin(F.broadcast(kb))
        tgap = F.col("__hi") - F.col("__b")
        tn = tgap if limit is None else F.least(tgap, F.lit(int(limit)))
        trail = (
            tail.where(tgap >= 1)
            .select(
                *pc,
                "__idx",
                "__b",
                "__v",
                F.explode(F.sequence(F.lit(1).cast("long"), tn)).alias("__k"),
            )
            .select(
                *pc,
                (F.col("__b") + F.col("__k")).alias("__b"),
                "__idx",
                "__v",
            )
        )
        parts.append(trail)
    filled = parts[0]
    for p in parts[1:]:
        filled = filled.unionByName(p)
    # repartition on the aggregate key BEFORE the repivot: the generated
    # cells explode up to (limit)× out of the window stage's partitions
    # (keyed by column, not bucket), so the map-side partial aggregate
    # would otherwise buffer a whole task's exploded output in its
    # sort-based fallback — observed >100 M records in one task at the
    # 100 ms grid. After the explicit hash exchange every task aggregates
    # exactly its own buckets' cells.
    filled = filled.repartition(*pc, "__b")
    mapped = filled.groupBy(*pc, "__b").agg(
        F.map_from_entries(F.collect_list(F.struct("__idx", "__v"))).alias("__m")
    )
    # two-level spine: chunk starts first (tiny), then the per-chunk range
    # AFTER a repartition — a year of sub-second grid (1e9 buckets) must
    # not be generated by one task. The join is pinned to sort-merge:
    # Catalyst's size estimate for the exploded/aggregated map side is
    # unreliable and a "small" guess would broadcast-collect the whole
    # filled grid through the driver (observed: >1 GiB at the 100 ms
    # grid); neither side of a grid join is ever broadcastable at scale.
    chunk = 1 << 16
    spine = (
        kb.select(
            *pc,
            F.col("__hi"),
            F.explode(
                F.sequence(F.col("__lo"), F.col("__hi"), F.lit(chunk))
            ).alias("__c0"),
        )
        .repartition(*([*pc, "__c0"] if pc else ["__c0"]))
        .select(
            *pc,
            F.explode(
                F.sequence(
                    F.col("__c0"),
                    F.least(F.col("__c0") + F.lit(chunk - 1), F.col("__hi")),
                )
            ).alias("__b"),
        )
    )
    return spine.join(mapped.hint("merge"), [*pc, "__b"], "left").select(
        *pc,
        F.timestamp_micros((F.col("__b") * F.lit(step_us))).alias(ts_col),
        *[F.col("__m").getItem(i).alias(c) for i, c in enumerate(value_cols)],
    )


def asfreq(
    df: DataFrame,
    period_seconds: float,
    ts_col: str = "timestamp",
    partition_cols: Sequence[str] = (),
    known_bounds: tuple | None = None,
) -> DataFrame:
    """W7: ``asfreq`` — snap to an exact constant-frequency grid
    (``lib/unifier_with_forecast_data.py:42-46``): rows at missing ticks are
    all-null; data at off-grid timestamps is dropped (exact-match join).

    ``known_bounds`` (r14, guide §2.4): ``(lo, hi)`` datetimes equal to
    ``df``'s exact ``ts_col`` min/max (e.g. carried forward from an
    upstream resample's grid bounds) skip the bounds aggregate — one
    full-input job dropped. ``(None, None)`` means "caller measured an
    empty frame"."""
    spark = df.sparkSession
    if partition_cols:
        raise NotImplementedError("per-series asfreq: resample_mean(dense=True)")
    if known_bounds is not None:
        lo, hi = known_bounds
        if lo is None:
            return df
    else:
        row = df.agg(F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi")).first()
        if row is None or row["lo"] is None:
            return df
        lo, hi = row["lo"], row["hi"]
    spine = time_spine(spark, lo, hi, period_seconds, ts_col)
    return spine.join(df, ts_col, "left")


def dedup_keep_first(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """W5: ``df[~df.index.duplicated()]`` — keep the first row per key in
    the given order (``lib/unifier_with_forecast_data.py:41``)."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    ts_col: str = "timestamp",
    start_col: str = "start",
    end_col: str = "end",
    chunk_seconds: float | str = "auto",
) -> DataFrame:
    """Point-in-interval join (inclusive ``[start, end]``) without the
    nested-loop product Spark plans for a raw range predicate.

    Scale shape: every interval EXPLODES across the fixed-width time
    chunks it overlaps, every point maps to its chunk, and the match is a
    plain equi-join on the chunk id followed by the exact containment
    filter — candidate volume is |points| + Σ⌈interval_len/chunk⌉ instead
    of |points|·|intervals|, and both sides shuffle-partition on the chunk
    key like any hash join. ``chunk_seconds`` should sit near the typical
    interval length: much smaller multiplies the interval-side explode,
    much larger packs too many candidates per chunk. The default
    ``"auto"`` reads the median interval length from a one-row
    ``approx_percentile`` aggregate (bounded driver-side control flow,
    like the other 1-row bounds collects in this package) and clamps it
    to [1 s, 30 d]; pass a number to pin it.

    Returns all point columns plus the matching interval's columns
    (inner join; points in no interval drop, points in several match
    each). The two sides must have DISJOINT column names (no implicit
    aliasing happens here): a shared name would come out ambiguous or
    duplicated, so it is rejected up front."""
    clash = set(points.columns) & set(intervals.columns)
    if clash:
        raise ValueError(
            "interval_join requires disjoint column names; shared: "
            f"{sorted(clash)} — rename one side before joining"
        )
    if isinstance(chunk_seconds, str) and chunk_seconds != "auto":
        raise ValueError(
            f"chunk_seconds must be a number or 'auto', got {chunk_seconds!r}"
        )
    if chunk_seconds == "auto":
        # NOTE: this is an EAGER one-row Spark job at plan-construction
        # time, and the intervals lineage is evaluated a second time by
        # the join itself — cache()/localCheckpoint() intervals first if
        # its lineage is expensive or non-deterministic.
        row = intervals.agg(
            F.expr(
                f"approx_percentile((unix_micros({end_col}) - "
                f"unix_micros({start_col})) / 1000000.0, 0.5)"
            ).alias("__med")
        ).first()
        med = row["__med"] if row is not None else None
        chunk_seconds = min(max(float(med), 1.0), 30 * 86400.0) if med else 3600.0
    us = int(chunk_seconds * MICROS)
    p = points.withColumn("__chunk", (_us(F.col(ts_col)) / us).cast("long"))
    iv = intervals.withColumn(
        "__chunk",
        F.explode(
            F.sequence(
                (_us(F.col(start_col)) / us).cast("long"),
                (_us(F.col(end_col)) / us).cast("long"),
            )
        ),
    )
    out = p.join(iv, "__chunk").where(
        F.col(ts_col).between(F.col(start_col), F.col(end_col))
    )
    return out.drop("__chunk")


def unify_chunks(
    target: DataFrame,
    reference: DataFrame,
    ts_col: str = "timestamp",
) -> DataFrame:
    """J5 (``lib/unify_parsed_candump.py:13-27``): clip ``reference`` to the
    [min, max] timestamp range of ``target``, union by name, sort."""
    bounds = target.agg(
        F.min(ts_col).alias("__lo"), F.max(ts_col).alias("__hi")
    )
    clipped = (
        reference.crossJoin(F.broadcast(bounds))
        .where(F.col(ts_col).between(F.col("__lo"), F.col("__hi")))
        .drop("__lo", "__hi")
    )
    return target.unionByName(clipped, allowMissingColumns=True).orderBy(ts_col)


def clean_timestamp_outliers(
    df: DataFrame,
    ts_col: str = "timestamp",
    lag_rows: int = 10_000,
    threshold_ns: float = 1e11,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """W2 (``lib/canparser.py:244-260``): drop rows whose timestamp minus
    the timestamp ``lag_rows`` earlier falls in ±[threshold, 10*threshold)
    ns. The first ``lag_rows`` rows are exempt (diff treated as 0)."""
    w = Window.partitionBy(*partition_cols).orderBy(ts_col)
    diff_ns = (
        (_us(F.col(ts_col)) - _us(F.lag(ts_col, lag_rows).over(w))) * 1000
    ).cast("double")
    diff_ns = F.coalesce(diff_ns, F.lit(0.0))
    lo, hi = float(threshold_ns), float(10 * threshold_ns)
    outlier = ((diff_ns < -lo) & (diff_ns > -hi)) | ((diff_ns > lo) & (diff_ns < hi))
    return (
        df.withColumn("__outlier", outlier)
        .where(~F.col("__outlier"))
        .drop("__outlier")
    )


def iqr_clip(
    df: DataFrame,
    value_cols: Sequence[str],
    percentile: float = 0.01,
    factor: float = 1.5,
    exact: bool = False,
) -> DataFrame:
    """A5 (``lib/resampler.py:49-56``): IQR-based outlier nulling — values
    outside [q1 - f*iqr, q3 + f*iqr] become null. (The reference computes
    this but ships with the call commented out; exposed here behind an
    explicit call for the same reason.) ``exact=False`` uses
    ``percentile_approx`` — the scalable lazy choice; ``exact=True`` runs
    the bounded-memory selection kernel (`skew.exact_quantile_cont`) per
    column eagerly at call time — Spark's own exact ``percentile`` agg
    would funnel a value→count map of every distinct value through one
    reducer, an OOM at scale."""
    if exact:
        from solarboat_data_pipeline_spark.operators.skew import (
            exact_quantile_cont,
        )

        updates = {}
        for c in value_cols:
            q1, q3 = exact_quantile_cont(df, c, [percentile, 1 - percentile])
            if q1 is None:
                continue  # all-null column: nothing to clip
            iqr = q3 - q1
            updates[c] = F.when(
                F.col(c).between(q1 - factor * iqr, q3 + factor * iqr),
                F.col(c),
            )
        return df.withColumns(updates)
    aggs = []
    for c in value_cols:
        aggs.append(
            F.expr(f"percentile_approx({c}, {percentile})").alias(f"__q1_{c}")
        )
        aggs.append(
            F.expr(f"percentile_approx({c}, {1 - percentile})").alias(
                f"__q3_{c}"
            )
        )
    bounds = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(bounds))
    updates = {}
    for c in value_cols:
        q1, q3 = F.col(f"__q1_{c}"), F.col(f"__q3_{c}")
        iqr = q3 - q1
        lo, hi = q1 - factor * iqr, q3 + factor * iqr
        updates[c] = F.when(F.col(c).between(lo, hi), F.col(c))
    return out.withColumns(updates).drop(
        *[f"__q1_{c}" for c in value_cols], *[f"__q3_{c}" for c in value_cols]
    )


def _union_for_asof(
    left: DataFrame,
    right: DataFrame,
    on: str,
    value_cols: Sequence[str],
    partition_cols: Sequence[str],
) -> DataFrame:
    """Tag-and-union both sides on a common schema for as-of windows.

    The classic scalable as-of plan: instead of a range join (quadratic
    blow-up) the two sides are unioned and a single ordered window carries
    right-side values onto left rows. One shuffle + one sort per partition.
    """
    l_keep = [c for c in left.columns if c not in value_cols]
    lhs = left.select(
        *l_keep,
        F.lit(1).alias("__src"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in value_cols],
    )
    rhs = right.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            if c not in partition_cols and c != on
            else F.col(c)
            for c in l_keep
        ],
        F.lit(0).alias("__src"),
        *[F.col(c) for c in value_cols],
    )
    return lhs.unionByName(rhs)


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: str = "timestamp",
    value_cols: Sequence[str] | None = None,
    partition_cols: Sequence[str] = (),
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """J4: backward (ffill) as-of join — each left row gets the most recent
    right-side values at-or-before its timestamp
    (``lib/process_gpx_data.py:158-171``'s ``reindex(method="ffill")``)."""
    if value_cols is None:
        value_cols = [
            c for c in right.columns if c != on and c not in partition_cols
        ]
    u = _union_for_asof(left, right, on, value_cols, partition_cols)
    # right rows sort before left rows at the same timestamp → ties match
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col(on), F.col("__src"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    picks = {c: F.last(c, ignorenulls=True).over(w) for c in value_cols}
    if tolerance_seconds is not None:
        ref_ts = F.last(
            F.when(F.col("__src") == 0, _us(F.col(on))), ignorenulls=True
        ).over(w)
        ok = (_us(F.col(on)) - ref_ts) <= int(tolerance_seconds * MICROS)
        picks = {c: F.when(ok, picks[c]) for c in value_cols}
    return u.withColumns(picks).where(F.col("__src") == 1).drop("__src")


def asof_join_linear(
    left: DataFrame,
    right: DataFrame,
    on: str = "timestamp",
    value_cols: Sequence[str] | None = None,
    partition_cols: Sequence[str] = (),
    clamp_forward: bool = True,
) -> DataFrame:
    """True interpolating as-of join: each left row gets the time-weighted
    linear blend of the surrounding right-side samples (exact matches pass
    through; after the last right sample values clamp forward when
    ``clamp_forward`` — pandas ``interpolate(method="linear")`` default —
    else null; before the first right sample: null, no extrapolation)."""
    if value_cols is None:
        value_cols = [
            c for c in right.columns if c != on and c not in partition_cols
        ]
    u = _union_for_asof(left, right, on, value_cols, partition_cols)
    # materialize the total order once, then run both directions as RUNNING
    # frames — a [current, unboundedFollowing) frame would be O(n²) per
    # partition (see interpolate_time)
    rn = F.row_number().over(
        Window.partitionBy(*partition_cols).orderBy(F.col(on), F.col("__src"))
    )
    u = u.withColumn("__rn", rn)
    w_prev = (
        Window.partitionBy(*partition_cols)
        .orderBy("__rn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col("__rn").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ts_us = _us(F.col(on))
    picks = {}
    for c in value_cols:
        v = F.col(c)
        prev_v = F.last(v, ignorenulls=True).over(w_prev)
        next_v = F.last(v, ignorenulls=True).over(w_next)
        prev_ts = F.last(F.when(v.isNotNull(), ts_us), ignorenulls=True).over(w_prev)
        next_ts = F.last(F.when(v.isNotNull(), ts_us), ignorenulls=True).over(w_next)
        blend = F.when(
            next_ts == prev_ts, prev_v
        ).otherwise(prev_v + (next_v - prev_v) * (ts_us - prev_ts) / (next_ts - prev_ts))
        expr = F.when(prev_v.isNotNull() & next_v.isNotNull(), blend)
        if clamp_forward:
            expr = expr.when(prev_v.isNotNull() & next_v.isNull(), prev_v)
        picks[c] = expr
    return u.withColumns(picks).where(F.col("__src") == 1).drop("__src", "__rn")


def reindex_interpolate(
    left_grid: DataFrame,
    right: DataFrame,
    on: str = "timestamp",
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """J3 parity (``lib/unifier_with_forecast_data.py:69-73``): pandas
    ``reindex(index=left, method=None).interpolate(method="linear")``.

    Note the reference semantics: right-side rows whose timestamp is NOT
    exactly on the left grid are **discarded**; interpolation runs between
    the surviving exact matches only (positional linear — identical to
    time-linear on the reference's uniform grid, which is what this
    implements)."""
    if value_cols is None:
        value_cols = [c for c in right.columns if c != on]
    matched = left_grid.select(on).join(right, on, "left")
    return interpolate_time(
        matched, ts_col=on, value_cols=value_cols, limit_area=None
    )


def sessionize(
    df: DataFrame,
    ts_col: str = "timestamp",
    gap_seconds: float = 1800.0,
    partition_cols: Sequence[str] = (),
    out_col: str = "session_id",
) -> DataFrame:
    """Assign session ids: a new session starts when the gap to the
    previous event (per partition, in time order) exceeds ``gap_seconds``.
    Classic lag + running-sum-of-boundaries composition — one sort per
    partition, no state beyond the window."""
    w = Window.partitionBy(*partition_cols).orderBy(ts_col)
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    gap_us = int(gap_seconds * MICROS)
    prev = F.lag(ts_col).over(w)
    new_session = F.when(
        prev.isNull() | ((_us(F.col(ts_col)) - _us(prev)) > gap_us), 1
    ).otherwise(0)
    return df.withColumn(out_col, F.sum(new_session).over(w_cum))


def cumulative_sum(
    df: DataFrame,
    col: str,
    out_col: str,
    order_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """A6: running total skipping nulls (``np.nancumsum``,
    ``lib/process_gpx_data.py:71``)."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out_col, F.sum(F.coalesce(F.col(col), F.lit(0.0))).over(w))


def trapezoid_integral(
    df: DataFrame,
    col: str,
    out_col: str,
    ts_col: str = "timestamp",
    time_constant: float = 3600.0,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """A7: running trapezoid integral (``scipy.integrate.cumtrapz``,
    ``lib/process_solcast_historic_data.py:7-17``): Σ (vᵢ+vᵢ₋₁)/2·Δtᵢ with
    Δt in units of ``time_constant`` seconds (3600 → value·hours)."""
    w_lag = Window.partitionBy(*partition_cols).orderBy(ts_col)
    w_sum = w_lag.rowsBetween(Window.unboundedPreceding, 0)
    v, pv = F.col(col), F.lag(col).over(w_lag)
    dt = (_us(F.col(ts_col)) - _us(F.lag(ts_col).over(w_lag))) / MICROS / time_constant
    step = F.coalesce((v + pv) / 2 * dt, F.lit(0.0))
    return df.withColumn("__step", step).withColumn(
        out_col, F.sum("__step").over(w_sum)
    ).drop("__step")


def rolling_time_stats(
    df: DataFrame,
    value_col: str,
    window_seconds: float,
    ts_col: str = "timestamp",
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Trailing EVENT-TIME rolling statistics: for every row, the
    mean/min/max/count of ``value_col`` over the same series' rows in
    the inclusive interval ``[ts − window, ts]`` — the classic
    sensor-smoothing / anomaly-baseline window. Unlike ``w2``'s lag-k
    (a fixed ROW count) or ``a3``'s resample (a fixed output grid),
    the frame here is a TIME RANGE around each input row, expressed as
    a native ``rangeBetween`` over microsecond epochs: no self-join,
    no explode, one sort per series partition, microsecond-exact
    boundaries.

    Adds ``roll_mean`` / ``roll_min`` / ``roll_max`` / ``roll_n``.

    100 TB: ``partition_cols`` bounds the sort to one series per task
    (the usual many-series telemetry shape). A single giant
    unpartitioned series would need the range-bucketed treatment with
    ``window``-wide overlap reads — not provided here; partition or
    pre-bucket first."""
    if window_seconds <= 0:
        raise ValueError(f"window_seconds must be positive, got {window_seconds}")
    # round, don't truncate: 0.3 * 1e6 is 299999.99999999994 in binary
    # floating point — int() would silently shrink the frame by 1 µs and
    # exclude rows spaced exactly at the window width
    win_us = round(window_seconds * 1_000_000)
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(_us(F.col(ts_col)))
        .rangeBetween(-win_us, 0)
    )
    v = F.col(value_col)
    return (
        df.withColumn("roll_mean", F.avg(v).over(w))
        .withColumn("roll_min", F.min(v).over(w))
        .withColumn("roll_max", F.max(v).over(w))
        .withColumn("roll_n", F.count(v).over(w))
    )
