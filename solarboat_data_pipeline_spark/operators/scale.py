"""Scale path for single-series ordered operators: bucketed scan + carry.

The kernels in :mod:`.timeseries` take ``partition_cols``; with a natural
series key (device, day) every window partitions and scales for free. The
reference pipeline, though, is ONE series — a single boat's clock — and a
``Window.orderBy(ts)`` with no partition funnels the whole table through one
task ("WARN WindowExec: No Partition Defined"). Fine at 10⁷ rows, fatal at
100 TB.

This module re-expresses the ordered scans as the classic two-pass
distributed prefix algorithm:

1. **bucket** — assign each row a contiguous time bucket ``__bkt`` from
   approx-quantile boundaries of the order key (density-balanced, so skewed
   clocks don't produce straggler buckets; the boundaries are embedded as
   plan literals so everything downstream is deterministic);
2. **local scan** — run the window partitioned by ``__bkt`` (N parallel
   sorts of ~|data|/N rows each);
3. **carry** — reduce each bucket to one summary row (its last running
   value), run the same scan over the ≤``num_buckets`` summary rows (tiny —
   this is the only single-partition window left, over at most a few
   thousand rows), and broadcast the per-bucket carry-in back;
4. **merge** — ``coalesce(local, carry_in)`` / ``local + carry_in``.

Results are bit-identical to the global-window forms for fill/blend/lag
operators (same expression trees, same tie order). Running *float* sums
(``cumulative_sum``, ``trapezoid_integral``) reassociate additions across
the bucket boundary — equal up to float rounding, exact for integers.

The quantile pre-pass is one extra scan of the order column; callers that
already know their time range can pass ``bounds`` (a list of epoch-µs
boundaries, e.g. one per day) and skip it — at 100 TB you would derive
bounds from partition metadata (min/max per parquet partition), not a scan.

No analogue exists in the reference (it never distributes an ordered scan;
per-file ``multiprocessing.Pool`` at ``lib/canparser.py:406-417`` is its
only parallelism) — this is the 1000-executor design the reference defers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .timeseries import (
    MICROS,
    WIDE_INTERPOLATE_MAX_COLS,
    _union_for_asof,
    _us,
)

BUCKET = "__bkt"


def _default_buckets(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))


def compute_bounds(
    df: DataFrame,
    ts_col: str,
    num_buckets: int,
    relative_error: float = 1e-3,
) -> list[int]:
    """Approx-quantile bucket boundaries (epoch µs) for the order key."""
    probs = [i / num_buckets for i in range(1, num_buckets)]
    if not probs:
        return []
    qdf = df.select(_us(F.col(ts_col)).cast("double").alias("__k"))
    raw = qdf.approxQuantile("__k", probs, relative_error)
    return sorted({int(b) for b in raw})


def _stat_to_us(v) -> int:
    """Parquet column statistic → epoch µs int. Timestamp stats arrive as
    pandas Timestamps (ns resolution); raw int64 stats pass through."""
    ns = getattr(v, "value", None)  # pandas Timestamp
    if ns is not None:
        return int(ns) // 1000
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo or _dt.timezone.utc)
        return int((v.replace(tzinfo=epoch.tzinfo) - epoch).total_seconds() * MICROS)
    return int(v)


def bounds_from_parquet_metadata(
    path: str,
    ts_col: str,
    num_buckets: int,
    int_divisor: int = 1,
) -> list[int] | None:
    """Bucket boundaries (epoch µs) from parquet FOOTER statistics only —
    zero data scanned. This is the 100 TB form of :func:`compute_bounds`:
    a petabyte table has thousands of row groups, and their per-group
    ``(min, max, rows)`` triples define a piecewise-uniform CDF of the
    order key that footer reads alone can invert into density-balanced
    cuts. At the test SFs a file is a single row group, so the CDF
    degenerates to linear cuts over ``[min, max]`` — still scan-free, and
    bucket balance only affects speed, never results (the carry algebra is
    bucket-count-independent; see module docstring).

    ``path`` may be one parquet file or a directory of part files.
    ``int_divisor`` converts raw int64 stats to µs (e.g. 1000 for an
    epoch-ns BIGINT column); timestamp-typed stats convert automatically.
    Returns ``None`` when any row group lacks min/max stats — callers fall
    back to the quantile scan.
    """
    import os as _os

    try:
        import pyarrow.parquet as _pq
    except ImportError:  # pragma: no cover
        return None
    if _os.path.isdir(path):
        files = sorted(
            _os.path.join(r, f)
            for r, _, fs in _os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )
    else:
        files = [path]
    if not files:
        return None
    segs: list[tuple[int, int, int]] = []
    for fp in files:
        md = _pq.ParquetFile(fp).metadata
        names = [md.schema.column(i).name for i in range(len(md.schema))]
        try:
            ci = names.index(ts_col)
        except ValueError:
            return None
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            st = rgm.column(ci).statistics
            if st is None or not st.has_min_max:
                return None
            lo = _stat_to_us(st.min) // int_divisor
            hi = _stat_to_us(st.max) // int_divisor
            segs.append((lo, hi, rgm.num_rows))
    total = sum(n for _, _, n in segs)
    if total == 0:
        return []
    g_lo = min(lo for lo, _, _ in segs)
    g_hi = max(hi for _, hi, _ in segs)

    def cdf(t: float) -> float:
        acc = 0.0
        for lo, hi, n in segs:
            if t >= hi:
                acc += n
            elif t > lo:
                acc += n * (t - lo) / (hi - lo)
        return acc

    bounds: set[int] = set()
    for i in range(1, num_buckets):
        target = total * i / num_buckets
        a, z = float(g_lo), float(g_hi)
        for _ in range(64):
            mid = (a + z) / 2
            if cdf(mid) < target:
                a = mid
            else:
                z = mid
        cut = int(round((a + z) / 2))
        if g_lo < cut <= g_hi:
            bounds.add(cut)
    return sorted(bounds)


def with_buckets(
    df: DataFrame,
    ts_col: str,
    num_buckets: int | None = None,
    bounds: Sequence[int] | None = None,
) -> DataFrame:
    """Add the contiguous range-bucket id ``__bkt``.

    Equal order keys always land in the same bucket (assignment depends on
    the key value only), so bucket boundaries can never split a tie group —
    a requirement for the carry math to reproduce global-window semantics.
    """
    if bounds is None:
        bounds = compute_bounds(df, ts_col, num_buckets or _default_buckets(df))
    k = _us(F.col(ts_col))
    bkt = F.lit(0)
    for b in sorted(bounds):
        # boundary CASE chain stays inside whole-stage codegen; a few dozen
        # comparisons per row beat any interpreted array search
        bkt = bkt + F.when(k >= F.lit(int(b)), 1).otherwise(0)
    return df.withColumn(BUCKET, bkt)


def _ordering(order_cols: Sequence[str | Column], desc: bool) -> list[Column]:
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    return [c.desc() for c in cols] if desc else cols


def _lv_struct(order: Sequence[Column], e: Column) -> Column:
    """Key-ordered struct carrying ``e``: struct compare on the order keys
    picks the extreme row; the trailing value field rides along (and breaks
    full ties — tie-arbitrary, like every running ``last(ignorenulls)``)."""
    ks = [k.alias(f"k{i}") for i, k in enumerate(order)]
    return F.struct(*ks, e.alias("v"))


def _attach_carries(
    b: DataFrame,
    order_cols: Sequence[str | Column],
    fwd: dict[str, Column],
    bwd: dict[str, Column] | None = None,
    want_count: bool = False,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Join per-bucket carry-in columns onto ``b`` for a set of fill
    expressions, computed WITHOUT consuming any window output.

    The per-bucket "last non-null value of ``e`` in order" is
    ``max(when(e not null, struct(order…, e)))`` — a plain aggregate over
    the bucketed base, so Spark's partial aggregation collapses the summary
    branch to scan + map-side combine + a ≤num_buckets-row shuffle. No
    sort, no window, no recompute of other operators. (The naive
    formulation — aggregate the *running-fill window output* — re-executes
    the whole upstream window chain per summary branch: AQE cannot reuse
    the exchange because partial aggregation rewrites the build-side
    subtree below it.)

    Adds ``__c_{name}`` = carry-in (the fill value entering the bucket from
    previous buckets; next buckets for ``bwd``), and with ``want_count``
    ``__off`` = exclusive prefix of bucket row counts and ``__n`` = the
    bucket's own row count.

    ``partition_cols`` generalizes the machinery to many independent
    series in one frame (the long-format telemetry shape): summaries
    group by (partition, bucket), the carry scans run per partition, and
    the broadcast join keys on both. The carry table grows to
    |partitions|·num_buckets rows — still tiny next to the data.
    """
    pc = list(partition_cols)
    order = _ordering(order_cols, desc=False)
    bwd = bwd or {}
    # a null e yields a null struct (when() with no otherwise), which
    # max/min skip — so the extreme is taken over valid rows only
    aggs = [
        F.max(F.when(e.isNotNull(), _lv_struct(order, e))).alias(n)
        for n, e in fwd.items()
    ] + [
        F.min(F.when(e.isNotNull(), _lv_struct(order, e))).alias(n)
        for n, e in bwd.items()
    ]
    if want_count:
        aggs.append(F.count(F.lit(1)).alias("__n"))
    summary = b.groupBy(*pc, BUCKET).agg(*aggs)
    # the only "global" windows left run over ≤|partitions|·num_buckets
    # summary rows
    w_f = (
        Window.partitionBy(*pc)
        .orderBy(BUCKET)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_b = (
        Window.partitionBy(*pc)
        .orderBy(F.col(BUCKET).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sel = [*[F.col(c) for c in pc], F.col(BUCKET)]
    for n in fwd:
        sel.append(F.last(n, ignorenulls=True).over(w_f)["v"].alias(f"__c_{n}"))
    for n in bwd:
        sel.append(F.last(n, ignorenulls=True).over(w_b)["v"].alias(f"__c_{n}"))
    if want_count:
        sel.append(F.col("__n"))
        sel.append(F.coalesce(F.sum("__n").over(w_f), F.lit(0)).alias("__off"))
    carry = summary.select(*sel)
    return b.join(F.broadcast(carry), [*pc, BUCKET], "left")


def _run_fill(
    b: DataFrame,
    order_cols: Sequence[str | Column],
    fwd: dict[str, Column],
    bwd: dict[str, Column] | None = None,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Data-side pass: bucket-local running fills merged with the carries
    attached by :func:`_attach_carries`. Forward fills run in one window,
    backward fills in a second over the same partitioning (an in-partition
    re-sort, not a new shuffle — the chain is linear, no diamond)."""
    pc = list(partition_cols)
    bwd = bwd or {}
    w_fwd = (
        Window.partitionBy(*pc, BUCKET)
        .orderBy(*_ordering(order_cols, desc=False))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_bwd = (
        Window.partitionBy(*pc, BUCKET)
        .orderBy(*_ordering(order_cols, desc=True))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = b.withColumns(
        {
            n: F.coalesce(
                F.last(e, ignorenulls=True).over(w_fwd), F.col(f"__c_{n}")
            )
            for n, e in fwd.items()
        }
    )
    out = out.withColumns(
        {
            n: F.coalesce(
                F.last(e, ignorenulls=True).over(w_bwd), F.col(f"__c_{n}")
            )
            for n, e in bwd.items()
        }
    )
    return out.drop(*[f"__c_{n}" for n in list(fwd) + list(bwd)])


def _scan_sum(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    exprs: dict[str, Column],
) -> DataFrame:
    """For each ``name → expr`` add the running sum of ``expr`` over the
    global order: local running sum + exclusive prefix of bucket totals."""
    order = _ordering(order_cols, desc=False)
    w_local = (
        Window.partitionBy(BUCKET)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df.withColumns({n: F.sum(e).over(w_local) for n, e in exprs.items()})
    totals = df.groupBy(BUCKET).agg(
        *[F.sum(e).alias(n) for n, e in exprs.items()]
    )
    w_prefix = Window.orderBy(BUCKET).rowsBetween(Window.unboundedPreceding, -1)
    prefix = totals.select(
        BUCKET,
        *[F.sum(n).over(w_prefix).alias(f"__prefix_{n}") for n in exprs],
    )
    out = out.join(F.broadcast(prefix), BUCKET, "left")
    out = out.withColumns(
        {
            n: F.col(n) + F.coalesce(F.col(f"__prefix_{n}"), F.lit(0))
            for n in exprs
        }
    )
    return out.drop(*[f"__prefix_{n}" for n in exprs])


def _scan_lag1(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    exprs: dict[str, Column],
) -> DataFrame:
    """For each ``name → expr`` add ``expr`` evaluated at the previous row
    in global order (row-wise lag(1), NOT ignorenulls): local lag, with the
    previous bucket's literal last-row value carried into each bucket's
    first row."""
    order = _ordering(order_cols, desc=False)
    w_local = Window.partitionBy(BUCKET).orderBy(*order)
    rn_local = F.row_number().over(w_local)
    staged = df.withColumn("__rnl", rn_local).withColumns(
        {f"__raw_{n}": e for n, e in exprs.items()}
    )
    # literal value at each bucket's last row (may be null — lag semantics)
    last_row = staged.groupBy(BUCKET).agg(
        *[
            F.max(F.struct(F.col("__rnl").alias("r"), F.col(f"__raw_{n}").alias("v")))
            .alias(n)
            for n in exprs
        ]
    )
    w_prev_bucket = Window.orderBy(BUCKET)
    carry = last_row.select(
        BUCKET,
        *[
            F.lag(F.col(n)["v"]).over(w_prev_bucket).alias(f"__carry_{n}")
            for n in exprs
        ],
    )
    out = staged.join(F.broadcast(carry), BUCKET, "left")
    out = out.withColumns(
        {
            n: F.when(
                F.col("__rnl") == 1, F.col(f"__carry_{n}")
            ).otherwise(F.lag(f"__raw_{n}").over(w_local))
            for n in exprs
        }
    )
    return out.drop(
        "__rnl",
        *[f"__raw_{n}" for n in exprs],
        *[f"__carry_{n}" for n in exprs],
    )


# ---------------------------------------------------------------------------
# public operators — signatures mirror .timeseries, semantics identical
# ---------------------------------------------------------------------------


def global_rank(
    df: DataFrame,
    out_col: str = "pos",
    ts_col: str = "timestamp",
    tiebreak_cols: Sequence[str] = (),
    num_buckets: int | None = None,
    bounds: Sequence[int] | None = None,
) -> DataFrame:
    """W6 at scale: 1-based position in the global (ts, tiebreaks) order
    WITHOUT a single-task window — bucket-local ``row_number`` plus the
    broadcast exclusive prefix of bucket row counts. The classic
    distributed total-order rank (what a global sort's output numbering
    would be), every stage a plain shuffle/aggregate."""
    b = with_buckets(df, ts_col, num_buckets, bounds)
    order = [ts_col, *tiebreak_cols]
    b = _attach_carries(b, order, {}, None, want_count=True)
    w = Window.partitionBy(BUCKET).orderBy(*_ordering(order, desc=False))
    return (
        b.withColumn(out_col, F.row_number().over(w) + F.col("__off"))
        .drop(BUCKET, "__n", "__off")
    )


def cumulative_sum(
    df: DataFrame,
    col: str,
    out_col: str,
    ts_col: str = "timestamp",
    tiebreak_cols: Sequence[str] = (),
    num_buckets: int | None = None,
    bounds: Sequence[int] | None = None,
) -> DataFrame:
    """A6 at scale: null-skipping running total over global time order.

    ``tiebreak_cols`` fix the order within equal timestamps (bucket
    assignment stays on the time key alone, so tie groups never split)."""
    b = with_buckets(df, ts_col, num_buckets, bounds)
    order = [ts_col, *tiebreak_cols]
    b = _scan_sum(b, order, {out_col: F.coalesce(F.col(col), F.lit(0.0))})
    return b.drop(BUCKET)


def sessionize(
    df: DataFrame,
    ts_col: str = "timestamp",
    gap_seconds: float = 1800.0,
    out_col: str = "session_id",
    tiebreak_cols: Sequence[str] = (),
    num_buckets: int | None = None,
    bounds: Sequence[int] | None = None,
) -> DataFrame:
    """Gap sessionization at scale: lag across bucket boundaries via the
    previous bucket's max timestamp; session ids are an exact (integer)
    distributed running sum of boundary flags."""
    gap_us = int(gap_seconds * MICROS)
    order = [ts_col, *tiebreak_cols]
    b = with_buckets(df, ts_col, num_buckets, bounds)
    b = _scan_lag1(b, order, {"__prev_ts": F.col(ts_col)})
    new_session = F.when(
        F.col("__prev_ts").isNull()
        | ((_us(F.col(ts_col)) - _us(F.col("__prev_ts"))) > gap_us),
        1,
    ).otherwise(0)
    b = _scan_sum(b, order, {out_col: new_session})
    return b.withColumn(out_col, F.col(out_col).cast("long")).drop(
        BUCKET, "__prev_ts"
    )


def trapezoid_integral(
    df: DataFrame,
    col: str,
    out_col: str,
    ts_col: str = "timestamp",
    time_constant: float = 3600.0,
    tiebreak_cols: Sequence[str] = (),
    num_buckets: int | None = None,
    bounds: Sequence[int] | None = None,
) -> DataFrame:
    """A7 at scale: running trapezoid integral; per-row steps come from a
    carried lag(1), the prefix from a distributed running sum."""
    order = [ts_col, *tiebreak_cols]
    b = with_buckets(df, ts_col, num_buckets, bounds)
    b = _scan_lag1(
        b, order, {"__pv": F.col(col), "__pts": _us(F.col(ts_col))}
    )
    dt = (_us(F.col(ts_col)) - F.col("__pts")) / MICROS / time_constant
    step = F.coalesce((F.col(col) + F.col("__pv")) / 2 * dt, F.lit(0.0))
    b = _scan_sum(b, order, {out_col: step})
    return b.drop(BUCKET, "__pv", "__pts")


def interpolate_time(
    df: DataFrame,
    ts_col: str = "timestamp",
    value_cols: Sequence[str] | None = None,
    limit: int | None = None,
    limit_area: str | None = "inside",
    num_buckets: int | None = None,
    bounds: Sequence[int] | None = None,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """W3/W4 at scale: same pandas ``interpolate(method="time")`` semantics
    as :func:`timeseries.interpolate_time`, with the previous-valid and
    next-valid scans bucket-distributed. All value columns share one
    summary aggregate and two data-side windows (one sort order each).

    ``limit`` additionally needs each row's position inside its null run —
    a global row-number affair. Cross-bucket positions are derived from two
    more cheap aggregate branches over the base (bucket row counts and
    trailing-null counts), never from re-running a window.

    The form follows :func:`timeseries.interpolate_time`: the wide
    form pays 4 carry exprs per value column, so past
    ``WIDE_INTERPOLATE_MAX_COLS`` columns (a 233-signal telemetry table)
    it switches to the long plan — unpivot, ONE bucketed
    interpolation partitioned by (series, ``__name``), repivot — keeping
    the carry machinery per (name, bucket) instead of fanning expressions
    out per column. ``partition_cols`` scopes every scan to independent
    series within the same frame.

    Duplicate order keys are outside the contract (the reference's pandas
    ``reindex`` raises on them; :func:`timeseries.dedup_keep_first`
    first). The kernel never hard-fails on ties — a degenerate bracket
    fills with ``prev_v``, same guard as the global kernel and the as-of
    linear twins — but tie neighbor choice is plan-order-dependent."""
    pc = list(partition_cols)
    if value_cols is None:
        value_cols = [c for c in df.columns if c != ts_col and c not in pc]
    if limit_area not in ("inside", None):
        raise ValueError("limit_area must be 'inside' or None")
    use_long = len(value_cols) > WIDE_INTERPOLATE_MAX_COLS
    # the long plan only carries (partition, ts, values); fall back to
    # wide when the frame holds extra passenger columns
    extras = set(df.columns) - {ts_col, *pc, *value_cols}
    if use_long and not extras:
        return _interpolate_long(
            df, ts_col, value_cols, pc, limit, limit_area, num_buckets, bounds
        )
    b = with_buckets(df, ts_col, num_buckets, bounds)
    ts_us = _us(F.col(ts_col))
    fwd: dict[str, Column] = {}
    bwd: dict[str, Column] = {}
    for c in value_cols:
        v = F.col(c)
        fwd[f"__p_{c}"] = v
        fwd[f"__pts_{c}"] = F.when(v.isNotNull(), ts_us)
        bwd[f"__n_{c}"] = v
        bwd[f"__nts_{c}"] = F.when(v.isNotNull(), ts_us)
    b = _attach_carries(
        b, [ts_col], fwd, bwd, want_count=limit is not None, partition_cols=pc
    )
    extra_temps: list[str] = []
    if limit is not None:
        # per-bucket last-valid position = n - trailing nulls; both come
        # from plain aggregates (the trailing count needs the last-valid
        # timestamp joined back first — a broadcast of ≤num_buckets rows)
        lv = b.groupBy(*pc, BUCKET).agg(
            *[
                F.max(F.when(F.col(c).isNotNull(), ts_us)).alias(f"__lv_{c}")
                for c in value_cols
            ]
        )
        bt = b.join(F.broadcast(lv), [*pc, BUCKET])
        trail = bt.groupBy(*pc, BUCKET).agg(
            F.first("__n").alias("__bn"),
            F.first("__off").alias("__boff"),
            *[
                F.count(F.when(ts_us > F.col(f"__lv_{c}"), 1)).alias(f"__tr_{c}")
                for c in value_cols
            ],
            *[F.first(f"__lv_{c}").alias(f"__blv_{c}") for c in value_cols],
        )
        w_f = (
            Window.partitionBy(*pc)
            .orderBy(BUCKET)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        cpr = trail.select(
            *pc,
            BUCKET,
            *[
                F.last(
                    F.when(
                        F.col(f"__blv_{c}").isNotNull(),
                        F.col("__boff") + F.col("__bn") - F.col(f"__tr_{c}"),
                    ),
                    ignorenulls=True,
                )
                .over(w_f)
                .alias(f"__cprn_{c}")
                for c in value_cols
            ],
        )
        b = b.join(F.broadcast(cpr), [*pc, BUCKET], "left")
        w_rn = Window.partitionBy(*pc, BUCKET).orderBy(ts_col)
        b = b.withColumn("__rnl", F.row_number().over(w_rn))
        w_run = w_rn.rowsBetween(Window.unboundedPreceding, 0)
        b = b.withColumns(
            {
                f"__lprn_{c}": F.last(
                    F.when(F.col(c).isNotNull(), F.col("__rnl")), ignorenulls=True
                ).over(w_run)
                for c in value_cols
            }
        )
        extra_temps = (
            ["__rnl", "__n", "__off"]
            + [f"__lprn_{c}" for c in value_cols]
            + [f"__cprn_{c}" for c in value_cols]
        )
    b = _run_fill(b, [ts_col], fwd, bwd, partition_cols=pc)
    out_cols: dict[str, Column] = {}
    for c in value_cols:
        v = F.col(c)
        prev_v, next_v = F.col(f"__p_{c}"), F.col(f"__n_{c}")
        prev_ts, next_ts = F.col(f"__pts_{c}"), F.col(f"__nts_{c}")
        # duplicate-timestamp guard — mirrors the global kernel and the
        # as-of linear twins exactly (degenerate bracket → prev_v)
        blend = F.when(next_ts == prev_ts, prev_v).otherwise(
            prev_v + (next_v - prev_v) * ((ts_us - prev_ts) / (next_ts - prev_ts))
        )
        cond = prev_v.isNotNull() & next_v.isNotNull()
        if limit is not None:
            lprn = F.col(f"__lprn_{c}")
            gap_pos = F.when(
                lprn.isNotNull(), F.col("__rnl") - lprn
            ).otherwise(F.col("__rnl") + F.col("__off") - F.col(f"__cprn_{c}"))
            cond = cond & (gap_pos <= F.lit(int(limit)))
        filled = F.when(v.isNotNull(), v).when(cond, blend)
        if limit_area is None:
            tcond = prev_v.isNotNull() & next_v.isNull()
            if limit is not None:
                tcond = tcond & (gap_pos <= F.lit(int(limit)))
            filled = filled.when(tcond, prev_v)
        out_cols[c] = filled
    temps = [
        t
        for c in value_cols
        for t in (f"__p_{c}", f"__pts_{c}", f"__n_{c}", f"__nts_{c}")
    ]
    return b.withColumns(out_cols).drop(BUCKET, *temps, *extra_temps)


def _interpolate_long(
    df: DataFrame,
    ts_col: str,
    value_cols: Sequence[str],
    partition_cols: Sequence[str],
    limit: int | None,
    limit_area: str | None,
    num_buckets: int | None,
    bounds: Sequence[int] | None,
) -> DataFrame:
    """Wide → long → bucketed interpolate → wide, mirroring
    :func:`timeseries._interpolate_time_long` on the scale path: ONE set
    of carry exprs partitioned by (series, ``__idx``, bucket) replaces
    the 4-per-column fan-out, then a single collect-to-map repivot (no
    n_cols-aggregate pivot evaluated per long row; integer column indexes
    keep the shuffle keys and repivot map int-typed). The bucket bounds
    are computed once on the wide frame (one scan of the order column —
    or zero with explicit/footer-stat bounds) and reused verbatim for
    every unpivoted series. Requires unique ``(partition, ts)`` rows,
    like the timeseries long path."""
    if bounds is None:
        bounds = compute_bounds(
            df, ts_col, num_buckets or _default_buckets(df)
        )
    dtypes = dict(df.dtypes)
    arr = F.array(*[F.col(c).cast("double") for c in value_cols])
    long = df.select(
        *partition_cols, ts_col, F.posexplode(arr).alias("__idx", "__v")
    )
    filled = interpolate_time(
        long,
        ts_col=ts_col,
        value_cols=["__v"],
        limit=limit,
        limit_area=limit_area,
        bounds=bounds,
        partition_cols=[*partition_cols, "__idx"],
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


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: str = "timestamp",
    value_cols: Sequence[str] | None = None,
    tolerance_seconds: float | None = None,
    num_buckets: int | None = None,
    bounds: Sequence[int] | None = None,
) -> DataFrame:
    """J4 at scale: backward (ffill) as-of join — one data shuffle, one
    bucket-local window, one aggregate-only carry branch. Tie order matches
    the global form (right rows sort before left at equal timestamps), and
    equal timestamps can never split across buckets."""
    if value_cols is None:
        value_cols = [c for c in right.columns if c != on]
    u = _union_for_asof(left, right, on, value_cols, ())
    b = with_buckets(u, on, num_buckets, bounds)
    order = [F.col(on), F.col("__src")]
    exprs: dict[str, Column] = {f"__f_{c}": F.col(c) for c in value_cols}
    if tolerance_seconds is not None:
        exprs["__f_ref_ts"] = F.when(F.col("__src") == 0, _us(F.col(on)))
    b = _attach_carries(b, order, exprs)
    b = _run_fill(b, order, exprs)
    picks = {c: F.col(f"__f_{c}") for c in value_cols}
    if tolerance_seconds is not None:
        ok = (_us(F.col(on)) - F.col("__f_ref_ts")) <= int(
            tolerance_seconds * MICROS
        )
        picks = {c: F.when(ok, picks[c]) for c in value_cols}
    out = b.withColumns(picks).where(F.col("__src") == 1)
    return out.drop(BUCKET, "__src", *[f"__f_{c}" for c in value_cols], "__f_ref_ts")


def asof_join_linear(
    left: DataFrame,
    right: DataFrame,
    on: str = "timestamp",
    value_cols: Sequence[str] | None = None,
    clamp_forward: bool = True,
    num_buckets: int | None = None,
    bounds: Sequence[int] | None = None,
) -> DataFrame:
    """J3 at scale: interpolating as-of join — forward and backward carry
    scans replace the two global windows; both directions share one
    summary aggregate and one broadcast join."""
    if value_cols is None:
        value_cols = [c for c in right.columns if c != on]
    u = _union_for_asof(left, right, on, value_cols, ())
    b = with_buckets(u, on, num_buckets, bounds)
    order = [F.col(on), F.col("__src")]
    ts_us = _us(F.col(on))
    fwd: dict[str, Column] = {}
    bwd: dict[str, Column] = {}
    for c in value_cols:
        v = F.col(c)
        fwd[f"__p_{c}"] = v
        fwd[f"__pts_{c}"] = F.when(v.isNotNull(), ts_us)
        bwd[f"__n_{c}"] = v
        bwd[f"__nts_{c}"] = F.when(v.isNotNull(), ts_us)
    b = _attach_carries(b, order, fwd, bwd)
    b = _run_fill(b, order, fwd, bwd)
    picks = {}
    for c in value_cols:
        prev_v, next_v = F.col(f"__p_{c}"), F.col(f"__n_{c}")
        prev_ts, next_ts = F.col(f"__pts_{c}"), F.col(f"__nts_{c}")
        blend = F.when(next_ts == prev_ts, prev_v).otherwise(
            prev_v + (next_v - prev_v) * (ts_us - prev_ts) / (next_ts - prev_ts)
        )
        expr = F.when(prev_v.isNotNull() & next_v.isNotNull(), blend)
        if clamp_forward:
            expr = expr.when(prev_v.isNotNull() & next_v.isNull(), prev_v)
        picks[c] = expr
    temps = [
        t
        for c in value_cols
        for t in (f"__p_{c}", f"__pts_{c}", f"__n_{c}", f"__nts_{c}")
    ]
    out = b.withColumns(picks).where(F.col("__src") == 1)
    return out.drop(BUCKET, "__src", *temps)


def lag_k(
    df: DataFrame,
    k: int,
    cols: dict[str, str],
    ts_col: str = "timestamp",
    tiebreak_cols: Sequence[str] = (),
    num_buckets: int | None = None,
    bounds: Sequence[int] | None = None,
) -> DataFrame:
    """Row-wise ``lag(k)`` over the global order as a distributed self-join.

    A window ``lag(col, 10_000)`` forces a single global sort AND holds a
    10k-row frame per partition; carrying 10k boundary rows per bucket
    through the summary would bloat the broadcast instead. The scalable
    form: materialize the global row number (bucket-local ``row_number`` +
    carried offset), then equi-join the frame to itself shifted by ``k`` —
    every step is a plain distributed hash join/shuffle. ``cols`` maps
    output name → source column to fetch from the row ``k`` earlier.
    """
    b = with_buckets(df, ts_col, num_buckets, bounds)
    order = [ts_col, *tiebreak_cols]
    b = _attach_carries(b, order, {}, None, want_count=True)
    w = Window.partitionBy(BUCKET).orderBy(*_ordering(order, desc=False))
    b = (
        b.withColumn("__rn", F.row_number().over(w) + F.col("__off"))
        .drop(BUCKET, "__n", "__off")
    )
    lagged = b.select(
        (F.col("__rn") + F.lit(int(k))).alias("__rn"),
        *[F.col(src).alias(out) for out, src in cols.items()],
    )
    return b.join(lagged, "__rn", "left").drop("__rn")


def clean_timestamp_outliers(
    df: DataFrame,
    ts_col: str = "timestamp",
    lag_rows: int = 10_000,
    threshold_ns: float = 1e11,
    tiebreak_cols: Sequence[str] = (),
    num_buckets: int | None = None,
    bounds: Sequence[int] | None = None,
) -> DataFrame:
    """W2 at scale (``lib/canparser.py:244-260``): the lag-10k clock-wrap
    filter via :func:`lag_k` instead of a single-task global window."""
    b = lag_k(
        df,
        lag_rows,
        {"__lag_ts": ts_col},
        ts_col=ts_col,
        tiebreak_cols=tiebreak_cols,
        num_buckets=num_buckets,
        bounds=bounds,
    )
    diff_ns = ((_us(F.col(ts_col)) - _us(F.col("__lag_ts"))) * 1000).cast("double")
    diff_ns = F.coalesce(diff_ns, F.lit(0.0))
    lo, hi = float(threshold_ns), float(10 * threshold_ns)
    outlier = ((diff_ns < -lo) & (diff_ns > -hi)) | ((diff_ns > lo) & (diff_ns < hi))
    return (
        b.withColumn("__outlier", outlier)
        .where(~F.col("__outlier"))
        .drop("__outlier", "__lag_ts")
    )
