#!/usr/bin/env python
"""Benchmark harness: runs the headline queries on the sf bench tables.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32). Each query is executed through a noop
sink so the full physical plan runs without driver-side collect overhead.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from solarboat_data_pipeline_spark import driver_queries, get_spark  # noqa: E402
from solarboat_data_pipeline_spark.catalog import CanCatalog  # noqa: E402
from solarboat_data_pipeline_spark.operators.parse import (  # noqa: E402
    decode_wide,
    with_frame_meta,
    with_timestamp,
)
from solarboat_data_pipeline_spark.sources.candump import extract_frames  # noqa: E402

PARSE_LINES = 2_000_000
PARSE_CORPUS = "/tmp/solarboat_bench_candump"

# idle-box wall of the bench_calibration() anchor on the build machine
# (local[32]; recorded in README.md). normalized = wall * (this / run's
# calibration_sec) rebases any timing to that reference machine.
CALIBRATION_REF_SEC = 0.39

# separate reference for the CONTENTION self-flag (round 12): the box's
# measured anchor floor drifted to ~0.46-0.52 s (8 isolated runs on an
# idle box, min 0.461) while 0.39 stays the cross-round NORMALIZATION
# basis — flagging against 0.39 marked genuinely clean runs (parse at a
# record 1.83 M lines/s) as contended. The flag compares against
# today's floor; normalized values remain comparable with rounds 9-11.
CONTENTION_REF_SEC = 0.46

# compact synthetic catalog for the parse benchmark (same shape as the
# reference's can_ids files: u8, LE-u16 pairs, scaled units, bitfields)
BENCH_CATALOG = {
    "version": "bench-0.1",
    "modules": [
        {
            "name": "BAT",
            "signature": 250,
            "topics": [
                {
                    "name": "ADC",
                    "id": 33,
                    "bytes": [
                        {"name": "SIGNATURE", "type": "uint8_t", "units": ""},
                        {"name": "AVG_L", "type": "uint16_t", "units": "V/100"},
                        {"name": "AVG_H", "type": "uint16_t", "units": "V/100"},
                        {"name": "CUR_L", "type": "uint16_t", "units": "A/100"},
                        {"name": "CUR_H", "type": "uint16_t", "units": "A/100"},
                        {"name": "D", "type": "uint8_t", "units": "%"},
                        {"name": "FLAGS", "type": "bitfield", "units": ""},
                        None,
                    ],
                },
                {
                    "name": "STATE",
                    "id": 8,
                    "bytes": [
                        {"name": "SIGNATURE", "type": "uint8_t", "units": ""},
                        {"name": "STATE", "type": "uint8_t", "units": ""},
                    ]
                    + [None] * 6,
                },
            ],
        },
        {
            "name": "MOTOR",
            "signature": 231,
            "topics": [
                {
                    "name": "RPM",
                    "id": 64,
                    "bytes": [
                        {"name": "SIGNATURE", "type": "uint8_t", "units": ""},
                        {"name": "SPEED_L", "type": "uint16_t", "units": ""},
                        {"name": "SPEED_H", "type": "uint16_t", "units": ""},
                        {"name": "TEMP", "type": "uint8_t", "units": "°/10"},
                    ]
                    + [None] * 4,
                },
            ],
        },
    ],
}


def ensure_parse_corpus(spark, n_lines: int = PARSE_LINES) -> None:
    """Deterministic candump text generated BY Spark (one-time, reused):
    three frame shapes round-robin, epoch-µs timestamps, hex payloads."""
    if os.path.exists(os.path.join(PARSE_CORPUS, "_SUCCESS")):
        return
    base = spark.range(n_lines).select(
        (F.lit(1600000000.0) + F.col("id") * 0.001).alias("ts"),
        (F.col("id") % 3).alias("kind"),
        (F.col("id") % 65536).cast("int").alias("v16"),
        (F.col("id") % 256).cast("int").alias("v8"),
    )
    u16 = F.concat(
        F.lpad(F.lower(F.hex(F.col("v16") % 256)), 2, "0"),
        F.lpad(F.lower(F.hex((F.col("v16") / 256).cast("int"))), 2, "0"),
    )
    u8 = F.lpad(F.lower(F.hex(F.col("v8"))), 2, "0")
    line = (
        F.when(
            F.col("kind") == 0,  # BAT.ADC: fa + u16 + u16 + u8 + u8
            F.format_string(
                "(%.6f) can0 021#fa%s%s%s%s", F.col("ts"), u16, u16, u8, u8
            ),
        )
        .when(
            F.col("kind") == 1,  # BAT.STATE: fa + u8
            F.format_string("(%.6f) can0 008#fa%s", F.col("ts"), u8),
        )
        .otherwise(  # MOTOR.RPM: e7 + u16 + u8
            F.format_string("(%.6f) can0 040#e7%s%s", F.col("ts"), u16, u8)
        )
    )
    base.select(line.alias("value")).write.mode("overwrite").text(PARSE_CORPUS)


def bench_parse(spark) -> tuple[float, float]:
    """(seconds, lines_per_sec) for the full parse stage: text scan →
    regex frame extraction → timestamp/meta → catalog-codegen wide decode.

    The real corpus this stage targets is 78M lines (BASELINE.md); a 2M-line
    single pass mostly measures C2 JIT compilation (12.6s cold → 2.5s by the
    4th pass), which a long job amortizes to zero. So: two full warm passes,
    then best-of-two timed passes = steady-state throughput."""
    catalog = CanCatalog.from_dict(BENCH_CATALOG)

    def plan(src):
        frames = with_frame_meta(with_timestamp(extract_frames(src, with_order=False)))
        return decode_wide(frames, catalog)

    def run_once() -> float:
        t0 = time.perf_counter()
        plan(spark.read.text(PARSE_CORPUS)).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0

    run_once()
    run_once()
    dt = min(run_once(), run_once())
    return dt, PARSE_LINES / dt

# 6 M lines: at 2 M the ~2.5 s fixed scheduling/JIT floor of the
# 187-column plan still dominates and the row under-reads steady state
# by ~2x (measured 285 k lines/s at 2 M vs 563 k at 24 M); 6 M sits
# within ~15% of the 24 M steady-state rate at a quarter of the wall.
# The corpus dir is count-suffixed so changing this can never reuse a
# stale cached corpus.
REAL_PARSE_LINES = 6_000_000
REAL_PARSE_CORPUS = f"/tmp/solarboat_bench_candump_real_{REAL_PARSE_LINES}"


def bench_parse_real_catalog(spark) -> tuple[float, float]:
    """(seconds, lines_per_sec) for the parse stage at the
    BASELINE-COMPARABLE catalog shape: the 24-module / 56-topic /
    187-wide-column reference-shaped catalog of
    scripts/e2e_report_scale.py, including that corpus's reject classes
    (garbage lines, truncated frames, unknown signatures) and the full
    parse_stage pipeline (extract → timestamp → crop → wide decode).
    The narrow-catalog ``parse_candump_2m_lines`` above measures regex +
    decode mechanics; THIS row is the one BENCH_r*.json carries so the
    baseline's 0.0753 ms/line/process is comparable directly
    (VERDICT r6 item 7). Same protocol: two warm passes absorb the
    one-time ~35 s codegen/JIT of the 187-column plan, then
    best-of-two."""
    import sys as _sys

    from solarboat_data_pipeline_spark.pipeline import parse_stage

    scripts_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "scripts")
    if scripts_dir not in _sys.path:
        _sys.path.insert(0, scripts_dir)
    argv = _sys.argv
    _sys.argv = argv[:1]  # the script reads argv[1] as N_LINES at import
    try:
        import e2e_report_scale as e2e
    finally:
        _sys.argv = argv
    import json as _json
    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        _json.dump(e2e.build_catalog(), f)
        cat_path = f.name
    catalog = CanCatalog.load(cat_path)
    os.unlink(cat_path)
    if not os.path.exists(os.path.join(REAL_PARSE_CORPUS, "_SUCCESS")):
        e2e.generate_corpus(spark, catalog, REAL_PARSE_CORPUS,
                            n_lines=REAL_PARSE_LINES)

    def run_once() -> float:
        t0 = time.perf_counter()
        parse_stage(spark, REAL_PARSE_CORPUS, catalog).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.perf_counter() - t0

    run_once()
    run_once()
    dt = min(run_once(), run_once())
    return dt, REAL_PARSE_LINES / dt


# Representative spread of SURVEY.md §2 + LLM-pipeline operator families;
# every name must exist in driver_queries.queries().
HEADLINE = [
    "q1_pricing_summary",      # scan + hash agg
    "s2_scan_pushdown",        # filter/projection pushdown
    "a2_pivot_wide",           # pivot
    "a3_resample_dense",       # windowed resample + dense spine
    "a5_quantile_iqr",         # percentile + broadcast-crossjoin clip
    "j1_left_join_enrich",     # broadcast left join
    "j3_asof_linear",          # as-of join, linear interpolation
    "j4_asof_backward",        # as-of join, backward fill
    "j3_asof_linear_scaled",   # same, via bucketed carry scan (scale path)
    "j4_asof_backward_scaled",  # same, via bucketed carry scan (scale path)
    "w2_lagk_outlier_filter",  # global-order lag-k window
    "w3_interpolate_bounded",  # bounded time interpolation
    "dd_exact",                # exact dedup
    "dd_lsh_pairs",            # MinHash + LSH near-dup candidate pairs
    "dd_embedding_lsh",        # LSH-bucketed embedding dedup (scale path)
    "dd_clusters",             # iterative connected-components clustering
    "pipeline_curation",       # filter -> exact dedup -> near-dup removal, end to end
    "sim_cosine_topk",         # brute-force ANN baseline
    "txt_quality",             # text scalar-function battery
    # scale twins + streaming (VERDICT r02 item 6): regressions on the
    # 100 TB code paths must surface in round-over-round BENCH diffs
    "w_sessionize_scaled",     # bucketed sessionization (scale path)
    "w6_rank_scaled",          # bucketed global rank (scale path)
    "a7_trapezoid_scaled",     # bucketed trapezoid integral (scale path)
    "j6_interval_join",        # chunk-bucketed point-in-interval join
    "st_stream_resample",      # Structured Streaming resample, availableNow
    # round 4
    "a3_w3_fused_grid",        # fused dense-grid resample+interpolate (group form)
    "f7_poa_irradiance",       # NOAA solar position + POA, pure codegen
    "k_bucketed_join",         # zero-Exchange bucketed-layout join
    # round 6: previously unrepresented families + the streaming as-of
    "samp_token_budget",       # token-budget sampling family
    "sim_ann_lsh",             # hyperplane-LSH bucketed ANN
    "st_stream_asof",          # stateful streaming backward as-of join
    # round 7: st_stream_asof switched to the WATERMARK-BUFFERED kernel
    # (disorder-tolerant; strictly more work than the r6 in-order form —
    # its timing is not comparable across that boundary); round 8: it
    # runs buffered="auto" (in-order fast path, exact flip to buffered
    # on observed disorder). Round 9: st_stream_asof_linear runs
    # auto=True too — the frontier mask is batch-aware (engages only
    # once the watermark clock starts), so on this one-file availableNow
    # fixture auto is bit-identical to the buffered kernel instead of
    # double-paying emission; expect its timing ≈ the r8 buffered row.
    "st_stream_asof_linear",   # stateful streaming linear as-of (J3)
    "dd_paragraph_dedup",      # skew-proof corpus paragraph dedup (r7 kernel)
    "dd_near_dup_incremental",  # near-dup vs persisted LSH index (r7)
    "txt_decontaminate_scaled",  # bloom-prefiltered decontaminate (r7)
    # round 8: trained-IVF and the SQ8 quantized-ANN families
    "sim_ivf_trained_topk",    # k-means-trained IVF (fixed-point means)
    "sim_sq8_topk",            # 1-byte asymmetric candidates + exact re-rank
    # round 10: projection-shaped streaming wide decode (entry-list state)
    "st_stream_decode_wide",
    # round 13: the reference's actual four-stage product under timing
    # (parse → resample → unify-forecast → unify-GPS, one artifact)
    "pipeline_can_e2e",
]


def _steal_ticks() -> int | None:
    """Cumulative hypervisor-steal ticks (USER_HZ) summed over all CPUs,
    from the aggregate ``cpu`` line of /proc/stat. Per-row deltas of
    this counter are the VERDICT-r13 item-2 evidence separating "this
    plan regressed" from "the hypervisor stole the window": a row whose
    wall time doubled while its steal delta shows whole stolen
    CPU-seconds is an environmental artifact, not a code regression."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])  # cpu user nice system idle iowait irq softirq STEAL
    except (OSError, IndexError, ValueError):
        return None


def _burst_rows(timings: dict, medians: dict) -> list:
    """Rows whose median ran >=3x their min (min itself substantial).

    Three back-to-back samples of an identical warm plan cannot spread
    3x on a quiet box, so any such row marks a mid-board disturbance —
    the failure mode the anchor pair and the board-MEDIAN spread both
    miss when a short steal burst lands on only a few rows."""
    return sorted(
        k
        for k in timings
        if timings.get(k) and medians.get(k)
        and timings[k] > 0.3
        and medians[k] / timings[k] >= 3.0
    )


def bench_calibration(spark) -> float:
    """Fixed-work anchor: a constant ``spark.range`` aggregate whose cost
    is independent of this repo's code. Its historical value on an idle
    box is recorded in README.md — a contended/throttled machine shows up
    as a proportionally slow anchor, making a skewed bench run
    identifiable FROM THE ARTIFACT ALONE (round-5 lesson: a uniformly
    1.4x-slow driver run needed a judge re-run to adjudicate)."""
    def once() -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, 200_000_000, 1, 32)
            .select((F.col("id") % 97).alias("k"), (F.col("id") * 31 % 101).alias("v"))
            .groupBy("k")
            .agg(F.sum("v"), F.avg("v"))
            .write.format("noop").mode("overwrite").save()
        )
        return time.perf_counter() - t0

    once()  # warm the plan shape
    return min(once(), once())


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    spark = get_spark(app_name="bench")
    qs = driver_queries.queries()

    # warm the JVM + parquet footers so per-query times measure the plans
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # run every headline plan once at the smallest SF first: whole-stage
    # codegen compilation + JIT happen per plan shape, and a steady-state
    # cluster amortizes them to zero — time the plans, not the compiler
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir):
        for name in HEADLINE:
            try:
                qs[name](spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass  # warmup is best-effort; the timed run surfaces errors

    out, medians = _measure(spark, qs, sf_val, sf_dir)
    # auto-retry on contention (VERDICT r11 item 1): the r11 artifact
    # shipped a self-flagged contended run whose parse row read 15× slow
    # (19.5 s published vs 1.77 s idle). When the anchors flag the run,
    # wait for the box to quiet down and measure once more, publishing
    # whichever run's anchors were healthier — never the flagged one
    # when a clean retry exists. SPARK_GRAFT_BENCH_NO_RETRY=1 disables
    # (e.g. for quick iteration).
    # r13 (VERDICT r12 #5): anchor DIVERGENCE >30% also triggers the
    # retry, even when the absolute/board tests stay quiet — r12 shipped
    # anchors [0.396, 0.592] (1.49× apart, just under every threshold)
    # and its late-board rows were inflated by mid-run steals. A retry
    # on a genuinely clean run is harmless: the healthier-anchored of
    # two clean runs gets published.
    if (
        out["contended"] or out["anchors_diverged"] or out["burst_rows"]
    ) and not os.environ.get("SPARK_GRAFT_BENCH_NO_RETRY"):
        # record WHY the first run was discarded (ADVICE r13: the old
        # single retried_on_contention flag also fired for runs that
        # were never contended, only anchor-drifted — consumers could
        # not tell the two apart)
        retry_reason = (
            "contended"
            if out["contended"]
            else ("anchors_diverged" if out["anchors_diverged"]
                  else "burst_rows")
        )
        print("bench: run self-flagged (contended or diverged anchors);"
              " retrying once after 30 s", file=sys.stderr)
        time.sleep(30.0)
        out2, medians2 = _measure(spark, qs, sf_val, sf_dir)
        # healthier = non-contended first, then non-diverged, then the
        # lower WORST anchor (both halves of the window clean), then
        # the min anchor — a board-contended run must never be picked
        # over a clean retry on anchor luck alone
        key = lambda o: (o["contended"], o["anchors_diverged"],  # noqa: E731
                         len(o.get("burst_rows") or ()),
                         max(o["calibration_before_after"]),
                         o["calibration_sec"])
        if key(out2) <= key(out):
            out, medians = out2, medians2
        # kept for JSON-consumer compatibility; retry_reason is the
        # precise trigger
        out["retried_on_contention"] = True
        out["retry_reason"] = retry_reason

    _publish(spark, out, medians)


def _measure(spark, qs, sf_val, sf_dir):
    """One full measurement pass: anchor, board, parse rows, anchor."""
    steal_window_0 = _steal_ticks()
    # calibration anchor BEFORE the board (and again after, below): the
    # pair brackets the measurement window, so contention that starts
    # mid-run is visible too
    calib_before = bench_calibration(spark)

    # three runs per query: `queries` records the MIN (steady-state plan
    # time, comparable with rounds 1-5 which recorded best-of-two) and
    # `queries_median` the median — a contended run shows median >> min
    # across the board, self-identifying without a re-run. Each query is
    # error-isolated: one broken plan records null and the rest of the
    # board still produces timings — a bench that dies on query 4 of 19
    # yields no perf data at all.
    timings: dict[str, float | None] = {}
    medians: dict[str, float | None] = {}
    steals: dict[str, float | None] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        fn = qs[name]
        try:
            samples = []
            row_steals = []
            for _ in range(3):
                s0 = _steal_ticks()
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
                s1 = _steal_ticks()
                row_steals.append(
                    (s1 - s0) / 100.0 if s0 is not None and s1 is not None
                    else None
                )
            timings[name] = round(min(samples), 3)
            medians[name] = round(sorted(samples)[1], 3)
            # steal CPU-seconds during the MIN sample — the one the
            # queries dict publishes (VERDICT r13 item 2)
            best = samples.index(min(samples))
            steals[name] = (
                round(row_steals[best], 2)
                if row_steals[best] is not None else None
            )
        except Exception as exc:  # noqa: BLE001 — isolate, record, continue
            timings[name] = None
            medians[name] = None
            steals[name] = None
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"bench: {name} failed: {errors[name]}", file=sys.stderr)

    # parse-stage throughput: the reference's only published metric is
    # 12-13k lines/s/process on this stage (BASELINE.md)
    parse_lps = None
    try:
        ensure_parse_corpus(spark)
        s0 = _steal_ticks()
        parse_sec, parse_lps = bench_parse(spark)
        s1 = _steal_ticks()
        timings["parse_candump_2m_lines"] = round(parse_sec, 3)
        steals["parse_candump_2m_lines"] = (
            round((s1 - s0) / 100.0, 2)
            if s0 is not None and s1 is not None else None
        )
    except Exception as exc:  # noqa: BLE001
        timings["parse_candump_2m_lines"] = None
        errors["parse_candump_2m_lines"] = f"{type(exc).__name__}: {exc}"[:300]
        print(f"bench: parse stage failed: {errors['parse_candump_2m_lines']}",
              file=sys.stderr)

    # baseline-comparable parse: the 187-column real-shape catalog
    # (VERDICT r6 item 7 — previously only scripts/e2e_report_scale.py
    # carried this figure)
    real_parse_lps = None
    try:
        s0 = _steal_ticks()
        real_sec, real_parse_lps = bench_parse_real_catalog(spark)
        s1 = _steal_ticks()
        timings["parse_real_catalog_6m_lines"] = round(real_sec, 3)
        steals["parse_real_catalog_6m_lines"] = (
            round((s1 - s0) / 100.0, 2)
            if s0 is not None and s1 is not None else None
        )
    except Exception as exc:  # noqa: BLE001
        timings["parse_real_catalog_6m_lines"] = None
        errors["parse_real_catalog_6m_lines"] = f"{type(exc).__name__}: {exc}"[:300]
        print(
            "bench: real-catalog parse failed: "
            f"{errors['parse_real_catalog_6m_lines']}",
            file=sys.stderr,
        )

    calib_after = bench_calibration(spark)
    steal_window_1 = _steal_ticks()

    total = round(sum(v for v in timings.values() if v is not None), 3)
    calib = round(min(calib_before, calib_after), 3)
    # machine-independent normalization (VERDICT r9 item 6): the anchor's
    # idle-box reference is recorded in README.md; multiplying any wall
    # time by `normalization` rebases it to that reference machine, so
    # cross-round deltas need no manual calibration arithmetic.
    norm = round(CALIBRATION_REF_SEC / calib, 4) if calib else None
    out = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    # anchor semantics: ~constant work, code-independent. README records
    # the idle-box reference value; calibration_sec >> that reference on
    # a given run means the machine, not the code, was slow.
    out["calibration_sec"] = calib
    out["calibration_before_after"] = [round(calib_before, 3), round(calib_after, 3)]
    out["calibration_ref_sec"] = CALIBRATION_REF_SEC
    out["normalization"] = norm
    # contention self-flag (VERDICT r10 item 6): a run is CONTENDED when
    # either anchor ran >30% over the idle-box reference (machine busy
    # for the whole window) or the two anchors disagree by >30%
    # (contention started/ended mid-run). Cross-round delta readers
    # should prefer a non-contended run's numbers; the round-10 session
    # saw one contended run measure parse at 0.85 M lines/s vs
    # 1.48-1.50 M idle.
    # primary signal (round 12): the BOARD's own dispersion. Every query
    # ran 3 times; on a quiet box median/min is tight (measured 1.04
    # board-median on a clean run), while intermittent CPU steals
    # inflate medians across the whole board. Self-normalizing — no
    # machine reference needed. Anchors remain the secondary signal
    # with thresholds calibrated to the box's measured idle anchor
    # variance (floor 0.461-0.623 across 8 isolated runs: the old
    # 1.3×0.39 absolute test and 1.3× pair-ratio test both flagged
    # genuinely clean record-speed runs).
    spreads = sorted(
        medians[k] / timings[k]
        for k in timings
        if timings.get(k) and medians.get(k) and timings[k] > 0.05
    )
    board_spread = spreads[len(spreads) // 2] if spreads else 1.0
    worst = max(calib_before, calib_after)
    out["board_spread"] = round(board_spread, 3)
    out["contended"] = bool(
        board_spread > 1.25
        or worst > 1.3 * CONTENTION_REF_SEC
        or worst > 1.5 * min(calib_before, calib_after)
    )
    # softer signal (r13): the window's two anchors disagree by >30% —
    # not necessarily a bad run, but enough mid-run drift to retry and
    # publish the healthier-anchored pass (VERDICT r12 #5)
    out["anchors_diverged"] = bool(
        worst > 1.3 * min(calib_before, calib_after)
    )
    # burst detector (r14): a SHORT steal burst mid-board inflates a few
    # rows' medians enormously while leaving both anchors, the board-
    # median spread, and every min-sample steal delta clean (observed:
    # 280 stolen CPU-s, txt_decontaminate median 30.2 s vs min 2.4 s,
    # contended=False). A row whose median is >=3x its min cannot happen
    # on a quiet box — the 3 samples run back-to-back with identical
    # plans and warm code — so any such row flags the window.
    out["burst_rows"] = _burst_rows(timings, medians)
    out["contention_ref_sec"] = CONTENTION_REF_SEC
    # hypervisor-steal accounting (VERDICT r13 item 2): whole-window
    # steal CPU-seconds on the stdout line; per-row deltas (captured
    # around each published MIN sample) ride the sidecar full record
    if steal_window_0 is not None and steal_window_1 is not None:
        out["steal_sec_window"] = round(
            (steal_window_1 - steal_window_0) / 100.0, 2
        )
    out["_queries_steal_sec"] = steals  # moved to the sidecar by _publish
    if norm is not None:
        out["value_normalized"] = round(total * norm, 3)
    if parse_lps is not None:
        out["parse_lines_per_sec"] = round(parse_lps)
    if real_parse_lps is not None:
        out["parse_real_catalog_lines_per_sec"] = round(real_parse_lps)
    # measured run-to-run variance on this shared box is up to ~±25% per
    # query (JIT cold-start of wide codegen plans + machine noise, see
    # memory notes r03/r04); cross-round per-query deltas inside that
    # band are noise, not regressions
    out["noise_band_pct"] = 25
    # complete=False marks a total summed over FEWER queries than the
    # headline set — cross-round comparisons must not read it as a speedup
    out["complete"] = not errors
    if errors:
        out["errors"] = errors
    return out, medians


def _publish(spark, out, medians):
    """Write the sidecar + print the JSON line (twice, around JVM stop)."""
    norm = out.get("normalization")
    timings = out["queries"]
    # per-row min AND median both belong in the driver-recorded artifact
    # (VERDICT r12 #5): median/min per row is what separates "this plan
    # regressed" from "the box hiccuped during these rows". This grows
    # the stdout line by ~0.7 KB; the r09 truncation class is handled by
    # the print-last-after-JVM-stop mitigation below, which keeps the
    # tail window free of shutdown noise regardless of line length.
    out["queries_median"] = medians
    # per-row steal deltas are sidecar-only (stdout stays compact)
    steals = out.pop("_queries_steal_sec", None)
    # full record (per-query normalized walls) goes to a sidecar
    # file — keeping the stdout line compact so the driver's fixed-size
    # tail window never truncates it (BENCH_r09.json lost its first ~9
    # keys to line length + a trailing JVM shutdown WARN)
    full = dict(out)
    if steals is not None:
        full["queries_steal_sec"] = steals
    if norm is not None:
        full["queries_normalized"] = {
            k: (round(v * norm, 3) if v is not None else None)
            for k, v in timings.items()
        }
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_last_full.json")
    try:
        with open(sidecar, "w") as f:
            json.dump(full, f, indent=1)
        out["full_record"] = os.path.basename(sidecar)
    except OSError as exc:  # never lose the stdout record to a disk error
        out["full_record_error"] = str(exc)[:200]

    line = json.dumps(out)
    print(line, flush=True)
    # Print the line AGAIN as the process's very last output, after the
    # JVM is down: the r9 artifact was start-truncated because a
    # post-JSON StateStore maintenance WARN + stacktrace consumed the
    # driver's tail window. Raising the log level suppresses the WARN
    # class; printing last makes the tail capture self-healing even if
    # some other shutdown message slips through.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    time.sleep(1.0)  # let late JVM shutdown threads finish writing
    print(line, flush=True)
    # VERDICT r14 item 2 (stdout-contract fix, measurement-publishing
    # only — the timed region and methodology are untouched): the full
    # line above grew past the driver's fixed 2000-char stdout tail
    # window (queries + queries_median ≈ 3.3 KB), so BENCH_r13's tail
    # began MID-LINE and its queries dict was unparseable — PERF_r14
    # compared zero rows. Guarantee the tail always ends with one
    # COMPLETE parseable record: re-print the line with every per-query
    # dict beyond the contract keys dropped (metric/value/unit/queries/
    # sf first, then the small scalar flags; measured 1.45 KB at 48
    # rows). The full record still precedes it twice and lives in the
    # sidecar; `queries` (the published MIN per row) is byte-identical
    # across all three prints.
    print(json.dumps(_compact_record(out)), flush=True)


def _compact_record(out: dict) -> dict:
    """The tail-window-safe record: the driver-contract keys first
    (metric/value/unit/queries/sf), then small scalar flags and at most
    three ``burst_rows`` names — and NO second per-query dict, so the
    line stays under 1.9 KB at 48 board rows even with every row flagged
    (vs the 2000-char tail window). ``queries`` is the same object the
    full line carries — the published MINs, byte-identical."""
    compact = {
        k: out[k]
        for k in ("metric", "value", "unit", "queries", "sf")
        if k in out
    }
    for k in (
        "normalization", "value_normalized", "contended",
        "anchors_diverged", "burst_rows", "steal_sec_window",
        "retry_reason", "complete", "full_record", "full_record_error",
    ):
        if k in out:
            compact[k] = out[k]
    # bounded so the worst case (every row flagged, 7-char values, a
    # failed sidecar write) still fits: the full line keeps the whole
    # burst list and error text
    if "burst_rows" in out:
        compact["burst_rows"] = out["burst_rows"][:3]
        compact["burst_rows_n"] = len(out["burst_rows"])
    if "full_record_error" in out:
        compact["full_record_error"] = out["full_record_error"][:40]
    return compact


if __name__ == "__main__":
    main()
