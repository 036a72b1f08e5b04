#!/usr/bin/env python
"""End-to-end pipeline run at the reference report's corpus scale.

The reference's only published numbers are its parse-stage run report
(`canparser_sparse_report.txt`, via BASELINE.md): 1.6-23.6 M lines per
file at 0.0753-0.0814 ms/line per process, survival 71-99.98%. This
script reproduces that SHAPE end-to-end on the Spark engine:

1. **generate** a >=10 M-line synthetic candump corpus (FIXTURES.md §1
   line grammar) against a reference-shaped catalog — 24 modules /
   56 topics / ~225 byte entries, mirroring the published
   `can_ids_2022.json` shape (24/56/233, FIXTURES.md §2) — including
   ~0.2% regex-rejected garbage, ~0.5% unknown-signature frames and
   ~0.2% payload-size rejects (the report's reject classes);
2. **parse** (`pipeline.parse_stage`: text scan → regex frame extract →
   crop → schema decode → wide pivot) → parquet, timing the stage the
   way the report does (wall over input lines, write included);
3. **resample** (`pipeline.resample_stage`: 1 s mean grid + bounded
   interpolation over all ~180 wide columns) → parquet;
4. **unify** (`pipeline.unify_gps_stage`: backward as-of join of a 1 Hz
   synthetic GPS track) → parquet.

Run from the repo root (~12 M lines, ~600 MB text):
    python scripts/e2e_report_scale.py [n_lines]
Prints per-stage JSON lines + one summary line; exit 1 if survival or
row counts leave the expected band.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from solarboat_data_pipeline_spark import get_spark  # noqa: E402
from solarboat_data_pipeline_spark.catalog import CanCatalog  # noqa: E402
from solarboat_data_pipeline_spark.pipeline import (  # noqa: E402
    parse_stage,
    resample_stage,
    unify_forecast_stage,
    unify_gps_stage,
)
from solarboat_data_pipeline_spark.sources.sinks import write_parquet  # noqa: E402

# `report` mode (VERDICT r7 item 5): the FULL published corpus shape —
# the report's exact seven per-file line counts
# (canparser_sparse_report.txt, 78,628,188 lines total, largest file
# 23.6 M = 30% of the corpus) written as seven literal unequal .log
# files, and the 2020 resample configuration (main_2020.py:137-145:
# 100ms AND 1s). The reference's per-FILE multiprocessing pool is
# tail-bound by the largest file; Spark reads the same seven files as
# uniform splits, so the skew costs nothing — that is the claim this
# mode measures.
REPORT_FILES = [
    1_641_065, 3_257_000, 7_354_228, 11_579_907,
    13_010_734, 18_166_406, 23_618_848,
]
REPORT = len(sys.argv) > 1 and sys.argv[1] == "report"
if REPORT:
    # optional divisor arg scales the seven files down proportionally
    # (plumbing validation); the recorded run uses the full corpus
    div = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    REPORT_FILES = [max(1000, c // div) for c in REPORT_FILES]
    N_LINES = sum(REPORT_FILES)  # 78,628,188 at div=1
    DT_US = 1_000  # 1k lines/s -> the largest log spans ~6.6 h
else:
    N_LINES = int(sys.argv[1]) if len(sys.argv) > 1 else 24_000_000
    DT_US = 10_000  # 100 lines/s -> 12 M lines span ~33 h
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BASE_EPOCH = 1_580_000_000  # 2020-01-26, the report's corpus era
WORK = "/tmp/e2e_report_scale"
RESAMPLE_PERIODS = (1.0, 0.1) if REPORT else (1.0,)

# per-mille line-kind split (hash(id, 13) % 1000):
#   0-1   garbage / odd-hex        (regex-rejected, ~0.2%)
#   2-6   unknown signature 0xff   (decode-dropped, ~0.5%)
#   7-8   payload one byte long    (size-guard reject, ~0.2%)
#   9-999 valid                    (~99.1% — inside the report's
#                                   71-99.98% survival band)
EXPECT_SURVIVAL = 0.991


def build_catalog() -> dict:
    """Reference-shaped catalog: 24 modules; first 8 have 3 topics, the
    rest 2 (= 56 topics); topic payloads cycle through three layouts
    (5/4/3 bytes incl. signature, with a u16 pair, unit scaling and a
    bitfield) for ~225 byte entries — the published 2022 schema's shape
    (FIXTURES.md §2), with synthetic names."""
    sig_b = lambda: {  # noqa: E731
        "name": "SIGNATURE", "description": "sender",
        "type": "uint8_t", "units": "",
    }
    variants = [
        [
            sig_b(),
            {"name": "AVG_L", "description": "", "type": "uint16_t", "units": "V/100"},
            {"name": "AVG_H", "description": "", "type": "uint16_t", "units": "V/100"},
            {"name": "CUR", "description": "", "type": "uint8_t", "units": "A/100"},
            {"name": "FLAGS", "description": "", "type": "bitfield", "units": "",
             "bits": ["ON", None, None, None, None, None, None, None]},
        ],
        [
            sig_b(),
            {"name": "AMP_L", "description": "", "type": "uint16_t", "units": "A/100"},
            {"name": "AMP_H", "description": "", "type": "uint16_t", "units": "A/100"},
            {"name": "STATE", "description": "", "type": "uint8_t", "units": ""},
        ],
        [
            sig_b(),
            {"name": "DUTY", "description": "", "type": "uint8_t", "units": "%"},
            {"name": "EN", "description": "", "type": "bitfield", "units": "",
             "bits": ["ON", None, None, None, None, None, None, None]},
        ],
    ]
    modules, t = [], 0
    for m in range(24):
        topics = []
        for _ in range(3 if m < 8 else 2):
            topics.append(
                {
                    "name": f"T{t:02d}",
                    "description": "",
                    "id": 256 + t,
                    "bytes": list(variants[t % 3]),
                }
            )
            t += 1
        modules.append(
            {
                "name": f"GEN{m:02d}",
                "description": "",
                "signature": 100 + m,
                "topics": topics,
            }
        )
    return {"version": "e2e-shape-1", "modules": modules}


def generate_corpus(
    spark,
    catalog: CanCatalog,
    path: str,
    unknown_sig_hex: str = "ff",
    mab20: bool = False,
    n_lines: int | None = None,
    file_splits: list[int] | None = None,
) -> float:
    """Write candump lines as text. The topic spec is broadcast-joined
    onto ``spark.range`` so generation is one narrow pass and each output
    file is a contiguous time block (file order matters to the crop
    stage). ``unknown_sig_hex`` is the planted unknown-signature byte
    (must NOT collide with a real module signature of ``catalog``).
    ``mab20=True`` reproduces the real MAB20 log damage
    (``lib/canparser.py:126-133``): topics 64/65 carry a junk sender byte
    and topic 65 an oversized payload, so only the parse-stage workaround
    (force signature 230, truncate topic 65 to 2 bytes) makes them
    decodable."""
    n = N_LINES if n_lines is None else n_lines
    spec_rows = []
    for t, (mod, top) in enumerate(catalog.iter_topics()):
        sig_hex = f"{mod.signature:02x}"
        size = top.size
        if mab20 and top.topic_id in (64, 65):
            sig_hex = "aa"  # junk sender byte, as in the real 2022 logs
            if top.topic_id == 65:
                size = top.size + 2  # oversized; the workaround truncates
        spec_rows.append((t, f"{top.topic_id:03x}", sig_hex, size))
    spec = spark.createDataFrame(
        spec_rows, "t int, topic_hex string, sig_hex string, size int"
    )
    base = spark.range(n).withColumn(
        "t", F.pmod(F.hash("id", F.lit(9)), len(spec_rows)).cast("int")
    )
    df = base.join(F.broadcast(spec), "t")

    us = F.lit(BASE_EPOCH).cast("long") * 1_000_000 + F.col("id") * DT_US
    ts = F.concat(
        (us / 1_000_000).cast("long").cast("string"),
        F.lit("."),
        F.lpad(F.pmod(us, 1_000_000).cast("string"), 6, "0"),
    )
    rand16 = F.concat(
        *[
            F.lpad(F.lower(F.hex(F.pmod(F.hash("id", F.lit(c)), 65536))), 4, "0")
            for c in range(1, 5)
        ]
    )
    body = F.substring(rand16, 1, (F.col("size") - 1) * 2)
    kind = F.pmod(F.hash("id", F.lit(13)), 1000)
    payload = (
        F.when(kind.between(2, 6), F.concat(F.lit(unknown_sig_hex), body))
        .when(kind.between(7, 8), F.concat(F.col("sig_hex"), body, F.lit("00")))
        .otherwise(F.concat(F.col("sig_hex"), body))
    )
    frame = F.concat(
        F.lit("("), ts, F.lit(") can0 "), F.col("topic_hex"), F.lit("#"), payload
    )
    line = (
        F.when(kind == 0, F.lit("garbage line with no frame at all ###"))
        .when(kind == 1, F.concat(F.lit("("), ts, F.lit(") can0 301#fa9f0")))
        .otherwise(frame)
    )
    t0 = time.perf_counter()
    out = df.select("id", line.alias("value"))
    if file_splits is None:
        out.select("value").write.mode("overwrite").text(path)
    else:
        # report mode: seven literal unequal .log files, each one
        # contiguous time block (id ranges in file order). Parts are
        # written in parallel, then concatenated in partition order —
        # spark.range partitions are id-ordered, so sorted part names
        # concatenate to a time-ordered log.
        import glob as _glob

        os.makedirs(path, exist_ok=True)
        lo = 0
        for i, cnt in enumerate(file_splits):
            sl = out.where(F.col("id").between(lo, lo + cnt - 1)).select("value")
            tmp = os.path.join(path, f"__tmp_{i}")
            sl.write.mode("overwrite").text(tmp)
            with open(os.path.join(path, f"log_{i}.log"), "wb") as dst:
                for part in sorted(_glob.glob(os.path.join(tmp, "part-*"))):
                    with open(part, "rb") as src:
                        shutil.copyfileobj(src, dst)
            shutil.rmtree(tmp)
            lo += cnt
    return round(time.perf_counter() - t0, 2)


def synthetic_track(spark, n_seconds: int):
    """1 Hz GPS track over the corpus span (stands in for the GPX file —
    the reference's track is ~1 Hz, FIXTURES.md §5)."""
    return spark.range(n_seconds).select(
        F.timestamp_seconds(F.lit(BASE_EPOCH) + F.col("id")).alias("timestamp"),
        (F.lit(-23.0) + F.col("id") * 1e-6).alias("latitude"),
        (F.lit(-46.0) + F.col("id") * 1e-6).alias("longitude"),
        F.lit(600.0).alias("altitude"),
        (F.pmod(F.hash("id"), 300) / 10.0).alias("speed"),
        F.pmod(F.hash("id", F.lit(1)), 360).cast("double").alias("heading"),
        (F.col("id") * 0.004).alias("distance"),
    )


def compiled(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far. A stage's
    delta is its ``compiles``: 0 on a steady pass means every class came
    from the session's codegen cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def main() -> None:
    spark = get_spark(app_name="e2e-report-scale")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)

    cat_path = os.path.join(WORK, "can_ids_shape.json")
    raw = build_catalog()
    with open(cat_path, "w") as f:
        json.dump(raw, f)
    catalog = CanCatalog.load(cat_path)
    n_cols = len(catalog.wide_columns())

    corpus = os.path.join(WORK, "candump")
    c0 = compiled(spark)
    gen_sec = generate_corpus(
        spark, catalog, corpus,
        file_splits=REPORT_FILES if REPORT else None,
    )
    print(
        json.dumps(
            {
                "stage": "generate",
                "lines": N_LINES,
                "wide_columns": n_cols,
                "files": REPORT_FILES if REPORT else "partitioned",
                "sec": gen_sec,
                "compiles": compiled(spark) - c0,
            }
        ),
        flush=True,
    )

    # E1 parse — the report's measured stage: wall over input lines,
    # output write included (the reference writes HDF5 chunk files).
    # The FIRST execution of the 187-column plan pays a one-time
    # ~30-40 s codegen-compile + JIT tier-up cost that is constant in
    # corpus size (measured: the identical 6 M-line plan runs ~50 s on
    # first execution and ~12 s on every subsequent one; a small-slice
    # proxy warm-up does NOT transfer). On a real cluster that compiles
    # once per executor and is noise against 100 TB; the reference's
    # ctypes/pandas loop has no JIT tier, so its per-line rate is flat
    # from line one. Both rates are reported: ``parse_cold_sec`` (first
    # run, compile included) and ``parse_sec`` (second run = the
    # steady-state rate a long job actually sustains).
    sparse_out = os.path.join(WORK, "parsed_sparse.parquet")

    def run_parse() -> tuple[float, int]:
        c0, t0 = compiled(spark), time.perf_counter()
        # construction runs the text scan and the duplicate count; the
        # write decodes from the frame table that scan materialised
        write_parquet(
            parse_stage(spark, corpus, catalog),
            sparse_out,
            mode="overwrite",
        )
        return round(time.perf_counter() - t0, 2), compiled(spark) - c0

    parse_cold_sec, parse_cold_compiles = run_parse()
    print(
        json.dumps(
            {
                "stage": "parse_cold",
                "sec": parse_cold_sec,
                "lines_per_sec": round(N_LINES / parse_cold_sec),
                "compiles": parse_cold_compiles,
            }
        ),
        flush=True,
    )
    parse_sec, parse_compiles = run_parse()
    parse_rows = spark.read.parquet(sparse_out).count()
    survival = parse_rows / N_LINES
    lps = N_LINES / parse_sec
    print(
        json.dumps(
            {
                "stage": "parse",
                "rows_out": parse_rows,
                "survival": round(survival, 4),
                "sec": parse_sec,
                "lines_per_sec": round(lps),
                "lines_per_sec_per_core": round(lps / CPUS),
                "ms_per_line_per_core": round(CPUS / lps * 1000, 4),
                "compiles": parse_compiles,
            }
        ),
        flush=True,
    )

    # E2 resample — every period of the active configuration (report
    # mode runs the 2020 list: 100ms AND 1s, main_2020.py:137-145); the
    # 1 s output keeps the cold/steady split, further periods run once
    res_secs: dict[float, float] = {}
    res_rows_by_p: dict[float, int] = {}
    res_cold_sec = res_cold_compiles = None
    res_out = ""
    for period in RESAMPLE_PERIODS:
        p_out = os.path.join(WORK, f"resampled_{period}s.parquet")

        def run_resample() -> tuple[float, int]:
            c0, t0 = compiled(spark), time.perf_counter()
            write_parquet(
                resample_stage(spark.read.parquet(sparse_out), period),
                p_out,
                mode="overwrite",
            )
            return round(time.perf_counter() - t0, 2), compiled(spark) - c0

        if period == 1.0:
            res_cold_sec, res_cold_compiles = run_resample()
            res_out = p_out
        sec, compiles = run_resample()
        rows = spark.read.parquet(p_out).count()
        res_secs[period] = sec
        res_rows_by_p[period] = rows
        print(
            json.dumps(
                {
                    "stage": "resample",
                    "period_s": period,
                    "rows_out": rows,
                    "cold_sec": res_cold_sec if period == 1.0 else None,
                    "sec": sec,
                    "cold_compiles": res_cold_compiles if period == 1.0 else None,
                    "compiles": compiles,
                }
            ),
            flush=True,
        )
    res_sec = res_secs[1.0]
    res_rows = res_rows_by_p[1.0]

    # E1b + E2b (SURVEY §4: partition pruning is the time-crop analogue
    # at rest): write the parse output DATE-PARTITIONED as well, then
    # resample ONE day from it — directory-level partition pruning must
    # make that scan touch only the day's files, asserted on the plan
    # AND on the post-pruning file set (input_file_name(); inputFiles()
    # lists the relation pre-pruning and cannot show this). The
    # partitioned layout is the at-rest production shape; the headline
    # full-span stages above keep the unpartitioned layout, which scans
    # ~30% faster at this file-count-to-size ratio (measured 21.8 s vs
    # 30.8 s steady) — at 100 TB the crop savings dominate that.
    sparse_part_out = os.path.join(WORK, "parsed_sparse_by_day.parquet")
    c0, t0 = compiled(spark), time.perf_counter()
    write_parquet(
        spark.read.parquet(sparse_out).withColumn(
            "day", F.to_date("timestamp")
        ),
        sparse_part_out,
        mode="overwrite",
        partition_by=["day"],
    )
    part_write_sec = round(time.perf_counter() - t0, 2)
    days = sorted(
        d.split("=", 1)[1]
        for d in os.listdir(sparse_part_out)
        if d.startswith("day=")
    )
    mid_day = days[len(days) // 2]
    full_files = (
        spark.read.parquet(sparse_part_out)
        .select(F.input_file_name()).distinct().count()
    )
    day_df = (
        spark.read.parquet(sparse_part_out)
        .where(F.col("day") == mid_day)
        .drop("day")
    )
    day_files = day_df.select(F.input_file_name()).distinct().count()
    day_plan = resample_stage(day_df, 1.0)
    plan_str = day_plan._jdf.queryExecution().executedPlan().toString()
    pruned_in_plan = "PartitionFilters: [isnotnull(day" in plan_str
    t0 = time.perf_counter()
    day_out = os.path.join(WORK, "resampled_day.parquet")
    write_parquet(day_plan, day_out, mode="overwrite")
    day_sec = round(time.perf_counter() - t0, 2)
    day_rows = spark.read.parquet(day_out).count()
    # a single-day corpus (report mode spans 0.91 days) has nothing to
    # prune — the plan assertion alone applies there
    pruned_ok = pruned_in_plan and (
        len(days) == 1 or 0 < day_files < full_files
    )
    print(
        json.dumps(
            {
                "stage": "resample_day_pruned",
                "partitioned_write_sec": part_write_sec,
                "day": mid_day,
                "days_total": len(days),
                "files_read": day_files,
                "files_total": full_files,
                "partition_filter_in_plan": pruned_in_plan,
                "rows_out": day_rows,
                "sec": day_sec,
                "compiles": compiled(spark) - c0,
                "ok": pruned_ok,
            }
        ),
        flush=True,
    )

    # E3a unify-forecast: reindex-interpolate a 30 s synthetic forecast
    # grid onto the 1 s telemetry grid (the fourth reference stage —
    # main_2022.py:159-163 runs parse → resample → forecast → GPS)
    span_s = N_LINES * DT_US // 1_000_000
    c0, t0 = compiled(spark), time.perf_counter()
    fc = spark.range(0, span_s // 30 + 2).select(
        F.timestamp_seconds(F.lit(BASE_EPOCH) + F.col("id") * 30).alias("timestamp"),
        ((F.col("id") % 90) * 10.0).alias("dni"),
        ((F.col("id") % 70) * 7.0).alias("ghi"),
    )
    fc_df = unify_forecast_stage(spark.read.parquet(res_out), fc, 1.0)
    fc_out = os.path.join(WORK, "unified_fc.parquet")
    write_parquet(fc_df, fc_out, mode="overwrite")
    fc_sec = round(time.perf_counter() - t0, 2)
    fc_read = spark.read.parquet(fc_out)
    fc_rows = fc_read.count()
    fc_nonnull = fc_read.where(F.col("solcast_dni").isNotNull()).count()
    print(
        json.dumps({
            "stage": "unify_forecast", "rows_out": fc_rows,
            "dni_nonnull": fc_nonnull, "sec": fc_sec,
            "compiles": compiled(spark) - c0,
        }),
        flush=True,
    )

    # E3b unify-GPS: backward as-of join of the 1 Hz track, chained on
    # the forecast-enriched grid (the full four-stage composition)
    c0, t0 = compiled(spark), time.perf_counter()
    unified = unify_gps_stage(
        fc_read, synthetic_track(spark, span_s)
    )
    uni_out = os.path.join(WORK, "unified.parquet")
    write_parquet(unified, uni_out, mode="overwrite")
    uni_sec = round(time.perf_counter() - t0, 2)
    uni_rows = spark.read.parquet(uni_out).count()
    print(
        json.dumps({"stage": "unify", "rows_out": uni_rows, "sec": uni_sec,
                    "compiles": compiled(spark) - c0}),
        flush=True,
    )

    # Acceptance: the reference's only published number is per-FILE wall
    # rate with its full multiprocessing pool on one machine (12.3-13.3 k
    # lines/s, canparser_sparse_report via BASELINE.md). Bars:
    #  * wall rate >= 10x the reference's best wall rate (133 k lines/s)
    #    at the SAME 187-column catalog width;
    #  * per-core ms/line <= 1.5x the reference's per-process ms/line
    #    (>= ~8.7 k lines/s/core) — the narrow-catalog bench.py parse runs
    #    ~24 k lines/s/core, 1.8x faster per core than the reference.
    # The wall-rate bar is a machine-size bar: at 4 cores it asks for
    # > 33 k lines/s per core. A parse that scanned the text three times
    # ran ~18-20 k lines/s/core at 187 columns and could not meet it on
    # 4 cores; the one-scan parse runs ~35 k, just above it. Each bar is
    # printed on its own so a failing run shows which one failed.
    bars = {
        "survival": abs(survival - EXPECT_SURVIVAL) < 0.005,
        "grid": all(
            abs(res_rows_by_p[p] - round(span_s / p)) <= span_s / p * 0.01 + 2
            for p in RESAMPLE_PERIODS
        ),
        "pruning": pruned_ok,
        "forecast_coverage": (
            fc_rows == res_rows and fc_nonnull >= int(res_rows * 0.95)
        ),
        "unify_rows": uni_rows == res_rows,
        "wall_rate": lps > 10 * 13_300,
        "per_core": lps / CPUS > 13_300 / 1.5,
    }
    ok = all(bars.values())
    print(
        json.dumps(
            {
                "metric": "e2e_report_scale",
                "mode": "report_7files" if REPORT else "partitioned",
                "lines_in": N_LINES,
                "wide_columns": n_cols,
                "parse_rows": parse_rows,
                "survival": round(survival, 4),
                "parse_cold_sec": parse_cold_sec,
                "parse_sec": parse_sec,
                "lines_per_sec_per_core": round(N_LINES / parse_sec / CPUS),
                "reference_best_lines_per_sec_per_process": 13_300,
                "resample_rows": {str(p): res_rows_by_p[p] for p in RESAMPLE_PERIODS},
                "resample_cold_sec": res_cold_sec,
                "resample_sec": {str(p): res_secs[p] for p in RESAMPLE_PERIODS},
                "unify_forecast_rows": fc_rows,
                "unify_forecast_sec": fc_sec,
                "unify_rows": uni_rows,
                "unify_sec": uni_sec,
                "total_sec": round(
                    parse_sec + sum(res_secs.values()) + fc_sec + uni_sec, 2
                ),
                "bars": bars,
                "ok": ok,
            }
        )
    )
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
