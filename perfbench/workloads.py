"""The benchmark's workloads and the runs it makes of them.

An untraced run calls the package's public pipeline exactly as a user would
and is timed from outside. A traced run calls each layer's public function
in the same order, forces its output with ``localCheckpoint(eager=True)``,
and reads the layer's task metrics from Spark's status store; the forcing is
part of what the traced run costs, which is why its total is reported next
to the untraced wall time.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import check
import gen
import status

# layers whose Spark work is reported in full (see BATCH_FIELDS)
BATCH_LAYERS = ("parse", "resample", "unify_forecast", "unify_gps", "sink")
BATCH_FIELDS = ("wall_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "jobs",
                "tasks", "single_task_stages", "failed_tasks", "rows_out")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in report order."""
    units = {"wall_s": "s", "cpu_s": "s", "gc_s": "s", "shuffle_mb": "MB",
             "spill_mb": "MB", "jobs": "count", "tasks": "count",
             "single_task_stages": "count", "failed_tasks": "count",
             "rows_out": "rows"}
    out = {"session.start_s": "s", "session.cold_run_s": "s"}
    out.update({"candump.wall_s": "s", "candump.cpu_s": "s",
                "candump.frames": "count", "candump.reject_frac": "ratio"})
    for layer in BATCH_LAYERS:
        out.update({f"{layer}.{f}": units[f] for f in BATCH_FIELDS})
        if layer == "parse":
            out.update({"parse.call_s": "s", "parse.survival": "ratio"})
    for layer in ("forecast", "gpx"):
        out.update({f"{layer}.wall_s": "s", f"{layer}.cpu_s": "s",
                    f"{layer}.rows_out": "rows"})
    out.update({
        "stream.build_s": "s", "stream.wall_s": "s", "stream.cpu_s": "s",
        "stream.batches": "count", "stream.add_batch_ms_p50": "ms",
        "stream.latest_offset_ms_p50": "ms", "stream.commit_ms_p50": "ms",
        "stream.input_rows_per_s": "rows/s",
        "stateful.state_rows": "rows", "stateful.state_mb": "MB",
        "stateful.state_commit_ms_p50": "ms", "stateful.rows_out": "rows",
        "trace.total_s": "s", "trace.overhead_s": "s",
    })
    return out


def _clear_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "batch" or "stream"
    spec: gen.Spec
    why: str
    # untraced runs after the cold one, whatever --seconds says: as many as
    # fit a process into the run budget (a narrow run costs ~9 s, a drain ~6 s)
    min_steady: int = 2


WORKLOADS = {w.name: w for w in (
    Workload(
        "narrow_100ms", "batch",
        gen.Spec("narrow", lines=20_000, lines_per_s=20.0, period_s=0.1,
                 files=8, gaps=3),
        "2020 100 ms configuration on the 10-column catalog: resample and "
        "the unify stages do the work; the narrow side of every width switch",
        min_steady=3,
    ),
    Workload(
        "stream_ingest", "stream",
        gen.Spec("report", lines=4_500, lines_per_s=100.0, period_s=1.0,
                 files=3, gaps=0, enrich=False),
        "187-column candump backlog streamed one file per micro-batch through "
        "decode_long and the per-signal stateful forward fill",
    ),
)}


@dataclass
class Run:
    """One measured run: wall and executor CPU seconds, per-batch
    milliseconds, and the output check's mismatches."""

    wall_s: float
    cpu_s: float
    batch_ms: list[float]
    errors: list[str]
    layers: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)


class Bench:
    """One workload's inputs in one Spark session."""

    def __init__(self, spark, workload: Workload, inputs: dict, work: str):
        from solarboat_data_pipeline_spark.catalog import CanCatalog

        self.spark = spark
        self.w = workload
        self.paths = inputs["paths"]
        self.expect = inputs["expect"]
        self.work = work
        self.reader = status.StageReader(spark)
        self.catalog = CanCatalog.load(self.paths["catalog"])
        self._n = 0
        self._trace = 0
        self._stream = None

    def _fresh(self, what: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{what}_{self._n}")

    # ------------------------------------------------------------ batch

    def _forecast(self):
        """The ``examples/main_2020_spark.py`` forecast flow."""
        from solarboat_data_pipeline_spark.functions.solar import (
            poa_irradiance, solcast_preprocess)
        from solarboat_data_pipeline_spark.operators.timeseries import (
            trapezoid_integral)

        fc = solcast_preprocess(self.spark.read.csv(
            self.paths["solcast"], header=True, inferSchema=True))
        fc = poa_irradiance(fc, latitude=gen.SITE[0], longitude=gen.SITE[1],
                            period_seconds=300.0)
        fc = trapezoid_integral(fc, col="poa", out_col="energy",
                                time_constant=3600.0)
        return fc.select("timestamp", "ghi", "dni", "dhi", "poa", "energy")

    def _check_grid(self, out: str) -> tuple[list[str], int]:
        """Check the written table, remove it, return (mismatches, rows)."""
        table = check.read(out)
        shutil.rmtree(out, ignore_errors=True)
        return check.check_grid(table, self.expect), table.num_rows

    def run_batch(self) -> Run:
        from solarboat_data_pipeline_spark.pipeline import run_pipeline
        from solarboat_data_pipeline_spark.sources.sinks import write_parquet

        out = self._fresh("out")
        sc = self.spark.sparkContext
        group = f"perfbench-run-{self._n}"
        mark = self.reader.mark()
        sc.setJobGroup(group, self.w.name)
        t0 = time.perf_counter()
        try:
            df = run_pipeline(
                self.spark, self.paths["candump"], self.catalog,
                period_seconds=self.w.spec.period_s, forecast=self._forecast(),
                gpx_path=self.paths["gpx"],
            )
            write_parquet(df, out)
            wall = time.perf_counter() - t0
        finally:
            _clear_group(sc)
        cpu = self.reader.since(mark).cpu_s
        # a batch run's "batches" are its Spark jobs
        return Run(wall, cpu, self.reader.job_ms(group), self._check_grid(out)[0])

    @contextmanager
    def _layer(self, name: str, run: Run, full: bool = True):
        """Span one layer: tag its jobs, time it, diff the stage list."""
        sc = self.spark.sparkContext
        group = f"perfbench-{name}-{self._trace}"
        mark = self.reader.mark()
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            _clear_group(sc)
        tot = self.reader.since(mark, group)
        run.spans.append({"name": name, "start": t0, "end": t1,
                          "parent": f"{self.w.name}-traced-{self._trace}"})
        run.layers[f"{name}.wall_s"] = t1 - t0
        if full:
            run.layers.update(tot.as_layer(name))
        else:
            run.layers[f"{name}.cpu_s"] = tot.cpu_s

    def _candump_layer(self, run: Run, with_order: bool) -> None:
        from solarboat_data_pipeline_spark.sources.candump import (
            extract_frames, scan_candump)

        with self._layer("candump", run, full=False):
            frames = extract_frames(
                scan_candump(self.spark, self.paths["candump"]),
                with_order=with_order).count()
        run.layers["candump.frames"] = frames
        run.layers["candump.reject_frac"] = 1 - frames / self.expect["lines"]
        if frames != self.expect["frames"]:
            run.errors.append(f"frames {frames} != {self.expect['frames']}")

    def traced_batch(self) -> Run:
        from solarboat_data_pipeline_spark.functions.geo import derive_track
        from solarboat_data_pipeline_spark.pipeline import (
            grid_bounds, parse_stage, resample_stage, unify_forecast_stage,
            unify_gps_stage)
        from solarboat_data_pipeline_spark.sources.gpx import scan_gpx
        from solarboat_data_pipeline_spark.sources.sinks import write_parquet

        run = Run(0.0, 0.0, [], [])
        period = self.w.spec.period_s
        self._candump_layer(run, with_order=True)

        def forced(df):
            return df.localCheckpoint(eager=True)

        stats: dict = {}
        with self._layer("parse", run):
            t0 = time.perf_counter()
            wide = parse_stage(self.spark, self.paths["candump"], self.catalog,
                               stats_out=stats)
            run.layers["parse.call_s"] = time.perf_counter() - t0
            wide = forced(wide)
        run.layers["parse.rows_out"] = n = wide.count()
        run.layers["parse.survival"] = n / self.expect["lines"]
        if n != self.expect["wide_rows"]:
            run.errors.append(f"parse rows {n} != {self.expect['wide_rows']}")
        kb = (stats["first_ts"], stats["last_ts"]) if "first_ts" in stats else None

        with self._layer("resample", run):
            res = forced(resample_stage(wide, period, known_bounds=kb))
        run.layers["resample.rows_out"] = res.count()
        with self._layer("forecast", run, full=False):
            fc = forced(self._forecast())
        run.layers["forecast.rows_out"] = fc.count()
        with self._layer("unify_forecast", run):
            ufc = forced(unify_forecast_stage(
                res, fc, period,
                known_bounds=grid_bounds(kb, period) if kb else None,
            ))
        run.layers["unify_forecast.rows_out"] = ufc.count()
        with self._layer("gpx", run, full=False):
            track = forced(derive_track(scan_gpx(self.spark, self.paths["gpx"])).select(
                "timestamp", "latitude", "longitude", "altitude",
                "speed", "heading", "distance"))
        run.layers["gpx.rows_out"] = track.count()
        with self._layer("unify_gps", run):
            final = forced(unify_gps_stage(ufc, track))
        run.layers["unify_gps.rows_out"] = final.count()
        out = self._fresh("out")
        with self._layer("sink", run):
            write_parquet(final, out)
        errors, run.layers["sink.rows_out"] = self._check_grid(out)
        run.errors += errors
        run.wall_s = sum(v for k, v in run.layers.items() if k.endswith(".wall_s"))
        return run

    # ----------------------------------------------------------- stream

    def prepare(self) -> float:
        """Build the streaming query's DataFrame once, as a long-running
        ingest job would, and return the seconds it took (0 for batch).

        Every drain then starts a fresh query from it. Building costs
        seconds of driver-side planning on the 187-column catalog, and that
        time varied 5-14 s between drains of one session and 5-22 s between
        sessions, so it is reported on its own (``stream.build_s``) rather
        than inside each drain or the set-up time."""
        if self.w.kind != "stream":
            return 0.0
        from solarboat_data_pipeline_spark.operators.parse import (
            decode_long, with_frame_meta, with_timestamp)
        from solarboat_data_pipeline_spark.sources.candump import extract_frames
        from solarboat_data_pipeline_spark.streaming.pipeline import stream_candump
        from solarboat_data_pipeline_spark.streaming.stateful import stream_ffill

        t0 = time.perf_counter()
        lines = stream_candump(self.spark, self.paths["candump"],
                               max_files_per_trigger=1)
        frames = with_frame_meta(with_timestamp(
            extract_frames(lines, with_order=False)))
        self._stream = stream_ffill(
            decode_long(frames, self.catalog),
            key_cols=("module_name", "topic_name", "byte_name"))
        return time.perf_counter() - t0

    def _drain(self, run: Run) -> tuple[float, list[dict], int]:
        """Stream the whole backlog into a fresh sink; return the wall time,
        the progress records and the rows written (closed loop: the next
        micro-batch starts when the previous one commits)."""
        from solarboat_data_pipeline_spark.streaming.pipeline import (
            write_parquet_stream)

        out, ckpt = self._fresh("stream_out"), self._fresh("stream_ckpt")
        t0 = time.perf_counter()
        q = write_parquet_stream(self._stream, out, ckpt, available_now=True)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [json.loads(p.json) for p in q.recentProgress]
        table = check.read(out)
        run.errors += check.check_signals(table, self.expect)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        return wall, progress, table.num_rows

    def run_stream(self) -> Run:
        run = Run(0.0, 0.0, [], [])
        mark = self.reader.mark()
        run.wall_s, progress, _ = self._drain(run)
        run.cpu_s = self.reader.since(mark).cpu_s
        run.batch_ms = status.trigger_ms(progress)
        return run

    def traced_stream(self) -> Run:
        run = Run(0.0, 0.0, [], [])
        self._candump_layer(run, with_order=False)
        with self._layer("stream", run, full=False):
            wall, progress, rows = self._drain(run)
        run.layers.update(status.progress_metrics(progress, wall))
        run.layers["stateful.rows_out"] = rows
        run.wall_s = run.layers["candump.wall_s"] + run.layers["stream.wall_s"]
        return run

    def run(self) -> Run:
        return self.run_batch() if self.w.kind == "batch" else self.run_stream()

    def traced(self) -> Run:
        self._trace += 1
        return self.traced_batch() if self.w.kind == "batch" else self.traced_stream()
