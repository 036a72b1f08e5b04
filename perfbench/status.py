"""Readers for Spark's own run metrics, used from the benchmark side.

* :class:`StageReader` reads per-stage task metrics from the JVM
  ``AppStatusStore`` through py4j. The store is fed by the listener bus, so
  it works with ``spark.ui.enabled=false``. Scala default arguments do not
  exist through py4j, so every argument is passed explicitly, and a Scala
  ``Seq`` is indexed with ``.apply(i)``.
* :func:`progress_metrics` summarises a streaming query's
  ``StreamingQueryProgress`` records (the progress API of Structured
  Streaming).
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass

MB = 1024 * 1024


@dataclass
class StageTotals:
    """Task metrics summed over a set of stages."""

    stages: int = 0
    jobs: int = 0
    tasks: int = 0
    single_task_stages: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0

    def as_layer(self, prefix: str) -> dict[str, float]:
        return {
            f"{prefix}.cpu_s": self.cpu_s,
            f"{prefix}.gc_s": self.gc_s,
            f"{prefix}.shuffle_mb": self.shuffle_mb,
            f"{prefix}.spill_mb": self.spill_mb,
            f"{prefix}.jobs": self.jobs,
            f"{prefix}.tasks": self.tasks,
            f"{prefix}.single_task_stages": self.single_task_stages,
            f"{prefix}.failed_tasks": self.failed_tasks,
        }


class StageReader:
    """Diff the status store's stage list around a block of Spark actions.

    ``mark()`` records the newest stage id; ``since(mark, group)`` sums every
    stage created after it, and counts the jobs run under ``group`` (set
    with ``SparkContext.setJobGroup``)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jvm = self._sc._jvm
        self._jvm = jvm
        self._store = self._sc._jsc.sc().statusStore()
        self._bus = self._sc._jsc.sc().listenerBus()
        self._empty_doubles = self._sc._gateway.new_array(jvm.double, 0)

    def _drain(self) -> None:
        # task-end events reach the store asynchronously; wait for them
        self._bus.waitUntilEmpty(60_000)

    def _stages(self):
        """Newest first: the store lists stages by descending id."""
        return self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._empty_doubles, self._jvm.java.util.ArrayList(),
        )

    def mark(self) -> int:
        self._drain()
        seq = self._stages()
        return seq.apply(0).stageId() if seq.size() else -1

    def since(self, mark: int, group: str | None = None) -> StageTotals:
        self._drain()
        seq = self._stages()
        t = StageTotals()
        for i in range(seq.size()):
            s = seq.apply(i)
            sid = s.stageId()
            if sid <= mark:
                break
            n = s.numTasks()
            t.stages += 1
            t.tasks += n
            t.single_task_stages += int(n == 1 and str(s.status()) != "SKIPPED")
            t.failed_tasks += s.numFailedTasks()
            t.cpu_s += s.executorCpuTime() / 1e9
            t.gc_s += s.jvmGcTime() / 1e3
            t.shuffle_mb += s.shuffleWriteBytes() / MB
            t.spill_mb += s.diskBytesSpilled() / MB
        if group is not None:
            t.jobs = len(self._sc.statusTracker().getJobIdsForGroup(group))
        return t


    def job_ms(self, group: str) -> list[float]:
        """Submission-to-completion milliseconds of each job in ``group``."""
        self._drain()
        out = []
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                out.append(float(end.get().getTime() - sub.get().getTime()))
        return out


def _p50(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def progress_metrics(progress: list[dict], wall_s: float) -> dict[str, float]:
    """``stream.*`` and ``stateful.*`` from ``StreamingQuery.recentProgress``
    (as dicts). Batches that read no rows (the closing availableNow batch)
    are left out of the per-batch medians."""
    live = [p for p in progress if p.get("numInputRows", 0) > 0]
    d = lambda k: [p["durationMs"].get(k, 0) for p in live]  # noqa: E731
    state = [op for p in live for op in p.get("stateOperators", [])]
    last_state = live[-1].get("stateOperators", []) if live else []
    rows = sum(p["numInputRows"] for p in live)
    return {
        "stream.batches": len(live),
        "stream.add_batch_ms_p50": _p50(d("addBatch")),
        "stream.latest_offset_ms_p50": _p50(d("latestOffset")),
        "stream.commit_ms_p50": _p50(d("commitOffsets")),
        "stream.input_rows_per_s": rows / wall_s if wall_s > 0 else 0.0,
        "stateful.state_rows": sum(op.get("numRowsTotal", 0) for op in last_state),
        "stateful.state_mb": sum(op.get("memoryUsedBytes", 0) for op in last_state) / MB,
        "stateful.state_commit_ms_p50": _p50([op.get("commitTimeMs", 0) for op in state]),
    }


def trigger_ms(progress: list[dict]) -> list[float]:
    """Per-micro-batch ``triggerExecution`` durations of batches with input."""
    return [float(p["durationMs"]["triggerExecution"])
            for p in progress if p.get("numInputRows", 0) > 0]
