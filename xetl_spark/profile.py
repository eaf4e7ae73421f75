"""In-process stage metrics for one Spark action.

``profile(spark, action)`` runs ``action()`` under a fresh job tag and
reads the completed stage attempts of the tagged jobs from the
application status store — the store behind the monitoring REST API,
which is filled with the UI off. No port, no HTTP call and no
before/after diff: the tag attributes stages exactly, also when two
threads profile actions on one shared session at the same time.

Not imported by ``xetl_spark`` itself; the measuring tools import it.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass
from typing import Any, Callable

# task quantiles read per stage: (median, max)
TASK_QUANTILES = (0.5, 1.0)


@dataclass(frozen=True)
class StageMetrics:
    """One COMPLETE stage attempt, raw status-store units."""

    stage_id: int
    attempt: int
    description: str
    tasks: int
    run_ms: int
    cpu_ns: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    mem_spill_bytes: int
    disk_spill_bytes: int
    fetch_wait_ms: int
    shuffle_write_ns: int
    task_run_ms: tuple[float, float]  # (p50, max)
    task_shuffle_read_bytes: tuple[float, float]  # (p50, max)


@dataclass(frozen=True)
class Profile:
    result: Any
    wall_s: float
    stages: list[StageMetrics]


def profile(spark, action: Callable[[], Any]) -> Profile:
    """Run ``action()`` and return its result, wall time and the
    completed stages of the jobs it started (ordered by stage id)."""
    sc = spark.sparkContext
    tag = f"xetl-profile-{uuid.uuid4().hex}"
    sc.addJobTag(tag)  # thread-local, like every job property
    try:
        t0 = time.perf_counter()
        result = action()
        wall_s = time.perf_counter() - t0
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    # the status store is fed by the listener bus; drain it so the
    # stages of the jobs that already returned are all recorded
    jsc.listenerBus().waitUntilEmpty()
    return Profile(result, wall_s, _completed_stages(spark, jsc, tag))


def crossing_ms(spark) -> int:
    """Best-of-3 wall (ms) of a fixed 32-task identity ``mapInPandas``
    round trip, after one priming run (worker and Arrow channel init):
    the JVM↔Python crossing regime. It is bimodal on a shared host
    (~100 ms fast, ~400 ms+ slow), and mapInPandas-heavy timings are
    comparable only within one regime."""
    probe = spark.range(0, 256).repartition(32).mapInPandas(lambda it: it, schema="id long")
    probe.count()
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        probe.count()
        best = min(best, time.perf_counter() - t0)
    return round(best * 1000)


def _completed_stages(spark, jsc, tag: str) -> list[StageMetrics]:
    store, tracker, jvm = jsc.statusStore(), jsc.statusTracker(), spark._jvm
    stage_ids = set()
    for job_id in tracker.getJobIdsForTag(tag):
        info = tracker.getJobInfo(job_id)
        if info.isDefined():
            stage_ids.update(info.get().stageIds())
    quantiles = spark.sparkContext._gateway.new_array(jvm.double, len(TASK_QUANTILES))
    for i, q in enumerate(TASK_QUANTILES):
        quantiles[i] = q
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    out: dict[tuple[int, int], StageMetrics] = {}
    for sid in sorted(stage_ids):
        # stageData(stageId, details, taskStatus, withSummaries,
        # unsortedQuantiles): every argument, since Py4J has no defaults
        attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
        for i in range(attempts.size()):
            s = attempts.apply(i)
            if s.status().toString() == "COMPLETE":
                out[(sid, s.attemptId())] = _record(store, s, quantiles)
    return list(out.values())


def _record(store, s, quantiles) -> StageMetrics:
    run = read = (0.0, 0.0)
    summary = store.taskSummary(s.stageId(), s.attemptId(), quantiles)
    if summary.isDefined():
        d = summary.get()
        run = _pair(d.executorRunTime())
        read = _pair(d.shuffleReadMetrics().readBytes())
    desc = s.description()
    return StageMetrics(
        stage_id=s.stageId(),
        attempt=s.attemptId(),
        description=desc.get() if desc.isDefined() else s.name(),
        tasks=s.numCompleteTasks(),
        run_ms=s.executorRunTime(),
        cpu_ns=s.executorCpuTime(),
        shuffle_read_bytes=s.shuffleReadBytes(),
        shuffle_write_bytes=s.shuffleWriteBytes(),
        mem_spill_bytes=s.memoryBytesSpilled(),
        disk_spill_bytes=s.diskBytesSpilled(),
        fetch_wait_ms=s.shuffleFetchWaitTime(),
        shuffle_write_ns=s.shuffleWriteTime(),
        task_run_ms=run,
        task_shuffle_read_bytes=read,
    )


def _pair(seq) -> tuple[float, float]:
    return (float(seq.apply(0)), float(seq.apply(1)))
