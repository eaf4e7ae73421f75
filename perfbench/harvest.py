"""Layer numbers read from outside the program.

Everything here observes Spark through its public status surfaces and
never through code inside ``xetl_spark``:

- executor work: the application status store
  (``SparkContext.statusStore()``), which is populated with the UI off;
- Catalyst phase times: ``queryExecution().tracker().phases()``;
- streaming progress: a ``StreamingQueryListener`` the benchmark adds;
- process memory: ``VmHWM`` from ``/proc``.

The pure helpers (``quantile``, ``weighted_quantile``,
``new_completed``, ``summarize``) take plain Python values so the tests
can drive them without a JVM.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

TASK_QUANTILES = (0.5, 0.99)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def weighted_quantile(values: list[float], weights: list[float], q: float) -> float:
    """Smallest value whose cumulative weight reaches ``q`` of the total.

    Used to pool per-stage task quantiles into one figure: each stage's
    quantile counts as many times as the stage ran tasks.
    """
    pairs = sorted((v, w) for v, w in zip(values, weights) if w > 0)
    if not pairs:
        return 0.0
    total = sum(w for _, w in pairs)
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return v
    return pairs[-1][0]


@dataclass(frozen=True)
class Stage:
    """One stage attempt, as the status store reports it."""

    stage_id: int
    attempt: int
    status: str
    tasks: int
    failed_tasks: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spilled_bytes: int
    task_p50_ms: float
    task_p99_ms: float

    @property
    def key(self) -> tuple[int, int]:
        return (self.stage_id, self.attempt)


def new_completed(before: set[tuple[int, int]], stages: list[Stage]) -> list[Stage]:
    """Completed stage attempts that were not completed in ``before``.

    Keyed by (stageId, attemptId): a retried stage is a new attempt with
    new work. Active, pending, skipped and failed statuses are left out;
    counting them made identical passes read 971/674/580 tasks.
    """
    return [s for s in stages if s.status == "COMPLETE" and s.key not in before]


def summarize(stages: list[Stage], wall_s: float, cores: int) -> dict[str, float]:
    """Executor totals over a set of completed stage attempts."""
    run_ms = sum(s.run_ms for s in stages)
    tasks = [s.tasks for s in stages]
    mb = 1 << 20
    return {
        "exec.stages": len(stages),
        "exec.tasks": sum(tasks),
        "exec.failed_tasks": sum(s.failed_tasks for s in stages),
        "exec.cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "exec.gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "exec.shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / mb,
        "exec.shuffle_read_mb": sum(s.shuffle_read_bytes for s in stages) / mb,
        "exec.spill_mb": sum(s.spilled_bytes for s in stages) / mb,
        "exec.task_p50_ms": weighted_quantile([s.task_p50_ms for s in stages], tasks, 0.5),
        "exec.task_p99_ms": weighted_quantile([s.task_p99_ms for s in stages], tasks, 0.99),
        "exec.core_util": run_ms / 1e3 / (wall_s * cores) if wall_s > 0 else 0.0,
    }


class StatusStore:
    """Reads completed stage attempts from a live SparkContext's status
    store, following the jobs the scheduler started since the last read."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._gw = spark.sparkContext._gateway
        self._jvm = spark._jvm
        self._store = self._sc.statusStore()
        self._tracker = self._sc.statusTracker()
        self._quantiles = self._doubles(TASK_QUANTILES)
        self._no_quantiles = self._doubles(())
        self.drain()
        jobs = self._store.jobsList(None)  # newest first
        self._next_job = jobs.apply(0).jobId() + 1 if jobs.size() else 0
        self._seen: set[tuple[int, int]] = set()

    def _doubles(self, xs) -> object:
        arr = self._gw.new_array(self._jvm.double, len(xs))
        for i, x in enumerate(xs):
            arr[i] = float(x)
        return arr

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the stages of actions that already returned."""
        self._sc.listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list[int]:
        """Ids of jobs started since the previous call (ids are sequential)."""
        self.drain()
        out = []
        while self._tracker.getJobInfo(self._next_job).isDefined():
            out.append(self._next_job)
            self._next_job += 1
        return out

    def new_stages(self, jobs: list[int]) -> list[Stage]:
        """Completed stage attempts of ``jobs`` not returned before."""
        self.drain()
        ids = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j).get()
            ids.update(info.stageIds())
        found = []
        for sid in sorted(ids):
            # stageData(stageId, details, taskStatus, withSummaries,
            # unsortedQuantiles): every argument, since Py4J has no defaults
            attempts = self._store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
            )
            for i in range(attempts.size()):
                found.append(self._stage(attempts.apply(i)))
        fresh = new_completed(self._seen, found)
        self._seen.update(s.key for s in fresh)
        return fresh

    def _stage(self, s) -> Stage:
        p50 = p99 = 0.0
        summary = self._store.taskSummary(s.stageId(), s.attemptId(), self._quantiles)
        if summary.isDefined():
            rt = summary.get().executorRunTime()
            p50, p99 = float(rt.apply(0)), float(rt.apply(1))
        return Stage(
            stage_id=s.stageId(),
            attempt=s.attemptId(),
            status=s.status().toString(),
            tasks=s.numCompleteTasks(),
            failed_tasks=s.numFailedTasks(),
            run_ms=s.executorRunTime(),
            cpu_ns=s.executorCpuTime(),
            gc_ms=s.jvmGcTime(),
            shuffle_write_bytes=s.shuffleWriteBytes(),
            shuffle_read_bytes=s.shuffleReadBytes(),
            spilled_bytes=s.diskBytesSpilled(),
            task_p50_ms=p50,
            task_p99_ms=p99,
        )


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning ms of ``df``'s own query execution.

    Forces physical planning of the DataFrame; the sink write that
    follows plans its command again, which is part of the tracing
    overhead. ``phases()`` is a Scala map; iterate it, since ``get``
    returns an ``Option``.
    """
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class StreamStats(StreamingQueryListener):
    """Collects micro-batch progress of every streaming query."""

    def __init__(self):
        self.batches: list[tuple[int, int, float]] = []  # rows, state rows, ms

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        state = sum(op.numRowsTotal for op in p.stateOperators)
        self.batches.append((p.numInputRows, state, float(p.durationMs.get("triggerExecution", 0))))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")


def cpu_steal_total() -> tuple[int, int]:
    """(steal, total) CPU time of the whole machine from /proc/stat, in
    clock ticks: time the hypervisor gave to other guests, and all time."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def jvm_pid(spark) -> int:
    """Pid of the driver JVM that PySpark launched."""
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def crossing_probe_ms(spark) -> float:
    """Wall of a 32-task identity mapInPandas round trip: the host's
    JVM-to-Python crossing regime, recorded with every run."""
    probe = spark.range(0, 256).repartition(32).mapInPandas(lambda it: it, schema="id long")
    t0 = time.perf_counter()
    probe.count()
    return (time.perf_counter() - t0) * 1e3
