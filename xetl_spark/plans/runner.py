"""Job executor: one DAG scheduler for every worker count.

Reference parity (xetl/models/job.py:146-214, command.py:70-86,
task.py:291-347): command filtering, data-dir guard, fail-fast
pre-validation of EVERY command before any execution, job-order
execution (the scheduler's one-worker default), skip-but-still-
resolvable stages, TaskFailure abort.

Spark-first differences (SURVEY.md §4.2): stage results are lazy
DataFrames registered as temp views — Catalyst fuses across stages (an
improvement over the reference's per-command file materialization);
a stage opts into materialization with MATERIALIZE=true, writing
parquet under the job's data dir. Dry-run (``explain_job``) prints the
fully-resolved manifest plus each stage's ``explain`` instead of
argv/env dumps.
"""

from __future__ import annotations

import inspect
import logging
import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from xetl_spark.plans.models import (
    Command,
    EnvValue,
    Job,
    JobDataDirectoryNotFound,
    ValidationError,
    fuzzy_eq,
)
from xetl_spark.plans.registry import BUILTINS, TaskRegistry

log = logging.getLogger("xetl_spark.runner")

# Runner-level control keys, valid on ANY stage without being declared
# in the task's env interface (the reference has no equivalent — its
# commands carry only task inputs; these are the Spark-runner extensions
# for materialization, DAG scheduling, and retry policy).
RESERVED_ENV = frozenset({"MATERIALIZE", "DEPENDS_ON", "RETRIES", "RETRY_BACKOFF_S"})

# The run-history table (``write_run_report``): one row per stage of a
# run. Its writer and both of its readers take this schema, so reading
# the history back infers nothing.
RUN_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("job", T.StringType()),
        T.StructField("finished_at", T.DoubleType()),
        T.StructField("total_wall_s", T.DoubleType()),
        T.StructField("stage", T.StringType()),
        T.StructField("task", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("wall_s", T.DoubleType()),
        T.StructField("attempts", T.LongType()),
        T.StructField("rows", T.LongType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("output_path", T.StringType()),
        T.StructField("schema", T.StringType()),
    ]
)


class TaskFailure(RuntimeError):
    """A stage raised; carries the failed command for CLI exit codes
    (reference command.py:85-86, __main__.py:61-63)."""

    def __init__(self, command: Command, cause: Exception):
        super().__init__(f"command {command.name or command.task!r} failed: {cause}")
        self.command = command
        self.cause = cause


@dataclass
class StageContext:
    """What a task implementation sees: the session, its resolved env,
    the job, and every prior stage's output by name."""

    spark: SparkSession
    job: Job
    command: Command
    env: dict[str, EnvValue]
    outputs: dict[str, DataFrame] = field(default_factory=dict)
    previous: DataFrame | None = None
    # task-reported observability (e.g. Observation row counts from
    # write tasks) — folded into StageResult / run_report
    metrics: dict[str, Any] = field(default_factory=dict)

    def input_df(self, key: str = "INPUT") -> DataFrame:
        """Resolve a stage input: env[key] naming a prior stage, else
        the immediately preceding stage's output."""
        ref = self.env.get(key)
        if ref is not None:
            for name, df in self.outputs.items():
                if fuzzy_eq(name, str(ref)):
                    return df
            raise KeyError(
                f"{key}={ref!r} does not name an earlier stage "
                f"(have: {sorted(self.outputs)})"
            )
        if self.previous is None:
            raise KeyError(
                f"stage {self.command.name or self.command.task!r} needs "
                f"{key} or a preceding stage"
            )
        return self.previous

    def sql(self, template: str) -> DataFrame:
        """Run SQL with prior stage outputs visible as temp views and
        ``{ENV_KEY}`` template substitution."""
        for name, df in self.outputs.items():
            df.createOrReplaceTempView(name)
        rendered = re.sub(
            r"\{([A-Z][A-Z0-9_]*)\}",
            lambda m: str(self.env.get(m.group(1), m.group(0))),
            template,
        )
        return self.spark.sql(rendered)


@dataclass
class StageResult:
    command: Command
    status: str  # "success" | "skipped" | "resumed"
    output: DataFrame | None = None
    wall_s: float = 0.0
    attempts: int = 1
    rows: int | None = None  # materialized stages only (parquet metadata)
    bytes: int | None = None  # materialized stages only (on-disk size)
    output_path: str | None = None
    schema: str | None = None


def drive_task(fn: Any, ctx: Any, commit: bool = True) -> tuple[DataFrame | None, bool]:
    """Run a task body through its commit to its return value, or with
    ``commit=False`` only to its yield (the plan). Returns ``(output,
    acts)``; ``acts`` is whether the body reached a yield."""
    body = fn(ctx)
    if not inspect.isgenerator(body):
        return body, False
    acts = False
    try:
        plan = next(body)
        acts = True
        if not commit:
            body.close()
            return plan, acts
        next(body)
    except StopIteration as done:
        return done.value, acts
    raise RuntimeError(f"task body {fn!r} yielded more than once")


def _filter_commands(job: Job, commands: str | list[str] | None) -> list[Command]:
    """--commands selection: named subset, in JOB order regardless of
    the filter's order; fuzzy name matching (reference job.py:146-157,
    188-193)."""
    if commands is None:
        return list(job.commands)
    wanted = (
        [c.strip() for c in commands.split(",")]
        if isinstance(commands, str)
        else list(commands)
    )
    out = []
    for cmd in job.commands:
        if cmd.name and any(fuzzy_eq(cmd.name, w) for w in wanted):
            out.append(cmd)
        else:
            log.info("Skipping command %s", cmd.name or cmd.task)
    return out


def _dir_size(path: str) -> int:
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _describe_command(cmd: Command, spec: Any, env: dict[str, EnvValue]) -> list[str]:
    """Manifest-echo body lines for a stage header (reference transcript
    shape: name/description/task/env/skip, env keys nested)."""
    lines = [
        f"  name: {cmd.name or 'null'}",
        f"  description: {cmd.description or 'null'}",
        f"  task: {cmd.task}",
    ]
    if env:
        lines.append("  env:")
        lines.extend(f"    {k}: {v}" for k, v in env.items())
    else:
        lines.append("  env: {}")
    lines.append(f"  skip: {str(bool(cmd.skip)).lower()}")
    return lines


def _execute_stage(
    spark: SparkSession,
    job: Job,
    cmd: Command,
    spec: Any,
    fn: Any,
    env: dict[str, EnvValue],
    outputs: dict[str, DataFrame],
    previous: DataFrame | None,
    resume: bool,
) -> StageResult:
    """Run one stage: resume-from-checkpoint shortcut, the task fn,
    optional materialization, timing + (for materialized stages)
    rows/bytes capture. Raises TaskFailure on any stage error."""
    import os
    import time

    label = cmd.name or cmd.task
    wants_mat = str(env.get("MATERIALIZE", "")).lower() in ("true", "1")
    dest = os.path.join(job.data, "_stages", label) if job.data else None

    if resume and wants_mat and dest and os.path.isdir(dest):
        log.info("Resuming command %s from %s", label, dest)
        out = spark.read.parquet(dest)
        return StageResult(
            cmd,
            "resumed",
            out,
            rows=out.count(),  # parquet footer metadata — no scan
            bytes=_dir_size(dest),
            output_path=dest,
            schema=out.schema.simpleString(),
        )

    log.info("Running command %s (task=%s)", label, spec.name)
    t0 = time.time()
    # retry policy: RETRIES extra attempts with exponential backoff
    # (RETRY_BACKOFF_S * 2^attempt sleep between tries). Only a
    # MATERIALIZE stage is re-runnable by construction (lazy stages
    # defer execution to a downstream action anyway); a lazy stage that
    # fails while BUILDING its plan is also retried — transient driver
    # conditions (e.g. a view not yet registered by a concurrent stage,
    # a flaky source listing) are the target.
    max_attempts = 1 + max(0, int(env.get("RETRIES", 0) or 0))
    backoff = float(env.get("RETRY_BACKOFF_S", 0) or 0)
    for attempt in range(1, max_attempts + 1):
        ctx = StageContext(
            spark=spark, job=job, command=cmd, env=env, outputs=outputs, previous=previous
        )
        rows = nbytes = None
        path = None
        try:
            out, _ = drive_task(fn, ctx)
            # per-stage materialization knob (reference parity: every
            # command materialized files; here it's opt-in — default
            # lazy so Catalyst fuses across stages, SURVEY.md §4.2)
            if out is not None and wants_mat:
                if not dest:
                    raise ValueError("MATERIALIZE=true requires a job data dir")
                out.write.mode("overwrite").parquet(dest)
                # the schema just written: reading it back infers nothing
                out = spark.read.schema(out.schema).parquet(dest)
                rows = out.count()  # metadata-only over fresh parquet
                nbytes = _dir_size(dest)
                path = dest
            break
        except TaskFailure:
            raise
        except Exception as exc:
            if attempt >= max_attempts:
                raise TaskFailure(cmd, exc) from exc
            # full jitter on the exponential backoff: stages retried in
            # lockstep (concurrent stages, shared failing dependency) would
            # otherwise re-hit the resource simultaneously every round
            import random

            sleep_s = backoff * (2 ** (attempt - 1)) * random.uniform(0.5, 1.0)
            log.warning(
                "command %s attempt %d/%d failed (%s); retrying in %.1fs",
                label, attempt, max_attempts, exc, sleep_s,
            )
            if sleep_s:
                time.sleep(sleep_s)
    if rows is None and "rows" in ctx.metrics:
        rows = int(ctx.metrics["rows"])  # Observation-reported, action-free
    return StageResult(
        cmd,
        "success",
        out,
        wall_s=round(time.time() - t0, 3),
        attempts=attempt,
        rows=rows,
        bytes=nbytes,
        output_path=path,
        schema=out.schema.simpleString() if out is not None else None,
    )


def _prepare(
    job: Job,
    commands: str | list[str] | None,
    registry: TaskRegistry | None,
    warn: bool = True,
) -> list[tuple[Command, Any, Any, dict[str, EnvValue]]]:
    """Shared by run_job and explain_job: discover tasks, filter
    commands, fail-fast pre-validation of EVERY selected command
    (reference job.py:175-200); ``warn`` logs unknown inputs."""
    reg = (registry or BUILTINS).copy()
    if job.tasks:
        reg.discover(job.tasks)

    selected = _filter_commands(job, commands)
    plan: list[tuple[Command, Any, Any, dict[str, EnvValue]]] = []
    for cmd in selected:
        spec, fn = reg.get(cmd.task)
        env = spec.apply_defaults(cmd.env)
        declared = {k for k in env if k not in RESERVED_ENV}
        for warning in spec.validate_inputs({k: env[k] for k in declared}):
            if warn:
                log.warning(warning)
        plan.append((cmd, spec, fn, env))
    return plan


def _previous_output(
    deps: dict[int, set[int]], outputs: dict[int, DataFrame | None], i: int
) -> DataFrame | None:
    """``ctx.previous`` of stage ``i``: the output of its latest-position
    dependency that has one. A dependency without output (skip:true, or
    a task returning None) is transparent: its own dependencies are
    searched instead."""
    import heapq

    heap = [-j for j in deps[i]]
    heapq.heapify(heap)
    seen = set(deps[i])
    while heap:
        j = -heapq.heappop(heap)
        if outputs[j] is not None:
            return outputs[j]
        for k in deps[j] - seen:
            seen.add(k)
            heapq.heappush(heap, -k)
    return None


def stage_dependencies(
    job: Job, plan: list[tuple[Command, Any, Any, dict[str, EnvValue]]]
) -> dict[int, set[int]]:
    """Dependency edges between selected stages (positions in `plan`).

    Sources, in order of authority:
    - placeholder references recorded at resolution time
      (``${name.env.X}`` / ``${previous.*}`` — job.dep_edges)
    - env VALUES that name an earlier stage (the INPUT= convention
      consumed by StageContext.input_df)
    - an explicit ``DEPENDS_ON="a,b"`` env (empty string = no deps)

    Default: a stage with no explicit DEPENDS_ON also depends on its
    immediate predecessor — the implicit ``previous`` chain — so the
    default schedule is exactly the reference's sequential order and
    parallelism is strictly opt-in per stage.
    """
    selected = [cmd for cmd, _s, _f, _e in plan]
    pos_of_cmd = {id(c): i for i, c in enumerate(selected)}
    name_pos = [(c.name, i) for i, c in enumerate(selected) if c.name]
    recorded = job.dep_edges
    job_pos = {id(c): i for i, c in enumerate(job.commands)}

    deps: dict[int, set[int]] = {}
    for i, (cmd, _spec, _fn, env) in enumerate(plan):
        d: set[int] = set()
        for dep_ji in recorded.get(job_pos.get(id(cmd), -1), ()):
            p = pos_of_cmd.get(id(job.commands[dep_ji]))
            if p is not None and p < i:
                d.add(p)
        for v in env.values():
            if isinstance(v, str):
                for nm, p in name_pos:
                    if p < i and fuzzy_eq(nm, v):
                        d.add(p)
        explicit = env.get("DEPENDS_ON")
        if explicit is None:
            if i > 0:
                d.add(i - 1)
        else:
            for token in str(explicit).split(","):
                token = token.strip()
                if not token:
                    continue
                p = next((p for nm, p in name_pos if fuzzy_eq(nm, token)), None)
                if p is None or p >= i:
                    raise ValidationError(
                        f"stage {cmd.name or cmd.task!r}: DEPENDS_ON "
                        f"{token!r} does not name an earlier selected stage"
                    )
                d.add(p)
        deps[i] = d
    return deps


def run_job(
    spark: SparkSession,
    job: Job,
    commands: str | list[str] | None = None,
    registry: TaskRegistry | None = None,
    resume: bool = False,
    max_workers: int = 1,
) -> list[StageResult]:
    """Execute the job with fail-fast validation.

    Execution order mirrors the reference (job.py:175-207): data-dir
    guard → discover tasks → validate every selected command against
    its task's env interface BEFORE running anything → execution;
    skip:true stages are not executed but their (already-resolved) env
    stays referenceable.

    ``resume=True``: a MATERIALIZE=true stage whose checkpoint already
    exists under ``<data>/_stages/<name>`` is restored from parquet
    instead of recomputed — restartable pipelines without an external
    workflow engine.

    Stages run on one DAG scheduler with edges from
    stage_dependencies(), whose DEFAULT edge set is job order. At most
    ``max_workers`` stages are in flight and the lowest-position ready
    stage is always submitted first, so one worker (the default) runs
    exactly the reference's sequential order (job.py:203-207) and a
    failure leaves nothing queued behind it. With more workers, stages
    that opt in with DEPENDS_ON run concurrently (Spark sessions are
    thread-safe; each stage's action becomes a concurrently-scheduled
    Spark job). Every stage runs in a copy of the caller's context and
    with the caller's Spark local properties (job tags, job group,
    scheduler pool), so log scopes and job attribution hold for any
    worker count.

    ``ctx.previous`` is the output of the latest-position dependency
    that has one; a dependency without output (skip:true, or a task
    returning None) is transparent and its own dependencies are
    searched. Under the implicit chain that is the predecessor's output.
    """
    import contextvars
    import os
    from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait

    from pyspark.util import inheritable_thread_target

    from xetl_spark.plans.logctx import Scope, log_scope

    if job.data and not os.path.isdir(job.data):
        raise JobDataDirectoryNotFound(job.data)
    plan = _prepare(job, commands, registry)
    deps = stage_dependencies(job, plan)
    results: dict[int, StageResult] = {}
    outputs: dict[str, DataFrame] = {}

    def run_one(
        i: int, previous: DataFrame | None, outs: dict[str, DataFrame]
    ) -> StageResult:
        cmd, spec, fn, env = plan[i]
        label = cmd.name or cmd.task
        with log_scope(Scope.STAGE, f"Executing command: {label} ({i + 1} of {len(plan)})"):
            for line in _describe_command(cmd, spec, env):
                log.info(line)
            with log_scope(Scope.TASK, f"Executing task: {spec.name}") as set_task_footer:
                try:
                    res = _execute_stage(
                        spark, job, cmd, spec, fn, env, outs, previous, resume
                    )
                except TaskFailure:
                    set_task_footer("Return code: 1")
                    raise
                set_task_footer("Return code: 0")
        return res

    pending = list(range(len(plan)))  # ascending positions
    running: dict[Future, int] = {}
    failure: TaskFailure | None = None
    with log_scope(Scope.JOB, f"Executing job: {job.name}"):
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            while True:
                # every dependency points to an earlier position, so
                # with nothing running the lowest pending stage is ready
                while failure is None and len(running) < max_workers:
                    i = next((i for i in pending if deps[i].issubset(results)), None)
                    if i is None:
                        break
                    pending.remove(i)
                    cmd = plan[i][0]
                    if cmd.skip:
                        log.info("Skipping command %s (skip=true)", cmd.name or cmd.task)
                        results[i] = StageResult(cmd, "skipped")
                        continue
                    # the stage keeps the caller's context (log scopes) and
                    # Spark local properties (job tags, job group, pool)
                    target = inheritable_thread_target(spark)(run_one)
                    fut = pool.submit(
                        contextvars.copy_context().run,
                        target, i,
                        _previous_output(deps, {j: r.output for j, r in results.items()}, i),
                        dict(outputs),
                    )
                    running[fut] = i
                if not running:
                    break
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in sorted(finished, key=running.__getitem__):
                    i = running.pop(fut)
                    try:
                        res = fut.result()
                    except TaskFailure as tf:
                        failure = failure or tf  # fail fast: stop scheduling
                        continue
                    results[i] = res
                    name = res.command.name
                    if res.output is not None and name:
                        outputs[name] = res.output
                        res.output.createOrReplaceTempView(name)
        if failure is not None:
            raise failure
        log.info("Done! \\o/")
    return [results[i] for i in range(len(plan))]


def run_report(results: list[StageResult], job: Job | None = None) -> dict[str, Any]:
    """Structured run-report artifact: per-stage status, task, wall
    seconds, schema, and (for materialized stages) rows/bytes/path.
    JSON-serializable — the runner-side observability the reference
    delegates to its log decorations (xetl/logging.py:9-222)."""
    stages = []
    for r in results:
        stages.append(
            {
                "name": r.command.name or r.command.task,
                "task": r.command.task,
                "status": r.status,
                "wall_s": r.wall_s,
                "attempts": r.attempts,
                "rows": r.rows,
                "bytes": r.bytes,
                "output_path": r.output_path,
                "schema": r.schema,
            }
        )
    return {
        "job": job.name if job else None,
        "total_wall_s": round(sum(r.wall_s for r in results), 3),
        "stages": stages,
    }


def write_run_report(
    spark: SparkSession, report: dict[str, Any], path: str
) -> DataFrame:
    """Append a run report to a parquet table (one row per stage,
    stamped with job name and wall-clock finish time) — the queryable
    run-history sink the reference's log decorations can't provide.
    Appends, so successive runs accumulate into an auditable history;
    at cluster scale this is a tiny driver-side write (stage counts,
    not data rows), built through Arrow (``local_frame``)."""
    import time

    from xetl_spark.operators.util import local_frame

    finished_at = float(time.time())
    rows = [
        (
            report.get("job"),
            finished_at,
            float(report.get("total_wall_s") or 0.0),
            s["name"],
            s["task"],
            s["status"],
            float(s["wall_s"] or 0.0),
            int(s.get("attempts") or 1),
            s["rows"],
            s["bytes"],
            s["output_path"],
            s["schema"],
        )
        for s in report["stages"]
    ]
    local_frame(spark, rows, RUN_HISTORY_SCHEMA).coalesce(1).write.mode("append").parquet(path)
    return spark.read.schema(RUN_HISTORY_SCHEMA).parquet(path)


def vacuum_run_history(
    spark: SparkSession,
    path: str,
    keep_last_runs: int | None = None,
    max_age_days: float | None = None,
) -> int:
    """Retention for the append-only run-history sink — the VACUUM
    mirror of ``cdc.vacuum_snapshots`` (r13, per the r12 verdict:
    write_run_report grows unboundedly without one). A "run" is one
    distinct ``finished_at`` stamp; keeps the newest ``keep_last_runs``
    runs and/or drops runs older than ``max_age_days``, whichever
    removes more. Rewrites the table compacted (the history is
    driver-side stage counts — a few rows per run — so a single-file
    rewrite is the right shape at any cluster scale). Returns the
    number of rows removed; a missing table is a 0-row no-op."""
    import os
    import re
    import shutil
    import time

    # local-path-only: the compaction rewrite below uses os/shutil, so a
    # hdfs:// or s3a:// table (which write_run_report happily appends to
    # via Spark) must error rather than silently no-op (r14 advisor).
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", path)
    if m and not path.startswith("file://"):
        raise ValueError(
            f"vacuum_run_history only supports local paths; got {path!r}. "
            "For a remote table, read/filter/overwrite it with Spark."
        )
    path = re.sub(r"^file://", "", path)
    if not os.path.isdir(path):
        return 0
    df = spark.read.schema(RUN_HISTORY_SCHEMA).parquet(path)
    stamps = sorted(
        (r[0] for r in df.select("finished_at").distinct().collect()),
        reverse=True,
    )
    cutoff = float("-inf")
    if keep_last_runs is not None and keep_last_runs < len(stamps):
        cutoff = stamps[keep_last_runs - 1] if keep_last_runs > 0 else float("inf")
    if max_age_days is not None:
        cutoff = max(cutoff, time.time() - max_age_days * 86400.0)
    if cutoff == float("-inf"):
        return 0
    kept_df = df.filter(df.finished_at >= cutoff)
    n_kept = kept_df.count()
    removed = df.count() - n_kept
    if removed <= 0:
        return 0
    tmp = path.rstrip("/") + ".__vacuum_tmp"
    if n_kept:  # the write materializes BEFORE the source dir is removed
        kept_df.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    if n_kept:
        os.rename(tmp, path)
    return removed


def run_task_tests(
    spark: SparkSession,
    registry: TaskRegistry | None = None,
    names: list[str] | None = None,
) -> dict[str, list[bool]]:
    """Execute every task's declared ``tests:`` block (reference
    task.py:161-193, task_test_case.py:8-26): run the task with the
    case's env, then evaluate ``verify_sql`` over the result (registered
    as view ``result``) — it must return a single row whose first column
    is true. Returns {task: [case passed...]}."""
    reg = registry or BUILTINS
    results: dict[str, list[bool]] = {}
    for name in names or reg.names():
        spec, fn = reg.get(name)
        if not spec.tests:
            continue
        outcomes = []
        for case in spec.tests:
            env = spec.apply_defaults(dict(case.env))
            dummy = Command(task=name, env=env)
            ctx = StageContext(
                spark=spark, job=Job(name="__tests__"), command=dummy, env=env
            )
            try:
                out, _ = drive_task(fn, ctx)
                if out is None:
                    outcomes.append(False)
                    continue
                out.createOrReplaceTempView("result")
                row = spark.sql(case.verify_sql).collect()
                outcomes.append(bool(row and row[0][0]))
            except Exception as exc:
                log.warning("task test for %s failed: %s", name, exc)
                outcomes.append(False)
        results[name] = outcomes
    return results


def explain_job(
    spark: SparkSession,
    job: Job,
    commands: str | list[str] | None = None,
    registry: TaskRegistry | None = None,
) -> str:
    """Dry-run as EXPLAIN: the fully-resolved manifest plus each
    stage's logical/physical plan (reference dry-run parity,
    job.py:160-171 + task.py:312-317). Stages are prepared as in
    run_job, minus the data-dir guard; a skip:true stage is listed but
    not called, and each stage explains the ``previous`` input run_job
    would give it. Bodies run only to their yield, so nothing is
    written or run; a stage that would act says so in one line.
    Read-only actions a plan needs still run: perplexity_filter's
    FIT_FRACTION=auto count, grayscale's stem-collision collect, and
    the centroid and MinHash fits."""
    # unknown-input warnings are run_job's to log, not the transcript's
    plan = _prepare(job, commands, registry, warn=False)
    deps = stage_dependencies(job, plan)
    lines = [f"job: {job.name}", f"data: {job.data}"]
    outputs: dict[str, DataFrame] = {}
    pos_outputs: dict[int, DataFrame | None] = {}
    for i, (cmd, spec, fn, env) in enumerate(plan):
        pos_outputs[i] = None
        lines.append(f"\ncommand: {cmd.name or cmd.task} (task={spec.name}, skip={cmd.skip})")
        for k, v in env.items():
            lines.append(f"  {k} = {v!r}")
        if cmd.skip:
            # as in run_job: not called, and transparent to `previous`
            continue
        ctx = StageContext(
            spark=spark, job=job, command=cmd, env=env, outputs=outputs,
            previous=_previous_output(deps, pos_outputs, i),
        )
        try:
            out, acts = drive_task(fn, ctx, commit=False)
        except Exception as exc:
            lines.append(f"  (plan unavailable: {exc})")
            continue
        if acts:
            lines.append("  (acts after its plan: not run in a dry-run)")
        if out is not None:
            try:
                text = out._jdf.queryExecution().simpleString().strip()
            except Exception:
                # Spark Connect DataFrames have no _jdf; capture the
                # portable explain() output instead
                import contextlib
                import io

                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    out.explain()
                text = buf.getvalue().strip()
            lines.append("  " + text)
            # column provenance rides the same analyzed plan the
            # explain used — still zero execution
            try:
                from xetl_spark.plans.lineage import lineage_report

                lines.append("  lineage:")
                for ln in lineage_report(out).splitlines():
                    lines.append("    " + ln)
            except Exception:
                pass  # Connect sessions (no _jdf) skip lineage
            if cmd.name:
                outputs[cmd.name] = out
            pos_outputs[i] = out
    return "\n".join(lines)
