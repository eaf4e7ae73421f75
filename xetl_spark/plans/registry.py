"""Task registry: named DataFrame transforms with typed env interfaces.

Reference parity: task discovery/binding (xetl/models/task.py:350-384,
command.py:88-103). Discovery walks directories for ``manifest.yml``
spec files (alphabetical, duplicates last-wins, bad manifests skipped
with a warning, ``tests/`` dirs ignored) — but a manifest here binds a
declared env interface to a registered Python callable or an inline
SQL template, not a subprocess.
"""

from __future__ import annotations

import logging
import os
import shutil
from collections.abc import Callable, Generator
from typing import TYPE_CHECKING, Any

import yaml

from xetl_spark.plans.models import TaskSpec, UnknownTaskError, fuzzy_eq

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

    from xetl_spark.plans.runner import StageContext

log = logging.getLogger(__name__)

# A body returns its output; one that acts yields its plan first, acts
# only after the yield, then returns its output (runner.drive_task).
TaskFn = Callable[["StageContext"], "DataFrame | None | Generator"]


class TaskRegistry:
    def __init__(self) -> None:
        self._specs: dict[str, TaskSpec] = {}
        self._fns: dict[str, TaskFn] = {}

    def register(self, spec: TaskSpec, fn: TaskFn) -> None:
        self._specs[spec.name] = spec
        self._fns[spec.name] = fn

    def get(self, name: str) -> tuple[TaskSpec, TaskFn]:
        """Case-insensitive lookup; unknown names raise with the list of
        valid tasks (reference command.py:88-103)."""
        for key in self._specs:
            if fuzzy_eq(key, name):
                return self._specs[key], self._fns[key]
        raise UnknownTaskError(
            f"unknown task {name!r}; valid tasks: {sorted(self._specs)}"
        )

    def names(self) -> list[str]:
        return sorted(self._specs)

    def copy(self) -> "TaskRegistry":
        r = TaskRegistry()
        r._specs = dict(self._specs)
        r._fns = dict(self._fns)
        return r

    def discover(self, paths: str | list[str]) -> None:
        """Merge YAML task specs found under ``paths`` (reference
        task.py:350-384): recursive walk, a dir containing
        manifest.yml|yaml is a task, tests/ dirs skipped, alphabetical
        order, duplicates last-wins, invalid manifests logged+skipped.

        A discovered manifest must name a registered implementation via
        ``run: <fn-name>`` or provide ``sql: <template>``.
        """
        if isinstance(paths, str):
            paths = [paths]
        for root in paths:
            for dirpath, dirnames, filenames in sorted(os.walk(root)):
                dirnames[:] = sorted(d for d in dirnames if d != "tests")
                manifest = next(
                    (f for f in ("manifest.yml", "manifest.yaml") if f in filenames),
                    None,
                )
                if not manifest:
                    continue
                path = os.path.join(dirpath, manifest)
                try:
                    raw = yaml.safe_load(open(path, encoding="utf-8"))
                    sql = raw.pop("sql", None)
                    run = raw.pop("run", None)
                    spec = TaskSpec(**raw)
                    if sql is not None:
                        fn = _sql_task_fn(sql)
                    elif isinstance(run, str) and self._has(run):
                        _, fn = self.get(run)
                    elif run is not None:
                        # subprocess-parity escape hatch (reference
                        # task.py:291-347): `run` is a real program in
                        # any of the reference's three forms. A bare
                        # token that resolves to neither a registered
                        # task nor an executable may be a typo'd task
                        # name — but it may also be produced by an
                        # earlier stage or appear on PATH only at run
                        # time, so warn here and re-resolve at
                        # execution, failing then with the clear
                        # message rather than an opaque exec error.
                        argv = parse_run_command(run)
                        suspect = (
                            isinstance(run, str)
                            and len(argv) == 1
                            and shutil.which(argv[0]) is None
                            and not os.path.exists(os.path.join(dirpath, argv[0]))
                            and not os.path.isabs(argv[0])
                        )
                        if suspect:
                            log.warning(
                                "task manifest %s: run: %r names neither a "
                                "registered task nor an executable on PATH — "
                                "misspelled task name? Deferring resolution "
                                "to run time.",
                                path,
                                run,
                            )
                        fn = _subprocess_task_fn(
                            argv, basedir=dirpath, recheck=suspect
                        )
                    else:
                        raise ValueError("task manifest needs `sql` or `run`")
                    self.register(spec, fn)
                except Exception as exc:  # reference skips bad manifests
                    log.warning("skipping invalid task manifest %s: %s", path, exc)

    def _has(self, name: str) -> bool:
        return any(fuzzy_eq(k, name) for k in self._specs)


def _sql_task_fn(template: str) -> TaskFn:
    def fn(ctx: "StageContext"):
        return ctx.sql(template)

    return fn


def parse_run_command(run: Any) -> list[str]:
    """The reference's three `run:` forms → argv list
    (reference utils/run.py:6-23, task.py:250-255):
    - shell-ish string → shlex.split
    - list → used as-is
    - {interpreter?, script} → interpreter argv + script
      (default interpreter: this python, -c)
    """
    import shlex
    import sys

    if isinstance(run, str):
        return shlex.split(run)
    if isinstance(run, list):
        return [str(a) for a in run]
    if isinstance(run, dict):
        interp = run.get("interpreter") or f"{sys.executable} -c"
        script = run.get("script")
        if script is None:
            raise ValueError("run: {interpreter, script} form needs `script`")
        return [*shlex.split(str(interp)), str(script)]
    raise ValueError(f"unsupported run form: {type(run).__name__}")


def _subprocess_task_fn(
    argv: list[str], basedir: str, recheck: bool = False
) -> TaskFn:
    """Subprocess-parity execution (reference task.py:291-347): run the
    program with cwd = the task's directory and env = host env + the
    command's stringified inputs (None renders as "null",
    reference job.py:387/task.py:307), stream stdout+stderr lines into
    the logger, raise on non-zero exit (runner wraps into TaskFailure →
    CLI exit code). Dataflow medium is the filesystem, exactly like the
    reference — the stage returns no DataFrame; downstream stages pick
    the output path out of env placeholders. All of it runs after the
    yield, so a dry-run runs no program.
    """
    import subprocess

    def fn(ctx: "StageContext"):
        yield None
        argv_run = argv
        if recheck and shutil.which(argv[0]) is None:
            local = os.path.join(basedir, argv[0])
            if os.path.exists(local):
                # appeared in the task dir after discovery (e.g. written
                # by an earlier stage); exec searches PATH, not cwd
                argv_run = [local, *argv[1:]]
            else:
                raise ValueError(
                    f"run: {argv[0]!r} names neither a registered task nor "
                    "an executable on PATH — misspelled task name?"
                )
        env = dict(os.environ)
        for k, v in ctx.env.items():
            env[k] = "null" if v is None else str(v)
        proc = subprocess.Popen(
            argv_run,
            cwd=basedir,
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            text=True,
        )
        assert proc.stdout is not None
        for line in proc.stdout:
            log.info("[subprocess] %s", line.rstrip("\n"))
        ret = proc.wait()
        if ret != 0:
            raise RuntimeError(f"subprocess task exited with code {ret}")

    return fn


BUILTINS = TaskRegistry()


def task(
    name: str,
    description: str | None = None,
    env: dict[str, Any] | None = None,
    registry: TaskRegistry = BUILTINS,
    tests: list | None = None,
) -> Callable[[TaskFn], TaskFn]:
    """Decorator: register a Python transform as a named task; a body
    that acts yields its plan first and acts after the yield (TaskFn).

    ``tests`` ships golden task-level cases (env + verify_sql) with the
    task itself — run via ``run_task_tests`` / the CLI's
    ``--run-task-tests`` (reference task.py:161-193 parity)."""

    def deco(fn: TaskFn) -> TaskFn:
        spec = TaskSpec(name=name, description=description or fn.__doc__, env=env or {})
        if tests:
            from xetl_spark.plans.models import TaskTestCase

            spec.tests = [
                t if isinstance(t, TaskTestCase) else TaskTestCase(**t) for t in tests
            ]
        registry.register(spec, fn)
        return fn

    return deco


# import side effect: built-in task library
from xetl_spark.plans import builtin_tasks  # noqa: E402,F401
