"""Placeholder resolution engine.

Reproduces the reference's richest logic (xetl/models/job.py:263-467;
behavior pinned by tests/models/test_job.py:316-467, 857-1073):

- ``$VAR`` / ``${a.b.c}`` substitution inside every command env value
- sources: the command's own (merged) env, ``job.*``, a named EARLIER
  command (``${cmd.env.X}``), ``previous.*``, ``tmp.dir`` / ``tmp.file``
- ``$$`` escapes a literal dollar (job.py:372, tests :403-445)
- whole-match type preservation: a value that is exactly one
  placeholder keeps the referent's native type; embedded placeholders
  stringify, with None rendering as "null" (job.py:383-391)
- self references are left unresolved (job.py:355-370); references to
  a later or same-named command raise (job.py:337-339 — acyclicity)
- ``previous`` on the first command raises (job.py:326-328)
- ``tmp.dir``/``tmp.file`` allocate unique paths under ``<data>/tmp``
  eagerly at resolution time (job.py:264-274, 312-323)
- list drill-down by index: ``${job.commands[0].env.X}``
"""

from __future__ import annotations

import os
import re
import tempfile
from typing import TYPE_CHECKING, Any

from xetl_spark.plans.models import EnvValue, ManifestError, fuzzy_eq

if TYPE_CHECKING:
    from xetl_spark.plans.models import Command, Job

# $$  -> literal $
# ${dotted.path[0]} or $NAME
_PLACEHOLDER = re.compile(
    r"\$(\$)|\$\{([^}]+)\}|\$([A-Za-z_][A-Za-z0-9_]*)"
)


class _Unresolved(Exception):
    """Internal: leave this placeholder text as-is (self/unknown ref)."""


def _allocate_tmp(job: "Job", kind: str) -> str:
    if not job.data:
        raise ManifestError("tmp.* placeholders require a job `data` directory")
    root = os.path.join(job.data, "tmp")
    os.makedirs(root, exist_ok=True)
    if kind == "dir":
        return tempfile.mkdtemp(dir=root)
    fd, path = tempfile.mkstemp(dir=root)
    os.close(fd)
    return path


def _split_path(path: str) -> list[str | int]:
    """'a.b[0].c' -> ['a', 'b', 0, 'c'] (list drill-down by index)."""
    parts: list[str | int] = []
    for seg in path.split("."):
        m = re.fullmatch(r"([^\[\]]+)((?:\[\d+\])*)", seg.strip())
        if not m:
            raise ManifestError(f"malformed placeholder path segment {seg!r}")
        parts.append(m.group(1))
        for idx in re.findall(r"\[(\d+)\]", m.group(2)):
            parts.append(int(idx))
    return parts


class Resolver:
    def __init__(self, job: "Job"):
        self.job = job
        self.names = [c.name for c in job.commands]
        # placeholder-reference edges discovered during resolution:
        # command index -> indices of earlier commands it references
        # (${previous.*} and ${name.*}). Consumed by the job
        # scheduler (runner.stage_dependencies) as data-dependency
        # edges — recorded here because after eager resolution the
        # substituted scalars no longer reveal their provenance.
        self.deps: dict[int, set[int]] = {}

    def resolve(self) -> None:
        for i, cmd in enumerate(self.job.commands):
            self._resolve_command(i, cmd)

    def _resolve_command(self, idx: int, cmd: "Command") -> None:
        self._stack: list[str] = []
        for key in list(cmd.env):
            cmd.env[key] = self._resolve_value(idx, cmd, key, cmd.env[key])

    def _resolve_value(
        self, idx: int, cmd: "Command", key: str | None, value: EnvValue
    ) -> EnvValue:
        if not isinstance(value, str):
            return value
        matches = list(_PLACEHOLDER.finditer(value))
        if not matches:
            return value

        # whole-match: exactly one placeholder covering the full string
        if (
            len(matches) == 1
            and matches[0].start() == 0
            and matches[0].end() == len(value)
            and matches[0].group(1) is None
        ):
            try:
                return self._lookup(idx, cmd, key, matches[0].group(2) or matches[0].group(3))
            except _Unresolved:
                return value

        def sub(m: re.Match) -> str:
            if m.group(1):  # $$ escape
                return "$"
            path = m.group(2) or m.group(3)
            try:
                v = self._lookup(idx, cmd, key, path)
            except _Unresolved:
                return m.group(0)
            return "null" if v is None else str(v)

        return _PLACEHOLDER.sub(sub, value)

    def _lookup(
        self, idx: int, cmd: "Command", key: str | None, path: str
    ) -> EnvValue:
        parts = _split_path(path)
        head = parts[0]
        assert isinstance(head, str)

        if fuzzy_eq(head, "tmp") and len(parts) == 2:
            kind = str(parts[1])
            if kind in ("dir", "file"):
                return _allocate_tmp(self.job, kind)
            raise ManifestError(f"unknown tmp placeholder tmp.{kind}")

        if fuzzy_eq(head, "job"):
            return self._drill(self._job_view(), parts[1:], path)

        if fuzzy_eq(head, "previous"):
            if idx == 0:
                raise ManifestError(
                    "'previous' reference in the first command (reference "
                    "job.py:326-328)"
                )
            prev = self.job.commands[idx - 1]
            self.deps.setdefault(idx, set()).add(idx - 1)
            return self._drill(self._command_view(prev), parts[1:], path)

        # named command reference?
        for j, name in enumerate(self.names):
            if name and fuzzy_eq(name, head) and len(parts) > 1:
                if j >= idx:
                    raise ManifestError(
                        f"command {cmd.name or idx!r} references "
                        f"{head!r} which is not an earlier command "
                        "(acyclicity, reference job.py:337-339)"
                    )
                self.deps.setdefault(idx, set()).add(j)
                return self._drill(
                    self._command_view(self.job.commands[j]), parts[1:], path
                )

        # bare env var from the current command's merged env
        if len(parts) == 1:
            for k, v in cmd.env.items():
                if fuzzy_eq(k, head):
                    if key is not None and fuzzy_eq(k, key):
                        raise _Unresolved()  # self reference stays literal
                    # resolve transitively (referenced value may itself
                    # hold placeholders)
                    if key is not None and head in getattr(self, "_stack", []):
                        raise _Unresolved()
                    self._stack.append(head)
                    try:
                        resolved = self._resolve_value(idx, cmd, k, v)
                    finally:
                        self._stack.pop()
                    cmd.env[k] = resolved
                    return resolved
        raise _Unresolved()

    def _job_view(self) -> dict[str, Any]:
        return {
            "name": self.job.name,
            "description": self.job.description,
            "basedir": self.job.basedir,
            "data": self.job.data,
            "tasks": self.job.tasks,
            "env": self.job.env,
            "commands": [self._command_view(c) for c in self.job.commands],
        }

    def _command_view(self, c: "Command") -> dict[str, Any]:
        return {
            "name": c.name,
            "description": c.description,
            "task": c.task,
            "env": c.env,
            "skip": c.skip,
        }

    def _drill(self, obj: Any, parts: list[str | int], path: str) -> EnvValue:
        cur = obj
        for p in parts:
            if isinstance(p, int):
                if not isinstance(cur, (list, tuple)) or p >= len(cur):
                    raise ManifestError(f"bad index in placeholder ${{{path}}}")
                cur = cur[p]
            elif isinstance(cur, dict):
                hit = None
                for k in cur:
                    if fuzzy_eq(str(k), p):
                        hit = k
                        break
                if hit is None:
                    raise ManifestError(f"unknown placeholder ${{{path}}}")
                cur = cur[hit]
            else:
                raise ManifestError(f"cannot drill into {type(cur).__name__} at ${{{path}}}")
        if isinstance(cur, (dict, list)) and not isinstance(cur, str):
            # allow list-of-str (e.g. job.tasks) to stringify naturally
            if isinstance(cur, list):
                return ",".join(str(x) for x in cur)
            raise ManifestError(f"placeholder ${{{path}}} resolves to a mapping")
        return cur  # type: ignore[return-value]


def resolve_placeholders(job: "Job") -> None:
    """Eager, load-time resolution over the whole model tree — after
    this every command env value is a concrete scalar (reference
    IR #3, job.py:132-137). Placeholder-reference edges discovered
    along the way are kept on the job (``job.dep_edges``) for the
    job scheduler."""
    r = Resolver(job)
    r.resolve()
    job.set_dep_edges(r.deps)
