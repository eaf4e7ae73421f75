"""Pydantic models for Job / Command / TaskSpec.

Behavioral parity with the reference models (all citations into
/root/reference): Job fields and validation order follow
xetl/models/job.py:30-137; Command follows xetl/models/command.py:15-51;
the task env-interface typing follows xetl/models/task.py:38-209 and
task_input_details.py:8-42. Key conformance rules reproduced:

- manifest root keys conformed to snake_case (utils/dicts.py:5-11)
- env keys conformed to UPPER_SNAKE (utils/dicts.py:14-27)
- fuzzy lookups: case-insensitive, '-' == '_' (utils/dicts.py:30-40)
- host-env inheritance allowlist, default = keys of job.env, '*' = all
  (job.py:121-130, 231-252)
- job.env merged under each command.env, command wins (job.py:255-260)
- `required` + `default` together is a manifest error; a default
  implies optional (task.py:241-248, task_input_details.py:20-25)
- input type validation is strict isinstance (float rejects int)
  (task.py:276-289; tests/models/test_task.py:701-729)
"""

from __future__ import annotations

import os
import re
from typing import Any, Literal

import yaml
from pydantic import BaseModel, Field, PrivateAttr, field_validator, model_validator

EnvValue = str | int | float | bool | None


class ManifestError(ValueError):
    """Invalid manifest structure (load-time)."""


class ValidationError(ValueError):
    """Command inputs fail a task's declared env interface."""


class UnknownTaskError(ManifestError):
    """Command references a task name that is not registered."""


class JobDataDirectoryNotFound(FileNotFoundError):
    """Job `data` directory missing at execution time."""


def snake_keys(d: dict[str, Any]) -> dict[str, Any]:
    """Conform root manifest keys to snake_case (reference
    utils/dicts.py:5-11)."""
    out = {}
    for k, v in d.items():
        k2 = re.sub(r"[-\s]+", "_", str(k)).lower()
        out[k2] = v
    return out


def upper_snake_keys(d: dict[str, Any]) -> dict[str, Any]:
    """Conform env keys to POSIX UPPER_SNAKE (reference
    utils/dicts.py:14-27)."""
    out = {}
    for k, v in d.items():
        k2 = re.sub(r"[-\s]+", "_", str(k)).upper()
        out[k2] = v
    return out


def fuzzy_eq(a: str, b: str) -> bool:
    """Case-insensitive, '-'=='_' name equality (reference
    utils/dicts.py:30-40)."""
    norm = lambda s: s.replace("-", "_").lower()  # noqa: E731
    return norm(a) == norm(b)


def fuzzy_get(d: dict[str, Any], key: str, default: Any = None) -> Any:
    for k, v in d.items():
        if fuzzy_eq(k, key):
            return v
    return default


_TYPE_MAP: dict[str, type] = {
    "string": str,
    "str": str,
    "integer": int,
    "int": int,
    "decimal": float,  # reference: 'decimal' means float (task_input_details.py:36)
    "float": float,
    "boolean": bool,
    "bool": bool,
}

# Alias spelling -> the canonical name the task surface exposes everywhere
# (error messages, --list-tasks, hygiene contract).
_CANONICAL_TYPE: dict[str, str] = {
    "string": "string",
    "str": "string",
    "integer": "int",
    "int": "int",
    "decimal": "float",
    "float": "float",
    "boolean": "bool",
    "bool": "bool",
}


class TaskInput(BaseModel):
    """Per-input spec (reference task_input_details.py:8-42)."""

    description: str | None = None
    required: bool = True
    default: EnvValue = None
    type: str | None = None

    @model_validator(mode="before")
    @classmethod
    def _default_implies_optional(cls, data: Any) -> Any:
        if isinstance(data, dict):
            data = snake_keys(data)
            if data.get("default") is not None and data.get("required") is True:
                raise ManifestError(
                    "an input cannot be both required and have a default "
                    "(reference task.py:241-248)"
                )
            if data.get("default") is not None:
                data["required"] = False
        return data

    @field_validator("type")
    @classmethod
    def _known_type(cls, v: str | None) -> str | None:
        if v is None:
            return v
        if v.lower() not in _TYPE_MAP:
            raise ManifestError(
                f"unknown input type {v!r}; one of {sorted(set(_TYPE_MAP))}"
            )
        # Normalize reference alias spellings (str/integer/boolean/decimal,
        # reference task.py:139-158 + task_input_details.py:36) to the
        # canonical {string,int,float,bool} the task surface exposes.
        return _CANONICAL_TYPE[v.lower()]

    def python_type(self) -> type | None:
        return _TYPE_MAP.get(self.type) if self.type else None

    def check(self, name: str, value: EnvValue) -> None:
        """Strict isinstance validation (reference task.py:276-289):
        float rejects int, int rejects bool is NOT enforced (bool is an
        int subclass in both engines' semantics)."""
        t = self.python_type()
        if t is None or value is None:
            return
        if t is float and isinstance(value, float):
            return
        if t is float and not isinstance(value, float):
            raise ValidationError(
                f"input {name!r} must be {self.type}, got {type(value).__name__}: {value!r}"
            )
        if t is bool and not isinstance(value, bool):
            raise ValidationError(
                f"input {name!r} must be {self.type}, got {type(value).__name__}: {value!r}"
            )
        if t is int and (isinstance(value, bool) or not isinstance(value, int)):
            raise ValidationError(
                f"input {name!r} must be {self.type}, got {type(value).__name__}: {value!r}"
            )
        if t is str and not isinstance(value, str):
            raise ValidationError(
                f"input {name!r} must be {self.type}, got {type(value).__name__}: {value!r}"
            )


class TaskTestCase(BaseModel):
    """Golden task test (reference task_test_case.py:8-17): run the task
    with `env`, then `verify` — for us a SQL predicate over the result
    that must evaluate to a single true row."""

    env: dict[str, EnvValue] = Field(default_factory=dict)
    verify_sql: str

    @model_validator(mode="before")
    @classmethod
    def _conform(cls, data: Any) -> Any:
        if isinstance(data, dict):
            data = snake_keys(data)
            data["env"] = upper_snake_keys(data.get("env", {}))
        return data


class TaskSpec(BaseModel):
    """A registered transform's declared interface (reference Task model
    task.py:38-193, minus the subprocess `run`; execution is a Python
    callable resolved from the registry by name)."""

    name: str
    description: str | None = None
    env: dict[str, TaskInput] = Field(default_factory=dict)
    tests: list[TaskTestCase] = Field(default_factory=list)

    @model_validator(mode="before")
    @classmethod
    def _conform(cls, data: Any) -> Any:
        if isinstance(data, dict):
            data = snake_keys(data)
            env = data.get("env", {})
            conformed: dict[str, Any] = {}
            for k, v in env.items():
                key = re.sub(r"[-\s]+", "_", str(k)).upper()
                if isinstance(v, str):
                    # shorthand: "NAME: description" (reference allows
                    # string-only input specs, task.py:139-158)
                    conformed[key] = {"description": v}
                else:
                    conformed[key] = v
            data["env"] = conformed
        return data

    def validate_inputs(self, env: dict[str, EnvValue]) -> list[str]:
        """Fail-fast validation (reference task.py:259-289 + job.py:198-200).

        Raises ValidationError on missing-required / type mismatch;
        returns warning strings for unknown inputs (reference logs and
        ignores them, task.py:265-270).
        """
        warnings: list[str] = []
        for name, spec in self.env.items():
            if fuzzy_get(env, name) is None and name not in env:
                if spec.required:
                    raise ValidationError(
                        f"task {self.name!r}: required input {name!r} missing"
                    )
            else:
                spec.check(name, fuzzy_get(env, name))
        declared = set(self.env)
        for key in env:
            if not any(fuzzy_eq(key, d) for d in declared):
                warnings.append(
                    f"task {self.name!r}: unknown input {key!r} ignored"
                )
        return warnings

    def apply_defaults(self, env: dict[str, EnvValue]) -> dict[str, EnvValue]:
        """Inject defaults for absent optional inputs (task.py:298-303)."""
        out = dict(env)
        for name, spec in self.env.items():
            if name not in out and spec.default is not None:
                out[name] = spec.default
        return out


class Command(BaseModel):
    """One stage invocation (reference command.py:15-51)."""

    name: str | None = None
    description: str | None = None
    task: str
    env: dict[str, EnvValue] = Field(default_factory=dict)
    skip: bool = False

    @model_validator(mode="before")
    @classmethod
    def _conform(cls, data: Any) -> Any:
        if isinstance(data, dict):
            data = snake_keys(data)
            data["env"] = upper_snake_keys(data.get("env", {}))
        return data


class Job(BaseModel):
    """Top-level pipeline manifest (reference job.py:30-109).

    `data` is the warehouse root (was: loose-file directory); `tasks`
    optionally points at YAML task-spec directories merged over the
    built-in registry.
    """

    name: str
    description: str | None = None
    basedir: str | None = None
    data: str | None = None
    tasks: list[str] = Field(default_factory=list)
    host_env: list[str] | Literal["*"] | None = None
    env: dict[str, EnvValue] = Field(default_factory=dict)
    commands: list[Command] = Field(default_factory=list)

    # placeholder-reference edges recorded at resolution time
    # (command index -> earlier command indices it referenced);
    # the job scheduler reads these as data dependencies.
    _dep_edges: dict[int, set[int]] = PrivateAttr(default_factory=dict)

    def set_dep_edges(self, edges: dict[int, set[int]]) -> None:
        self._dep_edges = {k: set(v) for k, v in edges.items()}

    @property
    def dep_edges(self) -> dict[int, set[int]]:
        return {k: set(v) for k, v in self._dep_edges.items()}

    @model_validator(mode="before")
    @classmethod
    def _conform(cls, data: Any) -> Any:
        if isinstance(data, dict):
            data = snake_keys(data)
            data["env"] = upper_snake_keys(data.get("env", {}))
            if isinstance(data.get("tasks"), str):
                data["tasks"] = [data["tasks"]]
        return data

    @model_validator(mode="after")
    def _analyze(self) -> "Job":
        """The reference's three eager load-time passes (job.py:132-137):
        inherit_env → propagate_env → resolve_placeholders."""
        self._inherit_host_env()
        self._propagate_env()
        self._expand_paths()
        from xetl_spark.plans.resolve import resolve_placeholders

        resolve_placeholders(self)
        return self

    def _inherit_host_env(self) -> None:
        """Host env overrides job.env for allowlisted keys
        (job.py:121-130, 231-252). Default allowlist = keys of job.env;
        '*' inherits everything."""
        if self.host_env == "*":
            allowed = list(os.environ)
        elif self.host_env is None:
            allowed = list(self.env)
        else:
            allowed = [re.sub(r"[-\s]+", "_", k).upper() for k in self.host_env]
        for key in allowed:
            if key in os.environ:
                self.env[key] = os.environ[key]

    def _propagate_env(self) -> None:
        """job.env merged under each command.env; command wins
        (job.py:255-260)."""
        for cmd in self.commands:
            merged = dict(self.env)
            merged.update(cmd.env)
            cmd.env = merged

    def _expand_paths(self) -> None:
        """~ expansion; data/tasks made absolute relative to basedir;
        relative paths rejected for string-loaded manifests
        (job.py:220-228, 440-448)."""

        def expand(p: str) -> str:
            p = os.path.expanduser(p)
            if not os.path.isabs(p):
                if self.basedir is None:
                    raise ManifestError(
                        f"relative path {p!r} requires a file-loaded manifest "
                        "(no basedir)"
                    )
                p = os.path.join(self.basedir, p)
            return os.path.abspath(p)

        if self.data is not None:
            self.data = expand(self.data)
        self.tasks = [expand(t) for t in self.tasks]

    # ---------------------------------------------------------- loading

    @classmethod
    def from_yaml(cls, text: str, basedir: str | None = None) -> "Job":
        raw = yaml.safe_load(text)
        if not isinstance(raw, dict):
            raise ManifestError("job manifest must be a YAML mapping")
        raw = dict(raw)
        raw["basedir"] = basedir
        try:
            return cls(**raw)
        except Exception as exc:
            # unwrap pydantic's wrapper so callers catch ManifestError
            if type(exc).__name__ == "ValidationError":
                raise ManifestError(str(exc)) from exc
            raise

    @classmethod
    def from_file(cls, path: str) -> "Job":
        with open(path, encoding="utf-8") as f:
            text = f.read()
        return cls.from_yaml(text, basedir=os.path.dirname(os.path.abspath(path)))

    def command_names(self) -> list[str]:
        return [c.name for c in self.commands if c.name]
