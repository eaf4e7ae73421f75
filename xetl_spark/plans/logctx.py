"""Nested log contexts: the runner's transcript decoration layer.

Reference parity: xetl/logging.py:9-222 — three styles (minimal /
moderate / gaudy), three nesting levels, box-drawing headers/footers,
per-record prefixes, gray timestamps inside the innermost scope, and
ANSI color only on a tty. Golden-tested end-to-end the same way the
reference pins its transcripts (tests/test_end_to_end.py:202-249).

Different architecture from the reference (which mutates formatter
state around every log call from inside a contextmanager): here the
active scopes live in a context variable that the formatter READS at
format time, and header/footer lines are marked by a record attribute
(``extra={"xetl_line": ...}``) — no handler mutation, no state to
unwind on exceptions beyond resetting the variable.
"""

from __future__ import annotations

import logging
import sys
from contextlib import contextmanager
from contextvars import ContextVar
from dataclasses import dataclass
from datetime import datetime
from enum import Enum


class Scope(Enum):
    JOB = "job"  # outermost: the whole manifest run
    STAGE = "stage"  # one command of the job
    TASK = "task"  # the task implementation executing inside a stage


@dataclass(frozen=True)
class Decor:
    head: str  # header line prefix
    body: str  # per-record prefix
    foot: str  # footer line prefix
    tail: str  # header/footer suffix


_NONE = Decor("", "", "", "")

# glyph tables are the observable contract (what transcripts pin);
# chosen to match the reference's visual language per style/level
_STYLES: dict[str, dict[Scope, Decor]] = {
    "minimal": {s: _NONE for s in Scope},
    "moderate": {
        Scope.JOB: Decor("─╴", "", "─╴", "╶─"),
        Scope.STAGE: Decor("━╸", "", "━╸", "╺━"),
        Scope.TASK: Decor("═╴", "", "═╴", "╶═"),
    },
    "gaudy": {
        Scope.JOB: Decor("╭──╴", "│", "╰──╴", " ╶╴╴╶ ╶"),
        Scope.STAGE: Decor("┏━━╸", "┃", "┗━━╸", " ━╴╴╶ ╶"),
        Scope.TASK: Decor("┃╭──╴", "┃│", "┃╰──╴", " ─╴╴╶ ╶"),
    },
}

_ANSI = {
    "reset": "\033[0m",
    "bright": "\033[1;37m",
    "red": "\033[91m",
    "yellow": "\033[93m",
    "blue": "\033[2;34m",
    "gray": "\033[90m",
}

#: active scopes, innermost last. A context variable, so concurrent
#: stages (each run in a copy of the scheduling thread's context) nest
#: their STAGE/TASK scopes under the shared JOB scope without seeing
#: each other's.
_scopes: ContextVar[tuple[Scope, ...]] = ContextVar("xetl_log_scopes", default=())


class NestedLogFormatter(logging.Formatter):
    """Formatter that decorates records according to the active scope.

    ``style``: 'minimal' | 'moderate' | 'gaudy'. ``timestamps``: show
    a gray wall-clock prefix on body lines inside the innermost (TASK)
    scope — where subprocess/task output interleaves and ordering
    matters — mirroring the reference's placement.
    """

    def __init__(self, style: str = "moderate", timestamps: bool = True) -> None:
        super().__init__()
        self.style = style
        self.timestamps = timestamps
        self.color = sys.stdout.isatty()

    def _c(self, text: str, color: str) -> str:
        if not text or not self.color:
            return text
        return f"{_ANSI[color]}{text}{_ANSI['reset']}"

    def format(self, record: logging.LogRecord) -> str:
        msg = record.getMessage()
        if record.levelname == "ERROR":
            msg = self._c(f"ERROR {msg}", "red")
        elif record.levelname == "WARNING":
            msg = self._c(f"WARNING {msg}", "yellow")

        scopes = _scopes.get()
        scope = scopes[-1] if scopes else None
        if scope is None:
            return msg
        decor = _STYLES[self.style][scope]
        kind = getattr(record, "xetl_line", "body")
        if kind == "header":
            return (
                self._c(decor.head, "blue")
                + self._c(msg, "bright")
                + self._c(decor.tail, "blue")
            )
        if kind == "footer":
            return (
                self._c(decor.foot, "blue")
                + self._c(msg, "bright")
                + self._c(decor.tail, "blue")
            )
        prefix = self._c(decor.body, "blue")
        if self.timestamps and scope is Scope.TASK and self.style != "minimal":
            ts = f"{datetime.fromtimestamp(record.created).strftime('%Y-%m-%d %H:%M:%S')}.{int(record.msecs):03d}"
            sep = "┊" if self.style == "gaudy" else " "
            return f"{prefix}{self._c(ts, 'gray')}{self._c(sep, 'blue')} {msg}"
        return f"{prefix} {msg}" if prefix else msg


@contextmanager
def log_scope(scope: Scope, header: str, footer: str | None = None):
    """Enter a decorated logging scope: emit ``header`` with the
    scope's header decoration, prefix every record logged inside, and
    emit ``footer`` (if set — callers may also set it via the yielded
    setter, e.g. an exit code known only at the end) on the way out."""
    log = logging.getLogger("xetl_spark.runner")
    token = _scopes.set(_scopes.get() + (scope,))
    log.info(header, extra={"xetl_line": "header"})

    state = {"footer": footer}

    def set_footer(message: str) -> None:
        state["footer"] = message

    try:
        yield set_footer
    finally:
        if state["footer"]:
            log.info(state["footer"], extra={"xetl_line": "footer"})
        _scopes.reset(token)


def configure(style: str = "moderate", timestamps: bool = True) -> None:
    """Install the nested formatter on the root logger's handlers
    (creating a stdout handler if none exist). Transport-layer loggers
    (py4j, pyspark internals) are pinned to WARNING so a DEBUG root
    (gaudy) doesn't interleave JVM-bridge chatter into the transcript."""
    root = logging.getLogger()
    if not root.handlers:
        root.addHandler(logging.StreamHandler(sys.stdout))
    fmt = NestedLogFormatter(style=style, timestamps=timestamps)
    for h in root.handlers:
        h.setFormatter(fmt)
    for noisy in ("py4j", "pyspark"):
        logging.getLogger(noisy).setLevel(logging.WARNING)
