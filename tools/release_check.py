"""Round-end release check: run the full verification battery and
print a one-page summary.

Usage: python tools/release_check.py [--fast]

Runs, in order (see .claude/skills/verify/SKILL.md for the manual
recipe): driver simulation, oracle harness (standard + vanilla,
sf0.01), plan audit, pytest, and bench — each as a subprocess so one
failure can't poison the others' Spark state. ``--fast`` skips pytest
and bench (the two slow legs) for a mid-round spot check.

Exit code = number of failed legs.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

FAST = "--fast" in sys.argv

# run with cwd = the checkout, which `python -c` puts on sys.path
DRIVER_SIM = """
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[8]").getOrCreate()
import importlib
m = importlib.import_module("__spark_entry__")
rows = len(m.entry(spark).collect())
print(f"DRIVER_SIM rows={rows} queries={len(m.queries())} oracles={len(m.oracle_sql())}")
assert rows > 0
"""

LEGS: list[tuple[str, list[str]]] = [
    ("driver-sim", [sys.executable, "-c", DRIVER_SIM]),
    ("harness", [sys.executable, "tools/oracle_harness.py", "/root/testdata/sf0.01"]),
    (
        "harness-vanilla",
        [sys.executable, "tools/oracle_harness.py", "--vanilla", "/root/testdata/sf0.01"],
    ),
    ("plan-audit", [sys.executable, "tools/plan_audit.py"]),
    # canaries that MUST hold even on --fast spot checks: the inventory
    # docs match the registry and every registered query actually builds
    # + canonicalizes against the real testdata (round-10's red row came
    # from a snapshot shipped without running exactly these), importing
    # the registry reads no file outside the package, the
    # stage-metrics reader the movement gate depends on still reads,
    # and opening the fixture tables runs no schema-inference job.
    (
        "registry-canary",
        [
            sys.executable, "-m", "pytest", "-q",
            "tests/test_registry.py::test_import_reads_no_harness_files",
            "tests/test_registry.py::test_inventory_md_matches_registry",
            "tests/test_registry.py::test_coverage_md_counts_match_registry",
            "tests/test_registry.py::test_every_query_output_is_canonicalizable",
            "tests/test_profile.py",
            "tests/test_parquet_schema.py",
        ],
    ),
]
if not FAST:
    LEGS += [
        # shuffle-movement gate for the exchange-allowance queries
        # (r15): deterministic MB bounds, load/regime-immune
        ("movement-gate", [sys.executable, "tools/movement_gate.py"]),
        ("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"]),
        ("bench", [sys.executable, "bench.py"]),
    ]


def main() -> int:
    results = []
    for name, cmd in LEGS:
        t0 = time.time()
        proc = subprocess.run(
            cmd, cwd=REPO, capture_output=True, text=True, timeout=3600
        )
        wall = time.time() - t0
        full = proc.stdout + proc.stderr
        # progress bars and blank lines drown the summary; show the last
        # few SUBSTANTIVE lines and assert against the full output
        lines = [
            ln
            for ln in full.strip().splitlines()
            if ln.strip() and "[Stage" not in ln and "\r" not in ln
        ]
        tail = lines[-3:]
        ok = proc.returncode == 0
        if name.startswith("harness") and ok:
            ok = bool(re.search(r"\b0 failed\b", full))
        if name == "plan-audit" and ok:
            ok = bool(re.search(r"--- findings ---\s*\n\s*none", full))
        if name == "bench" and ok:
            ok = '"complete": true' in full
            # surface value + load together: a slow headline measured
            # under host contention is noise, not regression (r11)
            for ln in reversed(lines):
                if ln.startswith("{"):
                    try:
                        b = json.loads(ln)
                        tail = [
                            f"headline={b.get('value')}s "
                            f"llm={b.get('llm_suite_wall_seconds')}s "
                            f"tpch={b.get('tpch_suite_wall_seconds')}s "
                            f"stream={b.get('streaming_events_per_sec')}ev/s "
                            f"loadavg_start={b.get('loadavg_start')} "
                            f"legs={b.get('loadavg_legs')}"
                        ]
                    except json.JSONDecodeError:
                        pass
                    break
        results.append((name, ok, wall, tail))
        status = "ok" if ok else "FAILED"
        print(f"[{status:>6}] {name} ({wall:.0f}s)")
        for line in tail:
            print(f"         {line[:110]}")
    failed = [n for n, ok, _, _ in results if not ok]
    print(f"\n{len(LEGS) - len(failed)}/{len(LEGS)} legs green"
          + (f"; FAILED: {failed}" if failed else ""))
    return len(failed)


if __name__ == "__main__":
    raise SystemExit(main())
