"""Steadiness self-check for the benchmark.

Runs each workload several times untraced (one seed per run) and once
or more traced, then prints for every end-to-end metric its median,
quartiles and spread (q3 - q1) / median next to the bound in
BENCHMARK.json, and for each traced run ``trace.overhead_frac``: the
traced warm pass wall relative to the untraced median, minus one. The
untraced warm pass wall is not a result metric; it is read from the
run's log line on stderr. With two
or more traced runs it also reports whether the deterministic counters
(shuffle MiB, stage and task counts) repeated exactly.

Usage (from the repository root):

    python3 perfbench/selfcheck.py [--runs 5] [--traced 1] [--workload W ...]

Raw results are kept in perfbench/_results/selfcheck.json.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DETERMINISTIC = ("exec.stages", "exec.tasks", "exec.shuffle_write_mb", "exec.shuffle_read_mb")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One run; its result line, plus its warm pass wall from stderr."""
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    warm = re.search(r"^# warm pass_wall_s (\S+)", proc.stderr, re.M)
    result["warm_pass_wall_s"] = float(warm.group(1))
    return result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--traced", type=int, default=1)
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=names)
    args = ap.parse_args()
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    raw: dict[str, dict] = {}
    ok = True
    for w in args.workload or names:
        seeds = range(args.seed_base, args.seed_base + args.runs)
        untraced = [run_once(w, s, seconds, 0) for s in seeds]
        traced = [run_once(w, s, seconds, 1) for s in seeds[: args.traced]]
        raw[w] = {"untraced": untraced, "traced": traced}
        print(f"\n== {w}: {args.runs} untraced runs, {len(traced)} traced")
        correct = all(r["correct"] and r["failed"] == 0 for r in untraced + traced)
        ok &= correct
        print(f"outputs correct on every run: {correct}")
        print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}{'/bound':>8}")
        for m, bound in bounds.items():
            vals = [r["metrics"][m]["value"] for r in untraced]
            med, q1, q3, sp = spread(vals)
            print(f"{m:<16}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{sp:>9.3f}{bound:>7.2f}{sp / bound:>8.2f}")
        base = statistics.median(r["warm_pass_wall_s"] for r in untraced)
        print(f"untraced warm pass_wall_s median {base:.4f}")
        for r in traced:
            frac = r["metrics"]["warm.pass_wall_s"]["value"] / base - 1
            print(f"trace.overhead_frac {frac:.4f}")
        if len(traced) > 1:
            for m in DETERMINISTIC:
                vals = {r["metrics"][m]["value"] for r in traced}
                print(f"{m} repeats exactly: {len(vals) == 1} {sorted(vals)}")
    out = HERE / "_results"
    out.mkdir(exist_ok=True)
    (out / "selfcheck.json").write_text(json.dumps(raw, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
