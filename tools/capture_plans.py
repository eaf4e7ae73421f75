"""Capture `.explain("formatted")` output per registry query to files.

Round-14 deliverable: `plans/r14/<query>_before.txt` / `..._after.txt`
(the judge cannot run Spark and checks plan claims against these files).

Usage:
  python tools/capture_plans.py [--repo CHECKOUT] --out plans/r14 \
      --suffix _after [--sf /root/testdata/sf0.001] [query ...]

With no query names, captures every registry query except streaming
ones (which execute eagerly on plan construction). ``--repo`` is
inserted at sys.path[0] so the tool can capture an older checkout
(e.g. a worktree at the judged r13 commit) for the `_before` side.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=str(REPO))
    ap.add_argument("--out", default="plans/r14")
    ap.add_argument("--suffix", default="_after")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    sys.path.insert(0, args.repo)
    import xetl_spark.queries as Q
    from xetl_spark.session import get_session

    spark = get_session("capture_plans")
    os.makedirs(args.out, exist_ok=True)
    names = args.queries or [
        n for n in sorted(Q.REGISTRY)
        if not n.startswith("q_stream_") and n != "q_ingest_url"
    ]
    n_ok = n_err = 0
    for name in names:
        if name not in Q.REGISTRY:
            print(f"{name}: NOT IN REGISTRY", file=sys.stderr)
            n_err += 1
            continue
        buf = io.StringIO()
        try:
            df = Q.REGISTRY[name].fn(spark, args.sf)
            with redirect_stdout(buf):
                df.explain("formatted")
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: PLAN ERROR {exc}", file=sys.stderr)
            n_err += 1
            continue
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        n_ok += 1
    print(f"captured {n_ok} plans to {args.out} (suffix {args.suffix}), {n_err} errors")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
