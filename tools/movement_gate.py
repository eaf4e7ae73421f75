"""Movement-based gate for the plan_audit exchange-allowance queries.

plan_audit.py caps shuffle-exchange COUNTS per executed plan, with a
per-query allowance list for queries whose static plan text repeats
cached subtrees or pins hint-forced exchanges (the count then measures
plan TEXT, not data movement — the r14 q_dedup_incremental_semantic
allowance grew 19 -> 30 for identical per-doc movement). This gate
asserts what the count cannot: the measured shuffle WRITE volume at a
fixed SF. Each allowance-listed query is built and run through the
noop sink under ``xetl_spark.profile.profile``; the shuffle write of
the completed stages of its jobs is summed (the tools/stage_metrics.py
method) and compared against the declared per-query bound. A query
whose profile holds no completed stage fails: a reader that saw
nothing must not pass as 0 MB.

Bounds are ~2x the r15 measured values at sf0.1 (below, in the table)
— loose enough for fixture drift and AQE plan wobble, tight enough
that a regression to a corpus-sized re-shuffle (the failure mode the
allowances could hide: 10-100x movement) trips immediately.

The bounds hold only for the fixture they were calibrated on: a
``sf_dir`` whose table row counts differ from the sf0.1 fixture's is
refused (exit 2) rather than judged against the wrong bounds.

Usage: python tools/movement_gate.py [sf_dir] [query ...]
Exit code = number of failing queries (over bound, failed to run, or
no completed stage read).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

# query -> (bound_mb, measured_mb) at sf0.1. measured_mb is the r15
# session measurement of this tool itself (2026-08-18, sf0.1,
# recorded in OPTIMIZATION_r15.md); bound ~= 2x measured.
BOUNDS_SF01: dict[str, tuple[float, float]] = {
    "q_text_bigram_logprob": (14.0, 6.96),
    "q_text_kn_bigram_logprob": (13.0, 6.34),
    "q_dedup_minhash_lsh": (13.0, 6.46),
    "q_graph_triangles": (2.0, 0.70),
    "q_fuzzy_name_join": (36.0, 17.72),
    "q_join_effective_dated": (2.5, 1.03),
    "q_ivm_rollup_maintenance": (1.0, 0.00),
    "q_text_perplexity_buckets": (13.0, 6.37),
    "q_text_kn_sampled_fit": (5.0, 2.28),
    "q_dedup_incremental_semantic": (5.0, 2.46),
}

# row counts of the sf0.1 fixture the bounds were measured on
CALIBRATION_ROWS = {
    "lineitem": 600_000,
    "orders": 150_000,
    "documents": 5_000,
    "events": 100_000,
}


def _calibration_mismatch(sf_dir: str) -> list[str]:
    import pyarrow.parquet as pq

    out = []
    for table, rows in CALIBRATION_ROWS.items():
        path = os.path.join(sf_dir, f"{table}.parquet")
        got = pq.ParquetFile(path).metadata.num_rows if os.path.exists(path) else None
        if got != rows:
            out.append(f"{table}: {got} rows, calibrated on {rows}")
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])
    mismatch = _calibration_mismatch(sf_dir)
    if mismatch:
        print(
            f"movement_gate: {sf_dir} is not the sf0.1 fixture the bounds "
            "were calibrated on:\n  " + "\n  ".join(mismatch),
            file=sys.stderr,
        )
        return 2
    import xetl_spark.queries as Q
    from xetl_spark.profile import profile
    from xetl_spark.session import get_session

    spark = get_session("movement_gate")

    def run(name: str) -> None:
        Q.REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    failures: list[str] = []
    for name, (bound_mb, measured_mb) in BOUNDS_SF01.items():
        if only and name not in only:
            continue
        try:
            stages = profile(spark, lambda: run(name)).stages
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: FAILED to run: {exc}")
            continue
        if not stages:
            failures.append(f"{name}: profile holds no completed stages")
            continue
        sw_mb = sum(s.shuffle_write_bytes for s in stages) / 1e6
        verdict = "ok" if sw_mb <= bound_mb else "OVER BOUND"
        print(
            f"{name}: shuffle_write={sw_mb:.2f} MB "
            f"(bound {bound_mb} MB, r15 measured {measured_mb} MB) {verdict}"
        )
        if sw_mb > bound_mb:
            failures.append(
                f"{name}: shuffle write {sw_mb:.2f} MB > bound {bound_mb} MB"
            )
    print("\n--- movement gate ---")
    for f in failures or ["all within bounds"]:
        print(f)
    return len(failures)


if __name__ == "__main__":
    raise SystemExit(main())
