"""Time individual registry queries in isolation (noop sink, best-of-N)
and print the per-stage table of each query's best repetition.

Usage: python tools/qtime.py [--sf DIR] [--reps N] [--no-warm] [--repo PATH] q_a q_b ...

Per guide §1: one JVM warmup pass at sf0.001 (codegen/JIT), then one
crossing-probe line — the best-of-3 wall (ms) of a fixed 32-task
identity mapInPandas round trip plus the 1-min loadavg (~100 ms = fast
JVM↔Python crossing regime, ~400 ms+ = slow; codec-battery /
mapInPandas timings are only comparable within a regime) — then each
query timed best-of-N through the noop sink at the target SF. Per
query: one line with the best wall and the loadavg before measuring,
then one row per completed stage of the best repetition, read with
``xetl_spark.profile``: task count, summed executor run and CPU time,
shuffle fetch-wait and write time, shuffle read/write MB, spill MB and
the task run-time and shuffle-read p50/max.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def crossing_line(spark) -> str:
    probe = spark.range(0, 256).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    )
    probe.count()  # worker + Arrow channel init
    best = None
    for _ in range(3):
        t0 = time.time()
        probe.count()
        best = min(best or 9e9, time.time() - t0)
    return f"crossing_ms={round(best * 1000)} loadavg={os.getloadavg()[0]:.2f}"


def stage_rows(stages) -> list[str]:
    out = []
    for s in stages:
        spill = (s.mem_spill_bytes + s.disk_spill_bytes) / 1e6
        out.append(
            f"  stage {s.stage_id:>4} tasks={s.tasks:<4} run={s.run_ms / 1e3:7.2f}s "
            f"cpu={s.cpu_ns / 1e9:7.2f}s fetchWait={s.fetch_wait_ms / 1e3:5.2f}s "
            f"shufWrite={s.shuffle_write_ns / 1e9:5.2f}s "
            f"r/w={s.shuffle_read_bytes / 1e6:.2f}/{s.shuffle_write_bytes / 1e6:.2f}MB "
            f"spill={spill:.1f}MB "
            f"task p50/max={s.task_run_ms[0]:.0f}/{s.task_run_ms[1]:.0f}ms "
            f"read p50/max={s.task_shuffle_read_bytes[0] / 1e6:.2f}/"
            f"{s.task_shuffle_read_bytes[1] / 1e6:.2f}MB  {s.description[:40]}"
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--repo", default="/root/repo")
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    sys.path.insert(0, args.repo)

    import xetl_spark.queries as Q
    from xetl_spark.profile import profile
    from xetl_spark.session import get_session

    spark = get_session("qtime")

    def mat(df):
        df.write.format("noop").mode("overwrite").save()

    warm_dir = "/root/testdata/sf0.001"
    if not args.no_warm and os.path.isdir(warm_dir):
        for _ in range(2):
            for name in args.queries:
                try:
                    mat(Q.REGISTRY[name].fn(spark, warm_dir))
                except Exception as e:  # noqa: BLE001
                    print(f"# warm {name}: {e}", file=sys.stderr)

    print(crossing_line(spark))
    for name in args.queries:
        best = None
        load = round(os.getloadavg()[0], 2)
        for _ in range(args.reps):
            try:
                p = profile(spark, lambda: mat(Q.REGISTRY[name].fn(spark, args.sf)))
            except Exception as e:  # noqa: BLE001
                print(f"{name}: FAILED {type(e).__name__}: {e}")
                best = None
                break
            if best is None or p.wall_s < best.wall_s:
                best = p
        if best is not None:
            print(f"{name}: {best.wall_s:.3f}s (load@start {load}), {len(best.stages)} stages")
            for row in stage_rows(best.stages):
                print(row)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
