"""Time registry queries through ``xetl_spark.profile`` at one or more
scale factors, and show how each layer grows between them.

Usage: python tools/qtime.py [--sf DIR]... [--reps N] [--timeout S] [--no-warm] [q_a q_b ...]

``--sf`` repeats, smallest scale factor first (default
/root/testdata/sf0.1). With no query names every batch registry query
runs (all but ``q_stream_*``); a named streaming query runs its stream
to a memory sink inside the query function and is timed like any other.

After a warm-up pass at sf0.001 (``--no-warm`` skips it) and one
crossing-probe line (``profile.crossing_ms`` and the 1-min loadavg),
each query runs best-of-N by wall through the noop sink at each SF.
Per query and SF it prints one markdown row of ``profile()`` totals —
wall, executor CPU-s, shuffle-write MB, spill MB, max task
shuffle-read MB — then one row per completed stage. From the second SF
on, each total carries its ratio to the previous SF, and the input
rows the data ratio: parquet footer row counts of the fixture tables
the query reads (from its analyzed plan, so a cached subtree still
counts its own tables; every table when the plan names none; ``?``,
never flagged, when part of it reads a checkpoint). A ratio above the data ratio by more than ``MARGIN`` is bold
and listed as ``FLAG`` under the findings. With more than one SF the
rows are printed again as one table (SCALING.md's table section).

``--timeout S``: a run still going after S seconds has its jobs
cancelled through a job tag and prints ``TIMEOUT``. A TIMEOUT or a
query that raises (``FAILED``) makes qtime exit 1.
"""

from __future__ import annotations

import argparse
import os
import sys
import threading
import uuid
from pathlib import Path
from urllib.parse import urlparse

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

WARM_DIR = "/root/testdata/sf0.001"
# per-run totals read from profile(), in print order
LAYERS = ("wall_s", "cpu_s", "shuffle_mb", "spill_mb", "max_read_mb")
HEADER = (
    "| query | fixture | input rows | wall s | CPU s | shuffle-write MB | spill MB "
    "| max task read MB |\n|---|---|---|---|---|---|---|---|"
)


def totals(p) -> dict[str, float]:
    """One profiled run's per-layer totals over its completed stages."""
    st = p.stages
    return {
        "wall_s": p.wall_s,
        "cpu_s": sum(s.cpu_ns for s in st) / 1e9,
        "shuffle_mb": sum(s.shuffle_write_bytes for s in st) / 1e6,
        "spill_mb": sum(s.mem_spill_bytes + s.disk_spill_bytes for s in st) / 1e6,
        "max_read_mb": max((s.task_shuffle_read_bytes[1] for s in st), default=0.0) / 1e6,
    }


# a layer is flagged when its ratio exceeds the data ratio by more than
# this factor: an exactly linear layer sits on the data ratio, and its
# measured ratio scatters around it (the r14 sf10 rows read 10.1 and
# 11.1 on 10x data for token-linear plans, 13.9 for a pair-graph-bound one)
MARGIN = 1.25


def slopes(
    small: dict[str, float], big: dict[str, float], data_ratio: float
) -> dict[str, tuple[float | None, bool]]:
    """Per layer: (big/small ratio, whether it exceeds ``data_ratio``
    by more than ``MARGIN``).

    A layer that is 0 at the smaller SF has no ratio. Over a pair whose
    data did not grow (``data_ratio <= 1``) nothing is flagged: the
    ratio of two equal-input runs is noise, not growth."""
    out = {}
    for layer in LAYERS:
        a, b = small[layer], big[layer]
        r = b / a if a > 0 else None
        out[layer] = (r, r is not None and data_ratio > 1 and r > data_ratio * MARGIN)
    return out


def input_rows(df, sf_dir: str) -> int | None:
    """Summed parquet footer row counts (no Spark job) of the fixture
    tables under ``sf_dir`` that ``df`` scans, or of every table there
    when it scans none of them. The tables are read off the analyzed
    plan, which still names the relations under a cached subtree
    (``df.inputFiles`` stops at its InMemoryRelation). None when part
    of the plan reads a checkpoint: its source tables are unknown."""
    import pyarrow.dataset as ds

    root = Path(sf_dir).resolve()
    tables = set()
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "LogicalRDD" and node.rdd().isCheckpointed():
            return None
        rel = node.relation() if name == "LogicalRelation" else None
        if rel is not None and rel.getClass().getSimpleName() == "HadoopFsRelation":
            for f in rel.location().inputFiles():
                p = Path(urlparse(f).path).resolve()
                tables.update(q for q in (p, *p.parents) if q.parent == root)
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return sum(ds.dataset(str(q)).count_rows() for q in tables or root.glob("*.parquet"))


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


def run_once(spark, fn, sf_dir: str, timeout: float | None):
    """Profile one noop-sink run of query function ``fn`` on ``sf_dir``
    (``Profile.result`` is the query's DataFrame); None on timeout."""
    from xetl_spark.profile import profile

    sc = spark.sparkContext
    tag = f"qtime-{uuid.uuid4().hex}"
    box: dict = {}

    def action():
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return df

    def body():
        # job properties are thread-local: the tag covers every job this
        # thread starts, and a streaming query's threads inherit it
        sc.addJobTag(tag)
        try:
            box["p"] = profile(spark, action)
        except Exception as e:  # noqa: BLE001
            box["err"] = e
        finally:
            sc.removeJobTag(tag)

    th = threading.Thread(target=body, daemon=True)
    th.start()
    th.join(timeout)
    if not th.is_alive():
        if "err" in box:
            raise box["err"]
        return box["p"]
    while th.is_alive():  # the run may start new jobs after a cancel
        sc.cancelJobsWithTag(tag)
        th.join(1)
    return None


def fmt(value: float, ratio: float | None = None, flagged: bool = False) -> str:
    if ratio is None:
        return f"{value:.2f}"
    x = f"x{ratio:.1f}"
    return f"{value:.2f} ({'**' + x + '**' if flagged else x})"


def measure(spark, fn, sf_dir: str, reps: int, timeout: float | None):
    """(best-by-wall profile of ``reps`` runs, None), or (None, the
    TIMEOUT / FAILED status that ended them)."""
    best = None
    for _ in range(reps):
        try:
            p = run_once(spark, fn, sf_dir, timeout)
        except Exception as e:  # noqa: BLE001
            return None, f"FAILED {type(e).__name__}: {str(e)[:160]}"
        if p is None:
            return None, f"TIMEOUT after {timeout:g}s"
        if best is None or p.wall_s < best.wall_s:
            best = p
    return best, None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", action="append", help="fixture dir; repeat, smallest first")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--timeout", type=float, default=None, help="seconds per run")
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    sfs = args.sf or ["/root/testdata/sf0.1"]

    import xetl_spark.queries as Q
    from xetl_spark.profile import crossing_ms
    from xetl_spark.session import get_session

    names = args.queries or [n for n in Q.REGISTRY if not n.startswith("q_stream_")]
    spark = get_session("qtime")
    spark.sparkContext.setLogLevel("ERROR")

    if not args.no_warm and os.path.isdir(WARM_DIR):
        for name in names:
            _, status = measure(spark, Q.REGISTRY[name].fn, WARM_DIR, 2, args.timeout)
            if status is not None:
                print(f"# warm {name}: {status}", file=sys.stderr)

    print(f"crossing_ms={crossing_ms(spark)} loadavg={os.getloadavg()[0]:.2f}")
    table: list[str] = []
    findings: list[str] = []
    incomplete = False
    for name in names:
        prev = None  # (rows, totals) at the previous SF
        for sf in sfs:
            best, status = measure(spark, Q.REGISTRY[name].fn, sf, args.reps, args.timeout)
            if status is not None:
                findings.append(f"{name} @ {sf}: {status}")
                print(findings[-1], flush=True)
                incomplete = True
                break
            rows, t = input_rows(best.result, sf), totals(best)
            shown = "?" if rows is None else f"{rows:,}"
            if prev is None:
                cells = [shown] + [fmt(t[k]) for k in LAYERS]
            else:
                data_ratio = rows / prev[0] if rows and prev[0] else None
                # an unknown data ratio shows layer ratios, never a FLAG
                sl = slopes(prev[1], t, data_ratio or 1.0)
                if data_ratio is not None:
                    shown += f" (x{data_ratio:.1f})"
                cells = [shown] + [fmt(t[k], *sl[k]) for k in LAYERS]
                if flagged := ", ".join(k for k in LAYERS if sl[k][1]):
                    findings.append(f"FLAG {name} @ {sf}: {flagged} above data x{data_ratio:.1f}")
            table.append(f"| {name} | {Path(sf).name} | " + " | ".join(cells) + " |")
            print("\n".join([table[-1], *stage_rows(best.stages)]), flush=True)
            prev = (rows, t)

    print("\n--- findings ---\n" + ("\n".join(findings) or "none"))
    if len(sfs) > 1:
        print("\n" + HEADER + "\n" + "\n".join(table))
    return 1 if incomplete else 0


if __name__ == "__main__":
    raise SystemExit(main())
