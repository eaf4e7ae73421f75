"""Benchmark of xetl_spark: one workload per run, measured end to end.

Usage (from the repository root):

    python3 perfbench/run.py --workload queries --seed 1 --seconds 6 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``queries``: a battery of registered queries: a cold pass in which
  each is built, collected and checked, then warm passes in which each
  is built and written through the noop sink. The seed shuffles the
  order of every pass.
- ``curation-job``: perfbench/curation_job.yml (the corpus-curation
  example without its two slowest stages) through ``Job.from_file`` and
  sequential ``run_job``, plus its run report.

One client drives one local Spark session (``local[nproc]``) in a
closed loop. The fixture tables are the committed files under
``perfbench/data/sf0.01``, checked against their pinned sha256; every
file a run writes goes under ``perfbench/_work``. Output checks are
not timed. The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). Progress, the
warm-pass figures and host telemetry go to stderr.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
from pathlib import Path

import harvest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
DATA = HERE / "data" / "sf0.01"
SETUP_ROUNDS = {"queries": 5, "curation-job": 9}
MIN_PASSES = 1  # warm battery passes or job runs after the cold one
JOB_FILE = HERE / "curation_job.yml"
PINS = json.loads((HERE / "pins.json").read_text())

# Eight headline rows of bench.py and one streaming query. At 4 cores
# a cold pass takes about 24 s and a warm one about 8.
# Five of the nine take 0.5-0.7 s warm, so the median operation sits
# among queries of like cost.
BATTERY = [
    "q_agg_pricing_summary",
    "q_agg_count_distinct",
    "q_join_range",
    "q_join_asof",
    "q_tpch_q7_like",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_udf_pandas_scalar",
    "q_stream_tumbling",
]
STREAMING = ("q_stream_tumbling",)
JOB_STAGES = ["docs", "normalized", "scrubbed", "signals", "gated", "deduped", "summary", "sink"]
WORKLOADS = tuple(SETUP_ROUNDS)

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
}
EXEC_UNITS = {
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MiB",
    "exec.shuffle_read_mb": "MiB",
    "exec.spill_mb": "MiB",
    "exec.task_p50_ms": "ms",
    "exec.task_p99_ms": "ms",
    "exec.core_util": "frac",
}
PER_LAYER = {
    "session.cold_start_s": "s",
    "session.start_s": "s",
    "setup.fixture_s": "s",
    "setup.warmup_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    **EXEC_UNITS,
    "plans.manifest_load_ms": "ms",
    "plans.run_job_s": "s",
    "plans.report_write_s": "s",
    "sources.output_mb": "MiB",
    "sources.output_files": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.events_per_s": "1/s",
    "crossing.probe_ms": "ms",
    "mem.peak_rss_mb": "MiB",
    "host.nproc": "count",
    "host.loadavg_start": "count",
    "host.loadavg_end": "count",
    "host.cpu_steal_frac": "frac",
    "warm.pass_wall_s": "s",
    "warm.op_p50_s": "s",
    **{f"q.{n}.wall_s": "s" for n in BATTERY},
    **{f"plans.stage.{n}.wall_s": "s" for n in JOB_STAGES},
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def prepare_environment(cores: int) -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the package from the checkout root."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("out", "tmp", "spark-local"):
        (WORK / d).mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # both JVMs (spark-submit's launcher and the driver) take their temp
    # dir from here, and skip the hsperfdata file they would put in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}",
        ) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path.insert(0, str(ROOT))


def session_conf() -> dict[str, str]:
    return {
        # the console progress bar writes over stdout lines
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }


def shutdown(spark) -> None:
    """Stop the session and the JVM PySpark launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def verify_fixtures() -> None:
    """Check every fixture file against the sha256 pinned for it."""
    for name, digest in PINS["fixtures"].items():
        if hashlib.sha256((DATA / name).read_bytes()).hexdigest() != digest:
            raise RuntimeError(f"{DATA / name} does not match its pinned sha256")


def setup(workload: str, layers: dict[str, float]):
    """Verify the fixtures and start the session with ``get_session``,
    SETUP_ROUNDS times; returns the live session and the median round
    wall. For ``queries`` each round also opens every table with
    ``queries.load``; the curation job reads its own input, as
    ``python -m xetl_spark`` runs it.

    The first round also launches the JVM and pays its class loading;
    later rounds stop the SparkContext (untimed) and create a new one in
    the same JVM. The first round is reported alone as
    ``session.cold_start_s``.
    """
    import xetl_spark.queries as Q
    from xetl_spark.session import get_session

    spark = None
    rounds, fixture_s, start_s = [], [], []
    for _ in range(SETUP_ROUNDS[workload]):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        verify_fixtures()
        t1 = time.perf_counter()
        spark = get_session("perfbench", extra_conf=session_conf())
        if workload == "queries":
            Q.load(spark, str(DATA))
        t2 = time.perf_counter()
        rounds.append(t2 - t0)
        fixture_s.append(t1 - t0)
        start_s.append(t2 - t1)
    layers["session.cold_start_s"] = rounds[0]
    layers["session.start_s"] = statistics.median(start_s)
    layers["setup.fixture_s"] = statistics.median(fixture_s)
    return spark, statistics.median(rounds)


# --------------------------------------------------------------- checks


class QueryCheck:
    """Compares a collected query result with its DuckDB oracle (value
    hash) or, for a query without one, with the pinned row count and
    schema."""

    def __init__(self):
        import duckdb

        import xetl_spark.queries as Q

        saved = list(sys.path)
        from tools.oracle_harness import canonical_hash

        sys.path[:] = saved
        self._hash = canonical_hash
        self._con = duckdb.connect()
        for t in Q.TABLES:
            self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")

    def mismatch(self, name: str, df, got) -> str | None:
        import xetl_spark.queries as Q

        q = Q.REGISTRY[name]
        if q.oracle:
            want = self._con.sql(q.oracle).df()
            if len(got) != len(want) or self._hash(got) != self._hash(want):
                return f"oracle mismatch: spark {len(got)} rows, duckdb {len(want)}"
            return None
        pin = PINS["queries"][name]
        schema = df.schema.simpleString()
        if len(got) != pin["rows"] or schema != pin["schema"]:
            return f"pin mismatch: {len(got)} rows, schema {schema}"
        return None

    def close(self) -> None:
        self._con.close()


def check_job(out_dir: Path, report_dir: Path, runs: int) -> dict[str, str]:
    """Per-lang row counts of the job's sink against the pins, and one
    successful report row per stage and run."""
    import duckdb

    bad = {}
    con = duckdb.connect()
    got = dict(con.sql(
        f"SELECT lang, count(*) FROM read_parquet('{out_dir}/**/*.parquet', "
        "hive_partitioning = true) GROUP BY lang"
    ).fetchall())
    if got != PINS["curation-job"]:
        bad["sink"] = f"per-lang rows {got}"
    n = con.sql(
        f"SELECT count(*) FROM '{report_dir}/*.parquet' WHERE status = 'success'"
    ).fetchone()[0]
    if n != runs * len(JOB_STAGES):
        bad["report"] = f"{n} successful stage rows for {runs} runs"
    con.close()
    return bad


# ------------------------------------------------------------ workloads


class Tracer:
    """Per-operation layer numbers, read from outside the program."""

    def __init__(self, spark):
        self.store = harvest.StatusStore(spark)
        self.streams = harvest.StreamStats()
        spark.streams.addListener(self.streams)


def shuffled(seed: int, p: int) -> list[str]:
    """The battery in the order of pass ``p`` of a run with ``seed``."""
    order = list(BATTERY)
    random.Random(seed * 1000 + p).shuffle(order)
    return order


def run_queries(spark, seed: int, seconds: float, tracer: Tracer | None, layers: dict):
    """A cold pass of the battery in which each query is collected and
    its output checked, then whole warm passes through the noop sink
    until ``seconds`` have passed and at least MIN_PASSES have run.
    Returns (cold pass wall, warm op walls, warm pass walls, failures,
    {name: mismatch})."""
    import xetl_spark.queries as Q

    check = QueryCheck()
    bad, cold = {}, 0.0
    t_pass = time.perf_counter()
    for name in shuffled(seed, 0):
        try:
            t0 = time.perf_counter()
            df = Q.REGISTRY[name].fn(spark, str(DATA))
            got = df.toPandas()
            cold += time.perf_counter() - t0  # the comparison is not timed
            why = check.mismatch(name, df, got)
        except Exception as e:  # noqa: BLE001 - a failing query is a result
            why = f"{type(e).__name__}: {e}"[:300]
        if why:
            bad[name] = why
    check.close()
    layers["setup.warmup_s"] = time.perf_counter() - t_pass
    log(f"cold pass {cold:.3f}s, with output checks {layers['setup.warmup_s']:.3f}s")
    if tracer:
        tracer.store.new_stages(tracer.store.new_jobs())
        tracer.streams.batches.clear()

    walls: dict[str, list[float]] = {n: [] for n in BATTERY}
    pass_walls, failed = [], 0
    per_pass: list[dict[str, float]] = []
    t_start = time.perf_counter()
    p = 0
    while p < MIN_PASSES or time.perf_counter() - t_start < seconds:
        order = shuffled(seed, p + 1)
        acc = {"queries.build_s": 0.0, "queries.build_jobs": 0,
               "catalyst.analysis_ms": 0.0, "catalyst.optimization_ms": 0.0,
               "catalyst.planning_ms": 0.0}
        stages = []
        t_pass = time.perf_counter()
        for name in order:
            try:
                t0 = time.perf_counter()
                df = Q.REGISTRY[name].fn(spark, str(DATA))
                t1 = time.perf_counter()
                if tracer:
                    build_jobs = tracer.store.new_jobs()
                    for phase, ms in harvest.catalyst_phases(df).items():
                        acc[f"catalyst.{phase}_ms"] += ms
                t2 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - count it, keep measuring
                failed += 1
                log(f"{name} failed: {type(e).__name__}: {e}"[:300])
                continue
            walls[name].append((t1 - t0) + (t3 - t2))
            acc["queries.build_s"] += t1 - t0
            if tracer:
                acc["queries.build_jobs"] += len(build_jobs)
                stages += tracer.store.new_stages(build_jobs + tracer.store.new_jobs())
        wall = time.perf_counter() - t_pass
        pass_walls.append(wall)
        if tracer:
            acc.update(harvest.summarize(stages, wall, int(os.environ["SPARK_GRAFT_CPUS"])))
        per_pass.append(acc)
        log(f"pass {p}: {wall:.3f}s")
        p += 1
    if tracer:
        for k in per_pass[0]:
            layers[k] = statistics.median(a[k] for a in per_pass)
        for name, w in walls.items():
            layers[f"q.{name}.wall_s"] = statistics.median(w) if w else 0.0
        batches = tracer.streams.batches
        stream_wall = sum(sum(walls[n]) for n in STREAMING)
        rows = sum(b[0] for b in batches)
        layers.update({
            "streaming.batches": len(batches) / p,
            "streaming.input_rows": rows / p,
            "streaming.state_rows": sum(b[1] for b in batches) / p,
            "streaming.batch_ms_p50":
                harvest.quantile([b[2] for b in batches], 0.5) if batches else 0.0,
            "streaming.events_per_s": rows / stream_wall if stream_wall else 0.0,
        })
    ops = [w for ws in walls.values() for w in ws]
    return cold, ops, pass_walls, failed, bad


def run_curation_job(spark, seconds: float, tracer: Tracer | None, layers: dict):
    """A cold first run of the curation job, then whole warm runs until
    ``seconds`` have passed and at least MIN_PASSES have run.
    Returns (cold run wall, warm run walls, failures, last sink dir,
    report dir, runs)."""
    from xetl_spark.plans.models import Job
    from xetl_spark.plans.runner import run_job, run_report, write_run_report

    os.environ["SF_DIR"] = str(DATA)
    report_dir = WORK / "out" / "run_report"
    walls, failed, per_run = [], 0, []
    t_start = i = 0
    while i < MIN_PASSES + 1 or time.perf_counter() - t_start < seconds:
        if i == 1:
            layers["setup.warmup_s"] = walls.pop() if walls else 0.0
            per_run.clear()
            t_start = time.perf_counter()
        out_dir = WORK / "out" / f"curated_{i}"
        os.environ["OUT_DIR"] = str(out_dir)
        i += 1
        try:
            t0 = time.perf_counter()
            job = Job.from_file(str(JOB_FILE))
            t1 = time.perf_counter()
            results = run_job(spark, job)
            t2 = time.perf_counter()
            report = run_report(results, job)
            write_run_report(spark, report, str(report_dir))
            t3 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - count it, keep measuring
            failed += 1
            log(f"curation job failed: {type(e).__name__}: {e}"[:300])
            continue
        walls.append(t3 - t0)
        log(f"job run {i - 1}: {t3 - t0:.3f}s")
        if tracer:
            stages = tracer.store.new_stages(tracer.store.new_jobs())
            files = [f for f in out_dir.rglob("*.parquet")]
            per_run.append({
                "plans.manifest_load_ms": (t1 - t0) * 1e3,
                "plans.run_job_s": t2 - t1,
                "plans.report_write_s": t3 - t2,
                "sources.output_mb": sum(f.stat().st_size for f in files) / (1 << 20),
                "sources.output_files": len(files),
                **harvest.summarize(stages, t3 - t0, int(os.environ["SPARK_GRAFT_CPUS"])),
                **{f"plans.stage.{s['name']}.wall_s": s["wall_s"] for s in report["stages"]},
            })
    for k in per_run[0] if per_run else ():
        layers[k] = statistics.median(r[k] for r in per_run)
    return layers["setup.warmup_s"], walls, failed, out_dir, report_dir, i


# ----------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "xetl_spark").is_dir():
        print(f"perfbench: {ROOT} holds no xetl_spark checkout", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    cpu_start = harvest.cpu_steal_total()
    prepare_environment(cores)
    layers: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    spark, setup_s = setup(args.workload, layers)
    log(f"setup {setup_s:.3f}s (median of {SETUP_ROUNDS[args.workload]}), "
        f"cold first round {layers['session.cold_start_s']:.3f}s")
    tracer = Tracer(spark) if args.trace else None
    if args.workload == "queries":
        cold, ops, passes, failed, bad = run_queries(
            spark, args.seed, args.seconds, tracer, layers
        )
        attempted = len(BATTERY) + len(ops) + failed
    else:
        cold, ops, failed, out_dir, report_dir, runs = run_curation_job(
            spark, args.seconds, tracer, layers
        )
        passes = ops  # one job run is one pass
        bad = check_job(out_dir, report_dir, runs - failed) if ops else {"job": "no run"}
        attempted = runs
    for name, why in bad.items():
        log(f"CHECK FAILED {name}: {why}")

    layers["crossing.probe_ms"] = harvest.crossing_probe_ms(spark)
    layers["host.nproc"] = cores
    layers["host.loadavg_start"] = load_start
    layers["host.loadavg_end"] = os.getloadavg()[0]
    steal, total = (b - a for a, b in zip(cpu_start, harvest.cpu_steal_total()))
    layers["host.cpu_steal_frac"] = steal / total if total else 0.0
    layers["warm.pass_wall_s"] = statistics.median(passes) if passes else 0.0
    layers["warm.op_p50_s"] = harvest.quantile(ops, 0.5) if ops else 0.0
    layers["mem.peak_rss_mb"] = harvest.vm_hwm_mb() + harvest.vm_hwm_mb(harvest.jvm_pid(spark))
    log("host " + json.dumps({k: layers[k] for k in (
        "host.nproc", "host.loadavg_start", "host.loadavg_end", "host.cpu_steal_frac",
        "crossing.probe_ms")}))
    shutdown(spark)

    if args.trace:
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "cold_pass_s": cold}
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    log(f"warm pass_wall_s {layers['warm.pass_wall_s']:.4f} op_p50_s "
        f"{layers['warm.op_p50_s']:.4f} ({len(ops)} operations in {len(passes)} passes)")
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed + len(bad),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
