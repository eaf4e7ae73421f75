"""CLI: ``python -m xetl_spark <manifest> [-c cmds] [--dryrun]``.

Reference parity (xetl/__main__.py:12-63): manifest path argument,
--commands subset, --dryrun; exits non-zero with the failing stage's
error. Log style maps to plain/verbose logging instead of the
reference's box-drawing decorations (SURVEY.md: cosmetic non-goal).
"""

from __future__ import annotations

import argparse
import logging
import sys


def argument_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="xetl_spark",
        description="Run a Spark pipeline job manifest",
    )
    p.add_argument("manifest", help="path to the job YAML manifest")
    p.add_argument(
        "-c",
        "--commands",
        help="comma-separated subset of commands to run (job order preserved)",
    )
    p.add_argument(
        "--dryrun",
        action="store_true",
        help="print the resolved manifest and per-stage plans; execute nothing",
    )
    p.add_argument(
        "-l",
        "--log-style",
        choices=["1", "2", "3", "minimal", "moderate", "gaudy"],
        default="gaudy",
        help="amount of decoration around logs, 1 (minimal) to 3 (gaudy)",
    )
    p.add_argument(
        "-t",
        "--no-timestamps",
        action="store_true",
        help="omit timestamps from log decoration",
    )
    p.add_argument(
        "--resume",
        action="store_true",
        help="restore MATERIALIZE=true stages from existing checkpoints",
    )
    p.add_argument(
        "--list-tasks",
        action="store_true",
        help="list available tasks (built-in + discovered) and exit",
    )
    p.add_argument(
        "--run-task-tests",
        action="store_true",
        help="run every task's declared tests: block and exit non-zero on failure",
    )
    def _positive_int(v: str) -> int:
        n = int(v)
        if n < 1:
            raise argparse.ArgumentTypeError(
                f"--parallel expects a worker count >= 1, got {n}"
            )
        return n

    p.add_argument(
        "--parallel",
        nargs="?",
        const=8,
        type=_positive_int,
        metavar="N",
        help="run up to N stages at once (bare flag: 8; default: 1, job "
        "order); stages opt in with DEPENDS_ON",
    )
    p.add_argument(
        "--report",
        metavar="PATH",
        help="write a JSON run report (per-stage status/wall/rows/bytes)",
    )
    p.add_argument(
        "--report-table",
        metavar="PATH",
        help="append the run report to a parquet history table "
        "(one row per stage, queryable across runs)",
    )
    p.add_argument(
        "--alerts",
        metavar="PATH",
        help="evaluate declarative alert rules (YAML) against the run "
        "report after the job; rules marked fail:true make the exit "
        "code 3 when fired",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = argument_parser().parse_args(argv)
    # numeric aliases match the reference CLI (reference
    # xetl/__main__.py:24-36, 44-50): 1=minimal, 2=moderate, 3=gaudy
    style = {"1": "minimal", "2": "moderate", "3": "gaudy"}.get(
        args.log_style, args.log_style
    )
    logging.basicConfig(
        level=logging.DEBUG if style == "gaudy" else logging.INFO,
        stream=sys.stdout,
    )
    from xetl_spark.plans.logctx import configure as configure_log_style

    configure_log_style(style=style, timestamps=not args.no_timestamps)

    import os

    if not os.path.isfile(args.manifest):
        print(f"error: manifest not found: {args.manifest}", file=sys.stderr)
        return 1

    from xetl_spark.plans.models import (
        Job,
        JobDataDirectoryNotFound,
        ManifestError,
        ValidationError,
    )
    from xetl_spark.plans.runner import TaskFailure, _filter_commands, explain_job, run_job
    from xetl_spark.session import get_session

    try:
        job = Job.from_file(args.manifest)
    except (ManifestError, ValidationError) as exc:
        print(f"error: invalid manifest: {exc}", file=sys.stderr)
        return 1

    if args.list_tasks:
        from xetl_spark.plans.registry import BUILTINS

        reg = BUILTINS.copy()
        if job.tasks:
            reg.discover(job.tasks)
        for name in reg.names():
            spec, _ = reg.get(name)
            print(f"{name}: {spec.description or ''}")
        return 0

    spark = get_session(f"xetl:{job.name}")

    if args.run_task_tests:
        from xetl_spark.plans.registry import BUILTINS
        from xetl_spark.plans.runner import run_task_tests

        reg = BUILTINS.copy()
        if job.tasks:
            reg.discover(job.tasks)
        outcomes = run_task_tests(spark, registry=reg)
        failed = False
        for name, cases in outcomes.items():
            for i, ok in enumerate(cases):
                print(f"{name}[{i}]: {'PASS' if ok else 'FAIL'}")
                failed = failed or not ok
        return 1 if failed else 0

    if args.dryrun:
        selected = job.model_copy(update={"commands": _filter_commands(job, args.commands)})
        print(explain_job(spark, selected))
        return 0
    try:
        results = run_job(
            spark,
            job,
            commands=args.commands,
            resume=args.resume,
            max_workers=args.parallel or 1,
        )
    except TaskFailure as tf:
        print(f"error: {tf}", file=sys.stderr)
        print("Task failed, terminating job.", file=sys.stderr)
        return 2
    except (ManifestError, ValidationError) as exc:
        # job-level misconfiguration (unknown task, bad DEPENDS_ON,
        # bad inputs, ...) — a clean one-line error, not a traceback
        print(f"error: {exc}", file=sys.stderr)
        return 1
    except JobDataDirectoryNotFound as exc:
        print(f"error: job data directory not found: {exc}", file=sys.stderr)
        return 1
    rc = 0
    if args.report or args.report_table or args.alerts:
        from xetl_spark.plans.runner import run_report, write_run_report

        rep = run_report(results, job)
        if args.report:
            import json

            with open(args.report, "w") as fh:
                json.dump(rep, fh, indent=2)
            print(f"report: {args.report}")
        if args.report_table:
            write_run_report(spark, rep, args.report_table)
            print(f"report table: {args.report_table}")
        if args.alerts:
            from xetl_spark.plans.alerts import (
                dispatch_alerts,
                evaluate_alerts,
                load_rules,
            )

            fired = evaluate_alerts(rep, load_rules(args.alerts))
            rc = dispatch_alerts(fired)
            for f in fired:
                where = f" [{f['stage']}]" if f["stage"] else ""
                print(f"alert: {f['name']}{where} value={f['value']}")
    for r in results:
        label = r.command.name or r.command.task
        print(f"{label}: {r.status}")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
