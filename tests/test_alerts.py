"""Run-report alerting: rule parsing, evaluation semantics, dispatch
exit codes, and the --alerts CLI wiring end-to-end."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest

from xetl_spark.plans.alerts import (
    AlertConfigError,
    AlertRule,
    dispatch_alerts,
    evaluate_alerts,
    load_rules,
)

from conftest import REPO

REPORT = {
    "job": "j",
    "total_wall_s": 12.5,
    "stages": [
        {"name": "extract", "task": "read_parquet", "status": "success",
         "wall_s": 2.0, "attempts": 1, "rows": 100, "bytes": 5000},
        {"name": "load", "task": "write_parquet", "status": "failed",
         "wall_s": 10.5, "attempts": 3, "rows": 0, "bytes": None},
    ],
}


def test_stage_and_run_scopes_fire_correctly():
    rules = [
        AlertRule(name="slow", when="wall_s > 5"),
        AlertRule(name="retried", when="attempts >= 2"),
        AlertRule(name="failed-run", when="failed_stages > 0", scope="run", fail=True),
        AlertRule(name="quiet", when="rows_total > 1000", scope="run"),
        AlertRule(name="status-eq", when="status == failed"),
    ]
    fired = evaluate_alerts(REPORT, rules)
    by_name = {(f["name"], f["stage"]) for f in fired}
    assert ("slow", "load") in by_name
    assert ("retried", "load") in by_name
    assert ("failed-run", None) in by_name
    assert ("status-eq", "load") in by_name
    assert not any(f["name"] == "quiet" for f in fired)
    # dispatch: the fail-marked rule drives exit code 3
    assert dispatch_alerts(fired) == 3
    assert dispatch_alerts([f for f in fired if not f["fail"]]) == 0


def test_null_fields_never_fire_ordered_comparisons():
    rules = [AlertRule(name="b", when="bytes > 0")]
    fired = evaluate_alerts(REPORT, rules)
    assert {f["stage"] for f in fired} == {"extract"}  # load has bytes=None


def test_quoted_and_numeric_literals():
    assert AlertRule(name="x", when="status == 'failed'")._parsed[2] == "failed"
    assert AlertRule(name="x", when="wall_s >= 1.5")._parsed[2] == 1.5
    assert AlertRule(name="x", when="attempts != 1")._parsed[2] == 1


def test_bad_rules_rejected():
    with pytest.raises(AlertConfigError):
        AlertRule(name="x", when="wall_s ~ 5")
    with pytest.raises(AlertConfigError):
        AlertRule(name="x", when="wall_s > 5", scope="cluster")
    with pytest.raises(AlertConfigError):
        evaluate_alerts(REPORT, [AlertRule(name="x", when="nonsense > 1")])


def test_load_rules_yaml(tmp_path):
    p = tmp_path / "alerts.yml"
    p.write_text(
        """
alerts:
  - name: slow
    when: wall_s > 60
  - name: fail
    when: failed_stages > 0
    scope: run
    fail: true
"""
    )
    rules = load_rules(str(p))
    assert [r.name for r in rules] == ["slow", "fail"]
    assert rules[1].fail and rules[1].scope == "run"
    bad = tmp_path / "bad.yml"
    bad.write_text("alerts:\n  - {name: x}\n")
    with pytest.raises(AlertConfigError):
        load_rules(str(bad))


def test_alert_hook_subprocess_receives_env(tmp_path):
    out = tmp_path / "hook.txt"
    sh = tmp_path / "hook.sh"
    sh.write_text(f'#!/bin/sh\necho "$ALERT_NAME $ALERT_SCOPE $ALERT_STAGE" >> {out}\n')
    sh.chmod(0o755)
    fired = evaluate_alerts(
        REPORT, [AlertRule(name="slow", when="wall_s > 5", run=str(sh))]
    )
    assert dispatch_alerts(fired) == 0
    assert out.read_text().strip() == "slow stage load"


def test_cli_alerts_end_to_end(tmp_path):
    """--alerts drives the exit code and prints fired alerts."""
    sf = "/root/testdata/sf0.001"
    (tmp_path / "data").mkdir()
    manifest = tmp_path / "job.yml"
    manifest.write_text(
        f"""
name: alertjob
data: {tmp_path}/data
env: {{SF_DIR: {sf}}}
commands:
  - name: r
    task: read_parquet
    env: {{PATH: "${{SF_DIR}}/region.parquet", MATERIALIZE: "true"}}
"""
    )
    rules = tmp_path / "alerts.yml"
    rules.write_text(
        """
alerts:
  - name: has-rows
    when: rows >= 5
    fail: true
"""
    )
    proc = subprocess.run(
        [sys.executable, "-m", "xetl_spark", str(manifest), "--alerts", str(rules)],
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert proc.returncode == 3, proc.stdout + proc.stderr
    assert "alert: has-rows [r] value=5" in proc.stdout


def test_expect_task_gates_and_reports(spark, tmp_path):
    """expect: green constraints pass and return the report; violated
    constraints fail the stage (fail-fast), or warn in MODE=warn."""
    import textwrap

    import pytest as _pytest

    from xetl_spark.plans.models import Job
    from xetl_spark.plans.runner import TaskFailure, run_job

    def job_yaml(mode, hi):
        return textwrap.dedent(
            f"""
            name: gate
            data: {tmp_path}
            env: {{SF_DIR: /root/testdata/sf0.001}}
            commands:
              - name: o
                task: read_parquet
                env: {{PATH: "${{SF_DIR}}/orders.parquet"}}
              - name: gate
                task: expect
                env: {{NOT_NULL: "o_orderkey,o_custkey", UNIQUE: o_orderkey,
                      RANGE: "o_totalprice:0:{hi}", MODE: {mode}}}
            """
        )

    results = run_job(spark, Job.from_yaml(job_yaml("fail", 10_000_000)))
    rep = {r.check: (r.n_violations, r.passed) for r in results[1].output.collect()}
    assert all(p for _n, p in rep.values()), rep
    assert set(rep) == {
        "not_null_o_orderkey", "not_null_o_custkey", "unique_o_orderkey",
        "in_range_o_totalprice",
    }

    with _pytest.raises(TaskFailure):
        run_job(spark, Job.from_yaml(job_yaml("fail", 10)))  # price cap violated

    results = run_job(spark, Job.from_yaml(job_yaml("warn", 10)))
    rep = {r.check: r.passed for r in results[1].output.collect()}
    assert rep["in_range_o_totalprice"] is False  # reported, not fatal


def test_shipped_alerts_example_parses():
    rules = load_rules(REPO / "examples" / "alerts.yml")
    assert {r.name for r in rules} == {
        "stage-over-a-minute", "stage-retried",
        "empty-materialized-output", "any-stage-failed",
    }
    assert any(r.fail for r in rules)
