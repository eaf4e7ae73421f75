"""Tests for the benchmark's stage-diff and percentile helpers.

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from harvest import Stage, new_completed, quantile, summarize, weighted_quantile  # noqa: E402


def stage(sid, attempt=0, status="COMPLETE", tasks=4, **kw):
    base = dict(
        failed_tasks=0, run_ms=100, cpu_ns=50_000_000, gc_ms=5,
        shuffle_write_bytes=1 << 20, shuffle_read_bytes=1 << 19,
        spilled_bytes=0, task_p50_ms=10.0, task_p99_ms=20.0,
    )
    base.update(kw)
    return Stage(stage_id=sid, attempt=attempt, status=status, tasks=tasks, **base)


def test_quantile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert quantile(xs, 0.5) == 2.5
    assert quantile(xs, 0.75) == 3.25
    assert quantile(xs, 0.0) == 1.0
    assert quantile(xs, 1.0) == 4.0
    assert quantile([7.0], 0.75) == 7.0


def test_quantile_rejects_empty():
    with pytest.raises(ValueError):
        quantile([], 0.5)


def test_weighted_quantile_counts_each_value_by_its_weight():
    # 1.0 x 9 tasks, 100.0 x 1 task: the median task is 1.0, p99 is 100.0
    assert weighted_quantile([100.0, 1.0], [1, 9], 0.5) == 1.0
    assert weighted_quantile([100.0, 1.0], [1, 9], 0.99) == 100.0
    assert weighted_quantile([5.0, 6.0], [0, 0], 0.5) == 0.0


def test_new_completed_keys_on_stage_and_attempt():
    before = {(1, 0)}
    stages = [
        stage(1, 0),  # already counted
        stage(1, 1),  # retry of stage 1: new work
        stage(2, 0),
        stage(3, 0, status="SKIPPED"),
        stage(4, 0, status="ACTIVE"),
        stage(5, 0, status="FAILED"),
    ]
    assert [s.key for s in new_completed(before, stages)] == [(1, 1), (2, 0)]


def test_new_completed_twice_counts_nothing_new():
    stages = [stage(1), stage(2)]
    seen = {s.key for s in new_completed(set(), stages)}
    assert new_completed(seen, stages) == []


def test_summarize_totals_and_utilisation():
    out = summarize([stage(1, run_ms=2000), stage(2, tasks=6, run_ms=2000)], wall_s=1.0, cores=4)
    assert out["exec.stages"] == 2
    assert out["exec.tasks"] == 10
    assert out["exec.cpu_s"] == pytest.approx(0.1)
    assert out["exec.shuffle_write_mb"] == pytest.approx(2.0)
    assert out["exec.shuffle_read_mb"] == pytest.approx(1.0)
    assert out["exec.core_util"] == pytest.approx(1.0)
    assert summarize([], wall_s=0.0, cores=4)["exec.core_util"] == 0.0

