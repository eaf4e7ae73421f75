"""xetl_spark.profile: in-process stage metrics of one action, read in
the default (UI-off) test session and attributed by job tag."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from xetl_spark.profile import crossing_ms, profile


def _grouped_write(spark, n: int, keys: int) -> None:
    df = spark.range(n).groupBy((F.col("id") % keys).alias("k")).agg(F.sum("id"))
    df.write.format("noop").mode("overwrite").save()


def _shuffle_write(p) -> int:
    return sum(s.shuffle_write_bytes for s in p.stages)


def test_session_runs_without_ui(spark):
    assert spark.sparkContext.uiWebUrl is None


def test_group_by_reports_completed_stages(spark):
    p = profile(spark, lambda: _grouped_write(spark, 50_000, 97))
    assert p.result is None and p.wall_s > 0
    assert len(p.stages) >= 1
    assert _shuffle_write(p) > 0
    assert sum(s.tasks for s in p.stages) > 0
    assert len({(s.stage_id, s.attempt) for s in p.stages}) == len(p.stages)
    # the reducer side reads what the map side wrote
    assert sum(s.shuffle_read_bytes for s in p.stages) == _shuffle_write(p)
    for s in p.stages:
        assert s.task_run_ms[0] <= s.task_run_ms[1]


def test_action_without_jobs_reports_no_stages(spark):
    p = profile(spark, lambda: None)
    assert p.result is None
    assert p.stages == []


def test_concurrent_profiles_see_only_their_own_stages(spark):
    shapes = {"a": (40_000, 13), "b": (90_000, 211)}
    solo = {k: _shuffle_write(profile(spark, lambda n=n, m=m: _grouped_write(spark, n, m)))
            for k, (n, m) in shapes.items()}
    both_ran = threading.Barrier(2, timeout=120)
    got: dict = {}
    errors: list = []

    def action(n: int, keys: int) -> None:
        # one job before and one after the barrier: both profiles are
        # open, and their jobs interleave, while the other thread runs
        _grouped_write(spark, n, keys)
        both_ran.wait()
        _grouped_write(spark, n, keys)

    def worker(k: str) -> None:
        try:
            got[k] = profile(spark, lambda: action(*shapes[k]))
        except Exception as e:  # noqa: BLE001
            errors.append(e)
            both_ran.abort()

    threads = [threading.Thread(target=worker, args=(k,)) for k in shapes]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    ids = {k: {s.stage_id for s in p.stages} for k, p in got.items()}
    assert ids["a"] and ids["b"] and not ids["a"] & ids["b"]
    for k in shapes:
        assert _shuffle_write(got[k]) == 2 * solo[k], k


def test_crossing_probe_runs_in_one_wave(spark):
    """The crossing probe runs no stage wider than the core count, so
    it times the JVM<->Python crossing, not task waves."""
    p = profile(spark, lambda: crossing_ms(spark))
    assert p.result > 0 and p.stages
    assert max(s.tasks for s in p.stages) <= spark.sparkContext.defaultParallelism
