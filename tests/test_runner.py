"""Runner semantics (fail-fast, skip, filtering, dry-run, nested jobs)
plus an end-to-end YAML pipeline over sf0.001 — mirrors the reference's
e2e strategy (tests/test_end_to_end.py) with DataFrame assertions
instead of stdout transcripts.
"""

import contextlib
import logging
import re
import textwrap
import threading
import time
from pathlib import Path

import pytest

from xetl_spark.plans.models import Job, UnknownTaskError, ValidationError
from xetl_spark.plans.registry import BUILTINS, TaskRegistry, task
from xetl_spark.plans.runner import TaskFailure, explain_job, run_job

SF = "/root/testdata/sf0.001"


def _job(yaml_text: str) -> Job:
    return Job.from_yaml(textwrap.dedent(yaml_text))


def test_end_to_end_pipeline(spark, tmp_path):
    """read → sql-join/agg → write parquet, wired by placeholders."""
    out = tmp_path / "out"
    job = _job(
        f"""
        name: revenue
        data: {tmp_path}
        env:
          SF_DIR: {SF}
        commands:
          - name: orders
            task: read_parquet
            env: {{PATH: "${{SF_DIR}}/orders.parquet"}}
          - name: customer
            task: read_parquet
            env: {{PATH: "${{SF_DIR}}/customer.parquet"}}
          - name: joined
            task: sql
            env:
              QUERY: >
                SELECT c_mktsegment, count(*) AS n,
                       round(sum(o_totalprice), 2) AS total
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY c_mktsegment
          - name: sink
            task: write_parquet
            env: {{INPUT: joined, PATH: {out}}}
        """
    )
    results = run_job(spark, job)
    assert [r.status for r in results] == ["success"] * 4
    back = spark.read.parquet(str(out))
    assert back.count() == 5  # five market segments
    total = sum(r.n for r in back.collect())
    assert total == spark.read.parquet(f"{SF}/orders.parquet").count()


def test_unknown_task_lists_valid_names(spark):
    job = _job(
        """
        name: bad
        commands: [{task: no_such_task}]
        """
    )
    with pytest.raises(UnknownTaskError, match="valid tasks"):
        run_job(spark, job)


def test_failfast_validates_all_before_running(spark):
    """Second command is invalid → first must NOT run (reference
    job.py:198-200)."""
    ran = []

    reg = BUILTINS.copy()

    @task("probe", registry=reg)
    def probe(ctx):
        ran.append(1)
        return None

    job = _job(
        """
        name: ff
        commands:
          - {task: probe}
          - {task: read_parquet}   # missing required PATH
        """
    )
    with pytest.raises(ValidationError, match="PATH"):
        run_job(spark, job, registry=reg)
    assert ran == []


def test_type_mismatch_rejected(spark):
    job = _job(
        f"""
        name: tm
        commands:
          - task: limit
            env: {{N: "ten", INPUT: x}}
        """
    )
    with pytest.raises(ValidationError, match="N"):
        run_job(spark, job)


def test_skip_executes_nothing_but_resolves(spark):
    """skip:true commands don't run, yet their env is referenceable
    (reference command.py:45-51, test_job.py:1216-1242)."""
    reg = BUILTINS.copy()
    seen = []

    @task("recorder", env={"V": {"type": "string", "required": False}}, registry=reg)
    def recorder(ctx):
        seen.append(ctx.env.get("V"))
        return None

    job = _job(
        """
        name: sk
        commands:
          - {name: a, task: recorder, skip: true, env: {V: hidden}}
          - {name: b, task: recorder, env: {V: "${a.env.V}"}}
        """
    )
    results = run_job(spark, job, registry=reg)
    assert [r.status for r in results] == ["skipped", "success"]
    assert seen == ["hidden"]


def test_command_filtering_preserves_job_order(spark):
    reg = BUILTINS.copy()
    order = []

    @task("tracer", env={"V": {"type": "string"}}, registry=reg)
    def tracer(ctx):
        order.append(ctx.env["V"])
        return None

    job = _job(
        """
        name: filt
        commands:
          - {name: one, task: tracer, env: {V: "1"}}
          - {name: two, task: tracer, env: {V: "2"}}
          - {name: three, task: tracer, env: {V: "3"}}
        """
    )
    run_job(spark, job, commands="THREE, one", registry=reg)  # fuzzy + reordered
    assert order == ["1", "3"]  # job order wins (reference job.py:146-157)


def test_task_failure_aborts(spark):
    reg = BUILTINS.copy()
    ran = []

    @task("boom", registry=reg)
    def boom(ctx):
        raise RuntimeError("kaboom")

    @task("after", registry=reg)
    def after(ctx):
        ran.append(1)
        return None

    job = _job(
        """
        name: fail
        commands:
          - {task: boom}
          - {task: after}
        """
    )
    with pytest.raises(TaskFailure, match="kaboom"):
        run_job(spark, job, registry=reg)
    assert ran == []


def test_dryrun_skips_like_run_job(spark):
    """explain_job follows run_job's skip rule: a skip:true stage's body
    is not called, and the stage after it explains the input the real
    run reads (a skipped stage is transparent to ``previous``)."""
    reg = BUILTINS.copy()
    called, seen = [], []

    @task("boom", registry=reg)
    def boom(ctx):
        called.append(1)
        raise RuntimeError("kaboom")

    @task("peek", registry=reg)
    def peek(ctx):
        seen.append(ctx.input_df().columns)
        return ctx.input_df()

    job = _job(
        f"""
        name: skipdry
        commands:
          - {{name: src, task: read_parquet, env: {{PATH: {SF}/region.parquet}}}}
          - {{name: broken, task: boom, skip: true}}
          - {{name: after, task: peek}}
        """
    )
    text = explain_job(spark, job, registry=reg)
    assert called == [] and "plan unavailable" not in text
    run_job(spark, job, registry=reg)
    assert called == []
    assert seen == [["r_regionkey", "r_name"]] * 2


def test_data_dir_guard(spark):
    job = _job(
        """
        name: guard
        data: /definitely/not/a/dir
        commands: []
        """
    )
    from xetl_spark.plans.models import JobDataDirectoryNotFound

    with pytest.raises(JobDataDirectoryNotFound):
        run_job(spark, job)
    # dry-run skips the guard (reference job.py:195-196)
    explain_job(spark, job)


def test_dryrun_executes_nothing(spark, tmp_path):
    out = tmp_path / "never"
    job = _job(
        f"""
        name: dr
        commands:
          - {{name: src, task: read_parquet, env: {{PATH: {SF}/region.parquet}}}}
          - {{name: sink, task: write_parquet, env: {{INPUT: src, PATH: {out}}}}}
        """
    )
    text = explain_job(spark, job)
    assert "command: sink" in text
    assert not out.exists()


def test_explain_contains_plan_and_env(spark):
    job = _job(
        f"""
        name: ex
        commands:
          - {{name: src, task: read_parquet, env: {{PATH: {SF}/region.parquet}}}}
        """
    )
    text = explain_job(spark, job)
    assert "src" in text and "PATH" in text and "Parquet" in text


def test_nested_job(spark, tmp_path):
    """A task invoking an inner manifest (reference
    test_end_to_end.py:434-519)."""
    inner = tmp_path / "inner.yml"
    inner.write_text(
        textwrap.dedent(
            f"""
            name: inner
            commands:
              - {{name: nations, task: read_parquet, env: {{PATH: {SF}/nation.parquet}}}}
            """
        )
    )
    job = _job(
        f"""
        name: outer
        commands:
          - {{name: sub, task: subjob, env: {{MANIFEST: {inner}}}}}
          - name: count
            task: sql
            env: {{QUERY: "SELECT count(*) AS n FROM sub"}}
        """
    )
    results = run_job(spark, job)
    assert results[-1].output.collect()[0].n == 25


def test_default_values_injected(spark, tmp_path):
    """HEADER/SEP defaults applied when absent (reference task.py:298-303)."""
    csv_dir = tmp_path / "c"
    spark.read.parquet(f"{SF}/region.parquet").write.option("header", True).csv(
        str(csv_dir)
    )
    job = _job(
        f"""
        name: defaults
        commands:
          - {{name: src, task: read_csv, env: {{PATH: {csv_dir}}}}}
        """
    )
    (res,) = run_job(spark, job)
    assert res.output.count() == 5


def test_example_corpus_curation_manifest(spark, tmp_path, monkeypatch):
    """examples/corpus_curation.yml (C4 + Gopher recipe) runs end-to-end:
    every stage succeeds, the signal/flag columns flow through the SQL
    gate, and the partitioned output survives with rows."""
    monkeypatch.setenv("OUT_DIR", str(tmp_path / "cur_out"))
    job = Job.from_file("/root/repo/examples/corpus_curation.yml")
    results = run_job(spark, job)
    assert all(r.status == "success" for r in results)
    out = spark.read.parquet(str(tmp_path / "cur_out"))
    n_in = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert 0 < out.count() <= n_in
    assert {"dup_line_frac", "top_2gram_char_frac"} <= set(out.columns)
    # the gate's thresholds actually hold in the output
    import pyspark.sql.functions as F

    assert out.filter(
        (F.col("dup_line_frac") > 0.3) | (F.col("top_2gram_char_frac") > 0.5)
    ).count() == 0
    # the CCNet split dropped the tail bucket and kept the scores
    assert {"ppl_bucket", "ppl_avg_nll"} <= set(out.columns)
    assert out.filter(F.col("ppl_bucket") == "tail").count() == 0
    assert set(
        r.ppl_bucket for r in out.select("ppl_bucket").distinct().collect()
    ) <= {"head", "middle"}


def test_example_llm_prep_manifest(spark, tmp_path, monkeypatch):
    """The shipped example manifest runs end-to-end and its partitioned
    output matches the oracle-computable dedup semantics."""
    monkeypatch.setenv("OUT_DIR", str(tmp_path / "prep_out"))
    job = Job.from_file("/root/repo/examples/llm_prep.yml")
    results = run_job(spark, job)
    assert all(r.status == "success" for r in results)
    out = spark.read.parquet(str(tmp_path / "prep_out"))
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    import pyspark.sql.functions as F

    expected = (
        docs.filter(F.col("n_chars") >= 50)
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .count()
    )
    # near-dedup (jaccard ≥ 0.9) may remove a few more than exact dedup
    n = out.count()
    assert 0 < n <= expected
    assert n >= expected * 0.8  # but never collapses the corpus
    assert "lang" in out.columns  # partition column round-trips


def test_materialize_stage_knob(spark, tmp_path):
    """MATERIALIZE=true checkpoints a stage to <data>/_stages and later
    stages read the parquet copy."""
    job = _job(
        f"""
        name: mat
        data: {tmp_path}
        commands:
          - name: src
            task: read_parquet
            env: {{PATH: {SF}/region.parquet, MATERIALIZE: "true"}}
          - name: count
            task: sql
            env: {{QUERY: "SELECT count(*) AS n FROM src"}}
        """
    )
    results = run_job(spark, job)
    assert results[-1].output.collect()[0].n == 5
    assert (tmp_path / "_stages" / "src").exists()


def test_resume_from_materialized_stage(spark, tmp_path):
    """resume=True restores an existing MATERIALIZE checkpoint instead
    of recomputing the stage."""
    reg = BUILTINS.copy()
    calls = []

    @task("counted_src", env={"MATERIALIZE": {"type": "string", "required": False}}, registry=reg)
    def counted_src(ctx):
        calls.append(1)
        return ctx.spark.read.parquet(f"{SF}/region.parquet")

    yaml_text = f"""
        name: resume
        data: {tmp_path}
        commands:
          - {{name: src, task: counted_src, env: {{MATERIALIZE: "true"}}}}
          - {{name: n, task: sql, env: {{QUERY: "SELECT count(*) AS n FROM src"}}}}
        """
    r1 = run_job(spark, _job(yaml_text), registry=reg)
    assert [x.status for x in r1] == ["success", "success"]
    assert calls == [1]
    r2 = run_job(spark, _job(yaml_text), registry=reg, resume=True)
    assert [x.status for x in r2] == ["resumed", "success"]
    assert calls == [1]  # stage function not re-invoked
    assert r2[-1].output.collect()[0].n == 5


def test_save_and_read_table_tasks(spark, tmp_path):
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql("DROP TABLE IF EXISTS xetl_t1")
    shutil.rmtree(f"{wh}/xetl_t1", ignore_errors=True)
    job = _job(
        f"""
        name: tbl
        commands:
          - {{name: src, task: read_parquet, env: {{PATH: {SF}/nation.parquet}}}}
          - {{name: saved, task: save_table, env: {{INPUT: src, TABLE: xetl_t1,
                BUCKETS: 4, BUCKET_BY: n_nationkey}}}}
          - {{name: back, task: read_table, env: {{TABLE: xetl_t1}}}}
        """
    )
    results = run_job(spark, job)
    assert results[-1].output.count() == 25


def test_near_dedup_task(spark, tmp_path):
    """Declarative near-dedup stage: planted near-duplicates collapse to
    one representative."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, base) for i in range(3)] + [
        (10, base.replace("quick", "slow")),
        (20, "an entirely different document about benchmarks and engines"),
    ]
    src = tmp_path / "docs"
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(src))
    job = _job(
        f"""
        name: nd
        commands:
          - {{name: docs, task: read_parquet, env: {{PATH: {src}}}}}
          - {{name: deduped, task: near_dedup, env: {{THRESHOLD: 0.5}}}}
        """
    )
    results = run_job(spark, job)
    kept = sorted(r.doc_id for r in results[-1].output.collect())
    assert kept == [0, 20]  # 0,1,2,10 collapse to representative 0


def test_line_dedup_task(spark, tmp_path):
    """Declarative line-dedup stage: a line shared across docs survives
    only in the earliest doc, rewritten text replaces the text column,
    and fully-duplicated docs are dropped (DROP_EMPTY default)."""
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta epsilon zeta"),   # first line dups doc 1
        (3, "alpha beta gamma delta"),    # entirely duplicated
    ]
    src = tmp_path / "docs"
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(src))
    job = _job(
        f"""
        name: ld
        commands:
          - {{name: docs, task: read_parquet, env: {{PATH: {src}}}}}
          - {{name: clean, task: line_dedup, env: {{LINE_TOKENS: 2}}}}
        """
    )
    results = run_job(spark, job)
    got = {r.doc_id: (r.text, r.kept_lines) for r in results[-1].output.collect()}
    assert got == {1: ("alpha beta gamma delta", 2), 2: ("epsilon zeta", 1)}


def test_stage_dependencies_default_is_sequential(spark):
    """Without DEPENDS_ON, the edge set reproduces the reference's
    strictly-sequential chain (job.py:203-207)."""
    from xetl_spark.plans.runner import _prepare, stage_dependencies

    job = _job(
        f"""
        name: seq
        env: {{SF_DIR: {SF}}}
        commands:
          - {{name: a, task: read_parquet, env: {{PATH: "${{SF_DIR}}/region.parquet"}}}}
          - {{name: b, task: read_parquet, env: {{PATH: "${{SF_DIR}}/nation.parquet"}}}}
          - {{name: c, task: sql, env: {{QUERY: "SELECT * FROM a"}}}}
        """
    )
    plan = _prepare(job, None, None)
    assert stage_dependencies(job, plan) == {0: set(), 1: {0}, 2: {1}}


def test_stage_dependencies_sources(spark):
    """Edges come from placeholder refs, INPUT-naming, and DEPENDS_ON;
    DEPENDS_ON='' makes a stage a root."""
    from xetl_spark.plans.runner import _prepare, stage_dependencies

    job = _job(
        f"""
        name: dag
        env: {{SF_DIR: {SF}}}
        commands:
          - {{name: a, task: read_parquet, env: {{PATH: "${{SF_DIR}}/region.parquet"}}}}
          - {{name: b, task: read_parquet,
              env: {{PATH: "${{SF_DIR}}/nation.parquet", DEPENDS_ON: ""}}}}
          - {{name: c, task: sql,
              env: {{QUERY: "SELECT * FROM a", DEPENDS_ON: "a"}}}}
          - {{name: d, task: limit, env: {{INPUT: b, N: 5, DEPENDS_ON: ""}}}}
        """
    )
    plan = _prepare(job, None, None)
    deps = stage_dependencies(job, plan)
    assert deps[0] == set()
    assert deps[1] == set()  # explicit root
    assert deps[2] == {0}  # DEPENDS_ON: a
    assert deps[3] == {1}  # INPUT: b names stage b even with empty DEPENDS_ON


def test_parallel_run_matches_sequential(spark, tmp_path):
    """A diamond DAG (two independent reads feeding a join) produces the
    same result with four workers as with one."""
    out = tmp_path / "p_out"
    manifest = f"""
        name: diamond
        data: {tmp_path}
        env: {{SF_DIR: {SF}}}
        commands:
          - {{name: orders, task: read_parquet,
              env: {{PATH: "${{SF_DIR}}/orders.parquet", DEPENDS_ON: ""}}}}
          - {{name: customer, task: read_parquet,
              env: {{PATH: "${{SF_DIR}}/customer.parquet", DEPENDS_ON: ""}}}}
          - name: joined
            task: sql
            env:
              DEPENDS_ON: "orders,customer"
              QUERY: >
                SELECT c_mktsegment, count(*) AS n
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY c_mktsegment
          - {{name: sink, task: write_parquet, env: {{INPUT: joined, PATH: {out}}}}}
        """
    seq = run_job(spark, _job(manifest))
    n_seq = sorted((r.c_mktsegment, r.n) for r in seq[2].output.collect())
    par = run_job(spark, _job(manifest), max_workers=4)
    assert [r.status for r in par] == ["success"] * 4
    n_par = sorted((r.c_mktsegment, r.n) for r in par[2].output.collect())
    assert n_par == n_seq


def test_parallel_skip_chain_matches_sequential(spark, tmp_path):
    """`previous` resolves THROUGH a skip:true stage identically for
    one and four workers: the implicit chain read → (skipped filter) → agg
    must aggregate the read's output, not a None previous."""
    manifest = f"""
        name: skipchain
        data: {tmp_path}
        env: {{SF_DIR: {SF}}}
        commands:
          - {{name: src, task: read_parquet,
              env: {{PATH: "${{SF_DIR}}/nation.parquet"}}}}
          - {{name: flt, task: sql, skip: true,
              env: {{QUERY: "SELECT * FROM src WHERE n_regionkey = 0"}}}}
          - {{name: agg, task: sql,
              env: {{QUERY: "SELECT count(*) AS n FROM src"}}}}
        """
    seq = run_job(spark, _job(manifest))
    par = run_job(spark, _job(manifest), max_workers=4)
    assert [r.status for r in seq] == ["success", "skipped", "success"]
    assert [r.status for r in par] == ["success", "skipped", "success"]
    assert par[2].output.collect() == seq[2].output.collect()


def test_parallel_previous_through_skip(spark, tmp_path):
    """A stage consuming ctx.previous (no named view) after a skipped
    predecessor sees the last non-skipped output for any worker count."""
    from xetl_spark.plans.registry import task

    reg = BUILTINS.copy()

    @task(registry=reg, name="take3")
    def take3(ctx):
        assert ctx.previous is not None, "previous lost across skip"
        return ctx.previous.limit(3)

    manifest = f"""
        name: prevskip
        data: {tmp_path}
        env: {{SF_DIR: {SF}}}
        commands:
          - {{name: src, task: read_parquet,
              env: {{PATH: "${{SF_DIR}}/region.parquet"}}}}
          - {{name: noop, task: take3, skip: true}}
          - {{name: head, task: take3}}
        """
    seq = run_job(spark, _job(manifest), registry=reg)
    par = run_job(spark, _job(manifest), max_workers=4, registry=reg)
    assert seq[2].output.count() == 3
    assert par[2].output.count() == 3


def test_parallel_failure_fails_fast(spark):
    from xetl_spark.plans.registry import task

    reg = BUILTINS.copy()

    @task(registry=reg, name="boom")
    def boom(ctx):
        raise RuntimeError("kapow")

    job = _job(
        """
        name: pfail
        commands:
          - {name: x, task: boom, env: {DEPENDS_ON: ""}}
          - {name: y, task: boom, env: {DEPENDS_ON: "x"}}
        """
    )
    with pytest.raises(TaskFailure):
        run_job(spark, job, max_workers=4, registry=reg)


def test_one_worker_failure_runs_nothing_after(spark):
    """With one worker a failing stage aborts the job before any later
    stage starts, even one that does not depend on it."""
    reg = BUILTINS.copy()
    calls = []

    @task(registry=reg, name="boom")
    def boom(ctx):
        raise RuntimeError("kapow")

    @task(registry=reg, name="count_calls")
    def count_calls(ctx):
        calls.append(ctx.command.name)

    job = _job(
        """
        name: ffail
        commands:
          - {name: x, task: boom, env: {DEPENDS_ON: ""}}
          - {name: y, task: count_calls, env: {DEPENDS_ON: ""}}
        """
    )
    with pytest.raises(TaskFailure):
        run_job(spark, job, max_workers=1, registry=reg)
    assert calls == []


def test_depends_on_previous_same_for_any_worker_count(spark, tmp_path):
    """`previous` under an explicit DEPENDS_ON is the latest dependency's
    output whatever the worker count: c reads a's 5 region rows, not
    the 25 nation rows of the stage just before it."""
    manifest = f"""
        name: prevdeps
        data: {tmp_path}
        env: {{SF_DIR: {SF}}}
        commands:
          - {{name: a, task: read_parquet,
              env: {{PATH: "${{SF_DIR}}/region.parquet"}}}}
          - {{name: b, task: read_parquet,
              env: {{PATH: "${{SF_DIR}}/nation.parquet", DEPENDS_ON: ""}}}}
          - {{name: c, task: limit, env: {{N: 100, DEPENDS_ON: a}}}}
        """
    for workers in (1, 4):
        results = run_job(spark, _job(manifest), max_workers=workers)
        assert results[2].output.count() == 5, workers


@pytest.mark.parametrize("workers", [1, 4])
def test_stages_inherit_caller_job_tags(spark, tmp_path, workers):
    """Stage jobs carry the caller's Spark local properties: a job tag
    set around run_job (here by profile()) attributes them, also when
    they run on scheduler threads."""
    from xetl_spark.profile import profile

    job = _job(
        f"""
        name: tagged
        data: {tmp_path}
        commands:
          - {{name: src, task: read_parquet, env: {{PATH: {SF}/region.parquet}}}}
          - {{name: sink, task: write_parquet,
              env: {{INPUT: src, PATH: {tmp_path}/tagged_out}}}}
        """
    )
    p = profile(spark, lambda: run_job(spark, job, max_workers=workers))
    assert [r.status for r in p.result] == ["success"] * 2
    assert len(p.stages) >= 1


@contextlib.contextmanager
def _runner_log(lines: list[str]):
    """Capture the runner's records, formatted in the "moderate" style
    on the thread that logs them."""
    from xetl_spark.plans.logctx import NestedLogFormatter

    class Capture(logging.Handler):
        def emit(self, record):
            lines.append(self.format(record))

    handler = Capture()
    handler.setFormatter(NestedLogFormatter("moderate"))
    logger = logging.getLogger("xetl_spark.runner")
    level = logger.level
    logger.setLevel(logging.INFO)
    logger.addHandler(handler)
    try:
        yield
    finally:
        logger.removeHandler(handler)
        logger.setLevel(level)


def test_concurrent_stages_keep_their_log_scopes(spark, tmp_path, monkeypatch):
    """Stages running at once each log inside their own STAGE/TASK
    scopes: every stage has its header and Return-code footer, every
    "Running command" body line carries the TASK timestamp, and the
    job banner and Done line stay at JOB level."""
    monkeypatch.setenv("OUT_DIR", str(tmp_path / "par_out"))
    example = Path(__file__).resolve().parents[1] / "examples" / "parallel_report.yml"
    lines: list[str] = []
    with _runner_log(lines):
        results = run_job(spark, Job.from_file(str(example)), max_workers=4)
    assert [r.status for r in results] == ["success"] * 5

    names = [r.command.name for r in results]
    running = [ln for ln in lines if "Running command" in ln]
    assert len(running) == 5
    for ln in running:
        assert re.match(r"\d{4}-\d\d-\d\d \d\d:\d\d:\d\d\.\d{3}  Running command ", ln), ln
    for i, name in enumerate(names, 1):
        assert f"━╸Executing command: {name} ({i} of 5)╺━" in lines
    assert lines.count("═╴Return code: 0╶═") == 5
    banner = lines.index("─╴Executing job: parallel-report╶─")
    assert all("Executing command" not in ln for ln in lines[:banner])
    assert lines[-1] == "Done! \\o/"


def test_job_level_line_while_a_stage_runs(spark):
    """The scheduling thread logs at JOB level while a stage is inside
    its TASK scope: stage a finishes, skipped stage s (after a) is
    logged, and only then does concurrent stage b leave its task."""
    reg = BUILTINS.copy()
    both_in_task = threading.Barrier(2, timeout=60)
    lines: list[str] = []

    @task(registry=reg, name="hold")
    def hold(ctx):
        both_in_task.wait()
        if ctx.command.name == "b":
            deadline = time.time() + 60
            while "Skipping command s (skip=true)" not in lines and time.time() < deadline:
                time.sleep(0.01)
        return ctx.spark.range(1)

    job = _job(
        """
        name: holdjob
        commands:
          - {name: a, task: hold, env: {DEPENDS_ON: ""}}
          - {name: b, task: hold, env: {DEPENDS_ON: ""}}
          - {name: s, task: hold, skip: true, env: {DEPENDS_ON: a}}
        """
    )
    with _runner_log(lines):
        results = run_job(spark, job, max_workers=2, registry=reg)
    assert [r.status for r in results] == ["success", "success", "skipped"]
    assert "Skipping command s (skip=true)" in lines, lines
    assert lines.count("═╴Return code: 0╶═") == 2


def test_parallel_bad_depends_on_rejected(spark):
    from xetl_spark.plans.runner import _prepare, stage_dependencies

    job = _job(
        """
        name: bad
        commands:
          - {name: a, task: sql, env: {QUERY: "SELECT 1 AS x", DEPENDS_ON: "zzz"}}
        """
    )
    plan = _prepare(job, None, None)
    with pytest.raises(ValidationError):
        stage_dependencies(job, plan)


def test_run_report(spark, tmp_path):
    """Report carries per-stage status/wall and rows/bytes for
    materialized stages."""
    from xetl_spark.plans.runner import run_report

    job = _job(
        f"""
        name: rpt
        data: {tmp_path}
        env: {{SF_DIR: {SF}}}
        commands:
          - {{name: r, task: read_parquet,
              env: {{PATH: "${{SF_DIR}}/region.parquet", MATERIALIZE: "true"}}}}
          - {{name: top, task: sql, env: {{QUERY: "SELECT r_name FROM r"}}}}
        """
    )
    results = run_job(spark, job)
    rep = run_report(results, job)
    assert rep["job"] == "rpt"
    assert [s["name"] for s in rep["stages"]] == ["r", "top"]
    mat = rep["stages"][0]
    assert mat["rows"] == 5 and mat["bytes"] > 0 and mat["output_path"]
    assert rep["stages"][1]["schema"] == "struct<r_name:string>"
    import json

    json.dumps(rep)  # JSON-serializable end to end


def test_write_task_reports_rows_via_observation(spark, tmp_path):
    """write_parquet rides its write action with an Observation: the
    run report gets the row count with no extra scan."""
    from xetl_spark.plans.runner import run_report

    job = _job(
        f"""
        name: obs
        data: {tmp_path}
        env: {{SF_DIR: {SF}}}
        commands:
          - {{name: r, task: read_parquet, env: {{PATH: "${{SF_DIR}}/nation.parquet"}}}}
          - {{name: w, task: write_parquet, env: {{PATH: {tmp_path}/obs_out}}}}
        """
    )
    results = run_job(spark, job)
    assert results[1].rows == 25  # nation has 25 rows; no MATERIALIZE needed
    rep = run_report(results, job)
    assert rep["stages"][1]["rows"] == 25


def test_example_parallel_report_manifest(spark, tmp_path, monkeypatch):
    """The shipped parallel-DAG example runs under the concurrent
    scheduler and produces the expected star-join revenue rows."""
    monkeypatch.setenv("OUT_DIR", str(tmp_path / "par_out"))
    job = Job.from_file("/root/repo/examples/parallel_report.yml")
    results = run_job(spark, job, max_workers=4)
    assert [r.status for r in results] == ["success"] * 5
    out = spark.read.parquet(str(tmp_path / "par_out"))
    assert out.count() == 25  # one row per nation
    assert results[-1].rows == 25  # Observation-reported sink rows


def test_retry_policy_recovers_and_counts_attempts(spark, tmp_path):
    """A stage with RETRIES succeeds once the transient failure clears;
    attempts land in the StageResult and run report. A stage without
    RETRIES fails immediately."""
    from xetl_spark.plans.runner import run_report

    reg = TaskRegistry()
    calls = {"n": 0}

    @task(registry=reg, name="flaky")
    def flaky(ctx):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return ctx.spark.range(4)

    job = _job(
        f"""
        name: retry
        data: {tmp_path}
        commands:
          - {{name: f, task: flaky,
              env: {{RETRIES: 3, RETRY_BACKOFF_S: 0}}}}
        """
    )
    results = run_job(spark, job, registry=reg)
    assert results[0].status == "success"
    assert results[0].attempts == 3
    assert run_report(results, job)["stages"][0]["attempts"] == 3

    calls["n"] = -10  # needs 13 calls to clear; 1+2 attempts won't
    job2 = _job(
        f"""
        name: retry2
        data: {tmp_path}
        commands:
          - {{name: f, task: flaky, env: {{RETRIES: 2}}}}
        """
    )
    with pytest.raises(TaskFailure):
        run_job(spark, job2, registry=reg)
    assert calls["n"] == -7  # exactly 3 attempts were made


def test_write_run_report_sink(spark, tmp_path):
    """Run reports append to a queryable parquet history table."""
    from xetl_spark.plans.runner import run_report, write_run_report

    job = _job(
        f"""
        name: hist
        data: {tmp_path}
        env: {{SF_DIR: {SF}}}
        commands:
          - {{name: r, task: read_parquet, env: {{PATH: "${{SF_DIR}}/region.parquet"}}}}
          - {{name: top, task: sql, env: {{QUERY: "SELECT r_name FROM r"}}}}
        """
    )
    dest = str(tmp_path / "run_history")
    rep = run_report(run_job(spark, job), job)
    write_run_report(spark, rep, dest)
    hist = write_run_report(spark, rep, dest)  # second run appends
    assert hist.count() == 4  # 2 stages x 2 runs
    assert set(hist.columns) >= {"job", "stage", "status", "wall_s", "attempts"}
    assert hist.filter("job = 'hist' AND status = 'success'").count() == 4


def test_compact_and_resample_tasks(spark, tmp_path):
    """compact (z-order) and resample builtin tasks drive the
    maintenance + time-series operators from a manifest; the events
    table (timestamp[us] ts) is readable through the plain
    read_parquet task."""
    import glob

    frag = str(tmp_path / "frag")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    orders.repartition(12).write.parquet(frag)
    job = _job(
        f"""
        name: maint
        data: {tmp_path}
        commands:
          - name: compacted
            task: compact
            env:
              PATH: {frag}
              TARGET_FILE_BYTES: 262144
              ZORDER_BY: "o_orderkey,o_custkey"
          - name: ev
            task: read_parquet
            env: {{PATH: {SF}/events.parquet, DEPENDS_ON: ""}}
          - name: reg
            task: sql
            env: {{QUERY: "SELECT user_id, value, ts FROM ev"}}
          - name: grid
            task: resample
            env: {{KEY_COL: user_id, VALUE_COL: value}}
          - name: smooth
            task: resample
            env: {{INPUT: reg, KEY_COL: user_id, VALUE_COL: value, METHOD: linear}}
        """
    )
    res = run_job(spark, job)
    assert [r.status for r in res] == ["success"] * 5
    assert len(glob.glob(f"{frag}/part-*.parquet")) < 12  # fewer, larger files
    grid = res[3].output
    assert grid.columns == ["key", "bucket", "v", "v_filled"]
    # forward fill leaves no NULL v_filled after each key's first bucket
    assert grid.filter("v_filled IS NULL").count() == 0
    smooth = res[4].output
    assert smooth.columns == ["key", "bucket", "v", "v_interp"]
    # linear interpolation covers every grid row (edges take a side)
    assert smooth.filter("v_interp IS NULL").count() == 0


@pytest.mark.parametrize("seed", [3, 17, 42, 101])
def test_parallel_scheduler_parity_random_dags(spark, seed):
    """Property: for ANY dag shape — random DEPENDS_ON edges, random
    skip flags, implicit chains mixed with explicit deps — four workers
    produce the same per-stage statuses and the same final outputs as
    one worker (job order). (Regression net for the skip-chain
    class of bugs: previous resolution through output-less stages.)"""
    import random

    rng = random.Random(seed)
    n = 8
    lines = [
        "name: fuzzdag",
        f"env: {{SF_DIR: {SF}}}",
        "commands:",
        "  - {name: s0, task: read_parquet,"
        ' env: {PATH: "${SF_DIR}/nation.parquet", DEPENDS_ON: ""}}',
    ]
    skipped = {0: False}
    for i in range(1, n):
        skip = rng.random() < 0.3
        skipped[i] = skip
        live = [j for j in range(i) if not skipped[j]]
        deps = sorted(rng.sample(range(i), k=rng.randint(0, min(2, i))))
        dep_env = (
            ', DEPENDS_ON: "' + ",".join(f"s{d}" for d in deps) + '"'
            if deps
            else ""
        )
        # query a view that EXISTS in both modes: the nearest live
        # (non-skipped) stage — skipped stages never register a view.
        # Dep edges may still point at skipped stages, which is exactly
        # the previous-through-skip resolution under test.
        live_deps = [d for d in deps if not skipped[d]]
        src_idx = live_deps[0] if live_deps else live[-1]
        src = f"s{src_idx}"
        if deps and src_idx not in deps:
            # explicit-deps mode must also order after the view it
            # queries, or the parallel schedule could legitimately run
            # this stage before src registers its temp view
            deps = sorted(set(deps + [src_idx]))
            dep_env = ', DEPENDS_ON: "' + ",".join(f"s{d}" for d in deps) + '"'
        skip_part = ", skip: true" if skip else ""
        lines.append(
            f"  - {{name: s{i}, task: sql{skip_part},"
            f' env: {{QUERY: "SELECT count(*) AS n_{i} FROM {src}"{dep_env}}}}}'
        )
    manifest = "\n".join(lines)

    def statuses_and_rows(results):
        out = []
        for r in results:
            rows = None
            if r.output is not None and r.status == "success":
                rows = sorted(map(tuple, r.output.collect()))
            out.append((r.command.name, r.status, rows))
        return out

    seq = statuses_and_rows(run_job(spark, _job(manifest), max_workers=1))
    par = statuses_and_rows(run_job(spark, _job(manifest), max_workers=4))
    assert seq == par


def test_example_llm_prep_manifest(spark, monkeypatch, tmp_path):
    """The shipped LLM-prep example (scan → gate → redact → line-dedup
    → dedup → near-dedup → mix → pack → chunk → summary → sink) runs
    green end to end on sf0.001 and its sink round-trips."""
    monkeypatch.setenv("OUT_DIR", str(tmp_path / "llm_out"))
    job = Job.from_file("/root/repo/examples/llm_prep.yml")
    results = run_job(spark, job)
    assert all(r.status == "success" for r in results), [
        (r.command.name, r.status) for r in results
    ]
    sunk = spark.read.parquet(str(tmp_path / "llm_out"))
    assert sunk.count() > 0
    assert "lang" in sunk.columns  # partitioned-by-language sink


def test_anomaly_task_flags_planted_spike(spark, tmp_path):
    """The declarative anomaly stage flags a planted 100x spike after a
    stable history and leaves the stable buckets unflagged."""
    rows = [(1, f"2024-01-01 {h:02d}:00:00", 10.0) for h in range(10)]
    rows.append((1, "2024-01-01 10:00:00", 1000.0))  # spike
    src = tmp_path / "series"
    df = spark.createDataFrame(rows, "user_id int, ts string, value double")
    df.withColumn("ts", df.ts.cast("timestamp")).write.parquet(str(src))
    job = _job(
        f"""
        name: anom
        commands:
          - {{name: series, task: read_parquet, env: {{PATH: {src}}}}}
          - {{name: flagged, task: anomaly,
              env: {{KEY_COL: user_id, VALUE_COL: value, ONLY_ANOMALIES: true}}}}
        """
    )
    results = run_job(spark, job)
    flagged = results[-1].output.collect()
    assert [str(r.bucket) for r in flagged] == ["2024-01-01 10:00:00"]
    # constant history => zero variance => z undefined but flagged
    assert flagged[0].v == 1000.0 and flagged[0].z is None


def test_example_timeseries_watch_manifest(spark, monkeypatch, tmp_path):
    """The shipped time-series observability example (resample-linear →
    anomaly → expect gate → filter → avro sink) runs green and its
    Avro archive reads back through xetl_avro."""
    monkeypatch.setenv("OUT_DIR", str(tmp_path / "ts_out"))
    job = Job.from_file("/root/repo/examples/timeseries_watch.yml")
    results = run_job(spark, job)
    assert all(r.status == "success" for r in results), [
        (r.command.name, r.status) for r in results
    ]
    from xetl_spark.sources.avro import register_avro_datasource

    register_avro_datasource(spark)
    back = (
        spark.read.format("xetl_avro")
        .option("path", str(tmp_path / "ts_out"))
        .load()
    )
    assert back.count() > 0
    assert {"key", "v", "z", "is_anomaly"} <= set(back.columns)


def test_profile_task(spark):
    """Declarative profile stage: one row per column with
    rows/nulls/distinct/min/max."""
    job = _job(
        f"""
        name: prof
        commands:
          - {{name: cust, task: read_parquet, env: {{PATH: {SF}/customer.parquet}}}}
          - {{name: stats, task: profile, env: {{COLUMNS: "c_custkey,c_mktsegment"}}}}
        """
    )
    results = run_job(spark, job)
    prof = {r.column: r for r in results[-1].output.collect()}
    assert set(prof) == {"c_custkey", "c_mktsegment"}
    assert prof["c_custkey"].n_nulls == 0
    assert prof["c_mktsegment"].min_str == "AUTOMOBILE"


def test_ivm_refresh_task_incremental_runs(spark, tmp_path):
    """ivm_refresh maintains a persisted rollup across two job runs —
    snapshot on first run, O(|batch|) fold (with retractions and
    min/max) on the second — and the merged view matches a full
    recompute of the surviving rows."""
    state = tmp_path / "state"
    base_job = _job(
        f"""
        name: rollup-init
        data: {tmp_path}
        env: {{SF_DIR: {SF}}}
        commands:
          - name: base
            task: sql
            env:
              QUERY: >
                SELECT event_type, value FROM parquet.`${{SF_DIR}}/events.parquet`
                WHERE event_id % 4 != 3
          - name: rollup
            task: ivm_refresh
            env:
              INPUT: base
              STATE_PATH: {state}
              KEYS: event_type
              SUM_COLS: value
              MINMAX_COLS: value
              K: 2
        """
    )
    results = run_job(spark, base_job)
    assert [r.status for r in results] == ["success"] * 2

    batch_job = _job(
        f"""
        name: rollup-delta
        data: {tmp_path}
        env: {{SF_DIR: {SF}}}
        commands:
          - name: batch
            task: sql
            env:
              QUERY: >
                SELECT event_type, value,
                       CASE WHEN event_id % 4 = 3 THEN 1 ELSE -1 END AS w
                FROM parquet.`${{SF_DIR}}/events.parquet`
                WHERE event_id % 4 IN (1, 3)
          - name: live
            task: sql
            env:
              QUERY: >
                SELECT event_type, value FROM parquet.`${{SF_DIR}}/events.parquet`
                WHERE event_id % 4 != 1
          - name: rollup
            task: ivm_refresh
            env:
              INPUT: batch
              BASE: live
              STATE_PATH: {state}
              KEYS: event_type
              SUM_COLS: value
              MINMAX_COLS: value
              WEIGHT_COL: w
              K: 2
        """
    )
    run_job(spark, batch_job)
    from xetl_spark.operators import ivm

    gen = open(f"{state}/CURRENT").read().strip()
    assert gen == "gen-000001"  # second run advanced the generation
    view = ivm.ivm_read(spark.read.parquet(f"{state}/{gen}/sums"), ["value"]).join(
        ivm.minmax_read(spark.read.parquet(f"{state}/{gen}/minmax"), ["value"]).drop("n"),
        "event_type",
    )
    got = {
        r.event_type: (r.n, round(r.sum_value, 4), round(r.min_value, 4),
                       round(r.max_value, 4), r.dirty_value)
        for r in view.collect()
    }
    want_df = spark.sql(
        f"""SELECT event_type, count(*) n, sum(value) s, min(value) lo, max(value) hi
            FROM parquet.`{SF}/events.parquet` WHERE event_id % 4 != 1
            GROUP BY event_type"""
    )
    want = {
        r.event_type: (r.n, round(r.s, 4), round(r.lo, 4), round(r.hi, 4), False)
        for r in want_df.collect()
    }
    assert got == want


def test_text_signals_task(spark, tmp_path):
    """text_signals attaches the sig_* gate columns + script counts and
    rejects unknown SIGNALS with the valid list."""
    job = _job(
        f"""
        name: signals
        data: {tmp_path}
        env:
          SF_DIR: {SF}
        commands:
          - name: docs
            task: read_parquet
            env: {{PATH: "${{SF_DIR}}/documents.parquet"}}
          - name: sig
            task: text_signals
            env: {{INPUT: docs}}
          - name: gated
            task: sql
            env:
              QUERY: >
                SELECT doc_id, sig_quality, sig_lang, sig_tokens,
                       sig_flesch, sig_latin_chars, sig_entropy
                FROM sig
                WHERE sig_entropy > 0 AND sig_tokens >= 1
        """
    )
    results = run_job(spark, job)
    assert [r.status for r in results] == ["success"] * 3
    out = results[-1].output
    assert out.count() > 0
    row = out.first()
    assert row.sig_entropy > 0 and row.sig_latin_chars >= 0

    # unknown signal name: helpful error listing the valid set
    # (direct task call — the run_job plumbing is covered above)
    from xetl_spark.plans.registry import BUILTINS

    _spec, fn = BUILTINS.get("text_signals")

    class _Ctx:
        env = {
            "COLUMN": "text",
            "ID_COLUMN": "doc_id",
            "SIGNALS": "quality,bogus",
        }

        def input_df(self):
            return spark.read.parquet(f"{SF}/documents.parquet")

    import pytest as _pytest

    with _pytest.raises(ValueError, match="bogus"):
        fn(_Ctx())

    # script counts expand under the sig_ prefix too — a corpus that
    # already carries a latin_chars column must not be clobbered or
    # made ambiguous
    class _Ctx2:
        env = {
            "COLUMN": "text",
            "ID_COLUMN": "doc_id",
            "SIGNALS": "script",
        }

        def input_df(self):
            return spark.createDataFrame(
                [(1, "Hello", 999)],
                "doc_id long, text string, latin_chars long",
            )

    out = fn(_Ctx2())
    row = out.first()
    assert row.latin_chars == 999  # corpus column untouched
    assert row.sig_latin_chars == 5


def test_span_dedup_task(spark, tmp_path):
    """span_dedup rewrites text in place: exact mode cuts a planted
    misaligned duplicate passage that stride mode cannot see."""
    from xetl_spark.plans.registry import BUILTINS

    _spec, fn = BUILTINS.get("span_dedup")
    own = lambda d, m: [f"t{d}x{j}" for j in range(m)]
    P = [f"p{j}" for j in range(12)]
    rows = [
        (0, " ".join(own(0, 10) + P + own(0, 24)[10:]), "a"),
        (1, " ".join(own(1, 3) + P + own(1, 24)[3:]), "b"),  # misaligned
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, meta string")

    def ctx(mode):
        class _Ctx:
            env = {
                "TEXT_COL": "text",
                "ID_COL": "doc_id",
                "MODE": mode,
                "K_TOKENS": 8,
                "STRIDE": 4,
                "DROP_EMPTY": True,
            }

            def input_df(self):
                return df

        return _Ctx()

    exact = {r.doc_id: r for r in fn(ctx("exact")).collect()}
    assert exact[0].kept_tokens == 36  # first occurrence intact
    assert exact[1].kept_tokens == 24  # passage cut exactly
    assert exact[1].text == " ".join(own(1, 24))
    assert exact[1].meta == "b"  # non-text columns survive the join

    stride = {r.doc_id: r for r in fn(ctx("stride")).collect()}
    assert stride[1].kept_tokens == 36  # misaligned: stride misses it

    import pytest as _pytest

    with _pytest.raises(ValueError, match="MODE"):
        fn(ctx("bogus"))


def test_span_dedup_task_chained_passes(spark):
    """Chaining a stride pass into an exact pass (documented use) must
    not produce a duplicate kept_tokens column: the second pass drops
    the first pass's column and every output column stays unambiguous.
    Same contract for chained line_dedup (kept_lines)."""
    from xetl_spark.plans.registry import BUILTINS

    _spec, fn = BUILTINS.get("span_dedup")
    own = lambda d, m: [f"t{d}x{j}" for j in range(m)]
    P = [f"p{j}" for j in range(12)]
    rows = [
        (0, " ".join(own(0, 10) + P + own(0, 24)[10:]), "a"),
        (1, " ".join(own(1, 3) + P + own(1, 24)[3:]), "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, meta string")

    def ctx(mode, src):
        class _Ctx:
            env = {
                "TEXT_COL": "text",
                "ID_COL": "doc_id",
                "MODE": mode,
                "K_TOKENS": 8,
                "STRIDE": 4,
                "DROP_EMPTY": True,
            }

            def input_df(self):
                return src

        return _Ctx()

    first = fn(ctx("stride", df))
    second = fn(ctx("exact", first))
    assert second.columns.count("kept_tokens") == 1
    got = {r.doc_id: r for r in second.collect()}  # ambiguity would throw
    assert got[1].kept_tokens == 24  # exact pass still cuts the passage
    assert got[1].meta == "b"

    _spec, line_fn = BUILTINS.get("line_dedup")

    def lctx(src):
        class _Ctx:
            env = {
                "TEXT_COL": "text",
                "ID_COL": "doc_id",
                "LINE_TOKENS": 4,
                "DROP_EMPTY": True,
            }

            def input_df(self):
                return src

        return _Ctx()

    twice = line_fn(lctx(line_fn(lctx(df))))
    assert twice.columns.count("kept_lines") == 1
    twice.collect()


def test_example_incremental_ingest_two_runs(spark, tmp_path, monkeypatch):
    """examples/incremental_ingest.yml: the first run seeds the digest
    and signature stores and writes the shard's unique rows; the
    SECOND run of the same shard is screened entirely by the stores
    and writes nothing new."""
    monkeypatch.setenv("STORE_DIR", str(tmp_path / "stores"))
    monkeypatch.setenv("OUT_DIR", str(tmp_path / "out1"))
    job = Job.from_file("/root/repo/examples/incremental_ingest.yml")
    results = run_job(spark, job)
    assert all(r.status == "success" for r in results)
    n1 = spark.read.parquet(str(tmp_path / "out1")).count()
    n_in = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert 0 < n1 <= n_in

    monkeypatch.setenv("OUT_DIR", str(tmp_path / "out2"))
    job2 = Job.from_file("/root/repo/examples/incremental_ingest.yml")
    results2 = run_job(spark, job2)
    assert all(r.status == "success" for r in results2)
    assert spark.read.parquet(str(tmp_path / "out2")).count() == 0

    # the stores did not double up: digests stayed at first-run size
    digests = spark.read.parquet(str(tmp_path / "stores" / "digests"))
    assert digests.count() == digests.distinct().count()


def test_incremental_dedup_task_minhash_mode(spark, tmp_path):
    """MODE=minhash drops near-duplicates of the persisted store and
    of lower-id in-batch rows; unknown MODE raises."""
    from xetl_spark.plans.registry import BUILTINS

    _spec, fn = BUILTINS.get("incremental_dedup")
    store = str(tmp_path / "sigs")
    base = "the quick brown fox jumps over the lazy dog again and again today"

    def ctx(rows, mode="minhash"):
        df = spark.createDataFrame(rows, "doc_id long, text string")

        class _Ctx:
            env = {
                "TEXT_COL": "text",
                "ID_COL": "doc_id",
                "MODE": mode,
                "THRESHOLD": 0.8,
                "STORE": store,
            }

            def input_df(self):
                return df

        return _Ctx()

    out1 = fn(ctx([(1, base), (2, base + " extra"), (3, "totally different words about spark pipelines and parquet files")]))
    assert sorted(r.doc_id for r in out1.collect()) == [1, 3]
    # second batch: near-dup of stored doc 1 + genuinely new row
    out2 = fn(ctx([(10, base + " tail"), (11, "brand new content with many unique tokens nobody has seen before")]))
    assert sorted(r.doc_id for r in out2.collect()) == [11]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="MODE"):
        fn(ctx([(99, "x y z")], mode="bogus"))


def test_semantic_dedup_task_incremental_store(spark, tmp_path):
    """semantic_dedup with STORE: first run fits centroids and seeds
    the store (in-batch dup dropped); second run drops near-dups of
    the persisted store and appends only survivors."""
    import numpy as np

    from xetl_spark.plans.registry import BUILTINS
    from xetl_spark.operators.similarity import semdedup_load_store

    _spec, fn = BUILTINS.get("semantic_dedup")
    rng = np.random.default_rng(3)
    v1, v2, v3 = (rng.standard_normal(16) for _ in range(3))

    def jit(v):
        return [float(x) for x in (v + rng.standard_normal(16) * 0.001)]

    store = str(tmp_path / "sem_store")

    def ctx(rows):
        df = spark.createDataFrame(rows, "doc_id long, embedding array<float>")

        class _Ctx:
            env = {
                "EMBEDDING_COL": "embedding",
                "ID_COL": "doc_id",
                "THRESHOLD": 0.95,
                "CLUSTERS": 2,
                "STORE": store,
            }

            def input_df(self):
                return df

        return _Ctx()

    out1 = fn(ctx([(1, jit(v1)), (2, jit(v1)), (3, jit(v2))]))
    assert sorted(r.doc_id for r in out1.collect()) == [1, 3]
    out2 = fn(ctx([(10, jit(v1)), (20, jit(v3))]))
    assert sorted(r.doc_id for r in out2.collect()) == [20]
    st, ctr = semdedup_load_store(spark, store)
    assert sorted(r.id for r in st.collect()) == [1, 3, 20]
    assert ctr.count() == 2


def test_perplexity_filter_task_keep_all_and_errors(spark):
    """KEEP=all annotates without dropping (unscored docs keep a null
    bucket); unknown buckets raise with the valid list."""
    from xetl_spark.plans.registry import BUILTINS

    _spec, fn = BUILTINS.get("perplexity_filter")
    df = spark.createDataFrame(
        [(i, "the cat sat on the mat " + "the cat " * i) for i in range(6)]
        + [(100, "single")],
        "doc_id long, text string",
    )

    def ctx(keep):
        class _Ctx:
            env = {
                "TEXT_COL": "text",
                "ID_COL": "doc_id",
                "KEEP": keep,
                "EXACT": True,
            }

            def input_df(self):
                return df

        return _Ctx()

    out = fn(ctx("all")).collect()
    assert len(out) == 7  # nothing dropped
    by_id = {r.doc_id: r for r in out}
    assert by_id[100].ppl_bucket is None  # unscored, annotated null
    assert sum(1 for r in out if r.ppl_bucket == "tail") == 2

    kept = fn(ctx("head")).collect()
    assert len(kept) == 2 and all(r.ppl_bucket == "head" for r in kept)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="bogus"):
        fn(ctx("head,bogus"))


def test_decontaminate_task(spark, tmp_path):
    """decontaminate drops corpus rows overlapping the EVAL stage in
    both modes; exact mode removes the planted verbatim copy, fuzzy
    mode removes the near-duplicate paraphrase; clean rows survive."""
    job = _job(
        f"""
        name: decon
        data: {tmp_path}
        env:
          SF_DIR: {SF}
        commands:
          - name: docs
            task: read_parquet
            env: {{PATH: "${{SF_DIR}}/documents.parquet"}}
          - name: corpus
            task: sql
            env: {{QUERY: "SELECT doc_id, text FROM docs WHERE doc_id < 450"}}
          - name: eval
            task: sql
            env: {{QUERY: "SELECT doc_id, text FROM docs WHERE doc_id >= 450"}}
          - name: exact
            task: decontaminate
            env: {{INPUT: corpus, EVAL: eval, MODE: exact}}
          - name: fuzzy
            task: decontaminate
            env: {{INPUT: corpus, EVAL: eval, MODE: fuzzy, THRESHOLD: 0.7}}
        """
    )
    results = run_job(spark, job)
    assert [r.status for r in results] == ["success"] * 5
    n_corpus = results[1].output.count()
    n_exact = results[3].output.count()
    n_fuzzy = results[4].output.count()
    # decontamination only removes rows, never adds or mutates them
    assert 0 < n_exact <= n_corpus
    assert 0 < n_fuzzy <= n_corpus
    assert results[3].output.columns == ["doc_id", "text"]

    # bad MODE: helpful error naming the valid set
    from xetl_spark.plans.registry import BUILTINS

    _spec, fn = BUILTINS.get("decontaminate")

    class _Ctx:
        env = {
            "COLUMN": "text",
            "ID_COLUMN": "doc_id",
            "MODE": "bogus",
            "INPUT": "corpus",
            "EVAL": "eval",
        }
        outputs = {
            "corpus": results[1].output,
            "eval": results[2].output,
        }
        previous = None

        def input_df(self, key="INPUT"):
            return self.outputs[str(self.env[key])]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="fuzzy or exact"):
        fn(_Ctx())


def test_perplexity_filter_auto_fit_fraction(spark, monkeypatch):
    """FIT_FRACTION=auto (the default): corpora at or under
    PPL_AUTO_FIT_TARGET docs get the exact full self-fit; beyond it
    the KN fit set is capped at ~target docs so the model exchanges
    scale with the sample, not the corpus (the CCNet deployment
    shape; SHUFFLE.md: sampled-fit scoring shuffles 2.3 MB vs
    12.9 MB full-fit at sf0.1). Explicit FIT_FRACTION=1.0 is the
    full-fit opt-in; out-of-range values raise."""
    from xetl_spark.operators import text as text_ops
    from xetl_spark.plans import builtin_tasks
    from xetl_spark.plans.registry import BUILTINS

    _spec, fn = BUILTINS.get("perplexity_filter")
    # 12 DISTINCT texts: the fit sample is a content-hash cut, and at
    # fraction 4/12 this fixture deterministically selects 3 docs (a
    # corpus of repeated texts can select zero -> the empty-fit guard)
    df = spark.createDataFrame(
        [
            (i, f"doc {i} the cat sat on the mat " + "the cat " * (i % 5))
            for i in range(12)
        ],
        "doc_id long, text string",
    )

    seen: list[float] = []
    real = text_ops.perplexity_buckets

    def spy(df_, text_col, id_col, **kw):
        seen.append(kw.get("fit_fraction"))
        return real(df_, text_col, id_col, **kw)

    monkeypatch.setattr(text_ops, "perplexity_buckets", spy)

    def ctx(**env):
        base = {"TEXT_COL": "text", "ID_COL": "doc_id", "KEEP": "all", "EXACT": True}
        base.update(env)

        class _Ctx:
            def input_df(self):
                return df

        c = _Ctx()
        c.env = base
        return c

    # small corpus (12 <= 100_000): auto = exact full fit
    out_auto = fn(ctx()).collect()
    assert seen[-1] == 1.0
    # corpus larger than the (pinned-low) target: fit set capped
    monkeypatch.setattr(builtin_tasks, "PPL_AUTO_FIT_TARGET", 4)
    out_sampled = fn(ctx())
    assert seen[-1] == pytest.approx(4 / 12)
    assert out_sampled.count() == 12  # scoring still covers the corpus
    # explicit opt-ins override auto in both directions
    fn(ctx(FIT_FRACTION="1.0"))
    assert seen[-1] == 1.0
    fn(ctx(FIT_FRACTION="0.25"))
    assert seen[-1] == 0.25
    with pytest.raises(ValueError, match="FIT_FRACTION"):
        fn(ctx(FIT_FRACTION="0"))
    with pytest.raises(ValueError, match="FIT_FRACTION"):
        fn(ctx(FIT_FRACTION="1.5"))
    # auto full-fit scores == explicit full-fit scores at 6dp (the
    # driver-oracle rounding: raw doubles carry last-ulp aggregation-
    # order noise between runs, so bit parity is not a valid claim)
    out_full = fn(ctx(FIT_FRACTION="1.0")).collect()
    ra = {r.doc_id: round(r.ppl_avg_nll, 6) if r.ppl_avg_nll is not None else None
          for r in out_auto}
    rf = {r.doc_id: round(r.ppl_avg_nll, 6) if r.ppl_avg_nll is not None else None
          for r in out_full}
    assert ra == rf


def test_media_quality_task(spark):
    """media_quality builtin: one 0-100 quality column across mixed
    containers; MIN_QUALITY filters (dropping unrecognized rows);
    blank MIN_QUALITY annotates only."""
    import numpy as np
    import pandas as pd

    from xetl_spark.operators import jpeg
    from xetl_spark.operators.vp8 import vp8_header_build
    from xetl_spark.operators.webp import webp_encode, webp_wrap_vp8
    from xetl_spark.plans.registry import BUILTINS

    _spec, fn = BUILTINS.get("media_quality")
    img = np.arange(192, dtype=np.uint8).reshape(8, 8, 3)
    rows = {
        1: jpeg.jpeg_encode(img, 90),
        2: jpeg.jpeg_encode(img, 30),
        3: webp_encode(img),  # lossless -> 100
        4: webp_wrap_vp8(vp8_header_build(16, 12, y_ac_qi=120)),  # ~6
        5: b"not media",
    }
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(rows), "media": list(rows.values())})
    )

    def ctx(**env):
        base = {"MEDIA_COL": "media", "ID_COL": "doc_id", "MIN_QUALITY": ""}
        base.update(env)

        class _Ctx:
            def input_df(self):
                return df

        c = _Ctx()
        c.env = base
        return c

    out = {r.doc_id: r for r in fn(ctx()).collect()}
    assert len(out) == 5  # annotate-only keeps everything
    assert out[1].quality == 90 and out[2].quality == 30
    assert out[3].quality == 100 and out[3].lossless
    assert out[4].quality == round(100 - 120 * 100 / 127)
    assert out[5].quality is None and out[5].err
    kept = sorted(r.doc_id for r in fn(ctx(MIN_QUALITY="50")).collect())
    assert kept == [1, 3]  # 30-quality jpeg, low-q webp, junk all dropped


def test_vacuum_run_history_retention(spark, tmp_path):
    """vacuum_run_history (r13): keeps the newest KEEP_LAST_RUNS runs,
    drops older-than-MAX_AGE_DAYS rows, compacts the table, no-ops
    when nothing qualifies, and removes the dir outright at keep=0."""
    import time

    from xetl_spark.plans.runner import vacuum_run_history, write_run_report

    path = str(tmp_path / "hist")
    now = time.time()

    def _report(job, offset_s):
        return {
            "job": job, "total_wall_s": 1.0,
            "stages": [{
                "name": "s", "task": "sql", "status": "success",
                "wall_s": 1.0, "attempts": 1, "rows": 1, "bytes": 1,
                "output_path": None, "schema": "struct<x:int>",
            }],
        }

    # write_run_report stamps time.time(); patch stamps afterwards by
    # rewriting finished_at is messy — instead write 4 runs spaced by
    # sleeps (distinct stamps is all the retention key needs)
    for i in range(4):
        write_run_report(spark, _report(f"j{i}", 0), path)
        time.sleep(0.05)
    assert spark.read.parquet(path).count() == 4

    # missing table: no-op
    assert vacuum_run_history(spark, str(tmp_path / "nope"), 2) == 0
    # nothing qualifies: keep_last larger than run count
    assert vacuum_run_history(spark, path, keep_last_runs=10) == 0
    # keep newest 2 of 4
    assert vacuum_run_history(spark, path, keep_last_runs=2) == 2
    kept = spark.read.parquet(path)
    assert kept.count() == 2
    assert sorted(r.job for r in kept.collect()) == ["j2", "j3"]
    import glob
    import os

    assert len(glob.glob(os.path.join(path, "*.parquet"))) == 1  # compacted
    # age-based: everything is newer than 1 day -> no-op
    assert vacuum_run_history(spark, path, max_age_days=1.0) == 0
    # age-based with a cutoff in the future of all stamps -> drop all,
    # modeled via keep_last_runs=0 (dir removed outright)
    assert vacuum_run_history(spark, path, keep_last_runs=0) == 2
    assert not os.path.isdir(path)
    # builtin task wrapper returns the removed count as a row
    from xetl_spark.plans.registry import BUILTINS

    for i in range(3):
        write_run_report(spark, _report(f"k{i}", 0), path)
        time.sleep(0.05)
    _spec, fn = BUILTINS.get("vacuum_run_history")

    class _Ctx:
        pass

    c = _Ctx()
    c.spark = spark
    c.env = {"PATH": path, "KEEP_LAST_RUNS": "1", "MAX_AGE_DAYS": ""}
    c.metrics = {}
    (row,) = fn(c).collect()
    assert row.rows_removed == 2 and c.metrics["rows"] == 2
    assert spark.read.parquet(path).count() == 1
    # non-local URIs error loudly instead of silently no-opping (r14):
    # the rewrite is os/shutil-based and cannot reach remote stores
    import pytest

    for uri in ("hdfs://nn/warehouse/runs", "s3a://bucket/runs"):
        with pytest.raises(ValueError, match="local paths"):
            vacuum_run_history(spark, uri, keep_last_runs=1)
    # file:// is local: stripped and handled
    assert vacuum_run_history(spark, "file://" + path, keep_last_runs=1) == 0
