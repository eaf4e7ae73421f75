"""CLI end-to-end (subprocess, reference test_end_to_end.py parity),
task discovery from manifest directories, argparse bridge precedence,
task-level golden tests."""

import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

SF = "/root/testdata/sf0.001"
REPO = Path(__file__).resolve().parents[1]


def test_cli_runs_manifest(tmp_path):
    manifest = tmp_path / "job.yml"
    out = tmp_path / "out"
    manifest.write_text(
        textwrap.dedent(
            f"""
            name: cli-e2e
            data: {tmp_path}
            commands:
              - name: src
                task: read_parquet
                env: {{PATH: {SF}/region.parquet}}
              - name: sink
                task: write_parquet
                env: {{INPUT: src, PATH: {out}}}
            """
        )
    )
    proc = subprocess.run(
        [sys.executable, "-m", "xetl_spark", str(manifest)],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "src: success" in proc.stdout and "sink: success" in proc.stdout
    assert out.exists()


def test_cli_dryrun_honours_commands(tmp_path):
    """--dryrun -c explains only the selected commands."""
    manifest = tmp_path / "job.yml"
    manifest.write_text(
        textwrap.dedent(
            f"""
            name: dry-filter
            commands:
              - {{name: src, task: read_parquet, env: {{PATH: {SF}/region.parquet}}}}
              - {{name: top, task: sql, env: {{QUERY: "SELECT 1 AS x"}}}}
            """
        )
    )
    proc = subprocess.run(
        [sys.executable, "-m", "xetl_spark", str(manifest), "--dryrun", "-c", "top"],
        capture_output=True,
        text=True,
        cwd=str(REPO),
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    commands = [ln for ln in proc.stdout.splitlines() if ln.startswith("command: ")]
    assert commands == ["command: top (task=sql, skip=False)"], proc.stdout


def test_cli_missing_manifest_exit_1():
    proc = subprocess.run(
        [sys.executable, "-m", "xetl_spark", "/no/such.yml"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=60,
    )
    assert proc.returncode == 1
    assert "not found" in proc.stderr


def test_cli_failing_stage_exit_code(tmp_path):
    manifest = tmp_path / "bad.yml"
    manifest.write_text(
        textwrap.dedent(
            """
            name: failing
            commands:
              - {name: src, task: read_parquet, env: {PATH: /nope.parquet}}
            """
        )
    )
    proc = subprocess.run(
        [sys.executable, "-m", "xetl_spark", str(manifest)],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=300,
    )
    assert proc.returncode == 2
    assert "failed" in proc.stderr


def test_task_discovery_from_directory(spark, tmp_path):
    """Reference task.py:350-384: manifest.yml dirs become tasks;
    tests/ dirs skipped; bad manifests skipped with warning."""
    taskdir = tmp_path / "tasks" / "top_regions"
    taskdir.mkdir(parents=True)
    (taskdir / "manifest.yml").write_text(
        textwrap.dedent(
            """
            name: top-regions
            description: regions sorted by key
            env:
              LIMIT: {type: int, default: 3}
            sql: "SELECT r_regionkey FROM src ORDER BY r_regionkey LIMIT {LIMIT}"
            """
        )
    )
    bad = tmp_path / "tasks" / "broken"
    bad.mkdir()
    (bad / "manifest.yml").write_text(":::not yaml {{{")
    skipped = tmp_path / "tasks" / "tests" / "hidden"
    skipped.mkdir(parents=True)
    (skipped / "manifest.yml").write_text("name: hidden\nsql: SELECT 1")

    from xetl_spark.plans.models import Job
    from xetl_spark.plans.runner import run_job

    job = Job.from_yaml(
        textwrap.dedent(
            f"""
            name: disco
            tasks: [{tmp_path}/tasks]
            commands:
              - {{name: src, task: read_parquet, env: {{PATH: {SF}/region.parquet}}}}
              - {{name: top, task: top-regions, env: {{LIMIT: 2}}}}
            """
        ),
        basedir=str(tmp_path),
    )
    results = run_job(spark, job)
    rows = results[-1].output.collect()
    assert [r.r_regionkey for r in rows] == [0, 1]


def test_typoed_run_name_deferred_to_run_time(spark, tmp_path):
    """A manifest whose `run:` is a bare token naming neither a
    registered task nor an executable still registers (the program may
    be produced by an earlier stage or appear on PATH only at run
    time); executing it while still unresolvable raises the clear
    misspelled-task message instead of an opaque exec error, and a
    program that materializes in the task dir before execution runs."""
    import os
    import stat

    from xetl_spark.plans.registry import TaskRegistry
    from xetl_spark.plans.runner import StageContext

    taskdir = tmp_path / "tasks" / "typo"
    taskdir.mkdir(parents=True)
    (taskdir / "manifest.yml").write_text(
        "name: typo-task\nrun: read_parqet\n"  # typo'd builtin name
    )
    reg = TaskRegistry()
    reg.discover(str(tmp_path / "tasks"))
    assert reg._has("typo-task")  # registered; resolution is deferred

    _, fn = reg.get("typo-task")
    ctx = StageContext(spark=spark, job=None, command=None, env={})
    with pytest.raises(ValueError, match="misspelled task name"):
        fn(ctx)

    # the same shape resolves fine once the program exists at run time
    latedir = tmp_path / "tasks" / "late"
    latedir.mkdir(parents=True)
    (latedir / "manifest.yml").write_text("name: late-task\nrun: gen.sh\n")
    reg.discover(str(tmp_path / "tasks"))
    assert reg._has("late-task")
    script = latedir / "gen.sh"
    script.write_text("#!/bin/sh\necho made-late\n")
    script.chmod(script.stat().st_mode | stat.S_IEXEC)
    _, late_fn = reg.get("late-task")
    late_fn(ctx)  # no raise: re-resolved at execution

    # a real program with args still discovers as a subprocess task
    okdir = tmp_path / "tasks" / "shellok"
    okdir.mkdir(parents=True)
    (okdir / "manifest.yml").write_text("name: shell-ok\nrun: echo hello\n")
    reg.discover(str(tmp_path / "tasks"))
    assert reg._has("shell-ok")


def test_cli_parallel_zero_rejected():
    """--parallel 0 is a usage error, not a silent fall-back to 8."""
    from xetl_spark.cli import argument_parser

    with pytest.raises(SystemExit):
        argument_parser().parse_args(["job.yml", "--parallel", "0"])
    ns = argument_parser().parse_args(["job.yml", "--parallel", "4"])
    assert ns.parallel == 4
    ns = argument_parser().parse_args(["job.yml", "--parallel"])
    assert ns.parallel == 8


def test_argparse_bridge_env_fallback(monkeypatch):
    """CLI wins over env; env fills omitted flags; required enforced
    (reference tests/test_argparser.py:244-277)."""
    from xetl_spark.plans.argparse_bridge import ArgumentParser
    from xetl_spark.plans.models import TaskSpec

    spec = TaskSpec(
        name="t",
        env={
            "PATH": {"type": "string"},
            "LIMIT": {"type": "int", "default": 10},
        },
    )
    monkeypatch.setenv("PATH_SENTINEL", "x")  # unrelated
    monkeypatch.setenv("LIMIT", "99")
    ns = ArgumentParser(spec).parse_args(["--path", "/data"])
    assert ns.PATH == "/data"
    assert ns.LIMIT == 99  # env fallback with type coercion
    ns2 = ArgumentParser(spec).parse_args(["--path", "/d", "--limit", "5"])
    assert ns2.LIMIT == 5  # CLI wins


def test_task_level_golden_tests(spark):
    """A task's tests: block runs with fixed env + verify SQL
    (reference task.py:161-193 parity)."""
    from xetl_spark.plans.models import TaskTestCase
    from xetl_spark.plans.registry import TaskRegistry, task
    from xetl_spark.plans.runner import run_task_tests

    reg = TaskRegistry()

    @task(
        "range_gen",
        env={"N": {"type": "int"}},
        registry=reg,
    )
    def range_gen(ctx):
        return ctx.spark.range(int(ctx.env["N"]))

    spec, fn = reg.get("range_gen")
    spec.tests = [
        TaskTestCase(env={"N": 5}, verify_sql="SELECT count(*) = 5 FROM result"),
        TaskTestCase(env={"N": 3}, verify_sql="SELECT max(id) = 2 FROM result"),
        TaskTestCase(env={"N": 3}, verify_sql="SELECT max(id) = 99 FROM result"),
    ]
    out = run_task_tests(spark, registry=reg)
    assert out["range_gen"] == [True, True, False]


def test_task_discovery_duplicates_last_wins(spark, tmp_path):
    """Reference task.py:350-384: alphabetical walk, duplicate task
    names resolve to the later (lexicographically greater) manifest."""
    import textwrap as tw

    for d, limit in [("a_first", 1), ("z_last", 3)]:
        p = tmp_path / "tasks" / d
        p.mkdir(parents=True)
        (p / "manifest.yml").write_text(
            tw.dedent(
                f"""
                name: pick
                env: {{}}
                sql: "SELECT r_regionkey FROM src ORDER BY r_regionkey LIMIT {limit}"
                """
            )
        )
    from xetl_spark.plans.models import Job
    from xetl_spark.plans.runner import run_job

    job = Job.from_yaml(
        f"""
name: dd
tasks: [{tmp_path}/tasks]
commands:
  - {{name: src, task: read_parquet, env: {{PATH: /root/testdata/sf0.001/region.parquet}}}}
  - {{name: out, task: pick}}
""",
        basedir=str(tmp_path),
    )
    results = run_job(spark, job)
    assert len(results[-1].output.collect()) == 3  # z_last wins


def test_cli_list_tasks(tmp_path):
    manifest = tmp_path / "j.yml"
    manifest.write_text("name: lt\ncommands: []\n")
    proc = subprocess.run(
        [sys.executable, "-m", "xetl_spark", str(manifest), "--list-tasks"],
        capture_output=True, text=True, cwd="/root/repo", timeout=120,
    )
    assert proc.returncode == 0
    for expected in ("read_parquet", "sql", "write_parquet", "dedup", "subjob"):
        assert expected in proc.stdout


def test_default_shuffle_partitions_sizing(tmp_path, monkeypatch):
    """Shuffle partitions derive from input bytes: floor at cores for
    small inputs, scale at ~1 per 64MB of input, cap at 10x cores."""
    from xetl_spark.session import _default_shuffle_partitions

    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    assert _default_shuffle_partitions(16) == 16
    # small dir -> floor
    (tmp_path / "x.parquet").write_bytes(b"0" * 1024)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    assert _default_shuffle_partitions(16) == 16
    # 8 GiB of input at 128MB target with 2x expansion -> 128 partitions
    assert _default_shuffle_partitions(4, target_partition_bytes=16) == 40  # cap 10x


def test_url_datasource_executor_side_fetch(spark, tmp_path):
    """xetl_url Python data source: one partition per URL, fetched in
    executors; dead links yield status=-1 rows instead of task aborts."""
    from xetl_spark.sources import register_url_datasource

    files = []
    for i in range(3):
        p = tmp_path / f"f{i}.txt"
        p.write_text(f"payload-{i}")
        files.append(f"file://{p}")
    files.append(f"file://{tmp_path}/missing.txt")  # dead link

    register_url_datasource(spark)
    df = spark.read.format("xetl_url").option("urls", ",".join(files)).load()
    assert df.rdd.getNumPartitions() == 4
    rows = {r.url: (r.status, bytes(r.body)) for r in df.collect()}
    for i in range(3):
        assert rows[files[i]] == (200, f"payload-{i}".encode())
    assert rows[files[3]][0] == -1


def test_subprocess_parity_task(spark, tmp_path):
    """Reference task.py:291-347 escape hatch: a discovered task whose
    `run:` is a real program executes as a subprocess with the
    command's env (string + dict forms), filesystem dataflow, and
    non-zero exit -> TaskFailure."""
    import textwrap as tw

    from xetl_spark.plans.models import Job
    from xetl_spark.plans.runner import TaskFailure, run_job

    writer = tmp_path / "tasks" / "writer"
    writer.mkdir(parents=True)
    (writer / "emit.py").write_text(
        "import os\nopen(os.environ['OUTPUT'], 'w').write('v=' + os.environ['VALUE'])\n"
    )
    (writer / "manifest.yml").write_text(
        tw.dedent(
            """
            name: emit-file
            description: write VALUE to OUTPUT (subprocess form)
            env:
              OUTPUT: {type: string}
              VALUE: {type: string}
            run: python emit.py
            """
        )
    )
    scripted = tmp_path / "tasks" / "scripted"
    scripted.mkdir(parents=True)
    (scripted / "manifest.yml").write_text(
        tw.dedent(
            """
            name: append-line
            description: append to OUTPUT ({interpreter, script} form)
            env:
              OUTPUT: {type: string}
            run:
              script: "import os; open(os.environ['OUTPUT'], 'a').write('|more')"
            """
        )
    )
    failing = tmp_path / "tasks" / "failing"
    failing.mkdir(parents=True)
    (failing / "manifest.yml").write_text(
        "name: kaboom\ndescription: exits 3\nrun: python -c 'raise SystemExit(3)'\n"
    )

    out_file = tmp_path / "out.txt"
    job = Job.from_yaml(
        tw.dedent(
            f"""
            name: subproc
            tasks: [{tmp_path}/tasks]
            commands:
              - {{name: w, task: emit-file, env: {{OUTPUT: {out_file}, VALUE: hello}}}}
              - {{name: a, task: append-line, env: {{OUTPUT: "${{w.env.OUTPUT}}"}}}}
            """
        )
    )
    results = run_job(spark, job)
    assert [r.status for r in results] == ["success", "success"]
    assert out_file.read_text() == "v=hello|more"

    bad = Job.from_yaml(
        tw.dedent(
            f"""
            name: subproc-fail
            tasks: [{tmp_path}/tasks]
            commands:
              - {{name: boom, task: kaboom, env: {{}}}}
            """
        )
    )
    with pytest.raises(TaskFailure) as exc:
        run_job(spark, bad)
    assert "3" in str(exc.value)


def test_cli_reference_flag_shapes():
    """Literal CLI parity with the reference (xetl/__main__.py:24-37):
    -l defaults to gaudy and accepts 1|2|3 numeric aliases; -t means
    --no-timestamps; --list-tasks is long-form only."""
    from xetl_spark.cli import argument_parser

    ns = argument_parser().parse_args(["job.yml"])
    assert ns.log_style == "gaudy" and ns.no_timestamps is False
    ns = argument_parser().parse_args(["job.yml", "-l", "1", "-t"])
    assert ns.log_style == "1" and ns.no_timestamps is True
    with pytest.raises(SystemExit):
        argument_parser().parse_args(["job.yml", "-l", "4"])


def test_builtin_task_surface_hygiene():
    """Every builtin task ships a description, typed env fields with
    descriptions, and INPUT declared optional where present — the
    contract `--list-tasks` and validation error messages rely on."""
    from xetl_spark.plans.registry import BUILTINS

    names = BUILTINS.names()
    assert len(names) >= 35
    for name in names:
        spec, fn = BUILTINS.get(name)
        assert spec.description, name
        assert callable(fn), name
        for env_name, inp in spec.env.items():
            assert env_name.isupper(), (name, env_name)
            assert inp.description, (name, env_name)
            assert inp.type in {"string", "int", "float", "bool"}, (
                name,
                env_name,
                inp.type,
            )
        inp = spec.env.get("INPUT")
        if inp is not None:
            assert not inp.required, name
        # Every declared default must satisfy its own declared type —
        # catches e.g. an int default on a float input at authoring time.
        defaults = {
            env_name: inp.default
            for env_name, inp in spec.env.items()
            if inp.default is not None
        }
        for env_name, value in defaults.items():
            spec.env[env_name].check(env_name, value)


def test_task_input_type_aliases_normalized():
    """Reference alias spellings (str/integer/boolean/decimal,
    task.py:139-158 + task_input_details.py:36) are accepted in manifests
    and normalized to the canonical surface types."""
    from xetl_spark.plans.models import TaskInput

    for alias, canonical in [
        ("str", "string"),
        ("string", "string"),
        ("integer", "int"),
        ("int", "int"),
        ("decimal", "float"),
        ("float", "float"),
        ("boolean", "bool"),
        ("bool", "bool"),
        ("DECIMAL", "float"),
    ]:
        assert TaskInput(type=alias).type == canonical, alias

    import pytest as _pytest

    # pydantic wraps the field-validator's ManifestError
    with _pytest.raises(Exception, match="unknown input type"):
        TaskInput(type="varchar")
