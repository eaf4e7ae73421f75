"""A dry-run changes nothing: every task that acts yields its plan
first and acts only after the yield, and ``explain_job`` drives each
body only to that yield (reference dry-run parity: xETL runs no
command, job.py:160-171 and task.py:312-317).

Each check snapshots the names, sizes and mtimes under ``tmp_path``
and the catalog's tables, runs the dry-run, and compares.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pytest
import yaml

from conftest import REPO, SF_DIR
from xetl_spark.plans.models import Job
from xetl_spark.plans.runner import explain_job, run_job, write_run_report

ACTS = "(acts after its plan: not run in a dry-run)"


def _tree(root) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            path = os.path.join(dirpath, name)
            st = os.stat(path)
            out[os.path.relpath(path, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _tables(spark, temporary: bool = True) -> list[str]:
    return sorted(
        t.name for t in spark.catalog.listTables() if temporary or not t.isTemporary
    )


def _job(commands: list[dict], **extra) -> Job:
    return Job.from_yaml(yaml.safe_dump({"name": "dry", **extra, "commands": commands}))


def _src(path: str) -> dict:
    return {"name": "src", "task": "read_parquet", "env": {"PATH": path}}


REGION = f"{SF_DIR}/region.parquet"
DOCS = f"{SF_DIR}/documents.parquet"


def _sink(task):
    def case(spark, tmp):
        return [_src(REGION), {"name": "act", "task": task, "env": {"PATH": f"{tmp}/out"}}]

    return case


def _save_table(spark, tmp):
    return [_src(REGION), {"name": "act", "task": "save_table", "env": {"TABLE": "dryrun_never"}}]


def _shard(spark, tmp):
    env = {"ID_COL": "r_regionkey", "SHARDS": 2, "PATH": f"{tmp}/shards"}
    return [_src(REGION), {"name": "act", "task": "shard", "env": env}]


def _compact(spark, tmp):
    spark.read.parquet(DOCS).repartition(4).write.parquet(f"{tmp}/tbl")
    return [{"name": "act", "task": "compact", "env": {"PATH": f"{tmp}/tbl"}}]


def _incremental_exact(spark, tmp):
    act = {"name": "act", "task": "incremental_dedup",
           "env": {"MODE": "exact", "STORE": f"{tmp}/store"}}
    run_job(spark, _job([_src(DOCS), act]))  # seed: a swap would rewrite it
    return [_src(DOCS), act]


def _incremental_minhash(spark, tmp):
    env = {"MODE": "minhash", "STORE": f"{tmp}/sigs"}
    return [_src(DOCS), {"name": "act", "task": "incremental_dedup", "env": env}]


def _semantic_store(spark, tmp):
    rows = [(i, [float(i % 3), 1.0, float(i % 5)]) for i in range(20)]
    spark.createDataFrame(rows, "doc_id long, embedding array<float>").write.parquet(
        f"{tmp}/emb"
    )
    env = {"CLUSTERS": 2, "STORE": f"{tmp}/sem_store"}
    return [_src(f"{tmp}/emb"), {"name": "act", "task": "semantic_dedup", "env": env}]


def _ivm_refresh(spark, tmp):
    env = {"STATE_PATH": f"{tmp}/state", "KEYS": "r_name", "SUM_COLS": "r_regionkey"}
    return [_src(REGION), {"name": "act", "task": "ivm_refresh", "env": env}]


def _vacuum(spark, tmp):
    stage = {"name": "s", "task": "sql", "status": "success", "wall_s": 1.0,
             "attempts": 1, "rows": None, "bytes": None, "output_path": None,
             "schema": None}
    for job in ("j0", "j1"):
        report = {"job": job, "total_wall_s": 1.0, "stages": [stage]}
        write_run_report(spark, report, f"{tmp}/hist")
    env = {"PATH": f"{tmp}/hist", "KEEP_LAST_RUNS": "0"}
    return [{"name": "act", "task": "vacuum_run_history", "env": env}]


def _grayscale(spark, tmp):
    from xetl_spark.operators import imaging as im

    os.makedirs(f"{tmp}/images")
    rng = np.random.default_rng(5)
    for name in ("a", "b"):
        arr = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
        with open(f"{tmp}/images/{name}.png", "wb") as fh:
            fh.write(im.png_encode(arr))
    return [
        {"name": "src", "task": "read_binary",
         "env": {"PATH": f"{tmp}/images", "GLOB": "*.png"}},
        {"name": "act", "task": "grayscale",
         "env": {"MEDIA_COL": "content", "ID_COL": "path", "OUTPUT": f"{tmp}/gray"}},
    ]


def _expect(spark, tmp):
    # a violated gate: the dry-run shows the report plan, it does not fail
    env = {"RANGE": "r_regionkey:0:1", "MODE": "fail"}
    return [_src(REGION), {"name": "act", "task": "expect", "env": env}]


def _subjob(spark, tmp):
    sink = {"name": "w", "task": "write_parquet", "env": {"PATH": f"{tmp}/inner_out"}}
    with open(f"{tmp}/inner.yml", "w") as fh:
        yaml.safe_dump({"name": "inner", "commands": [_src(REGION), sink]}, fh)
    return [{"name": "act", "task": "subjob", "env": {"MANIFEST": f"{tmp}/inner.yml"}}]


def _download(spark, tmp):
    spark.read.parquet(REGION).write.parquet(f"{tmp}/remote")
    (path,) = [f for f in os.listdir(f"{tmp}/remote") if f.endswith(".parquet")]
    return [{"name": "act", "task": "download",
             "env": {"URL": f"file://{tmp}/remote/{path}"}}]


ACTING = {
    "write_parquet": _sink("write_parquet"),
    "write_csv": _sink("write_csv"),
    "write_json": _sink("write_json"),
    "write_avro": _sink("write_avro"),
    "save_table": _save_table,
    "shard": _shard,
    "compact": _compact,
    "incremental_dedup_exact": _incremental_exact,
    "incremental_dedup_minhash": _incremental_minhash,
    "semantic_dedup_store": _semantic_store,
    "ivm_refresh": _ivm_refresh,
    "vacuum_run_history": _vacuum,
    "grayscale_output": _grayscale,
    "expect": _expect,
    "subjob": _subjob,
    "download": _download,
}


@pytest.mark.parametrize("case", sorted(ACTING))
def test_dryrun_of_acting_task_changes_nothing(spark, tmp_path, monkeypatch, case):
    commands = ACTING[case](spark, str(tmp_path))
    # a download's temp dir would land under tmp_path too
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before, tables = _tree(tmp_path), _tables(spark)
    text = explain_job(spark, _job(commands))
    assert "plan unavailable" not in text, text
    assert text.count(ACTS) == 1, text
    assert _tree(tmp_path) == before
    assert _tables(spark) == tables


def test_dryrun_of_discovered_run_task_runs_nothing(spark, tmp_path):
    taskdir = tmp_path / "tasks" / "touch"
    taskdir.mkdir(parents=True)
    (taskdir / "manifest.yml").write_text("name: touch\nrun: touch made.txt\n")
    job = _job([{"name": "act", "task": "touch"}], tasks=[str(tmp_path / "tasks")])
    before, tables = _tree(tmp_path), _tables(spark)
    text = explain_job(spark, job)
    assert text.count(ACTS) == 1, text
    assert _tree(tmp_path) == before
    assert _tables(spark) == tables
    run_job(spark, job)  # the real run does act
    assert (taskdir / "made.txt").exists()


def _host_env_examples() -> list[str]:
    names = []
    for path in sorted((REPO / "examples").glob("*.yml")):
        if "host_env" in yaml.safe_load(path.read_text()):
            names.append(path.name)
    return names


@pytest.mark.parametrize("name", _host_env_examples())
def test_example_dryrun_changes_no_files(spark, tmp_path, monkeypatch, name):
    """Every host_env directory of the example points into tmp_path
    (inputs at sf0.001); the dry-run succeeds and leaves the tree and
    the persistent tables as they were. (Its ``sql`` stages register
    their inputs as temp views, session state a real run registers
    too.)"""
    manifest = REPO / "examples" / name
    for key in yaml.safe_load(manifest.read_text())["host_env"]:
        if key == "SF_DIR":
            monkeypatch.setenv(key, SF_DIR)
        else:
            (tmp_path / key.lower()).mkdir()
            monkeypatch.setenv(key, str(tmp_path / key.lower()))
    before, tables = _tree(tmp_path), _tables(spark, temporary=False)
    explain_job(spark, Job.from_file(manifest))
    assert _tree(tmp_path) == before
    assert _tables(spark, temporary=False) == tables


def test_incremental_ingest_dryrun_then_run_writes_like_a_clean_run(
    spark, tmp_path, monkeypatch
):
    """A dry-run before the first real run leaves the dedup stores
    empty, so the real run writes what a clean first run writes."""
    manifest = REPO / "examples" / "incremental_ingest.yml"
    monkeypatch.setenv("SF_DIR", SF_DIR)

    def run(tag, dry_first):
        monkeypatch.setenv("STORE_DIR", str(tmp_path / tag / "stores"))
        monkeypatch.setenv("OUT_DIR", str(tmp_path / tag / "out"))
        if dry_first:
            explain_job(spark, Job.from_file(manifest))
            assert not (tmp_path / tag).exists()
        run_job(spark, Job.from_file(manifest))
        return spark.read.parquet(str(tmp_path / tag / "out")).count()

    clean = run("clean", dry_first=False)
    assert clean > 0
    assert run("dry_then_run", dry_first=True) == clean
