"""Parquet opens that infer nothing: ``sources.io.read_parquet`` reads a
single file's schema from its footer on the driver and gives exactly the
schema (or the error) of ``spark.read.parquet``; a materialized stage
reads its output back with the schema it wrote."""

from __future__ import annotations

import contextlib
import datetime
import decimal
import itertools
import re
import shutil
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

import xetl_spark.queries as Q
from conftest import SF_DIR as SF
from xetl_spark.plans.models import Job
from xetl_spark.plans.runner import run_job
from xetl_spark.profile import profile
from xetl_spark.sources.io import read_parquet
from xetl_spark.streaming.windows import _events_ts_is_long

CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
)


@contextlib.contextmanager
def _session_conf(spark, **settings):
    """Set session confs for the block; restore the earlier values."""
    before = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _outcome(read):
    """A read's schema, or its error as (type, first error condition)."""
    try:
        return read().schema
    except Exception as e:  # noqa: BLE001 - the error is the outcome
        found = re.search(r"\[([A-Z_]+(?:\.[A-Z_]+)*)\]", str(e))
        return type(e).__name__, found.group(1) if found else None


def _same_as_spark(spark, path: str):
    """Both outcomes for ``path``, asserted equal; returns Spark's."""
    want = _outcome(lambda: spark.read.parquet(path))
    got = _outcome(lambda: read_parquet(spark, path))
    assert got == want
    return want


def _read_without_job(spark, path: str):
    """``read_parquet(spark, path)``, asserted to run no Spark job."""
    p = profile(spark, lambda: read_parquet(spark, path))
    assert p.stages == [], path
    return p.result


# -------------------------------------------------------- no Spark job


def test_load_in_a_fresh_scope_runs_no_job(spark, monkeypatch):
    monkeypatch.setattr(Q, "_TABLE_CACHE", {})
    p = profile(spark, lambda: Q.load(spark, SF))
    assert len(p.result) == len(Q.TABLES)
    assert p.stages == []


def test_events_ts_probe_runs_no_job(spark):
    p = profile(spark, lambda: _events_ts_is_long(spark, SF))
    assert p.result in (True, False)
    assert p.stages == []


def test_directory_read_keeps_its_inference_job(spark, tmp_path):
    """The counterpart of the two above: a directory is left to Spark,
    whose inference is a job, so the 0-stage checks can fail."""
    spark.range(3).write.parquet(str(tmp_path / "d"))
    p = profile(spark, lambda: read_parquet(spark, str(tmp_path / "d")))
    assert len(p.stages) >= 1


# ------------------------------------------------------- same schema


@pytest.mark.parametrize("settings", [{}, {CONFS[0]: "false", CONFS[1]: "true"}])
def test_every_fixture_table_matches_inference(spark, settings):
    with _session_conf(spark, **settings):
        for name in Q.TABLES:
            path = f"{SF}/{name}.parquet"
            got, want = _read_without_job(spark, path), spark.read.parquet(path)
            assert got.schema == want.schema, name
            assert got.dtypes == want.dtypes, name


def _type_matrix(path: str, nanos: bool) -> None:
    """One row of every awkward parquet type a pyarrow writer makes."""
    day = datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)
    cols = {
        "ts_us": pa.array([day], pa.timestamp("us")),
        "ts_utc": pa.array([day], pa.timestamp("us", tz="UTC")),
        "u32": pa.array([4_000_000_000], pa.uint32()),
        "dec": pa.array([decimal.Decimal("1234.5678901234")], pa.decimal128(38, 10)),
        "bin": pa.array([b"\x00\xff"], pa.binary()),
        "lst": pa.array([[1, 2]], pa.list_(pa.int32())),
        "st": pa.array([{"a": 1, "b": "x"}], pa.struct([("a", pa.int32()), ("b", pa.string())])),
        "mp": pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int64())),
    }
    if nanos:
        cols["ts_ns"] = pa.array([day], pa.timestamp("ns"))
    pq.write_table(pa.table(cols), path, version="2.6", coerce_timestamps=None)


@pytest.mark.parametrize("nanos", [True, False], ids=["with_nanos", "no_nanos"])
def test_type_matrix_matches_under_every_conf(spark, tmp_path, nanos):
    path = str(tmp_path / "matrix.parquet")
    _type_matrix(path, nanos)
    raised = []
    for values in itertools.product(("false", "true"), repeat=3):
        with _session_conf(spark, **dict(zip(CONFS, values))):
            want = _same_as_spark(spark, path)
            if isinstance(want, tuple):
                raised.append((values, want))
            else:
                assert _read_without_job(spark, path).schema == want
    if nanos:  # a NANOS column needs nanosAsLong; Spark refuses it otherwise
        assert [v[1] for v, _ in raised] == ["false"] * 4
        assert {w for _, w in raised} == {("AnalysisException", "PARQUET_TYPE_ILLEGAL")}
    else:
        assert raised == []


def test_missing_path_raises_spark_error(spark, tmp_path):
    want = _same_as_spark(spark, str(tmp_path / "absent.parquet"))
    assert want == ("AnalysisException", "PATH_NOT_FOUND")


def test_non_parquet_file_raises_spark_error(spark, tmp_path):
    path = tmp_path / "notes.parquet"
    path.write_text("not parquet\n" * 8)
    want = _same_as_spark(spark, str(path))
    assert want[1] == "FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER"


def test_hidden_file_is_left_to_spark(spark, tmp_path):
    """Spark lists no file whose name starts with `_` or `.`, even one
    named directly, and so finds no schema to infer."""
    for name in ("_part.parquet", ".part.parquet"):
        shutil.copy(f"{SF}/region.parquet", tmp_path / name)
        want = _same_as_spark(spark, str(tmp_path / name))
        assert want == ("AnalysisException", "UNABLE_TO_INFER_SCHEMA")


def test_directory_sink_and_glob_match_inference(spark, tmp_path):
    flat, parted = str(tmp_path / "flat"), str(tmp_path / "parted")
    spark.read.parquet(f"{SF}/nation.parquet").repartition(3).write.parquet(flat)
    (
        spark.read.parquet(f"{SF}/nation.parquet")
        .write.partitionBy("n_regionkey")
        .parquet(parted)
    )
    for path in (flat, parted, f"{flat}/*.parquet", f"{SF}/n*.parquet"):
        assert isinstance(_same_as_spark(spark, path), StructType), path
    assert "n_regionkey" in read_parquet(spark, parted).columns


# ------------------------------------------------ materialized stages


# non-null, decimal, nested and timestamp columns
TYPED_SQL = (
    "SELECT id, CAST(id / 7 AS DECIMAL(30, 9)) AS dec, "
    "named_struct('a', id, 'b', array(CAST(id AS STRING))) AS nested, "
    "map('k', CAST(id AS DOUBLE)) AS kv, "
    "TIMESTAMP '2024-01-02 03:04:05.678901' AS ts, "
    "TIMESTAMP_NTZ '2024-01-02 03:04:05' AS ntz FROM range(5)"
)


def test_materialized_stage_reads_back_the_written_schema(spark, tmp_path):
    """A MATERIALIZE stage reads its output with the schema it wrote;
    that schema is the one Spark infers from the written files."""
    job = Job.from_yaml(
        textwrap.dedent(
            f"""
            name: mat
            data: {tmp_path}
            commands:
              - name: typed
                task: sql
                env: {{MATERIALIZE: "true", QUERY: "{TYPED_SQL}"}}
            """
        )
    )
    assert not spark.sql(TYPED_SQL).schema["id"].nullable
    (result,) = run_job(spark, job)
    assert result.output.schema == spark.read.parquet(result.output_path).schema
    assert result.rows == 5
    assert result.output.select(F.sum("id")).first()[0] == 10
