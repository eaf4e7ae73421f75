"""Signal tasks append their columns to every input row; the stage
plans they build evaluate each Python UDF once, the parallelism guard
runs no job, and the driver-side frames of the task path (run report,
expect, lineage, vacuum) never go through ``parallelize``."""

import math
import textwrap
from collections import Counter

import pytest
from pyspark import SparkContext

from xetl_spark.plans.models import Job
from xetl_spark.plans.runner import (
    explain_job,
    run_job,
    run_report,
    write_run_report,
)

SF = "/root/testdata/sf0.001"

# two texts under one id, a text under a NULL id and one under id 2
DOCS_SQL = """
SELECT * FROM VALUES
  (1, 'aaaa'),
  (1, 'Line one is here.\\nLine two is here.\\nabcd efgh'),
  (CAST(NULL AS INT), 'a null id keeps its row.'),
  (2, 'x y x y')
AS t(doc_id, text)
"""


def _job(yaml_text: str) -> Job:
    return Job.from_yaml(textwrap.dedent(yaml_text))


def _signal_job(task: str, tmp_path, env: str = "") -> Job:
    query = textwrap.indent(DOCS_SQL.strip(), " " * 16)
    return _job(
        f"""
        name: append
        data: {tmp_path}
        commands:
          - name: docs
            task: sql
            env:
              QUERY: |
{query}
          - name: out
            task: {task}
            env: {{INPUT: docs{env}}}
        """
    )


def _entropy(s: str) -> float:
    counts = Counter(s)
    return -sum(c / len(s) * math.log(c / len(s)) for c in counts.values())


@pytest.mark.parametrize(
    "task,column,expected",
    [
        # n_lines of each text alone
        ("c4_filter", "n_lines", {"aaaa": 1, "x y x y": 1, "a null id keeps its row.": 1,
                                  "Line one is here.\nLine two is here.\nabcd efgh": 3}),
        # n_tokens of each text alone
        ("repetition_signals", "n_tokens", {"aaaa": 1, "x y x y": 4, "a null id keeps its row.": 6,
                                           "Line one is here.\nLine two is here.\nabcd efgh": 10}),
    ],
)
def test_duplicate_and_null_ids_keep_their_rows(spark, tmp_path, task, column, expected):
    """One output row per input row, each carrying its own text's
    signals: a duplicated id is not paired with the other row's
    signals, and a NULL id does not drop its row."""
    out = run_job(spark, _signal_job(task, tmp_path))[-1].output
    rows = out.select("doc_id", "text", column).collect()
    assert len(rows) == 4
    assert {r.text: r[column] for r in rows} == expected
    assert sorted((r.doc_id is None, r.doc_id or 0) for r in rows) == [
        (False, 1), (False, 1), (False, 2), (True, 0),
    ]


def test_text_signals_entropy_per_row(spark, tmp_path):
    job = _signal_job("text_signals", tmp_path, ", SIGNALS: entropy")
    out = run_job(spark, job)[-1].output
    got = {r.text: r.sig_entropy for r in out.collect()}
    assert len(got) == 4 and out.count() == 4
    assert all(abs(e - _entropy(t)) < 1e-6 for t, e in got.items()), got
    assert out.columns == ["doc_id", "text", "sig_entropy"]


def test_text_signals_entropy_leaves_corpus_columns(spark):
    """A corpus already carrying n_chars/entropy keeps them untouched;
    only sig_entropy is added."""
    from xetl_spark.plans.registry import BUILTINS

    _spec, fn = BUILTINS.get("text_signals")

    class _Ctx:
        env = {"COLUMN": "text", "SIGNALS": "entropy"}

        def input_df(self):
            return spark.createDataFrame(
                [(1, "abab", -1, "kept")],
                "doc_id long, text string, n_chars int, entropy string",
            )

    out = fn(_Ctx())
    assert out.columns == ["doc_id", "text", "n_chars", "entropy", "sig_entropy"]
    row = out.first()
    assert (row.n_chars, row.entropy) == (-1, "kept")
    assert row.sig_entropy == round(math.log(2), 6)


def test_chained_signals_replace_same_named_columns(spark, tmp_path):
    """c4_filter and repetition_signals both emit n_lines; the later
    one replaces it, so SQL downstream reads one unambiguous column."""
    query = textwrap.indent(DOCS_SQL.strip(), " " * 16)
    job = _job(
        f"""
        name: chained
        data: {tmp_path}
        commands:
          - name: docs
            task: sql
            env:
              QUERY: |
{query}
          - name: scrubbed
            task: c4_filter
            env: {{INPUT: docs}}
          - name: signals
            task: repetition_signals
            env: {{INPUT: scrubbed}}
          - name: lines
            task: sql
            env: {{QUERY: "SELECT n_lines FROM signals"}}
        """
    )
    results = run_job(spark, job)
    assert [r.status for r in results] == ["success"] * 4
    assert results[2].output.columns.count("n_lines") == 1
    assert sorted(r.n_lines for r in results[-1].output.collect()) == [1, 1, 1, 3]


def test_curation_plan_has_no_join_and_one_pass_per_udf(spark, tmp_path):
    """The corpus-curation stages up to the gate, explained through a
    write_parquet sink: no join anywhere in the sink's plan, and each
    Python UDF (normalize, repetition) is evaluated exactly once."""
    job = _job(
        f"""
        name: curation
        data: {tmp_path}
        commands:
          - name: docs
            task: read_parquet
            env: {{PATH: {SF}/documents.parquet}}
          - name: normalized
            task: normalize_text
            env: {{INPUT: docs}}
          - name: scrubbed
            task: c4_filter
            env: {{INPUT: normalized, MIN_SENTENCES: 1}}
          - name: signals
            task: repetition_signals
            env: {{INPUT: scrubbed}}
          - name: gated
            task: sql
            env:
              QUERY: >
                SELECT doc_id, text, lang, source, n_tokens,
                       dup_line_frac, top_2gram_char_frac
                FROM signals
                WHERE NOT has_lorem AND NOT has_brace
                  AND dup_line_frac <= 0.3
                  AND top_2gram_char_frac <= 0.5
          - name: sink
            task: write_parquet
            env: {{INPUT: gated, PATH: {tmp_path}/sink}}
        """
    )
    text = explain_job(spark, job)
    sink = text.split("\ncommand: sink")[1].split("  lineage:")[0]
    assert "Physical Plan" in sink
    assert "Join" not in sink, sink
    assert sink.count("ArrowEvalPython") == 2, sink
    assert sink.count("_norm(") == 1, sink
    assert sink.count("_repetition(") == 1, sink


def test_ensure_parallelism_runs_no_job(spark):
    """The guard reads the partition count off the plan: on inputs
    behind a shuffle or a broadcast it launches no stage; a planned
    post-shuffle input is left alone, a single streamed partition is
    spread."""
    from pyspark.sql import functions as F

    from xetl_spark.operators.util import ensure_parallelism
    from xetl_spark.profile import profile

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    post_shuffle = docs.groupBy("lang").count()
    small = spark.range(3).withColumnRenamed("id", "doc_id")
    broadcast = docs.join(F.broadcast(small), "doc_id")
    kept = profile(spark, lambda: ensure_parallelism(post_shuffle))
    spread = profile(spark, lambda: ensure_parallelism(broadcast))
    assert kept.stages == [] and spread.stages == [], (kept.stages, spread.stages)
    # post-shuffle: planned at spark.sql.shuffle.partitions (8) -> kept
    assert kept.result is post_shuffle
    # the broadcast join streams the one-file scan: spread to dp
    dp = spark.sparkContext.defaultParallelism
    assert spread.result.rdd.getNumPartitions() == dp


@pytest.fixture
def no_parallelize(monkeypatch):
    def _refuse(*_a, **_k):
        raise AssertionError("SparkContext.parallelize called")

    monkeypatch.setattr(SparkContext, "parallelize", _refuse)


def test_task_path_frames_skip_parallelize(spark, tmp_path, no_parallelize):
    """The run report, expect, lineage and vacuum_run_history build
    their frames through Arrow: with parallelize refusing, a job with
    an expect stage runs and its report is written (also with the
    session's Arrow fallback on, which would otherwise hide a silent
    return to parallelize)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    assert spark.conf.get("spark.sql.execution.arrow.pyspark.fallback.enabled") == "true"
    report_dir = tmp_path / "report"
    job = _job(
        f"""
        name: gated
        data: {tmp_path}
        commands:
          - name: docs
            task: read_parquet
            env: {{PATH: {SF}/documents.parquet}}
          - name: check
            task: expect
            env: {{INPUT: docs, NOT_NULL: doc_id, UNIQUE: doc_id}}
          - name: cols
            task: lineage
            env: {{INPUT: docs}}
          - name: trim
            task: vacuum_run_history
            env: {{PATH: {report_dir}, KEEP_LAST_RUNS: "5"}}
        """
    )
    results = run_job(spark, job)
    assert [r.status for r in results] == ["success"] * 4
    checks = {r.check: (r.n_violations, r.passed) for r in results[1].output.collect()}
    assert all(passed for _n, passed in checks.values()) and checks
    assert results[1].output.schema.simpleString() == (
        "struct<check:string,n_violations:bigint,passed:boolean>"
    )
    assert {r.column for r in results[2].output.collect()} >= {"doc_id", "text"}
    assert results[3].output.first().rows_removed == 0

    hist = write_run_report(spark, run_report(results, job), str(report_dir))
    assert hist.schema == StructType(
        [
            StructField("job", StringType()),
            StructField("finished_at", DoubleType()),
            StructField("total_wall_s", DoubleType()),
            StructField("stage", StringType()),
            StructField("task", StringType()),
            StructField("status", StringType()),
            StructField("wall_s", DoubleType()),
            StructField("attempts", LongType()),
            StructField("rows", LongType()),
            StructField("bytes", LongType()),
            StructField("output_path", StringType()),
            StructField("schema", StringType()),
        ]
    )
    rows = hist.collect()
    assert [r.stage for r in rows] == ["docs", "check", "cols", "trim"]
    # one report is one run: every stage row carries the same stamp
    assert len({r.finished_at for r in rows}) == 1
