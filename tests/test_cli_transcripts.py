"""Golden-transcript CLI tests.

Reference parity: the reference pins exact dry-run and failure stdout
(reference tests/test_end_to_end.py:252-349 and :522-584, with
timestamps regex-normalized by strip_dates). Same discipline here for
THIS engine's CLI surface: the full normalized transcript is asserted,
so any drift in what the user sees — stage ordering, env echo,
EXPLAIN presence, error shape, exit codes — is a test diff, not a
surprise.

Normalization strips the volatile parts only: Spark/JVM log noise,
plan expression ids (#12 → #N), codegen ids, timestamps, and the
temp directory path.
"""

from __future__ import annotations

import re
import subprocess
import sys
import textwrap

from conftest import REPO

_NOISE = re.compile(
    r"WARNING: Using incubator|Setting default log level|"
    r"Using Spark's default log4j|To adjust logging level|"
    r"native-hadoop|log4j|py4j|INFO |WARN |SLF4J|"
    r"\[Stage \d+:|"  # console progress bar
    r"^\s*$"
)


def _split_lines(text: str) -> list[str]:
    # the console progress bar rewrites lines with bare \r
    return text.replace("\r", "\n").splitlines()


def _normalize(text: str, tmp: str) -> str:
    out = []
    for line in _split_lines(text):
        if _NOISE.search(line):
            continue
        line = line.replace(tmp, "{TMP}")
        line = re.sub(r"#\d+", "#N", line)  # plan expression ids
        line = re.sub(r"\*\(\d+\)", "*(S)", line)  # codegen stage ids
        line = re.sub(r"\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}\.\d{3}", "{TS}", line)
        line = re.sub(r"InMemoryFileIndex\(\d+ paths\)", "InMemoryFileIndex(P paths)", line)
        out.append(line.rstrip())
    return "\n".join(out).strip()


def _run_cli(manifest: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "xetl_spark", manifest],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        cwd=REPO,
        timeout=240,
    )


def test_dryrun_golden_transcript(tmp_path):
    """Dry-run output is EXPLAIN-as-transcript: job header, each stage's
    resolved env, and the physical plan with pushed-down scan details.
    Pinned verbatim (normalized)."""
    (tmp_path / "data").mkdir()
    manifest = tmp_path / "job.yml"
    manifest.write_text(
        textwrap.dedent(
            f"""
            name: golden
            description: golden transcript job
            data: {tmp_path}/data
            env: {{SF_DIR: /root/testdata/sf0.001}}
            commands:
              - {{name: src, task: read_parquet,
                  env: {{PATH: "${{SF_DIR}}/region.parquet"}}}}
              - {{name: top, task: sql,
                  env: {{QUERY: "SELECT r_name FROM src ORDER BY r_name LIMIT 2"}}}}
            """
        )
    )
    res = subprocess.run(
        [sys.executable, "-m", "xetl_spark", str(manifest), "--dryrun"],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        cwd=REPO,
        timeout=240,
    )
    assert res.returncode == 0, res.stdout.decode()
    got = _normalize(res.stdout.decode(), str(tmp_path))
    expected = textwrap.dedent(
        """\
        job: golden
        data: {TMP}/data
        command: src (task=read_parquet, skip=False)
          SF_DIR = '/root/testdata/sf0.001'
          PATH = '/root/testdata/sf0.001/region.parquet'
          == Physical Plan ==
        *(S) ColumnarToRow
        +- FileScan parquet [r_regionkey#N,r_name#N] Batched: true, DataFilters: [], Format: Parquet, Location: InMemoryFileIndex(P paths)[file:/root/testdata/sf0.001/region.parquet], PartitionFilters: [], PushedFilters: [], ReadSchema: struct<r_regionkey:int,r_name:string>
          lineage:
            r_regionkey <- file:/root/testdata/sf0.001/region.parquet::r_regionkey
            r_name <- file:/root/testdata/sf0.001/region.parquet::r_name
        command: top (task=sql, skip=False)
          SF_DIR = '/root/testdata/sf0.001'
          QUERY = 'SELECT r_name FROM src ORDER BY r_name LIMIT 2'
          == Physical Plan ==
        TakeOrderedAndProject(limit=2, orderBy=[r_name#N ASC NULLS FIRST], output=[r_name#N])
        +- *(S) ColumnarToRow
           +- FileScan parquet [r_name#N] Batched: true, DataFilters: [], Format: Parquet, Location: InMemoryFileIndex(P paths)[file:/root/testdata/sf0.001/region.parquet], PartitionFilters: [], PushedFilters: [], ReadSchema: struct<r_name:string>
          lineage:
            r_name <- file:/root/testdata/sf0.001/region.parquet::r_name"""
    ).strip()
    assert got == expected, f"--- got ---\n{got}\n--- want ---\n{expected}"


def test_failure_golden_transcript(tmp_path):
    """A failing SQL stage: exit code 2, one clean `error:` line naming
    the stage plus the analyzer's diagnosis, and the terminating
    banner — no Python traceback."""
    (tmp_path / "data").mkdir()
    manifest = tmp_path / "fail.yml"
    manifest.write_text(
        textwrap.dedent(
            f"""
            name: failjob
            data: {tmp_path}/data
            env: {{SF_DIR: /root/testdata/sf0.001}}
            commands:
              - {{name: src, task: read_parquet,
                  env: {{PATH: "${{SF_DIR}}/region.parquet"}}}}
              - {{name: boom, task: sql,
                  env: {{QUERY: "SELECT no_such_col FROM src"}}}}
            """
        )
    )
    # `-l 2` = moderate via the reference's numeric alias
    # (reference xetl/__main__.py:28: choices 1|2|3); the default is
    # gaudy, matching the reference default
    res = subprocess.run(
        [sys.executable, "-m", "xetl_spark", str(manifest), "-l", "2"],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        cwd=REPO,
        timeout=240,
    )
    out = res.stdout.decode()
    assert res.returncode == 2, out
    got = _normalize(out, str(tmp_path))
    assert "Traceback" not in got
    lines = got.splitlines()
    # everything up to the failure is pinned verbatim: the resolution
    # warnings (the reference pins its "Ignoring unexpected env
    # variable" lines the same way), then the moderate-style nested
    # job/command/task transcript with Return code footers
    expected_head = textwrap.dedent(
        """\
        WARNING task 'read_parquet': unknown input 'SF_DIR' ignored
        WARNING task 'sql': unknown input 'SF_DIR' ignored
        ─╴Executing job: failjob╶─
        ━╸Executing command: src (1 of 2)╺━
          name: src
          description: null
          task: read_parquet
          env:
            SF_DIR: /root/testdata/sf0.001
            PATH: /root/testdata/sf0.001/region.parquet
          skip: false
        ═╴Executing task: read_parquet╶═
        {TS}  Running command src (task=read_parquet)
        ═╴Return code: 0╶═
        ━╸Executing command: boom (2 of 2)╺━
          name: boom
          description: null
          task: sql
          env:
            SF_DIR: /root/testdata/sf0.001
            QUERY: SELECT no_such_col FROM src
          skip: false
        ═╴Executing task: sql╶═
        {TS}  Running command boom (task=sql)
        ═╴Return code: 1╶═"""
    ).splitlines()
    assert lines[: len(expected_head)] == expected_head, "\n".join(lines)
    # the analyzer detail (suggestion list, plan echo) may evolve with
    # Spark versions, so pin the stable head + the terminating banner
    err = lines[len(expected_head)]
    assert err.startswith("error: command 'boom' failed:"), err
    assert "`no_such_col` cannot be resolved" in got
    assert lines[-1] == "Task failed, terminating job."


def test_gaudy_success_golden_transcript(tmp_path):
    """Gaudy style: the reference's nested box-drawing transcript
    (logging.py:64-88 decorations, test_end_to_end.py:202-249 shape) —
    job frame, per-command banner with manifest echo, task sub-frame
    with timestamped body lines and a Return code footer, Done banner."""
    (tmp_path / "data").mkdir()
    manifest = tmp_path / "ok.yml"
    manifest.write_text(
        textwrap.dedent(
            f"""
            name: okjob
            data: {tmp_path}/data
            commands:
              - {{name: one, task: sql, env: {{QUERY: "SELECT 1 AS x"}}}}
            """
        )
    )
    res = subprocess.run(
        [sys.executable, "-m", "xetl_spark", str(manifest), "-l", "gaudy"],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        cwd=REPO,
        timeout=240,
    )
    out = res.stdout.decode()
    assert res.returncode == 0, out
    got = _normalize(out, str(tmp_path))
    expected = textwrap.dedent(
        """\
        ╭──╴Executing job: okjob ╶╴╴╶ ╶
        ┏━━╸Executing command: one (1 of 1) ━╴╴╶ ╶
        ┃   name: one
        ┃   description: null
        ┃   task: sql
        ┃   env:
        ┃     QUERY: SELECT 1 AS x
        ┃   skip: false
        ┃╭──╴Executing task: sql ─╴╴╶ ╶
        ┃│{TS}┊ Running command one (task=sql)
        ┃╰──╴Return code: 0 ─╴╴╶ ╶
        │ Done! \\o/
        one: success"""
    ).strip()
    assert got == expected, f"--- got ---\n{got}\n--- want ---\n{expected}"


def test_missing_data_dir_golden_transcript(tmp_path):
    """Missing job data directory: exit 1 with exactly one clean error
    line (the reference's data-dir guard, surfaced without traceback)."""
    manifest = tmp_path / "nodata.yml"
    manifest.write_text(
        textwrap.dedent(
            f"""
            name: nodata
            data: {tmp_path}/does_not_exist
            commands:
              - {{name: one, task: sql, env: {{QUERY: "SELECT 1 AS x"}}}}
            """
        )
    )
    res = _run_cli(str(manifest))
    assert res.returncode == 1
    got = _normalize(res.stdout.decode(), str(tmp_path))
    assert got == "error: job data directory not found: {TMP}/does_not_exist", got


def test_missing_manifest_golden_transcript(tmp_path):
    res = _run_cli(str(tmp_path / "absent.yml"))
    assert res.returncode == 1
    got = _normalize(res.stdout.decode(), str(tmp_path))
    assert got == "error: manifest not found: {TMP}/absent.yml", got


def test_perplexity_keep_head_golden_transcript(tmp_path):
    """CCNet KEEP=head end-to-end through the CLI, transcript pinned
    (VERDICT r9 item 6): a planted corpus whose four repeated fluent
    docs form the head bucket and two gibberish docs the tail; the
    perplexity_filter stage keeps only head, and an expect gate FAILS
    the job if any surviving row is non-head or a gibberish doc — so
    a green transcript pins both the stage flow and the split's data
    semantics."""
    (tmp_path / "data").mkdir()
    manifest = tmp_path / "ppl.yml"
    manifest.write_text(
        textwrap.dedent(
            f"""
            name: ppl-head
            description: CCNet perplexity split, keep only the head bucket
            data: {tmp_path}/data
            commands:
              - name: corpus
                task: sql
                env:
                  QUERY: >
                    SELECT * FROM VALUES
                      (0, 'the cat sat on the mat and the cat sat again'),
                      (1, 'the cat sat on the mat and the cat sat again'),
                      (2, 'the cat sat on the mat and the cat sat again'),
                      (3, 'the cat sat on the mat and the cat sat again'),
                      (4, 'zq xv prw lkj mnb qaz wsx edc rfv tgb yhn ujm'),
                      (5, 'plo okm ijn uhb ygv tfc rdx esz wam qpl zoe ktr')
                    AS t(doc_id, text)
              - name: heads
                task: perplexity_filter
                env:
                  INPUT: corpus
                  KEEP: head
              - name: gate
                task: expect
                env:
                  INPUT: heads
                  VIOLATION_WHERE: "ppl_bucket <> 'head' OR doc_id > 3"
                  NOT_NULL: ppl_avg_nll
            """
        )
    )
    res = _run_cli(str(manifest))
    out = res.stdout.decode()
    assert res.returncode == 0, out
    got = _normalize(out, str(tmp_path))
    expected = textwrap.dedent(
        """\
        ╭──╴Executing job: ppl-head ╶╴╴╶ ╶
        ┏━━╸Executing command: corpus (1 of 3) ━╴╴╶ ╶
        ┃   name: corpus
        ┃   description: null
        ┃   task: sql
        ┃   env:
        ┃     QUERY: SELECT * FROM VALUES
          (0, 'the cat sat on the mat and the cat sat again'),
          (1, 'the cat sat on the mat and the cat sat again'),
          (2, 'the cat sat on the mat and the cat sat again'),
          (3, 'the cat sat on the mat and the cat sat again'),
          (4, 'zq xv prw lkj mnb qaz wsx edc rfv tgb yhn ujm'),
          (5, 'plo okm ijn uhb ygv tfc rdx esz wam qpl zoe ktr')
        AS t(doc_id, text)
        ┃   skip: false
        ┃╭──╴Executing task: sql ─╴╴╶ ╶
        ┃│{TS}┊ Running command corpus (task=sql)
        ┃╰──╴Return code: 0 ─╴╴╶ ╶
        ┏━━╸Executing command: heads (2 of 3) ━╴╴╶ ╶
        ┃   name: heads
        ┃   description: null
        ┃   task: perplexity_filter
        ┃   env:
        ┃     INPUT: corpus
        ┃     KEEP: head
        ┃     TEXT_COL: text
        ┃     ID_COL: doc_id
        ┃     EXACT: True
        ┃     FIT_FRACTION: auto
        ┃   skip: false
        ┃╭──╴Executing task: perplexity_filter ─╴╴╶ ╶
        ┃│{TS}┊ Running command heads (task=perplexity_filter)
        ┃╰──╴Return code: 0 ─╴╴╶ ╶
        ┏━━╸Executing command: gate (3 of 3) ━╴╴╶ ╶
        ┃   name: gate
        ┃   description: null
        ┃   task: expect
        ┃   env:
        ┃     INPUT: heads
        ┃     VIOLATION_WHERE: ppl_bucket <> 'head' OR doc_id > 3
        ┃     NOT_NULL: ppl_avg_nll
        ┃     UNIQUE:
        ┃     RANGE:
        ┃     MATCHES:
        ┃     MODE: fail
        ┃   skip: false
        ┃╭──╴Executing task: expect ─╴╴╶ ╶
        ┃│{TS}┊ Running command gate (task=expect)
        ┃╰──╴Return code: 0 ─╴╴╶ ╶
        │ Done! \\o/
        corpus: success
        heads: success
        gate: success"""
    ).strip()
    assert got == expected, f"--- got ---\n{got}\n--- want ---\n{expected}"


def test_incremental_minhash_store_two_run_golden_transcript(tmp_path):
    """Cross-run MinHash store screening end-to-end through the CLI,
    two runs pinned (VERDICT r10 item 8): run 1 collapses the in-batch
    near-twin (lower id survives) and seeds the persisted signature
    store; run 2 ingests a new shard — fresh ids (the operator's
    documented cross-run contract), lightly perturbed near-duplicate
    content — against the now-populated store, and an expect gate
    FAILS the job if ANY row survives — so two green transcripts pin
    the new x all store discipline, not just the stage flow."""
    (tmp_path / "data").mkdir()

    Q1 = """SELECT * FROM VALUES
  (0, 'the quick brown fox jumps over the lazy dog again and again today'),
  (1, 'the quick brown fox jumps over the lazy dog again and again now'),
  (2, 'completely different text about spark partitions and shuffle exchanges'),
  (3, 'a third unrelated document mentioning parquet column pruning instead')
AS t(doc_id, text)"""
    Q2 = """SELECT * FROM VALUES
  (10, 'the quick brown fox jumps over the lazy dog again and again tonight'),
  (12, 'completely different text about spark partitions and shuffle exchange'),
  (13, 'the third unrelated document mentioning parquet column pruning instead')
AS t(doc_id, text)"""

    def manifest(n: int, violation: str, query: str) -> str:
        p = tmp_path / f"incr{n}.yml"
        indented_query = textwrap.indent(query, " " * 24)
        p.write_text(
            textwrap.dedent(
                f"""
                name: incr-minhash
                description: cross-run MinHash store screening
                data: {tmp_path}/data
                commands:
                  - name: shard
                    task: sql
                    env:
                      QUERY: >
{indented_query}
                  - name: screened
                    task: incremental_dedup
                    env:
                      INPUT: shard
                      MODE: minhash
                      THRESHOLD: 0.5
                      STORE: {tmp_path}/stores/minhash_sigs
                  - name: gate
                    task: expect
                    env:
                      INPUT: screened
                      VIOLATION_WHERE: "{violation}"
                  - name: sink
                    task: write_parquet
                    env:
                      INPUT: screened
                      PATH: {tmp_path}/out{n}
                """
            )
        )
        return str(p)

    def transcript(n: int, violation: str, query: str) -> str:
        # the CLI echoes QUERY with continuation lines unprefixed; the
        # template below is dedent-ed by 12, so re-indent continuation
        # lines by 12 to survive the dedent with their own offsets
        qlines = query.splitlines()
        q_echo = "┃     QUERY: " + qlines[0] + "".join(
            "\n" + " " * 12 + ln for ln in qlines[1:]
        )
        return textwrap.dedent(
            f"""\
            ╭──╴Executing job: incr-minhash ╶╴╴╶ ╶
            ┏━━╸Executing command: shard (1 of 4) ━╴╴╶ ╶
            ┃   name: shard
            ┃   description: null
            ┃   task: sql
            ┃   env:
            {q_echo}
            ┃   skip: false
            ┃╭──╴Executing task: sql ─╴╴╶ ╶
            ┃│{{TS}}┊ Running command shard (task=sql)
            ┃╰──╴Return code: 0 ─╴╴╶ ╶
            ┏━━╸Executing command: screened (2 of 4) ━╴╴╶ ╶
            ┃   name: screened
            ┃   description: null
            ┃   task: incremental_dedup
            ┃   env:
            ┃     INPUT: shard
            ┃     MODE: minhash
            ┃     THRESHOLD: 0.5
            ┃     STORE: {{TMP}}/stores/minhash_sigs
            ┃     TEXT_COL: text
            ┃     ID_COL: doc_id
            ┃   skip: false
            ┃╭──╴Executing task: incremental_dedup ─╴╴╶ ╶
            ┃│{{TS}}┊ Running command screened (task=incremental_dedup)
            ┃╰──╴Return code: 0 ─╴╴╶ ╶
            ┏━━╸Executing command: gate (3 of 4) ━╴╴╶ ╶
            ┃   name: gate
            ┃   description: null
            ┃   task: expect
            ┃   env:
            ┃     INPUT: screened
            ┃     VIOLATION_WHERE: {violation}
            ┃     NOT_NULL:
            ┃     UNIQUE:
            ┃     RANGE:
            ┃     MATCHES:
            ┃     MODE: fail
            ┃   skip: false
            ┃╭──╴Executing task: expect ─╴╴╶ ╶
            ┃│{{TS}}┊ Running command gate (task=expect)
            ┃╰──╴Return code: 0 ─╴╴╶ ╶
            ┏━━╸Executing command: sink (4 of 4) ━╴╴╶ ╶
            ┃   name: sink
            ┃   description: null
            ┃   task: write_parquet
            ┃   env:
            ┃     INPUT: screened
            ┃     PATH: {{TMP}}/out{n}
            ┃     MODE: overwrite
            ┃   skip: false
            ┃╭──╴Executing task: write_parquet ─╴╴╶ ╶
            ┃│{{TS}}┊ Running command sink (task=write_parquet)
            ┃╰──╴Return code: 0 ─╴╴╶ ╶
            │ Done! \\o/
            shard: success
            screened: success
            gate: success
            sink: success"""
        ).strip()

    # run 1: near-twin 1 collapses onto 0; distinct docs survive
    v1 = "doc_id = 1"
    res1 = _run_cli(manifest(1, v1, Q1))
    out1 = res1.stdout.decode()
    assert res1.returncode == 0, out1
    got1 = _normalize(out1, str(tmp_path))
    assert got1 == transcript(1, v1, Q1), f"--- got ---\n{got1}"

    # run 2: fresh ids, near-dup content — the STORE screens every row
    v2 = "true"
    res2 = _run_cli(manifest(2, v2, Q2))
    out2 = res2.stdout.decode()
    assert res2.returncode == 0, out2
    got2 = _normalize(out2, str(tmp_path))
    assert got2 == transcript(2, v2, Q2), f"--- got ---\n{got2}"
