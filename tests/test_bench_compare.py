"""tools/bench_compare.py artifact-shape handling (r14, verdict item
5): truncated-tail recovery, compact-summary merge, and the packed
full-record line. No Spark session needed."""

from __future__ import annotations

import base64
import gzip
import json
import subprocess
import sys

from conftest import REPO

FULL = {
    "metric": "headline_query_wall_seconds",
    "value": 9.5,
    "unit": "sec",
    "queries": {"q_a": 1.0, "q_b": 2.0},
    "tpch_suite_wall_seconds": 8.0,
    "tpch_queries": {"q_tpch_q1_like": 0.5, "q_tpch_q2_like": 0.7},
    "llm_suite_wall_seconds": 25.0,
    "llm_queries": {"q_dedup_exact": 0.2},
    "streaming_events_per_sec": 120000,
    "loadavg_start": [2.0, 2.0, 2.0],
    "loadavg_legs": {"headline": 2.5},
    "action": "noop_write",
    "sf": 0.1,
}


def _pack(d: dict) -> str:
    return json.dumps(
        {"packed": base64.b64encode(gzip.compress(json.dumps(d).encode(), mtime=0)).decode()}
    )


def _run(old_path, new_path):
    p = subprocess.run(
        [sys.executable, "tools/bench_compare.py", str(old_path), str(new_path)],
        capture_output=True, text=True, cwd=REPO,
    )
    return p.returncode, p.stdout + p.stderr


def test_truncated_tail_recovery(tmp_path):
    """parsed:null + a front-truncated tail (the BENCH_r12 shape): the
    compare must SAY the artifact is truncated and recover the whole
    sub-objects that survived, instead of emitting all-'?' rows."""
    full_line = json.dumps(FULL)
    # keep only the last chunk, cutting into the middle of "queries"
    tail = full_line[len(full_line) // 3:]
    old = tmp_path / "old.json"
    old.write_text(json.dumps({"n": 1, "rc": 0, "tail": tail, "parsed": None}))
    new = tmp_path / "new.json"
    new.write_text(json.dumps(FULL))
    rc, out = _run(old, new)
    assert "parsed:null (tail-truncated artifact)" in out
    # tpch/llm maps printed AFTER queries survived whole -> real ratios
    assert "tpch_queries" in out and "1.00x" in out
    # the truncated headline map diffs as missing, with the note naming it
    assert "missing in one run" in out
    assert rc == 0, out


def test_compact_summary_plus_tail_merge(tmp_path):
    """parsed = the compact summary line (BENCH_r13 shape): suite maps
    recovered from the tail merge UNDER the parsed keys."""
    compact = {k: FULL[k] for k in (
        "metric", "value", "unit", "queries",
        "tpch_suite_wall_seconds", "llm_suite_wall_seconds",
        "streaming_events_per_sec", "loadavg_legs", "sf",
    )}
    full_line = json.dumps(FULL)
    tail = full_line[len(full_line) // 3:] + "\n" + json.dumps(compact)
    old = tmp_path / "old.json"
    old.write_text(json.dumps({"n": 1, "rc": 0, "tail": tail, "parsed": compact}))
    new = tmp_path / "new.json"
    new.write_text(json.dumps(FULL))
    rc, out = _run(old, new)
    assert "compact summary line" in out
    assert "q_tpch_q1_like" in out and "missing in one run" not in out.split(
        "-- tpch_queries --")[1].split("-- llm_queries --")[0]
    assert rc == 0, out


def test_packed_line_beats_regex_recovery(tmp_path):
    """An intact packed line in the tail (r14 bench.py) IS the full
    record: per-suite diffs come back complete even though the full
    JSON line itself was truncated away."""
    compact = {"metric": FULL["metric"], "value": FULL["value"],
               "queries": FULL["queries"], "sf": 0.1}
    tail = "…truncated…" + "\n" + _pack(FULL) + "\n" + json.dumps(compact)
    old = tmp_path / "old.json"
    old.write_text(json.dumps({"n": 1, "rc": 0, "tail": tail, "parsed": compact}))
    new = tmp_path / "new.json"
    new.write_text(json.dumps(FULL))
    rc, out = _run(old, new)
    assert "missing in one run" not in out, out
    assert "q_dedup_exact" in out
    assert rc == 0, out


def test_tail_pair_fallback_front_truncated_suite(tmp_path):
    """The REAL BENCH_r13 shape: the full record's llm_queries dict is
    cut at the FRONT (its open brace truncated away), so whole-dict
    recovery can't match — but every surviving '"q_x": 1.23' pair must
    still produce a real ratio via the pair fallback instead of a
    'missing in one run' row."""
    compact = {k: FULL[k] for k in (
        "metric", "value", "unit", "queries",
        "tpch_suite_wall_seconds", "llm_suite_wall_seconds",
        "streaming_events_per_sec", "loadavg_legs", "sf",
    )}
    full_line = json.dumps(FULL)
    # cut at the llm_queries dict's first key: the pair survives whole
    # but the dict's opening brace (and everything before) is gone
    cut = full_line.index('"q_dedup_exact"')
    tail = full_line[cut:] + "\n" + json.dumps(compact)
    old = tmp_path / "old.json"
    old.write_text(json.dumps({"n": 1, "rc": 0, "tail": tail, "parsed": compact}))
    new = tmp_path / "new.json"
    new.write_text(json.dumps(FULL))
    rc, out = _run(old, new)
    assert "pair fallback" in out
    llm = out.split("-- llm_queries --")[1].split("-- throughput --")[0]
    assert "q_dedup_exact" in llm and "1.00x" in llm
    assert "missing in one run" not in llm, out
    assert rc == 0, out


def test_tail_pair_fallback_is_suite_scoped(tmp_path):
    """A query name reused across suites with DIFFERENT values (the
    real BENCH_r14 shape: q_tpch_q7_like 0.552 headline vs 0.521 tpch)
    must never cross-fill: when truncation eats one suite's dict while
    a same-named pair survives from another suite, the row reads
    'missing in one run' — not a wrong-suite ratio (r15 ADVICE)."""
    full = dict(FULL)
    full["queries"] = {"q_shared": 0.552, "q_b": 2.0}
    full["tpch_queries"] = {"q_shared": 0.521}
    compact = {k: full[k] for k in (
        "metric", "value", "unit",
        "tpch_suite_wall_seconds", "llm_suite_wall_seconds",
        "streaming_events_per_sec", "loadavg_legs", "sf",
    )}
    full_line = json.dumps(full)
    # cut INSIDE the headline queries dict so its pairs are orphaned but
    # attributable (the next scalar key after the dict close names the
    # suite); the tpch dict survives whole
    cut = full_line.index('"q_shared"')
    tail = full_line[cut:] + "\n" + json.dumps(compact)
    old = tmp_path / "old.json"
    old.write_text(json.dumps({"n": 1, "rc": 0, "tail": tail, "parsed": compact}))
    new = tmp_path / "new.json"
    new.write_text(json.dumps(full))
    rc, out = _run(old, new)
    # orphan head pairs attributed to the HEADLINE suite (next key is
    # tpch_suite_wall_seconds) -> real ratios there...
    head = out.split("-- queries --")[1].split("-- tpch_queries --")[0]
    assert "q_shared" in head and "1.00x" in head, out
    # ...and the tpch row must use the TPCH value 0.521, never 0.552
    tp = out.split("-- tpch_queries --")[1].split("-- llm_queries --")[0]
    assert "0.521" in tp and "0.552" not in tp, out
    assert rc == 0, out


def test_tail_pair_exponent_values(tmp_path):
    """Scientific-notation values (json.dumps emits 1e-05 for tiny
    floats) are recovered whole, never truncated to the mantissa
    (r15 ADVICE: '1e-05' must not become 1.0)."""
    full = dict(FULL)
    full["llm_queries"] = {"q_dedup_exact": 1e-05}
    full_line = json.dumps(full)
    compact = {k: full[k] for k in ("metric", "value", "unit", "queries", "sf")}
    cut = full_line.index('"q_dedup_exact"')
    tail = full_line[cut:] + "\n" + json.dumps(compact)
    old = tmp_path / "old.json"
    old.write_text(json.dumps({"n": 1, "rc": 0, "tail": tail, "parsed": compact}))
    new = tmp_path / "new.json"
    new.write_text(json.dumps(full))
    rc, out = _run(old, new)
    llm = out.split("-- llm_queries --")[1].split("-- throughput --")[0]
    assert "1e-05" in llm and "1.00x" in llm, out
    assert rc == 0, out


def test_packed_stdout_capture(tmp_path):
    """A raw bench.py stdout capture whose full line was lost but whose
    packed line survived parses to the full record."""
    compact = {"metric": FULL["metric"], "value": FULL["value"],
               "queries": FULL["queries"], "sf": 0.1}
    txt = _pack(FULL) + "\n" + json.dumps(compact)
    old = tmp_path / "old.json"
    old.write_text(txt)
    new = tmp_path / "new.json"
    new.write_text(json.dumps(FULL))
    rc, out = _run(old, new)
    assert "missing in one run" not in out, out
    assert rc == 0, out
