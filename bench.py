"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "action": "noop_write", "sf": ...}

Each query is timed end-to-end (plan + execute + full materialization
through the noop sink — a bare count() lets Catalyst prune the very
work being measured) after a one-query JVM warmup, and the
REPORTED time is the best of ``SPARK_GRAFT_BENCH_REPS`` runs (default
3): identical code has measured 9.3s and 42.9s within two hours under
shared-host load, so a single sample is noise — min-of-N plus the
recorded load averages make a slow number diagnosable as contention
vs regression. ``value`` is the total wall time of the headline set.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q_agg_pricing_summary",
    "q_join_revenue_by_nation",
    "q_agg_count_distinct",
    "q_agg_decimal_exact",
    "q_join_range",
    "q_join_asof",
    "q_win_ranking",
    "q_win_topk_per_group",
    "q_tpch_q7_like",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_sim_topk_cosine",
    "q_text_stats",
    "q_text_tfidf",
    "q_stream_session_window",
    "q_udf_pandas_scalar",
]


LLM_SUITE = [
    "q_dedup_simhash",
    "q_dedup_ngram_jaccard",
    "q_dedup_embedding_cosine",
    "q_sim_lsh_ann",
    "q_text_unigram_logprob",
    "q_text_hashing_tfidf",
    "q_text_decontaminate",
    "q_pack_greedy",
    "q_multimodal_features",
    # round-6 additions
    "q_text_span_dedup",
    "q_text_bigram_logprob",
    "q_text_dsir_weights",
    # round-7 additions: document-format ingestion (constant-size
    # fixture battery — 200/240 docs regardless of SF, codec-bound)
    "q_ingest_pdf_text",
    "q_ingest_doc_matrix",
    # round-8 additions: shuffle-free corpus-filter passes
    "q_text_repetition_signals",
    "q_text_c4_rules",
    # round-9 additions: exact-extent span dedup (every-offset
    # windows — the per-token shuffle is the cost being measured) and
    # the CCNet perplexity split (KN pipeline + order-statistic
    # thresholds over the full documents table)
    "q_text_exact_span_dedup",
    "q_text_perplexity_buckets",
    # round-10 additions: language-routed Flesch (pure-Catalyst CASE
    # routing over the 440-doc multilang fixture) and the SOF10
    # arithmetic-progressive codec battery (constant-size, codec-bound)
    "q_text_flesch_multilang",
    "q_multimodal_jpeg_arith_progressive",
    # round-11 additions: the new codec flagships (constant-size
    # fixture batteries, codec-bound — encode-once/decode-once; the
    # twin-parity verification lives in pytest, not here)
    "q_multimodal_webp",
    "q_multimodal_flac",
    "q_multimodal_anim_frames",
    # round-12 additions: ISO-BMFF demux + MJPEG/G.711 decode through
    # the sample-table walk, and the VP8 header/quality probe (all
    # constant-size fixture batteries, codec-bound)
    "q_multimodal_mp4_samples",
    "q_multimodal_mp4_mjpeg_frames",
    "q_multimodal_vp8_quality",
    "q_multimodal_mp4_fragmented",
    "q_multimodal_webm_probe",
    "q_multimodal_vp9_quality",
    "q_media_quality",
    "q_media_quality_audio",  # r13: the audio arm of the unified column
    "q_multimodal_av1_probe",
    "q_multimodal_avif_probe",
]

REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
# same soft load gate as tools/bench_compare.py: a leg that STARTS
# above it re-runs once (see run_leg); keep the two constants in sync
LOAD_SOFT = 4.0


def _best_of(run, reps: int = REPS) -> float:
    """Best (min) wall time of ``reps`` executions of run()."""
    best = None
    for _ in range(reps):
        t0 = time.time()
        run()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def _materialize(df) -> None:
    """Force full materialization of every row and column WITHOUT
    driver transfer: write to the noop sink. Deliberately NOT
    ``df.count()`` — Catalyst prunes unreferenced work under a bare
    count (a map-only projection collapses to a parquet row count,
    and a unique-key left join is eliminated outright), so count-based
    timings measured the SCAN, not the operator, for every shuffle-
    free query (found in round 9; the noop write executes the full
    plan exactly as a real sink would)."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_start = os.getloadavg()
    import xetl_spark.queries as Q
    from xetl_spark.profile import crossing_ms as crossing_probe_ms
    from xetl_spark.session import get_session

    spark = get_session("bench")

    # warmup: JVM, parquet reader, codegen, shuffle, and Arrow paths —
    # so per-query timings measure the queries, not engine cold-start
    warm = spark.read.parquet(f"{sf_dir}/region.parquet")
    warm.groupBy("r_name").count().collect()
    spark.range(1000).selectExpr("sum(id)").collect()
    # Python-worker + Arrow channel init (workers are reused afterwards)
    spark.range(100).mapInPandas(lambda it: it, schema="id long").count()
    # per-query steady-state warmup: run each headline query once at the
    # smallest SF. Identical schemas → identical generated code, so this
    # pre-compiles each query's whole-stage-codegen classes (JVM JIT) and
    # timings below measure execution, not single-shot compile constants
    # that a long-lived cluster never re-pays. Measured effect at sf0.1:
    # the LSH dedup query is ~3s steady-state vs ~25s including cold JIT.
    # Two iterations: AQE re-plans at runtime stats produce a second wave
    # of generated classes, so a single pass leaves some compiles unpaid.
    # per-query try/except everywhere: one broken query must cost only
    # its own timing, never zero out the other measurements
    errors: dict[str, str] = {}
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_SF_DIR", "/root/testdata/sf0.001")
    tpch = [n for n in sorted(Q.REGISTRY) if n.startswith("q_tpch_q")]
    tpch.insert(0, "q_agg_pricing_summary")
    if os.path.isdir(warm_dir):
        for _ in range(2):
            for name in HEADLINE + tpch[1:] + LLM_SUITE:
                try:
                    _materialize(Q.REGISTRY[name].fn(spark, warm_dir))
                except Exception as e:  # noqa: BLE001
                    print(f"# warmup {name} failed: {e}", file=sys.stderr)

    # per-leg 1-minute load: contention can arrive mid-run (BENCH_r11's
    # phantom 1.64x "regression" was loadavg 8.18 at start), so each
    # suite leg records the load it actually ran under — bench_compare
    # gates on the max across legs, not just the pre-warmup snapshot
    load_legs: dict[str, float] = {}
    leg_retries: list[str] = []

    # host-regime telemetry the loadavg gate cannot see (r14): the
    # same codec-battery query has measured 0.75s and 2.2s in one day
    # at loadavg < 4 both times, tracking this probe (no gating)
    crossing_ms = crossing_probe_ms(spark)

    def run_leg(
        leg: str,
        names: list[str],
        errs: dict[str, str],
        loud: bool = True,
    ) -> dict[str, float]:
        """One suite leg with the load-retry rule (r13 verdict item 8):
        the leg records the 1-min loadavg it STARTED under; if that
        exceeded LOAD_SOFT (the same gate bench_compare widens on),
        the whole leg re-runs once after a settle pause and each query
        keeps its cross-pass best — ambient contention during one pass
        then can't masquerade as a per-query regression (q_ingest_pdf_
        text oscillated 3x across r10-r13 on load alone). At most one
        retry; if load never drops the leg is marked in leg_retries so
        the artifact says 'measured hot' instead of lying quietly."""
        out: dict[str, float] = {}

        def one_pass(acc: dict[str, float]) -> None:
            for name in names:
                q = Q.REGISTRY[name]
                try:
                    t = _best_of(lambda: _materialize(q.fn(spark, sf_dir)))
                except Exception as e:  # noqa: BLE001
                    errs[name] = f"{type(e).__name__}: {e}"[:300]
                    print(f"# {name}: FAILED {errs[name]}", file=sys.stderr)
                    continue
                acc[name] = min(t, acc.get(name, t))
                if loud:
                    print(f"# {name}: {acc[name]}s", file=sys.stderr)

        start_load = round(os.getloadavg()[0], 2)
        load_legs[leg] = start_load
        one_pass(out)
        if start_load > LOAD_SOFT:
            # settle: 1-min load decays with ~60s tau; 45s drops our own
            # contribution enough to see whether the contention was real
            time.sleep(45)
            retry_load = round(os.getloadavg()[0], 2)
            leg_retries.append(f"{leg}@{start_load}->retry@{retry_load}")
            print(
                f"# leg {leg} started at loadavg {start_load} > "
                f"{LOAD_SOFT}: re-running once (now {retry_load})",
                file=sys.stderr,
            )
            one_pass(out)
            load_legs[leg] = min(start_load, retry_load)
        return out

    # force full materialization of every row without driver transfer;
    # best-of-REPS so one noisy sample can't masquerade as a regression
    timings = run_leg("headline", HEADLINE, errors)

    # auxiliary suite: all 22 classic TPC-H plan shapes (pricing summary
    # is the Q1 shape). Reported under its own key so the headline
    # `value` stays comparable across rounds; failures here are also
    # recorded but don't null the headline total.
    aux_errors: dict[str, str] = {}
    tpch_timings = run_leg("tpch", tpch, aux_errors, loud=False)

    # auxiliary suite: the LLM-data-pipeline operator battery (dedup
    # variants beyond the headline LSH, similarity search, text
    # analysis, training-data assembly, multimodal featurize) — its own
    # key for the same comparability reason as the TPC-H suite.
    llm_timings = run_leg("llm", LLM_SUITE, aux_errors)

    # streaming throughput: drive the tumbling-window aggregation as a
    # REAL Structured Streaming query over the events table and report
    # events/sec end-to-end (source → watermark → stateful agg → sink).
    # Best-of-REPS wall → max eps. Reported under its own key; failures
    # recorded without nulling the headline total.
    stream_eps = None
    stream_start_load = round(os.getloadavg()[0], 2)
    load_legs["streaming"] = stream_start_load
    try:
        import duckdb

        n_events = duckdb.sql(
            f"SELECT count(*) FROM '{sf_dir}/events.parquet'"
        ).fetchone()[0]
        stream_wall = _best_of(
            lambda: Q.REGISTRY["q_stream_tumbling"].fn(spark, sf_dir).count()
        )
        if stream_start_load > LOAD_SOFT:  # same leg-retry rule
            time.sleep(45)
            retry_load = round(os.getloadavg()[0], 2)
            leg_retries.append(
                f"streaming@{stream_start_load}->retry@{retry_load}"
            )
            stream_wall = min(
                stream_wall,
                _best_of(
                    lambda: Q.REGISTRY["q_stream_tumbling"].fn(spark, sf_dir).count()
                ),
            )
            load_legs["streaming"] = min(stream_start_load, retry_load)
        stream_eps = round(n_events / stream_wall)
    except Exception as e:  # noqa: BLE001
        # kept out of `errors`: a streaming hiccup must not null the
        # headline batch total
        print(f"# streaming_throughput: FAILED {type(e).__name__}: {e}", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    load_end = os.getloadavg()
    out = {
        "metric": "headline_query_wall_seconds",
        # a failed query drops out of `timings`, which would make the
        # total *shrink* — a breakage must never read as a speedup, so
        # the aggregate is only published when the set ran complete
        "value": round(sum(timings.values()), 3) if not errors else None,
        "unit": "sec",
        "complete": not errors,
        "reps": REPS,
        "queries": timings,
        "tpch_suite_wall_seconds": round(sum(tpch_timings.values()), 3),
        "tpch_queries": tpch_timings,
        "llm_suite_wall_seconds": round(sum(llm_timings.values()), 3),
        "llm_queries": llm_timings,
        "streaming_events_per_sec": stream_eps,
        # host contention telemetry: this container runs on a shared
        # host; identical code has benched 9.3s vs 42.9s under load.
        # loadavg >> bench's own parallelism means distrust the numbers.
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
        "loadavg_legs": load_legs,
        # legs that started above LOAD_SOFT and re-ran (cross-pass
        # per-query best kept); empty = every leg ran under the gate
        "leg_retries": leg_retries,
        # JVM↔Python crossing regime at run start (ms; see
        # profile.crossing_ms) — interpret codec-battery / mapInPandas
        # query movement against this, not just loadavg
        "python_crossing_ms": crossing_ms,
        "action": "noop_write", "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        out["errors"] = errors
    if aux_errors:
        out["aux_errors"] = aux_errors
    print(json.dumps(out))
    # The driver archives only the LAST ~N bytes of output; the full
    # line above can outgrow that window, truncating its head (the
    # headline fields) into `parsed: null` (r12 verdict item 3). Two
    # tail-proof lines follow. First a gzip+base64-packed line carrying
    # exactly what the compact summary below LACKS (the per-suite query
    # maps + load provenance) — tools/bench_compare.py unpacks and
    # merges it for cross-round per-query diffs (r13's compact line
    # alone lost the suite maps, r13 verdict item 5). Packing only the
    # complement keeps packed+compact ≈ 1.8 KB, under the driver's
    # measured 2000-char tail window (the FULL record packed was 1.4 KB
    # and overflowed it together with the summary):
    import base64
    import gzip

    complement = {
        k: out[k]
        for k in (
            "tpch_queries", "llm_queries", "action",
            "loadavg_start", "loadavg_end", "leg_retries",
        )
        if k in out
    }
    packed = base64.b64encode(
        gzip.compress(json.dumps(complement).encode(), mtime=0)
    ).decode()
    print(json.dumps({"packed": packed}))
    # ...then a compact human-readable summary LAST — headline map
    # included, per-suite totals, no per-suite query maps — so even a
    # window too small for the packed line captures a complete,
    # parseable record of all four legs (and the driver's last-line
    # parse keeps its documented contract fields).
    compact = {
        "metric": "headline_query_wall_seconds",
        "value": out["value"],
        "unit": "sec",
        "complete": out["complete"],
        "reps": REPS,
        "queries": timings,
        "headline_wall_seconds": out["value"],
        "tpch_suite_wall_seconds": out["tpch_suite_wall_seconds"],
        "llm_suite_wall_seconds": out["llm_suite_wall_seconds"],
        "streaming_events_per_sec": stream_eps,
        "loadavg_legs": load_legs,
        "leg_retries": leg_retries,
        "python_crossing_ms": crossing_ms,
        "sf": out["sf"],
    }
    if errors:
        compact["errors"] = errors
    if aux_errors:
        compact["aux_error_names"] = sorted(aux_errors)
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
