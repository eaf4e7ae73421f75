"""Physical-plan audit for the query inventory.

Flags plan shapes that would hurt at 100 TB:
- CartesianProduct / BroadcastNestedLoopJoin on non-tiny inputs
- row-at-a-time PythonUDF (BatchEvalPython) in any plan that isn't an
  explicitly-declared Python-surface query
- parquet scans with no ReadSchema pruning (SELECT * shapes are fine
  only for roundtrip queries)
- more than N shuffle exchanges per query

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

# queries whose whole point is a Python execution path
PYTHON_SURFACE = {
    "q_udf_scalar_python",
    "q_udf_pandas_scalar",
    "q_udf_grouped_map",
    "q_udf_sql_registered",
    "q_udaf_grouped_agg",
    "q_udf_cogrouped",
    "q_udtf_split",
    "q_udtf_polymorphic",
    "q_sim_topk_cosine",
    "q_multimodal_features",
}
# tiny-side cartesian products that are intentional
CROSS_OK = {"q_join_cross", "q_join_theta", "q_fn_array_explode", "q_sub_scalar", "q_text_tfidf"}

# justified per-query exchange allowances (default cap is 6):
# q_dedup_minhash_lsh — end-to-end LSH dedup is 7 keyed stages by
# construction: local-only ingest repartition, signature aggregation,
# two banded self-join sides, candidate-pair distinct, two doc-keyed
# verify joins. Every exchange carries per-doc/per-pair rows (never the
# exploded shingle table), so each is O(|docs|+|pairs|) payload.
# q_graph_triangles — the id-canonical edge table is persisted and
# feeds three consumers (degrees, orientation, closure); the static
# plan text repeats the cached InMemoryRelation subtree (scan self-join
# + distinct, 5 exchanges) under each consumer, so the textual count
# triples work that executes once. Live exchanges: edge build (5),
# degree agg + two degree joins (3), wedge self-join (1), closure join
# (1), vertex rollup (1).
# q_fuzzy_name_join — base (names) and sig (variant hashes) are
# persisted and feed 3 / 2 consumers respectively; the static text
# repeats each cached subtree per consumer. Live exchanges: distinct
# names (1), variant-hash distinct (1), candidate self-join (2),
# candidate distinct (1), two verify joins (2).
# q_join_effective_dated — SCD2 build + effective-dated fact lookup is
# 7 user-keyed stages by construction: two first/last-occurrence
# windows (2), the fold join (2 sides), the three-branch history union
# re-exchange (2), and the fact-side join (1). Every exchange carries
# one row per user or per fact — nothing exploded — and all hash on
# user_id, so AQE coalescing stacks them onto the same partitioning.
# q_ivm_rollup_maintenance — deliberately chains the WHOLE IVM
# lifecycle (sum/count snapshot, min/max top-k snapshot = 2 windows,
# one change-batch fold, the semi-join-pruned dirty-group repair = a
# nested snapshot over the pruned base, and the merged read) into one
# plan so the driver can hash-verify it end to end. In production each
# step is a separate O(|batch|) job against a PERSISTED state table —
# the per-plan exchange count here is the demo composition, not the
# steady-state cost; every exchange carries one row per group or per
# batch row. r13 (+9 textual): the large-delta recompute guard adds a
# scalar per-group pre-aggregation + broadcast anti-join whose batch
# subtree the static text repeats under the delta agg and the repair
# consumer — measured movement is unchanged (SHUFFLE.md: 0.00 MB
# write at sf0.1, 0.02 MB at sf1, 20 executed stages), and the guard
# is what keeps the fold off the O(|batch-group|^2) path the sf1 leg
# caught.
# q_text_bigram_logprob — round-8 de-skew rewrite: the corpus counts
# C(w1,w2) and C(w1.) are groupBy aggregations JOINED BACK instead of
# windows (windows do no partial aggregation and AQE cannot skew-split
# them — a hot head like "the" would pin ~one row per document on one
# task). Exchange COUNT rose, but all the added exchanges carry
# VOCABULARY-sized tables (distinct bigrams / heads); the corpus-sized
# per-(doc,bigram) table exchanges exactly once on (w1,w2) — the
# ratios table is pre-joined so the skewed w1 key never re-shuffles
# corpus rows. Skew safety + lower corpus-bytes beat the raw count.
# q_text_kn_bigram_logprob — same de-skew discipline as
# q_text_bigram_logprob with ONE extra vocabulary-keyed join: the
# Kneser-Ney continuation counts N1+(·,w2) join back on w2 in
# addition to the head stats on w1 (absolute discount needs both).
# All added exchanges carry the vocabulary-sized distinct-bigram
# table or its w1/w2 rollups; the corpus-sized per-(doc,bigram)
# table still exchanges exactly once on (w1,w2) plus the final
# per-doc aggregation.
# q_text_perplexity_buckets — the Kneser-Ney scoring pipeline (11
# exchanges, justified at q_text_kn_bigram_logprob) is persisted and
# feeds TWO consumers (the global order-statistic threshold agg and
# the bucket labeling), so the static plan text repeats the cached
# subtree under each — the textual count roughly doubles work that
# executes once (the q_graph_triangles pattern). Live exchanges:
# the KN pipeline once (11), one single-partition global agg over the
# doc-count-sized scored table (1), threshold broadcast (0 shuffles).
# q_text_kn_sampled_fit — the CCNet fit/score split: the fit-side
# model aggregations run over the 10% subset (bf groupBy, g12, heads,
# tails, totals = 5 small exchanges + their partial/final pairs in the
# static text), while the SCORING side is exchange-free by design —
# raw exploded bigram instances flow through three BROADCAST joins
# (plan-asserted: zero SortMergeJoin) into the per-doc aggregation,
# whose exchange carries one partial row per (doc, partition). The
# count is fit-side bookkeeping over 10% of the corpus; the corpus
# itself is never re-keyed. SHUFFLE.md: 2.28 MB vs 12.86 self-fit.
# q_dedup_incremental_semantic — deliberately chains TWO full
# incremental_semdedup invocations (store build from batch 1 +
# screen of batch 2) into one plan so the driver verifies the
# cross-run lifecycle end to end, the q_ivm_rollup_maintenance demo
# pattern. Live exchanges per increment: cell-size guard agg (1),
# cell equi-join (2 sides), dup-id distinct (1), anti-joins (2) —
# all over per-doc (id, cell, unit) rows, never pairwise tables; in
# production each increment is a separate job against the persisted
# store. r14: the cell equi-join carries a shuffle_hash hint (the
# vector-laden store side must never become an AQE broadcast — the
# wire-size estimate hides array rows' JVM footprint, the sf10 OOM
# class), which pins BOTH sides as exchanges in the static text and
# repeats the unioned old+new store subtree under each — 19 -> 30
# textual exchanges for the same per-doc data movement. r15: the
# movement itself is now GATED in MB, not counted in nodes —
# tools/movement_gate.py measured 2.46 MB shuffle write at sf0.1 for
# this query (bound 5 MB) and bounds every allowance-listed query the
# same way, so this list can no longer creep silently.
EXCHANGE_ALLOWANCE = {
    "q_text_bigram_logprob": 9,
    "q_text_kn_bigram_logprob": 11,
    "q_dedup_minhash_lsh": 7,
    "q_graph_triangles": 21,
    "q_fuzzy_name_join": 10,
    "q_join_effective_dated": 7,
    "q_ivm_rollup_maintenance": 34,
    "q_text_perplexity_buckets": 24,
    "q_text_kn_sampled_fit": 11,
    "q_dedup_incremental_semantic": 30,
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    import xetl_spark.queries as Q
    from xetl_spark.session import get_session

    spark = get_session("plan_audit")
    findings: list[str] = []
    for name, q in Q.REGISTRY.items():
        if only and name not in only:
            continue
        if name.startswith("q_stream_") or name in ("q_ingest_url",):
            continue  # streaming queries execute eagerly; skip planning audit
        try:
            df = q.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:
            findings.append(f"{name}: PLAN ERROR {exc}")
            continue
        n_exchange = len(re.findall(r"Exchange (?:hash|range|SinglePartition)", plan))
        if "CartesianProduct" in plan and name not in CROSS_OK:
            findings.append(f"{name}: CartesianProduct in plan")
        if "BatchEvalPython" in plan and name not in PYTHON_SURFACE:
            findings.append(f"{name}: row-at-a-time PythonUDF in plan")
        if n_exchange > EXCHANGE_ALLOWANCE.get(name, 6):
            findings.append(f"{name}: {n_exchange} shuffle exchanges")
        print(f"{name}: exchanges={n_exchange} "
              f"bcast={'BroadcastHashJoin' in plan} "
              f"smj={'SortMergeJoin' in plan} "
              f"pushed={'PushedFilters: [' in plan}")
    print("\n--- findings ---")
    for f in findings or ["none"]:
        print(f)
    return 1 if findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
