"""Regenerate PLANS.md: formatted physical plans for the headline
queries (the '.explain("formatted") and iterate' evidence trail).

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

HEADLINE = [
    "q_agg_pricing_summary",
    "q_join_revenue_by_nation",
    "q_join_range",
    "q_join_asof",
    "q_win_ranking",
    "q_tpch_q7_like",
    "q_dedup_exact",
    "q_scan_parquet",
    "q_sim_topk_cosine",
    "q_text_tfidf",
    "q_dedup_minhash_lsh",
    "q_tpch_q18_like",
    "q_tpch_q21_like",
    "q_graph_triangles",
    "q_text_line_dedup",
    "q_ts_interpolate_linear",
    "q_ts_anomaly_zscore",
    "q_join_skew_salted",
    "q_basket_frequent_pairs",
    "q_attribution_last_touch",
    "q_join_effective_dated",
    "q_agg_bitmap_distinct",
    "q_join_bloom_pruned",
]

# Curated per-query annotations, emitted above the plan so they
# survive regeneration (PLANS.md is fully overwritten by this tool).
NOTES = {
    "q_join_asof": (
        "Drift note (r5): the r3→r4 headline move (0.298→0.359s) was "
        "investigated with 5 back-to-back sf0.1 trials — spread "
        "0.530–1.185s, i.e. host variance is ~10× the 61ms drift; the "
        "plan is unchanged (one exchange, one sort, one window pass). "
        "Confirmed noise, no action."
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import xetl_spark.queries as Q
    from xetl_spark.session import get_session

    spark = get_session("dump_plans")
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}`. What to look",
        "for: `PushedFilters`/`ReadSchema` on scans (pushdown + pruning),",
        "`BroadcastHashJoin` on dimension joins, a single Exchange per",
        "aggregation (partial+final), `ArrowEvalPython`/`MapInPandas` only",
        "in the declared Python-surface operators.",
        "",
    ]
    for name in HEADLINE:
        df = Q.REGISTRY[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        note = f"{NOTES[name]}\n\n" if name in NOTES else ""
        out.append(f"## {name}\n\n{note}```\n{buf.getvalue().strip()}\n```\n")
    with open(REPO / "PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
