"""Regenerate ANN.md: recall@10 vs steady-state wall time for every
similarity-search strategy in the engine, on the sf0.1 embeddings —
the evidence table for choosing a method by corpus size.

Brute force is exact by construction (recall 1.0) and linear in the
corpus; the others trade recall for sub-linear scan cost (LSH/IVF) or
constant-factor compression (PQ: 32× smaller scans; IVF-PQ: both).

Usage: python tools/ann_report.py
"""

from __future__ import annotations

import sys
import time
from collections import defaultdict
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.1"
K = 10
N_QUERIES = 20


def bench_corpus(spark, sf_dir: str) -> tuple[int, list]:
    from pyspark.sql import functions as F

    from xetl_spark.operators.pq import ivfpq_topk, pq_topk
    from xetl_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_ann_topk,
        lsh_ann_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    x = np.asarray([r.embedding for r in rows], dtype=np.float64)
    qrows = queries.select("vec_id", "embedding").collect()
    # L2 ground truth (PQ family); cosine truth for the cosine methods
    truth_l2, truth_cos = {}, {}
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    for qr in qrows:
        qv = np.asarray(qr.embedding)
        d = ((x - qv) ** 2).sum(1)
        truth_l2[qr.vec_id] = {ids[i] for i in np.argsort(d, kind="stable")[:K]}
        c = xn @ (qv / np.linalg.norm(qv))
        # the cosine methods exclude the query row itself
        order = [i for i in np.argsort(-c, kind="stable") if ids[i] != qr.vec_id]
        truth_cos[qr.vec_id] = {ids[i] for i in order[:K]}

    def run(name, fn, truth, id_field):
        fn().count()  # steady-state warm pass
        t0 = time.time()
        res = fn().collect()
        dt = time.time() - t0
        by_q = defaultdict(set)
        for r in res:
            by_q[r[0]].add(r[id_field])
        rec = [
            len(truth[qid] & by_q.get(qid, set())) / K for qid in truth
        ]
        return name, sum(rec) / len(rec), dt

    results = [
        run(
            "brute-force cosine (exact)",
            lambda: cosine_topk_bruteforce(emb, queries, "embedding", "vec_id", k=K),
            truth_cos,
            1,
        ),
        run(
            "hyperplane LSH 8 tables (cosine)",
            lambda: lsh_ann_topk(emb, queries, "embedding", "vec_id", k=K),
            truth_cos,
            1,
        ),
        run(
            "hyperplane LSH 24 tables x4 planes (cosine)",
            lambda: lsh_ann_topk(emb, queries, "embedding", "vec_id", k=K, num_planes=4, num_tables=24),
            truth_cos,
            1,
        ),
        run(
            "IVF probe 4/16 (cosine)",
            lambda: ivf_ann_topk(emb, queries, "embedding", "vec_id", k=K, n_clusters=16, n_probe=4),
            truth_cos,
            1,
        ),
        run(
            "IVF probe 8/16 (cosine)",
            lambda: ivf_ann_topk(emb, queries, "embedding", "vec_id", k=K, n_clusters=16, n_probe=8),
            truth_cos,
            1,
        ),
        run(
            "PQ shortlist 100 + rerank (L2)",
            lambda: pq_topk(emb, queries, "embedding", k=K),
            truth_l2,
            1,
        ),
        run(
            "PQ shortlist 400 + rerank (L2)",
            lambda: pq_topk(emb, queries, "embedding", k=K, shortlist=400),
            truth_l2,
            1,
        ),
        run(
            "OPQ iters 6 shortlist 100 + rerank (L2)",
            lambda: pq_topk(emb, queries, "embedding", k=K, opq_iters=6),
            truth_l2,
            1,
        ),
        run(
            "IVF-PQ probe 8/16 shortlist 400 (L2)",
            lambda: ivfpq_topk(emb, queries, "embedding", n_cells=16, n_probe=8, k=K, shortlist=400),
            truth_l2,
            1,
        ),
    ]

    # amortized (persisted-codebook) rows: fit ONCE, price the query
    # side alone — the production pattern (codebooks refit per corpus
    # version, not per query batch; r13 verdict item 6). Fit seconds
    # are reported in the row name so the split is explicit.
    from xetl_spark.operators.pq import ivfpq_fit, opq_fit, pq_fit

    t0 = time.time()
    books = pq_fit(emb, "embedding", 8, 32)
    fit_pq = time.time() - t0
    t0 = time.time()
    rot, obooks = opq_fit(emb, "embedding", 8, 32, iters=6)
    fit_opq = time.time() - t0
    t0 = time.time()
    ivfpq_pre = ivfpq_fit(emb, "embedding", n_cells=16)
    fit_ivfpq = time.time() - t0
    results += [
        run(
            f"PQ shortlist 400, prefit codebooks (fit once: {fit_pq:.1f}s)",
            lambda: pq_topk(emb, queries, "embedding", k=K, shortlist=400,
                            prefit=(None, books)),
            truth_l2,
            1,
        ),
        run(
            f"OPQ shortlist 100, prefit rotation+codebooks (fit once: {fit_opq:.1f}s)",
            lambda: pq_topk(emb, queries, "embedding", k=K,
                            prefit=(rot, obooks)),
            truth_l2,
            1,
        ),
        run(
            f"IVF-PQ probe 8/16 shortlist 400, prefit (fit once: {fit_ivfpq:.1f}s)",
            lambda: ivfpq_topk(emb, queries, "embedding", n_cells=16,
                               n_probe=8, k=K, shortlist=400,
                               prefit=ivfpq_pre),
            truth_l2,
            1,
        ),
    ]

    # the persisted cell-partitioned store path (the layout
    # semdedup_save_store shares since round 9) — build once, measure
    # the query side
    import shutil
    import tempfile

    from xetl_spark.operators.similarity import (
        ivf_build_index,
        ivf_query_index,
    )

    idx = tempfile.mkdtemp(prefix="ann_ivf_idx_")
    try:
        ivf_build_index(emb, "embedding", "vec_id", idx, n_clusters=16, seed=42)
        results.append(
            run(
                "IVF persisted index probe 8/16 (cosine)",
                lambda: ivf_query_index(
                    spark, idx, queries, "embedding", "vec_id", k=K, n_probe=8
                ),
                truth_cos,
                1,
            )
        )
    finally:
        shutil.rmtree(idx, ignore_errors=True)
    return len(ids), results


def main() -> None:
    import os

    from xetl_spark.session import get_session

    spark = get_session("ann_report")
    spark.sparkContext.setLogLevel("ERROR")

    corpora = [SF_DIR]
    sf1 = str(REPO / ".sfdata" / "sf1")
    if os.path.isdir(sf1):
        corpora.append(sf1)

    lines = [
        "# ANN — recall/latency across the similarity-search stack",
        "",
        f"Generated by `python tools/ann_report.py`; {N_QUERIES} queries,",
        f"k={K}, steady-state (second-run) wall seconds at local[32].",
        "Recall is against exact search under each method's own metric",
        "(cosine or L2). At thousands of vectors brute force wins",
        "outright — sub-linear methods pay fixed candidate-generation",
        "overhead that only amortizes at millions of vectors; the point",
        "of the table is the recall DIAL: each method's parameters trade",
        "recall for scan cost, and recall climbs toward exact as the",
        "dial opens (tables/planes for LSH, probes for IVF, shortlist",
        "for PQ). Scan-cost notes: LSH/IVF prune the candidate set; PQ",
        "scans everything but 32x smaller; IVF-PQ does both.",
        "The sf1 table (r13, 10x vectors with per-copy jitter) shows the",
        "dial holds as the corpus grows: the exact methods' wall grows",
        "with the scan while the bucketed methods' candidate sets stay",
        "pruned. Two sf1 caveats: (1) recall reads near 1.0 for every",
        "method there because gen_sf's jittered copies make each query's",
        "true top-10 its own near-copies — trivially findable, so the",
        "sf0.1 table is the honest recall dial; (2) the PQ/OPQ walls at",
        "sf1 are dominated by the codebook FIT, which hits its 20k-row",
        "bounded sample ceiling exactly at this corpus (pq.py",
        "_MAX_FIT_SAMPLE) — constant beyond it. The 'prefit' rows (r14)",
        "price the production pattern directly: codebooks fitted ONCE",
        "(fit seconds in the row name) and reused per query batch via",
        "pq_topk/ivfpq_topk's prefit parameter — their walls are the",
        "recurring per-batch cost; the fit-per-call rows above them are",
        "what a naive per-batch refit pays.",
    ]
    for d in corpora:
        n, results = bench_corpus(spark, d)
        lines += [
            "",
            f"## {d} ({n} vectors, 64-dim)",
            "",
            "| method | recall@10 | seconds |",
            "|---|---|---|",
        ]
        for name, rec, dt in results:
            lines.append(f"| {name} | {rec:.2f} | {dt:.2f} |")
    lines.append("")
    with open(REPO / "ANN.md", "w") as fh:
        fh.write("\n".join(lines))
    print("wrote ANN.md")


if __name__ == "__main__":
    main()
