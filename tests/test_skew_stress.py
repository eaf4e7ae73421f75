"""Skew-stress regression fixture (VERDICT r8 item 1).

Round 8 eliminated every ``Window.partitionBy(term)`` from the text
operators because a term-partitioned window pins a hot key's rows —
~one per document for a stopword or shared boilerplate — on ONE
unsplittable task at 100 TB (windows do no partial aggregation and
AQE skew-split does not apply to them). The replacement shape is
groupBy aggregation + join-back everywhere: map-side partials
collapse hot keys and the joins are AQE-skew-splittable.

These tests make that rewrite regression-proof:

1. a source + logical-plan guard that FAILS if any ``Window``
   (import, ``Window.partitionBy``, or a Window node in the optimized
   plan of any de-skewed operator) reappears in operators/text.py;
2. a hot-key corpus — shared boilerplate in half the docs, a
   stopword in every doc, one self-duplicated mega-doc — on which the
   de-skewed operators must produce exactly the values an independent
   single-process reference computes (skew must not distort results,
   only plans).
"""

from __future__ import annotations

import math
import re
from pathlib import Path

from pyspark.sql import functions as F

TEXT_PY = Path(__file__).resolve().parents[1] / "xetl_spark" / "operators" / "text.py"

BOILER = "subscribe to our newsletter for daily updates and exclusive offers"
STOP = "the"


def _tok(t: str) -> list[str]:
    return [w for w in re.sub(r"[^a-z0-9\s]", " ", t.lower()).strip().split() if w]


def _hot_corpus():
    """120 docs: every doc leads with the stopword; docs 0..59 carry
    the shared boilerplate line; doc 119 is a mega-doc of the
    boilerplate repeated 200x (2000 tokens — the unsplittable-task
    shape at scale)."""
    rows = []
    for i in range(119):
        own = " ".join(f"d{i}w{j}" for j in range(12))
        body = f"{STOP} {own}"
        if i < 60:
            body = f"{body}\n{BOILER}"
        rows.append((i, body))
    rows.append((119, "\n".join([f"{STOP} mega doc header"] + [BOILER] * 200)))
    return rows


def test_no_window_partitioning_in_text_operators(spark):
    """FAILS if anyone reintroduces Window.partitionBy (or any Window
    import/node) into the de-skewed text-operator family."""
    src = TEXT_PY.read_text()
    assert "Window" not in src, "pyspark Window usage reintroduced in operators/text.py"
    assert "pyspark.sql.window" not in src

    from xetl_spark.operators.text import (
        bigram_logprob,
        char_entropy,
        kn_bigram_logprob,
        line_dedup,
        natural_boundary_dedup,
        remove_duplicate_spans,
        remove_duplicate_spans_exact,
        repetition_signals,
        tf_idf,
        unigram_logprob,
    )

    df = spark.createDataFrame(
        [(i, f"{STOP} alpha beta\n{BOILER}") for i in range(4)],
        "doc_id long, text string",
    )
    builders = [
        lambda: tf_idf(df, "text", "doc_id"),
        lambda: unigram_logprob(df, "text", "doc_id"),
        lambda: bigram_logprob(df, "text", "doc_id"),
        lambda: kn_bigram_logprob(df, "text", "doc_id"),
        lambda: remove_duplicate_spans(df, "text", "doc_id", k_tokens=4, stride=2),
        lambda: remove_duplicate_spans_exact(df, "text", "doc_id", k_tokens=4),
        lambda: natural_boundary_dedup(df, "text", "doc_id"),
        lambda: line_dedup(df, "text", "doc_id", line_tokens=4),
        lambda: repetition_signals(df, "text"),
        lambda: char_entropy(df, "text"),
    ]
    for build in builders:
        out = build()
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "Window" not in plan, plan[:2000]


def test_tfidf_and_unigram_exact_under_hot_keys(spark):
    """The groupBy+join-back plans must yield exactly the reference
    values when one term appears in every document (stopword) and one
    line in half of them (boilerplate)."""
    rows = _hot_corpus()
    docs = {i: _tok(t) for i, t in rows}
    n_docs = len(docs)
    df_t: dict[str, int] = {}
    c_t: dict[str, int] = {}
    for toks in docs.values():
        for t in set(toks):
            df_t[t] = df_t.get(t, 0) + 1
        for t in toks:
            c_t[t] = c_t.get(t, 0) + 1
    total = sum(c_t.values())

    from xetl_spark.operators.text import tf_idf, unigram_logprob

    sdf = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r.doc, r.term): (r.tf, r.df, r.tfidf)
        for r in tf_idf(sdf, "text", "doc_id").collect()
    }
    # the stopword: df == every doc, and each cell matches closed form
    assert got[(0, STOP)][1] == n_docs
    for doc in (0, 58, 119):
        toks = docs[doc]
        for term in set(toks):
            tf = toks.count(term)
            want = tf * (math.log((n_docs + 1) / (df_t[term] + 1)) + 1)
            g = got[(doc, term)]
            assert g[0] == tf and g[1] == df_t[term]
            assert abs(g[2] - want) < 1e-9, (doc, term)

    nll = {
        r.doc: (r.n_tokens, r.avg_nll)
        for r in unigram_logprob(sdf, "text", "doc_id").collect()
    }
    assert set(nll) == set(docs)
    for doc in (0, 61, 119):
        toks = docs[doc]
        want = sum(-math.log(c_t[t] / total) for t in toks) / len(toks)
        assert nll[doc][0] == len(toks)
        assert abs(nll[doc][1] - want) < 1e-9, doc


def test_boundary_and_span_dedup_under_hot_keys(spark):
    """The hot boilerplate unit collapses map-side: only the globally
    first doc keeps it; the mega-doc's self-duplication is cut to one
    surviving window chain."""
    rows = _hot_corpus()
    from xetl_spark.operators.text import (
        natural_boundary_dedup,
        remove_duplicate_spans_exact,
    )

    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    nb = {r.doc_id: r for r in natural_boundary_dedup(sdf, "text", "doc_id").collect()}
    # doc 0 holds the first occurrence of the boilerplate line
    assert BOILER in nb[0].new_text
    for i in (1, 30, 59):
        assert BOILER not in nb[i].new_text
        assert nb[i].kept_units == 1  # own line survives
    # mega-doc: 201 units in, its 200 boilerplate copies all lost
    assert nb[119].n_units == 201 and nb[119].kept_units == 1

    span = {
        r.doc_id: r
        for r in remove_duplicate_spans_exact(
            sdf, "text", "doc_id", k_tokens=8
        ).collect()
    }
    # the mega-doc is 4 + 200*10 tokens of period-10 repetition: every
    # 8-window after the first chain duplicates an earlier one, so at
    # most the header + one boilerplate period + window tail survives
    assert span[119].n_tokens == 2004
    assert span[119].kept_tokens <= 4 + 10 + 7
    # the first boilerplate-carrying doc keeps its copy
    assert BOILER in span[0].new_text


def test_hot_key_aggregation_has_partial_agg(spark):
    """The de-skew depends on map-side partial aggregation collapsing
    hot keys before the exchange: the physical plan of the df/corpus
    count aggregations must show partial_ aggregation below the
    exchange (HashAggregate(keys=[term], functions=[partial_...]))."""
    from xetl_spark.operators.text import tf_idf

    sdf = spark.createDataFrame(
        [(i, f"{STOP} a b c") for i in range(8)], "doc_id long, text string"
    )
    phys = (
        tf_idf(sdf, "text", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_count" in phys, phys[:3000]


def test_aqe_skew_join_split_fires(spark):
    """The 50%-hot-key join that tools/skew_evidence.py measures: with
    AQE skew handling on (thresholds scaled to the fixture), the FINAL
    adaptive plan must carry SortMergeJoin(skew=true) — i.e. the
    oversized partition was actually split at runtime, not merely
    permitted by config — and results must equal the salted_join
    fallback's. Conf is snapshotted and restored."""
    from xetl_spark.operators.relational import salted_join

    keys = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "262144",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "131072",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        left = spark.range(400_000).select(
            F.when(F.col("id") % 2 == 0, 0)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
            F.concat(F.lit("pad" * 7), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        out = (
            left.join(right, "k")
            .groupBy()
            .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
        )
        row = out.collect()[0]
        assert row.n == 400_000
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE skew-split did not fire"
        # the manual fallback computes the same aggregate
        srow = (
            salted_join(left, right, on=["k"], salt_buckets=16)
            .groupBy()
            .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
            .collect()[0]
        )
        assert (srow.n, srow.sv) == (row.n, row.sv)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
