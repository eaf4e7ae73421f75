"""Property tests for the approximate LLM-data operators: MinHash
jaccard correctness + LSH recall, SimHash hamming properties, ANN
recall vs the brute-force oracle, text heuristics."""

import pytest
from pyspark.sql import functions as F

from xetl_spark.operators import (
    cosine_topk_bruteforce,
    lsh_ann_topk,
    minhash_near_duplicates,
    shingles,
    simhash,
)
from xetl_spark.operators.dedup import pair_jaccard


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (0, base),
        (1, base),  # exact duplicate of 0
        (2, base.replace("quick", "slow")),  # near-dup of 0
        (3, "completely different text about spark engines and data pipelines"),
        (4, "another unrelated document mentioning benchmarks and parquet files"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _exact_jaccard(a: str, b: str, n=3):
    def sh(t):
        toks = t.split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    A, B = sh(a), sh(b)
    return len(A & B) / len(A | B)


def test_pair_jaccard_matches_python(spark, docs):
    sh = shingles(docs, "text", "doc_id", 3)
    pairs = spark.createDataFrame([(0, 2)], "doc_a long, doc_b long")
    got = pair_jaccard(sh, pairs).collect()[0]
    rows = {r.doc_id: r.text for r in docs.collect()}
    assert got.jaccard == pytest.approx(_exact_jaccard(rows[0], rows[2]))


def test_minhash_finds_exact_and_near_dups(spark, docs):
    pairs = minhash_near_duplicates(docs, "text", "doc_id", threshold=0.5)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (0, 1) in got  # exact dup always collides
    assert (0, 2) in got or (1, 2) in got  # near-dup found
    jac = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    assert jac[(0, 1)] == pytest.approx(1.0)
    # unrelated docs never confirmed (exact jaccard verification)
    assert not any(3 in p or 4 in p for p in got)


def test_minhash_signatures_rowwise_matches_explode_reference(spark, docs):
    """The shuffle-free rowwise signature equals an explode +
    groupBy(doc) reference over independently computed shingles:
    mh_i = min(xxhash64(xxhash64(shingle), i)), hset = the set of base
    hashes, sz = its size — including a doc with fewer than 3 tokens
    (its full text is its one shingle) and one whose grams repeat."""
    import re as _re

    from xetl_spark.operators.dedup import minhash_signatures_rowwise

    extra = spark.createDataFrame(
        [(10, "Two words"), (11, "repeat Repeat repeat REPEAT")],
        "doc_id long, text string",
    )
    both = docs.union(extra)
    k = 6
    got = {
        r.doc: r.asDict()
        for r in minhash_signatures_rowwise(both, "text", "doc_id", num_hashes=k).collect()
    }

    def py_shingles(text):
        toks = [t for t in _re.split(r"[^a-z0-9]+", text.lower()) if t]
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sh = spark.createDataFrame(
        [(r.doc_id, g) for r in both.collect() for g in py_shingles(r.text)],
        "doc long, shingle string",
    )
    h = F.xxhash64("shingle")
    ref = {
        r.doc: r.asDict()
        for r in sh.groupBy("doc")
        .agg(
            *[F.min(F.xxhash64(h, F.lit(i))).alias(f"mh_{i}") for i in range(k)],
            F.collect_set(h).alias("hset"),
            F.count("*").alias("sz"),
        )
        .collect()
    }
    assert set(got) == set(ref) == {0, 1, 2, 3, 4, 10, 11}
    assert ref[10]["sz"] == 1 and ref[11]["sz"] == 1
    for d, r in ref.items():
        g = got[d]
        assert sorted(g.pop("hset")) == sorted(r.pop("hset")), d
        assert g == r, d


def test_minhash_giant_doc_routes_to_explode_verify(spark):
    """The verify-path auto-switch: pairs touching a doc with more
    shingle hashes than max_hset_size verify via the explode-join
    pair_jaccard path; the rest stay on the hashed fast path. Both
    paths use the same hash universe, so results are identical to the
    unsplit run — pinned here with one planted giant near-dup pair
    and one ordinary near-dup pair, at a threshold low enough (30
    shingles) to exercise routing without megabyte fixtures."""
    base = "w%d " * 200  # 200 tokens → ~198 trigram shingles (giant at cap 30)
    giant_a = (base % tuple(range(200))).strip()
    giant_b = (base % tuple(list(range(190)) + list(range(900, 910)))).strip()
    small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    small2 = "alpha beta gamma delta epsilon zeta eta theta iota mu"
    lone = "completely unrelated text about volcanoes and glaciers today"
    docs = spark.createDataFrame(
        [(0, giant_a), (1, giant_b), (2, small), (3, small2), (4, lone)],
        "doc_id long, text string",
    )

    def run(cap):
        return {
            (r.doc_a, r.doc_b): r.jaccard
            for r in minhash_near_duplicates(
                docs, "text", "doc_id", threshold=0.3, bands=12, max_hset_size=cap
            ).collect()
        }

    split = run(30)  # giants routed to explode verify
    unsplit = run(None)  # everything on the hashed path
    default = run(1_000_000)  # no giants at default cap → eager fast path
    assert set(split) == set(unsplit) == set(default)
    for k in split:
        assert split[k] == pytest.approx(unsplit[k])
        assert default[k] == pytest.approx(unsplit[k])
    assert (0, 1) in split  # the giant pair survives the split path
    assert (2, 3) in split  # the ordinary pair stays on the fast path
    assert not any(4 in p for p in split)


def test_minhash_lsh_recall_on_fixture(spark, sf_dir):
    """LSH candidates must recover ≥90% of truly-similar pairs found by
    exhaustive jaccard on the fixture subset."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    sh = shingles(docs, "text", "doc_id", 3).persist()
    a = sh.withColumnRenamed("doc", "doc_a")
    b = sh.select(F.col("doc").alias("doc_b"), F.col("shingle").alias("s2"))
    all_pairs = (
        a.join(b, (F.col("shingle") == F.col("s2")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b")
        .distinct()
    )
    truth = {
        (r.doc_a, r.doc_b)
        for r in pair_jaccard(sh, all_pairs).filter(F.col("jaccard") >= 0.5).collect()
    }
    found = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_duplicates(docs, "text", "doc_id", threshold=0.5).collect()
    }
    if truth:
        recall = len(truth & found) / len(truth)
        assert recall >= 0.9, (recall, len(truth))
    assert found <= truth or not truth  # verification step kills false positives


def test_simhash_properties(spark, docs):
    fps = {r.doc: r.simhash for r in simhash(docs, "text", "doc_id").collect()}
    assert fps[0] == fps[1]  # identical text → identical fingerprint
    ham_near = bin(fps[0] ^ fps[2] & (2**64 - 1)).count("1")
    ham_far = bin(fps[0] ^ fps[3] & (2**64 - 1)).count("1")
    assert ham_near < ham_far  # near-dup closer than unrelated


def test_simhash_rowwise_bit_identical(spark, docs):
    """The shuffle-free rowwise fold must emit exactly the fingerprints
    of the explode+groupBy reference form — including repeated-token
    weighting, single-token docs, and zero-token docs (dropped by both)."""
    from xetl_spark.operators.dedup import simhash_rowwise

    extra = spark.createDataFrame(
        [
            (100, "repeat repeat repeat distinct words matter here"),
            (101, "solo"),
            (102, "   .,;!   "),  # zero tokens after the split filter
            (103, "Case INSENSITIVE case insensitive 42 42 42"),
        ],
        "doc_id long, text string",
    )
    both = docs.union(extra)
    ref = {r.doc: r.simhash for r in simhash(both, "text", "doc_id").collect()}
    row = {r.doc: r.simhash for r in simhash_rowwise(both, "text", "doc_id").collect()}
    assert ref == row
    assert 102 not in row  # zero-token doc dropped by both forms


def test_hamming_blocking_recall_at_query_radius(spark):
    """Planted-pair recall for hamming_near_pairs at q_dedup_simhash's
    exact operating point (max_hamming=3, chunks=4): the pigeonhole
    contract (chunks > max_hamming → any in-radius pair shares an exact
    16-bit block) must yield 100% recall vs a brute-force all-pairs
    ground truth, and zero false positives past the verify filter."""
    import random

    rng = random.Random(42)
    MASK = (1 << 64) - 1

    def to_i64(u):  # two's-complement view, matching LongType
        return u - (1 << 64) if u >= (1 << 63) else u

    base_fps = [rng.getrandbits(64) for _ in range(60)]
    rows = [(i, to_i64(fp)) for i, fp in enumerate(base_fps)]
    planted = []
    nid = len(base_fps)
    for i, fp in enumerate(base_fps[:32]):  # plant one partner per base doc
        d = rng.randint(1, 3)
        flipped = fp
        for bit in rng.sample(range(64), d):
            flipped ^= 1 << bit
        rows.append((nid, to_i64(flipped & MASK)))
        planted.append((i, nid))
        nid += 1
    df = spark.createDataFrame(rows, "doc long, fp long")

    from xetl_spark.operators.dedup import hamming_near_pairs

    got = {
        (r.doc_a, r.doc_b)
        for r in hamming_near_pairs(df, "fp", "doc", max_hamming=3, chunks=4).collect()
    }
    # brute-force ground truth over every pair (includes accidental ones)
    fps = {doc: fp & MASK for doc, fp in rows}
    truth = {
        (a, b)
        for a in fps
        for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    assert truth >= set(planted)  # sanity: planting really is in-radius
    assert got == truth  # complete (100% recall) and exact (no FPs)


def test_sql_string_operators_quote_backtick_column_names(spark, docs):
    """Operators that interpolate column names into SQL strings take
    any top-level name verbatim: a backtick, a space or a dot in the
    name must neither break the parse nor resolve elsewhere. Results
    equal the plainly named run."""
    from xetl_spark.operators.dedup import hamming_near_pairs, simhash_rowwise
    from xetl_spark.operators.text import c4_line_filter, repetition_signals

    txt, did, fp = "my`text col", "doc.id", "f`p"
    odd = docs.select(F.col("doc_id").alias(did), F.col("text").alias(txt))

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(shingles(odd, txt, did)) == rows(shingles(docs, "text", "doc_id"))
    fps = simhash_rowwise(docs, "text", "doc_id")
    assert rows(simhash_rowwise(odd, txt, did)) == rows(fps)
    assert rows(c4_line_filter(odd, txt, min_sentences=0)) == rows(
        c4_line_filter(docs, "text", min_sentences=0)
    )
    assert rows(repetition_signals(odd, txt)) == rows(repetition_signals(docs, "text"))
    odd_fps = fps.select(F.col("doc").alias(did), F.col("simhash").alias(fp))
    near = rows(hamming_near_pairs(fps, "simhash", "doc"))
    assert (0, 1, 0) in near
    assert rows(hamming_near_pairs(odd_fps, fp, did)) == near


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    """Recall scales with (planes, tables): the fixture's true top-5
    neighbors sit at cosine ≈0.32 (near-random vectors), so the test
    pins recall-leaning params — p_agree≈0.6 per plane → per-table
    p^4≈0.13 → 1-(1-0.13)^16 ≈ 0.89 expected recall."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk_bruteforce(emb, queries, "embedding", "vec_id", k=5)
    approx = lsh_ann_topk(
        emb, queries, "embedding", "vec_id", k=5, num_planes=4, num_tables=16
    )
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.6, recall


def test_bruteforce_topk_is_correct(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((50, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    out = cosine_topk_bruteforce(df, df.filter(F.col("vec_id") == 0), "embedding", "vec_id", k=3)
    got = [r.neighbor_id for r in out.orderBy("nn_rank").collect()]
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms[0]
    sims[0] = -2  # exclude self
    expect = list(np.argsort(-sims)[:3])
    assert got == expect


def test_language_id_and_quality(spark):
    from xetl_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "der hund und die katze und das haus"),
            (3, "xyzzy plugh"),
        ],
        "id long, text string",
    )
    out = {r.id: r for r in df.select(
        "id", T.language_id("text").alias("lang"), T.quality_score("text").alias("q")
    ).collect()}
    assert out[1].lang == "en"
    assert out[2].lang == "de"
    assert out[3].lang == "und"
    assert 0.0 <= out[3].q <= out[1].q <= 1.0


def test_quality_score_multilang_routes_by_language(spark):
    """The routed profile scores a fluent non-English doc with its own
    language's stopword table: the German/Turkish docs must gain
    exactly the fluency term the en-only score denies them; 'und'
    falls back to the English profile."""
    from xetl_spark.operators import text as T

    rows = [
        (1, "der hund und die katze und das haus und der garten"),
        (2, "bu ev ve bir bahce ve bu kedi ve bir kopek"),
        (3, "the cat and the dog of the house and the garden"),
        (4, "xyzzy plugh qwfp zxcv"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {
        r.id: r
        for r in df.select(
            "id",
            T.language_id("text").alias("lang"),
            T.quality_score("text").alias("q_en"),
            T.quality_score_multilang("text").alias("q_ml"),
        ).collect()
    }
    assert out[1].lang == "de" and out[2].lang == "tr"
    # non-English fluent docs: routed score strictly above the en-only
    # score (they have zero en-stopword hits)
    assert out[1].q_ml > out[1].q_en
    assert out[2].q_ml > out[2].q_en
    # English and unknown docs: identical to the en profile
    assert out[3].q_ml == out[3].q_en
    assert out[4].lang == "und" and out[4].q_ml == out[4].q_en

    # routed fluency term matches a hand computation for the German doc
    import math  # noqa: F401  (symmetry with sibling tests)

    toks = rows[0][1].split()
    sw_hits = sum(1 for t in toks if t in {"der", "die", "und", "das", "ein"})
    want = round(
        0.3 * min(len(toks) / 100.0, 1.0)
        + 0.3 * 1.0
        + 0.2 * (len(set(toks)) / len(toks))
        + 0.2 * min(5.0 * sw_hits / len(toks), 1.0)
        + 1e-7,
        4,
    )
    assert abs(out[1].q_ml - want) < 1e-9


def test_cosine_near_dup_recall_and_precision(spark):
    """Plant exact/near/far duplicate vectors; LSH+verify must find the
    planted near-dups and never emit a below-threshold pair."""
    import numpy as np

    from xetl_spark.operators import cosine_near_duplicates

    rng = np.random.default_rng(3)
    base = rng.standard_normal((100, 64)).astype("float32")
    rows = [(i, v.tolist()) for i, v in enumerate(base)]
    # 100..109: tiny perturbations of 0..9 (cos > 0.99)
    for j in range(10):
        pert = base[j] + 0.01 * rng.standard_normal(64).astype("float32")
        rows.append((100 + j, pert.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = cosine_near_duplicates(df, "embedding", "vec_id", threshold=0.9)
    pairs = {(r.id_a, r.id_b): r.cos_sim for r in got.collect()}
    planted = {(j, 100 + j) for j in range(10)}
    found = planted & set(pairs)
    assert len(found) >= 8, sorted(pairs)  # ≥80% recall on cos≈0.99 dups
    assert all(s >= 0.9 for s in pairs.values())  # exact verification


def test_cosine_near_dup_degenerate_corpus_capped(spark):
    """500 identical vectors share every (table, signature) bucket; the
    max_bucket_size guard must drop the degenerate bucket instead of
    emitting a ~125k-row candidate set (quadratic blowup at scale)."""
    from xetl_spark.operators import cosine_near_duplicates

    vec = [1.0] * 64
    rows = [(i, vec) for i in range(500)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = cosine_near_duplicates(
        df, "embedding", "vec_id", threshold=0.9, max_bucket_size=100
    )
    assert got.count() == 0  # oversized buckets dropped, not exploded


def test_cosine_near_dup_tolerates_null_and_ragged_vectors(spark):
    """Null / wrong-length embeddings must not crash the signature UDF;
    the malformed docs are simply excluded from banding while valid
    near-dup pairs are still found."""
    import numpy as np

    from xetl_spark.operators import cosine_near_duplicates

    rng = np.random.default_rng(5)
    base = rng.standard_normal(64).astype("float32")
    rows = [
        (0, base.tolist()),
        (1, (base + 0.001).tolist()),  # near-dup of 0
        (2, None),  # null vector
        (3, [1.0, 2.0]),  # ragged length
        (4, rng.standard_normal(64).astype("float32").tolist()),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.id_a, r.id_b)
        for r in cosine_near_duplicates(df, "embedding", "vec_id", threshold=0.9).collect()
    }
    assert (0, 1) in got
    assert all(2 not in p and 3 not in p for p in got)


def test_incremental_exact_dedup(spark):
    """Batch 2 drops docs already seen in batch 1; store accumulates."""
    from xetl_spark.operators.dedup import incremental_exact_dedup

    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    fresh1, seen1 = incremental_exact_dedup(b1, None, "text", "doc_id")
    assert sorted(r.doc_id for r in fresh1.collect()) == [1, 2]  # in-batch dedup
    seen1 = seen1.persist()

    b2 = spark.createDataFrame(
        [(4, "beta"), (5, "gamma")], "doc_id long, text string"
    )
    fresh2, seen2 = incremental_exact_dedup(b2, seen1, "text", "doc_id")
    assert [r.doc_id for r in fresh2.collect()] == [5]  # 'beta' known from batch 1
    store = seen1.unionByName(seen2)
    assert store.distinct().count() == 3  # alpha, beta, gamma


def test_chunk_text_windows(spark):
    """Chunks advance by chunk-overlap tokens; all tokens covered; last
    chunk may be short; single short doc yields one chunk."""
    from xetl_spark.operators.text import chunk_text

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, words), (2, "just three words")], "doc_id long, text string")
    out = {(r.doc, r.chunk_id): (r.n_tokens, r.chunk)
           for r in chunk_text(df, "text", "doc_id", chunk_tokens=4, overlap=2).collect()}
    assert out[(1, 0)] == (4, "w0 w1 w2 w3")
    assert out[(1, 1)] == (4, "w2 w3 w4 w5")  # step = 2
    assert out[(1, 4)] == (2, "w8 w9")  # trailing partial chunk
    assert out[(2, 0)] == (3, "just three words")
    assert max(cid for d, cid in out if d == 1) == 4


def test_repetition_and_redaction(spark):
    from xetl_spark.operators.text import redact_pii, repetition_score

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),  # one distinct trigram
            (2, "all words here are fully distinct tokens"),
            (3, "mail me at a.b@c.io or 555-123-4567 from 192.168.0.1"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: (r.rep, r.red) for r in df.select(
        "doc_id",
        repetition_score("text", 3).alias("rep"),
        redact_pii("text").alias("red"),
    ).collect()}
    assert rows[1][0] == 0.75  # 4 trigrams, 1 distinct
    assert rows[2][0] == 0.0
    assert rows[3][1] == "mail me at <EMAIL> or <PHONE> from <IP>"


def test_natural_boundary_dedup_line_and_paragraph(spark):
    """Exact natural-boundary dedup: globally-first occurrence keeps,
    in-document repeats dedup too, reassembly preserves order; the
    paragraph mode splits on blank lines."""
    from xetl_spark.operators.text import natural_boundary_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha line\nshared footer\nbeta line"),
            (2, "gamma line\nshared footer\ngamma line"),
            (3, "   \n\nshared footer"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in natural_boundary_dedup(df, "text", "doc_id").collect()
    }
    assert got[1]["n_units"] == 3 and got[1]["kept_units"] == 3
    assert got[1]["new_text"] == "alpha line\nshared footer\nbeta line"
    # doc 2: footer lost to doc 1; its own repeated line kept once
    assert got[2]["n_units"] == 3 and got[2]["kept_units"] == 1
    assert got[2]["new_text"] == "gamma line"
    # doc 3: whitespace-only units dropped; footer already taken
    assert got[3]["n_units"] == 1 and got[3]["kept_units"] == 0
    assert got[3]["new_text"] == ""

    pdf = spark.createDataFrame(
        [
            (1, "para one\nstill para one\n\npara two"),
            (2, "para one\nstill para one\n\nunique para"),
        ],
        "doc_id long, text string",
    )
    got2 = {
        r["doc_id"]: r.asDict()
        for r in natural_boundary_dedup(
            pdf, "text", "doc_id", granularity="paragraph"
        ).collect()
    }
    assert got2[1]["n_units"] == 2 and got2[1]["kept_units"] == 2
    assert got2[2]["kept_units"] == 1
    assert got2[2]["new_text"] == "unique para"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="granularity"):
        natural_boundary_dedup(df, "text", "doc_id", granularity="word")


def test_repetition_signals_hand_computed(spark):
    """Gopher repetition signals against hand-computed expectations,
    including the documented edge semantics: strict n-grams (short doc
    → zero), overlap-naive dup coverage (can exceed total_chars), and
    empty documents yielding all-zero rows."""
    from xetl_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "the cat sat\nthe cat sat\nhello world\n\n  "),
            (2, "a b a b a b a b"),
            (3, ""),
            (4, "unique words only here now"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in repetition_signals(df, "text").collect()
    }
    d1 = got[1]
    assert (d1["n_tokens"], d1["total_chars"]) == (8, 35)
    assert (d1["n_lines"], d1["dup_line_count"]) == (3, 1)
    assert (d1["line_chars"], d1["dup_line_chars"]) == (33, 22)
    # "the cat" x2 (14) / "the cat sat" x2 (22) / best distinct 4-gram
    assert d1["top_2gram_chars"] == 14
    assert d1["top_3gram_chars"] == 22
    assert d1["top_4gram_chars"] == 19
    assert d1["dup_5gram_chars"] == 0
    d2 = got[2]
    # "a b" x4 = 12; "a b a" x3 = 15; "a b a b" x3 = 21 (> total 15,
    # overlap-naive by documented definition); 5-grams: two distinct
    # grams x2 each, 9 chars -> 36
    assert d2["top_2gram_chars"] == 12
    assert d2["top_3gram_chars"] == 15
    assert d2["top_4gram_chars"] == 21
    assert d2["dup_5gram_chars"] == 36
    assert d2["dup_6gram_chars"] == 22
    assert d2["dup_7gram_chars"] == 0
    assert d2["dup_5gram_char_frac"] == 36 / 15
    d3 = got[3]
    assert all(
        d3[k] == 0
        for k in d3
        if k not in ("doc_id", "text") and not k.endswith("_frac")
    )
    assert d3["dup_line_frac"] == 0.0
    d4 = got[4]
    assert d4["dup_line_count"] == 0 and d4["dup_5gram_chars"] == 0
    assert d4["top_2gram_chars"] == 12  # "unique words"


def test_ensure_parallelism_max_partitions_cap(spark):
    """r14 crossing-cost cap: a 1-partition constant-size fixture input
    spreads to min(defaultParallelism, max_partitions) tasks; an input
    arriving with MORE partitions than the cap is coalesced down to it
    shuffle-free (r15 ADVICE fix); an uncapped already-parallel input
    stays untouched (the 100 TB no-op guard is unchanged)."""
    from xetl_spark.operators.util import ensure_parallelism

    one = spark.range(100).coalesce(1)
    capped = ensure_parallelism(one, max_partitions=16)
    dp = spark.sparkContext.defaultParallelism
    assert capped.rdd.getNumPartitions() == min(dp, 16)
    # rows are only redistributed, never changed
    assert sorted(r.id for r in capped.collect()) == list(range(100))
    # over-partitioned capped input: coalesced down to the cap with NO
    # added exchange (the crossing-cost bound now applies both ways)
    wide = spark.range(1000).repartition(max(dp, 32))
    down = ensure_parallelism(wide, max_partitions=16)
    assert down.rdd.getNumPartitions() == 16
    plan = down._jdf.queryExecution().executedPlan().toString()
    # exactly the upstream repartition's exchange — coalesce adds none
    # (run `wide` too, so both AQE plans print in their final form:
    # ensure_parallelism reads its input's plan without running it)
    wide.collect()
    assert plan.count("Exchange") == wide._jdf.queryExecution().executedPlan().toString().count("Exchange")
    assert sorted(r.id for r in down.collect()) == list(range(1000))
    # uncapped already-parallel input: the guard wins, untouched
    wide2 = spark.range(1000).repartition(max(dp, 2))
    assert (
        ensure_parallelism(wide2).rdd.getNumPartitions()
        == wide2.rdd.getNumPartitions()
    )


def test_repetition_signals_shuffle_free(spark):
    """The 100 TB contract: the whole operator is one map stage — the
    executed plan must contain NO exchange. (ensure_parallelism's
    guarded input repartition never fires here: the fixture arrives
    already parallel, exactly like a real cluster scan.)"""
    from xetl_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i} w{i+1}") for i in range(50)],
        "doc_id long, text string",
    )
    out = repetition_signals(df, "text")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_repetition_signals_matches_python_reference(spark):
    """Property: on randomized multi-line docs (repeats planted), every
    integer signal matches an independent pure-Python reference —
    including the edge semantics: NULL text (NULL signals, total_chars
    0), empty text, tab-bearing lines (trim strips spaces only, so a
    leading tab survives), multi-byte characters (line byte lengths vs
    gram code-point lengths) and a degenerate one-token loop."""
    import random
    import re as _re
    from collections import Counter

    from xetl_spark.operators.text import repetition_signals

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(12)] + ["the", "and", "héé", "日本"]
    docs = [
        (100, None),
        (101, ""),
        (102, "a\tb\nc  d\n\n  "),
        (103, "x " * 30),
        (104, "\tlead tab\n lead tab\n\tlead tab\nlead tab"),
    ]
    for i in range(40):
        lines = []
        for _ in range(rng.randrange(0, 8)):
            line = " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 12)))
            lines.append(line)
            if rng.random() < 0.4:
                lines.append(line)  # planted duplicate line
        docs.append((i, "\n".join(lines)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in repetition_signals(df, "text").collect()
    }

    def ref(textv: str | None) -> dict:
        if textv is None:
            return {k: 0 if k == "total_chars" else None for k in ref("")}
        toks = [t for t in _re.split(r"[^a-z0-9]+", textv.lower()) if t]
        lines = [l.strip(" ") for l in textv.split("\n") if l.strip(" ")]
        lc = Counter(lines)
        out = {
            "n_tokens": len(toks),
            "total_chars": len(" ".join(toks)),
            "n_lines": len(lines),
            "dup_line_count": len(lines) - len(lc),
            "line_chars": sum(len(l.encode()) for l in lines),
            "dup_line_chars": sum(
                c * len(l.encode()) for l, c in lc.items() if c > 1
            ),
        }
        for n in (2, 3, 4, 5, 6, 7, 8):
            grams = [
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            ]
            gc = Counter(grams)
            top = max((c * len(g) for g, c in gc.items()), default=0)
            dup = sum(c * len(g) for g, c in gc.items() if c > 1)
            if n in (2, 3, 4):
                out[f"top_{n}gram_chars"] = top
            if n in (5, 6, 7, 8):
                out[f"dup_{n}gram_chars"] = dup
        return out

    assert set(got) == {i for i, _ in docs}
    for i, textv in docs:
        expect = ref(textv)
        assert len(expect) == 13
        for k, v in expect.items():
            assert got[i][k] == v, (i, k, got[i][k], v)
    # the leading-tab line is distinct from its space-led twin: " lead
    # tab" trims to "lead tab", "\tlead tab" does not
    assert (got[104]["n_lines"], got[104]["dup_line_count"]) == (4, 2)


def test_c4_line_filter_rules(spark):
    """Each C4 rule in isolation: terminal punctuation, min words,
    javascript, lorem ipsum, brace, min sentences."""
    from xetl_spark.operators.text import c4_line_filter

    df = spark.createDataFrame(
        [
            (1, "This is a fine sentence.\nno terminal punct\nok line two!"),
            (2, "Too short.\nenable JavaScript to continue browsing now.\n"
                "One good line survives here. It has. Five dots. In it. Yes."),
            (3, "lorem ipsum dolor sit amet consectetur.\nA good line here."),
            (4, "function f() { return 1; } is code.\nA good line here."),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in c4_line_filter(df, "text").collect()
    }
    # doc 1: two kept lines (middle has no terminal punct), 2 sentences
    assert got[1]["n_lines"] == 3 and got[1]["kept_lines"] == 2
    assert got[1]["clean_text"] == "This is a fine sentence.\nok line two!"
    assert not got[1]["keep_doc"]  # only 2 sentences < 5
    # doc 2: "Too short." <3 words dropped, javascript dropped, long
    # line kept with 5 sentences -> keep_doc
    assert got[2]["kept_lines"] == 1 and got[2]["n_sentences"] == 5
    assert got[2]["keep_doc"]
    # docs 3/4: page markers kill the doc even with kept lines
    assert got[3]["has_lorem"] and not got[3]["keep_doc"]
    assert got[4]["has_brace"] and not got[4]["keep_doc"]
    # doc 5: empty
    assert got[5]["n_lines"] == 0 and got[5]["clean_text"] == ""
    assert not got[5]["keep_doc"]


def test_c4_line_filter_shuffle_free(spark):
    from xetl_spark.operators.text import c4_line_filter

    df = spark.createDataFrame(
        [(i, "A fine sentence here.\nshort.") for i in range(20)],
        "doc_id long, text string",
    )
    out = c4_line_filter(df, "text")
    out.collect()
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_chunk_text_properties(spark):
    """Property: for random token counts, chunk windows (a) cover every
    token, (b) reconstruct the document exactly from stride-sized chunk
    prefixes, (c) chunk count is ceil(n/step) (one chunk per start)."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from xetl_spark.operators.text import chunk_text

    @settings(deadline=None, max_examples=8)
    @given(
        n=st.integers(min_value=1, max_value=200),
        chunk=st.integers(min_value=2, max_value=32),
        ov=st.integers(min_value=0, max_value=8),
    )
    def check(n: int, chunk: int, ov: int) -> None:
        ov = min(ov, chunk - 1)
        step = chunk - ov
        words = [f"w{i}" for i in range(n)]
        df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
        rows = sorted(
            chunk_text(df, "text", "doc_id", chunk_tokens=chunk, overlap=ov).collect(),
            key=lambda r: r.chunk_id,
        )
        assert len(rows) == math.ceil(n / step)
        rebuilt: list[str] = []
        for r in rows:
            toks = r.chunk.split(" ")
            assert len(toks) == r.n_tokens <= chunk
            assert toks == words[r.chunk_id * step : r.chunk_id * step + len(toks)]
            rebuilt.extend(toks[: step] if r is not rows[-1] else toks)
        assert rebuilt == words  # stride prefixes + final chunk = the doc

    check()


def test_hashing_tfidf_pipeline(spark, docs):
    """ml-pipeline TF-IDF (Tokenizer→HashingTF→IDF): fixed-width sparse
    vectors; a token present in every doc gets idf weight ~0 while a
    rare token weighs more (sanity against the exact tf_idf)."""
    from xetl_spark.operators.text import hashing_tfidf

    out = hashing_tfidf(docs, "text", "doc_id", num_features=256).collect()
    assert len(out) == docs.count()
    assert all(r.tfidf_vec.size == 256 for r in out)
    assert any(r.tfidf_vec.numNonzeros() > 0 for r in out)


def test_vacuum_snapshots(spark, tmp_path):
    from xetl_spark.operators import latest_snapshot, stream_cdc_fold
    from xetl_spark.operators.cdc import vacuum_snapshots

    schema = "k long, ver long, amt double"
    src = tmp_path / "vac_src"
    for i in range(3):
        spark.createDataFrame([(i, 1, 1.0)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    table = str(tmp_path / "vac_table")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    n = stream_cdc_fold(stream, table, keys=["k"], order_by=["ver", "k"])
    assert n == 3
    removed = vacuum_snapshots(table, keep_last=1)
    assert removed == [0, 1]
    final, v = latest_snapshot(spark, table)
    assert v == 2 and final.count() == 3


def test_bruteforce_query_side_guard(spark):
    """The broadcast-query contract is enforced: an oversized query
    side raises with guidance instead of OOMing the driver."""
    df = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(1), F.rand(2)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="max_queries"):
        cosine_topk_bruteforce(df, df, "embedding", "vec_id", k=2, max_queries=10)
    # within the cap it works
    out = cosine_topk_bruteforce(
        df.limit(40), df.limit(5), "embedding", "vec_id", k=2, max_queries=10
    )
    assert out.count() > 0


def test_random_projection_jl_property(spark, sf_dir):
    """JL guarantee, empirically: pairwise distances among fixture
    embeddings survive a 64→16 projection within loose (eps≈0.6)
    bounds for most pairs, the projection is deterministic per seed,
    and differs across seeds."""
    import numpy as np

    from xetl_spark.operators.similarity import random_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(60)
    out = random_project(emb, "embedding", out_dim=16, seed=7).collect()
    orig = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in out}
    proj = {r.vec_id: np.array(r.projected, dtype=np.float64) for r in out}
    ids = sorted(orig)
    ratios = []
    for i in range(0, len(ids) - 1, 2):
        a, b = ids[i], ids[i + 1]
        d0 = np.linalg.norm(orig[a] - orig[b])
        d1 = np.linalg.norm(proj[a] - proj[b])
        if d0 > 0:
            ratios.append(d1 / d0)
    ratios = np.array(ratios)
    assert np.median(ratios) == pytest.approx(1.0, abs=0.25)
    assert ((ratios > 0.4) & (ratios < 1.8)).mean() >= 0.9

    again = random_project(emb, "embedding", out_dim=16, seed=7).collect()
    assert [r.projected for r in out] == [r.projected for r in again]
    other = random_project(emb, "embedding", out_dim=16, seed=8).collect()
    assert [r.projected for r in out] != [r.projected for r in other]


def test_stratified_split_exact_proportions(spark, sf_dir):
    """Each stratum's test share is exactly ceil(20%); assignment is
    deterministic and disjoint."""
    from xetl_spark.operators.relational import stratified_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_split(docs, ["lang"], ["doc_id"], test_pct=20)
    counts = {
        (r.lang, r.split): r.n
        for r in out.groupBy("lang", "split").count().withColumnRenamed("count", "n").collect()
    }
    import math

    langs = {k[0] for k in counts}
    for lang in langs:
        test = counts.get((lang, "test"), 0)
        total = test + counts.get((lang, "train"), 0)
        assert test == math.ceil(0.2 * total), (lang, test, total)
    again = stratified_split(docs, ["lang"], ["doc_id"], test_pct=20)
    assert out.collect() == again.collect()


def test_remove_boilerplate_semantics(spark):
    """Shared lines drop, unique lines keep their order, fully-
    boilerplate documents drop out entirely."""
    from xetl_spark.operators.text import remove_boilerplate

    header = "COOKIE BANNER"
    rows = [(i, f"{header}\ncontent {i} alpha\ncontent {i} beta") for i in range(5)]
    rows.append((99, header))  # nothing but boilerplate
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc: r.clean_text
        for r in remove_boilerplate(df, "text", "doc_id", min_docs=3).collect()
    }
    assert 99 not in out
    assert out[2] == "content 2 alpha\ncontent 2 beta"
    assert len(out) == 5


def test_pq_query_side_is_bounded(spark, sf_dir):
    """pq_topk/ivfpq_topk collect the query side into the task closure;
    an oversized query set must raise, never OOM the driver — same
    guard as cosine_topk_bruteforce (limit(n+1) + raise)."""
    from xetl_spark.operators.pq import ivfpq_topk, pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="pq_topk query side exceeds"):
        pq_topk(emb, emb, "embedding", k=3, max_queries=10)
    with pytest.raises(ValueError, match="ivfpq_topk query side exceeds"):
        ivfpq_topk(emb, emb, "embedding", k=3, max_queries=10)


def test_pq_recall_and_determinism(spark, sf_dir):
    """PQ ADC + exact rerank: recall@10 >= 0.85 vs brute force on the
    fixture embeddings; codebook fit is partitioning-independent so
    results are rerun-identical."""
    import numpy as np
    from collections import defaultdict

    from xetl_spark.operators.pq import pq_fit, pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    got = pq_topk(emb, queries, "embedding", k=10).collect()
    by_q = defaultdict(set)
    for r in got:
        by_q[r.query_id].add(r.corpus_id)

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    x = np.asarray([r.embedding for r in rows])
    recalls = []
    for qr in queries.select("vec_id", "embedding").collect():
        d = ((x - np.asarray(qr.embedding)) ** 2).sum(1)
        true10 = {ids[i] for i in np.argsort(d, kind="stable")[:10]}
        recalls.append(len(true10 & by_q[qr.vec_id]) / 10)
    assert sum(recalls) / len(recalls) >= 0.85, recalls

    # partitioning-independent fit → identical codebooks
    b1 = pq_fit(emb.coalesce(1), "embedding")
    b2 = pq_fit(emb.repartition(16), "embedding")
    assert b1 == b2

    # prefit (r14, the amortized production pattern): passing codebooks
    # fitted with pq_topk's own parameters (m=8, k_codes=32) yields
    # bit-identical results to fit-per-call
    books32 = pq_fit(emb, "embedding", 8, 32)
    got_prefit = pq_topk(
        emb, queries, "embedding", k=10, prefit=(None, books32)
    ).collect()
    assert sorted(map(tuple, got_prefit)) == sorted(map(tuple, got))


def test_ivfpq_prefit_matches_fit_per_call(spark, sf_dir):
    """ivfpq_fit + prefit reproduces ivfpq_topk's inline build
    exactly (same sample, same seeds)."""
    from xetl_spark.operators.pq import ivfpq_fit, ivfpq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    a = ivfpq_topk(emb, queries, "embedding", k=5, shortlist=50).collect()
    pre = ivfpq_fit(emb, "embedding")
    b = ivfpq_topk(
        emb, queries, "embedding", k=5, shortlist=50, prefit=pre
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_opq_rotation_beats_plain_pq_on_correlated_dims(spark):
    """OPQ (round 11, Ge et al. 2013): on vectors whose variance is
    deliberately smeared ACROSS the subspace boundaries (a dense
    orthogonal mixing of unevenly-scaled latents — the worst case for
    a fixed subspace split), the learned rotation recovers shortlist
    recall that plain PQ loses. The rotation is orthonormal and the
    exact rerank still reports true unrotated distances."""
    import numpy as np
    from collections import defaultdict

    from xetl_spark.operators.pq import opq_fit, pq_topk

    rng = np.random.default_rng(7)
    d, n = 16, 1500
    # latents with steeply uneven scales, mixed by a dense rotation so
    # every PQ subspace sees a blend of high- and low-variance axes
    scales = np.geomspace(8.0, 0.05, d)
    q_mix, _ = np.linalg.qr(rng.normal(size=(d, d)))
    x = (rng.normal(size=(n, d)) * scales) @ q_mix
    rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 12)

    # learned rotation is orthonormal
    rot, _books = opq_fit(emb, "embedding", m=4, k=16, iters=6)
    r = np.asarray(rot)
    assert np.allclose(r @ r.T, np.eye(d), atol=1e-8)

    def recall(opq_iters):
        got = pq_topk(
            emb, queries, "embedding", m=4, k_codes=16, k=10,
            shortlist=40, opq_iters=opq_iters,
        ).collect()
        by_q = defaultdict(set)
        dists = {}
        for rr in got:
            by_q[rr.query_id].add(rr.corpus_id)
            dists[(rr.query_id, rr.corpus_id)] = rr.dist
        recs = []
        for qi in range(12):
            dd = ((x - x[qi]) ** 2).sum(1)
            true10 = {int(i) for i in np.argsort(dd, kind="stable")[:10]}
            recs.append(len(true10 & by_q[qi]) / 10)
            # reported distances are TRUE unrotated L2
            for cid in by_q[qi]:
                assert abs(dists[(qi, cid)] - np.sqrt(dd[cid])) < 1e-6
        return sum(recs) / len(recs)

    r_pq, r_opq = recall(0), recall(6)
    assert r_opq >= r_pq - 0.02, (r_pq, r_opq)  # never meaningfully worse
    assert r_opq >= 0.8, (r_pq, r_opq)
    # the engineered misalignment leaves plain PQ a real gap to close
    assert r_opq - r_pq >= 0.05, (r_pq, r_opq)


def test_opq_fit_rotation_orthonormal_on_degenerate_samples(spark):
    """The eigenvalue-allocation start must not break on samples whose
    covariance is rank-deficient (1 or 3 rows at d=16) or zero
    (identical rows): the rotation stays finite and orthonormal, and
    no log of a zero or negative eigenvalue is taken on the way."""
    import numpy as np

    from xetl_spark.operators.pq import opq_fit

    rng = np.random.default_rng(3)
    d = 16
    one = rng.normal(size=(1, d))
    few = rng.normal(size=(3, d))
    same = np.tile(rng.normal(size=d), (40, 1))
    for x in (one, few, same):
        rows = [(i, [float(v) for v in x[i]]) for i in range(len(x))]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        with np.errstate(divide="raise", invalid="raise"):
            rot, books = opq_fit(emb, "embedding", m=4, k=8, iters=2)
        r = np.asarray(rot)
        assert r.shape == (d, d)
        assert np.isfinite(r).all()
        assert np.allclose(r @ r.T, np.eye(d), atol=1e-8)
        assert np.isfinite(np.asarray(books)).all()


def test_opq_eigenvalue_allocation_ignores_the_data_scale():
    """The starting rotation groups the same eigenvectors whatever the
    embeddings' unit, and the m largest-variance directions seed m
    different subspaces. One dominant direction over a flat tail is
    the case that separates the rules: only one eigenvalue exceeds the
    geometric mean, and at 0.01x every eigenvalue is below 1."""
    import numpy as np

    from xetl_spark.operators.pq import _eigenvalue_allocation

    rng = np.random.default_rng(11)
    d, m = 16, 4
    q_mix, _ = np.linalg.qr(rng.normal(size=(d, d)))
    scales = np.r_[50.0, np.linspace(1.0, 0.6, d - 1)]
    x = (rng.normal(size=(500, d)) * scales) @ q_mix
    r1 = _eigenvalue_allocation(x, m)
    for c in (0.01, 100.0):
        rc = _eigenvalue_allocation(x * c, m)
        # same columns, up to each eigenvector's sign
        assert np.allclose(np.abs(r1.T @ rc), np.eye(d), atol=1e-8), c
    var = ((x - x.mean(0)) @ r1).var(0)
    top = np.argsort(var)[::-1][:m]
    assert sorted(int(col) // (d // m) for col in top) == list(range(m))


def test_pq_encode_shapes_and_code_range(spark, sf_dir):
    from xetl_spark.operators.pq import pq_encode, pq_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_fit(emb, "embedding", m=8, k=16)
    enc = pq_encode(emb, "embedding", books).collect()
    assert len(enc) == emb.count()
    for r in enc[:50]:
        assert len(r.codes) == 8
        assert all(0 <= c < 16 for c in r.codes)


def test_ivfpq_recall_cost_dial(spark, sf_dir):
    """IVF-PQ: recall rises monotonically with probed-cell fraction
    (the scan-cost dial), and probing every cell recovers PQ-grade
    recall — pruning, not quantization, is the recall limiter."""
    import numpy as np
    from collections import defaultdict

    from xetl_spark.operators.pq import ivfpq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    x = np.asarray([r.embedding for r in rows])
    qrows = queries.select("vec_id", "embedding").collect()

    def recall(n_probe):
        got = ivfpq_topk(
            emb, queries, "embedding", n_cells=16, n_probe=n_probe
        ).collect()
        by_q = defaultdict(set)
        for r in got:
            by_q[r.query_id].add(r.corpus_id)
        recs = []
        for qr in qrows:
            d = ((x - np.asarray(qr.embedding)) ** 2).sum(1)
            true10 = {ids[i] for i in np.argsort(d, kind="stable")[:10]}
            recs.append(len(true10 & by_q[qr.vec_id]) / 10)
        return sum(recs) / len(recs)

    r4, r8, r16 = recall(4), recall(8), recall(16)
    assert r4 <= r8 + 0.05 and r8 <= r16 + 0.05  # monotone (noise slack)
    assert r8 >= 0.75
    assert r16 >= 0.85  # full probe ~= plain PQ quality


def test_edit_distance_join_matches_exhaustive(spark):
    """Deletion-neighborhood blocking finds exactly the exhaustive
    pairs, including short strings, duplicates-by-content, and d=2."""
    import itertools

    from xetl_spark.operators.text import edit_distance_join

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    words = ["cat", "cats", "bat", "at", "a", "", "dog", "dig", "dug",
             "customer01", "customer02", "customer11", "xyz"]
    df = spark.createDataFrame(list(enumerate(words)), "k long, s string")
    for d in (1, 2):
        got = {
            (r.key_a, r.key_b, r.dist)
            for r in edit_distance_join(df, "s", "k", max_distance=d).collect()
        }
        want = {
            (i, j, lev(words[i], words[j]))
            for i, j in itertools.combinations(range(len(words)), 2)
            if lev(words[i], words[j]) <= d
        }
        assert got == want, (d, got ^ want)


def test_pq_rejects_indivisible_subspaces(spark, sf_dir):
    from xetl_spark.operators.pq import pq_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(emb, "embedding", m=7)


def test_line_dedup_keeps_global_first_occurrence(spark):
    """A line shared by two docs survives only in the earlier doc;
    within-doc repeats keep only the first position; docs made entirely
    of already-seen lines stay as empty rows."""
    from xetl_spark.operators.text import line_dedup

    rows = [
        (1, "a b c d"),          # lines (2-token): "a b", "c d"
        (2, "a b x y a b"),      # "a b" dup of doc1; "a b" again at pos 2
        (3, "c d a b"),          # all lines already seen
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: (r.n_lines, r.kept_lines, r.new_text)
        for r in line_dedup(df, "text", "doc_id", line_tokens=2).collect()
    }
    assert got == {
        1: (2, 2, "a b c d"),
        2: (3, 1, "x y"),
        3: (2, 0, ""),
    }


def test_kmeans_query_quality_and_stability(spark, sf_dir):
    """q_embed_kmeans: every vector lands in a cluster, the weighted
    mean squared distance beats assigning everything to the global
    centroid (variance reduction — the point of clustering), and the
    result is rerun-stable (seeded)."""
    import numpy as np

    import xetl_spark.queries as Q

    fn = Q.REGISTRY["q_embed_kmeans"].fn
    a = {r.cluster: (r.n, r.mean_sqdist) for r in fn(spark, sf_dir).collect()}
    b = {r.cluster: (r.n, r.mean_sqdist) for r in fn(spark, sf_dir).collect()}
    assert a == b  # seeded determinism
    (emb,) = Q.load(spark, sf_dir, "embeddings")
    n_total = emb.count()
    assert sum(n for n, _ in a.values()) == n_total
    # inertia vs the single-centroid baseline on unit vectors
    from xetl_spark.operators.similarity import with_unit_vectors
    from pyspark.sql import functions as F

    u = with_unit_vectors(emb, "embedding", "__u").select("__u").toPandas()
    mat = np.array(u["__u"].tolist())
    global_c = mat.mean(axis=0)
    base = float(((mat - global_c) ** 2).sum(axis=1).mean())
    inertia = sum(n * d for n, d in a.values()) / n_total
    assert inertia < base * 0.95, (inertia, base)


def test_remove_duplicate_spans(spark):
    """Span dedup: the globally-first occurrence of a repeated passage
    survives, later occurrences are cut, untouched docs pass through
    byte-identical, and sub-k duplicates are (by contract) kept."""
    from xetl_spark.operators.text import remove_duplicate_spans

    dup = " ".join(f"d{i}" for i in range(12))
    tiny_dup = "x1 x2 x3"  # shorter than k: must NOT be cut
    rows = [
        (0, " ".join(f"a{i}" for i in range(20)) + " " + dup + " " + tiny_dup),
        (1, dup + " " + " ".join(f"b{i}" for i in range(20))),
        (2, " ".join(f"c{i}" for i in range(30)) + " " + tiny_dup),
        (3, dup),  # doc that IS the passage: fully cut
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in remove_duplicate_spans(
            df, "text", "doc_id", k_tokens=8, stride=4
        ).collect()
    }
    assert out[0].kept_tokens == out[0].n_tokens  # first occurrence intact
    assert "d3" in out[0].new_text and "x2" in out[0].new_text
    toks1 = out[1].new_text.split()
    assert all(t.startswith("b") for t in toks1) and len(toks1) == 20
    assert out[2].kept_tokens == out[2].n_tokens  # tiny dup below k kept
    assert out[3].kept_tokens == 0 and out[3].new_text == ""


def test_dsir_importance_weights(spark):
    """DSIR: target-like raw documents must outscore off-domain ones;
    weights are deterministic and partitioning-independent."""
    from xetl_spark.operators.text import dsir_logweights

    target = spark.createDataFrame(
        [(f"the quick brown fox studies machine learning paper {i}",) for i in range(20)],
        "text string",
    )
    raw_rows = [(i, f"machine learning research paper about models {i}") for i in range(10)]
    raw_rows += [(100 + i, f"recette de cuisine tarte aux pommes numero {i}") for i in range(10)]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    w = {r.doc: r.logweight for r in dsir_logweights(raw, target, "text", "doc_id").collect()}
    on = sum(w[i] for i in range(10)) / 10
    off = sum(w[100 + i] for i in range(10)) / 10
    assert on > off + 1.0  # clear separation, not noise
    w2 = {
        r.doc: r.logweight
        for r in dsir_logweights(raw.repartition(7), target, "text", "doc_id").collect()
    }
    assert all(abs(w[k] - w2[k]) < 1e-9 for k in w)


def test_dsir_target_pred_parity(spark):
    """The single-pass target_pred fast path (r13: target is a flagged
    subset of raw, tokenize once) is bit-identical to passing the same
    subset as an explicit target DataFrame."""
    import pyspark.sql.functions as F

    from xetl_spark.operators.text import dsir_logweights

    rows = [(i, "en" if i % 3 else "fr",
             f"machine learning research paper {i} about models") for i in range(30)]
    raw = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    explicit = {
        r.doc: (r.n_features, r.logweight)
        for r in dsir_logweights(
            raw, raw.filter(F.col("lang") == "en"), "text", "doc_id"
        ).collect()
    }
    pred = {
        r.doc: (r.n_features, r.logweight)
        for r in dsir_logweights(
            raw, None, "text", "doc_id", target_pred=F.col("lang") == "en"
        ).collect()
    }
    assert explicit.keys() == pred.keys()
    for k in explicit:
        assert explicit[k][0] == pred[k][0]
        assert abs(explicit[k][1] - pred[k][1]) < 1e-12
    # materialize=True (the bench path) matches too
    m = {
        r.doc: (r.n_features, r.logweight)
        for r in dsir_logweights(
            raw, None, "text", "doc_id", materialize=True,
            target_pred=F.col("lang") == "en",
        ).collect()
    }
    assert m == pred


def test_remove_duplicate_spans_random_differential(spark):
    """Randomized differential: the distributed span dedup must agree
    exactly with an independent single-process reference on corpora
    with planted shared passages at random offsets."""
    import random
    import re

    K, S = 6, 3

    def ref_span_dedup(rows):
        def toks(t):
            return [
                w
                for w in re.sub(r"[^a-z0-9\s]", " ", t.lower()).strip().split()
                if w
            ]

        docs = {i: toks(t) for i, t in rows}
        wins = []  # (hash-key, doc, start) in (doc, start) order
        for i in sorted(docs):
            T = docs[i]
            n = len(T)
            if n == 0:
                continue
            starts = sorted({*range(0, max(n - K, 0) + 1, S), max(n - K, 0)})
            for s in starts:
                wins.append((tuple(T[s : s + K]), i, s))
        from collections import defaultdict

        by_key = defaultdict(list)
        for key, d, s in wins:
            by_key[key].append((d, s))
        cuts = defaultdict(set)
        for key, occ in by_key.items():
            if len(occ) < 2:
                continue
            occ.sort()
            for d, s in occ[1:]:  # globally-first survives
                cuts[d].update(range(s, s + K))
        out = {}
        for i, T in docs.items():
            kept = [t for j, t in enumerate(T) if j not in cuts[i]]
            out[i] = (len(T), len(kept), " ".join(kept))
        return out

    from xetl_spark.operators.text import remove_duplicate_spans

    rng_ = random.Random(77)
    for trial in range(3):
        passages = [
            [f"p{trial}x{k}w{j}" for j in range(rng_.randint(4, 14))]
            for k in range(3)
        ]
        rows = []
        for i in range(25):
            words = [f"d{i}w{j}" for j in range(rng_.randint(0, 30))]
            if rng_.random() < 0.6:
                p = rng_.choice(passages)
                pos = rng_.randint(0, len(words))
                words = words[:pos] + p + words[pos:]
            rows.append((i, " ".join(words)))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_tokens, r.kept_tokens, r.new_text)
            for r in remove_duplicate_spans(
                df, "text", "doc_id", k_tokens=K, stride=S
            ).collect()
        }
        want = ref_span_dedup(rows)
        assert got == want, trial


def test_perplexity_buckets(spark):
    """CCNet split: corpus-typical docs land in head, rare-token docs
    in tail; bucket sizes follow the 1/3 order statistics; thresholds
    are actual data values (no interpolation); the approx path agrees
    on this small corpus; sub-2-token docs are unscored."""
    from xetl_spark.operators.text import perplexity_buckets

    common = "the cat sat on the mat and the dog sat on the rug"
    # each doc appends a different number of corpus-common bigrams so
    # every scored value is distinct (ties would legitimately widen
    # the head bucket past n/3)
    rows = [(i, common + " " + "the cat " * (i + 1)) for i in range(12)]
    rows += [(100 + i, f"zq{i}a wv{i}b xk{i}c yj{i}d hf{i}e gd{i}f") for i in range(6)]
    rows += [(200, "single"), (201, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = perplexity_buckets(df, "text", "doc_id").collect()
    got = {r.doc: r for r in out}
    assert 200 not in got and 201 not in got  # unscored
    assert len(out) == 18
    # rare-token docs are strictly less fluent than the common docs
    common_max = max(got[i].avg_nll for i in range(12))
    rare_min = min(got[100 + i].avg_nll for i in range(6))
    assert common_max < rare_min
    for i in range(6):
        assert got[100 + i].bucket == "tail", got[100 + i]
    sizes = {b: sum(1 for r in out if r.bucket == b) for b in ("head", "middle", "tail")}
    assert sizes["head"] == 6 and sizes["head"] + sizes["middle"] + sizes["tail"] == 18
    # thresholds are order statistics — bucket boundaries are data values
    nlls = sorted(r.avg_nll for r in out)
    t1 = nlls[5]  # ceil(18/3) = 6th smallest
    assert all((r.avg_nll <= t1) == (r.bucket == "head") for r in out)

    approx = {
        r.doc: r.bucket
        for r in perplexity_buckets(df, "text", "doc_id", exact=False).collect()
    }
    assert all(approx[100 + i] == "tail" for i in range(6))


def test_kn_sampled_fit_properties(spark):
    """The CCNet-shaped fit/score split (round-11): fit_fraction=1.0
    is bit-identical to the self-fit model; a sampled fit still
    scores EVERY doc with finite positive NLL (the unseen-head /
    unseen-tail KN backoffs fire instead of dropping rows or going
    infinite); bucketing at fit_fraction=0.1 keeps the order-statistic
    bucket sizes and is deterministic across invocations; an explicit
    disjoint-domain fit_df exercises the pure-backoff path."""
    from xetl_spark.operators.text import kn_bigram_logprob, perplexity_buckets

    common = "the cat sat on the mat and the dog sat on the rug"
    rows = [(i, common + " " + "the cat " * (i + 1)) for i in range(12)]
    rows += [(100 + i, f"zq{i}a wv{i}b xk{i}c yj{i}d hf{i}e gd{i}f") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    base = {
        r.doc: (r.n_bigrams, r.avg_nll)
        for r in kn_bigram_logprob(df, "text", "doc_id").collect()
    }
    explicit = {
        r.doc: (r.n_bigrams, r.avg_nll)
        for r in kn_bigram_logprob(
            df, "text", "doc_id", fit_fraction=1.0
        ).collect()
    }
    # fit=1.0 ≡ self-fit: same plan, same values (approx: double-sum
    # partial-aggregation order varies run-to-run at the last ulp)
    assert explicit.keys() == base.keys()
    for doc, (n, nll) in base.items():
        assert explicit[doc][0] == n
        assert explicit[doc][1] == pytest.approx(nll, rel=1e-12)

    sampled = kn_bigram_logprob(
        df, "text", "doc_id", fit_fraction=0.5
    ).collect()
    assert {r.doc for r in sampled} == set(base)  # nothing dropped
    assert all(
        r.avg_nll > 0 and r.avg_nll == r.avg_nll and r.avg_nll != float("inf")
        for r in sampled
    )

    # disjoint fit domain: every scored bigram is unseen → pure
    # continuation backoff, still finite and identical across docs
    # sharing the same bigram multiset shape
    fit = spark.createDataFrame(
        [(1000, "alpha beta gamma delta alpha beta")],
        "doc_id long, text string",
    )
    backoff = kn_bigram_logprob(df, "text", "doc_id", fit_df=fit).collect()
    assert {r.doc for r in backoff} == set(base)
    assert all(0 < r.avg_nll < float("inf") for r in backoff)

    b1 = perplexity_buckets(df, "text", "doc_id", fit_fraction=0.1, round_dp=6)
    b2 = perplexity_buckets(df, "text", "doc_id", fit_fraction=0.1, round_dp=6)
    r1 = {r.doc: (round(r.avg_nll, 6), r.bucket) for r in b1.collect()}
    r2 = {r.doc: (round(r.avg_nll, 6), r.bucket) for r in b2.collect()}
    assert r1 == r2  # content-hash sample → deterministic buckets
    sizes = {
        b: sum(1 for v in r1.values() if v[1] == b)
        for b in ("head", "middle", "tail")
    }
    assert sum(sizes.values()) == 18
    # order-statistic cuts hold regardless of the fit sample (ties can
    # only widen head/middle, never shrink them below the cut rank)
    assert sizes["head"] >= 6 and sizes["head"] + sizes["middle"] >= 12


def test_kn_sampled_fit_scoring_joins_broadcast(spark):
    """The CCNet fit/score split's scale claim, plan-locked: with a
    small fit corpus, ALL THREE model joins in the scoring pass
    resolve to BroadcastHashJoin (AQE) — no SortMergeJoin re-keys the
    corpus-sized bigram-instance table on (w1,w2)/w1/w2."""
    from xetl_spark.operators.text import kn_bigram_logprob

    rows = [(i, f"alpha beta gamma doc{i} delta epsilon zeta") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = kn_bigram_logprob(df, "text", "doc_id", fit_fraction=0.1)
    out.collect()  # drive AQE to the final plan on THIS DataFrame
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:500]
    # AQE's toString appends the pre-adaptive "== Initial Plan ==" —
    # assert on the FINAL section only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") >= 3, final[:2000]
    assert "SortMergeJoin" not in final, final[:2000]


def test_edit_distance_join_no_cache_growth(spark):
    """edit_distance_join materializes its base/signature tables via
    localCheckpoint, not persist(): repeated invocations in a
    long-lived session must not accumulate registered cache entries
    (the round-10 verdict's session-lifetime leak class)."""
    from xetl_spark.operators.text import edit_distance_join

    df = spark.createDataFrame(
        [(1, "customer one"), (2, "custmer one"), (3, "supplier two")],
        "k long, name string",
    )
    import gc
    import time

    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    for _ in range(3):
        out = edit_distance_join(df, "name", "k", max_distance=1).collect()
        assert {(r.key_a, r.key_b) for r in out} == {(1, 2)}
    # persist() entries would stay registered forever; localCheckpoint
    # blocks are released by the ContextCleaner once the DataFrames are
    # unreferenced — force the GC chain (Python -> py4j detach -> JVM)
    # and poll for the count to return to baseline
    deadline = time.time() + 30
    while time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if len(spark.sparkContext._jsc.getPersistentRDDs()) <= before:
            break
        time.sleep(0.5)
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after <= before  # no registered-cache growth across calls


def test_natural_boundary_dedup_sentence_granularity(spark):
    """Sentence mode: terminal-punctuation segmentation keeps the
    punctuation with its sentence, newlines also terminate, the
    globally-first copy of a repeated sentence survives, and unknown
    granularities raise."""
    import pytest as _pytest

    from xetl_spark.operators.text import natural_boundary_dedup

    rows = [
        (1, "First point. Shared promo here! Unique tail?"),
        (2, "Other start. Shared promo here! Second tail.\nA newline one."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in natural_boundary_dedup(
            df, "text", "doc_id", granularity="sentence"
        ).collect()
    }
    assert got[1].n_units == 3 and got[1].kept_units == 3
    assert got[1].new_text == "First point. Shared promo here! Unique tail?"
    assert got[2].n_units == 4 and got[2].kept_units == 3
    assert got[2].new_text == "Other start. Second tail. A newline one."

    with _pytest.raises(ValueError, match="granularity"):
        natural_boundary_dedup(df, "text", "doc_id", granularity="bogus")


def test_ngram_novelty(spark):
    """Planted semantics: a fully-unique doc scores 1.0, a mirrored
    pair scores 0.0, a half-boilerplate doc lands in between; short
    docs fall back to their full text as one shingle; token-free docs
    produce no row."""
    from xetl_spark.operators.text import ngram_novelty

    boiler = " ".join(f"b{j}" for j in range(10))
    rows = [
        (1, " ".join(f"u{j}" for j in range(10))),  # unique
        (2, boiler),  # mirrored with 3
        (3, boiler),
        (4, " ".join(f"m{j}" for j in range(8)) + " " + boiler),  # mixed
        (5, "tiny doc"),  # < 3 tokens: full-text shingle, unique
        (6, "tiny doc"),  # same shingle as 5 -> both non-novel
        (7, "!!!"),  # token-free: no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc: r for r in ngram_novelty(df, "text", "doc_id").collect()}
    assert 7 not in got and len(got) == 6
    assert got[1].novelty == 1.0 and got[1].n_grams == 8
    assert got[2].novelty == 0.0 and got[3].novelty == 0.0
    assert 0.0 < got[4].novelty < 1.0
    # doc 4's own m-grams (+ the m/boiler seam grams) are novel, the
    # interior boiler grams are shared with docs 2/3
    assert got[4].novel_grams == got[4].n_grams - 8  # 8 interior boiler tri-grams
    assert got[5].n_grams == 1 and got[5].novelty == 0.0
    assert got[6].novelty == 0.0


def test_remove_duplicate_spans_exact_extents(spark):
    """Planted passages straddling k_tokens: a 12-token passage
    (k=8) at MISALIGNED offsets is cut exactly — all 12 tokens, no
    stride-edge leftovers — while the stride variant misses it
    entirely (offsets 10 vs 3 disagree mod stride); a 7-token dup
    (< k) stays below the minimum match length and is kept; an
    exactly-k dup is cut whole."""
    from xetl_spark.operators.text import (
        remove_duplicate_spans,
        remove_duplicate_spans_exact,
    )

    own = lambda d, m: [f"t{d}x{j}" for j in range(m)]
    P = [f"p{j}" for j in range(12)]  # 12 tokens > k
    S = [f"q{j}" for j in range(7)]  # 7 tokens < k
    E = [f"e{j}" for j in range(8)]  # exactly k
    rows = [
        (0, " ".join(own(0, 10) + P + own(0, 24)[10:] + S + E)),
        (1, " ".join(own(1, 3) + P + own(1, 24)[3:] + S)),  # offset 3
        (2, " ".join(own(2, 5) + E + own(2, 24)[5:])),  # exactly-k dup
        (3, " ".join(own(3, 24))),  # clean
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        r.doc_id: (r.n_tokens, r.kept_tokens, r.new_text)
        for r in remove_duplicate_spans_exact(
            df, "text", "doc_id", k_tokens=8
        ).collect()
    }
    # doc 0 holds every first occurrence: intact
    assert exact[0] == (51, 51, rows[0][1])
    # doc 1: the 12 passage tokens cut exactly; short dup kept
    assert exact[1] == (43, 31, " ".join(own(1, 24) + S))
    # doc 2: the exactly-k dup cut whole
    assert exact[2] == (32, 24, " ".join(own(2, 24)))
    assert exact[3] == (24, 24, rows[3][1])

    # the stride variant cannot see the misaligned passage in doc 1
    stride = {
        r.doc_id: r.kept_tokens
        for r in remove_duplicate_spans(
            df, "text", "doc_id", k_tokens=8, stride=4
        ).collect()
    }
    assert stride[1] == 43  # missed: offsets 10 and 3 disagree mod 4


def test_remove_duplicate_spans_exact_random_differential(spark):
    """Randomized differential for the exact-extent pass: must agree
    with an independent single-process reference implementing the
    every-offset window semantics on corpora with shared passages at
    random (unaligned) offsets."""
    import random
    import re
    from collections import defaultdict

    K = 6

    def ref_exact(rows):
        def toks(t):
            return [
                w
                for w in re.sub(r"[^a-z0-9\s]", " ", t.lower()).strip().split()
                if w
            ]

        docs = {i: toks(t) for i, t in rows}
        by_key = defaultdict(list)
        for i in sorted(docs):
            T = docs[i]
            for s in range(0, len(T) - K + 1):
                by_key[tuple(T[s : s + K])].append((i, s))
        cuts = defaultdict(set)
        for occ in by_key.values():
            if len(occ) < 2:
                continue
            occ.sort()
            for d, s in occ[1:]:
                cuts[d].update(range(s, s + K))
        return {
            i: (len(T), len(T) - len(cuts[i]), " ".join(t for j, t in enumerate(T) if j not in cuts[i]))
            for i, T in docs.items()
        }

    from xetl_spark.operators.text import remove_duplicate_spans_exact

    rng_ = random.Random(99)
    for trial in range(3):
        passages = [
            [f"p{trial}x{k}w{j}" for j in range(rng_.randint(4, 14))]
            for k in range(3)
        ]
        rows = []
        for i in range(25):
            words = [f"d{i}w{j}" for j in range(rng_.randint(0, 30))]
            if rng_.random() < 0.6:
                p = rng_.choice(passages)
                pos = rng_.randint(0, len(words))
                words = words[:pos] + p + words[pos:]
            rows.append((i, " ".join(words)))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_tokens, r.kept_tokens, r.new_text)
            for r in remove_duplicate_spans_exact(
                df, "text", "doc_id", k_tokens=K
            ).collect()
        }
        assert got == ref_exact(rows), trial


def test_remove_duplicate_spans_exact_arrow_engine_parity(spark):
    """The Arrow rolling-hash window stage must produce exactly the
    same final output as the Catalyst slice-hash stage on random
    corpora with planted shared passages (hash VALUES differ; kept
    text may not)."""
    import random

    from xetl_spark.operators.text import remove_duplicate_spans_exact

    rng = random.Random(5)
    passages = [
        [f"p{k}w{j}" for j in range(rng.randint(8, 30))] for k in range(4)
    ]
    rows = []
    for i in range(60):
        words = [f"d{i}w{j}" for j in range(rng.randint(0, 80))]
        if rng.random() < 0.7:
            p = rng.choice(passages)
            pos = rng.randint(0, len(words))
            words = words[:pos] + p + words[pos:]
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run(engine):
        return sorted(
            (r.doc_id, r.n_tokens, r.kept_tokens, r.new_text)
            for r in remove_duplicate_spans_exact(
                df, "text", "doc_id", k_tokens=8, hash_engine=engine
            ).collect()
        )

    assert run("catalyst") == run("arrow")

    import pytest as _pytest

    with _pytest.raises(ValueError, match="hash_engine"):
        remove_duplicate_spans_exact(
            df, "text", "doc_id", hash_engine="bogus"
        )


def test_remove_duplicate_spans_exact_auto_engine(spark):
    """'auto' (the default) picks catalyst below _AUTO_ARROW_MIN_K and
    arrow at/above it, and parity holds ACROSS the switch point: the
    same corpus deduped at k just under and just over the threshold
    agrees with both explicit engines at that k."""
    import random

    from xetl_spark.operators.text import (
        _AUTO_ARROW_MIN_K,
        remove_duplicate_spans_exact,
    )

    rng = random.Random(11)
    # docs long enough to carry windows of k ~ _AUTO_ARROW_MIN_K
    passage = [f"pw{j}" for j in range(_AUTO_ARROW_MIN_K + 20)]
    rows = []
    for i in range(24):
        words = [f"d{i}w{j}" for j in range(rng.randint(0, 120))]
        if i % 2:
            pos = rng.randint(0, len(words))
            words = words[:pos] + passage + words[pos:]
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run(k, engine):
        return sorted(
            (r.doc_id, r.n_tokens, r.kept_tokens, r.new_text)
            for r in remove_duplicate_spans_exact(
                df, "text", "doc_id", k_tokens=k, hash_engine=engine
            ).collect()
        )

    for k in (_AUTO_ARROW_MIN_K - 1, _AUTO_ARROW_MIN_K):
        auto = run(k, "auto")
        assert auto == run(k, "catalyst") == run(k, "arrow"), k
        # the k-straddling corpus must actually exercise the dedup
        assert any(r[2] < r[1] for r in auto), k


def test_incremental_minhash_dedup(spark):
    """Cross-run near-dup ingestion: batch 2 drops near-dups of batch
    1's STORE and of lower-id in-batch partners; only fresh rows'
    signatures join the store."""
    from xetl_spark.operators.dedup import incremental_minhash_dedup

    b1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and runs far away today"),
            (2, "completely different text about spark engines and data pipelines now"),
        ],
        "doc_id long, text string",
    )
    fresh1, store1 = incremental_minhash_dedup(b1, None, "text", "doc_id", threshold=0.5)
    assert sorted(r.doc_id for r in fresh1.collect()) == [1, 2]
    store1 = store1.persist()
    b2 = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog and runs far away tonight"),
            (11, "an entirely novel document discussing benchmarks and parquet files"),
            (12, "an entirely novel document discussing benchmarks and parquet records"),
        ],
        "doc_id long, text string",
    )
    fresh2, store2 = incremental_minhash_dedup(b2, store1, "text", "doc_id", threshold=0.5)
    assert sorted(r.doc_id for r in fresh2.collect()) == [11]  # 10 ~ 1, 12 ~ 11
    assert sorted(r.doc for r in store2.select("doc").collect()) == [1, 2, 11]
    # two-batch result == one-batch result on the concatenated corpus
    from xetl_spark.operators.dedup import minhash_near_duplicates

    allp = minhash_near_duplicates(
        b1.unionByName(b2), "text", "doc_id", threshold=0.5
    )
    batch_pairs = {(r.doc_a, r.doc_b) for r in allp.collect()}
    assert (1, 10) in batch_pairs and (11, 12) in batch_pairs


def test_url_normalize_rules(spark):
    from pyspark.sql import functions as F

    from xetl_spark.operators.text import url_normalize, url_registered_domain

    cases = [
        # (raw, canonical)
        ("HTTPS://WWW.Example.COM:443/Path/X?id=1#frag", "https://www.example.com/Path/X?id=1"),
        ("http://host.org:80/a", "http://host.org/a"),
        ("http://host.org:8080/a", "http://host.org:8080/a"),
        ("https://h.io/p?utm_source=x&utm_campaign=y", "https://h.io/p"),
        ("https://h.io/p?a=1&fbclid=zz&b=2", "https://h.io/p?a=1&b=2"),
        ("https://h.io", "https://h.io"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "url string")
    got = [r[0] for r in df.select(url_normalize("url")).collect()]
    assert got == [c for _, c in cases]

    hosts = [
        ("www.example.com", "example.com"),
        ("news.bbc.co.uk", "bbc.co.uk"),
        ("a.b.c.example.com.au", "example.com.au"),
        ("example.org", "example.org"),
        ("localhost", "localhost"),
        ("Deep.Sub.Host.NET", "host.net"),
    ]
    df2 = spark.createDataFrame([(h,) for h, _ in hosts], "host string")
    got2 = [r[0] for r in df2.select(url_registered_domain("host")).collect()]
    assert got2 == [d for _, d in hosts]


def test_markdown_to_text_rules(spark):
    from xetl_spark.operators.text import markdown_to_text

    cases = [
        ("# Header\nbody", "Header body"),
        ("## H2 ##\ntext", "H2 ## text"),  # trailing hashes are content
        ("> quoted line", "quoted line"),
        ("- item one\n* item two\n3. item three", "item one item two item three"),
        ("**bold** and _ital_ and `code`", "bold and ital and code"),
        ("[anchor](http://x/y?z=1)", "anchor"),
        ("![alt text](img.png) after", "alt text after"),
        ("```python\nx = 1\n```\ndone", "x = 1 done"),  # fence dropped, code kept
        ("above\n---\nbelow", "above below"),
        ("snake_case stays", "snake_case stays"),  # unpaired _ untouched
        ("a * b times", "a * b times"),  # unpaired * untouched
    ]
    df = spark.createDataFrame([(m,) for m, _ in cases], "md string")
    got = [r[0] for r in df.select(markdown_to_text("md")).collect()]
    assert got == [p for _, p in cases]


def test_kn_bigram_logprob_reference_parity(spark):
    """Interpolated Kneser-Ney: Spark must match an independent
    single-process reference implementation exactly (same discount),
    and common-phrase docs must score lower NLL than rare-phrase
    docs."""
    import math
    from collections import Counter

    from xetl_spark.operators.text import kn_bigram_logprob

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the hat"),
        (3, "the dog sat on the mat"),
        (4, "zyx wvu tsr qpo nml"),
        (5, "single"),  # < 2 tokens: no output row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc: (r.n_bigrams, r.avg_nll)
        for r in kn_bigram_logprob(df, "text", "doc_id").collect()
    }
    assert 5 not in got

    # reference
    d = 0.75
    doc_bigrams = {}
    for i, t in rows:
        toks = t.split()
        if len(toks) >= 2:
            doc_bigrams[i] = list(zip(toks, toks[1:]))
    c12 = Counter(b for bs in doc_bigrams.values() for b in bs)
    c1 = Counter()
    n1p_head = Counter()
    n1p_tail = Counter()
    for (w1, w2), c in c12.items():
        c1[w1] += c
        n1p_head[w1] += 1
        n1p_tail[w2] += 1
    n1p_total = len(c12)

    def p(w1, w2):
        return max(c12[(w1, w2)] - d, 0) / c1[w1] + (
            d * n1p_head[w1] / c1[w1]
        ) * (n1p_tail[w2] / n1p_total)

    for i, bs in doc_bigrams.items():
        want = sum(-math.log(p(*b)) for b in bs) / len(bs)
        assert got[i][0] == len(bs)
        assert abs(got[i][1] - want) < 1e-9, (i, got[i][1], want)

    # common phrasing scores lower NLL than the rare-token doc
    assert got[1][1] < got[4][1]


def test_script_char_counts_known_values(spark):
    from xetl_spark.operators.text import script_char_counts

    df = spark.createDataFrame(
        [(1, "Hello Привет 你好 مرحبا 123 é")], "id long, t string"
    )
    r = df.select(script_char_counts("t").alias("s")).select("s.*").collect()[0]
    assert r.latin_chars == 6  # Hello + é
    assert r.cyrillic_chars == 6
    assert r.han_chars == 2
    assert r.arabic_chars == 5
    assert r.digit_chars == 3
    assert r.nonspace_chars == 6 + 6 + 2 + 5 + 3


def test_flesch_reading_ease_reference(spark):
    from xetl_spark.operators.text import flesch_reading_ease

    text = "The cat sat. The dog ran! Did it rain?"
    # words=10 (the cat sat the dog ran did it rain -> 10? ->
    # the,cat,sat,the,dog,ran,did,it,rain = 9), sentences=3,
    # vowel groups: e,a,a,e,o,a,i,i,ai = 9
    df = spark.createDataFrame([(1, text)], "id long, t string")
    got = df.select(flesch_reading_ease("t").alias("f")).collect()[0].f
    words, sentences, syl = 9, 3, 9
    want = 206.835 - 1.015 * (words / sentences) - 84.6 * (syl / words)
    assert abs(got - want) < 1e-9


def test_flesch_multilang_routing(spark):
    """flesch_multilang scores each document with ITS language's
    published adaptation: a German text routed by the stopword vote
    gets Amstad's 180 − W/S − 58.5·syl/W (independently recomputed
    here), and differs from the English-formula score; an unknown
    language falls back to the English row exactly."""
    from xetl_spark.operators.text import (
        _LANG_FLESCH,
        flesch_multilang,
        flesch_reading_ease,
    )

    de = "der hund lief. die katze und das kind ein haus."
    und = "zz qq kk. vv ww xx."
    df = spark.createDataFrame(
        [(1, de), (2, und)], "id long, t string"
    )
    got = {
        r.id: (r.ml, r.en)
        for r in df.select(
            "id",
            flesch_multilang("t").alias("ml"),
            flesch_reading_ease("t").alias("en"),
        ).collect()
    }
    # independent Amstad recompute: 10 words, 2 sentences, vowel
    # groups of [aeiouyäöü]+ over the lowercased text
    import re

    words = len(re.sub(r"[^a-z0-9\s]", " ", de.lower()).split())
    sents = len(re.findall(r"[.!?]+", de))
    syl = len(re.findall(r"[aeiouyäöü]+", de.lower()))
    _, a, b, c = _LANG_FLESCH["de"]
    want = a - b * (words / sents) - c * (syl / words)
    assert abs(got[1][0] - want) < 1e-9
    assert abs(got[1][0] - got[1][1]) > 1.0  # routing actually changed it
    assert abs(got[2][0] - got[2][1]) < 1e-12  # und -> English fallback


def test_char_entropy_reference(spark):
    import math

    from xetl_spark.operators.text import char_entropy

    rows = [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, ""), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_chars, r.entropy) for r in char_entropy(df, "text").collect()}
    assert got[1] == (4, 0.0)  # single repeated char
    assert abs(got[2][1] - math.log(2)) < 1e-12  # two equiprobable chars
    assert abs(got[3][1] - math.log(4)) < 1e-12  # uniform over 4
    # '' splits to [''] in both Spark and DuckDB — the phantom-char
    # guard must report a true zero instead, null text likewise
    assert got[4] == (0, 0.0)
    assert got[5] == (0, 0.0)


def test_view_reanalysis_does_not_explode_signal_plans(spark):
    """Regression guard for the O(L^2) view re-analysis blowup: when
    repetition_signals / char_entropy flow through a temp view and a
    spark.sql select+filter (the `sql` builtin task's path), the
    optimized plan must stay linear — the tokenizer/sort chain may be
    duplicated a small constant number of times (one per referencing
    column), never once per ELEMENT. The broken indexed form put a
    regexp_replace inside every element_at reference, exploding the
    plan text by orders of magnitude."""
    from xetl_spark.operators.text import char_entropy, repetition_signals

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    rep = repetition_signals(docs, "text")
    rep.createOrReplaceTempView("__rep_guard")
    plan = (
        spark.sql(
            "select doc_id, dup_line_frac, top_2gram_char_frac "
            "from __rep_guard "
            "where dup_line_frac <= 0.3 and top_2gram_char_frac <= 0.5"
        )
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("regexp_replace") < 40, plan.count("regexp_replace")

    ent = char_entropy(docs, "text")
    ent.createOrReplaceTempView("__ent_guard")
    plan2 = (
        spark.sql("select * from __ent_guard where entropy > 0")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan2.count("array_sort") < 10, plan2.count("array_sort")


def test_fuzzy_decontaminate_planted(spark):
    """Planted eval near-dups are flagged with the right match; clean
    docs are not; a disjoint eval set flags nothing."""
    from xetl_spark.operators.dedup import fuzzy_decontaminate

    import random

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(500)]
    corpus_rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(60))) for i in range(30)
    ]
    df = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    # eval = 5 corpus docs with a couple of words appended
    eval_rows = [
        (100 + i, corpus_rows[i][1] + " extra holdout words")
        for i in range(5)
    ]
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")
    got = {
        r.doc: (r.eval_doc, r.jaccard)
        for r in fuzzy_decontaminate(df, ev, "text", "doc_id").collect()
    }
    for i in range(5):
        assert i in got, f"planted doc {i} not flagged"
        assert got[i][0] == 100 + i
        assert got[i][1] >= 0.8
    assert all(k < 5 for k in got), got  # no clean doc flagged

    disjoint = spark.createDataFrame(
        [(200, " ".join(f"z{i}" for i in range(60)))],
        "doc_id long, text string",
    )
    assert fuzzy_decontaminate(df, disjoint, "text", "doc_id").count() == 0


def test_fuzzy_decontaminate_empty_docs_never_flagged(spark):
    """Zero-shingle documents (empty / whitespace / no-alnum) carry
    all-sentinel signatures; without the sz>0 pre-filter every such
    corpus doc would band-collide with every such eval doc and emit a
    NULL 0/0 jaccard. They must simply never be flagged."""
    from xetl_spark.operators.dedup import fuzzy_decontaminate

    shared = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "!!! ---"), (4, shared)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, ""), (101, "???"), (102, shared + " tail")],
        "doc_id long, text string",
    )
    rows = fuzzy_decontaminate(df, ev, "text", "doc_id").collect()
    assert all(r.jaccard is not None for r in rows)
    flagged = {r.doc for r in rows}
    assert flagged == {4}, flagged


def test_kn_empty_fit_model_guard(spark):
    """A fit sample (or fit_df) containing zero docs with >= 2 tokens
    must raise the typed empty-fit-model message, not an opaque ANSI
    DIVIDE_BY_ZERO from the pcont division (n1p_total = 0)."""
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    from xetl_spark.operators.text import kn_bigram_logprob

    df = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i}") for i in range(8)],
        "doc_id long, text string",
    )
    empty_fit = spark.createDataFrame(
        [(1, "single"), (2, "")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="empty fit model"):
        kn_bigram_logprob(df, "text", "doc_id", fit_df=empty_fit).collect()
    # a non-degenerate fit still works
    assert kn_bigram_logprob(df, "text", "doc_id", fit_fraction=1.0).count() == 8
