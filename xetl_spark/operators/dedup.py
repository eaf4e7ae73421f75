"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

All stages are pure Catalyst expressions (xxhash64, explode, groupBy) —
no Python in the hot path — so the same code scales from the 500-row
fixture to a 100 TB corpus: candidate generation is bucket-local
(band-hash equi-joins), never an O(n²) cross product.

The operators that build SQL strings (shingles,
minhash_signatures_rowwise, simhash, simhash_rowwise,
hamming_near_pairs) take top-level column names, quoted verbatim: a
name with dots, spaces or backticks is one column, never a struct
field path (``util.sql_ident``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xetl_spark.operators.relational import dedup_keep_first
from xetl_spark.operators.util import ensure_parallelism, sql_ident


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact content dedup: one representative (lowest/highest id) per
    distinct sha2-256 of ``text_col``.

    Deterministic by construction; one shuffle on the 256-bit digest —
    a uniform key, so no skew even when the corpus is pathological.
    """
    order = [F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()]
    return dedup_keep_first(
        df.withColumn("__h", F.sha2(F.col(text_col), 256)), ["__h"], order
    ).drop("__h")


def incremental_exact_dedup(
    new_df: DataFrame,
    seen: DataFrame | None,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Cross-run dedup: drop rows of ``new_df`` whose content digest
    already exists in the historical ``seen`` store, and return the
    updated store.

    This is the shape of continuous corpus ingestion at scale: ``seen``
    is a persisted table of sha2-256 digests (tiny relative to the
    corpus), the anti-join shuffles on a uniform 256-bit key, and the
    returned store is the old one plus this batch's new digests —
    append it back to the store table. Returns (fresh_rows, new_seen).
    """
    digested = new_df.withColumn("__h", F.sha2(F.col(text_col), 256))
    batch_unique = dedup_keep_first(digested, ["__h"], [F.col(id_col)])
    if seen is not None:
        fresh = batch_unique.join(seen.select(F.col("digest").alias("__h")), "__h", "left_anti")
    else:
        fresh = batch_unique
    new_seen = fresh.select(F.col("__h").alias("digest"))
    return fresh.drop("__h"), new_seen


def _ngram_array(toks, n: int, short_doc_fallback: bool = True):
    """Word n-grams via a zip_with chain over shifted views.

    Deliberately NOT transform(sequence(...), i -> slice(toks, i+1, n)):
    expressions inside a Catalyst lambda are re-evaluated per
    invocation, so after projection collapse that form re-runs the
    whole regexp tokenizer once per index — O(L²) regex work per
    document (observed 20×+ slowdown). The zip_with chain references
    the token array only n times total.

    ``short_doc_fallback=True`` (the shingling convention) makes a
    doc with fewer than n tokens contribute its full text as one
    shingle; ``False`` gives the strict definition (such docs have
    zero n-grams — what counting/repetition signals want).
    """
    g = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, 2_000_000)
        g = F.zip_with(
            g,
            shifted,
            lambda a, b: F.when(
                a.isNotNull() & b.isNotNull(), F.concat(a, F.lit(" "), b)
            ),
        )
    grams = F.filter(g, lambda x: x.isNotNull())
    if not short_doc_fallback:
        return grams
    # short docs (< n tokens) still contribute their full text as one shingle
    return F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(grams)


def _tokens_sql(text_col: str) -> str:
    """SQL expression for the lowercased alphanumeric word tokens of
    ``text_col``.

    One regex pass: splitting on runs of non-alphanumerics is
    equivalent to replace-nonalnum-with-space → trim → split-on-ws,
    but ~4× cheaper (regexp_replace rewrites the whole string char by
    char; split scans once). The filter drops the empty fragments a
    leading/trailing separator produces, so empty/whitespace-only
    documents have no tokens. A SQL string parsed server-side in one
    call instead of built through per-node Py4J round trips (~30
    ms/build measured; see minhash_signatures_rowwise for why that
    matters)."""
    return f"filter(split(lower({sql_ident(text_col)}), '[^a-z0-9]+'), x -> x != '')"


def _ngram_array_sql(toks_sql: str, n: int, short_doc_fallback: bool = True) -> str:
    """SQL-string twin of ``_ngram_array`` (same zip_with chain over
    shifted views, same short-doc fallback). The token expression is
    repeated textually; after parsing the tree is expression-equal to
    the Python-built one and runtime CSE evaluates the tokenizer once
    per document exactly as before."""
    g = toks_sql
    for j in range(1, n):
        shifted = f"slice({toks_sql}, {j + 1}, 2000000)"
        g = (
            f"zip_with({g}, {shifted}, (a, b) -> "
            "CASE WHEN a IS NOT NULL AND b IS NOT NULL "
            "THEN concat(a, ' ', b) END)"
        )
    grams = f"filter({g}, x -> x IS NOT NULL)"
    if not short_doc_fallback:
        return grams
    return (
        f"CASE WHEN size({toks_sql}) < {n} "
        f"THEN array(concat_ws(' ', {toks_sql})) ELSE {grams} END"
    )


def shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Explode each document into its distinct word n-gram shingles.

    Tokenize → n-gram (zip_with chain, see _ngram_array) → distinct →
    explode. All higher-order array functions inside whole-stage
    codegen; the expression is a server-side-parsed SQL string (one
    Py4J call instead of ~90 ms of per-node construction, r15 — see
    minhash_signatures_rowwise).
    """
    return ensure_parallelism(df).select(
        F.col(sql_ident(id_col)).alias("doc"),
        F.explode(
            F.expr(f"array_distinct({_ngram_array_sql(_tokens_sql(text_col), n)})")
        ).alias("shingle"),
    )


def minhash_signatures_rowwise(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 24, n: int = 3
) -> DataFrame:
    """Per-doc MinHash signature computed WITHOUT the explode+groupBy
    shuffle: a document's shingles are already co-located in its own
    row, so tokenize → n-gram → distinct → hash → 24 array_min's all
    run as higher-order array expressions inside one whole-stage
    codegen span. Emits (doc, mh_0..mh_{k-1}, hset, sz): ``hset`` is
    the set of base hashes ``xxhash64(shingle)`` over the doc's
    distinct shingles, ``sz`` its size, and ``mh_i`` = min over
    ``hset`` of ``xxhash64(h, i)`` — each shingle string is hashed
    once and the k hash functions are derived by re-hashing that
    8-byte value with seed i (~len(shingle)/8 cheaper than hashing the
    string per seed, same collision statistics). The plan is a pure
    map: at 100 TB this removes the shuffle of an exploded shingle
    table (≈ 50× the corpus row count) entirely; the first exchange
    in the whole dedup pipeline is the tiny banded signature table.
    ``hset`` also lets pair_jaccard_hashed verify candidate pairs
    exactly from the signature table alone.

    Higher-order lambdas run interpreted (no whole-stage codegen), so
    the per-element constant dominates: computing the k mins as k
    separate ``array_min(transform(...))`` expressions walks the array
    k times (measured ~2.6× slower than this form), while a single
    ``aggregate`` walks it once, folding each shingle hash into a
    k-wide running-min vector. The shingle-hash array is materialized
    in its own projection so the fold references a computed column;
    CollapseProject declines to inline a non-cheap alias referenced
    more than once, so the tokenizer runs once per document.

    Expressions are built as SQL strings parsed server-side (r15):
    assembling this tree through the Python Column API costs ~300 ms
    of driver-side Py4J round trips PER CALL (measured — ~40% of the
    whole q_dedup_minhash_lsh wall at sf0.1), while ``F.expr`` ships
    one string. Values are pinned against an explode + groupBy(doc)
    reference in the tests.
    """
    hset_sql = (
        "array_distinct(transform("
        + _ngram_array_sql(_tokens_sql(text_col), n)
        + ", g -> xxhash64(g)))"
    )
    base = ensure_parallelism(df).select(
        F.col(sql_ident(id_col)).alias("doc"), F.expr(hset_sql).alias("hset")
    )
    mins_sql = (
        f"aggregate(hset, array_repeat({2**63 - 1}, {num_hashes}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {num_hashes - 1}), "
        "(a, i) -> least(a, xxhash64(h, i))))"
    )
    folded = base.select(
        "doc", F.expr(mins_sql).alias("mins"), "hset", F.size("hset").alias("sz")
    )
    # mh_i columns extracted from the materialized fold — cheap
    # attribute+element_at projections, for band-key construction
    return folded.selectExpr(
        "doc",
        *[f"element_at(mins, {i + 1}) AS mh_{i}" for i in range(num_hashes)],
        "hset",
        "sz",
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    num_hashes: int = 24,
    bands: int = 8,
    max_bucket_size: int | None = 5000,
) -> DataFrame:
    """Band the signature and emit candidate pairs sharing any band hash.

    rows-per-band bucketing: hash each band of r=num_hashes/bands values
    to a single key, then generate pairs bucket-locally — ONE shuffle
    (groupBy band-key, collect the bucket's sorted doc list) instead of
    the window-guard + self-join + distinct chain (three exchanges over
    the banded table). Pair generation streams: posexplode anchors each
    doc, a second explode emits its strictly-later bucket mates, so
    peak memory per in-flight row is one bucket's id array (≤ cap ids,
    ~40 KB at the default), never a materialized pair array.

    ``max_bucket_size`` is the quadratic-blowup guard: a boilerplate
    mega-cluster (one band value shared by 10^6 docs) would otherwise
    emit 10^12 pairs from a single bucket. Buckets above the cap are
    dropped — their members are near-identical and are caught by exact
    dedup / remain candidates through their other (rarer) bands.
    """
    banded = sig.select(
        "doc",
        F.explode(F.expr(_band_array_sql(num_hashes, bands))).alias("bh"),
    ).select("doc", "bh.band", "bh.bkey")
    buckets = (
        banded.groupBy("band", "bkey")
        .agg(F.array_sort(F.collect_list("doc")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ds") <= max_bucket_size)
    raw_pairs = buckets.select(
        F.col("ds"), F.posexplode("ds").alias("__i", "doc_a")
    ).select(
        "doc_a",
        F.explode(F.slice("ds", F.col("__i") + 2, F.size("ds"))).alias("doc_b"),
    )
    # a pair may collide in several bands — dedup before verification.
    # The dedup shuffle is KEYED BY doc_a (HashPartitioning(doc_a)
    # satisfies the (doc_a, doc_b) clustering the aggregate needs), so
    # the doc_a-keyed verify join downstream reuses this exchange
    # instead of re-shuffling the deduped pair table a second time
    # (guide §2.4: operations keyed the same way share one exchange —
    # the pair table now crosses 2 exchanges end to end, not 3). Cost:
    # no map-side partial collapses duplicates before this shuffle, so
    # (1) a pair crosses it up to ``bands`` times, once per band it
    # collides in, and (2) all raw pairs of one doc_a land on one task.
    # doc_a is the smaller id of a pair, so the smallest doc of a
    # near-duplicate cluster of size c anchors up to (c - 1) × bands
    # rows on its single key (c ≤ max_bucket_size); AQE splits skewed
    # joins, not aggregates, so that task is not split at runtime.
    return raw_pairs.repartition("doc_a").distinct()


def pair_jaccard(
    sh: DataFrame, pairs: DataFrame, sizes: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard for candidate pairs from their shingle sets.

    intersection via double equi-join on shingle restricted to candidate
    docs; union = |A| + |B| - |A∩B|. Everything keyed, everything
    shuffle-local. Pass ``sizes`` (doc, sz) — e.g. the
    minhash_signatures_rowwise table — to skip recomputing set sizes.
    """
    if sizes is None:
        sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    else:
        sizes = sizes.select("doc", "sz")
    sh_b = sh.select(
        F.col("doc").alias("__doc_b"), F.col("shingle").alias("__shingle_b")
    )
    inter = (
        pairs.join(sh.withColumnRenamed("doc", "doc_a"), "doc_a")
        .join(
            sh_b,
            on=[
                F.col("doc_b") == F.col("__doc_b"),
                F.col("shingle") == F.col("__shingle_b"),
            ],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))).alias(
                "jaccard"
            ),
        )
    )


def pair_jaccard_hashed(pairs: DataFrame, sets: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs from per-doc shingle-hash sets.

    ``sets`` is (doc, hset: array<long>, sz) — one row per doc (from
    minhash_signatures_rowwise). Two equi-joins on doc id
    (uniform key, no skew) bring both arrays onto the pair row;
    intersection is ``array_intersect`` in whole-stage codegen. "Exact"
    up to 64-bit hash collisions (~n²/2⁶⁵ — negligible, and the MinHash
    stage already rides the same hashes).

    Preferred over pair_jaccard when per-doc shingle counts are bounded
    (web/LLM corpora: ~10²-10⁴ shingles → ≤ ~100 KB rows). For
    pathological multi-million-shingle docs, use the explode-join
    pair_jaccard path instead of shipping giant arrays.
    """
    # shuffle_hash, never broadcast: ``sets`` is one row PER DOC but each
    # row carries the hset array, so its size scales with the corpus.
    # AQE sizes broadcast candidates by compressed shuffle bytes, which
    # under-measures array payloads' JVM row footprint ~4-8x — at the
    # sf10 fixture it converted this side to a ~270 MB in-heap broadcast
    # and died ("Not enough memory to build and broadcast", r14). The
    # hint pins a key-partitioned hash join (uniform doc ids, no sort)
    # that holds at any corpus size.
    sa = sets.select(
        F.col("doc").alias("doc_a"), F.col("hset").alias("__ha"), F.col("sz").alias("sz_a")
    ).hint("shuffle_hash")
    sb = sets.select(
        F.col("doc").alias("doc_b"), F.col("hset").alias("__hb"), F.col("sz").alias("sz_b")
    ).hint("shuffle_hash")
    inter = F.size(F.array_intersect(F.col("__ha"), F.col("__hb")))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter / (F.col("sz_a") + F.col("sz_b") - inter)).alias("jaccard"),
        )
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 24,
    bands: int = 8,
    threshold: float = 0.8,
    max_hset_size: int | None = 1_000_000,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection: shingle → signature →
    band → candidate pairs → exact-Jaccard verify ≥ threshold.

    Returns (doc_a, doc_b, jaccard) for confirmed near-duplicate pairs.

    One shuffle-free pass over the corpus: signatures, set sizes, and
    shingle-hash sets are all computed row-wise inside the scan stage
    (minhash_signatures_rowwise — the corpus is never exploded, never
    shuffled), so the pipeline's only exchanges are the banded
    self-join over the per-doc signature table and two doc-keyed
    verify joins. ``sig`` feeds both sides of the banded join and the
    verify joins, so it is persisted (one row per doc — small relative
    to the corpus, the same materialization a production dedup job
    makes).

    Verify-path auto-switch: pairs whose docs both have ≤
    ``max_hset_size`` shingle hashes verify via pair_jaccard_hashed
    (array_intersect on the pair row — the fast path for real
    web/LLM corpora). Pairs touching a pathological multi-million-
    shingle doc would ship multi-MB arrays through that join, so they
    route to the explode-join pair_jaccard path instead, restricted
    (semi-join) to exactly the involved docs before exploding. Both
    paths hash shingles with the same xxhash64 universe, so the split
    is value-invisible. Giant docs are by construction rare, so the
    routing marks pairs with two BROADCAST joins against the tiny
    giant-doc set — no extra shuffle on the candidate-pair table.
    ``max_hset_size=None`` disables the split (always hashed).

    The split plan unions two branches over the candidate-pair
    subtree, so it is materially bigger than the hashed-only plan.
    The giant-doc check is therefore taken EAGERLY on the persisted
    per-doc signature table (one bounded filter+isEmpty job — the
    same table every later stage reuses): a corpus with no giant docs
    keeps the exact single-branch plan, and only a corpus that
    actually contains one pays for the routed plan.
    """
    sig = minhash_signatures_rowwise(df, text_col, id_col, num_hashes, n).persist()
    pairs = lsh_candidate_pairs(sig, num_hashes, bands)
    if max_hset_size is None:
        return pair_jaccard_hashed(pairs, sig).filter(F.col("jaccard") >= threshold)

    giants = sig.filter(F.col("sz") > max_hset_size).select("doc")
    if giants.isEmpty():
        return pair_jaccard_hashed(pairs, sig).filter(F.col("jaccard") >= threshold)
    marked = (
        pairs.join(
            F.broadcast(giants.select(F.col("doc").alias("doc_a"), F.lit(True).alias("__ga"))),
            "doc_a",
            "left",
        )
        .join(
            F.broadcast(giants.select(F.col("doc").alias("doc_b"), F.lit(True).alias("__gb"))),
            "doc_b",
            "left",
        )
        .withColumn(
            "__giant",
            F.coalesce(F.col("__ga"), F.lit(False)) | F.coalesce(F.col("__gb"), F.lit(False)),
        )
    )
    small_pairs = marked.filter(~F.col("__giant")).select("doc_a", "doc_b")
    giant_pairs = marked.filter(F.col("__giant")).select("doc_a", "doc_b")

    fast = pair_jaccard_hashed(small_pairs, sig)

    # explode only the docs the giant pairs actually touch (both
    # partners — a giant pair may include one ordinary doc)
    involved = (
        giant_pairs.select(F.col("doc_a").alias("doc"))
        .unionByName(giant_pairs.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    sig_involved = sig.join(involved, "doc", "left_semi")
    sh_involved = sig_involved.select("doc", F.explode("hset").alias("shingle"))
    slow = pair_jaccard(
        sh_involved, giant_pairs, sizes=sig_involved.select("doc", "sz")
    )
    return fast.unionByName(slow).filter(F.col("jaccard") >= threshold)


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: for each corpus document, count
    distinct word n-grams it shares with ANY benchmark document, and
    keep docs with ≥ min_overlap shared n-grams (candidates for
    removal before training).

    Execution shape: benchmark shingles are aggregated to a DISTINCT
    n-gram set (size = benchmark vocabulary — small by definition of an
    eval set, so Catalyst broadcasts the join); the corpus side streams
    through one explode + semi-style equi-join + per-doc count. No
    pairwise doc×doc work: overlap is counted against the benchmark's
    n-gram SET, which is what decontamination needs (any-source
    overlap, not attribution). Returns (doc, n_shared).
    """
    bench_grams = (
        shingles(benchmark, text_col, id_col, n).select("shingle").distinct()
    )
    corp = shingles(corpus, text_col, id_col, n)
    # explicit broadcast: eval sets are ≤ millions of n-grams (tens of
    # MB) while the corpus is the 100 TB side — the corpus must never
    # shuffle on shingle. The only corpus-side shuffle left is the
    # per-doc count (map-side partials → one row per contaminated doc).
    return (
        corp.join(F.broadcast(bench_grams), "shingle")
        .groupBy("doc")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document from token xxhash64s — the
    explode+groupBy reference form, kept as the documented fallback
    and parity oracle for ``simhash_rowwise`` (which computes
    bit-identical fingerprints with NO shuffle and is what the
    pipeline entry points use).

    Per-token hash once, then 64 conditional-sum aggregates (one per
    bit) — all map-side partials, one shuffled row per doc. The final
    fingerprint is assembled with shifts; sign(sum) > 0 sets the bit.
    """
    tok = ensure_parallelism(df).select(
        F.col(sql_ident(id_col)).alias("doc"),
        F.explode(F.expr(_tokens_sql(text_col))).alias("t"),
    ).withColumn("h", F.xxhash64("t"))
    bit_sums = tok.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    fp = None
    for i in range(bits):
        weight = 2**i if i < 63 else -(2**63)  # two's-complement top bit
        term = F.when(F.col(f"b{i}") > 0, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return bit_sums.select("doc", fp.alias("simhash"))


def simhash_rowwise(
    df: DataFrame, text_col: str, id_col: str, bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document WITHOUT the explode+shuffle: the
    mirror of minhash_signatures_rowwise. A document's tokens are
    already co-located in its own row, so one higher-order
    ``aggregate`` folds each token hash into a ``bits``-wide running
    bit-sum vector — a pure map stage. At 100 TB this removes the
    shuffle of the exploded token table (~100× the corpus row count;
    the explode form ships one 64-column partial-agg row per doc)
    entirely: the first exchange in the pipeline becomes the tiny
    blocked fingerprint table.

    Bit-identical to ``simhash`` (same xxhash64 token hashes, same
    sign(sum) bit rule, same two's-complement top-bit assembly); docs
    with zero tokens are dropped, matching the explode form where no
    rows survive the explode. The token-hash array is materialized in
    its own projection so the fold walks it once per document
    (CollapseProject declines to inline a non-cheap alias; see
    minhash_signatures_rowwise for the measured rationale).

    Expressions are SQL strings parsed server-side (r15): the Python
    Column build of the 64-wide fold + weight array measured ~660 ms
    of driver-side Py4J work PER CALL — most of the q_dedup_simhash
    wall at sf0.1. Values bit-identical (explode-form parity test).
    """
    hs_sql = f"transform({_tokens_sql(text_col)}, t -> xxhash64(t))"
    base = (
        ensure_parallelism(df)
        .select(F.col(sql_ident(id_col)).alias("doc"), F.expr(hs_sql).alias("__hs"))
        .filter(F.size("__hs") > 0)
    )
    # getbit(h, i) == (h >> i) & 1 (two's-complement), and unlike
    # shiftright it takes the bit position as a COLUMN
    sums_sql = (
        f"aggregate(__hs, array_repeat(CAST(0 AS BIGINT), {bits}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {bits - 1}), "
        "(a, i) -> a + CASE WHEN getbit(h, i) = 1 THEN 1 ELSE -1 END))"
    )
    weights_sql = "array(" + ", ".join(
        f"CAST({2**i if i < 63 else -(2**63)} AS BIGINT)" for i in range(bits)
    ) + ")"
    folded = base.select("doc", F.expr(sums_sql).alias("__sums"))
    fp_sql = (
        f"aggregate(zip_with(__sums, {weights_sql}, "
        "(s, w) -> CASE WHEN s > 0 THEN w ELSE CAST(0 AS BIGINT) END), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return folded.select("doc", F.expr(fp_sql).alias("simhash"))


def hamming_near_pairs(
    fps: DataFrame,
    fp_col: str = "fp",
    id_col: str = "doc",
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Pairs of 64-bit fingerprints within a Hamming radius — the
    shared candidate-generation core for SimHash text dedup and dHash
    image dedup.

    Pigeonhole blocking: split the fingerprint into ``chunks`` equal
    blocks; any pair within radius ``chunks-1`` shares ≥1 exact block,
    so candidates come from block-value buckets — never a cross
    product. Pairs are generated bucket-locally (one groupBy shuffle +
    streamed posexplode, same shape as lsh_candidate_pairs) and the
    Hamming distance verified with bit_count(xor) on the fingerprints
    carried in the bucket. For a guaranteed-complete answer, pick
    chunks > max_hamming.

    ``max_bucket_size`` (default None = unlimited, preserving the
    completeness contract) is the same quadratic-blowup guard as
    lsh_candidate_pairs / cosine_near_duplicates: pass a cap when a
    degenerate corpus (mass-identical fingerprints) is possible and
    exact dedup runs upstream to catch those clusters.
    """
    width = 64 // chunks
    # SQL-string block array (server-side parse — see
    # minhash_signatures_rowwise): same shiftrightunsigned/AND values
    blocks_sql = "array(" + ", ".join(
        f"struct({c} AS blk, "
        f"shiftrightunsigned({sql_ident(fp_col)}, {c * width}) & {(1 << width) - 1} AS bval)"
        for c in range(chunks)
    ) + ")"
    blocked = fps.select(
        F.col(sql_ident(id_col)).alias("doc"),
        F.col(sql_ident(fp_col)).alias("__fp"),
        F.explode(F.expr(blocks_sql)).alias("bc"),
    ).select("doc", "__fp", "bc.blk", "bc.bval")
    buckets = (
        blocked.groupBy("blk", "bval")
        .agg(
            # struct sort orders by the first field (doc), so the
            # slice-from-i+2 emission below yields doc_a < doc_b
            F.array_sort(
                F.collect_list(F.struct(F.col("doc"), F.col("__fp")))
            ).alias("ds")
        )
        .filter(F.size("ds") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ds") <= max_bucket_size)
    cand = (
        buckets.select(F.col("ds"), F.posexplode("ds").alias("__i", "a"))
        .select(
            "a", F.explode(F.slice("ds", F.col("__i") + 2, F.size("ds"))).alias("b")
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.__fp").alias("h_a"),
            F.col("b.__fp").alias("h_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cand.select(
        "doc_a", "doc_b", ham.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius (see
    hamming_near_pairs for the blocking strategy). Fingerprints come
    from the shuffle-free rowwise fold."""
    fps = simhash_rowwise(df, text_col, id_col)
    return hamming_near_pairs(
        fps, fp_col="simhash", id_col="doc",
        max_hamming=max_hamming, chunks=chunks,
    )


def _band_array_sql(num_hashes: int, bands: int) -> str:
    """SQL string for the per-doc band-struct array (one xxhash64 of
    each band's r signature mins) — server-side parse, see
    minhash_signatures_rowwise."""
    r = num_hashes // bands
    structs = ", ".join(
        f"struct({b} AS band, "
        f"xxhash64({', '.join(f'mh_{b * r + j}' for j in range(r))}) AS bkey)"
        for b in range(bands)
    )
    return f"array({structs})"


def _band_keys(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc, band, bkey) banding projection of a signature table —
    the same keys lsh_candidate_pairs buckets on."""
    return sig.select(
        "doc",
        F.explode(F.expr(_band_array_sql(num_hashes, bands))).alias("bh"),
    ).select("doc", "bh.band", "bh.bkey")


def incremental_minhash_dedup(
    new_df: DataFrame,
    store: DataFrame | None,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 24,
    bands: int = 8,
    threshold: float = 0.8,
) -> tuple[DataFrame, DataFrame]:
    """Cross-run NEAR-dup ingestion — the MinHash twin of
    incremental_exact_dedup: drop rows of ``new_df`` that are verified
    near-duplicates (jaccard ≥ threshold) of the historical signature
    ``store`` or of a lower-id row in the same batch, and return the
    updated store.

    ``store`` is the persisted per-doc signature table
    (doc, mh_*, hset, sz — the minhash_signatures_rowwise layout,
    exactly what the batch operator persists anyway); only FRESH
    rows' signatures are appended, so dropped duplicates never
    pollute future comparisons. Doc ids must be globally unique
    across runs.

    Scale shape: the batch is scanned once for signatures (shuffle-
    free, row-wise); candidate generation is a band-key join of the
    NEW banding against the combined banding — new×all, never
    old×old, so a small daily increment against a huge store costs
    |increment| × collision-rate, not |store|². Verification is the
    hashed pair-jaccard join. Returns (fresh_rows, new_store).

    Eager by contract: the batch's signatures are materialized inside
    the call (localCheckpoint, sized by |increment| not |store|) and
    the scratch cache is released before returning, so repeated
    ingestion runs in a long-lived session don't accumulate persisted
    signature tables (r6 advice item). The returned DataFrames carry
    no lineage over the scratch cache.
    """
    sig_new = minhash_signatures_rowwise(
        new_df, text_col, id_col, num_hashes, n
    ).persist()
    combined = sig_new if store is None else store.unionByName(sig_new)
    bn = _band_keys(sig_new, num_hashes, bands)
    ba = _band_keys(combined, num_hashes, bands)
    cand = (
        bn.alias("n")
        .join(
            ba.alias("a"),
            on=[
                F.col("n.band") == F.col("a.band"),
                F.col("n.bkey") == F.col("a.bkey"),
                F.col("n.doc") != F.col("a.doc"),
            ],
        )
        .select(F.col("n.doc").alias("doc_a"), F.col("a.doc").alias("doc_b"))
        # dedup keyed by doc_a so the doc_a-keyed verify join reuses
        # this exchange (guide §2.4; see lsh_candidate_pairs)
        .repartition("doc_a")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    verified = pair_jaccard_hashed(cand, combined).filter(
        F.col("jaccard") >= threshold
    )
    # a new doc is a duplicate if its partner is historical (not in
    # sig_new) or an earlier (lower-id) doc of this batch
    new_ids = sig_new.select(F.col("doc").alias("doc_b")).withColumn(
        "__is_new", F.lit(True)
    )
    dup_ids = (
        verified.join(new_ids, "doc_b", "left")
        .filter(~F.coalesce(F.col("__is_new"), F.lit(False)) | (F.col("doc_b") < F.col("doc_a")))
        .select(F.col("doc_a").alias("doc"))
        .distinct()
        .localCheckpoint(eager=True)  # small: ≤ |increment| ids
    )
    fresh = new_df.join(
        dup_ids.select(F.col("doc").alias(id_col)), id_col, "left_anti"
    )
    # materialize the surviving signatures so sig_new's cache can be
    # dropped now — otherwise every ingestion run leaks one persisted
    # signature table into the session (and callers can't time the
    # unpersist because the returned store retains lineage over it)
    fresh_sigs = sig_new.join(dup_ids, "doc", "left_anti").localCheckpoint(eager=True)
    sig_new.unpersist()
    new_store = fresh_sigs if store is None else store.unionByName(fresh_sigs)
    return fresh, new_store


def _drop_phantom_signature(sig: DataFrame) -> DataFrame:
    """Drop the phantom all-empty-shingle signature token-free docs
    carry (sz==1 with the xxhash64('') hash, which no tokenized
    document can produce) — see fuzzy_decontaminate."""
    return sig.filter(
        (F.col("sz") > 0)
        & ~(
            (F.col("sz") == 1)
            & (F.element_at("hset", 1) == F.xxhash64(F.lit("")))
        )
    )


def decontamination_signatures(
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 24,
) -> DataFrame:
    """The eval-set signature table fuzzy_decontaminate screens
    against, precomputed for REUSE across runs: persist it once
    (plain parquet — (doc, mh_*, hset, sz) are all storable types)
    and pass it back via ``eval_signatures`` so each new corpus shard
    screens against the same benchmark set without re-signaturing it
    — the incremental_exact_dedup store discipline applied to the
    decontamination side."""
    return _drop_phantom_signature(
        minhash_signatures_rowwise(eval_df, text_col, id_col, num_hashes, n)
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame | None,
    text_col: str,
    id_col: str,
    eval_text_col: str | None = None,
    eval_id_col: str | None = None,
    n: int = 3,
    num_hashes: int = 24,
    bands: int = 8,
    threshold: float = 0.8,
    eval_signatures: DataFrame | None = None,
    broadcast_candidates: bool | None = None,
) -> DataFrame:
    """Fuzzy benchmark decontamination: flag every corpus document
    that is a verified MinHash near-duplicate (jaccard ≥ threshold)
    of ANY eval-set document — the paraphrase-robust complement of
    the exact n-gram-overlap decontamination (text.decontaminate /
    q_text_decontaminate), the same two-sided recipe GPT-3/Llama
    report for benchmark hygiene.

    Returns (doc, eval_doc, jaccard) — one row per flagged corpus doc
    with its best-matching eval doc (ties broken by greatest eval id,
    a total order for any orderable id type).
    Dropping flagged docs is a left_anti join on ``doc``.

    Scale shape: both sides get shuffle-free row-wise signatures;
    candidate generation is the banded equi-join of CORPUS bands
    against EVAL bands — corpus × eval only, NEVER corpus × corpus,
    so cost is |corpus| × eval-collision-rate. The eval side is a
    benchmark set (thousands of rows, not billions) — its banding
    and signature tables are broadcast. The candidate set's size is
    |corpus| × eval-collision-rate — small in the common case but
    corpus-proportional exactly in the heavy-contamination scenario
    this operator targets (crawls of benchmark mirrors), so it is NOT
    unconditionally broadcast: ``broadcast_candidates=None`` (default)
    leaves the verification join unhinted and lets AQE size the
    materialized candidate table at runtime — it becomes a broadcast
    join when it fits under ``spark.sql.autoBroadcastJoinThreshold``
    (the corpus signature table then streams map-side) and an
    AQE-optimized shuffle join when it doesn't (no driver OOM).
    ``True`` forces the broadcast hint (the pre-round-10 behavior,
    for when the caller KNOWS contamination is sparse); ``False``
    forces the shuffle join.

    Token-free documents (empty / whitespace / no alphanumerics) are
    never flagged: the short-doc shingling fallback gives every such
    doc the single phantom shingle ``""``, so they would all band-
    collide with every token-free eval doc (and verify at jaccard
    1.0) despite sharing no content. Both signature tables drop that
    phantom signature — sz==1 with the ``xxhash64('')`` hash, which
    no tokenized document can produce — before banding.

    Pass ``eval_signatures`` (from ``decontamination_signatures``,
    typically read back from parquet) to screen against a PERSISTED
    benchmark signature table instead of re-signaturing ``eval_df``
    every run; ``eval_df`` may then be None.
    """
    sig_c = _drop_phantom_signature(
        minhash_signatures_rowwise(corpus, text_col, id_col, num_hashes, n)
    )
    if eval_signatures is not None:
        sig_e = eval_signatures
    else:
        if eval_df is None:
            raise ValueError(
                "fuzzy_decontaminate: provide eval_df or eval_signatures"
            )
        etc = eval_text_col or text_col
        eic = eval_id_col or id_col
        sig_e = decontamination_signatures(
            eval_df.select(
                F.col(eic).alias(id_col), F.col(etc).alias(text_col)
            ),
            text_col,
            id_col,
            n,
            num_hashes,
        )
    bc = _band_keys(sig_c, num_hashes, bands)
    be = _band_keys(sig_e, num_hashes, bands)
    cand = (
        bc.alias("c")
        .join(
            F.broadcast(be.alias("e")),
            on=[
                F.col("c.band") == F.col("e.band"),
                F.col("c.bkey") == F.col("e.bkey"),
            ],
        )
        .select(F.col("c.doc").alias("doc_a"), F.col("e.doc").alias("doc_b"))
        # keyed by doc_a: the corpus-signature verify join below is
        # doc_a-keyed, so the dedup exchange does double duty (§2.4)
        .repartition("doc_a")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    se = F.broadcast(
        sig_e.select(
            F.col("doc").alias("doc_b"),
            F.col("hset").alias("__hb"),
            F.col("sz").alias("sz_b"),
        )
    )
    sc = sig_c.select(
        F.col("doc").alias("doc_a"),
        F.col("hset").alias("__ha"),
        F.col("sz").alias("sz_a"),
    )
    inter = F.size(F.array_intersect(F.col("__ha"), F.col("__hb")))
    # candidate side of the verification join: broadcast only when the
    # caller forces it — by default leave it to AQE's runtime sizing
    # (see docstring; an unconditional hint OOMs the driver exactly in
    # the heavy-contamination case this operator exists for)
    if broadcast_candidates is True:
        cand = F.broadcast(cand)
    elif broadcast_candidates is False:
        cand = cand.hint("shuffle_hash")
    verified = (
        cand.join(sc, "doc_a")
        .join(se, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter / (F.col("sz_a") + F.col("sz_b") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # best eval match per corpus doc: max jaccard, then greatest eval
    # id (struct ordering is lexicographic — deterministic for any
    # orderable id type)
    return (
        verified.groupBy("doc_a")
        .agg(F.max(F.struct("jaccard", "doc_b")).alias("__m"))
        .select(
            F.col("doc_a").alias("doc"),
            F.col("__m.doc_b").alias("eval_doc"),
            F.col("__m.jaccard").alias("jaccard"),
        )
    )
