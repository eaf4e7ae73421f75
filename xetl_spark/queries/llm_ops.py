"""LLM-data-pipeline operators over documents/embeddings: text analysis,
dedup (exact / MinHash / SimHash), similarity search, multimodal
plumbing, and the UDF surface.

Approximate/LSH ops carry no SQL oracle (driver runs rows-only checks);
their quality properties (recall vs brute force, jaccard correctness)
are asserted in tests/test_llm_ops.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xetl_spark.operators import (
    cosine_topk_bruteforce,
    exact_dedup,
    lsh_ann_topk,
    minhash_near_duplicates,
    simhash_near_duplicates,
    multimodal,
    text,
)
from xetl_spark.operators.util import ensure_parallelism
from xetl_spark.queries import load, query

# Task cap for the CONSTANT-SIZE codec fixture batteries (120-440 rows
# feeding 2-3 chained Python stages each): the per-stage JVM↔Python
# round-trip cost is flat up to ~16 tasks and grows past it (measured
# ~420 ms at 1-16 tasks vs 661 ms at 32 on this host's slow crossing
# regime — OPTIMIZATION_r14.md), while the batteries' 0.1-0.6 s of
# codec CPU saturates at 16-way. Corpus-scaling inputs (text/dedup
# pipelines) deliberately do NOT use this cap.
_FIXTURE_TASKS = 16

# DuckDB token expression mirroring operators.text.tokens()
_DD_TOKENS = (
    "string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')), '\\s+')"
)


@query(
    "q_text_stats",
    oracle=f"""
    SELECT doc_id,
           len({_DD_TOKENS})                       AS n_tokens,
           length(text)                            AS n_chars_obs,
           n_chars                                 AS n_chars_decl,
           round(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                 / greatest(length(text), 1), 6)   AS punct_ratio,
           len(list_distinct({_DD_TOKENS}))        AS n_unique_tokens
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char counting and punctuation stats per document."""
    (docs,) = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.char_count("text").alias("n_chars_obs"),
        F.col("n_chars").alias("n_chars_decl"),
        F.round(text.punct_ratio("text"), 6).alias("punct_ratio"),
        F.size(F.array_distinct(text.tokens("text"))).alias("n_unique_tokens"),
    )


@query(
    "q_text_bpe_tokens",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+'))
               AS n_bpe_tokens,
           len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens
    FROM documents
    """,
)
def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM token counting: GPT-2-style pre-tokenizer regex vs whitespace
    (the BPE-ish approximation a data pipeline budgets tokens with)."""
    (docs,) = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_ws_tokens"),
    )


@query(
    "q_split_train_test",
    oracle="""
    SELECT doc_id,
           CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                THEN 'test' ELSE 'train' END AS split
    FROM documents
    """,
)
def q_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed train/test split (stable across
    engines, runs, partitionings, and incremental appends)."""
    from xetl_spark.operators.relational import train_test_split

    (docs,) = load(spark, sf_dir, "documents")
    return train_test_split(docs, ["doc_id"], test_pct=10).select("doc_id", "split")


@query(
    "q_text_boilerplate",
    oracle="""
    WITH lines AS (
      SELECT d.doc_id, j.i AS pos,
             'seg-' || ((d.doc_id * 7 + j.i)
                        % (CASE WHEN j.i = 0 THEN 10 ELSE 200 END)) AS line
      FROM documents d, range(4) j(i) WHERE d.doc_id < 400
    ), freq AS (
      SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line
    )
    SELECT l.doc_id,
           string_agg(l.line, chr(10) ORDER BY l.pos) AS clean_text
    FROM lines l JOIN freq f USING (line)
    WHERE f.df < 30
    GROUP BY l.doc_id
    """,
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate line removal, hash-verified: synthesizes
    4-line documents where line 0 draws from a 10-value pool (each
    value shared by ~40 docs — boilerplate) and lines 1-3 from a
    200-value pool (~8 docs each — content). The operator must drop
    exactly the line-0 family and reassemble the rest in order; the
    SQL oracle replays the same frequencies and filtering."""
    from xetl_spark.operators.text import remove_boilerplate

    (docs,) = load(spark, sf_dir, "documents")
    synth = docs.select("doc_id").where(F.col("doc_id") < 400).select(
        "doc_id",
        F.concat_ws(
            "\n",
            *[
                F.concat(
                    F.lit("seg-"),
                    ((F.col("doc_id") * 7 + F.lit(j)) % (10 if j == 0 else 200)).cast(
                        "string"
                    ),
                )
                for j in range(4)
            ],
        ).alias("text"),
    )
    out = remove_boilerplate(synth, "text", "doc_id", min_docs=30)
    return out.select(F.col("doc").alias("doc_id"), "clean_text")


@query(
    "q_split_stratified",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN row_number() OVER (
                    PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                <= CEIL(0.2 * (count(*) OVER (PARTITION BY lang)))
                THEN 'test' ELSE 'train' END AS split
    FROM documents
    """,
)
def q_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified split with exact 20% test per language stratum —
    content-hash ranked, so deterministic across engines/runs (the
    oracle replays the identical ranking in SQL)."""
    from xetl_spark.operators.relational import stratified_split

    (docs,) = load(spark, sf_dir, "documents")
    return stratified_split(docs, ["lang"], ["doc_id"], test_pct=20).select(
        "doc_id", "lang", "split"
    )


@query(
    "q_text_unigram_logprob",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             unnest(list_filter({_DD_TOKENS}, x -> x <> '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
    c AS (SELECT term, sum(tf) AS c FROM tf GROUP BY term),
    n AS (SELECT sum(tf) AS N FROM tf)
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(sum(tf * -ln(c / N)) / sum(tf), 6) AS avg_nll
    FROM tf JOIN c USING (term) CROSS JOIN n
    GROUP BY doc_id
    """,
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring: mean per-token negative
    log-likelihood under the corpus's own unigram distribution
    (operators/text.py unigram_logprob — tf table + term-partitioned
    window, no vocabulary broadcast). The LLM-pipeline filter shape:
    rank/flag documents whose token mix is corpus-atypical."""
    from xetl_spark.operators.text import unigram_logprob

    (docs,) = load(spark, sf_dir, "documents")
    out = unigram_logprob(docs, "text", "doc_id")
    return out.select(
        F.col("doc").alias("doc_id"),
        "n_tokens",
        F.round("avg_nll", 6).alias("avg_nll"),
    )


@query(
    "q_text_bigram_logprob",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter({_DD_TOKENS}, x -> x <> '') AS toks
      FROM documents),
    b AS (
      SELECT doc_id, pair[1] AS w1, pair[2] AS w2
      FROM t, LATERAL (
        SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS pair
      ) p
      WHERE len(toks) >= 2),
    bf AS (SELECT doc_id, w1, w2, count(*) AS bf FROM b GROUP BY ALL),
    c12 AS (SELECT w1, w2, sum(bf) AS c12 FROM bf GROUP BY w1, w2),
    c1 AS (SELECT w1, sum(bf) AS c1 FROM bf GROUP BY w1),
    v AS (SELECT count(DISTINCT term) AS v
          FROM (SELECT unnest(toks) AS term FROM t))
    SELECT doc_id,
           CAST(sum(bf) AS BIGINT) AS n_bigrams,
           round(sum(bf * -ln((c12 + 1.0) / (c1 + 1.0 * v))) / sum(bf), 6)
             AS avg_nll
    FROM bf JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    GROUP BY doc_id
    """,
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity-proxy scoring (operators/text.py
    bigram_logprob): mean NLL per document under the corpus's own
    Laplace-smoothed bigram model — the next filter up from the
    unigram surrogate, still exactly SQL-verifiable (real pipelines
    swap in KenLM with the same dataflow)."""
    from xetl_spark.operators.text import bigram_logprob

    (docs,) = load(spark, sf_dir, "documents")
    out = bigram_logprob(docs, "text", "doc_id")
    return out.select(
        F.col("doc").alias("doc_id"),
        "n_bigrams",
        F.round("avg_nll", 6).alias("avg_nll"),
    )


@query(
    "q_text_repetition_signals",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter({_DD_TOKENS}, x -> x <> '') AS t
      FROM documents),
    base AS (
      SELECT doc_id, t, len(t) AS n_tokens,
             length(array_to_string(t, ' ')) AS total_chars
      FROM toks),
    lns AS (
      SELECT doc_id, trim(l) AS line
      FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
            FROM documents)
      WHERE trim(l) <> ''),
    lc AS (
      SELECT doc_id, line, count(*) AS c, strlen(line) AS bl
      FROM lns GROUP BY doc_id, line),
    lagg AS (
      SELECT doc_id,
             sum(c) AS n_lines,
             sum(c) - count(*) AS dup_line_count,
             sum(c * bl) AS line_chars,
             coalesce(sum(CASE WHEN c > 1 THEN c * bl END), 0) AS dup_line_chars
      FROM lc GROUP BY doc_id),
    g AS (
      SELECT doc_id, n,
             unnest(list_transform(range(1, greatest(len(t) - n + 2, 1)),
                                   i -> array_to_string(t[i:i+n-1], ' '))) AS gram
      FROM base CROSS JOIN (VALUES (2),(3),(4),(5),(6),(7),(8)) v(n)),
    gc AS (
      SELECT doc_id, n, gram, count(*) AS c, length(gram) AS gl
      FROM g GROUP BY doc_id, n, gram),
    gagg AS (
      SELECT doc_id, n,
             max(c * gl) AS topc,
             coalesce(sum(CASE WHEN c > 1 THEN c * gl END), 0) AS dupc
      FROM gc GROUP BY doc_id, n),
    gp AS (
      SELECT doc_id,
             coalesce(max(CASE WHEN n = 2 THEN topc END), 0) AS top_2gram_chars,
             coalesce(max(CASE WHEN n = 3 THEN topc END), 0) AS top_3gram_chars,
             coalesce(max(CASE WHEN n = 4 THEN topc END), 0) AS top_4gram_chars,
             coalesce(max(CASE WHEN n = 5 THEN dupc END), 0) AS dup_5gram_chars,
             coalesce(max(CASE WHEN n = 6 THEN dupc END), 0) AS dup_6gram_chars,
             coalesce(max(CASE WHEN n = 7 THEN dupc END), 0) AS dup_7gram_chars,
             coalesce(max(CASE WHEN n = 8 THEN dupc END), 0) AS dup_8gram_chars
      FROM gagg GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(b.total_chars AS BIGINT) AS total_chars,
           CAST(coalesce(l.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(l.dup_line_count, 0) AS BIGINT) AS dup_line_count,
           CAST(coalesce(l.line_chars, 0) AS BIGINT) AS line_chars,
           CAST(coalesce(l.dup_line_chars, 0) AS BIGINT) AS dup_line_chars,
           CAST(coalesce(gp.top_2gram_chars, 0) AS BIGINT) AS top_2gram_chars,
           CAST(coalesce(gp.top_3gram_chars, 0) AS BIGINT) AS top_3gram_chars,
           CAST(coalesce(gp.top_4gram_chars, 0) AS BIGINT) AS top_4gram_chars,
           CAST(coalesce(gp.dup_5gram_chars, 0) AS BIGINT) AS dup_5gram_chars,
           CAST(coalesce(gp.dup_6gram_chars, 0) AS BIGINT) AS dup_6gram_chars,
           CAST(coalesce(gp.dup_7gram_chars, 0) AS BIGINT) AS dup_7gram_chars,
           CAST(coalesce(gp.dup_8gram_chars, 0) AS BIGINT) AS dup_8gram_chars
    FROM base b
    LEFT JOIN lagg l USING (doc_id)
    LEFT JOIN gp USING (doc_id)
    """,
)
def q_text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family repetition quality signals (operators/text.py
    repetition_signals): duplicate-line count/char coverage plus
    top-{2,3,4}-gram and duplicated-{5..8}-gram character coverage per
    document — shuffle-free (one Arrow-batched scalar pandas UDF
    counting per document), integer outputs for exact cross-engine
    hashing."""
    (docs,) = load(spark, sf_dir, "documents")
    out = text.repetition_signals(docs, "text")
    ints = [
        "n_tokens", "total_chars", "n_lines", "dup_line_count",
        "line_chars", "dup_line_chars",
        "top_2gram_chars", "top_3gram_chars", "top_4gram_chars",
        "dup_5gram_chars", "dup_6gram_chars", "dup_7gram_chars",
        "dup_8gram_chars",
    ]
    return out.select("doc_id", *[F.col(c).cast("long").alias(c) for c in ints])


@query(
    "q_text_natural_line_dedup",
    # fixture docs are single-line word bags — synthesize deterministic
    # multi-line pages with planted cross-doc duplicates (a footer on
    # every doc, a promo line on every third) so the dedup semantics
    # are exercised non-vacuously; same expression both engines.
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             substr(text, 1, 50) || chr(10)
             || 'common footer line here' || chr(10)
             || substr(text, 51, 50) || chr(10)
             || CASE WHEN doc_id % 3 = 0 THEN 'promo line repeated often'
                     ELSE substr(text, 101, 30) END
             AS text
      FROM documents),
    ex AS (
      SELECT doc_id, generate_subscripts(parts, 1) AS pos,
             trim(unnest(parts)) AS unit
      FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM aug)),
    u AS (SELECT * FROM ex WHERE unit <> ''),
    stats AS (SELECT doc_id, count(*) AS n_units FROM u GROUP BY doc_id),
    k AS (
      SELECT doc_id, pos, unit,
             row_number() OVER (PARTITION BY unit ORDER BY doc_id, pos) AS rn
      FROM u),
    kept AS (
      SELECT doc_id, count(*) AS kept_units,
             string_agg(unit, chr(10) ORDER BY pos) AS new_text
      FROM k WHERE rn = 1 GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(s.n_units, 0) AS BIGINT) AS n_units,
           CAST(coalesce(kk.kept_units, 0) AS BIGINT) AS kept_units,
           coalesce(kk.new_text, '') AS new_text
    FROM documents d
    LEFT JOIN stats s USING (doc_id)
    LEFT JOIN kept kk USING (doc_id)
    """,
)
def q_text_natural_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Natural-boundary exact line dedup (operators/text.py
    natural_boundary_dedup — the RefinedWeb/Dolma recipe): globally
    first occurrence of each distinct trimmed line survives; min-struct
    hash aggregation, no window over the hot line key."""
    from xetl_spark.operators.text import natural_boundary_dedup

    (docs,) = load(spark, sf_dir, "documents")
    nl = F.lit("\n")
    aug = F.concat(
        F.substring("text", 1, 50), nl,
        F.lit("common footer line here"), nl,
        F.substring("text", 51, 50), nl,
        F.when(F.col("doc_id") % 3 == 0, F.lit("promo line repeated often"))
        .otherwise(F.substring("text", 101, 30)),
    )
    return natural_boundary_dedup(
        docs.select("doc_id", aug.alias("text")), "text", "doc_id"
    )


@query(
    "q_text_c4_rules",
    # the fixture's documents are punctuation-free word bags, on which
    # every C4 rule is vacuously false — so the query first builds a
    # deterministic multi-line page per doc (same expression in both
    # engines) that exercises every rule with variance: kept lines,
    # the <3-words and javascript line drops, lorem-ipsum and brace
    # page markers, and a doc_id-dependent sentence count.
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             substr(text, 1, 40) || ' sentence one.' || chr(10)
             || 'short.' || chr(10)
             || 'please enable javascript to view this.' || chr(10)
             || substr(text, 41, 40) || ' two more words!' || chr(10)
             || repeat('more words here. ', doc_id % 4) || chr(10)
             || CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit.'
                     ELSE 'regular closing line here?' END || chr(10)
             || CASE WHEN doc_id % 11 = 0 THEN 'var x = { a: 1 };'
                     ELSE '' END
             AS text
      FROM documents),
    t AS (
      SELECT doc_id, text,
             list_filter(list_transform(string_split(text, chr(10)),
                                        x -> trim(x)), x -> x <> '') AS lines
      FROM aug),
    k AS (
      SELECT doc_id, text, lines,
             list_filter(lines,
                 x -> regexp_matches(x, '[.!?"’”'']$')
                  AND len(string_split_regex(x, '\\s+')) >= 3
                  AND NOT contains(lower(x), 'javascript')) AS kept
      FROM t),
    s AS (
      SELECT doc_id, text,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(kept) AS BIGINT) AS kept_lines,
             coalesce(array_to_string(kept, chr(10)), '') AS clean_text
      FROM k)
    SELECT doc_id, n_lines, kept_lines,
           CAST(length(clean_text)
              - length(replace(replace(replace(clean_text, '.', ''),
                                       '!', ''), '?', '')) AS BIGINT)
             AS n_sentences,
           contains(lower(text), 'lorem ipsum') AS has_lorem,
           contains(text, '{') AS has_brace,
           (kept_lines > 0
            AND NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{')
            AND length(clean_text)
              - length(replace(replace(replace(clean_text, '.', ''),
                                       '!', ''), '?', '')) >= 5)
             AS keep_doc,
           clean_text
    FROM s
    """,
)
def q_text_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning heuristics (operators/text.py c4_line_filter —
    Raffel et al. 2020 §2.2): terminal-punctuation / min-words /
    javascript line rules plus lorem-ipsum / brace / min-sentences
    page rules, over a deterministic multi-line page built per doc (the
    fixture text is punctuation-free, which would make every rule
    vacuous). Shuffle-free map stage."""
    (docs,) = load(spark, sf_dir, "documents")
    nl = F.lit("\n")
    aug = F.concat(
        F.substring("text", 1, 40), F.lit(" sentence one."), nl,
        F.lit("short."), nl,
        F.lit("please enable javascript to view this."), nl,
        F.substring("text", 41, 40), F.lit(" two more words!"), nl,
        F.repeat(F.lit("more words here. "), (F.col("doc_id") % 4).cast("int")), nl,
        F.when(F.col("doc_id") % 7 == 0, F.lit("lorem ipsum dolor sit."))
        .otherwise(F.lit("regular closing line here?")), nl,
        F.when(F.col("doc_id") % 11 == 0, F.lit("var x = { a: 1 };"))
        .otherwise(F.lit("")),
    )
    out = text.c4_line_filter(docs.select("doc_id", aug.alias("text")), "text")
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("kept_lines").cast("long").alias("kept_lines"),
        F.col("n_sentences").cast("long").alias("n_sentences"),
        "has_lorem",
        "has_brace",
        "keep_doc",
        "clean_text",
    )


@query(
    "q_text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DD_TOKENS} AS toks,
             length(text) AS nc,
             length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS npunct
      FROM documents)
    SELECT doc_id,
           round(0.3 * least(len(toks) / 100.0, 1.0)
               + 0.3 * (1 - npunct / greatest(nc, 1))
               + 0.2 * (len(list_distinct(toks)) / greatest(len(toks), 1))
               + 0.2 * least(5.0 * len(list_filter(toks,
                       x -> list_contains(['the','and','of','to','a'], x)))
                       / greatest(len(toks), 1), 1.0)
               + 1e-7, 4) AS quality
    FROM t
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score (length, punctuation, diversity, fluency)."""
    (docs,) = load(spark, sf_dir, "documents")
    return docs.select("doc_id", text.quality_score("text").alias("quality"))


# Language-vote SQL fragments GENERATED from the operator's seed
# stopword tables (operators/text.py _LANG_STOPWORDS) so list edits
# can never drift out of sync with the oracles that mirror them.
def _dd_strlist(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


_LANG_HITS_SQL = ",\n        ".join(
    f"len(list_filter(toks, x -> list_contains({_dd_strlist(ws)}, x))) AS h_{l}"
    for l, ws in text._LANG_STOPWORDS.items()
)
_LANG_GREATEST = (
    "greatest(" + ", ".join(f"h_{l}" for l in text._LANG_STOPWORDS) + ")"
)
# ties break reverse-alphabetically, matching array_max struct ordering
_LANG_VOTE_CASE = (
    f"CASE WHEN {_LANG_GREATEST} = 0 THEN 'und'\n"
    + "".join(
        f"             WHEN h_{l} = {_LANG_GREATEST} THEN '{l}'\n"
        for l in sorted(text._LANG_STOPWORDS, reverse=True)[:-1]
    )
    + f"             ELSE '{sorted(text._LANG_STOPWORDS)[0]}' END"
)


@query(
    "q_text_langid",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DD_TOKENS} AS toks FROM documents),
    h AS (
      SELECT doc_id,
        {_LANG_HITS_SQL}
      FROM t)
    SELECT doc_id,
           {_LANG_VOTE_CASE} AS lang_guess
    FROM h
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID over the ~10 Latin-script seed
    tables (ties break reverse-alphabetically, matching array_max
    struct ordering). The oracle's hit/vote SQL is generated from the
    same _LANG_STOPWORDS dict the operator votes over."""
    (docs,) = load(spark, sf_dir, "documents")
    return docs.select("doc_id", text.language_id("text").alias("lang_guess"))


_ML_LANGS = list(text._LANG_STOPWORDS)
_ML_PHRASES = {
    l: " ".join(ws) + " " + " ".join(ws) + " " + " ".join(ws)
    for l, ws in text._LANG_STOPWORDS.items()
}
_ML_PHRASE_CASE = (
    "CASE CAST(doc_id % 11 AS INT) "
    + " ".join(
        f"WHEN {i} THEN '{_ML_PHRASES[l]}'" for i, l in enumerate(_ML_LANGS)
    )
    + " END"
)
_ML_SWR_CASE = (
    "CASE lg "
    + " ".join(
        f"WHEN '{l}' THEN len(list_filter(toks, x -> list_contains({_dd_strlist(ws)}, x)))"
        for l, ws in text._LANG_STOPWORDS.items()
    )
    + f" ELSE len(list_filter(toks, x -> list_contains({_dd_strlist(text._LANG_STOPWORDS['en'])}, x))) END"
)


@query(
    "q_text_quality_multilang",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             array_to_string(list_transform(generate_series(0, 7),
                                            j -> 'd' || doc_id || 'x' || j), ' ')
             || ' the and ' || {_ML_PHRASE_CASE} AS text
      FROM documents WHERE doc_id < 440),
    t AS (
      SELECT doc_id, text, {_DD_TOKENS} AS toks,
             length(text) AS nc,
             length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS npunct
      FROM d),
    h AS (
      SELECT doc_id, text, toks, nc, npunct,
        {_LANG_HITS_SQL}
      FROM t),
    v AS (
      SELECT *, {_LANG_VOTE_CASE} AS lg FROM h)
    SELECT doc_id, lg AS lang_guess,
           round(0.3 * least(len(toks) / 100.0, 1.0)
               + 0.3 * (1 - npunct / greatest(nc, 1))
               + 0.2 * (len(list_distinct(toks)) / greatest(len(toks), 1))
               + 0.2 * least(5.0 * ({_ML_SWR_CASE})
                       / greatest(len(toks), 1), 1.0)
               + 1e-7, 4) AS quality
    FROM v
    """,
)
def q_text_quality_multilang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-routed quality profile (operators/text.py
    quality_score_multilang): a synthetic corpus cycles a stopword
    block from each of the ~10 seed languages through otherwise
    doc-unique tokens, so every language's routing branch is
    exercised; the oracle recomputes the vote AND the per-language
    stopword fluency term rule-for-rule from SQL generated off the
    same _LANG_STOPWORDS dict. A fluent non-English doc must score
    with its own language's table, not be punished by the English
    list."""
    (docs,) = load(spark, sf_dir, "documents")
    ids = docs.select("doc_id").where(F.col("doc_id") < 440)
    own = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda j: F.concat(F.lit("d"), F.col("doc_id"), F.lit("x"), j),
        ),
    )
    phrase = F.element_at(
        F.array(*[F.lit(_ML_PHRASES[l]) for l in _ML_LANGS]),
        (F.col("doc_id") % 11 + 1).cast("int"),
    )
    corpus = ids.select(
        "doc_id",
        F.concat(own, F.lit(" the and "), phrase).alias("text"),
    )
    return corpus.select(
        "doc_id",
        text.language_id("text").alias("lang_guess"),
        text.quality_score_multilang("text").alias("quality"),
    )


def _dd_flesch(vowels: str, a: float, b: float, c: float) -> str:
    w = "greatest(len(toks), 1)"
    s = "greatest(len(regexp_extract_all(text, '[.!?]+')), 1)"
    sy = f"len(regexp_extract_all(lower(text), '{vowels}+'))"
    return (
        f"{a}::DOUBLE - {b}::DOUBLE * (CAST({w} AS DOUBLE) / {s}) "
        f"- {c}::DOUBLE * (CAST({sy} AS DOUBLE) / {w})"
    )


_ML_FLESCH_CASE = (
    "CASE lg "
    + " ".join(
        f"WHEN '{l}' THEN round({_dd_flesch(*rule)}, 4)"
        for l, rule in text._LANG_FLESCH.items()
        if l != "en"
    )
    + f" ELSE round({_dd_flesch(*text._LANG_FLESCH['en'])}, 4) END"
)


@query(
    "q_text_flesch_multilang",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             array_to_string(list_transform(generate_series(0, 7),
                                            j -> 'd' || doc_id || 'x' || j), ' ')
             || ' the and ' || {_ML_PHRASE_CASE}
             || repeat('. stop', CAST(doc_id % 3 AS INT) + 1) AS text
      FROM documents WHERE doc_id < 440),
    t AS (
      SELECT doc_id, text, {_DD_TOKENS} AS toks FROM d),
    h AS (
      SELECT doc_id, text, toks,
        {_LANG_HITS_SQL}
      FROM t),
    v AS (
      SELECT *, {_LANG_VOTE_CASE} AS lg FROM h)
    SELECT doc_id, lg AS lang_guess,
           {_ML_FLESCH_CASE} AS flesch
    FROM v
    """,
)
def q_text_flesch_multilang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-routed Flesch readability (operators/text.py
    flesch_multilang): the multilang synthetic corpus (a stopword
    phrase block per seed language, routed by the stopword vote) with
    per-doc sentence tails, scored with each language's PUBLISHED
    Flesch adaptation — Amstad for de, Fernández-Huerta for es,
    Kandel–Moles for fr, Franchina–Vacca for it, Douma for nl,
    Martins for pt, the 1948 original elsewhere. The oracle's CASE
    over constants and vowel classes is generated from the operator's
    own _LANG_FLESCH dict, so the rule table cannot drift from its
    oracle. Expression-only, zero shuffle."""
    (docs,) = load(spark, sf_dir, "documents")
    ids = docs.select("doc_id").where(F.col("doc_id") < 440)
    own = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda j: F.concat(F.lit("d"), F.col("doc_id"), F.lit("x"), j),
        ),
    )
    phrase = F.element_at(
        F.array(*[F.lit(_ML_PHRASES[l]) for l in _ML_LANGS]),
        (F.col("doc_id") % 11 + 1).cast("int"),
    )
    tail = F.repeat(
        F.lit(". stop"), ((F.col("doc_id") % 3) + 1).cast("int")
    )
    corpus = ids.select(
        "doc_id",
        F.concat(own, F.lit(" the and "), phrase, tail).alias("text"),
    )
    return corpus.select(
        "doc_id",
        text.language_id("text").alias("lang_guess"),
        F.round(text.flesch_multilang("text"), 4).alias("flesch"),
    )


@query(
    "q_text_fingerprint",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct({_DD_TOKENS})), ' ')) AS fingerprint
      FROM documents)
    SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS first_doc
    FROM fp GROUP BY fingerprint
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint → cluster sizes."""
    (docs,) = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", text.fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


@query(
    "q_dedup_exact",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      FROM documents)
    WHERE rn = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one representative per distinct sha2-256(text)."""
    (docs,) = load(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select("doc_id", "lang", "source")


@query(
    "q_dedup_ngram_jaccard",
    oracle="""
    WITH docs500 AS (SELECT * FROM documents WHERE doc_id < 500),
    toks AS (
      SELECT doc_id,
             string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')), '\\s+') AS t
      FROM docs500),
    tri AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, greatest(len(t) - 1, 2)),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
      FROM toks),
    sizes AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM tri a JOIN tri b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           round(i / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i / (sa.sz + sb.sz - i) >= 0.02
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (trigram) Jaccard similarity for every sharing pair
    in a bounded subset — the exhaustive ground truth the LSH pipelines
    approximate, hash-verified end to end.

    Subset/threshold (doc_id < 500, j >= 0.02) chosen so the pair set
    is small-but-NONZERO at every fixture SF (322 / 312 / 289 pairs at
    sf0.001 / 0.01 / 0.1): a vacuous 0-row oracle match can't certify
    the implementation (r6 verdict item #1)."""
    from pyspark.sql import functions as F2

    from xetl_spark.operators import shingles
    from xetl_spark.operators.dedup import pair_jaccard

    (docs,) = load(spark, sf_dir, "documents")
    sub = docs.filter(F2.col("doc_id") < 500)
    sh = shingles(sub, "text", "doc_id", 3).persist()
    a = sh.withColumnRenamed("doc", "doc_a")
    b = sh.select(F2.col("doc").alias("doc_b"), F2.col("shingle").alias("s2"))
    pairs = (
        a.join(b, (F2.col("shingle") == F2.col("s2")) & (F2.col("doc_a") < F2.col("doc_b")))
        .select("doc_a", "doc_b")
        # dedup keyed by doc_a so pair_jaccard's doc_a-keyed
        # intersection join reuses this exchange (guide §2.4; same
        # move as lsh_candidate_pairs, r15)
        .repartition("doc_a")
        .distinct()
    )
    return (
        pair_jaccard(sh, pairs)
        .filter(F2.col("jaccard") >= 0.02)
        .select("doc_a", "doc_b", F2.round("jaccard", 6).alias("jaccard"))
    )


@query("q_dedup_minhash_lsh", oracle=None)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (shingle→sign→band→verify);
    jaccard-correctness property-tested in tests/test_llm_ops.py."""
    (docs,) = load(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs, "text", "doc_id", n=3, num_hashes=24, bands=8, threshold=0.5
    )
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))


@query("q_dedup_clusters", oracle=None)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup decision: MinHash-LSH pairs → distributed connected
    components (label propagation + pointer jumping, no driver
    materialization) → (id, cluster, is_representative)."""
    from xetl_spark.operators import dedup_clusters as dc

    (docs,) = load(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, "text", "doc_id", threshold=0.5)
    return dc(pairs, docs, "doc_id")


@query("q_text_bpe_tokenize", oracle=None)
def q_text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE (operators/bpe.py): learn 12 merges from the corpus
    word-frequency histogram (distributed, deterministic tie-breaks),
    then encode documents with the greedy lowest-rank rule. Not
    SQL-expressible (iterative argmax over learned state) — the
    trainer is cross-validated against a single-process reference
    implementation in tests/test_bpe.py and the merge table is
    partitioning-independent, so the output is deterministic."""
    from xetl_spark.operators.bpe import bpe_encode, bpe_train

    (docs,) = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 300)
    merges = bpe_train(corpus, "text", num_merges=12)
    enc = bpe_encode(docs.filter(F.col("doc_id") < 100), "text", merges)
    return enc.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        F.element_at("tokens", 1).alias("first_token"),
        F.element_at("tokens", -1).alias("last_token"),
    )


@query("q_dedup_incremental_minhash", oracle=None)
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run near-dup ingestion (operators/dedup.py
    incremental_minhash_dedup): the documents table split into two
    consecutive batches — batch 1 seeds the signature store, batch 2
    dedups against store + itself. Returns batch-2 survivors with
    per-batch counts (deterministic: MinHash is seeded; equivalence
    with the single-batch operator is pinned in tests)."""
    from xetl_spark.operators.dedup import incremental_minhash_dedup

    (docs,) = load(spark, sf_dir, "documents")
    mid = 250
    b1 = docs.filter(F.col("doc_id") < mid)
    b2 = docs.filter(F.col("doc_id") >= mid)
    _fresh1, store = incremental_minhash_dedup(b1, None, "text", "doc_id", threshold=0.5)
    # in production the store is a persisted TABLE between runs;
    # localCheckpoint models that here (and keeps run 1's lineage out
    # of run 2's plan)
    fresh2, _store2 = incremental_minhash_dedup(
        b2, store.localCheckpoint(), "text", "doc_id", threshold=0.5
    )
    return fresh2.select("doc_id", "lang", "n_chars")


@query("q_dedup_simhash", oracle=None)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming radius 3 of the 64-bit
    fingerprint (pigeonhole-blocked candidate generation).

    Completeness guarantee: chunks=4 > max_hamming=3, so any pair
    within the radius shares >=1 exact 16-bit block and is generated
    by the blocking (operators/dedup.py hamming_near_pairs contract;
    recall pinned by tests/test_llm_ops.py planted-pair test). Radius
    3 with 16-bit blocks is the Manku et al. (WWW'07) operating point:
    65k distinct values per block position keeps buckets small at
    corpus scale, where a radius-8/4-bit-block variant would collapse
    to 16 values per position and quadratic bucket-local pairing."""
    (docs,) = load(spark, sf_dir, "documents")
    return simhash_near_duplicates(docs, "text", "doc_id", max_hamming=3, chunks=4)


@query(
    "q_sim_topk_cosine",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 30),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
                  list_cosine_similarity(
                      list_transform(q.qe, x -> CAST(x AS DOUBLE)),
                      list_transform(e.embedding, x -> CAST(x AS DOUBLE))) AS sim
           FROM q, embeddings e WHERE e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, round(sim, 4) AS cos_sim, nn_rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY sim DESC, neighbor_id) AS nn_rank
      FROM scored)
    WHERE nn_rank <= 5
    """,
)
def q_sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for 30 query vectors (broadcast
    query side; corpus scanned once, no shuffle before the top-k)."""
    (emb,) = load(spark, sf_dir, "embeddings")
    out = cosine_topk_bruteforce(
        emb, emb.filter(F.col("vec_id") < 30), "embedding", "vec_id", k=5
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"), "nn_rank"
    )


@query(
    "q_dedup_embedding_cosine",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(embedding, x -> CAST(2 * x AS DOUBLE))
      FROM embeddings WHERE vec_id < 20)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.e, b.e), 4) AS cos_sim
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.e, b.e) >= 0.8
    """,
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (LSH buckets + exact-cosine
    verify ≥ 0.8); recall property-tested vs the brute-force pair set.

    The fixture embeddings are near-random (no pair reaches cos 0.8 at
    small SF), which would make a rows-only check vacuous — so the
    query unions in deterministic planted near-dups: scaled copies
    (vec_id + 10^6) of the first 20 vectors. Sign-of-projection is
    scale-invariant, so a scaled copy lands in the original's bucket
    in every LSH table and verifies at cos = 1.0 — exactly 20 stable
    pairs regardless of SF, plus any genuine corpus pairs.

    Hash-verified against the brute-force all-pairs oracle: planted
    pairs have guaranteed LSH recall (identical signatures), and at
    cos ≥ 0.8 among 64-dim near-random fixture vectors no natural
    pair exists (≈10σ event), so the LSH+verify output equals the
    exhaustive pair set exactly."""
    from xetl_spark.operators import cosine_near_duplicates

    (emb,) = load(spark, sf_dir, "embeddings")
    planted = (
        emb.filter(F.col("vec_id") < 20)
        .select(
            (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        )
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    pairs = cosine_near_duplicates(corpus, "embedding", "vec_id", threshold=0.8)
    return pairs.select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))


@query("q_dedup_semantic", oracle=None)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.py semdedup — Abbas et al. 2023):
    k-means cluster the embeddings, pair within clusters at cosine >=
    0.95, keep one representative per duplicate group (farthest from
    centroid). The fixture embeddings are near-random, so the query
    plants deterministic near-copies (scaled duplicates of the first
    20 vectors, the q_dedup_embedding_cosine pattern) — exactly those
    20 groups must collapse to one keeper each. P-class (KMeans is
    seeded but not SQL-replicable); planted-group semantics and the
    keep policy are pinned in tests/test_approx.py."""
    from xetl_spark.operators.similarity import semdedup

    (emb,) = load(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    # n_clusters=None = adaptive ~250-vector cells (r13: the fixed k=8
    # this query shipped with meant 2.5k-row cells at the sf1 corpus —
    # ~25M cluster-local HOF dot products, caught as a sweep timeout)
    out = semdedup(corpus, "embedding", "vec_id", threshold=0.95,
                   n_clusters=None)
    return out.select(
        "id", "cell", F.round("centroid_sim", 4).alias("centroid_sim"),
        "group", "keep",
    )


@query("q_dedup_incremental_semantic", oracle=None)  # P: seeded KMeans
def q_dedup_incremental_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run semantic dedup ingestion (operators/similarity.py
    incremental_semdedup): batch 1 (vec_id < 300) builds the store
    and fits the centroids ONCE; batch 2 mixes 80 genuinely new
    embeddings with planted scaled copies of 20 stored vectors — the
    copies must be dropped against the store (new×all, never
    old×old, centroids reused without refitting) and the new rows
    survive. Returns the surviving batch-2 rows; store round-trip
    and in-batch lower-id discipline are pinned in
    tests/test_approx.py."""
    from xetl_spark.operators.similarity import incremental_semdedup

    (emb,) = load(spark, sf_dir, "embeddings")
    b1 = emb.filter(F.col("vec_id") < 300).select("vec_id", "embedding")
    _fresh1, store, ctr = incremental_semdedup(
        b1, None, None, "embedding", "vec_id", n_clusters=8
    )
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + F.lit(2_000_000)).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(3.0)).alias("embedding"),
    )
    b2 = (
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 380))
        .select("vec_id", "embedding")
        .unionByName(planted)
    )
    fresh2, _store2, _ctr2 = incremental_semdedup(
        b2, store, ctr, "embedding", "vec_id", n_clusters=8
    )
    return fresh2.select("vec_id")


@query("q_sim_lsh_ann", oracle=None)
def q_sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via random-hyperplane LSH (the scale
    path; recall vs brute force asserted in tests)."""
    (emb,) = load(spark, sf_dir, "embeddings")
    return lsh_ann_topk(
        emb, emb.filter(F.col("vec_id") < 30), "embedding", "vec_id", k=5
    )


@query("q_embed_random_projection", oracle=None)
def q_embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64→16 dims over the
    embeddings table — the compression step before ANN indexing /
    clustering at scale (tiny closure-broadcast matrix, one Arrow
    matmul per partition, the corpus never shuffles). Rows-only;
    distance preservation + determinism property-tested in
    tests/test_llm_ops.py."""
    from xetl_spark.operators.similarity import random_project

    (emb,) = load(spark, sf_dir, "embeddings")
    out = random_project(emb, "embedding", out_dim=16, seed=7, in_dim=64)
    return out.select(
        "vec_id",
        F.round(
            F.sqrt(F.aggregate("projected", F.lit(0.0), lambda a, x: a + x * x)), 4
        ).alias("proj_norm"),
        F.round(F.element_at("projected", 1), 4).alias("p0"),
    )


@query(
    "q_embed_stats",
    oracle="""
    SELECT label,
           count(*) AS n_vecs,
           round(avg(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS avg_norm,
           round(min(CAST(list_min(embedding) AS DOUBLE)), 6) AS global_min,
           round(max(CAST(list_max(embedding) AS DOUBLE)), 6) AS global_max
    FROM embeddings GROUP BY label
    """,
)
def q_embed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector statistics per label (norms via higher-order aggregate)."""
    (emb,) = load(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return (
        emb.select("label", norm.alias("__n"), v.alias("__v"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("__n"), 6).alias("avg_norm"),
            F.round(F.min(F.array_min("__v")), 6).alias("global_min"),
            F.round(F.max(F.array_max("__v")), 6).alias("global_max"),
        )
    )


@query(
    "q_multimodal_meta",
    oracle="""
    SELECT doc_id,
           strlen(text) AS byte_len,
           sha256(text) AS sha_hex,
           'text/plain' AS mime
    FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column pattern: opaque binary payload + typed metadata
    struct (byte length, digest, mime)."""
    (docs,) = load(spark, sf_dir, "documents")
    with_media = multimodal.attach_binary(docs, "text", mime="text/plain")
    return with_media.select(
        "doc_id",
        F.col("media_meta.byte_len").alias("byte_len"),
        F.col("media_meta.sha256").alias("sha_hex"),
        F.col("media_meta.mime").alias("mime"),
    )


@query(
    "q_multimodal_features",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             octet_length(encode(text)) AS byte_len,
             CAST(concat('0x', substr(sha256(text), 1, 8)) AS BIGINT) AS hv
      FROM documents
    )
    SELECT doc_id,
           byte_len,
           CAST(16 + hv % 64 AS INT) AS width,
           CAST(16 + (hv // 256) % 64 AS INT) AS height,
           round((  (hv >>  0) % 1000 + (hv >>  3) % 1000
                  + (hv >>  6) % 1000 + (hv >>  9) % 1000
                  + (hv >> 12) % 1000 + (hv >> 15) % 1000
                  + (hv >> 18) % 1000 + (hv >> 21) % 1000) / 1000.0, 3) AS feat_sum,
           round((hv % 1000) / 1000.0, 3) AS f0
    FROM h
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media decode + featurize via Arrow-batched mapInPandas (decode is
    a deterministic sha-derived stub — no codecs in this environment; the
    Spark-side schema/batching/partitioning is the real, tested contract).

    The stub is a closed form of sha256(payload), so the full pipeline
    (binary attach → Arrow batches → feature vector) is verified against
    a plain-SQL oracle. The ``array<float>`` feature column is flattened
    to scalars per the registry canon rule (driver hashes sorted scalar
    columns): per-element round-to-3 happens BEFORE the sum so float32
    storage error (≤6e-8/element) can't accumulate past the rounding."""
    (docs,) = load(spark, sf_dir, "documents")
    with_media = multimodal.attach_binary(docs, "text", mime="text/plain")
    feats = multimodal.extract_features(with_media, "media", "doc_id")
    return feats.select(
        F.col("id").alias("doc_id"),
        "byte_len",
        "width",
        "height",
        F.round(
            F.aggregate(
                F.transform("features", lambda x: F.round(x.cast("double"), 3)),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            3,
        ).alias("feat_sum"),
        F.round(F.element_at("features", 1).cast("double"), 3).alias("f0"),
    )


def _synth_images(spark: SparkSession, sf_dir: str, limit: int = 256) -> DataFrame:
    """Deterministic 16x16 RGB PNGs keyed by doc_id, encoded with the
    REAL pure-Python PNG encoder (operators/imaging.py). Pixel values
    are a closed form of doc_id — R=(id%200)+x, G=(id*7%200)+y,
    B=(id*13%200)+(x+y)%16 — so expected channel means are computable
    in plain SQL and an oracle can verify the full encode→decode
    round-trip on actual compressed PNG bytes."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < limit), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import imaging

        x = np.arange(16)[None, :]
        y = np.arange(16)[:, None]
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                arr = np.stack(
                    [
                        np.broadcast_to(did % 200 + x, (16, 16)),
                        np.broadcast_to(did * 7 % 200 + y, (16, 16)),
                        (did * 13 % 200 + (x + y) % 16),
                    ],
                    axis=2,
                ).astype(np.uint8)
                rows.append((did, imaging.png_encode(arr)))
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    return ids.mapInPandas(gen, schema="doc_id long, media binary")


@query(
    "q_multimodal_pixel_stats",
    oracle="""
    SELECT doc_id,
           16 AS width, 16 AS height,
           ROUND((doc_id % 200) + 7.5, 3) AS mean_r,
           ROUND((doc_id * 7 % 200) + 7.5, 3) AS mean_g,
           ROUND((doc_id * 13 % 200) + 7.5, 3) AS mean_b,
           ROUND(0.299 * ((doc_id % 200) + 7.5)
               + 0.587 * ((doc_id * 7 % 200) + 7.5)
               + 0.114 * ((doc_id * 13 % 200) + 7.5), 3) AS mean_gray
    FROM documents WHERE doc_id < 256
    """,
)
def q_multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-verified: synthesizes PNGs whose pixel
    values are a closed form of doc_id, pushes the compressed bytes
    through the pure-Python PNG decoder, and emits per-channel pixel
    means — which the SQL oracle recomputes analytically. A decoder
    bug of even one pixel breaks the hash match."""
    from collections.abc import Iterator as _It

    imgs = _synth_images(spark, sf_dir)

    def stats(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        from xetl_spark.operators import imaging

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                s = imaging.pixel_stats(imaging.decode_image(bytes(row["media"])))
                rows.append(
                    (
                        int(row["doc_id"]),
                        int(s["width"]),
                        int(s["height"]),
                        round(s["mean_r"], 3),
                        round(s["mean_g"], 3),
                        round(s["mean_b"], 3),
                        round(s["mean_gray"], 3),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height",
                    "mean_r", "mean_g", "mean_b", "mean_gray",
                ],
            )

    return imgs.mapInPandas(
        stats,
        schema=(
            "doc_id long, width int, height int, mean_r double, "
            "mean_g double, mean_b double, mean_gray double"
        ),
    )


@query(
    "q_multimodal_grayscale",
    oracle="""
    SELECT d.doc_id,
           16 AS width, 16 AS height,
           CAST(SUM(
               (  299 * ((d.doc_id % 200) + x.i)
                + 587 * ((d.doc_id * 7 % 200) + y.i)
                + 114 * ((d.doc_id * 13 % 200) + ((x.i + y.i) % 16))
                + 500) // 1000) AS BIGINT) AS gray_sum
    FROM documents d, range(16) x(i), range(16) y(i)
    WHERE d.doc_id < 256
    GROUP BY d.doc_id
    """,
)
def q_multimodal_grayscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's `convert -colorspace Gray` job (README.md:66-77)
    engine-native and ORACLE-VERIFIED pixel-for-pixel: real PNG decode
    → BT.601 luma with SQL-replicable floor(x+0.5) quantization → PNG
    re-encode → re-DECODE of the emitted grayscale PNG → exact integer
    pixel sum. The SQL oracle recomputes every pixel's quantized luma
    from the closed-form synth pattern over a 16x16 lattice cross-join
    — the values agree only if decode, luma math, quantization, and
    the re-encoded PNG are all bit-correct."""
    from collections.abc import Iterator as _It

    imgs = _synth_images(spark, sf_dir)
    gray = multimodal.grayscale_images(imgs, "media", "doc_id")

    def sum_pixels(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import imaging

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                px = imaging.png_decode(bytes(row["gray_png"]))
                rows.append(
                    (
                        int(row["id"]),
                        px.shape[1],
                        px.shape[0],
                        int(px.astype(np.int64).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=["doc_id", "width", "height", "gray_sum"])

    return gray.mapInPandas(
        sum_pixels, schema="doc_id long, width int, height int, gray_sum long"
    )


@query(
    "q_multimodal_jpeg",
    oracle="""
    SELECT doc_id,
           16 AS width, 16 AS height,
           ROUND(( (doc_id      % 256) + ((doc_id      + 37) % 256)
                 + ((doc_id+ 74) % 256) + ((doc_id      +111) % 256)) / 4.0, 3) AS mean_r,
           ROUND(( (doc_id*7    % 256) + ((doc_id*7  + 53) % 256)
                 + ((doc_id*7 +106) % 256) + ((doc_id*7  +159) % 256)) / 4.0, 3) AS mean_g,
           ROUND(( (doc_id*13   % 256) + ((doc_id*13 + 71) % 256)
                 + ((doc_id*13+142) % 256) + ((doc_id*13 +213) % 256)) / 4.0, 3) AS mean_b
    FROM documents WHERE doc_id < 256
    """,
)
def q_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode (ITU-T T.81, pure numpy —
    operators/jpeg.py), oracle-verified: synthesizes JFIF payloads via
    the pure-numpy encoder (quality 100, restart markers every MCU),
    decodes them back through the full Huffman → dequant → IDCT →
    YCbCr→RGB path, and emits per-channel means. The fixture family —
    four uniform 8x8 blocks per image, colors a closed form of doc_id
    — round-trips bit-exactly at quality 100 (only DC coefficients,
    unit quant tables), so the SQL oracle can recompute the means
    analytically; any decode defect (wrong zigzag, Huffman mis-read,
    restart mishandling, color-matrix error) breaks the hash. Means
    are quarters, exact in both double and DECIMAL, so ROUND(,3) is
    engine-agnostic. Covers reference README.md:66-77's
    download-and-convert pipeline for the dominant wire format."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 256), max_partitions=_FIXTURE_TASKS)

    def gen_and_stats(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import imaging, jpeg

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                arr = np.zeros((16, 16, 3), dtype=np.uint8)
                for by in range(2):
                    for bx in range(2):
                        b = by * 2 + bx
                        sl = (slice(by * 8, by * 8 + 8), slice(bx * 8, bx * 8 + 8))
                        arr[sl[0], sl[1], 0] = (did + 37 * b) % 256
                        arr[sl[0], sl[1], 1] = (did * 7 + 53 * b) % 256
                        arr[sl[0], sl[1], 2] = (did * 13 + 71 * b) % 256
                payload = jpeg.jpeg_encode(arr, quality=100, restart_interval=1)
                # dispatched through the generic sniffer, like any
                # binary column arriving from read_binary
                px = imaging.decode_image(payload).astype(np.float64)
                rows.append(
                    (
                        did,
                        px.shape[1],
                        px.shape[0],
                        round(float(px[:, :, 0].mean()), 3),
                        round(float(px[:, :, 1].mean()), 3),
                        round(float(px[:, :, 2].mean()), 3),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "mean_r", "mean_g", "mean_b"],
            )

    return ids.mapInPandas(
        gen_and_stats,
        schema=(
            "doc_id long, width int, height int, "
            "mean_r double, mean_g double, mean_b double"
        ),
    )


@query(
    "q_multimodal_jpeg_progressive",
    oracle="""
    SELECT doc_id,
           16 AS width, 16 AS height,
           ROUND(( (doc_id      % 256) + ((doc_id      + 37) % 256)
                 + ((doc_id+ 74) % 256) + ((doc_id      +111) % 256)) / 4.0, 3) AS mean_r,
           ROUND(( (doc_id*7    % 256) + ((doc_id*7  + 53) % 256)
                 + ((doc_id*7 +106) % 256) + ((doc_id*7  +159) % 256)) / 4.0, 3) AS mean_g,
           ROUND(( (doc_id*13   % 256) + ((doc_id*13 + 71) % 256)
                 + ((doc_id*13+142) % 256) + ((doc_id*13 +213) % 256)) / 4.0, 3) AS mean_b
    FROM documents WHERE doc_id < 256
    """,
)
def q_multimodal_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG decode (ITU-T T.81 Annex G multi-scan:
    interleaved DC scan + per-component spectral-selection AC scans),
    oracle-verified with the same closed-form fixture family as
    q_multimodal_jpeg — four uniform 8x8 blocks per image at quality
    100 round-trip bit-exactly, so the SQL oracle recomputes channel
    means analytically. Any multi-scan defect (scan sequencing,
    EOB-run bookkeeping, coefficient-plane indexing) breaks the hash.
    The successive-approximation refinement path is separately
    golden-tested against JVM ImageIO progressive output
    (tests/test_jpeg.py)."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 256), max_partitions=_FIXTURE_TASKS)

    def gen_and_stats(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import imaging, jpeg

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                arr = np.zeros((16, 16, 3), dtype=np.uint8)
                for by in range(2):
                    for bx in range(2):
                        b = by * 2 + bx
                        sl = (slice(by * 8, by * 8 + 8), slice(bx * 8, bx * 8 + 8))
                        arr[sl[0], sl[1], 0] = (did + 37 * b) % 256
                        arr[sl[0], sl[1], 1] = (did * 7 + 53 * b) % 256
                        arr[sl[0], sl[1], 2] = (did * 13 + 71 * b) % 256
                payload = jpeg.jpeg_encode(arr, quality=100, progressive=True)
                px = imaging.decode_image(payload).astype(np.float64)
                rows.append(
                    (
                        did,
                        px.shape[1],
                        px.shape[0],
                        round(float(px[:, :, 0].mean()), 3),
                        round(float(px[:, :, 1].mean()), 3),
                        round(float(px[:, :, 2].mean()), 3),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "mean_r", "mean_g", "mean_b"],
            )

    return ids.mapInPandas(
        gen_and_stats,
        schema=(
            "doc_id long, width int, height int, "
            "mean_r double, mean_g double, mean_b double"
        ),
    )


@query(
    "q_multimodal_exif",
    oracle="""
    SELECT doc_id,
           concat('maker', CAST(doc_id % 5 AS VARCHAR)) AS make,
           concat('cam-', CAST(doc_id % 7 AS VARCHAR)) AS model,
           CAST(1 + doc_id % 8 AS INT) AS orientation,
           concat('2024:01:', lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0'),
                  ' 12:00:00') AS datetime,
           CAST(100 * (1 + doc_id % 4) AS INT) AS iso,
           concat('1/', CAST(60 + doc_id % 20 AS VARCHAR)) AS exposure_time,
           CAST(16 AS BIGINT) AS pixel_x
    FROM documents WHERE doc_id < 256
    """,
)
def q_multimodal_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF metadata triage, hash-verified: synthesize JPEG payloads
    whose APP1/TIFF block (operators/exif.py — real IFD layout, byte
    order alternating II/MM by doc parity so both endian parsers are
    exercised) carries closed-form fields of doc_id, then extract via
    the Arrow-batched mapInPandas operator and let the SQL oracle
    recompute every field. The same parser reads real camera EXIF
    (NIKON fixtures pinned in tests/test_exif.py)."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 256), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import exif as ex
        from xetl_spark.operators import jpeg

        base = jpeg.jpeg_encode(np.full((16, 16, 3), 99, np.uint8), quality=90)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                fields = {
                    "make": f"maker{did % 5}",
                    "model": f"cam-{did % 7}",
                    "orientation": 1 + did % 8,
                    "datetime": f"2024:01:{1 + did % 28:02d} 12:00:00",
                    "iso": 100 * (1 + did % 4),
                    "exposure_time": f"1/{60 + did % 20}",
                    "pixel_x": 16,
                }
                bo = "II" if did % 2 == 0 else "MM"
                payload = ex.insert_app1(base, ex.exif_build(fields, bo))
                rows.append((did, payload))
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    with_media = ids.mapInPandas(gen, schema="doc_id long, media binary")
    return multimodal.extract_exif(with_media, "media", "doc_id").withColumnRenamed(
        "id", "doc_id"
    )


@query(
    "q_multimodal_media_probe",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'mp3' WHEN 1 THEN 'h264' ELSE 'wav' END
             AS container,
           CASE WHEN doc_id % 3 = 1 THEN CAST(16 * (4 + doc_id % 40) AS INT) END
             AS width,
           CASE WHEN doc_id % 3 = 1 THEN CAST(16 * (3 + doc_id % 30) AS INT) END
             AS height,
           CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 2 THEN 16000 END AS sample_rate,
           CASE doc_id % 3 WHEN 0 THEN CAST(2 - doc_id % 2 AS INT)
                           WHEN 2 THEN 1 END AS channels,
           CASE doc_id % 3
             WHEN 0 THEN (10 + doc_id % 50) * 1152 * 1000 // 44100
             WHEN 2 THEN (1000 + (doc_id * 7) % 4000) * 1000 // 16000
           END AS duration_ms,
           CASE WHEN doc_id % 3 = 0
                THEN CAST(CASE doc_id % 4 WHEN 0 THEN 64 WHEN 1 THEN 96
                          WHEN 2 THEN 128 ELSE 192 END AS INT) END AS bitrate_kbps,
           CASE WHEN doc_id % 3 = 0 THEN 10 + doc_id % 50 END AS n_frames
    FROM documents WHERE doc_id < 300
    """,
)
def q_multimodal_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-free media triage over a MIXED corpus (the ffprobe pass):
    synthesize structurally-valid MP3 frame streams, H.264 Annex-B SPS
    NALs, and WAV payloads with closed-form parameters of doc_id, then
    probe container/resolution/duration/bitrate via
    multimodal.probe_media (operators/mediaprobe.py — pure-spec frame
    header + Exp-Golomb SPS parsing; decode itself remains a typed
    Unsupported*Error boundary). Every field recomputed by the SQL
    oracle."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 300), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import audio, mediaprobe

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                kind = did % 3
                if kind == 0:
                    kbps = (64, 96, 128, 192)[did % 4]
                    payload = mediaprobe.mp3_build(
                        10 + did % 50, kbps, 44100, channels=2 - did % 2
                    )
                elif kind == 1:
                    payload = mediaprobe.h264_sps_build(4 + did % 40, 3 + did % 30)
                else:
                    n = 1000 + (did * 7) % 4000
                    payload = audio.wav_encode(
                        np.zeros(n, dtype=np.int16), 16000
                    )
                rows.append((did, payload))
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    with_media = ids.mapInPandas(gen, schema="doc_id long, media binary")
    return multimodal.probe_media(with_media, "media", "doc_id").withColumnRenamed(
        "id", "doc_id"
    )


@query(
    "q_text_span_dedup",
    oracle="""
    SELECT doc_id,
           24 + CASE WHEN doc_id % 10 = 0 THEN 12 ELSE 0 END AS n_tokens,
           24 + CASE WHEN doc_id = 0 THEN 12 ELSE 0 END AS kept_tokens,
           array_to_string(
             list_transform(generate_series(0, 23),
                            j -> 't' || doc_id || 'x' || j), ' ')
           || CASE WHEN doc_id = 0
                   THEN ' ' || array_to_string(
                     list_transform(generate_series(0, 11), j -> 'p' || j), ' ')
                   ELSE '' END AS new_text
    FROM documents WHERE doc_id < 200
    """,
)
def q_text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-substring removal (operators/text.py
    remove_duplicate_spans — the Lee et al. 2022 span-dedup pass as
    stride-window hashing): a synthetic corpus of per-doc unique
    tokens plants one shared 12-token passage on every 10th document;
    the globally-first occurrence (doc 0) must survive intact and
    every later occurrence must be cut exactly. n_tokens /
    kept_tokens / reassembled text all recomputed closed-form by the
    oracle."""
    from xetl_spark.operators.text import remove_duplicate_spans

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 200), max_partitions=_FIXTURE_TASKS)
    own = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(23)),
            lambda j: F.concat(F.lit("t"), F.col("doc_id"), F.lit("x"), j),
        ),
    )
    passage = " ".join(f"p{j}" for j in range(12))
    corpus = ids.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat(own, F.lit(" " + passage))
        )
        .otherwise(own)
        .alias("text"),
    )
    out = remove_duplicate_spans(corpus, "text", "doc_id", k_tokens=8, stride=4)
    return out.select("doc_id", "n_tokens", "kept_tokens", "new_text")


@query(
    "q_text_exact_span_dedup",
    oracle="""
    SELECT doc_id,
           24 + CASE WHEN doc_id % 10 = 0 THEN 12
                     WHEN doc_id % 10 = 5 THEN 7 ELSE 0 END AS n_tokens,
           CASE WHEN doc_id = 0 THEN 36
                WHEN doc_id % 10 = 5 THEN 31 ELSE 24 END AS kept_tokens,
           CASE WHEN doc_id = 0 THEN
                  array_to_string(own[1:10], ' ')
                  || ' p0 p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 '
                  || array_to_string(own[11:24], ' ')
                WHEN doc_id % 10 = 5 THEN
                  array_to_string(own, ' ') || ' q0 q1 q2 q3 q4 q5 q6'
                ELSE array_to_string(own, ' ') END AS new_text
    FROM (SELECT doc_id,
                 list_transform(generate_series(0, 23),
                                j -> 't' || doc_id || 'x' || j) AS own
          FROM documents WHERE doc_id < 200)
    """,
)
def q_text_exact_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-extent duplicated-substring removal (operators/text.py
    remove_duplicate_spans_exact — every-offset windows, maximal
    extents): a synthetic corpus plants one shared 12-token passage
    (k_tokens=8) on every 10th document at an offset that VARIES per
    document (10 + doc_id//10 % 5 — deliberately misaligned, which
    the stride variant cannot match), plus a shared 7-token tail
    (< k_tokens — below the minimum match length) on every 10th+5
    document. The globally-first passage occurrence (doc 0) must
    survive intact, every later occurrence must be cut EXACTLY (all
    12 tokens, no stride−1 edge leftovers), and the short tail must
    be kept everywhere. The oracle states the expected output
    closed-form."""
    from xetl_spark.operators.text import remove_duplicate_spans_exact

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 200), max_partitions=_FIXTURE_TASKS)
    own = F.transform(
        F.sequence(F.lit(0), F.lit(23)),
        lambda j: F.concat(F.lit("t"), F.col("doc_id"), F.lit("x"), j),
    )
    passage = F.split(
        F.lit("p0 p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11"), " "
    )
    tail = F.split(F.lit("q0 q1 q2 q3 q4 q5 q6"), " ")
    off = F.lit(10) + ((F.col("doc_id") / 10).cast("int") % 5)
    corpus = ids.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat_ws(
                " ",
                F.concat(
                    F.slice(own, F.lit(1), off),
                    passage,
                    F.slice(own, off + 1, F.lit(24) - off),
                ),
            ),
        )
        .when(
            F.col("doc_id") % 10 == 5,
            F.concat_ws(" ", F.concat(own, tail)),
        )
        .otherwise(F.concat_ws(" ", own))
        .alias("text"),
    )
    out = remove_duplicate_spans_exact(corpus, "text", "doc_id", k_tokens=8)
    return out.select("doc_id", "n_tokens", "kept_tokens", "new_text")


@query(
    "q_text_exact_span_dedup_arrow",
    oracle="""
    SELECT doc_id,
           24 + CASE WHEN doc_id % 10 = 0 THEN 12
                     WHEN doc_id % 10 = 5 THEN 7 ELSE 0 END AS n_tokens,
           CASE WHEN doc_id = 0 THEN 36
                WHEN doc_id % 10 = 5 THEN 31 ELSE 24 END AS kept_tokens,
           CASE WHEN doc_id = 0 THEN
                  array_to_string(own[1:10], ' ')
                  || ' p0 p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 '
                  || array_to_string(own[11:24], ' ')
                WHEN doc_id % 10 = 5 THEN
                  array_to_string(own, ' ') || ' q0 q1 q2 q3 q4 q5 q6'
                ELSE array_to_string(own, ' ') END AS new_text
    FROM (SELECT doc_id,
                 list_transform(generate_series(0, 23),
                                j -> 't' || doc_id || 'x' || j) AS own
          FROM documents WHERE doc_id < 200)
    """,
)
def q_text_exact_span_dedup_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_text_exact_span_dedup's planted corpus through the ARROW
    rolling-hash window engine (operators/text.py
    _window_hash_rows_arrow — O(tokens) window hashing instead of
    O(tokens × k)): the hash values differ from the Catalyst engine's
    but the kept text may not, so the same closed-form oracle
    hash-verifies the fast path end to end."""
    from xetl_spark.operators.text import remove_duplicate_spans_exact

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 200), max_partitions=_FIXTURE_TASKS)
    own = F.transform(
        F.sequence(F.lit(0), F.lit(23)),
        lambda j: F.concat(F.lit("t"), F.col("doc_id"), F.lit("x"), j),
    )
    passage = F.split(
        F.lit("p0 p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11"), " "
    )
    tail = F.split(F.lit("q0 q1 q2 q3 q4 q5 q6"), " ")
    off = F.lit(10) + ((F.col("doc_id") / 10).cast("int") % 5)
    corpus = ids.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat_ws(
                " ",
                F.concat(
                    F.slice(own, F.lit(1), off),
                    passage,
                    F.slice(own, off + 1, F.lit(24) - off),
                ),
            ),
        )
        .when(
            F.col("doc_id") % 10 == 5,
            F.concat_ws(" ", F.concat(own, tail)),
        )
        .otherwise(F.concat_ws(" ", own))
        .alias("text"),
    )
    out = remove_duplicate_spans_exact(
        corpus, "text", "doc_id", k_tokens=8, hash_engine="arrow"
    )
    return out.select("doc_id", "n_tokens", "kept_tokens", "new_text")


@query("q_text_exact_span_dedup_corpus", oracle=None)  # P: output depends
# on whatever k-token repeats the regenerated fixture happens to carry
def q_text_exact_span_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-extent span dedup over the REAL documents corpus
    (sf-proportional, unlike the planted-oracle fixture rows): the
    scaling/shuffle measurement surface for the every-offset window
    table — one narrow (doc, start, hash) row per token. Rows-only in
    the driver (the fixture's incidental k-token repeats change per
    regeneration); the algorithm's exact semantics are hash-verified
    by q_text_exact_span_dedup(_arrow) and the differential tests."""
    from xetl_spark.operators.text import remove_duplicate_spans_exact

    (docs,) = load(spark, sf_dir, "documents")
    out = remove_duplicate_spans_exact(docs, "text", "doc_id", k_tokens=16)
    return out.select("doc_id", "n_tokens", "kept_tokens")


@query(
    "q_text_sentence_dedup",
    # DuckDB's RE2 has no lookbehind, so the oracle emulates the
    # operator's sentence split by inserting a newline after terminal
    # punctuation and splitting on it — equivalent on this corpus
    # (single-space separators, no raw newlines)
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             'alpha' || doc_id || ' one. beta' || doc_id
             || ' two! common promo sentence here. gamma' || doc_id
             || ' three?' AS text
      FROM documents WHERE doc_id < 300),
    ex AS (
      SELECT doc_id, generate_subscripts(parts, 1) AS pos,
             trim(unnest(parts)) AS unit
      FROM (SELECT doc_id,
                   string_split(regexp_replace(text, '([.!?]) ',
                                               '\\1' || chr(10), 'g'),
                                chr(10)) AS parts
            FROM aug)),
    u AS (SELECT * FROM ex WHERE unit <> ''),
    stats AS (SELECT doc_id, count(*) AS n_units FROM u GROUP BY doc_id),
    k AS (
      SELECT doc_id, pos, unit,
             row_number() OVER (PARTITION BY unit ORDER BY doc_id, pos) AS rn
      FROM u),
    kept AS (
      SELECT doc_id, count(*) AS kept_units,
             string_agg(unit, ' ' ORDER BY pos) AS new_text
      FROM k WHERE rn = 1 GROUP BY doc_id)
    SELECT a.doc_id,
           CAST(coalesce(s.n_units, 0) AS BIGINT) AS n_units,
           CAST(coalesce(kk.kept_units, 0) AS BIGINT) AS kept_units,
           coalesce(kk.new_text, '') AS new_text
    FROM aug a
    LEFT JOIN stats s USING (doc_id)
    LEFT JOIN kept kk USING (doc_id)
    """,
)
def q_text_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-granularity natural-boundary dedup (operators/text.py
    natural_boundary_dedup(granularity='sentence') — terminal-
    punctuation segmentation): a promo sentence planted in every doc
    survives only in doc 0; each doc's own sentences survive
    everywhere. The driver hash certifies the lookbehind split
    against DuckDB's replace-then-split emulation."""
    from xetl_spark.operators.text import natural_boundary_dedup

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 300), max_partitions=_FIXTURE_TASKS)
    corpus = ids.select(
        "doc_id",
        F.concat(
            F.lit("alpha"), F.col("doc_id"), F.lit(" one. beta"),
            F.col("doc_id"),
            F.lit(" two! common promo sentence here. gamma"),
            F.col("doc_id"), F.lit(" three?"),
        ).alias("text"),
    )
    out = natural_boundary_dedup(corpus, "text", "doc_id", granularity="sentence")
    return out.select("doc_id", "n_units", "kept_units", "new_text")


@query(
    "q_text_ngram_novelty",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter({_DD_TOKENS}, x -> x <> '') AS t
      FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                    ELSE list_transform(range(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
               END)) AS gram
      FROM t),
    g2 AS (SELECT doc_id, gram FROM g WHERE gram <> ''),
    dfreq AS (SELECT gram, count(*) AS gdf FROM g2 GROUP BY gram)
    SELECT doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN gdf = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS novel_grams,
           round(sum(CASE WHEN gdf = 1 THEN 1 ELSE 0 END)
                 / count(*), 6) AS novelty
    FROM g2 JOIN dfreq USING (gram)
    GROUP BY doc_id
    """,
)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty (operators/text.py ngram_novelty):
    the fraction of a doc's distinct trigrams appearing in no other
    document — the memorization/duplication-pressure signal. Same
    de-skew shape as tf_idf (distinct-gram explode, groupBy document
    frequency joined back, per-doc aggregate); oracle recomputes the
    document-frequency join in SQL including the short-doc full-text
    shingle fallback."""
    from xetl_spark.operators.text import ngram_novelty

    (docs,) = load(spark, sf_dir, "documents")
    out = ngram_novelty(docs, "text", "doc_id")
    return out.select(
        F.col("doc").alias("doc_id"),
        "n_grams",
        "novel_grams",
        F.round("novelty", 6).alias("novelty"),
    )


@query("q_text_dsir_weights", oracle=None)
def q_text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/text.py dsir_logweights —
    Xie et al. 2023): score every document by hashed-n-gram likelihood
    ratio against the English subset as the target domain. Hashed
    features use Spark's xxhash64 (not DuckDB-replicable → P-class);
    determinism, partitioning independence, and domain separation are
    pinned in tests/test_llm_ops.py."""
    from xetl_spark.operators.text import dsir_logweights

    (docs,) = load(spark, sf_dir, "documents")
    # target-as-predicate (r13): the English slice IS a subset of the
    # raw corpus, so the flag rides the single tokenize pass and both
    # histograms fold in one aggregation — no second tokenize, no
    # union leg (12 -> 7 stages). materialize=True is the bounded-SF
    # opt-in: at bench scale the localCheckpoint'd bucket table is
    # small; a 100 TB deployment keeps the default (recompute the
    # map-only stage — no corpus-sized executor-local copy, no lineage
    # break on executor loss).
    out = dsir_logweights(
        docs, None, "text", "doc_id", materialize=True,
        target_pred=F.col("lang") == "en",
    )
    return out.select(
        F.col("doc").alias("doc_id"),
        "n_features",
        F.round("logweight", 4).alias("logweight"),
    )


@query("q_embed_pca", oracle=None)
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding column (operators/pca.py):
    map-only per-partition moment reduction (count, Σx, ΣxxT via one
    BLAS syrk per Arrow batch), driver-side eigh of the 64×64
    covariance, executor-side projection matmul — no shuffle anywhere.
    Eigendecomposition is not SQL-expressible; the fit is validated
    against numpy PCA exactly in tests/test_pca.py. Returns the
    variance spectrum plus projection norms (deterministic,
    partitioning-independent)."""
    from xetl_spark.operators.pca import pca_fit, pca_project

    (emb,) = load(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k=8)
    spectrum = spark.createDataFrame(
        [
            (i, round(v, 6))
            for i, v in enumerate(model["explained_variance"])
        ],
        "component int, explained_variance double",
    )
    proj = pca_project(emb.filter(F.col("vec_id") < 50), "embedding", model)
    norms = proj.select(
        F.lit(-1).alias("component"),
        F.round(
            F.aggregate(
                "pca", F.lit(0.0), lambda acc, x: acc + x * x
            ),
            6,
        ).alias("explained_variance"),
    )
    return spectrum.unionByName(norms)


@query(
    "q_multimodal_decode_matrix",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'gif' WHEN 1 THEN 'bmp'
                           WHEN 2 THEN 'tiff' ELSE 'jpeg' END AS container,
           CAST(5 + doc_id % 8 AS INT) AS width,
           CAST(4 + doc_id % 6 AS INT) AS height,
           (4 + doc_id % 6) * (
             ((5 + doc_id % 8) // 2) * (doc_id % 256)
             + ((5 + doc_id % 8) - (5 + doc_id % 8) // 2) * ((doc_id * 3) % 256)
           ) AS sum_r,
           (4 + doc_id % 6) * (
             ((5 + doc_id % 8) // 2) * ((doc_id * 5) % 256)
             + ((5 + doc_id % 8) - (5 + doc_id % 8) // 2) * ((doc_id * 7) % 256)
           ) AS sum_g,
           (4 + doc_id % 6) * (
             ((5 + doc_id % 8) // 2) * ((doc_id * 11) % 256)
             + ((5 + doc_id % 8) - (5 + doc_id % 8) // 2) * ((doc_id * 13) % 256)
           ) AS sum_b
    FROM documents WHERE doc_id < 240
    """,
)
def q_multimodal_decode_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-exact DECODE verification across the round-6 image codecs:
    synthesize two-tone images (left half color A, right half color B,
    both closed-form in doc_id) as GIF (real LZW), BMP, and TIFF,
    decode them back through imaging.decode_image, and emit integer
    per-channel pixel SUMS — all four formats are lossless (the JPEG
    leg alternates SOF3 Huffman / SOF11 arithmetic predictive
    lossless by doc_id, both bit-exact), so the SQL oracle recomputes
    every sum exactly. Verifies spatial layout (column split), palette
    lookup, BGR reorder, strip assembly, predictor decoding, and the
    Annex H QM-coder sample-domain conditioning under the driver's
    hash gate, not just pytest goldens."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 240), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import gif, imaging, jpeg, tiff

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 5 + did % 8, 4 + did % 6
                a = (did % 256, (did * 5) % 256, (did * 11) % 256)
                b = ((did * 3) % 256, (did * 7) % 256, (did * 13) % 256)
                img = np.empty((h, w, 3), dtype=np.uint8)
                img[:, : w // 2] = a
                img[:, w // 2 :] = b
                kind = did % 4
                if kind == 0:
                    payload = gif.gif_encode([img])
                elif kind == 1:
                    payload = imaging.bmp_encode(img)
                elif kind == 2:
                    payload = tiff.tiff_build(img)
                else:  # lossless JPEG: SOF3/SOF11 by parity, bit-exact
                    payload = jpeg.jpeg_lossless_encode(
                        img, predictor=1 + did % 7, arithmetic=did % 8 >= 4
                    )
                fmt = imaging.sniff_format(payload)
                dec = imaging.decode_image(payload)[:, :, :3].astype(np.int64)
                rows.append(
                    (
                        did, fmt, dec.shape[1], dec.shape[0],
                        int(dec[:, :, 0].sum()),
                        int(dec[:, :, 1].sum()),
                        int(dec[:, :, 2].sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "container", "width", "height",
                    "sum_r", "sum_g", "sum_b",
                ],
            )

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id long, container string, width int, height int, "
            "sum_r long, sum_g long, sum_b long"
        ),
    )


@query(
    "q_multimodal_webp",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 5 WHEN 0 THEN 'plain' WHEN 1 THEN 'subtract_green'
                WHEN 2 THEN 'palette' WHEN 3 THEN 'predictor'
                ELSE 'color_transform' END AS variant,
           CAST(5 + doc_id % 8 AS INT) AS width,
           CAST(4 + doc_id % 6 AS INT) AS height,
           (4 + doc_id % 6) * (
             ((5 + doc_id % 8) // 2) * (doc_id % 256)
             + ((5 + doc_id % 8) - (5 + doc_id % 8) // 2) * ((doc_id * 3) % 256)
           ) AS sum_r,
           (4 + doc_id % 6) * (
             ((5 + doc_id % 8) // 2) * ((doc_id * 5) % 256)
             + ((5 + doc_id % 8) - (5 + doc_id % 8) // 2) * ((doc_id * 7) % 256)
           ) AS sum_g,
           (4 + doc_id % 6) * (
             ((5 + doc_id % 8) // 2) * ((doc_id * 11) % 256)
             + ((5 + doc_id % 8) - (5 + doc_id % 8) // 2) * ((doc_id * 13) % 256)
           ) AS sum_b
    FROM documents WHERE doc_id < 200
    """,
)
def q_multimodal_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-exact WebP (VP8L lossless) coverage under the driver's
    hash gate: the same closed-form two-tone images as the decode
    matrix, encoded through a rotating VP8L feature set — plain
    prefix-coded, SUBTRACT_GREEN + color cache, COLOR_INDEXING
    (two-color palette -> 8-pixels-per-byte bundling), PREDICTOR
    (mode rotates over all 14), and the COLOR cross-channel transform
    — then decoded back via imaging.decode_image. Lossless, so the
    SQL oracle recomputes every per-channel pixel sum exactly.
    Completes the web-image container family (operators/webp.py; the
    reference's image pipeline is the grayscale task at README.md:50-95)."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 200), max_partitions=_FIXTURE_TASKS)
    variants = ("plain", "subtract_green", "palette", "predictor",
                "color_transform")

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import imaging
        from xetl_spark.operators.webp import webp_encode

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 5 + did % 8, 4 + did % 6
                img = np.empty((h, w, 3), dtype=np.uint8)
                img[:, : w // 2] = (did % 256, (did * 5) % 256,
                                    (did * 11) % 256)
                img[:, w // 2 :] = ((did * 3) % 256, (did * 7) % 256,
                                    (did * 13) % 256)
                kind = did % 5
                if kind == 0:
                    payload = webp_encode(img)
                elif kind == 1:
                    payload = webp_encode(
                        img, subtract_green=True, cache_bits=6
                    )
                elif kind == 2:
                    payload = webp_encode(img, palette=True)
                elif kind == 3:
                    payload = webp_encode(img, predictor=did % 14)
                else:
                    payload = webp_encode(
                        img, color_deltas=(did % 256 - 128, 23, -64)
                    )
                assert imaging.sniff_format(payload) == "webp"
                dec = imaging.decode_image(payload)[:, :, :3].astype(np.int64)
                rows.append(
                    (
                        did, variants[kind], dec.shape[1], dec.shape[0],
                        int(dec[:, :, 0].sum()),
                        int(dec[:, :, 1].sum()),
                        int(dec[:, :, 2].sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "variant", "width", "height",
                    "sum_r", "sum_g", "sum_b",
                ],
            )

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id long, variant string, width int, height int, "
            "sum_r long, sum_g long, sum_b long"
        ),
    )


@query(
    "q_multimodal_av_probe",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 2 WHEN 0 THEN 'mp4' ELSE 'flac' END AS container,
           CASE WHEN doc_id % 2 = 0 THEN CAST(16 * (4 + doc_id % 40) AS INT) END
             AS width,
           CASE WHEN doc_id % 2 = 0 THEN CAST(16 * (3 + doc_id % 30) AS INT) END
             AS height,
           CASE WHEN doc_id % 2 = 1
                THEN CAST(CASE doc_id % 3 WHEN 0 THEN 16000 WHEN 1 THEN 44100
                          ELSE 48000 END AS INT) END AS sample_rate,
           CASE WHEN doc_id % 2 = 1 THEN CAST(1 + doc_id % 2 AS INT) END
             AS channels,
           CASE doc_id % 2
             WHEN 0 THEN (1 + doc_id % 60) * 500
             ELSE (10000 + doc_id * 13) * 1000
                  // (CASE doc_id % 3 WHEN 0 THEN 16000 WHEN 1 THEN 44100
                      ELSE 48000 END)
           END AS duration_ms,
           CAST(NULL AS INT) AS bitrate_kbps,
           CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 3 END AS n_frames
    FROM documents WHERE doc_id < 300
    """,
)
def q_multimodal_av_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-level audio/video triage: ISO-BMFF (MP4) box-walk
    probe (mvhd duration, tkhd dimensions, track count — mdat skipped
    by size, O(box headers) per file) and FLAC STREAMINFO probe, over
    payloads synthesized closed-form from doc_id. n_frames carries the
    MP4 track count. Every field recomputed by the SQL oracle."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 300), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        from xetl_spark.operators import mediaprobe

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 2 == 0:
                    payload = mediaprobe.mp4_build(
                        16 * (4 + did % 40),
                        16 * (3 + did % 30),
                        (1 + did % 60) * 500,
                        n_audio_tracks=did % 3,
                    )
                else:
                    sr = (16000, 44100, 48000)[did % 3]
                    payload = mediaprobe.flac_build(
                        sr, 1 + did % 2, 10000 + did * 13
                    )
                rows.append((did, payload))
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    with_media = ids.mapInPandas(gen, schema="doc_id long, media binary")
    return multimodal.probe_media(with_media, "media", "doc_id").withColumnRenamed(
        "id", "doc_id"
    )


@query(
    "q_multimodal_image_probe",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 5 WHEN 0 THEN 'gif' WHEN 1 THEN 'bmp'
                           WHEN 2 THEN 'png' WHEN 3 THEN 'jpeg'
                           ELSE 'tiff' END AS container,
           CAST(5 + doc_id % 20 AS INT) AS width,
           CAST(4 + doc_id % 15 AS INT) AS height,
           CAST(NULL AS INT) AS sample_rate,
           CAST(NULL AS INT) AS channels,
           CASE WHEN doc_id % 5 = 0 THEN (1 + doc_id % 5) * 100 END AS duration_ms,
           CAST(NULL AS INT) AS bitrate_kbps,
           CASE WHEN doc_id % 5 = 0 THEN 1 + doc_id % 5 END AS n_frames
    FROM documents WHERE doc_id < 300
    """,
)
def q_multimodal_image_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-container triage twin of q_multimodal_media_probe:
    synthesize GIF (multi-frame, real LZW via operators/gif.py), BMP,
    PNG, JPEG, and TIFF payloads with closed-form dimensions, then
    probe container/width/height (+ GIF frame count and duration from
    the block walk — no LZW decode) via multimodal.probe_media. Every
    field recomputed by the SQL oracle."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 300), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import gif, imaging, jpeg, tiff

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 5 + did % 20, 4 + did % 15
                kind = did % 5
                if kind == 0:
                    nf = 1 + did % 5
                    frames = [
                        np.full((h, w, 3), ((did + k) % 256, k, 9), dtype=np.uint8)
                        for k in range(nf)
                    ]
                    payload = gif.gif_encode(frames, delays_cs=[10] * nf)
                elif kind == 1:
                    payload = imaging.bmp_encode(
                        np.full((h, w, 3), did % 256, dtype=np.uint8)
                    )
                elif kind == 2:
                    payload = imaging.png_encode(
                        np.full((h, w, 3), did % 256, dtype=np.uint8)
                    )
                elif kind == 3:
                    payload = jpeg.jpeg_encode(
                        np.full((h, w, 3), did % 256, dtype=np.uint8), 90
                    )
                else:
                    payload = tiff.tiff_build(
                        np.full((h, w, 3), did % 256, dtype=np.uint8)
                    )
                rows.append((did, payload))
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    with_media = ids.mapInPandas(gen, schema="doc_id long, media binary")
    return multimodal.probe_media(with_media, "media", "doc_id").withColumnRenamed(
        "id", "doc_id"
    )


@query(
    "q_udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * 1.1 * 10000 + 0.5) / 10000 AS adj_price
    FROM lineitem
    """,
)
def q_udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow) pandas UDF — the sanctioned Python escape
    hatch; correctness vs a pure-SQL oracle."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def adj(price: pd.Series, disc: pd.Series) -> pd.Series:
        return price * (1 - disc) * 1.1

    (li,) = load(spark, sf_dir, "lineitem")
    # floor(x*1e4+0.5)/1e4 instead of round(): bitwise-identical in any
    # IEEE-double engine, immune to exact-midpoint rounding divergence.
    a = adj(F.col("l_extendedprice"), F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(a * 10000 + 0.5) / 10000).alias("adj_price"),
    )


@query(
    "q_udf_grouped_map",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_suppkey,
           floor((l_quantity - avg(l_quantity) OVER (PARTITION BY l_suppkey))
                 * 1000000 + 0.5) / 1000000 AS qty_demeaned
    FROM lineitem
    """,
)
def q_udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (per-group pandas transform), verified
    against the equivalent window expression.

    Grouping key cardinality is the scale lever for this operator:
    each group pays a Python/pandas dispatch, so a high-cardinality
    key (l_orderkey: ~tiny groups, one dispatch per 4 rows — measured
    35s at sf0.01) makes the overhead the workload. Supplier groups
    amortize the dispatch over thousands of rows (~1s for the same
    data). When the per-group logic IS expressible as a window
    function, prefer the window (q's oracle) — applyInPandas earns its
    cost only for genuinely procedural per-group logic."""

    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        import numpy as np

        # floor(x*1e6+0.5)/1e6, not .round(6): same double in, same
        # double out on every IEEE engine (see q_udf_pandas_scalar)
        d = pdf["l_quantity"] - pdf["l_quantity"].mean()
        pdf["qty_demeaned"] = np.floor(d * 1_000_000 + 0.5) / 1_000_000
        return pdf[["l_orderkey", "l_linenumber", "l_suppkey", "qty_demeaned"]]

    (li,) = load(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
        .groupBy("l_suppkey")
        .applyInPandas(
            demean,
            schema="l_orderkey long, l_linenumber int, l_suppkey long, qty_demeaned double",
        )
    )


@query(
    "q_text_chunk",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DD_TOKENS} AS t FROM documents WHERE doc_id < 200),
    starts AS (SELECT doc_id, t, unnest(range(0, greatest(len(t), 1), 48)) AS s FROM toks)
    SELECT doc_id AS doc, CAST(s // 48 AS INT) AS chunk_id,
           len(t[s+1 : s+64]) AS n_tokens,
           array_to_string(t[s+1 : s+64], ' ') AS chunk
    FROM starts
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (64-token chunks, 16 overlap) for
    LLM context packing — shuffle-free narrow pass (sequence →
    transform → posexplode), hash-verified against list-slicing SQL."""
    (docs,) = load(spark, sf_dir, "documents")
    return text.chunk_text(
        docs.filter(F.col("doc_id") < 200), "text", "doc_id", chunk_tokens=64, overlap=16
    )


@query(
    "q_text_repetition",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DD_TOKENS} AS t FROM documents),
    g AS (SELECT doc_id,
            CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                 ELSE list_transform(range(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS grams
          FROM toks)
    SELECT doc_id, round(1 - len(list_distinct(grams)) / greatest(len(grams), 1), 6) AS rep3
    FROM g
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition score (1 − distinct/total trigrams) —
    the boilerplate/looping-text signal quality filters threshold on."""
    (docs,) = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", text.repetition_score("text", 3).alias("rep3")
    )


@query(
    "q_text_redact",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 text || ' contact user' || doc_id ||
                 '@example.com at 555-123-4567 or 10.0.0.' || (doc_id % 256),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b', '<PHONE>', 'g'),
             '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g') AS redacted
    FROM documents
    """,
)
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pipeline (emails / phones / IPv4 → tags) over a
    corpus with synthetic PII appended so every row exercises all three
    patterns; chained JVM regexp_replace, no UDF."""
    (docs,) = load(spark, sf_dir, "documents")
    with_pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 555-123-4567 or 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    return with_pii.select(
        "doc_id", text.redact_pii("text").alias("redacted")
    )


@query("q_multimodal_audio", oracle=None)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio payload windowing (1→N overlapping PCM windows via
    Arrow-batched mapInPandas; codec stubbed — the schema/expansion/
    timing contract is the real, tested part)."""
    (docs,) = load(spark, sf_dir, "documents")
    with_media = multimodal.attach_binary(docs, "text", mime="audio/wav")
    return multimodal.window_audio(with_media, "media", "doc_id")


def _synth_wavs(spark: SparkSession, sf_dir: str, limit: int = 128) -> DataFrame:
    """Deterministic 1 kHz mono PCM WAVs keyed by doc_id, encoded with
    the REAL RIFF encoder (operators/audio.py). Sample i of doc d is
    ((d*31 + i*17) mod 2003) - 1001 over n = 1000 + (d*7 mod 1000)
    samples — closed forms a SQL oracle can recompute exactly."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < limit), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import audio

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 1000 + (did * 7) % 1000
                i = np.arange(n, dtype=np.int64)
                samples = ((did * 31 + i * 17) % 2003 - 1001).astype(np.int16)
                rows.append((did, audio.wav_encode(samples, 1000)))
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    return ids.mapInPandas(gen, schema="doc_id long, media binary")


def _synth_neardup_images(
    spark: SparkSession, sf_dir: str, limit: int = 96
) -> DataFrame:
    """PNGs with PLANTED near-duplicates: docs sharing doc_id mod 32
    render the same seeded random 32x32 pattern, each variant with a
    sprinkle of small pixel noise — perceptually identical, byte-level
    different. Cross-group patterns are independent randoms (expected
    dHash Hamming ≈ 32)."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < limit), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import imaging

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                base, variant = did % 32, did // 32
                rng = np.random.default_rng(base)
                img = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
                if variant:
                    noise_rng = np.random.default_rng(1000 + did)
                    ys = noise_rng.integers(0, 32, 20)
                    xs = noise_rng.integers(0, 32, 20)
                    img = img.astype(np.int16)
                    img[ys, xs] += noise_rng.integers(-2, 3, (20, 3))
                    img = np.clip(img, 0, 255).astype(np.uint8)
                rows.append((did, imaging.png_encode(img)))
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    return ids.mapInPandas(gen, schema="doc_id long, media binary")


@query("q_dedup_image_dhash", oracle=None)
def q_dedup_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection over REAL decode: perceptual dHash per
    PNG, then Hamming-radius pairs via pigeonhole-blocked equi-joins
    (shared core with SimHash text dedup — dedup.hamming_near_pairs;
    never a pairwise cross product). Recall/precision on planted
    near-dups property-tested in tests/test_imaging.py."""
    from xetl_spark.operators.dedup import hamming_near_pairs

    imgs = _synth_neardup_images(spark, sf_dir)
    fps = multimodal.image_dhash(imgs, "media", "doc_id")
    return hamming_near_pairs(
        fps, fp_col="dhash", id_col="id", max_hamming=6, chunks=8
    )


@query("q_multimodal_audio_features", oracle=None)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic feature extraction over REAL WAV decode: per-window RMS
    energy, zero-crossing rate, and rfft dominant frequency — the
    speech/music filtering signal of a training-data pipeline.
    Rows-only here (float spectra aren't SQL-replicable); the feature
    math is pinned analytically in tests/test_audio.py (pure sine →
    exact bin, DC → zero ZCR)."""
    wavs = _synth_wavs(spark, sf_dir)
    out = multimodal.audio_feature_windows(
        wavs, "media", "doc_id", window_ms=500, hop_ms=250
    )
    return out.select(
        F.col("id").alias("doc_id"),
        "window_idx",
        "start_ms",
        "end_ms",
        F.round("rms", 3).alias("rms"),
        F.round("zcr", 5).alias("zcr"),
        F.round("dom_hz", 2).alias("dom_hz"),
    )


def _synth_y4ms(spark: SparkSession, sf_dir: str, limit: int = 128) -> DataFrame:
    """Deterministic 8x8 Y4M clips keyed by doc_id, encoded with the
    REAL YUV4MPEG2 encoder (operators/video.py): 10 fps, n = 2 +
    (d*3 mod 6) frames, pixel(f,y,x) = (d*29 + f*13 + y*8 + x) mod
    251 — closed forms a SQL oracle can recompute exactly."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < limit), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import video

        y = np.arange(8)[:, None]
        x = np.arange(8)[None, :]
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 2 + (did * 3) % 6
                frames = np.stack(
                    [(did * 29 + f * 13 + y * 8 + x) % 251 for f in range(n)]
                ).astype(np.uint8)
                rows.append((did, video.y4m_encode(frames, fps=(10, 1))))
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    return ids.mapInPandas(gen, schema="doc_id long, media binary")


@query(
    "q_multimodal_video_frames",
    oracle="""
    SELECT d.doc_id,
           CAST(s.i * 2 AS INT) AS frame_idx,
           CAST(s.i * 200 AS BIGINT) AS frame_ts_ms,
           CAST(SUM((d.doc_id * 29 + s.i * 2 * 13 + y.i * 8 + x.i) % 251)
                AS BIGINT) AS pixel_sum
    FROM documents d
    JOIN range(4) s(i) ON s.i * 2 < 2 + (d.doc_id * 3) % 6
    JOIN range(8) y(i) ON true
    JOIN range(8) x(i) ON true
    WHERE d.doc_id < 128
    GROUP BY d.doc_id, s.i
    """,
)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling, oracle-verified: synthesizes Y4M
    clips whose luma is a closed form of doc_id, decodes them for
    real, samples every 200 ms of true media time (10 fps → source
    frames 0,2,4,6), re-decodes the emitted grayscale PNGs, and emits
    exact integer pixel sums — which the SQL oracle recomputes over a
    frame × 8x8 lattice. A decoder, sampler, or PNG bug of one pixel
    breaks the match."""
    from collections.abc import Iterator as _It

    clips = _synth_y4ms(spark, sf_dir)
    frames = multimodal.sample_frames(
        clips, "media", "doc_id", every_ms=200, max_frames=4, decode_stub=False
    )

    def sums(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import imaging

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                px = imaging.png_decode(bytes(row["frame"]))
                rows.append(
                    (
                        int(row["id"]),
                        int(row["frame_idx"]),
                        int(row["frame_ts_ms"]),
                        int(px.astype(np.int64).sum()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_ts_ms", "pixel_sum"]
            )

    return frames.mapInPandas(
        sums,
        schema="doc_id long, frame_idx int, frame_ts_ms long, pixel_sum long",
    )


@query(
    "q_multimodal_anim_frames",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             2 + doc_id % 3 AS n,
             4 + doc_id % 5 AS w,
             3 + doc_id % 4 AS h
      FROM documents WHERE doc_id < 128
    )
    SELECT p.doc_id,
           CASE WHEN p.doc_id % 2 = 0 THEN 'webp' ELSE 'gif' END AS container,
           CAST(s.i AS INT) AS frame_idx,
           CAST(s.i * 100 AS BIGINT) AS frame_ts_ms,
           CAST(p.w * p.h * ((p.doc_id * 7 + s.i * 31) % 256) AS BIGINT) AS sum_r,
           CAST(p.w * p.h * ((p.doc_id * 3 + s.i * 17) % 256) AS BIGINT) AS sum_g,
           CAST(p.w * p.h * ((p.doc_id * 5 + s.i * 11) % 256) AS BIGINT) AS sum_b
    FROM p
    JOIN range(4) s(i)
      ON s.i = 0 OR (s.i = 2 AND p.n >= 3) OR (s.i = 3 AND p.n >= 4)
    """,
)
def q_multimodal_anim_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-image frame sampling, oracle-verified: synthesizes
    animated WebP (even doc_id) and GIF (odd) clips of 2-4 solid-color
    frames (colors closed-form in doc_id and frame index, 100 ms each),
    runs multimodal.sample_frames(decode_stub=False, every_ms=150) —
    full VP8L/LZW decode + canvas compositing + cadence sampling — and
    re-decodes the emitted RGBA PNGs into exact per-channel pixel sums,
    which the SQL oracle recomputes analytically (cadence over frame
    starts 0/100/200/300 ms emits source frames 0, 2, 3 as n allows).
    One wrong pixel, timestamp, or sampled index breaks the hash."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 128), max_partitions=_FIXTURE_TASKS)

    def synth(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import gif
        from xetl_spark.operators.webp import webp_encode_anim

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 2 + did % 3
                w, h = 4 + did % 5, 3 + did % 4
                frames = [
                    np.full(
                        (h, w, 3),
                        (
                            (did * 7 + f * 31) % 256,
                            (did * 3 + f * 17) % 256,
                            (did * 5 + f * 11) % 256,
                        ),
                        np.uint8,
                    )
                    for f in range(n)
                ]
                if did % 2 == 0:
                    payload = webp_encode_anim(frames, [100] * n)
                else:
                    payload = gif.gif_encode(frames, delays_cs=[10] * n)
                rows.append((did, payload))
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    clips = ids.mapInPandas(synth, schema="doc_id long, media binary")
    frames = multimodal.sample_frames(
        clips, "media", "doc_id", every_ms=150, max_frames=4, decode_stub=False
    )

    def sums(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import imaging

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                px = imaging.png_decode(bytes(row["frame"]))[:, :, :3]
                px = px.astype(np.int64)
                rows.append(
                    (
                        int(row["id"]),
                        "webp" if int(row["id"]) % 2 == 0 else "gif",
                        int(row["frame_idx"]),
                        int(row["frame_ts_ms"]),
                        int(px[:, :, 0].sum()),
                        int(px[:, :, 1].sum()),
                        int(px[:, :, 2].sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "container", "frame_idx", "frame_ts_ms",
                    "sum_r", "sum_g", "sum_b",
                ],
            )

    return frames.mapInPandas(
        sums,
        schema=(
            "doc_id long, container string, frame_idx int, "
            "frame_ts_ms long, sum_r long, sum_g long, sum_b long"
        ),
    )


@query(
    "q_multimodal_flac",
    oracle="""
    SELECT d.doc_id,
           CASE d.doc_id % 4 WHEN 0 THEN 'verbatim' WHEN 1 THEN 'fixed2'
                WHEN 2 THEN 'mid_side' ELSE 'stereo' END AS variant,
           CAST(1000 + (d.doc_id * 7) % 1000 AS BIGINT) AS n_samples,
           CAST(SUM((d.doc_id * 31 + s.i * 17) % 2003 - 1001) AS BIGINT)
               AS sum_ch0,
           CASE WHEN d.doc_id % 4 >= 2
                THEN CAST(SUM((d.doc_id * 13 + s.i * 29) % 2003 - 1001)
                          AS BIGINT) END AS sum_ch1
    FROM documents d
    JOIN range(2000) s(i) ON s.i < 1000 + (d.doc_id * 7) % 1000
    WHERE d.doc_id < 128
    GROUP BY d.doc_id
    """,
)
def q_multimodal_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC decode under the driver's hash gate: synthesizes PCM
    whose samples are a closed form of doc_id, encodes through a
    rotating feature set (verbatim mono / fixed-predictor Rice-coded
    mono / mid-side stereo / independent stereo, multi-frame at
    blocksize 512 with CRC-8 + CRC-16 computed and re-verified), fully
    decodes via operators/flac.py, and emits exact per-channel sample
    sums the SQL oracle recomputes analytically. Lossless end to end —
    one wrong sample anywhere breaks the hash."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 128), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators.flac import flac_decode, flac_encode

        variants = ("verbatim", "fixed2", "mid_side", "stereo")
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 1000 + (did * 7) % 1000
                i = np.arange(n, dtype=np.int64)
                ch0 = (did * 31 + i * 17) % 2003 - 1001
                kind = did % 4
                if kind < 2:
                    pcm = ch0[:, None].astype(np.int32)
                else:
                    ch1 = (did * 13 + i * 29) % 2003 - 1001
                    pcm = np.stack([ch0, ch1], axis=1).astype(np.int32)
                payload = flac_encode(
                    pcm,
                    16000,
                    mode="verbatim" if kind == 0 else "fixed2"
                    if kind != 2 else "fixed1",
                    stereo="mid_side" if kind == 2 else "independent",
                    blocksize=512,
                )
                dec, rate = flac_decode(payload)
                assert rate == 16000
                rows.append(
                    (
                        did,
                        variants[kind],
                        dec.shape[0],
                        int(dec[:, 0].astype(np.int64).sum()),
                        int(dec[:, 1].astype(np.int64).sum())
                        if dec.shape[1] > 1 else None,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "variant", "n_samples", "sum_ch0", "sum_ch1"],
            )

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id long, variant string, n_samples long, "
            "sum_ch0 long, sum_ch1 long"
        ),
    )


@query(
    "q_multimodal_ico",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'dib' WHEN 1 THEN 'png'
                ELSE 'multi' END AS variant,
           CAST(5 + doc_id % 8 AS INT) AS width,
           CAST(4 + doc_id % 6 AS INT) AS height,
           (4 + doc_id % 6) * (
             ((5 + doc_id % 8) // 2) * (doc_id % 256)
             + ((5 + doc_id % 8) - (5 + doc_id % 8) // 2) * ((doc_id * 3) % 256)
           ) AS sum_r,
           (4 + doc_id % 6) * (
             ((5 + doc_id % 8) // 2) * ((doc_id * 5) % 256)
             + ((5 + doc_id % 8) - (5 + doc_id % 8) // 2) * ((doc_id * 7) % 256)
           ) AS sum_g,
           (4 + doc_id % 6) * (
             ((5 + doc_id % 8) // 2) * ((doc_id * 11) % 256)
             + ((5 + doc_id % 8) - (5 + doc_id % 8) // 2) * ((doc_id * 13) % 256)
           ) AS sum_b
    FROM documents WHERE doc_id < 200
    """,
)
def q_multimodal_ico(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICO (favicon) decode under the hash gate: the decode-matrix
    two-tone fixtures wrapped as 32-bit DIB entries, PNG entries, or
    a multi-entry icon where a smaller decoy precedes the real image
    (best-entry selection must pick by area) — all lossless, so the
    closed-form pixel-sum oracle is exact. Completes the web-image
    dispatch (every site's favicon.ico)."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 200), max_partitions=_FIXTURE_TASKS)
    variants = ("dib", "png", "multi")

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import imaging
        from xetl_spark.operators.ico import ico_build

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 5 + did % 8, 4 + did % 6
                img = np.empty((h, w, 3), dtype=np.uint8)
                img[:, : w // 2] = (did % 256, (did * 5) % 256,
                                    (did * 11) % 256)
                img[:, w // 2 :] = ((did * 3) % 256, (did * 7) % 256,
                                    (did * 13) % 256)
                kind = did % 3
                if kind == 0:
                    payload = ico_build([img])
                elif kind == 1:
                    payload = ico_build([img], as_png=True)
                else:  # smaller decoy first: selection must skip it
                    decoy = np.zeros((2, 2, 3), np.uint8)
                    payload = ico_build([decoy, img])
                assert imaging.sniff_format(payload) == "ico"
                dec = imaging.decode_image(payload)[:, :, :3].astype(np.int64)
                rows.append(
                    (
                        did, variants[kind], dec.shape[1], dec.shape[0],
                        int(dec[:, :, 0].sum()),
                        int(dec[:, :, 1].sum()),
                        int(dec[:, :, 2].sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "variant", "width", "height",
                    "sum_r", "sum_g", "sum_b",
                ],
            )

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id long, variant string, width int, height int, "
            "sum_r long, sum_g long, sum_b long"
        ),
    )


@query(
    "q_multimodal_exif_strip",
    oracle="""
    SELECT doc_id,
           'cam-' || CAST(doc_id % 10 AS VARCHAR) AS make_before,
           CAST(100 + doc_id % 800 AS BIGINT) AS iso_before,
           CAST(0 AS INT) AS fields_after,
           (4 + doc_id % 6) * (
             ((5 + doc_id % 8) // 2) * (doc_id % 256)
             + ((5 + doc_id % 8) - (5 + doc_id % 8) // 2) * ((doc_id * 3) % 256)
           ) AS sum_r,
           (4 + doc_id % 6) * (
             ((5 + doc_id % 8) // 2) * ((doc_id * 5) % 256)
             + ((5 + doc_id % 8) - (5 + doc_id % 8) // 2) * ((doc_id * 7) % 256)
           ) AS sum_g,
           (4 + doc_id % 6) * (
             ((5 + doc_id % 8) // 2) * ((doc_id * 11) % 256)
             + ((5 + doc_id % 8) - (5 + doc_id % 8) // 2) * ((doc_id * 13) % 256)
           ) AS sum_b
    FROM documents WHERE doc_id < 200
    """,
)
def q_multimodal_exif_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image privacy scrub (exif.strip_metadata — the image-side
    analog of the text `redact` task): lossless-JPEG fixtures carry a
    closed-form Exif APP1 (make/iso); stripping must remove EVERY
    metadata field while the decoded pixels stay bit-identical —
    the oracle pins the before-fields, the zero after-count, and the
    exact per-channel pixel sums of the stripped stream."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 200), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import exif, imaging, jpeg

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 5 + did % 8, 4 + did % 6
                img = np.empty((h, w, 3), dtype=np.uint8)
                img[:, : w // 2] = (did % 256, (did * 5) % 256,
                                    (did * 11) % 256)
                img[:, w // 2 :] = ((did * 3) % 256, (did * 7) % 256,
                                    (did * 13) % 256)
                payload = exif.insert_app1(
                    jpeg.jpeg_lossless_encode(img, predictor=1 + did % 7),
                    exif.exif_build(
                        {"make": f"cam-{did % 10}", "iso": 100 + did % 800}
                    ),
                )
                before = exif.exif_parse(payload)
                stripped = exif.strip_metadata(payload)
                after = exif.exif_parse(stripped)
                dec = imaging.decode_image(stripped)[:, :, :3].astype(np.int64)
                rows.append(
                    (
                        did,
                        str(before.get("make")),
                        int(before.get("iso")),
                        len(after),
                        int(dec[:, :, 0].sum()),
                        int(dec[:, :, 1].sum()),
                        int(dec[:, :, 2].sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "make_before", "iso_before", "fields_after",
                    "sum_r", "sum_g", "sum_b",
                ],
            )

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id long, make_before string, iso_before long, "
            "fields_after int, sum_r long, sum_g long, sum_b long"
        ),
    )


@query(
    "q_multimodal_audio_resample",
    oracle="""
    WITH s AS (
      SELECT d.doc_id, i.i,
             (d.doc_id * 31 + i.i * 17) % 2003 - 1001 AS v,
             600 + d.doc_id % 400 AS n
      FROM documents d
      JOIN range(1000) i(i) ON i.i < 600 + d.doc_id % 400
      WHERE d.doc_id < 128
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'down2' ELSE 'up2' END AS direction,
           CAST(CASE WHEN doc_id % 2 = 0 THEN (MAX(n) - 1) // 2 + 1
                ELSE 2 * MAX(n) - 1 END AS BIGINT) AS n_out,
           CAST(CASE WHEN doc_id % 2 = 0
                THEN 2 * SUM(CASE WHEN i % 2 = 0 THEN v ELSE 0 END)
                ELSE 4 * SUM(v) - MAX(CASE WHEN i = 0 THEN v END)
                     - MAX(CASE WHEN i = n - 1 THEN v END)
                END AS BIGINT) AS sum2
    FROM s GROUP BY doc_id
    """,
)
def q_multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling (audio.resample_linear — the
    16 kHz normalization pass of an ASR pipeline) under the hash gate:
    closed-form PCM resampled 2x down (32k->16k: every 2nd sample
    verbatim) for even doc_id and 2x up (8k->16k: verbatim +
    midpoints) for odd. Midpoints of ints are exact halves in float64,
    so DOUBLING the output sum is integer-exact on both paths and the
    SQL oracle states it analytically (up-sum telescopes to
    4*sum - first - last). Grid or interpolation drift of one sample
    breaks the hash."""
    from collections.abc import Iterator as _It

    from xetl_spark.operators.audio import resample_linear

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 128), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 600 + did % 400
                i = np.arange(n, dtype=np.int64)
                s = (did * 31 + i * 17) % 2003 - 1001
                if did % 2 == 0:
                    out = resample_linear(s, 32000, 16000)
                    direction = "down2"
                else:
                    out = resample_linear(s, 8000, 16000)
                    direction = "up2"
                sum2 = float((2.0 * out[:, 0]).sum())
                assert sum2 == int(sum2)  # exact-by-construction
                rows.append((did, direction, out.shape[0], int(sum2)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "direction", "n_out", "sum2"]
            )

    return ids.mapInPandas(
        gen,
        schema="doc_id long, direction string, n_out long, sum2 long",
    )


@query(
    "q_ingest_subtitles",
    oracle="""
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 2 = 0 THEN 'srt' ELSE 'vtt' END AS fmt,
           CAST(i.i AS INT) AS cue_idx,
           CAST(i.i * 2000 + d.doc_id % 1000 AS BIGINT) AS start_ms,
           CAST(i.i * 2000 + d.doc_id % 1000 + 1500 AS BIGINT) AS end_ms,
           CAST((d.doc_id * 17 + i.i * 3) % 1000 AS BIGINT) AS marker
    FROM documents d
    JOIN range(8) i(i) ON i.i < 3 + d.doc_id % 5
    WHERE d.doc_id < 200
    """,
)
def q_ingest_subtitles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtitle ingestion (operators/subtitles.py): synthesizes SRT
    (even doc_id) and WebVTT (odd — with NOTE blocks, cue settings,
    and inline markup to strip) transcripts whose cue times and
    embedded markers are closed-form, parses them into one row per
    cue, and hash-matches index/start/end/marker against the analytic
    oracle — the 1-row-per-cue expansion an ASR pipeline aligns on."""
    from collections.abc import Iterator as _It

    from xetl_spark.operators.subtitles import extract_subtitles

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 200), max_partitions=_FIXTURE_TASKS)

    def synth(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 3 + did % 5
                parts = []
                vtt = did % 2 == 1
                if vtt:
                    parts.append("WEBVTT\n\nNOTE generated fixture\n")
                for i in range(n):
                    start = i * 2000 + did % 1000
                    end = start + 1500
                    v = (did * 17 + i * 3) % 1000

                    def ts(ms: int, sep: str) -> str:
                        return (
                            f"{ms // 3600000:02d}:{ms // 60000 % 60:02d}:"
                            f"{ms // 1000 % 60:02d}{sep}{ms % 1000:03d}"
                        )

                    if vtt:
                        parts.append(
                            f"cue-{i}\n{ts(start, '.')} --> {ts(end, '.')}"
                            f" align:start\n<c.y>cue</c> {v} of the test\n"
                        )
                    else:
                        parts.append(
                            f"{i + 1}\n{ts(start, ',')} --> {ts(end, ',')}"
                            f"\ncue <i>{v}</i> of the test\n"
                        )
                rows.append((did, "\n".join(parts)))
            yield pd.DataFrame(rows, columns=["doc_id", "text"])

    subs = ids.mapInPandas(synth, schema="doc_id long, text string")
    out = extract_subtitles(subs, "text", "doc_id")
    return out.select(
        F.col("id").alias("doc_id"),
        "fmt",
        "cue_idx",
        "start_ms",
        "end_ms",
        F.regexp_extract("text", r"(\d+)", 1).cast("long").alias("marker"),
    )


@query(
    "q_text_main_content",
    oracle="""
    SELECT d.doc_id,
           CAST(2 + d.doc_id % 4 AS INT) AS n_good,
           CAST(4 * SUM((d.doc_id * 31 + f.i * 7) % 1000) AS BIGINT)
               AS num_sum
    FROM documents d
    JOIN range(6) f(i) ON f.i < 2 + d.doc_id % 4
    WHERE d.doc_id < 200
    GROUP BY d.doc_id
    """,
)
def q_text_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM-aware main-content extraction (operators/html.py — the
    jusText-class boilerplate stage of a web-corpus pipeline):
    synthesizes pages with nav/banner/aside/footer chrome, a linked
    promo line, a script block, and 2-5 stopword-dense content
    paragraphs each embedding a closed-form marker number 4 times.
    extract_main_content must keep EXACTLY the content paragraphs —
    the oracle recomputes the surviving block count and the sum of
    the embedded markers; one leaked nav block or dropped paragraph
    breaks the hash."""
    from collections.abc import Iterator as _It

    from xetl_spark.operators.html import extract_main_content

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 200), max_partitions=_FIXTURE_TASKS)

    def synth(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                k = 2 + did % 4
                paras = []
                for f in range(k):
                    v = (did * 31 + f * 7) % 1000
                    sent = (
                        f"the value {v} of the series and a note to one "
                        "of the readers in the town "
                    )
                    paras.append(f"<p>{sent * 4}</p>")
                page = (
                    "<html><head><title>Doc</title><script>var x=1;"
                    "</script></head><body>"
                    '<nav><a href="/">Home</a> <a href="/b">Blog</a></nav>'
                    '<div role="banner"><a href="/p">Big promo</a></div>'
                    + "".join(paras)
                    + '<aside>Related: <a href="/x">more</a></aside>'
                    "<footer>&copy; The Site <a href='/t'>Terms</a></footer>"
                    "</body></html>"
                )
                rows.append((did, page))
            yield pd.DataFrame(rows, columns=["doc_id", "html"])

    pages = ids.mapInPandas(synth, schema="doc_id long, html string")
    out = extract_main_content(pages, "html", "doc_id")
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("n_good"),
        F.expr(
            "aggregate(transform(regexp_extract_all(main_text,"
            " '([0-9]+)', 1), x -> cast(x as bigint)), 0L, (a, x) -> a + x)"
        ).alias("num_sum"),
    )


@query(
    "q_multimodal_wav_g711",
    oracle="""
    WITH s AS (
      SELECT d.doc_id, i.i,
             (d.doc_id * 13 + i.i * 7) % 256 AS b
      FROM documents d
      JOIN range(1000) i(i) ON i.i < 500 + d.doc_id % 500
      WHERE d.doc_id < 128
    ),
    e AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN  -- u-law (G.711): t-0x84 form
               CASE WHEN (255 - b) >= 128
                    THEN 132 - ((((255 - b) % 16) * 8 + 132)
                                << (((255 - b) // 16) % 8))
                    ELSE ((((255 - b) % 16) * 8 + 132)
                          << (((255 - b) // 16) % 8)) - 132
               END
             ELSE                            -- A-law: xor 0x55 form
               CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END *
               CASE WHEN ((xor(b, 85) // 16) % 8) > 0
                    THEN ((xor(b, 85) % 16) * 16 + 8 + 256)
                         << (((xor(b, 85) // 16) % 8) - 1)
                    ELSE (xor(b, 85) % 16) * 16 + 8
               END
             END AS sample
      FROM s
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'mulaw' ELSE 'alaw' END AS coding,
           CAST(500 + doc_id % 500 AS BIGINT) AS n_samples,
           CAST(SUM(sample) AS BIGINT) AS sample_sum,
           CAST(MAX(ABS(sample)) AS BIGINT) AS peak
    FROM e GROUP BY doc_id
    """,
)
def q_multimodal_wav_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 telephony WAV decode (u-law even doc_id / A-law odd):
    closed-form codeword bytes wrapped in real RIFF containers, pushed
    through wav_decode's exact integer expansion, and summed — the SQL
    oracle RE-DERIVES the ITU expansion arithmetic (u-law's
    (mant*8+132)<<exp - 132 after complement; A-law's xor-0x55
    segment form), so the two implementations must agree codeword by
    codeword across all 256 values and both sign conventions."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 128), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators.audio import wav_build_raw, wav_decode

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 500 + did % 500
                data = bytes((did * 13 + i * 7) % 256 for i in range(n))
                fmt = 7 if did % 2 == 0 else 6
                samples, rate = wav_decode(wav_build_raw(fmt, data, 8000))
                assert rate == 8000
                s = samples[:, 0].astype(np.int64)
                rows.append(
                    (
                        did,
                        "mulaw" if did % 2 == 0 else "alaw",
                        len(s),
                        int(s.sum()),
                        int(np.abs(s).max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "coding", "n_samples", "sample_sum", "peak"],
            )

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id long, coding string, n_samples long, "
            "sample_sum long, peak long"
        ),
    )


@query(
    "q_multimodal_audio_windows",
    oracle="""
    SELECT d.doc_id, w.i AS window_idx,
           CAST(w.i * 250 AS BIGINT) AS start_ms,
           CAST(LEAST(w.i * 250 + 500, 1000 + (d.doc_id * 7) % 1000)
                AS BIGINT) AS end_ms,
           CAST(SUM((d.doc_id * 31 + s.i * 17) % 2003 - 1001) AS BIGINT)
               AS sample_sum
    FROM documents d
    JOIN range(8) w(i) ON w.i * 250 < 1000 + (d.doc_id * 7) % 1000
    JOIN range(2000) s(i)
      ON s.i >= w.i * 250
     AND s.i < LEAST(w.i * 250 + 500, 1000 + (d.doc_id * 7) % 1000)
    WHERE d.doc_id < 128
    GROUP BY d.doc_id, w.i
    """,
)
def q_multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, oracle-verified: synthesizes PCM WAVs whose
    samples are a closed form of doc_id, pushes the RIFF bytes through
    the pure-Python WAV decoder, windows them (500 ms / 250 ms hop at
    1 kHz), and emits each window's exact integer sample sum — which
    the SQL oracle recomputes analytically over a sample-index lattice.
    A decoder or slicing bug of even one sample breaks the match."""
    from collections.abc import Iterator as _It

    wavs = _synth_wavs(spark, sf_dir)
    windows = multimodal.window_audio(
        wavs, "media", "doc_id", window_ms=500, hop_ms=250, decode_stub=False
    )

    def sums(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                samples = np.frombuffer(bytes(row["pcm"]), dtype="<i2")
                rows.append(
                    (
                        int(row["id"]),
                        int(row["window_idx"]),
                        int(row["start_ms"]),
                        int(row["end_ms"]),
                        int(samples.astype(np.int64).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "window_idx", "start_ms", "end_ms", "sample_sum"],
            )

    return windows.mapInPandas(
        sums,
        schema=(
            "doc_id long, window_idx long, start_ms long, end_ms long, "
            "sample_sum long"
        ),
    )


@query(
    "q_text_decontaminate",
    oracle=f"""
    WITH corpus AS (SELECT doc_id, {_DD_TOKENS} AS t FROM documents WHERE doc_id < 450),
    bench AS (SELECT doc_id, {_DD_TOKENS} AS t FROM documents WHERE doc_id >= 450),
    cg AS (SELECT doc_id, unnest(list_distinct(
             CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(range(1, greatest(len(t) - 1, 2)),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END)) AS sh
           FROM corpus),
    bg AS (SELECT DISTINCT unnest(list_distinct(
             CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE list_transform(range(1, greatest(len(t) - 1, 2)),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END)) AS sh
           FROM bench)
    SELECT doc_id AS doc, count(*) AS n_shared
    FROM cg JOIN bg USING (sh)
    GROUP BY doc_id
    HAVING count(*) >= 2
    """,
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing ≥2 distinct word
    trigrams with a held-out 'benchmark' slice (any-source overlap via
    one equi-join against the benchmark n-gram set — no doc×doc
    pairwise work), hash-verified against the set-join oracle."""
    from xetl_spark.operators import contamination_check

    (docs,) = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 450)
    bench = docs.filter(F.col("doc_id") >= 450)
    return contamination_check(corpus, bench, "text", "doc_id", n=3, min_overlap=2)


@query("q_text_hashing_tfidf", oracle=None)
def q_text_hashing_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF via the pyspark.ml feature pipeline (Tokenizer→HashingTF
    →IDF): vocabulary-free fixed-width vectors — the bounded-memory
    twin of the exact q_text_tfidf (hash collisions ⇒ no exact oracle;
    pipeline properties tested in tests/test_llm_ops.py). Projected to
    (doc, nnz, l2) scalars for the rows-only check."""
    from pyspark.ml.functions import vector_to_array

    from xetl_spark.operators.text import hashing_tfidf

    (docs,) = load(spark, sf_dir, "documents")
    out = hashing_tfidf(docs, "text", "doc_id", num_features=1024)
    arr = vector_to_array(F.col("tfidf_vec"))
    l2 = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x))
    nnz = F.size(F.filter(arr, lambda x: x != 0))
    return out.select("doc", nnz.alias("nnz"), F.round(l2, 4).alias("l2"))


@query("q_graph_pagerank", oracle=None)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier→customer fulfillment graph
    (lineitem⋈orders edges): pure-DataFrame power iteration with
    dangling-mass redistribution — the iterative-algorithm pattern
    (localCheckpoint lineage cuts, aggregate-only convergence checks)
    on a real derived graph. Top-50 by rank; P class (float iteration
    order varies the low bits across partitionings)."""
    from xetl_spark.operators.graph import pagerank

    li, orders = load(spark, sf_dir, "lineitem", "orders")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("s"), "l_suppkey").alias("src"),
            F.concat(F.lit("c"), "o_custkey").alias("dst"),
        )
        .distinct()
    )
    return (
        pagerank(edges, max_iter=8, tol=1e-7)
        .orderBy(F.col("rank").desc(), F.col("node"))
        .limit(50)
        .select("node", F.round("rank", 6).alias("rank"))
    )


@query(
    "q_graph_triangles",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_suppkey FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-07-01'
    ),
    pairs AS (
      SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
      FROM li l1 JOIN li l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
    ),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM pairs e1
      JOIN pairs e2 ON e1.b = e2.a
      JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT v, count(*) AS triangles
    FROM (SELECT unnest([a, b, c]) AS v FROM tri)
    GROUP BY v
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts on the co-supply graph (suppliers
    sharing an H1-1997 order): degree-ordered compact-forward
    enumeration (operators/graph.py triangle_count) whose wedge join
    is bounded O(m^1.5) on any degree distribution — the oracle's
    naive id-ordered 3-way self-join is the same count computed the
    quadratic way, which is exactly the contrast that matters at
    100 TB. Hash-verified: orientation scheme changes the plan, not
    the result."""
    from xetl_spark.operators.graph import triangle_count

    (li,) = load(spark, sf_dir, "lineitem")
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey")
    other = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("s2")
    )
    edges = (
        li.join(other, (F.col("l_orderkey") == F.col("ok2")) & (F.col("l_suppkey") < F.col("s2")))
        .select(F.col("l_suppkey").alias("src"), F.col("s2").alias("dst"))
        .distinct()
    )
    return triangle_count(edges).select("v", "triangles")


@query("q_sim_pq_topk", oracle=None)
def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): 8-byte-per-vector
    compressed-domain ADC shortlist + exact rerank, top-10 neighbors
    for a small query batch. Recall ≥ 0.85 vs brute force is
    property-tested in tests/test_llm_ops.py; the 32x vector
    compression is what keeps a 100 TB embedding corpus scannable."""
    from xetl_spark.operators.pq import pq_topk

    (emb,) = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_topk(emb, queries, "embedding", k=10)


@query("q_sim_opq_topk", oracle=None)
def q_sim_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimized Product Quantization ANN (round 11, operators/pq.py
    opq_fit — Ge et al. CVPR 2013): a learned orthonormal rotation
    decorrelates the subspaces before PQ, so quantization error (and
    shortlist recall) stops depending on how variance happens to land
    across the fixed subspace split; codes + ADC tables live in the
    rotated space while the exact rerank reports true unrotated L2.
    The recall gap over plain PQ on adversarially-mixed dimensions is
    property-tested in tests/test_llm_ops.py; ANN.md carries the
    measured recall row on the fixture embeddings."""
    from xetl_spark.operators.pq import pq_topk

    (emb,) = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_topk(emb, queries, "embedding", k=10, opq_iters=6)


@query("q_sim_ivfpq_topk", oracle=None)
def q_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/pq.py ivfpq_topk): coarse cells prune the
    scan to n_probe/n_cells of the corpus BEFORE any distance math,
    residual PQ codes compress what remains 32x, exact rerank restores
    precision — the FAISS IVFPQ architecture as a DataFrame pipeline.
    Recall-vs-probe-fraction monotonicity is property-tested in
    tests/test_llm_ops.py."""
    from xetl_spark.operators.pq import ivfpq_topk

    (emb,) = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_topk(emb, queries, "embedding", n_cells=16, n_probe=8, k=10)


@query(
    "q_fuzzy_name_join",
    oracle="""
    WITH n AS (SELECT DISTINCT c_name FROM customer)
    SELECT a.c_name AS name_a, b.c_name AS name_b,
           levenshtein(a.c_name, b.c_name) AS dist
    FROM n a JOIN n b ON a.c_name < b.c_name
    WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
      AND levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance self-join over the customer name dictionary
    (operators/text.py edit_distance_join): SymSpell-style deletion-
    neighborhood blocking — provably no false negatives, buckets stay
    near-constant even on shared-prefix identifiers where q-gram
    blocking degenerates to all-pairs — then exact levenshtein verify.
    Hash-verified against DuckDB's exhaustive quadratic join: the
    blocked plan and the O(n²) oracle agree row-for-row."""
    from xetl_spark.operators.text import edit_distance_join

    (cust,) = load(spark, sf_dir, "customer")
    names = cust.select("c_name").distinct()
    out = edit_distance_join(names, "c_name", "c_name", max_distance=1)
    return out.select(
        F.col("c_name_a").alias("name_a"),
        F.col("c_name_b").alias("name_b"),
        "dist",
    )


@query("q_multimodal_scene_cuts", oracle=None)
def q_multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-boundary detection over synthesized Y4M videos
    (operators/multimodal.py scene_cuts): hard cuts found by exact
    integer luma-delta sums inside Arrow-batched mapInPandas.
    Boundary positions and analytic deltas pinned in
    tests/test_video.py; fixtures here are deterministic two-scene
    clips derived from vec_id."""
    import numpy as np
    import pandas as pd

    from xetl_spark.operators.multimodal import scene_cuts
    from xetl_spark.operators.video import y4m_encode

    rows = []
    for i in range(8):
        a = np.full((2 + i % 3, 16, 16), 40 + i, np.uint8)
        b = np.full((2, 16, 16), 190 + i % 4, np.uint8)
        rows.append((i, bytearray(y4m_encode(np.concatenate([a, b]), fps=(10, 1)))))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "media"]),
        "doc_id long, media binary",
    )
    return scene_cuts(df, threshold=30.0)


@query("q_multimodal_activity_segments", oracle=None)
def q_multimodal_activity_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation over synthesized WAV clips
    (operators/multimodal.py activity_segments): windowed RMS
    thresholding + run-length merge into (start, end, active)
    segments. Exact boundaries and analytic RMS pinned on
    tone/silence clips in tests/test_audio.py."""
    import numpy as np
    import pandas as pd

    from xetl_spark.operators.audio import wav_encode
    from xetl_spark.operators.multimodal import activity_segments

    rate = 8000
    t = np.arange(rate // 2) / rate
    rows = []
    for i in range(6):
        tone = (9000 * np.sin(2 * np.pi * (300 + 50 * i) * t)).astype(np.int16)
        silence = np.zeros(rate // 2, np.int16)
        parts = [tone, silence] * (1 + i % 2) + [tone]
        rows.append((i, bytearray(wav_encode(np.concatenate(parts), rate))))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "media"]), "doc_id long, media binary"
    )
    return activity_segments(df, window_ms=100, rms_threshold=500.0)


@query(
    "q_text_line_dedup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DD_TOKENS} AS t FROM documents),
    lines AS (
      SELECT doc_id, CAST(s // 16 AS INT) AS pos,
             array_to_string(t[s+1 : s+16], ' ') AS line
      FROM (SELECT doc_id, t,
                   unnest(range(0, greatest(len(t), 1), 16)) AS s FROM toks)
    ),
    k AS (
      SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1
               AS keep
      FROM lines
    )
    SELECT doc_id, count(*) AS n_lines,
           CAST(count_if(keep) AS BIGINT) AS kept_lines,
           coalesce(string_agg(CASE WHEN keep THEN line END, ' '
                               ORDER BY pos), '') AS new_text
    FROM k GROUP BY doc_id
    """,
)
def q_text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact line dedup (C4/RefinedWeb recipe,
    operators/text.py line_dedup): fixed 16-token lines, globally-first
    occurrence survives, documents reassembled in line order. First
    occurrence is a map-side-collapsing min(struct(doc,pos)) aggregate
    (never a window sort — hot boilerplate lines collapse in partial
    agg), so only ~distinct lines shuffle — the canonical whole-corpus
    text-cleaning pass."""
    (docs,) = load(spark, sf_dir, "documents")
    return text.line_dedup(docs, "text", "doc_id", line_tokens=16)


@query("q_graph_label_propagation", oracle=None)
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection (deterministic label propagation,
    operators/graph.py) over the supplier→customer fulfillment graph:
    per-round join + count + arg-max keyed shuffles, tie-broken toward
    the smaller label so results are partitioning-independent. Returns
    community sizes (top 50); structure properties pinned in
    tests/test_graph.py."""
    from xetl_spark.operators.graph import label_propagation

    li, orders = load(spark, sf_dir, "lineitem", "orders")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("s"), "l_suppkey").alias("src"),
            F.concat(F.lit("c"), "o_custkey").alias("dst"),
        )
        .distinct()
    )
    comm = label_propagation(edges, max_iter=5)
    return (
        comm.groupBy("community")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy(F.col("n_nodes").desc(), F.col("community"))
        .limit(50)
    )


@query("q_embed_kmeans", oracle=None)
def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed KMeans clustering over the embeddings table (MLlib
    KMeans|| via similarity.ivf_fit_centroids — the same fit that backs
    the IVF/IVF-PQ indexes, exposed as a first-class clustering op):
    returns per-cluster sizes and mean distance to centroid. Iterative
    Lloyd steps run as Catalyst aggregations over cached vectors; the
    centroid table is O(k·dim) — never the corpus — on the driver.
    Seeded, so rerun-stable; quality (inertia ≤ random assignment) is
    property-tested in tests/test_llm_ops.py."""
    from xetl_spark.operators.similarity import (
        ivf_fit_centroids,
        with_unit_vectors,
    )

    (emb,) = load(spark, sf_dir, "embeddings")
    k = 8
    centroids = ivf_fit_centroids(emb, "embedding", n_clusters=k, seed=7)
    c = with_unit_vectors(emb, "embedding", "__u")
    cent = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in ctr])
            for ctr in centroids
        ]
    )
    dists = F.transform(
        cent,
        lambda ctr: F.aggregate(
            F.zip_with(F.col("__u"), ctr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    assigned = c.select(
        F.array_position(dists, F.array_min(dists)).alias("cluster"),
        F.array_min(dists).alias("sqdist"),
    )
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("sqdist"), 6).alias("mean_sqdist"),
        )
        .orderBy("cluster")
    )


@query(
    "q_multimodal_jpeg_hier_lossless",
    oracle="""
    SELECT doc_id,
           CAST(1 + doc_id % 3 AS INT) AS levels,
           doc_id % 2 = 1 AS arithmetic,
           CAST(6 + doc_id % 7 AS INT) AS width,
           CAST(5 + doc_id % 5 AS INT) AS height,
           (5 + doc_id % 5) * (
             ((6 + doc_id % 7) // 2) * (doc_id % 256)
             + ((6 + doc_id % 7) - (6 + doc_id % 7) // 2) * ((doc_id * 3) % 256)
           ) AS sum_r,
           (5 + doc_id % 5) * (
             ((6 + doc_id % 7) // 2) * ((doc_id * 5) % 256)
             + ((6 + doc_id % 7) - (6 + doc_id % 7) // 2) * ((doc_id * 7) % 256)
           ) AS sum_g,
           (5 + doc_id % 5) * (
             ((6 + doc_id % 7) // 2) * ((doc_id * 11) % 256)
             + ((6 + doc_id % 7) - (6 + doc_id % 7) // 2) * ((doc_id * 13) % 256)
           ) AS sum_b
    FROM documents WHERE doc_id < 200
    """,
)
def q_multimodal_jpeg_hier_lossless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS hierarchical JPEG (SOF7/SOF15 — the last T.81 frame
    family, closed r11): two-tone RGB fixtures encoded as 1-3 level
    pyramids, Huffman (SOF3 base + SOF7 differential) and arithmetic
    (SOF11 + SOF15) rotating by parity, predictor rotating over all
    seven. Unlike the DCT pyramid this mode is bit-exact on PIXELS
    with components stored verbatim (no color transform), so the SQL
    oracle recomputes full RGB channel sums exactly — any drift in the
    Annex H entropy layer, the J.1.1.2 expansion, the modulo-2^16
    differential add, or the odd-dimension crop breaks the hash."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 200), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import imaging, jpeg

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 6 + did % 7, 5 + did % 5
                img = np.empty((h, w, 3), dtype=np.uint8)
                img[:, : w // 2] = (did % 256, (did * 5) % 256,
                                    (did * 11) % 256)
                img[:, w // 2 :] = ((did * 3) % 256, (did * 7) % 256,
                                    (did * 13) % 256)
                levels = 1 + did % 3
                arith = did % 2 == 1
                payload = jpeg.jpeg_encode_hierarchical_lossless(
                    img, levels=levels, predictor=1 + did % 7,
                    arithmetic=arith,
                )
                dec = imaging.decode_image(payload)[:, :, :3].astype(np.int64)
                rows.append(
                    (
                        did, levels, arith, dec.shape[1], dec.shape[0],
                        int(dec[:, :, 0].sum()),
                        int(dec[:, :, 1].sum()),
                        int(dec[:, :, 2].sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "levels", "arithmetic", "width", "height",
                    "sum_r", "sum_g", "sum_b",
                ],
            )

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id long, levels int, arithmetic boolean, width int, "
            "height int, sum_r long, sum_g long, sum_b long"
        ),
    )


@query(
    "q_multimodal_jpeg_hierarchical",
    oracle="""
    SELECT doc_id,
           CAST(15 + doc_id % 4 AS INT) AS width,
           CAST(9 + doc_id % 6 AS INT) AS height,
           CAST(doc_id % 256 AS BIGINT) AS gray
    FROM documents WHERE doc_id < 200
    """,
)
def q_multimodal_jpeg_hierarchical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL hierarchical-JPEG decode (T.81 §16: DHP header, 3-level
    pyramid, EXP reference expansions, differential frames). The
    entropy layer rotates by doc_id — Huffman SOF0+SOF5, arithmetic
    sequential SOF9+SOF13, arithmetic progressive SOF10+SOF14 (round
    11) — all three code the same quantized coefficients, so the one
    closed-form oracle covers every layer. Uniform GRAYSCALE fixtures
    are DC-only at quality 100 with integer-exact arithmetic at every
    stage (base frame, J.1.1.2 upsampling, differential add,
    odd-dimension crop), so the SQL oracle states the pixel values
    directly; the varying odd widths/heights sweep the crop/padding
    edge cases. (Uniform RGB is NOT bit-exact here: fractional YCbCr
    DC rounding accumulates across pyramid levels to ±1 — measured,
    and why this fixture is grayscale.) Lossy-content parity with
    baseline is separately pinned in tests/test_jpeg.py."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 200), max_partitions=_FIXTURE_TASKS)

    def gen_and_check(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import jpeg

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 15 + did % 4, 9 + did % 6
                arr = np.full((h, w), did % 256, dtype=np.uint8)
                payload = jpeg.jpeg_encode_hierarchical(
                    arr, levels=3, quality=100,
                    arithmetic=did % 2 == 1, progressive=did % 4 == 3,
                )
                want_sof = (b"\xff\xc5", b"\xff\xcd", b"\xff\xce")[
                    0 if did % 2 == 0 else (2 if did % 4 == 3 else 1)
                ]
                if want_sof not in payload:
                    raise ValueError(f"wrong differential SOF doc {did}")
                px = jpeg.jpeg_decode(payload)
                if px.shape != (h, w, 1) or not (px[:, :, 0] == arr).all():
                    raise ValueError(f"hierarchical roundtrip drift doc {did}")
                rows.append((did, w, h, int(px[0, 0, 0])))
            yield pd.DataFrame(rows, columns=["doc_id", "width", "height", "gray"])

    return ids.mapInPandas(
        gen_and_check,
        schema="doc_id long, width int, height int, gray long",
    )


@query(
    "q_multimodal_jpeg_12bit",
    oracle="""
    SELECT doc_id,
           CAST(15 + doc_id % 4 AS INT) AS width,
           CAST(9 + doc_id % 6 AS INT) AS height,
           CAST((doc_id * 17) % 4096 AS BIGINT) AS gray
    FROM documents WHERE doc_id < 200
    """,
)
def q_multimodal_jpeg_12bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 12-bit extended-sequential JPEG decode (T.81 SOF1, 16-bit
    DQT elements, wide-category Huffman tables, uint16 output).
    Uniform grayscale at quality 100 is DC-only and integer-exact
    (quant step 4 divides the DC term 8·(v−2048) exactly), so the SQL
    oracle states the 12-bit sample values directly across the full
    0..4095 range; odd dimensions sweep the pad/crop edges."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 200), max_partitions=_FIXTURE_TASKS)

    def gen_and_check(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import jpeg

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 15 + did % 4, 9 + did % 6
                v = (did * 17) % 4096
                arr = np.full((h, w), v, dtype=np.uint16)
                px = jpeg.jpeg_decode(jpeg.jpeg_encode(arr, quality=100, bits=12))
                if px.dtype != np.uint16 or px.shape != (h, w, 1) or not (px[:, :, 0] == arr).all():
                    raise ValueError(f"12-bit roundtrip drift doc {did}")
                rows.append((did, w, h, int(px[0, 0, 0])))
            yield pd.DataFrame(rows, columns=["doc_id", "width", "height", "gray"])

    return ids.mapInPandas(
        gen_and_check,
        schema="doc_id long, width int, height int, gray long",
    )


@query(
    "q_multimodal_jpeg_arithmetic",
    oracle="""
    SELECT doc_id,
           CAST(15 + doc_id % 5 AS INT) AS width,
           CAST(9 + doc_id % 7 AS INT) AS height,
           CAST((doc_id * 23) % 4096 AS BIGINT) AS gray
    FROM documents WHERE doc_id < 200
    """,
)
def q_multimodal_jpeg_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL arithmetic-coded JPEG decode (T.81 SOF9 + QM-coder,
    operators/jpeg_arith.py): 12-bit uniform grayscale at quality 100
    is DC-only and integer-exact, so the oracle states the sample
    values closed-form — the q_multimodal_jpeg_12bit pattern with the
    entropy layer swapped from Huffman to the 113-state arithmetic
    coder (DAC conditioning, FF00 stuffing, QM renormalization all on
    the decode path). The per-doc check also pins that the
    arithmetic file decodes pixel-identically to its Huffman twin."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 200), max_partitions=_FIXTURE_TASKS)

    def gen_and_check(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import jpeg

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 15 + did % 5, 9 + did % 7
                v = (did * 23) % 4096
                arr = np.full((h, w), v, dtype=np.uint16)
                ab = jpeg.jpeg_encode(arr, quality=100, bits=12, arithmetic=True)
                hb = jpeg.jpeg_encode(arr, quality=100, bits=12)
                px = jpeg.jpeg_decode(ab)
                if (
                    px.dtype != np.uint16
                    or px.shape != (h, w, 1)
                    or not (px[:, :, 0] == arr).all()
                    or not np.array_equal(px, jpeg.jpeg_decode(hb))
                ):
                    raise ValueError(f"arithmetic roundtrip drift doc {did}")
                rows.append((did, w, h, int(px[0, 0, 0])))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "gray"]
            )

    return ids.mapInPandas(
        gen_and_check,
        schema="doc_id long, width int, height int, gray long",
    )


@query(
    "q_multimodal_jpeg_arith_progressive",
    oracle="""
    SELECT doc_id,
           CAST(15 + doc_id % 5 AS INT) AS width,
           CAST(9 + doc_id % 7 AS INT) AS height,
           CAST((doc_id * 37) % 4096 AS BIGINT) AS gray,
           CAST(4 AS INT) AS n_scans
    FROM documents WHERE doc_id < 200
    """,
)
def q_multimodal_jpeg_arith_progressive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL arithmetic-coded PROGRESSIVE JPEG decode (T.81 SOF10:
    Annex G.2 successive approximation over the Annex D QM-coder —
    operators/jpeg_arith.py decode_dc_first/decode_dc_refine/
    decode_ac_first/decode_ac_refine). The encoder emits a 4-scan
    script for grayscale (DC first Al=1, DC refine, AC first Al=1, AC
    refine), so every progressive-arithmetic scan kind is on the
    decode path. Uniform 12-bit gray at quality 100 is DC-exact, so
    the oracle states the sample closed-form. n_scans counts the
    actual SOS markers in the SOF10 file. The query encodes once and
    decodes once per doc — textured-image pixel parity against the
    SOF9 / SOF2 / baseline twins (the AC first+refine spectrum paths)
    is pinned in tests/test_jpeg.py::
    test_arithmetic_progressive_sof10_roundtrip, not re-verified in
    the bench path."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 200), max_partitions=_FIXTURE_TASKS)

    def gen_and_check(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import jpeg

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 15 + did % 5, 9 + did % 7
                v = (did * 37) % 4096
                flat = np.full((h, w), v, dtype=np.uint16)
                pb = jpeg.jpeg_encode(
                    flat, quality=100, bits=12, arithmetic=True,
                    progressive=True,
                )
                if b"\xff\xca" not in pb:
                    raise ValueError(f"not SOF10 doc {did}")
                n_scans = pb.count(b"\xff\xda")
                px = jpeg.jpeg_decode(pb)
                if (
                    px.dtype != np.uint16
                    or px.shape != (h, w, 1)
                    or not (px[:, :, 0] == flat).all()
                ):
                    raise ValueError(f"SOF10 roundtrip drift doc {did}")
                rows.append((did, w, h, int(px[0, 0, 0]), n_scans))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "gray", "n_scans"],
            )

    return ids.mapInPandas(
        gen_and_check,
        schema="doc_id long, width int, height int, gray long, n_scans int",
    )


@query(
    "q_multimodal_flac_frames",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             CAST(1 + doc_id % 5 AS BIGINT) AS n_frames,
             CASE doc_id % 4 WHEN 0 THEN 192 WHEN 1 THEN 576
                             WHEN 2 THEN 1152 ELSE 4096 END AS bs,
             CASE doc_id % 3 WHEN 0 THEN 32000 WHEN 1 THEN 44100
                             ELSE 48000 END AS rate
      FROM documents WHERE doc_id < 300)
    SELECT doc_id, n_frames,
           n_frames * bs AS n_samples,
           n_frames * bs * 1000 // rate AS duration_ms,
           0 AS crc_failures, TRUE AS matches_streaminfo
    FROM p
    """,
)
def q_multimodal_flac_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level FLAC triage (operators/mediaprobe.py
    flac_frame_walk): walk CRC-8-validated frame headers — sync
    pattern, coded block size/rate fields, extended-UTF-8 frame
    numbers — over streams synthesized closed-form from doc_id, and
    cross-check the summed samples against STREAMINFO. The corrupt-
    header resynchronization path is pinned in tests/test_mediaprobe.py."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 300), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        from xetl_spark.operators import mediaprobe

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                nf = 1 + did % 5
                bs = (192, 576, 1152, 4096)[did % 4]
                rate = (32000, 44100, 48000)[did % 3]
                payload = mediaprobe.flac_build_frames(rate, 1 + did % 2, [bs] * nf)
                r = mediaprobe.flac_frame_walk(payload)
                rows.append(
                    (
                        did, r["n_frames"], r["n_samples"], r["duration_ms"],
                        r["crc_failures"], bool(r["matches_streaminfo"]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_frames", "n_samples",
                    "duration_ms", "crc_failures", "matches_streaminfo",
                ],
            )

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id long, n_frames long, n_samples long, "
            "duration_ms long, crc_failures int, matches_streaminfo boolean"
        ),
    )


@query(
    "q_url_canonicalize",
    oracle="""
    SELECT doc_id,
           concat(CASE WHEN doc_id % 3 = 2 THEN 'http' ELSE 'https' END,
                  '://',
                  CASE WHEN doc_id % 2 = 0 THEN 'www.example.com'
                       ELSE 'news.bbc.co.uk' END,
                  CASE WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END,
                  '/Docs/', doc_id, '?id=', doc_id) AS canon,
           CASE WHEN doc_id % 2 = 0 THEN 'example.com'
                ELSE 'bbc.co.uk' END AS domain
    FROM documents WHERE doc_id < 400
    """,
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL curation (the C4/CommonCrawl corpus recipe): canonicalize
    deliberately messy URLs — mixed-case scheme/host, default and
    explicit ports, tracking params (utm_*), fragments — with the pure
    Catalyst ``url_normalize`` chain, and key each to its registered
    domain (``url_registered_domain``, multi-label public-suffix
    aware). The oracle constructs the expected canonical form from
    first principles, so a hash match pins every normalization rule.

    Scale: whole-stage-codegen string expressions in the scan stage —
    no UDF, no shuffle; URL-level dedup afterwards is one groupBy on
    the canon column."""
    from xetl_spark.operators.text import url_normalize, url_registered_domain

    (docs,) = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    messy = F.concat(
        F.when(did % 3 == 0, F.lit("HTTPS"))
        .when(did % 3 == 1, F.lit("https"))
        .otherwise(F.lit("Http")),
        F.lit("://"),
        F.when(did % 2 == 0, F.lit("WWW.Example.COM")).otherwise(
            F.lit("News.BBC.co.uk")
        ),
        F.when(
            did % 4 == 0,
            F.when(did % 3 == 2, F.lit(":80")).otherwise(F.lit(":443")),
        )
        .when(did % 4 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/Docs/"),
        did.cast("string"),
        F.lit("?"),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit("utm_source=feed&id="),
                did.cast("string"),
                F.lit("&utm_campaign=Spring"),
            ),
        ).otherwise(F.concat(F.lit("id="), did.cast("string"))),
        F.when(did % 7 == 0, F.lit("#Section2")).otherwise(F.lit("")),
    )
    canon = url_normalize(messy)
    return (
        docs.where(did < 400)
        .select(
            "doc_id",
            canon.alias("canon"),
            url_registered_domain(F.parse_url(canon, F.lit("HOST"))).alias(
                "domain"
            ),
        )
    )


@query(
    "q_text_markdown_strip",
    oracle="""
    SELECT doc_id, text AS plain
    FROM documents WHERE doc_id < 400
    """,
)
def q_text_markdown_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown → plain text (README/forum corpora): each document is
    rendered INTO markdown in pure SQL — header, blockquote, bold list
    item, link, inline code, image — then stripped back with the
    Catalyst ``markdown_to_text`` chain. A hash match against the
    untouched source text pins every stripping rule. No UDF, no
    shuffle."""
    from xetl_spark.operators.text import markdown_to_text

    (docs,) = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    md = F.concat(
        F.lit("## "), F.element_at(w, 1), F.lit("\n\n"),
        F.lit("> "), F.element_at(w, 2), F.lit("\n"),
        F.lit("- **"), F.element_at(w, 3), F.lit("**\n"),
        F.lit("1. _"), F.element_at(w, 4), F.lit("_\n"),
        F.lit("["), F.element_at(w, 5), F.lit("](https://ex.com/a?b=1)\n"),
        F.lit("`"), F.element_at(w, 6), F.lit("`\n"),
        F.lit("!["), F.element_at(w, 7), F.lit("](img.png)\n"),
        F.lit("```python\n"), F.element_at(w, 8), F.lit("\n```\n"),
        F.lit("---\n"),
        F.array_join(F.slice(w, 9, F.size(w)), " "),
    )
    return (
        docs.where(F.col("doc_id") < 400)
        .select("doc_id", markdown_to_text(md).alias("plain"))
    )


@query("q_text_quality_classifier")  # P: learned weights, no SQL oracle
def q_text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the CCNet/fastText recipe):
    plant a quality signal — docs with even doc_id get 'insightful
    rigorous' markers appended, odd get 'clickbait spammy' — train the
    distributed hashed-n-gram logistic regression
    (operators/classifier.py: full-batch GD, per-iteration collect
    bounded by num_features) on doc_id < 300, score the held-out rest,
    and report each held-out doc's label guess. Property-tested in
    tests/test_classifier.py (exact numpy-reference equivalence +
    planted-signal accuracy); here the driver checks rows-only."""
    from xetl_spark.operators.classifier import (
        score_quality,
        train_quality_classifier,
    )

    (docs,) = load(spark, sf_dir, "documents")
    marked = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit(" insightful rigorous detailed"),
            ).otherwise(F.lit(" clickbait spammy garbled")),
        ).alias("text"),
        (F.col("doc_id") % 2 == 0).cast("int").alias("label"),
    )
    model = train_quality_classifier(
        marked.where(F.col("doc_id") < 300),
        "text",
        "label",
        "doc_id",
        num_features=1 << 12,
        iters=5,  # signal is strong; keeps the driver battery fast
    )
    held = marked.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    return score_quality(held, model, "text", "doc_id").select(
        F.col("id").alias("doc_id"),
        (F.col("quality_prob") >= 0.5).cast("int").alias("pred"),
    )


# ---------------------------------------------------------------------------
# Encoding repair + Unicode normalization (operators/encoding.py)
# ---------------------------------------------------------------------------

# Mojibake digraphs as Python escapes (single source of truth for the
# Spark corruption and the oracle SQL): a UTF-8-encoded char read as
# sloppy-cp1252. 'a' -> 'á' (C3 A1) and 'e' -> '€' (E2 82 AC; 0x82 is
# cp1252 U+201A).
_MOJI_A = "Ã¡"  # what a latin-1 reader shows for 'á' (C3 A1)
_MOJI_E = "â‚¬"  # what a cp1252 reader shows for '€' (E2 82 AC)


@query(
    "q_text_fix_mojibake",
    oracle=f"""
    WITH corrupt AS (
        SELECT doc_id,
               replace(replace(text, 'a', '{_MOJI_A}'), 'e', '{_MOJI_E}') AS c,
               replace(replace(text, 'a', chr(225)), 'e', chr(8364)) AS expected
        FROM documents WHERE doc_id < 400
    )
    SELECT doc_id, expected AS fixed, (c <> expected) AS was_fixed
    FROM corrupt
    """,
)
def q_text_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding repair (ftfy-style): every document is corrupted IN
    SQL the way a wrong-codec reader would ('a'→'á' then UTF-8 bytes
    re-read as sloppy-cp1252, same for '€'), then repaired with the
    Arrow-batched fix_mojibake. The oracle states the clean text
    directly — a hash match proves the fixer inverts the corruption
    exactly and (via was_fixed) touches every corrupted row and no
    clean row. Map-only at any scale (operators/encoding.py)."""
    from xetl_spark.operators.encoding import fix_mojibake

    (docs,) = load(spark, sf_dir, "documents")
    corrupt = F.replace(
        F.replace(F.col("text"), F.lit("a"), F.lit(_MOJI_A)),
        F.lit("e"),
        F.lit(_MOJI_E),
    )
    c = docs.where(F.col("doc_id") < 400).select(
        "doc_id", corrupt.alias("c")
    )
    return c.select(
        "doc_id", "c", fix_mojibake(F.col("c")).alias("fixed")
    ).select(
        "doc_id",
        "fixed",
        (~F.col("c").eqNullSafe(F.col("fixed"))).alias("was_fixed"),
    )


@query(
    "q_text_nfc_normalize",
    oracle="""
    SELECT doc_id,
           nfc_normalize(
               text || ' cafe' || chr(769) || ' man' || chr(771) ||
               'ana A' || chr(778) || 'ngstro' || chr(776) || 'm ' || chr(64257) || 'n'
           ) AS norm,
           length(nfc_normalize(
               text || ' cafe' || chr(769) || ' man' || chr(771) ||
               'ana A' || chr(778) || 'ngstro' || chr(776) || 'm ' || chr(64257) || 'n'
           )) AS n_chars
    FROM documents WHERE doc_id < 400
    """,
)
def q_text_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization: decomposed sequences (combining
    acute/tilde/ring/diaeresis) are appended to each document in SQL,
    then composed with the Arrow-batched nfc_text (Spark SQL has no
    normalizer expression). DuckDB's independent ICU ``nfc_normalize``
    is the oracle — an exact hash match cross-validates the two
    implementations, and the U+FB01 ligature is the negative control
    (NFC must leave it alone; NFKC would fold it). n_chars pins the
    composed code-point count."""
    from xetl_spark.operators.encoding import nfc_text

    (docs,) = load(spark, sf_dir, "documents")
    decomposed = F.concat(
        F.col("text"),
        # decomposed sequences (combining acute/tilde/ring/diaeresis
        # as explicit escapes) + the U+FB01 ligature negative control
        F.lit(
            " cafe\u0301 man\u0303ana A\u030angstro\u0308m \ufb01n"
        ),
    )
    return (
        docs.where(F.col("doc_id") < 400)
        .select("doc_id", nfc_text(decomposed).alias("norm"))
        .select("doc_id", "norm", F.length("norm").alias("n_chars"))
    )


@query(
    "q_text_clean_punct",
    oracle="""
    WITH messy AS (
        SELECT doc_id,
               chr(8220) || 'Q' || chr(8221) || '  ' || chr(9) || ' x' ||
               chr(160) || 'y ' || chr(13) || chr(10) || 'l2' || chr(7) ||
               'end ' || chr(8211) || ' ' || chr(8230) || ' ' || text AS m
        FROM documents WHERE doc_id < 400
    )
    SELECT doc_id,
           replace(replace(replace(replace(replace(
               trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                   m, '\\r\\n?', chr(10), 'g'),
                   '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
                   '[ \\t]+', ' ', 'g'),
                   ' +\\n', chr(10), 'g')),
               chr(8220), '"'), chr(8221), '"'),
               chr(8211), '-'), chr(160), ' '), chr(8230), '...') AS cleaned
    FROM messy
    """,
)
def q_text_clean_punct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst-side text cleanup: each document is dirtied in SQL
    (curly quotes, tab runs, NBSP, CRLF, a C0 control, en dash,
    ellipsis) and pushed through clean_text + fold_punctuation — all
    whole-stage codegen, zero Python. The oracle mirrors the spec
    rule-for-rule in DuckDB (RE2 'g' flags vs Spark's global-default
    regexp_replace), so a hash match pins every cleanup rule. The
    ellipsis fold ('…' -> '...') is covered by both sides' replace
    chains."""
    from xetl_spark.operators.encoding import clean_text, fold_punctuation

    (docs,) = load(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit(
            "\u201cQ\u201d  \t x\u00a0y \r\nl2\x07end \u2013 \u2026 "
        ),
        F.col("text"),
    )
    return docs.where(F.col("doc_id") < 400).select(
        "doc_id", fold_punctuation(clean_text(messy)).alias("cleaned")
    )


@query(
    "q_text_kn_bigram_logprob",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter({_DD_TOKENS}, x -> x <> '') AS toks
      FROM documents),
    b AS (
      SELECT doc_id, pair[1] AS w1, pair[2] AS w2
      FROM t, LATERAL (
        SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS pair
      ) p
      WHERE len(toks) >= 2),
    bf AS (SELECT doc_id, w1, w2, count(*) AS bf FROM b GROUP BY ALL),
    g12 AS (SELECT w1, w2, sum(bf) AS c12 FROM bf GROUP BY w1, w2),
    heads AS (SELECT w1, sum(c12) AS c1, count(*) AS n1p_head
              FROM g12 GROUP BY w1),
    tails AS (SELECT w2, count(*) AS n1p_tail FROM g12 GROUP BY w2),
    tot AS (SELECT count(*) AS n1p_total FROM g12)
    SELECT doc_id,
           CAST(sum(bf) AS BIGINT) AS n_bigrams,
           round(sum(bf * -ln(
               greatest(c12 - 0.75, 0.0) / c1
               + (0.75 * n1p_head / c1) * (1.0 * n1p_tail / n1p_total)
           )) / sum(bf), 6) AS avg_nll
    FROM bf JOIN g12 USING (w1, w2) JOIN heads USING (w1)
            JOIN tails USING (w2) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def q_text_kn_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (operators/text.py
    kn_bigram_logprob): the smoothing real n-gram LMs use —
    absolute discount + continuation-count backoff — as a perplexity
    filter, exactly mirrored in SQL (same discount 0.75)."""
    from xetl_spark.operators.text import kn_bigram_logprob

    (docs,) = load(spark, sf_dir, "documents")
    out = kn_bigram_logprob(docs, "text", "doc_id")
    return out.select(
        F.col("doc").alias("doc_id"),
        "n_bigrams",
        F.round("avg_nll", 6).alias("avg_nll"),
    )


@query(
    "q_text_perplexity_buckets",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter({_DD_TOKENS}, x -> x <> '') AS toks
      FROM documents),
    b AS (
      SELECT doc_id, pair[1] AS w1, pair[2] AS w2
      FROM t, LATERAL (
        SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS pair
      ) p
      WHERE len(toks) >= 2),
    bf AS (SELECT doc_id, w1, w2, count(*) AS bf FROM b GROUP BY ALL),
    g12 AS (SELECT w1, w2, sum(bf) AS c12 FROM bf GROUP BY w1, w2),
    heads AS (SELECT w1, sum(c12) AS c1, count(*) AS n1p_head
              FROM g12 GROUP BY w1),
    tails AS (SELECT w2, count(*) AS n1p_tail FROM g12 GROUP BY w2),
    tot AS (SELECT count(*) AS n1p_total FROM g12),
    scored AS (
      SELECT doc_id,
             CAST(sum(bf) AS BIGINT) AS n_bigrams,
             round(sum(bf * -ln(
                 greatest(c12 - 0.75, 0.0) / c1
                 + (0.75 * n1p_head / c1) * (1.0 * n1p_tail / n1p_total)
             )) / sum(bf), 6) AS avg_nll
      FROM bf JOIN g12 USING (w1, w2) JOIN heads USING (w1)
              JOIN tails USING (w2) CROSS JOIN tot
      GROUP BY doc_id),
    th AS (
      SELECT (array_agg(avg_nll ORDER BY avg_nll))
                 [greatest(CAST(ceil(count(*) / 3.0) AS INT), 1)] AS t1,
             (array_agg(avg_nll ORDER BY avg_nll))
                 [greatest(CAST(ceil(count(*) * 2.0 / 3.0) AS INT), 1)] AS t2
      FROM scored)
    SELECT doc_id, n_bigrams, avg_nll,
           CASE WHEN avg_nll <= t1 THEN 'head'
                WHEN avg_nll <= t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored CROSS JOIN th
    """,
)
def q_text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity split (operators/text.py perplexity_buckets):
    Kneser-Ney-scored docs bucketed head/middle/tail at the 1/3 and
    2/3 DISCRETE order statistics of 6dp-rounded avg_nll — no
    quantile interpolation, so both engines bucket off the identical
    data value and the assignment hash-matches exactly."""
    from xetl_spark.operators.text import perplexity_buckets

    (docs,) = load(spark, sf_dir, "documents")
    out = perplexity_buckets(docs, "text", "doc_id", round_dp=6)
    return out.select(
        F.col("doc").alias("doc_id"),
        "n_bigrams",
        F.round("avg_nll", 6).alias("avg_nll"),
        "bucket",
    )


@query(
    "q_text_kn_sampled_fit",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter({_DD_TOKENS}, x -> x <> '') AS toks
      FROM documents),
    b AS (
      SELECT doc_id, pair[1] AS w1, pair[2] AS w2
      FROM t, LATERAL (
        SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS pair
      ) p
      WHERE len(toks) >= 2),
    bf AS (SELECT doc_id, w1, w2, count(*) AS bf FROM b GROUP BY ALL),
    fit AS (SELECT * FROM bf WHERE doc_id % 10 = 0),
    g12 AS (SELECT w1, w2, sum(bf) AS c12 FROM fit GROUP BY w1, w2),
    heads AS (SELECT w1, sum(c12) AS c1, count(*) AS n1p_head
              FROM g12 GROUP BY w1),
    tails AS (SELECT w2, count(*) AS n1p_tail FROM g12 GROUP BY w2),
    tot AS (SELECT count(*) AS n1p_total FROM g12)
    SELECT doc_id,
           CAST(sum(bf) AS BIGINT) AS n_bigrams,
           round(sum(bf * -ln(
               CASE WHEN c1 IS NULL
                    THEN coalesce(n1p_tail, 0.5) / n1p_total
                    ELSE greatest(coalesce(c12, 0) - 0.75, 0.0) / c1
                         + (0.75 * n1p_head / c1)
                           * (coalesce(n1p_tail, 0.5) / n1p_total)
               END
           )) / sum(bf), 6) AS avg_nll
    FROM bf LEFT JOIN g12 USING (w1, w2) LEFT JOIN heads USING (w1)
            LEFT JOIN tails USING (w2) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def q_text_kn_sampled_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's ACTUAL fit/score split (round 11, operators/text.py
    kn_bigram_logprob fit_df): the Kneser-Ney model is fit on a
    bounded reference subset (here doc_id % 10 = 0, 10% of the
    corpus, SQL-expressible so the oracle replays it exactly) while
    EVERY document is scored against the broadcast-sized model —
    unseen heads back off to the continuation probability, unseen
    tails to half the minimal continuation mass, both replicated in
    the DuckDB oracle via LEFT JOIN + the same CASE. At 100 TB this
    is the shape that matters: the model aggregations scale with the
    fit sample, the scoring joins broadcast, and the corpus-sized
    exchange is only the per-doc aggregation."""
    from xetl_spark.operators.text import kn_bigram_logprob

    (docs,) = load(spark, sf_dir, "documents")
    fit = docs.filter(F.col("doc_id") % 10 == 0)
    out = kn_bigram_logprob(docs, "text", "doc_id", fit_df=fit)
    return out.select(
        F.col("doc").alias("doc_id"),
        "n_bigrams",
        F.round("avg_nll", 6).alias("avg_nll"),
    )


@query(
    "q_text_script_profile",
    oracle="""
    WITH mixed AS (
        SELECT doc_id,
               text || repeat(' ' || chr(1055) || chr(1088) || chr(1080) ||
                              chr(1074) || chr(1077) || chr(1090),
                              CAST(doc_id % 3 AS INT))
                    || repeat(' ' || chr(20320) || chr(22909),
                              CAST(doc_id % 4 AS INT))
                    || CASE WHEN doc_id % 5 = 0
                            THEN ' ' || chr(1605) || chr(1585) || chr(1581) ||
                                 chr(1576) || chr(1575) || ' 42'
                            ELSE '' END AS t
        FROM documents WHERE doc_id < 400
    )
    SELECT doc_id,
           CAST(length(regexp_replace(t, '[^\\p{Latin}]', '', 'g')) AS INT) AS latin_chars,
           CAST(length(regexp_replace(t, '[^\\p{Cyrillic}]', '', 'g')) AS INT) AS cyrillic_chars,
           CAST(length(regexp_replace(t, '[^\\p{Han}]', '', 'g')) AS INT) AS han_chars,
           CAST(length(regexp_replace(t, '[^\\p{Arabic}]', '', 'g')) AS INT) AS arabic_chars,
           CAST(length(regexp_replace(t, '[^0-9]', '', 'g')) AS INT) AS digit_chars,
           CAST(length(regexp_replace(t, '\\s', '', 'g')) AS INT) AS nonspace_chars
    FROM mixed
    """,
)
def q_text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script routing profile (operators/text.py
    script_char_counts): per-doc character counts for Latin /
    Cyrillic / Han / Arabic scripts + digits over documents made
    multilingual IN SQL (per-doc-varying Russian/Chinese/Arabic
    snippets). Java \\p{IsScript} vs RE2 \\p{Script} cross-engine
    agreement is exactly what the integer hash match certifies.
    Whole-stage codegen, zero shuffles."""
    from xetl_spark.operators.text import script_char_counts

    (docs,) = load(spark, sf_dir, "documents")
    mixed = F.concat(
        F.col("text"),
        F.repeat(
            F.lit(" Привет"),
            (F.col("doc_id") % 3).cast("int"),
        ),
        F.repeat(
            F.lit(" 你好"), (F.col("doc_id") % 4).cast("int")
        ),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit(" مرحبا 42"),
        ).otherwise(F.lit("")),
    )
    return (
        docs.where(F.col("doc_id") < 400)
        .select("doc_id", script_char_counts(mixed).alias("s"))
        .select("doc_id", "s.*")
    )


@query(
    "q_text_readability",
    oracle="""
    SELECT doc_id,
           CAST(greatest(len(list_filter(
               string_split_regex(trim(regexp_replace(lower(text),
                   '[^a-z0-9\\s]', ' ', 'g')), '\\s+'), x -> x <> '')), 1)
               AS INT) AS n_words,
           CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS INT)
               AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INT)
               AS vowel_groups,
           round(206.835::DOUBLE
                 - 1.015::DOUBLE * (CAST(greatest(len(list_filter(
                       string_split_regex(trim(regexp_replace(lower(text),
                           '[^a-z0-9\\s]', ' ', 'g')), '\\s+'),
                       x -> x <> '')), 1) AS DOUBLE)
                     / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
                 - 84.6::DOUBLE * (CAST(len(regexp_extract_all(lower(text),
                       '[aeiouy]+')) AS DOUBLE)
                     / greatest(len(list_filter(
                       string_split_regex(trim(regexp_replace(lower(text),
                           '[^a-z0-9\\s]', ' ', 'g')), '\\s+'),
                       x -> x <> '')), 1)), 4) AS flesch
    FROM documents WHERE doc_id < 400
    """,
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease (operators/text.py flesch_reading_ease)
    with the exactly-reproducible vowel-group syllable heuristic —
    integer word/sentence/syllable counts plus the standard formula,
    mirrored term-for-term in the oracle. Whole-stage codegen, no
    UDF, zero shuffles."""
    from xetl_spark.operators.text import (
        flesch_reading_ease,
        token_count,
    )

    (docs,) = load(spark, sf_dir, "documents")
    return docs.where(F.col("doc_id") < 400).select(
        "doc_id",
        F.greatest(token_count("text"), F.lit(1)).alias("n_words"),
        F.greatest(
            F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1)
        ).alias("n_sentences"),
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).alias(
            "vowel_groups"
        ),
        F.round(flesch_reading_ease("text"), 4).alias("flesch"),
    )


@query(
    "q_text_char_entropy",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
    c AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch
        FROM d WHERE length(text) > 0
    ),
    h AS (SELECT doc_id, ch, count(*) AS cnt FROM c GROUP BY ALL),
    e AS (SELECT doc_id,
                 CAST(sum(cnt) AS INT) AS n_chars,
                 round(ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt), 6)
                     AS entropy
          FROM h GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(e.n_chars, 0) AS n_chars,
           coalesce(e.entropy, 0.0) AS entropy
    FROM d LEFT JOIN e ON d.doc_id = e.doc_id
    """,
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy (operators/text.py
    char_entropy): the garbled-text gate, computed shuffle-free via
    sorted run-length encoding inside each document's row; the oracle
    recomputes it the histogram way (unnest + GROUP BY) — agreement
    certifies the run-length identity Σ nᵢ over runs ≡ histogram."""
    from xetl_spark.operators.text import char_entropy

    (docs,) = load(spark, sf_dir, "documents")
    out = char_entropy(docs.where(F.col("doc_id") < 400), "text")
    return out.select(
        "doc_id",
        "n_chars",
        F.round("entropy", 6).alias("entropy"),
    )


@query("q_text_fuzzy_decontaminate")  # P: MinHash/xxhash — no SQL oracle
def q_text_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination (operators/dedup.py
    fuzzy_decontaminate): an eval set is planted IN SQL as light
    mutations of every 10th document (a few appended tokens — above
    the 0.8 jaccard bar by construction), then every corpus document
    near-duplicating ANY eval row is flagged via the banded
    corpus×eval MinHash join (eval side broadcast; the corpus never
    self-joins and never shuffles). Planted recall and clean-doc
    precision are property-tested in tests/test_llm_ops.py; the
    driver checks rows-only here (hash universe is xxhash64)."""
    from xetl_spark.operators.dedup import fuzzy_decontaminate

    (docs,) = load(spark, sf_dir, "documents")
    evalset = (
        docs.where((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 200))
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" benchmark eval suffix marker")
            ).alias("text"),
        )
    )
    out = fuzzy_decontaminate(docs, evalset, "text", "doc_id")
    return out.select(
        "doc", "eval_doc", F.round("jaccard", 4).alias("jaccard")
    )


@query(
    "q_multimodal_mp4_samples",
    oracle="""
    WITH p AS (
      SELECT doc_id AS did,
             3 + doc_id % 5 AS nv,
             2 + doc_id % 4 AS na
      FROM documents WHERE doc_id < 160),
    vid_i AS (
      SELECT did, nv, i.i AS i,
             10 + (did * 3 + i.i * 7) % 40 AS size,
             20 + (did + i.i) % 10       AS delta,
             (i.i % 3) * 10              AS cof
      FROM p JOIN range(7) i(i) ON i.i < nv),
    vid_bytes AS (
      SELECT did, i, SUM((did * 31 + i * 17 + j.j * 13) % 251) AS bsum
      FROM vid_i JOIN range(50) j(j) ON j.j < size GROUP BY did, i),
    vid_dts AS (
      SELECT a.did, a.i, COALESCE(SUM(b.delta), 0) AS dts
      FROM vid_i a LEFT JOIN vid_i b ON b.did = a.did AND b.i < a.i
      GROUP BY a.did, a.i),
    video AS (
      SELECT v.did AS doc_id, 'vide' AS handler,
             CAST(MAX(v.nv) AS BIGINT)                 AS n_samples,
             CAST(SUM(v.size) AS BIGINT)               AS total_bytes,
             CAST(SUM(vb.bsum) AS BIGINT)              AS payload_sum,
             CAST(SUM(vd.dts) AS BIGINT)               AS dts_sum,
             CAST(SUM(vd.dts + v.cof) AS BIGINT)       AS pts_sum,
             CAST(SUM(CASE WHEN v.i % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                       AS n_sync
      FROM vid_i v
      JOIN vid_bytes vb ON vb.did = v.did AND vb.i = v.i
      JOIN vid_dts  vd ON vd.did = v.did AND vd.i = v.i
      GROUP BY v.did),
    aud_i AS (
      SELECT did, na, i.i AS i,
             6 + (did + i.i * 5) % 20 AS size
      FROM p JOIN range(5) i(i) ON i.i < na),
    aud_bytes AS (
      SELECT did, i, SUM((did * 7 + i * 29 + j.j * 3) % 251) AS bsum
      FROM aud_i JOIN range(26) j(j) ON j.j < size GROUP BY did, i),
    audio AS (
      SELECT a.did AS doc_id, 'soun' AS handler,
             CAST(MAX(a.na) AS BIGINT)            AS n_samples,
             CAST(SUM(a.size) AS BIGINT)          AS total_bytes,
             CAST(SUM(ab.bsum) AS BIGINT)         AS payload_sum,
             CAST(SUM(a.i * 1024) AS BIGINT)      AS dts_sum,
             CAST(SUM(a.i * 1024) AS BIGINT)      AS pts_sum,
             CAST(MAX(a.na) AS BIGINT)            AS n_sync
      FROM aud_i a
      JOIN aud_bytes ab ON ab.did = a.did AND ab.i = a.i
      GROUP BY a.did)
    SELECT * FROM video UNION ALL SELECT * FROM audio
    """,
)
def q_multimodal_mp4_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF demux under the driver's hash gate: synthesizes a
    two-track MP4 per document (interleaved video+audio chunks, stsc
    2-then-3 chunk runs, stts run-length deltas, ctts composition
    offsets, stss sync table), re-extracts every sample byte-exactly
    via operators/mediaprobe.mp4_samples — the stbl walk a 100 TB
    video-curation pass runs before any codec work — and emits
    per-track aggregates (sample count, byte totals, payload sums,
    DTS/PTS sums, sync count) that the SQL oracle recomputes
    analytically. One wrong chunk offset, stsc run, or ctts expansion
    anywhere breaks the hash. Scale shape: map-only per document
    (Arrow-batched mapInPandas), O(sample tables) metadata walk +
    O(mdat) slicing, no shuffle beyond the final per-doc rows."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 160), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        from xetl_spark.operators.mediaprobe import (
            mp4_build_tracks,
            mp4_samples,
        )

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                nv, na = 3 + did % 5, 2 + did % 4
                vid = [
                    bytes(
                        (did * 31 + i * 17 + j * 13) % 251
                        for j in range(10 + (did * 3 + i * 7) % 40)
                    )
                    for i in range(nv)
                ]
                aud = [
                    bytes(
                        (did * 7 + i * 29 + j * 3) % 251
                        for j in range(6 + (did + i * 5) % 20)
                    )
                    for i in range(na)
                ]
                payload = mp4_build_tracks(
                    [
                        {
                            "handler": "vide", "codec": "mp4v",
                            "timescale": 600, "samples": vid,
                            "deltas": [20 + (did + i) % 10 for i in range(nv)],
                            "ctts": [(i % 3) * 10 for i in range(nv)],
                            "sync": [i + 1 for i in range(nv) if i % 3 == 0],
                            "width": 64, "height": 48,
                        },
                        {
                            "handler": "soun", "codec": "mp4a",
                            "timescale": 16000, "samples": aud,
                            "deltas": [1024] * na,
                        },
                    ]
                )
                agg: dict[str, list] = {}
                for s in mp4_samples(payload)["samples"]:
                    a = agg.setdefault(s["handler"], [0, 0, 0, 0, 0, 0])
                    a[0] += 1
                    a[1] += s["size"]
                    a[2] += sum(s["data"])
                    a[3] += s["dts"]
                    a[4] += s["pts"]
                    a[5] += 1 if s["sync"] else 0
                for handler, a in agg.items():
                    rows.append((did, handler, *a))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "handler", "n_samples", "total_bytes",
                    "payload_sum", "dts_sum", "pts_sum", "n_sync",
                ],
            )

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id long, handler string, n_samples long, "
            "total_bytes long, payload_sum long, dts_sum long, "
            "pts_sum long, n_sync long"
        ),
    )


@query(
    "q_multimodal_vp8_quality",
    oracle="""
    SELECT doc_id,
           CAST(16 + doc_id % 48 AS INT)                    AS width,
           CAST(16 + (doc_id * 3) % 32 AS INT)              AS height,
           CAST(doc_id % 128 AS INT)                        AS y_ac_qi,
           CAST(round(100 - (doc_id % 128) * 100.0 / 127) AS INT) AS quality,
           CAST((doc_id * 3) % 64 AS INT)                   AS filter_level,
           CAST(doc_id % 8 AS INT)                          AS sharpness,
           CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                WHEN 2 THEN 4 ELSE 8 END AS INT)            AS n_token_partitions,
           CAST(doc_id % 50 AS BIGINT)                      AS token_bytes,
           doc_id % 3 = 0                                   AS segmented,
           CASE WHEN doc_id % 3 = 0
                THEN CAST((doc_id % 16) - 8 AS INT) END     AS seg_q0
    FROM documents WHERE doc_id < 200
    """,
)
def q_multimodal_vp8_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy-WebP quality curation under the driver's hash gate: wraps
    a spec-exact RFC 6386 VP8 key-frame header (real boolean-coder
    output — segmentation, loop filter, token partition table, full
    quantizer block) per document in a WebP container, deep-probes it
    back through webp_lossy_header/vp8_header_probe, and emits the
    quantizer-derived quality signal a Common Crawl image sweep would
    rank and threshold on — all without macroblock decode (the honest
    pixel-decode boundary is documented in operators/vp8.py). One
    wrong boolean-coder bit or mis-ordered header field anywhere
    breaks the hash. Scale shape: map-only per document, O(header
    bytes) per image."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 200), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        from xetl_spark.operators.vp8 import (
            vp8_header_build,
            vp8_quality_estimate,
        )
        from xetl_spark.operators.webp import webp_lossy_header, webp_wrap_vp8

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                segs = (
                    [(did % 16) - 8, None, 5, -5] if did % 3 == 0 else None
                )
                payload = webp_wrap_vp8(
                    vp8_header_build(
                        16 + did % 48,
                        16 + (did * 3) % 32,
                        y_ac_qi=did % 128,
                        filter_level=(did * 3) % 64,
                        sharpness=did % 8,
                        segments=segs,
                        n_token_partitions=(1, 2, 4, 8)[did % 4],
                        token_data=bytes((did + j) % 251 for j in range(did % 50)),
                    )
                )
                h = webp_lossy_header(payload)
                seg = h["segmentation"]
                rows.append(
                    (
                        did,
                        h["width"],
                        h["height"],
                        h["quant"]["y_ac_qi"],
                        vp8_quality_estimate(h),
                        h["loop_filter"]["level"],
                        h["loop_filter"]["sharpness"],
                        h["n_token_partitions"],
                        sum(h["token_partition_sizes"]),
                        seg["enabled"],
                        seg["quantizer_deltas"][0] if seg["enabled"] else None,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "y_ac_qi", "quality",
                    "filter_level", "sharpness", "n_token_partitions",
                    "token_bytes", "segmented", "seg_q0",
                ],
            )

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id long, width int, height int, y_ac_qi int, "
            "quality int, filter_level int, sharpness int, "
            "n_token_partitions int, token_bytes long, "
            "segmented boolean, seg_q0 int"
        ),
    )


@query(
    "q_multimodal_mp4_mjpeg_frames",
    oracle="""
    WITH p AS (
      SELECT doc_id AS did, 2 + doc_id % 4 AS nv
      FROM documents WHERE doc_id < 120)
    SELECT did AS doc_id,
           CAST(i.i AS INT)                         AS frame_idx,
           CAST(i.i * 100 AS BIGINT)                AS frame_ts_ms,
           CAST((did * 5 + i.i * 40) % 256 AS INT)  AS val
    FROM p JOIN range(6) i(i) ON i.i < nv
    """,
)
def q_multimodal_mp4_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motion-JPEG-in-MP4 end to end under the driver's hash gate:
    builds a per-document ISO-BMFF container whose video track is
    'jpeg' (each sample a complete LOSSLESS JPEG — exact pixels, so
    the oracle is analytic), drives the generic sample_frames operator
    (decode_stub=False) through the stbl walk + per-sample jpeg_decode
    + PNG frame emission at stts-derived timestamps, then reads each
    frame's pixel value back out of the PNG. Exercises the full
    demux→decode→frame-sampling pipeline a video-curation pass runs.
    Scale: two Arrow-batched map stages, no shuffle."""
    from collections.abc import Iterator as _It

    from xetl_spark.operators.multimodal import sample_frames

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 120), max_partitions=_FIXTURE_TASKS)

    def build(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import jpeg
        from xetl_spark.operators.mediaprobe import mp4_build_tracks

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                nv = 2 + did % 4
                samples = [
                    jpeg.jpeg_lossless_encode(
                        np.full((8, 8, 3), (did * 5 + i * 40) % 256, np.uint8)
                    )
                    for i in range(nv)
                ]
                rows.append(
                    (
                        did,
                        mp4_build_tracks(
                            [
                                {
                                    "handler": "vide", "codec": "jpeg",
                                    "timescale": 1000, "samples": samples,
                                    "deltas": [100] * nv,
                                    "width": 8, "height": 8,
                                }
                            ]
                        ),
                    )
                )
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    media = ids.mapInPandas(build, schema="doc_id long, media binary")
    frames = sample_frames(
        media, every_ms=100, max_frames=8, decode_stub=False
    )

    def vals(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        from xetl_spark.operators.imaging import png_decode

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                px = png_decode(bytes(row["frame"]))
                rows.append(
                    (
                        int(row["id"]),
                        int(row["frame_idx"]),
                        int(row["frame_ts_ms"]),
                        int(px[0, 0, 0]),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_ts_ms", "val"]
            )

    return frames.mapInPandas(
        vals,
        schema="doc_id long, frame_idx int, frame_ts_ms long, val int",
    )


@query(
    "q_multimodal_mp4_audio",
    oracle="""
    WITH p AS (
      SELECT doc_id AS did, 800 + doc_id % 200 AS n
      FROM documents WHERE doc_id < 120),
    b AS (
      SELECT did, n, xor((did * 13 + j.j * 7) % 256, 255) AS x
      FROM p JOIN range(1000) j(j) ON j.j < n),
    v AS (
      SELECT did, n,
             CASE WHEN (x & 128) > 0
                  THEN 132 - ((((x & 15) << 3) + 132) << ((x & 112) >> 4))
                  ELSE ((((x & 15) << 3) + 132) << ((x & 112) >> 4)) - 132
             END AS s
      FROM b)
    SELECT did AS doc_id,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(8000 AS INT)      AS sample_rate,
           CAST(SUM(s) AS BIGINT) AS pcm_sum
    FROM v GROUP BY did
    """,
)
def q_multimodal_mp4_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QuickTime G.711 audio in MP4 under the driver's hash gate: a
    'ulaw' audio track whose sample bytes are a closed form of doc_id,
    chunk-split across the stbl layout, decoded back through the
    generic decode_audio dispatcher (container walk + exact ITU G.711
    expansion). The SQL oracle replays the same mu-law expansion in
    integer bit arithmetic. Scale: map-only per document."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 120), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators.audio import decode_audio
        from xetl_spark.operators.mediaprobe import mp4_build_tracks

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 800 + did % 200
                raw = bytes((did * 13 + j * 7) % 256 for j in range(n))
                chunk = 250
                samples = [raw[i : i + chunk] for i in range(0, n, chunk)]
                payload = mp4_build_tracks(
                    [
                        {
                            "handler": "soun", "codec": "ulaw",
                            "timescale": 8000, "samples": samples,
                            "deltas": [len(s) for s in samples],
                            "channels": 1,
                        }
                    ]
                )
                pcm, rate = decode_audio(payload)
                rows.append(
                    (did, pcm.shape[0], rate, int(pcm.astype(np.int64).sum()))
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_samples", "sample_rate", "pcm_sum"]
            )

    return ids.mapInPandas(
        gen,
        schema="doc_id long, n_samples long, sample_rate int, pcm_sum long",
    )


@query(
    "q_multimodal_webp_alpha",
    oracle="""
    WITH p AS (
      SELECT doc_id AS did,
             5 + doc_id % 6 AS w,
             4 + doc_id % 5 AS h
      FROM documents WHERE doc_id < 160)
    SELECT did AS doc_id,
           CAST(MAX(w) AS INT)                  AS width,
           CAST(MAX(h) AS INT)                  AS height,
           CAST(did % 4 AS INT)                 AS filter_method,
           CAST(did % 2 AS INT)                 AS compression,
           CAST((did * 7) % 128 AS INT)         AS y_ac_qi,
           CAST(SUM((did * 3 + x.x * 5 + y.y * 11) % 256) AS BIGINT)
                                                AS alpha_sum
    FROM p
    JOIN range(11) x(x) ON x.x < w
    JOIN range(9)  y(y) ON y.y < h
    GROUP BY did
    """,
)
def q_multimodal_webp_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy-WebP TRANSPARENCY decode under the driver's hash gate:
    builds a VP8X container per document (ALPH chunk cycling all four
    alpha filters x raw/VP8L compression, plus a spec-exact VP8 frame
    header), decodes the alpha plane back through webp_alpha_plane —
    headerless VP8L image-stream or raw bytes, then the inverse filter
    pass — and emits exact plane sums. Transparency statistics are a
    standard image-curation signal (icon/overlay detection) and don't
    need the RGB macroblocks (the documented VP8 pixel boundary).
    Scale: map-only per document."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 160), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators.webp import (
            webp_alpha_plane,
            webp_build_lossy_alpha,
            webp_lossy_header,
        )

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 5 + did % 6, 4 + did % 5
                y, x = np.mgrid[0:h, 0:w]
                alpha = ((did * 3 + x * 5 + y * 11) % 256).astype(np.uint8)
                payload = webp_build_lossy_alpha(
                    alpha,
                    method=did % 4,
                    compression=did % 2,
                    y_ac_qi=(did * 7) % 128,
                )
                plane = webp_alpha_plane(payload)
                hdr = webp_lossy_header(payload)
                rows.append(
                    (
                        did,
                        plane.shape[1],
                        plane.shape[0],
                        did % 4,
                        did % 2,
                        hdr["quant"]["y_ac_qi"],
                        int(plane.astype(np.int64).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "filter_method",
                    "compression", "y_ac_qi", "alpha_sum",
                ],
            )

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id long, width int, height int, filter_method int, "
            "compression int, y_ac_qi int, alpha_sum long"
        ),
    )


@query(
    "q_multimodal_mp4_fragmented",
    oracle="""
    WITH p AS (
      SELECT doc_id AS did, 2 + doc_id % 2 AS nf
      FROM documents WHERE doc_id < 140),
    vs AS (  -- video samples: fragment f, local sample i
      SELECT did, nf, f.f AS f, i.i AS i,
             8 + (did + f.f * 5 + i.i * 3) % 24   AS size,
             40 + (did + f.f + i.i) % 20          AS dur,
             ((i.i + f.f) % 3) * 5                AS cof
      FROM p
      JOIN range(3) f(f) ON f.f < nf
      JOIN range(3) i(i) ON i.i < 1 + (did + f.f) % 3),
    vb AS (
      SELECT did, f, i, SUM((did * 17 + f * 29 + i * 11 + j.j * 7) % 251) AS bsum
      FROM vs JOIN range(32) j(j) ON j.j < size GROUP BY did, f, i),
    vd AS (  -- dts = sum of durations of lexicographically earlier samples
      SELECT a.did, a.f, a.i, COALESCE(SUM(b.dur), 0) AS dts
      FROM vs a LEFT JOIN vs b
        ON b.did = a.did AND (b.f < a.f OR (b.f = a.f AND b.i < a.i))
      GROUP BY a.did, a.f, a.i),
    video AS (
      SELECT v.did AS doc_id, 'vide' AS handler,
             CAST(COUNT(*) AS BIGINT)                AS n_samples,
             CAST(SUM(v.size) AS BIGINT)             AS total_bytes,
             CAST(SUM(vb.bsum) AS BIGINT)            AS payload_sum,
             CAST(SUM(vd.dts) AS BIGINT)             AS dts_sum,
             CAST(SUM(vd.dts + v.cof) AS BIGINT)     AS pts_sum,
             CAST(SUM(CASE WHEN v.i = 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                     AS n_sync
      FROM vs v
      JOIN vb ON vb.did = v.did AND vb.f = v.f AND vb.i = v.i
      JOIN vd ON vd.did = v.did AND vd.f = v.f AND vd.i = v.i
      GROUP BY v.did),
    asamp AS (
      SELECT did, nf, f.f AS f, i.i AS i,
             20 + (did + f.f * 3 + i.i * 7) % 30 AS size
      FROM p JOIN range(3) f(f) ON f.f < nf
      JOIN range(2) i(i) ON true),
    ab AS (
      SELECT did, f, i, SUM((did * 13 + f * 19 + i * 23 + j.j * 5) % 251) AS bsum
      FROM asamp JOIN range(50) j(j) ON j.j < size GROUP BY did, f, i),
    audio AS (
      SELECT a.did AS doc_id, 'soun' AS handler,
             CAST(COUNT(*) AS BIGINT)        AS n_samples,
             CAST(SUM(a.size) AS BIGINT)     AS total_bytes,
             CAST(SUM(ab.bsum) AS BIGINT)    AS payload_sum,
             CAST(SUM((a.f * 2 + a.i) * 1024) AS BIGINT) AS dts_sum,
             CAST(SUM((a.f * 2 + a.i) * 1024) AS BIGINT) AS pts_sum,
             CAST(COUNT(*) AS BIGINT)        AS n_sync
      FROM asamp a
      JOIN ab ON ab.did = a.did AND ab.f = a.f AND ab.i = a.i
      GROUP BY a.did)
    SELECT * FROM video UNION ALL SELECT * FROM audio
    """,
)
def q_multimodal_mp4_fragmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragmented MP4 (fMP4/CMAF — the DASH/HLS streaming layout)
    under the driver's hash gate: per document, a two-track fragmented
    container (moov carries only metadata + mvex/trex defaults; every
    sample lives in moof[tfhd/tfdt/trun]+mdat fragments with
    moof-relative data offsets, per-sample durations/sizes/flags,
    signed ctts offsets, first-of-fragment sync marking), re-extracted
    through the same mp4_samples walk the progressive layout uses.
    Per-track aggregates (counts, byte totals, payload sums, DTS/PTS
    sums from tfdt+trun accumulation, sync counts) recomputed
    analytically by the oracle. Scale shape: map-only per document."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 140), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        from xetl_spark.operators.mediaprobe import (
            mp4_build_fragmented,
            mp4_samples,
        )

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                nf = 2 + did % 2
                vfrags = []
                afrags = []
                for f in range(nf):
                    ns = 1 + (did + f) % 3
                    vfrags.append(
                        {
                            "samples": [
                                bytes(
                                    (did * 17 + f * 29 + i * 11 + j * 7) % 251
                                    for j in range(8 + (did + f * 5 + i * 3) % 24)
                                )
                                for i in range(ns)
                            ],
                            "durations": [
                                40 + (did + f + i) % 20 for i in range(ns)
                            ],
                            "ctts": [((i + f) % 3) * 5 for i in range(ns)],
                            "sync": {1},
                        }
                    )
                    afrags.append(
                        {
                            "samples": [
                                bytes(
                                    (did * 13 + f * 19 + i * 23 + j * 5) % 251
                                    for j in range(20 + (did + f * 3 + i * 7) % 30)
                                )
                                for i in range(2)
                            ],
                            "durations": [1024, 1024],
                        }
                    )
                payload = mp4_build_fragmented(
                    [
                        {
                            "handler": "vide", "codec": "avc1",
                            "timescale": 600, "width": 32, "height": 24,
                            "fragments": vfrags,
                        },
                        {
                            "handler": "soun", "codec": "ulaw",
                            "timescale": 16000, "channels": 1,
                            "fragments": afrags,
                        },
                    ]
                )
                agg: dict[str, list] = {}
                for s in mp4_samples(payload)["samples"]:
                    a = agg.setdefault(s["handler"], [0, 0, 0, 0, 0, 0])
                    a[0] += 1
                    a[1] += s["size"]
                    a[2] += sum(s["data"])
                    a[3] += s["dts"]
                    a[4] += s["pts"]
                    a[5] += 1 if s["sync"] else 0
                for handler, a in agg.items():
                    rows.append((did, handler, *a))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "handler", "n_samples", "total_bytes",
                    "payload_sum", "dts_sum", "pts_sum", "n_sync",
                ],
            )

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id long, handler string, n_samples long, "
            "total_bytes long, payload_sum long, dts_sum long, "
            "pts_sum long, n_sync long"
        ),
    )


@query(
    "q_multimodal_webm_probe",
    oracle="""
    SELECT doc_id,
           CAST(160 + doc_id % 32 AS INT)       AS width,
           CAST(120 + (doc_id * 3) % 24 AS INT) AS height,
           CAST((doc_id * 11) % 128 AS INT)     AS y_ac_qi,
           CAST(48000 AS INT)                   AS sample_rate,
           CAST(1 + doc_id % 2 AS INT)          AS channels,
           CAST((3 + doc_id % 4) * 40 AS BIGINT) AS duration_ms,
           CAST(2 * (3 + doc_id % 4) AS BIGINT) AS n_blocks,
           CAST((3 + doc_id % 4 + 1) // 2 AS BIGINT) AS n_clusters,
           CAST(3 + doc_id % 4 AS BIGINT)       AS video_frames
    FROM documents WHERE doc_id < 150
    """,
)
def q_multimodal_webm_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebM/Matroska triage under the driver's hash gate: per document
    a two-track WebM (V_VP8 video whose first keyframe is a real
    boolean-coded VP8 header, A_OPUS audio) with interleaved
    SimpleBlocks across clusters, parsed back through the EBML walk —
    doctype, duration from TimecodeScale×Duration, track params,
    cluster/block/frame counts, and the VP8 quantizer surfaced from
    the first keyframe. One wrong vint length or element ID anywhere
    breaks the hash. Scale shape: map-only per document, O(structure)
    per payload."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 150), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        from xetl_spark.operators.vp8 import vp8_header_build
        from xetl_spark.operators.webm import webm_build, webm_probe

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 160 + did % 32, 120 + (did * 3) % 24
                nv = 3 + did % 4
                key = vp8_header_build(w, h, y_ac_qi=(did * 11) % 128)
                blocks = []
                for i in range(nv):
                    blocks.append(
                        (1, i * 40, i == 0,
                         key if i == 0 else bytes([i]) * (5 + i))
                    )
                    blocks.append((2, i * 40, True, bytes([i * 3]) * 4))
                payload = webm_build(
                    [
                        {"number": 1, "type": "video", "codec": "V_VP8",
                         "width": w, "height": h},
                        {"number": 2, "type": "audio", "codec": "A_OPUS",
                         "sample_rate": 48000.0, "channels": 1 + did % 2},
                    ],
                    blocks,
                    duration_ms=float(nv * 40),
                )
                p = webm_probe(payload)
                vid = p["tracks"][1]
                aud = p["tracks"][2]
                rows.append(
                    (
                        did,
                        vid["width"],
                        vid["height"],
                        p["vp8_header"]["quant"]["y_ac_qi"],
                        int(aud["sample_rate"]),
                        aud["channels"],
                        p["duration_ms"],
                        p["n_blocks"],
                        p["n_clusters"],
                        p["frames_per_track"][1],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "y_ac_qi", "sample_rate",
                    "channels", "duration_ms", "n_blocks", "n_clusters",
                    "video_frames",
                ],
            )

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id long, width int, height int, y_ac_qi int, "
            "sample_rate int, channels int, duration_ms long, "
            "n_blocks long, n_clusters long, video_frames long"
        ),
    )


@query(
    "q_multimodal_vp9_quality",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 4 AS INT)                        AS profile,
           CAST(CASE WHEN doc_id % 4 >= 2
                     THEN 10 + 2 * (doc_id % 2) ELSE 8 END AS INT) AS bit_depth,
           CAST(320 + doc_id % 64 AS INT)                 AS width,
           CAST(180 + (doc_id * 3) % 48 AS INT)           AS height,
           CAST((doc_id * 13) % 256 AS INT)               AS base_q_idx,
           CAST(round(100 - ((doc_id * 13) % 256) * 100.0 / 255) AS INT)
                                                          AS quality,
           CAST((doc_id * 7) % 64 AS INT)                 AS filter_level,
           (doc_id * 13) % 256 = 0                        AS lossless
    FROM documents WHERE doc_id < 170
    """,
)
def q_multimodal_vp9_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VP9 quality triage under the driver's hash gate: per document a
    key-frame uncompressed header (profile 0-3 with 10/12-bit color
    configs, quantizer, loop filter) wrapped in an IVF container,
    probed back through ivf_probe -> vp9_header_probe — the bit-exact
    §6.2 walk that gives VP9 corpora (IVF/WebM) the same quantizer ->
    quality curation signal as VP8/JPEG. base_q_idx lives in plain
    bits, so this needs no entropy decode at all. Scale: map-only,
    O(header bits) per stream."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 170), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        from xetl_spark.operators.mediaprobe import ivf_build, ivf_probe
        from xetl_spark.operators.vp9 import (
            vp9_header_build,
            vp9_quality_estimate,
        )

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                profile = did % 4
                depth = (10 + 2 * (did % 2)) if profile >= 2 else 8
                w, h = 320 + did % 64, 180 + (did * 3) % 48
                key = vp9_header_build(
                    w, h,
                    profile=profile,
                    bit_depth=depth,
                    base_q_idx=(did * 13) % 256,
                    filter_level=(did * 7) % 64,
                    color_space="bt709",
                    tail=bytes((did + j) % 251 for j in range(did % 30)),
                )
                p = ivf_probe(ivf_build([key], "VP90", w, h))["vp9_header"]
                rows.append(
                    (
                        did,
                        p["profile"],
                        p["bit_depth"],
                        p["width"],
                        p["height"],
                        p["quant"]["base_q_idx"],
                        vp9_quality_estimate(p),
                        p["loop_filter"]["level"],
                        p["lossless"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "profile", "bit_depth", "width", "height",
                    "base_q_idx", "quality", "filter_level",
                    "lossless",
                ],
            )

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id long, profile int, bit_depth int, width int, "
            "height int, base_q_idx int, quality int, filter_level int, "
            "lossless boolean"
        ),
    )


@query(
    "q_media_quality",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 6 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'webp'
                WHEN 2 THEN 'webp' WHEN 3 THEN 'ivf'
                WHEN 4 THEN 'webm' ELSE 'mp4' END          AS container,
           CASE doc_id % 6 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'vp8l'
                WHEN 2 THEN 'vp8' WHEN 3 THEN 'vp9'
                WHEN 4 THEN 'vp8' ELSE 'mjpeg' END         AS codec,
           CAST(CASE doc_id % 6 WHEN 2 THEN 32 WHEN 3 THEN 64
                WHEN 4 THEN 24 ELSE 8 END AS INT)          AS width,
           CAST(CASE doc_id % 6 WHEN 2 THEN 24 WHEN 3 THEN 36
                WHEN 4 THEN 16 ELSE 8 END AS INT)          AS height,
           CAST(CASE doc_id % 6
                WHEN 0 THEN 20 + (doc_id * 7) % 80
                WHEN 1 THEN 100
                WHEN 2 THEN round(100 - (doc_id % 128) * 100.0 / 127)
                WHEN 3 THEN round(100 - ((doc_id * 3) % 256) * 100.0 / 255)
                WHEN 4 THEN round(100 - ((doc_id * 5) % 128) * 100.0 / 127)
                ELSE 30 + doc_id % 60 END AS INT)          AS quality,
           doc_id % 6 = 1                                  AS lossless
    FROM documents WHERE doc_id < 180
    """,
)
def q_media_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified compression-quality signal under the driver's hash
    gate: a mixed-media corpus (JPEG, lossless + lossy WebP, VP9-in-
    IVF, VP8-in-WebM, MJPEG-in-MP4) scored by ONE operator
    (multimodal.media_quality) that inverts each format's quality dial
    — libjpeg DQT scaling, VP8/VP9 quantizer indices — into a common
    0-100 column a curation pass can rank and threshold across
    formats. All O(header) probes; Arrow-batched; map-only."""
    from collections.abc import Iterator as _It

    from xetl_spark.operators.multimodal import media_quality

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 180), max_partitions=_FIXTURE_TASKS)

    def build(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators import jpeg
        from xetl_spark.operators.mediaprobe import ivf_build, mp4_build_tracks
        from xetl_spark.operators.vp8 import vp8_header_build
        from xetl_spark.operators.vp9 import vp9_header_build
        from xetl_spark.operators.webm import webm_build
        from xetl_spark.operators.webp import webp_encode, webp_wrap_vp8

        img = np.arange(192, dtype=np.uint8).reshape(8, 8, 3)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                kind = did % 6
                if kind == 0:
                    m = jpeg.jpeg_encode(img, 20 + (did * 7) % 80)
                elif kind == 1:
                    m = webp_encode(img)
                elif kind == 2:
                    m = webp_wrap_vp8(
                        vp8_header_build(32, 24, y_ac_qi=did % 128)
                    )
                elif kind == 3:
                    m = ivf_build(
                        [vp9_header_build(64, 36, base_q_idx=(did * 3) % 256)],
                        "VP90", 64, 36,
                    )
                elif kind == 4:
                    m = webm_build(
                        [{"number": 1, "type": "video", "codec": "V_VP8",
                          "width": 24, "height": 16}],
                        [(1, 0, True,
                          vp8_header_build(24, 16, y_ac_qi=(did * 5) % 128))],
                    )
                else:
                    m = mp4_build_tracks(
                        [{"handler": "vide", "codec": "jpeg",
                          "timescale": 600,
                          "samples": [jpeg.jpeg_encode(img, 30 + did % 60)],
                          "deltas": [60], "width": 8, "height": 8}]
                    )
                rows.append((did, m))
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    media = ids.mapInPandas(build, schema="doc_id long, media binary")
    return media_quality(media).select(
        "doc_id", "container", "codec", "width", "height", "quality", "lossless",
    )


@query(
    "q_media_quality_audio",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 5 WHEN 0 THEN 'mp3' WHEN 1 THEN 'flac'
                ELSE 'wav' END                              AS container,
           CASE doc_id % 5 WHEN 0 THEN 'mp3' WHEN 1 THEN 'flac'
                WHEN 2 THEN 'pcm' WHEN 3 THEN 'mulaw'
                ELSE 'adpcm' END                            AS codec,
           CAST(NULL AS INT)                                AS width,
           CAST(NULL AS INT)                                AS height,
           CAST(CASE doc_id % 5
                WHEN 0 THEN least(100,
                    ([32,40,48,56,64,80,96,112,128,160,192,224,256,320]
                     [(doc_id // 5) % 14 + 1] * 100 + 160) // 320)
                WHEN 1 THEN 100 WHEN 2 THEN 100
                WHEN 3 THEN 50 ELSE 25 END AS INT)          AS quality,
           doc_id % 5 IN (1, 2)                             AS lossless
    FROM documents WHERE doc_id < 180
    """,
)
def q_media_quality_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media_quality's audio arm (r13, per the r12 verdict: make the
    one-column curation story container-complete): MP3 CBR streams
    across the full MPEG1 Layer III bitrate ladder (banded against the
    320 kbps transparent ceiling with integer-only arithmetic), FLAC
    STREAMINFO (lossless -> 100), and WAV in PCM (lossless), G.711
    u-law (8-bit companded -> 50), and IMA ADPCM (4-bit -> 25)
    codings — all scored by the SAME operator and schema as the
    image/video corpus, so one MIN_QUALITY threshold spans every
    modality. All O(header) probes; the WAV branch walks RIFF chunks
    without touching sample data."""
    from collections.abc import Iterator as _It

    from xetl_spark.operators.multimodal import media_quality

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 180), max_partitions=_FIXTURE_TASKS)
    brs = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

    def build(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np

        from xetl_spark.operators.audio import wav_build_raw, wav_encode
        from xetl_spark.operators.mediaprobe import flac_build, mp3_build

        pcm = wav_encode(
            (np.arange(64, dtype=np.int16) * 100), 8000
        )
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                kind = did % 5
                if kind == 0:
                    m = mp3_build(3, bitrate_kbps=brs[(did // 5) % 14])
                elif kind == 1:
                    m = flac_build(44100, 2, 1000)
                elif kind == 2:
                    m = pcm
                elif kind == 3:
                    m = wav_build_raw(7, bytes(range(64)), 8000, 1, bits=8)
                else:
                    m = wav_build_raw(
                        17, bytes(64), 8000, 1, bits=4, block_align=32
                    )
                rows.append((did, m))
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    media = ids.mapInPandas(build, schema="doc_id long, media binary")
    return media_quality(media).select(
        "doc_id", "container", "codec", "width", "height", "quality", "lossless",
    )


@query(
    "q_multimodal_av1_probe",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 3 AS INT)                 AS profile,
           CAST(4 + doc_id % 16 AS INT)            AS level,
           doc_id % 2 = 0                          AS still_picture,
           doc_id % 4 = 0                          AS reduced_header,
           CAST(320 + doc_id % 256 AS INT)         AS width,
           CAST(180 + (doc_id * 3) % 256 AS INT)   AS height,
           CAST(1 + doc_id % 4 AS BIGINT)          AS n_frame_obus
    FROM documents WHERE doc_id < 160
    """,
)
def q_multimodal_av1_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AV1 stream triage under the driver's hash gate: per document an
    OBU stream (temporal delimiter + sequence header — reduced
    still-picture and general layouts — + N frame OBUs) wrapped in
    IVF, probed back through the leb128 OBU walk and the sequence
    header's leading fields. The honest parse boundary (no timing-info
    profiles, nothing past the dimension fields) is documented in
    operators/av1.py. Scale: map-only, O(OBU headers) per stream."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 160), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        from xetl_spark.operators.av1 import av1_sequence_build
        from xetl_spark.operators.mediaprobe import ivf_build, ivf_probe

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                nfr = 1 + did % 4
                s = av1_sequence_build(
                    320 + did % 256,
                    180 + (did * 3) % 256,
                    profile=did % 3,
                    level=4 + did % 16,
                    still_picture=did % 2 == 0,
                    reduced=did % 4 == 0,
                    extra_obus=[
                        (6, bytes((did + j) % 251 for j in range(10 + f)))
                        for f in range(nfr)
                    ],
                )
                p = ivf_probe(
                    ivf_build([s], "AV01", 320 + did % 256, 180 + (did * 3) % 256)
                )["av1_header"]
                rows.append(
                    (
                        did,
                        p["profile"],
                        p["level"],
                        p["still_picture"],
                        p["reduced_still_picture_header"],
                        p["width"],
                        p["height"],
                        p["obu_counts"].get("frame", 0),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "profile", "level", "still_picture",
                    "reduced_header", "width", "height", "n_frame_obus",
                ],
            )

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id long, profile int, level int, still_picture boolean, "
            "reduced_header boolean, width int, height int, "
            "n_frame_obus long"
        ),
    )


@query(
    "q_multimodal_avif_probe",
    oracle="""
    SELECT doc_id,
           CAST(128 + doc_id % 512 AS INT)        AS width,
           CAST(96 + (doc_id * 5) % 512 AS INT)   AS height,
           CAST(doc_id % 3 AS INT)                AS profile,
           CAST(doc_id % 24 AS INT)               AS level,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT)
                                                  AS n_items,
           doc_id % 4 = 0                         AS split_extents
    FROM documents WHERE doc_id < 150
    """,
)
def q_multimodal_avif_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVIF (AV1-in-HEIF) triage under the driver's hash gate: per
    document an item-layout container (meta[hdlr/pitm/iinf/iloc/
    iprp[ispe]] + mdat, optionally multi-extent iloc and an extra Exif
    item), re-parsed through avif_probe's box walk + the AV1
    sequence-header fields of the primary av01 item. One wrong iloc
    width-nibble or infe version branch anywhere breaks the hash.
    Scale: map-only, O(item tables) per image."""
    from collections.abc import Iterator as _It

    (docs,) = load(spark, sf_dir, "documents")
    ids = ensure_parallelism(docs.select("doc_id").where(F.col("doc_id") < 150), max_partitions=_FIXTURE_TASKS)

    def gen(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        from xetl_spark.operators.av1 import avif_build, avif_probe

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                payload = avif_build(
                    128 + did % 512,
                    96 + (did * 5) % 512,
                    profile=did % 3,
                    level=did % 24,
                    extra_items=(
                        [("Exif", bytes((did + j) % 251 for j in range(16)))]
                        if did % 2 == 0
                        else None
                    ),
                    split_extents=did % 4 == 0,
                )
                p = avif_probe(payload)
                rows.append(
                    (
                        did,
                        p["av1"]["width"],
                        p["av1"]["height"],
                        p["av1"]["profile"],
                        p["av1"]["level"],
                        len(p["item_types"]),
                        did % 4 == 0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "profile", "level",
                    "n_items", "split_extents",
                ],
            )

    return ids.mapInPandas(
        gen,
        schema=(
            "doc_id long, width int, height int, profile int, "
            "level int, n_items long, split_extents boolean"
        ),
    )
