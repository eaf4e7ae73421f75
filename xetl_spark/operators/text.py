"""Text-analysis column builders: tokenization, quality, language-ID,
fingerprints. All pure Catalyst expressions (usable in any select /
SQL), so they run inside whole-stage codegen at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from xetl_spark.operators.util import ensure_parallelism, sql_ident, struct_udf

# tiny public stopword seed lists (heuristic language ID, not a model)
# Seed stopword tables for the stopword-vote language ID and the
# language-routed quality profile — top Latin-script web languages,
# ASCII-only words (tokens() strips accented characters, so accented
# stopwords would never match; non-Latin scripts route through
# script_char_counts before any of this). Oracle SQL for queries that
# mirror these rules is GENERATED from this dict (queries/llm_ops.py)
# so the lists can never drift out of sync with their oracles.
_LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ein"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "et", "les", "des"],
    "id": ["yang", "dan", "ini", "itu", "untuk"],
    "it": ["il", "che", "di", "non", "per"],
    "nl": ["het", "een", "van", "niet", "ik"],
    "pl": ["nie", "na", "jest", "czy", "sie"],
    "pt": ["o", "da", "em", "uma", "para"],
    "sv": ["och", "att", "det", "som", "av"],
    "tr": ["ve", "bir", "bu", "icin", "ama"],
}


def tokens(text: Column | str) -> Column:
    """Lowercased word tokens (punctuation stripped)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(
        F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", " ")), r"\s+"
    )


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


# GPT-2-style pre-tokenizer shape: contractions, letter runs, digit
# runs, punctuation runs (a BPE pre-tokenization approximation — real
# BPE merges happen inside a tokenizer library; counting these pieces
# tracks LLM token counts far better than whitespace splitting)
_BPE_ISH = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+"


def bpe_ish_token_count(text: Column | str) -> Column:
    """Approximate LLM token count via a GPT-2-like pre-tokenizer regex
    (supported by both Java regex and RE2, so oracle-verifiable)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(_BPE_ISH))


def char_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.length(c)


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(c, r"[a-zA-Z0-9\s]", "")
    return F.length(stripped) / F.greatest(F.length(c), F.lit(1))


def unique_token_ratio(text: Column | str) -> Column:
    t = tokens(text)
    return F.size(F.array_distinct(t)) / F.greatest(F.size(t), F.lit(1))


def _stopword_hits_on(joined: Column, lang: str) -> Column:
    """``_stopword_hits`` over a PRE-BUILT space-joined token column.
    Multi-language voters build the joined-token subtree once and call
    this per language: Column construction is driver-side Py4J work
    (~7 ms per tokens() subtree), so an 11-language loop that rebuilds
    it per branch pays ~10x that before the query even runs (r15 —
    measured 206 ms/call for language_id, ~30 ms hoisted). Runtime CSE
    already folded the copies; this folds the CONSTRUCTION."""
    pat = r"\b(?:" + "|".join(_LANG_STOPWORDS[lang]) + r")\b"
    return F.regexp_count(joined, F.lit(pat))


def _stopword_hits(text: Column | str, lang: str) -> Column:
    """Count (with multiplicity) of tokens equal to any of ``lang``'s
    stopwords. regexp_count of a whole-token alternation over the
    space-joined token string, NOT a ``filter`` lambda over the token
    array: lambda HOFs evaluate interpreted (outside whole-stage
    codegen) and defeat common-subexpression elimination, so the
    11-language vote re-tokenized the document once PER LANGUAGE —
    measured 3.4x slower at sf0.1 (r14 optimization round, guide §4.1
    "prefer built-ins"). Tokens and the seed stopwords are pure
    [a-z0-9], so ``\\b`` boundaries in the joined string match exactly
    whole tokens and the count is identical to the filter version
    (pinned against the DuckDB list_filter oracles)."""
    return _stopword_hits_on(F.concat_ws(" ", tokens(text)), lang)


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    t = tokens(text)
    return _stopword_hits(text, lang) / F.greatest(F.size(t), F.lit(1))


def _quality_from_stopword_ratio(text: Column | str, swr: Column) -> Column:
    length_score = F.least(token_count(text) / F.lit(100.0), F.lit(1.0))
    # +1e-7 half-grid epsilon: the weighted ratio sum can land exactly
    # on a 4dp rounding midpoint (e.g. 0.71925), where cross-engine ulp
    # differences flip the rounded digit; the nudge is far above
    # accumulated fp error (~1e-15) and far below the grid step (5e-5),
    # so it only disambiguates midpoints (same nudge in the oracle SQL).
    return F.round(
        0.3 * length_score
        + 0.3 * (1 - punct_ratio(text))
        + 0.2 * unique_token_ratio(text)
        + 0.2 * F.least(swr * 5, F.lit(1.0))
        + 1e-7,
        4,
    )


def quality_score(text: Column | str) -> Column:
    """Heuristic doc-quality in [0,1]: rewards moderate length, low
    punctuation noise, lexical diversity, and some stopword presence
    (fluency proxy). Deterministic, expression-only. English stopword
    profile — use ``quality_score_multilang`` for mixed corpora."""
    return _quality_from_stopword_ratio(text, stopword_ratio(text))


def quality_score_multilang(
    text: Column | str, lang: Column | None = None
) -> Column:
    """``quality_score`` with the stopword fluency term routed by
    language: the ratio is computed against the document's OWN
    language's stopword table (per ``language_id``'s vote, or an
    explicit ``lang`` column), so a fluent German or Turkish document
    is no longer punished for lacking English function words — the
    standard failing of an en-only quality gate on multilingual
    corpora. Unknown languages ('und' or any label outside the seed
    tables) fall back to the English profile. Deterministic,
    expression-only: one CASE over the ~10 seed languages, each
    branch a filtered-token count — still zero-shuffle map work."""
    lang_col = language_id(text) if lang is None else lang
    # flat CaseWhen for the same conditional-CSE reason as
    # flesch_multilang (r14): the repeated lang_col vote evaluates
    # once per row instead of once per tested branch. The shared
    # joined-token and token-count subtrees are BUILT once and reused
    # across branches (r15): identical expression values, ~10x less
    # driver-side Py4J construction (see _stopword_hits_on).
    joined = F.concat_ws(" ", tokens(text))
    nt = F.greatest(F.size(tokens(text)), F.lit(1))
    w = None
    for code in _LANG_STOPWORDS:
        if code == "en":
            continue
        br = (lang_col == code, _stopword_hits_on(joined, code) / nt)
        w = F.when(*br) if w is None else w.when(*br)
    # fallback, incl. 'und'
    swr = w.otherwise(_stopword_hits_on(joined, "en") / nt)
    return _quality_from_stopword_ratio(text, swr)


_SCRIPTS = ("Latin", "Cyrillic", "Han", "Arabic")


def script_char_counts(text: Column | str) -> Column:
    """Per-document Unicode script profile: struct of character counts
    per major script (Latin/Cyrillic/Han/Arabic) plus digits and total
    non-whitespace — the routing signal multilingual corpus pipelines
    use BEFORE n-gram language ID (the trigram heuristic in
    ``language_id`` only separates Latin-script languages; script
    mixing also flags spam/obfuscation). Pure whole-stage-codegen
    regexp counts; Java's ``\\p{IsScript}`` and RE2's ``\\p{Script}``
    agree on these major scripts, which is what makes the
    q_text_script_profile oracle an exact integer hash match."""
    c = F.col(text) if isinstance(text, str) else text
    fields = [
        F.length(F.regexp_replace(c, rf"[^\p{{Is{s}}}]", "")).alias(
            s.lower() + "_chars"
        )
        for s in _SCRIPTS
    ]
    fields.append(
        F.length(F.regexp_replace(c, r"[^0-9]", "")).alias("digit_chars")
    )
    fields.append(
        F.length(F.regexp_replace(c, r"\s", "")).alias("nonspace_chars")
    )
    return F.struct(*fields)


# per-language Flesch adaptations: lang -> (vowel class for the
# syllable heuristic, A, B, C) with score = A − B·(W/S) − C·(syl/W).
# Constants are the published language adaptations (en: Flesch 1948;
# de: Amstad 1978; es: Fernández-Huerta 1959; fr: Kandel–Moles 1958;
# it: Franchina–Vacca 1972; nl: Douma 1960; pt: Martins et al. 1996).
# Languages without a classic adaptation (and 'und') fall back to the
# English row. Oracle SQL for queries mirroring these rules is
# GENERATED from this dict (queries/llm_ops.py), like _LANG_STOPWORDS.
_LANG_FLESCH = {
    "en": ("[aeiouy]", 206.835, 1.015, 84.6),
    "de": ("[aeiouyäöü]", 180.0, 1.0, 58.5),
    "es": ("[aeiouáéíóúü]", 206.84, 1.02, 60.0),
    "fr": ("[aeiouyàâéèêëîïôûù]", 209.0, 1.15, 68.0),
    "it": ("[aeiouàèéìòù]", 217.0, 1.3, 60.0),
    "nl": ("[aeiouy]", 206.84, 0.93, 77.0),
    "pt": ("[aeiouáéíóúâêôãõ]", 248.835, 1.015, 84.6),
}


def _flesch_expr(
    c: Column,
    vowels: str,
    a: float,
    b: float,
    cc: float,
    words: Column | None = None,
    sentences: Column | None = None,
    lowered: Column | None = None,
) -> Column:
    # words/sentences/lowered are shared by every language branch of
    # flesch_multilang — callers pass them pre-built so the 7-branch
    # CASE doesn't rebuild the same subtrees per branch (r15: Column
    # construction is driver-side Py4J work; runtime CSE already
    # deduplicated the copies, this deduplicates the CONSTRUCTION)
    if words is None:
        words = F.greatest(token_count(c), F.lit(1))
    if sentences is None:
        sentences = F.greatest(F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1))
    syllables = F.regexp_count(
        F.lower(c) if lowered is None else lowered, F.lit(vowels + "+")
    )
    return (
        F.lit(a)
        - F.lit(b) * (words.cast("double") / sentences)
        - F.lit(cc) * (syllables.cast("double") / words)
    )


def flesch_reading_ease(text: Column | str) -> Column:
    """Flesch reading-ease with an exactly-reproducible syllable
    heuristic: syllables ≈ vowel groups ``[aeiouy]+`` counted over the
    lowercased text (vowel groups never span the non-letter chars that
    separate words, so this equals the per-word sum without a per-word
    loop); sentences ≈ runs of ``[.!?]``; words = module tokens. All
    three counts are integers, so the score is one exact float
    expression mirrored in the oracle — the standard formula
    206.835 − 1.015·(W/S) − 84.6·(syllables/W), floors at 1 for empty
    denominators. Whole-stage codegen, no UDF."""
    c = F.col(text) if isinstance(text, str) else text
    return _flesch_expr(c, *_LANG_FLESCH["en"])


def flesch_multilang(
    text: Column | str, lang: Column | None = None
) -> Column:
    """``flesch_reading_ease`` routed by language: each document is
    scored with ITS language's published Flesch adaptation — both the
    constants (German Amstad subtracts 58.5·syl/W, Portuguese starts
    at 248.835, etc.) and the vowel class driving the syllable
    heuristic (es/fr/it/pt count their accented vowels) — per
    ``language_id``'s stopword vote or an explicit ``lang`` column.
    Applying the English formula to German famously under-scores it
    (German words carry more syllables); the per-language constants
    exist precisely to re-center the 0–100 scale. Unknown languages
    fall back to the English row. One CASE over the seed table,
    expression-only, zero shuffle — the quality_score_multilang
    routing shape applied to readability."""
    c = F.col(text) if isinstance(text, str) else text
    lang_col = language_id(text) if lang is None else lang
    # ONE flat CaseWhen (chained .when), not nested otherwise()s: a
    # nested chain is a tower of two-branch CaseWhen nodes, and
    # Catalyst's conditional common-subexpression elimination only
    # recognizes expressions shared across the branches of a SINGLE
    # CaseWhen — flat, the repeated lang_col (a full stopword vote)
    # evaluates once per row instead of once per tested branch
    # (measured 23% on q_text_flesch_multilang, r14; identical rows).
    words = F.greatest(token_count(c), F.lit(1))
    sentences = F.greatest(F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1))
    lowered = F.lower(c)
    w = None
    for code, rule in _LANG_FLESCH.items():
        if code == "en":
            continue
        br = (lang_col == code, _flesch_expr(c, *rule, words, sentences, lowered))
        w = F.when(*br) if w is None else w.when(*br)
    # fallback (incl. 'und') = English row
    return w.otherwise(
        _flesch_expr(c, *_LANG_FLESCH["en"], words, sentences, lowered)
    )


def char_entropy(df, text_col: str):
    """Per-document Shannon entropy of the character distribution (in
    nats) — the classic garbled-text gate (near-zero for repeated-char
    junk, anomalously high for random bytes; RedPajama/Dolma-style
    pipelines bound it from both sides). Appends ``n_chars`` and
    ``entropy`` (replacing same-named input columns), entropy 0.0 for
    empty text.

    H = ln N − (Σᵢ nᵢ·ln nᵢ)/N over per-char run counts nᵢ, computed
    SHUFFLE-FREE: sort the doc's char array (runs of equal elements
    are contiguous under any order — no per-(doc,char) keyed
    histogram) and fold it in ONE ``aggregate`` pass carrying
    (prev, run_len, acc) state. Empty/null text is guarded to a true
    empty array — ``split('', '')`` yields ``['']`` (one phantom
    char) in both Spark and DuckDB, which would report n_chars=1 for
    an empty document. Deliberately NOT an
    indexed run-length encoding: element_at lambdas reference
    the sorted-array alias O(L) times, and view re-analysis
    (createOrReplaceTempView → spark.sql, the `sql` builtin task's
    path) re-inlines the alias into every reference — re-running
    split+sort per ELEMENT, O(L²) per document (measured 120× on the
    task surface). The fold references its input array exactly once,
    so even fully inlined the tokenize+sort costs one evaluation per
    row under any analyzer. One map stage at any corpus size.
    Characters are JVM UTF-16 code units (= code points below the
    astral planes); astral-heavy corpora should normalize first
    (operators/encoding.py)."""
    def _st(prev, cnt, acc):
        return F.struct(prev.alias("prev"), cnt.alias("cnt"), acc.alias("acc"))

    def _nlogn(cnt):
        d = cnt.cast("double")
        return d * F.log(d)

    cs = F.when(
        F.length(F.col(text_col)) > 0,
        F.array_sort(F.split(F.col(text_col), "")),
    ).otherwise(F.array().cast("array<string>"))
    sum_nlogn = F.aggregate(
        cs,
        _st(F.lit(""), F.lit(0).cast("long"), F.lit(0.0)),
        lambda st, ch: F.when(
            st["cnt"] == 0, _st(ch, F.lit(1).cast("long"), F.lit(0.0))
        )
        .when(ch == st["prev"], _st(ch, st["cnt"] + 1, st["acc"]))
        .otherwise(
            _st(ch, F.lit(1).cast("long"), st["acc"] + _nlogn(st["cnt"]))
        ),
        lambda st: st["acc"]
        + F.when(st["cnt"] > 0, _nlogn(st["cnt"])).otherwise(F.lit(0.0)),
    )
    base = ensure_parallelism(df).withColumns(
        {"__ent_n": F.size(cs), "__ent_s": sum_nlogn}
    )
    n = F.col("__ent_n")
    return base.withColumns(
        {
            "n_chars": n,
            "entropy": F.when(n > 0, F.log(n.cast("double")) - F.col("__ent_s") / n)
            .otherwise(F.lit(0.0)),
        }
    ).drop("__ent_n", "__ent_s")


def language_id(text: Column | str) -> Column:
    """N-gram/stopword-vote language guess over the seed lists.

    Picks the language with the most stopword hits; ties and zero hits
    fall back to 'und'. A real deployment swaps in a fastText-style
    model via pandas_udf; the engine contract (deterministic column in,
    label out) is identical.
    """
    scores = []
    # per-language counts via _stopword_hits_on (regexp_count in
    # codegen, CSE folds the 11 copies of the joined-token string into
    # one evaluation): 3.3s -> 1.0s for q_text_langid at sf0.1 (r14 —
    # the interpreted filter-lambda version re-tokenized per language).
    # The joined-token subtree is built ONCE (r15): same expression,
    # ~7x less driver-side construction (206 -> ~30 ms per call).
    joined = F.concat_ws(" ", tokens(text))
    for lang in _LANG_STOPWORDS:
        scores.append(
            F.struct(
                _stopword_hits_on(joined, lang).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    # array_max on (hits, lang) struct: max hits, then max lang — make the
    # tiebreak deterministic and documented (reverse-alpha on equal hits).
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text: Column | str) -> Column:
    """Canonical content fingerprint: md5 of the sorted distinct token
    multiset — robust to word order and repeated whitespace (the
    classic 'fingerprint' clustering key)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


def tf_idf(df, text_col: str, id_col: str, min_df: int = 1):
    """Smoothed TF-IDF per (doc, term): tf * (ln((N+1)/(df+1)) + 1).

    Pure DataFrame composition (explode → per-(doc,term) aggregation →
    per-term aggregation joined back): unlike HashingTF there are no
    hash collisions, and every step is a keyed shuffle that scales
    linearly with the corpus. Returns (doc, term, tf, df, tfidf).

    Document frequency is a ``groupBy(term)`` AGGREGATION joined back
    on term, deliberately not a term-partitioned window: a window does
    no partial aggregation and AQE skew-split does not apply to
    windows, so at 100 TB a stopword's partition (~one row per
    document) lands on ONE task — an unsplittable straggler. The
    aggregation collapses hot terms map-side and the join back is
    AQE-skew-splittable; the df table (vocabulary-sized, unbounded)
    is never broadcast, and Catalyst reuses the tf exchange for both
    consumers (ReusedExchange), so tokenization still runs once.
    """
    from xetl_spark.operators.util import ensure_parallelism

    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("term")
    )
    tf = toks.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = df.select(F.countDistinct(F.col(id_col)).alias("__n"))
    return (
        tf.join(dfreq, "term")
        .filter(F.col("df") >= min_df)
        .crossJoin(F.broadcast(total))
        .select(
            "doc",
            "term",
            "tf",
            "df",
            (
                F.col("tf")
                * (F.log((F.col("__n") + 1) / (F.col("df") + 1)) + 1)
            ).alias("tfidf"),
        )
    )


def unigram_logprob(df, text_col: str, id_col: str):
    """Per-document mean negative log-likelihood under the corpus's own
    unigram MLE — the poor man's perplexity filter (real pipelines use
    a KenLM n-gram model; the unigram surrogate keeps the identical
    dataflow shape and is exactly SQL-verifiable). Low avg_nll = the
    document is made of corpus-typical tokens; high = rare/garbled.

    Same scale discipline as tf_idf: per-(doc,term) counts first (one
    keyed shuffle that collapses each doc's repeats), corpus term
    counts as a ``groupBy(term)`` aggregation joined back on term
    (map-side partials collapse stopwords; the join is
    AQE-skew-splittable — a term-partitioned window would pin each hot
    term's ~one-row-per-document partition on a single unsplittable
    task at 100 TB), no vocabulary-sized broadcast, and the corpus
    token total computed row-wise from the source scan
    (size(filter(tokens))) — no second explode. Returns
    (doc, n_tokens, avg_nll) with avg_nll in nats, unrounded.
    """
    from xetl_spark.operators.util import ensure_parallelism

    toks = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    corpus = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    total = df.select(
        F.sum(F.size(F.filter(tokens(text_col), lambda x: x != F.lit("")))).alias("__n")
    )
    return (
        tf.join(corpus, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc")
        .agg(
            F.sum("tf").alias("n_tokens"),
            (
                F.sum(F.col("tf") * -F.log(F.col("c") / F.col("__n"))) / F.sum("tf")
            ).alias("avg_nll"),
        )
    )


def chunk_text(df, text_col: str, id_col: str, chunk_tokens: int = 64, overlap: int = 16):
    """Sliding-window token chunking for LLM context packing: each doc
    becomes ceil(n/step) chunks of ``chunk_tokens`` tokens advancing by
    ``chunk_tokens - overlap``. Pure Catalyst (sequence → transform →
    posexplode), one narrow pass — no shuffle at all, so it streams at
    scan speed over 100 TB. Returns (doc, chunk_id, n_tokens, chunk).
    """
    step = chunk_tokens - overlap
    if step <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    # The token array MUST be materialized in its own projection: a
    # raw `tokens(text_col)` expression inside the transform lambda is
    # re-evaluated per ELEMENT (one full regex tokenize per chunk —
    # measured 430 s for 100×20k-token docs, ~L²/step). Referencing
    # the bound attribute is O(1) per element, and the Generate
    # (posexplode) boundary keeps view re-analysis from re-inlining
    # the alias (plain Project chains do not: createOrReplaceTempView →
    # spark.sql re-inlines a materialized alias into every reference).
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("__t")
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("__t") - 1, F.lit(0)), F.lit(step)
    )
    chunks = F.transform(starts, lambda s: F.slice("__t", s + 1, chunk_tokens))
    return base.select(
        "doc",
        F.posexplode(chunks).alias("chunk_id", "__c"),
    ).select(
        "doc",
        "chunk_id",
        F.size("__c").alias("n_tokens"),
        F.concat_ws(" ", "__c").alias("chunk"),
    )


def repetition_score(text: Column | str, n: int = 3) -> Column:
    """Intra-document repetition: 1 − distinct/total word n-grams —
    the duplicate-paragraph/boilerplate signal quality filters cut on
    (high = templated or looping text). Expression-only; composes into
    any select."""
    from xetl_spark.operators.dedup import _ngram_array

    grams = _ngram_array(tokens(text), n)
    return F.round(
        1 - F.size(F.array_distinct(grams)) / F.greatest(F.size(grams), F.lit(1)), 6
    )


def repetition_signals(
    df,
    text_col: str,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8),
):
    """Gopher-style per-document repetition signals (Rae et al. 2021
    "Scaling Language Models" Table A1 — the filter family FineWeb,
    Dolma and RefinedWeb all reuse): duplicate-line fractions plus
    top-/duplicated-n-gram character coverage, the strongest cheap
    predictors of templated, looping, or boilerplate text.

    Exact definitions (documented because implementations vary):

    - lines: raw text split on ``\\n``, trimmed of SPACES only (Spark
      ``trim`` semantics — tabs survive), empties dropped;
      ``dup_line_count`` counts occurrences beyond the first of each
      repeated line; ``dup_line_chars`` counts bytes (octet_length —
      engine-portable for non-ASCII) of ALL occurrences of lines that
      appear more than once; ``line_chars`` is total line bytes.
    - n-grams: over the lowercased alphanumeric token stream (module
      tokenizer — non-[a-z0-9] runs separate tokens), strict — a doc
      with fewer than n tokens has zero n-grams. Gram char length =
      code-point length of the space-joined gram; ``total_chars`` =
      length of the space-joined token stream.
    - ``top_{n}gram_chars`` (n in top_ns): cnt x len of the single
      distinct n-gram maximizing that product (deterministic, unlike
      "most frequent" which needs a tiebreak).
    - ``dup_{n}gram_chars`` (n in dup_ns): sum of cnt x len over
      distinct n-grams with cnt > 1 (overlap-naive: overlapping
      occurrences each count, so the ratio to total_chars can exceed
      1 for degenerate docs — cap downstream if a true fraction is
      needed).
    - NULL text gives NULL signals, except ``total_chars`` = 0.

    Appends the integer coverage columns plus convenience ``*_frac``
    doubles (0.0 on empty denominators) to ``df``, replacing
    same-named input columns. Integers hash exactly across engines;
    fractions are derived, never the comparison surface.

    100 TB plan shape: ZERO shuffles — one Arrow-batched scalar pandas
    UDF (only the text column crosses into Python) computing every
    integer signal per document with plain Counters, no skew surface
    at all (hot grams are per-document, never cross-partition keys).
    Batch code beats interpreted expression chains here (guide §4.2):
    a pure-Catalyst form needs 8 per-doc array_sorts plus interpreted
    run-length ``aggregate`` lambdas, measured 1.85s vs 0.62s for this
    pass at sf0.1.
    """
    import re as _re
    from collections import Counter

    import pandas as pd

    ints = [
        "n_tokens int", "total_chars long", "n_lines int",
        "dup_line_count int", "line_chars long", "dup_line_chars long",
        *[f"top_{n}gram_chars long" for n in top_ns],
        *[f"dup_{n}gram_chars long" for n in dup_ns],
    ]
    names = [c.split(" ")[0] for c in ints]
    tok_re = _re.compile(r"[^a-z0-9]+")
    ns = tuple(dict.fromkeys(tuple(top_ns) + tuple(dup_ns)))

    def _one(s):
        if s is None:
            # total_chars = length(concat_ws(' ', <no tokens>)) = 0
            return (None, 0) + (None,) * (4 + len(top_ns) + len(dup_ns))
        toks = [t for t in tok_re.split(s.lower()) if t]
        total_chars = len(" ".join(toks))
        lines = [ln for ln in (x.strip(" ") for x in s.split("\n")) if ln]
        lc = Counter(lines)
        line_chars = 0
        dup_line_chars = 0
        for ln, c in lc.items():
            b = len(ln.encode("utf-8")) * c
            line_chars += b
            if c > 1:
                dup_line_chars += b
        # n-grams WITHOUT building joined strings: intern tokens to
        # ints (tuple-of-int keys hash ~2x faster than joined strings)
        # and read each gram's joined length off a prefix-sum table —
        # len(' '.join(toks[i:i+n])) == P[i+n] - P[i] - 1
        vocab: dict[str, int] = {}
        ids = [vocab.setdefault(t, len(vocab)) for t in toks]
        P = [0]
        for t in toks:
            P.append(P[-1] + len(t) + 1)
        per_n: dict[int, tuple[int, int]] = {}
        for n in ns:
            gc: dict[tuple, list] = {}
            for i in range(len(toks) - n + 1):
                k = tuple(ids[i : i + n])
                e = gc.get(k)
                if e is None:
                    gc[k] = [1, P[i + n] - P[i] - 1]
                else:
                    e[0] += 1
            top = 0
            dup = 0
            for c, glen in gc.values():
                v = c * glen
                if v > top:
                    top = v
                if c > 1:
                    dup += v
            per_n[n] = (top, dup)
        return (
            len(toks), total_chars, len(lines), len(lines) - len(lc),
            line_chars, dup_line_chars,
            *[per_n[n][0] for n in top_ns],
            *[per_n[n][1] for n in dup_ns],
        )

    def _repetition(texts):
        return pd.DataFrame([_one(s) for s in texts], columns=names)

    udf = struct_udf(_repetition, ", ".join(ints))
    with_sig = ensure_parallelism(df).withColumn(
        "__rep", udf(F.col(sql_ident(text_col)))
    )
    sig = F.col("__rep")

    def _frac(num: str, den: str) -> Column:
        return F.when(sig[den] > 0, sig[num] / sig[den]).otherwise(F.lit(0.0))

    cols = {name: sig[name] for name in names}
    cols["dup_line_frac"] = _frac("dup_line_count", "n_lines")
    cols["dup_line_char_frac"] = _frac("dup_line_chars", "line_chars")
    for n in top_ns:
        cols[f"top_{n}gram_char_frac"] = _frac(f"top_{n}gram_chars", "total_chars")
    for n in dup_ns:
        cols[f"dup_{n}gram_char_frac"] = _frac(f"dup_{n}gram_chars", "total_chars")
    return with_sig.withColumns(cols).drop("__rep")


def c4_line_filter(df, text_col: str, min_sentences: int = 5):
    """C4 cleaning heuristics (Raffel et al. 2020 §2.2 — the line- and
    page-level rules the original Colossal Clean Crawled Corpus was
    built with, still the baseline web-text scrub):

    Line rules (a line = ``\\n``-split, trimmed, non-empty): kept iff
    it (a) ends in terminal punctuation (``. ! ?`` or a closing
    quote), (b) has at least 3 whitespace-separated words, and (c)
    does not contain the word "javascript" (case-insensitive).

    Page rules: ``has_lorem`` (contains "lorem ipsum",
    case-insensitive), ``has_brace`` (contains ``{`` — code page
    marker), ``n_sentences`` = count of ``. ! ?`` characters in the
    cleaned text; ``keep_doc`` = some line survived AND no page marker
    fired AND n_sentences >= ``min_sentences``.

    Appends (n_lines, kept_lines, n_sentences, has_lorem, has_brace,
    keep_doc, clean_text) to every input row, replacing same-named
    input columns; ``clean_text`` = surviving lines joined with
    ``\\n``.

    ``text_col`` is a top-level column name, quoted verbatim into the
    SQL (dots, spaces and backticks included).

    100 TB plan shape: zero shuffles — every rule is a higher-order
    expression over the document's own line array; the operator is
    one map stage at scan speed.
    """
    raw = F.col(sql_ident(text_col))
    # SQL-string construction (one server-side parse — see
    # minhash_signatures_rowwise): the two lambda filters cost ~150 ms
    # of driver-side Py4J build per call through the Column API (r15);
    # values identical, pinned by the q_text_c4_rules oracle hash
    lines_sql = (
        f"filter(transform(split({sql_ident(text_col)}, '\\n'), s -> trim(s)), "
        "s -> s != '')"
    )
    kept_sql = (
        f"filter({lines_sql}, s -> "
        "s rlike '[.!?\"’”'']$' "
        "AND size(split(s, '\\\\s+')) >= 3 "
        "AND NOT contains(lower(s), 'javascript'))"
    )
    staged = ensure_parallelism(df).withColumns(
        {"__c4_lines": F.expr(lines_sql), "__c4_kept": F.expr(kept_sql)}
    ).withColumn("__c4_clean", F.concat_ws("\n", "__c4_kept"))
    clean = F.col("__c4_clean")
    n_sent = F.length(clean) - F.length(F.translate(clean, ".!?", ""))
    has_lorem = F.lower(raw).contains("lorem ipsum")
    has_brace = raw.contains("{")
    kept_lines = F.size("__c4_kept")
    return staged.withColumns(
        {
            "n_lines": F.size("__c4_lines"),
            "kept_lines": kept_lines,
            "n_sentences": n_sent,
            "has_lorem": has_lorem,
            "has_brace": has_brace,
            "keep_doc": (kept_lines > 0)
            & ~has_lorem
            & ~has_brace
            & (n_sent >= min_sentences),
            "clean_text": clean,
        }
    ).drop("__c4_lines", "__c4_kept", "__c4_clean")


# deliberately simple, cross-engine-portable patterns (no lookbehind):
# the point is the redaction *pipeline shape*; production swaps in its
# own pattern pack / NER model via the same expression slot
_PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b", "<PHONE>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
]


def redact_pii(text: Column | str) -> Column:
    """Chained regexp_replace redaction of emails / phone numbers /
    IPv4 literals — the minimum scrub a training corpus runs before
    anything else. Stays in whole-stage codegen (JVM regex), no UDF."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, tag in _PII_PATTERNS:
        c = F.regexp_replace(c, pat, tag)
    return c


def rolling_hash_fingerprint(text: Column | str, window: int = 4) -> Column:
    """Winnowing-style fingerprint: xxhash64 of each sliding token
    window, then md5 of the ordered hash sequence. Uses the zip_with
    n-gram chain (see dedup._ngram_array) to avoid per-index
    re-tokenization."""
    from xetl_spark.operators.dedup import _ngram_array

    grams = F.transform(
        _ngram_array(tokens(text), window), lambda g: F.xxhash64(g)
    )
    return F.md5(F.concat_ws(",", F.transform(grams, lambda h: h.cast("string"))))


def hashing_tfidf(df, text_col: str, id_col: str, num_features: int = 1024):
    """TF-IDF via the pyspark.ml feature pipeline (Tokenizer →
    HashingTF → IDF) — the fixed-width, vocabulary-free variant: no
    term dictionary to build or broadcast, vectors are bounded at
    num_features regardless of corpus size, at the price of hash
    collisions (why the exact tf_idf operator exists alongside).
    Returns (doc, tfidf_vec: SparseVector).
    """
    from pyspark.ml.feature import IDF, HashingTF, RegexTokenizer

    tok = RegexTokenizer(
        inputCol=text_col, outputCol="__toks", pattern=r"[^a-z0-9]+", toLowercase=True
    )
    tf = HashingTF(inputCol="__toks", outputCol="__tf", numFeatures=num_features)
    with_tf = tf.transform(tok.transform(ensure_parallelism(df)))
    idf = IDF(inputCol="__tf", outputCol="tfidf_vec").fit(with_tf)
    return idf.transform(with_tf).select(F.col(id_col).alias("doc"), "tfidf_vec")


def html_to_text(html: Column | str) -> Column:
    """Extract readable text from HTML markup — the WARC→documents step
    of a crawl-ingestion pipeline.

    Pure Catalyst regexp chain (whole-stage codegen, no UDF): drops
    <script>/<style> blocks and comments wholesale, strips remaining
    tags, decodes the common named entities (&amp; &lt; &gt; &quot;
    &#39; &nbsp;), and collapses whitespace. A parser-grade extraction
    (DOM-aware boilerplate handling) is remove_boilerplate's job
    downstream; this is the markup→text normalization pass.
    """
    c = F.col(html) if isinstance(html, str) else html
    out = F.regexp_replace(c, r"(?is)<(script|style)\b.*?</\1\s*>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"(?s)<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),  # last, so &amp;lt; doesn't double-decode
    ):
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def markdown_to_text(md: Column | str) -> Column:
    """Strip Markdown markup to plain text — the README/forum-corpus
    analog of ``html_to_text``, and like it a pure Catalyst regexp
    chain (whole-stage codegen, no UDF).

    Rules (deterministic, documented): fence lines dropped (code
    CONTENT kept — it's training signal), images → alt text, links →
    anchor text, ATX headers / blockquote markers / list markers
    stripped, paired ** __ * _ ` emphasis unwrapped, horizontal rules
    dropped, whitespace collapsed."""
    c = F.col(md) if isinstance(md, str) else md
    out = F.regexp_replace(c, r"(?m)^```[^\n]*$", " ")
    out = F.regexp_replace(out, r"!\[([^\]]*)\]\([^)]*\)", r"$1")
    out = F.regexp_replace(out, r"\[([^\]]*)\]\([^)]*\)", r"$1")
    out = F.regexp_replace(out, r"(?m)^\s*([-*_][ \t]*){3,}$", " ")
    out = F.regexp_replace(out, r"(?m)^#{1,6}[ \t]+", "")
    out = F.regexp_replace(out, r"(?m)^>[ \t]?", "")
    out = F.regexp_replace(out, r"(?m)^([ \t]*)([-*+]|\d+\.)[ \t]+", r"$1")
    out = F.regexp_replace(out, r"(\*\*|__)([^*_]+)\1", r"$2")
    out = F.regexp_replace(out, r"(\*|_)([^*_]+)\1", r"$2")
    out = F.regexp_replace(out, r"`([^`]*)`", r"$1")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


# multi-label public suffixes the registered-domain heuristic knows;
# a real deployment swaps in the full Mozilla PSL (a broadcast table),
# but the grouping LOGIC — last label group before the suffix — is
# what the operator pins
_MULTI_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "com.br", "co.in", "co.kr", "com.cn",
    "com.mx", "co.za", "com.sg", "com.tw",
)

_TRACKING_PARAM = r"^(utm_[a-zA-Z]+|fbclid|gclid|msclkid|mc_eid|igshid)="


def url_normalize(url: Column | str) -> Column:
    """Canonicalize a URL for corpus-level URL dedup (the C4/CommonCrawl
    recipe): lowercase scheme and host, drop default ports (http:80 /
    https:443), strip the fragment, and remove tracking query params
    (utm_*, fbclid, gclid, …) while preserving the rest of the query
    and the path's case. Pure Catalyst (parse_url + higher-order
    filter) — whole-stage codegen, no UDF. Userinfo is out of scope
    (crawl URLs don't carry credentials)."""
    c = F.col(url) if isinstance(url, str) else url
    proto = F.lower(F.parse_url(c, F.lit("PROTOCOL")))
    authority = F.parse_url(c, F.lit("AUTHORITY"))
    host = F.lower(F.regexp_extract(authority, r"^([^:]+)", 1))
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    default_port = (
        (port == "")
        | ((proto == "http") & (port == "80"))
        | ((proto == "https") & (port == "443"))
    )
    path = F.coalesce(F.parse_url(c, F.lit("PATH")), F.lit(""))
    query = F.coalesce(F.parse_url(c, F.lit("QUERY")), F.lit(""))
    kept_q = F.array_join(
        F.filter(
            F.split(query, "&"),
            lambda kv: (kv != "") & ~kv.rlike(_TRACKING_PARAM),
        ),
        "&",
    )
    return F.concat(
        proto,
        F.lit("://"),
        host,
        F.when(default_port, F.lit("")).otherwise(F.concat(F.lit(":"), port)),
        path,
        F.when(kept_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept_q)),
    )


def url_registered_domain(host: Column | str) -> Column:
    """Registered (pay-level) domain of a hostname: the label group a
    per-domain crawl quota or blocklist keys on. Last two labels,
    extended to three when the final two are a known multi-label
    public suffix (co.uk, com.au, …)."""
    h = F.lower(F.col(host) if isinstance(host, str) else host)
    parts = F.split(h, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    last3 = F.concat_ws(
        ".", F.element_at(parts, -3), F.element_at(parts, -2), F.element_at(parts, -1)
    )
    return (
        F.when(n <= 2, h)
        .when(last2.isin(*_MULTI_SUFFIXES) & (n >= 3), last3)
        .otherwise(last2)
    )


def remove_boilerplate(
    df,
    text_col: str,
    id_col: str,
    min_docs: int = 30,
    delim: str = "\n",
):
    """Drop lines that appear in >= ``min_docs`` distinct documents —
    the C4-style boilerplate filter (navigation bars, cookie banners,
    license headers) applied line-wise across the corpus.

    Shape for scale: explode to (doc, pos, line), dedupe (doc, line),
    one line-keyed aggregation for document frequency, one line-keyed
    join back, then a doc-keyed reassembly preserving line order —
    two linear shuffles, no pairwise work, no vocabulary broadcast
    (line frequencies live in the shuffle, sized by distinct lines).
    Documents whose every line is boilerplate drop out of the result
    (document removal is a valid outcome of this filter).

    Returns (doc, clean_text).
    """
    lines = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), delim)).alias("pos", "line"),
    )
    docfreq = (
        lines.select("doc", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count("*").alias("__df"))
    )
    kept = lines.join(docfreq, "line").filter(F.col("__df") < min_docs)
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col("pos"), F.col("line")))
        ),
        lambda s: s["line"],
    )
    return kept.groupBy("doc").agg(
        F.array_join(ordered, delim).alias("clean_text")
    )


def edit_distance_join(
    df,
    str_col: str,
    key_col: str,
    max_distance: int = 1,
):
    """Self fuzzy-join: all pairs of rows whose strings are within
    ``max_distance`` Levenshtein edits — the record-linkage /
    entity-resolution primitive.

    Candidate generation is SymSpell/FastSS deletion-neighborhood
    blocking: D_d(s) = every variant of s with ≤ d characters deleted.
    If edit(s, t) ≤ d then D_d(s) ∩ D_d(t) ≠ ∅ (each edit is covered
    by deleting the touched position from one or both sides), so the
    equi-join on variant hashes has NO false negatives; false
    positives die in the exact levenshtein verify. Per-string blowup
    is C(len, d) variants — len+1 at d=1 — and, unlike q-gram count
    filtering, the blocking does not degenerate on shared-prefix
    identifier data ("Customer#000…"): a deletion variant pins the
    WHOLE string but one position, so buckets stay near-constant
    sized. Variants are joined as xxhash64 values (8 bytes through
    the shuffle, not repeated strings).

    Scale: explode ≤ C(len,d)·n variant hashes, one equi-join on a
    well-spread 64-bit key, exact verify on candidates only. Returns
    (key_a, key_b, <str>_a, <str>_b, dist) with key_a < key_b.
    """
    from pyspark.sql import functions as F

    from xetl_spark.operators.util import ensure_parallelism

    # base feeds the variant explode and both verify joins; sig feeds
    # both sides of the candidate self-join — materialize each once via
    # localCheckpoint rather than persist(): checkpoint blocks are freed
    # by the ContextCleaner when the DataFrame is GC'd, so repeated calls
    # in a long session don't accumulate registered cache entries
    base = ensure_parallelism(df).select(
        F.col(key_col).alias("__k"), F.col(str_col).alias("__s")
    ).localCheckpoint(eager=True)
    # deletion neighborhood, built iteratively: one more deletion per round
    variants = base.select("__k", F.col("__s").alias("__v"))
    frontier = variants
    for _ in range(max_distance):
        frontier = frontier.select(
            "__k",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("__v")),
                    lambda i: F.concat(
                        F.substring(F.col("__v"), F.lit(1), i - 1),
                        F.col("__v").substr(i + 1, F.length("__v")),
                    ),
                )
            ).alias("__v"),
        )
        variants = variants.unionByName(frontier)
    sig = (
        variants.select("__k", F.xxhash64("__v").alias("__h"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    cand = (
        sig.join(
            sig.select(F.col("__k").alias("__k2"), "__h"),
            on="__h",
        )
        .filter(F.col("__k") < F.col("__k2"))
        .select(F.col("__k").alias("key_a"), F.col("__k2").alias("key_b"))
        .distinct()
    )
    sa = base.select(F.col("__k").alias("key_a"), F.col("__s").alias(f"{str_col}_a"))
    sb = base.select(F.col("__k").alias("key_b"), F.col("__s").alias(f"{str_col}_b"))
    return (
        cand.join(sa, "key_a")
        .join(sb, "key_b")
        .withColumn("dist", F.levenshtein(f"{str_col}_a", f"{str_col}_b"))
        .filter(F.col("dist") <= max_distance)
    )


def line_dedup(df, text_col: str, id_col: str, line_tokens: int = 16):
    """Corpus-level exact line deduplication (the C4/RefinedWeb recipe):
    split every document into fixed ``line_tokens``-token lines, keep
    only the globally FIRST occurrence of each distinct line (ordered
    by (doc id, line position)), and reassemble the surviving lines in
    document order.

    Plan shape (min-aggregate, not a window — the r6 SCALING.md watch
    item): the first occurrence of each line is ``min(struct(doc,
    pos))`` under a line-keyed hash aggregation, so duplicate lines
    collapse MAP-SIDE and only ~distinct lines ever shuffle — the raw
    exploded line table itself is never exchanged, and a hot key (a
    boilerplate line repeated across the corpus) costs one partial-agg
    cell per task instead of an unsplittable window sort partition.
    Per-doc line counts come free from the pre-explode array length
    (no shuffle); survivors reassemble under one doc-keyed aggregation
    joined back to the counts (two one-row-per-doc sides).

    Returns (doc id, n_lines, kept_lines, new_text) with one row per
    input document (documents whose every line lost dedup keep a row
    with kept_lines = 0 and new_text = '').
    """
    # tokens materialized in their own projection: a raw expression
    # inside the transform lambda re-tokenizes per ELEMENT (~L²/k per
    # doc — see chunk_text); the bound attribute is O(1) per element
    # and the Generate boundary survives view re-analysis.
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("__doc"), tokens(text_col).alias("__t")
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("__t") - 1, F.lit(0)), F.lit(line_tokens)
    )
    doc_stats = base.select(
        "__doc",
        F.size(starts).cast("long").alias("n_lines"),
    )
    lines = base.select(
        "__doc",
        F.posexplode(
            F.transform(starts, lambda s: F.slice("__t", s + 1, line_tokens))
        ).alias("__pos", "__lt"),
    ).select("__doc", "__pos", F.concat_ws(" ", "__lt").alias("__line"))
    # lexicographic struct min == first occurrence by (doc, pos)
    firsts = (
        lines.groupBy("__line")
        .agg(F.min(F.struct("__doc", "__pos")).alias("__f"))
        .select(
            F.col("__f.__doc").alias("__doc"),
            F.col("__f.__pos").alias("__pos"),
            "__line",
        )
    )
    kept = firsts.groupBy("__doc").agg(
        F.count("*").alias("kept_lines"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda x: x["__line"],
            ),
        ).alias("new_text"),
    )
    return doc_stats.join(kept, "__doc", "left").select(
        F.col("__doc").alias(id_col),
        "n_lines",
        F.coalesce("kept_lines", F.lit(0).cast("long")).alias("kept_lines"),
        F.coalesce("new_text", F.lit("")).alias("new_text"),
    )


def natural_boundary_dedup(
    df,
    text_col: str,
    id_col: str,
    granularity: str = "line",
):
    """Corpus-level exact dedup on NATURAL text boundaries — the
    RefinedWeb / Dolma recipe (exact line or paragraph dedup), the
    natural-boundary complement to ``line_dedup``'s fixed-token lines:
    split each document on newlines (``granularity="line"``) or blank
    lines (``"paragraph"``), trim, drop empties, keep only the
    globally FIRST occurrence of each distinct unit (ordered by
    (doc id, position)), and reassemble survivors in document order.

    Same 100 TB plan shape as line_dedup: duplicate units collapse
    MAP-SIDE under a unit-keyed min(struct(doc,pos)) hash aggregation
    (only ~distinct units shuffle; a hot boilerplate unit costs one
    partial-agg cell per task, never an unsplittable window
    partition), then one doc-keyed reassembly. Nothing touches the
    driver.

    Returns (id, n_units, kept_units, new_text), one row per input
    document (documents whose every unit lost keep a row with
    kept_units = 0 and new_text = '').
    """
    if granularity == "line":
        split_pat, joiner = r"\n", "\n"
    elif granularity == "paragraph":
        split_pat, joiner = r"\n{2,}", "\n\n"
    elif granularity == "sentence":
        # split after terminal punctuation runs (lookbehind keeps the
        # punctuation with its sentence); newlines also terminate —
        # the cheap regex segmentation quality-filter pipelines use
        # (abbreviation-aware segmentation is a model's job)
        split_pat, joiner = r"(?<=[.!?])\s+|\n", " "
    else:
        raise ValueError(
            "granularity must be 'line', 'paragraph', or 'sentence'"
        )
    raw_units = F.split(F.col(text_col), split_pat)
    units = ensure_parallelism(df).select(
        F.col(id_col).alias("__doc"),
        F.posexplode(F.transform(raw_units, lambda u: F.trim(u))).alias(
            "__pos", "__u"
        ),
    ).filter(F.col("__u") != "")
    doc_stats = units.groupBy("__doc").agg(
        F.count("*").cast("long").alias("n_units")
    )
    firsts = (
        units.groupBy("__u")
        .agg(F.min(F.struct("__doc", "__pos")).alias("__f"))
        .select(
            F.col("__f.__doc").alias("__doc"),
            F.col("__f.__pos").alias("__pos"),
            "__u",
        )
    )
    kept = firsts.groupBy("__doc").agg(
        F.count("*").cast("long").alias("kept_units"),
        F.concat_ws(
            joiner,
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__u"))),
                lambda x: x["__u"],
            ),
        ).alias("new_text"),
    )
    return (
        df.select(F.col(id_col).alias("__doc"))
        .join(doc_stats, "__doc", "left")
        .join(kept, "__doc", "left")
        .select(
            F.col("__doc").alias(id_col),
            F.coalesce("n_units", F.lit(0).cast("long")).alias("n_units"),
            F.coalesce("kept_units", F.lit(0).cast("long")).alias("kept_units"),
            F.coalesce("new_text", F.lit("")).alias("new_text"),
        )
    )


def _merged_keep_intervals_sql(sorted_cuts_sql: str, n_sql: str, k_tokens: int) -> str:
    """Complement of the union of ``[s, s+k_tokens)`` over the sorted
    cut starts, as an array of (s, l) kept token intervals — ONE
    O(cuts) ``aggregate`` pass carrying (pos, intervals) state.

    This replaces the per-token ``exists`` rebuild (O(tokens × cuts)
    per document — quadratic for a pathological highly-self-duplicated
    long doc): the fold walks the cut list once, and the caller
    gathers kept tokens with one O(tokens) slice-and-flatten.

    Emitted as a SQL string parsed server-side (r15): the Python
    Column build of this fold measured ~90 ms of driver-side Py4J
    work per call (same expression either way; the span-dedup oracles
    state the expected output closed-form and stay hash-green).
    """
    k = int(k_tokens)
    mk_iv = "array(struct(st.pos AS s, ({cur} - st.pos) AS l))"
    return (
        f"aggregate({sorted_cuts_sql}, "
        "struct(0 AS pos, CAST(array() AS array<struct<s:int,l:int>>) AS ivs), "
        "(st, s) -> CASE WHEN s > st.pos "
        f"THEN struct(s + {k} AS pos, "
        f"concat(st.ivs, {mk_iv.format(cur='s')}) AS ivs) "
        f"ELSE struct(greatest(st.pos, s + {k}) AS pos, st.ivs AS ivs) END, "
        f"st -> CASE WHEN {n_sql} > st.pos "
        f"THEN concat(st.ivs, {mk_iv.format(cur=n_sql)}) ELSE st.ivs END)"
    )


def _rebuild_from_cuts(base, cuts, id_col: str, k_tokens: int):
    """Join per-doc cut starts back to the token table and reassemble
    each document from its kept intervals. Shared by the stride and
    exact-extent span dedup passes. O(tokens + cuts) per document."""
    n = F.size("__toks")
    ivs_sql = _merged_keep_intervals_sql(
        "array_sort(__cuts)", "size(__toks)", k_tokens
    )
    return (
        base.join(cuts, "__doc", "left")
        .withColumn("__cuts", F.coalesce("__cuts", F.array()))
        .withColumn("__ivs", F.expr(ivs_sql))
        .select(
            F.col("__doc").alias(id_col),
            n.alias("n_tokens"),
            F.expr(
                "flatten(transform(__ivs, iv -> "
                "slice(__toks, iv.s + 1, iv.l)))"
            ).alias("__kept"),
        )
        .select(
            id_col,
            "n_tokens",
            F.size("__kept").alias("kept_tokens"),
            F.concat_ws(" ", "__kept").alias("new_text"),
        )
    )


def remove_duplicate_spans(
    df,
    text_col: str,
    id_col: str,
    k_tokens: int = 32,
    stride: int = 16,
):
    """Corpus-level duplicated-substring removal (the span-dedup pass of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", approximated with stride windows instead of suffix
    arrays): hash every ``k_tokens``-token window at ``stride``-token
    offsets (plus the exact tail window), keep the globally FIRST
    occurrence of each repeated window (ordered by (doc id, start)),
    and cut every other occurrence's token range out of its document.
    A repeated passage longer than ``k_tokens`` is covered by its
    overlapping matched windows; the approximation can leave up to
    ``stride - 1`` edge tokens per passage, cannot see duplicates
    shorter than ``k_tokens``, and — the sharpest caveat — only
    matches occurrences whose start offsets agree modulo ``stride``
    (both occurrences must sample the same window contents), so an
    interior passage duplicated at misaligned offsets is invisible.
    ``remove_duplicate_spans_exact`` closes all three gaps at the
    cost of one window row per token instead of per ``stride``
    tokens.

    Plan shape, 100 TB-safe: one narrow windowing pass (sequence →
    explode, window hashes via structural xxhash64 on the token slice —
    no string materialization), first occurrences via a min-struct
    AGGREGATION on the span hash (map-side partials collapse hot
    boilerplate spans; the join back is AQE-skew-splittable — a
    hash-partitioned window would pin a corpus-wide boilerplate span's
    occurrences on one unsplittable task), one doc-keyed shuffle to
    collect cut ranges, and one doc-keyed broadcast-free join back.
    No driver state, no collects.

    Returns (doc id, n_tokens, kept_tokens, new_text), one row per
    input document.
    """
    toks = F.filter(tokens(text_col), lambda x: x != F.lit(""))
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("__doc"), toks.alias("__toks")
    )
    n = F.size("__toks")
    starts = F.array_union(
        F.sequence(F.lit(0), F.greatest(n - k_tokens, F.lit(0)), F.lit(stride)),
        F.array(F.greatest(n - k_tokens, F.lit(0))),
    )
    wins = (
        base.filter(n > 0)
        .select(
            "__doc",
            F.explode(starts).alias("__s"),
            F.col("__toks"),
        )
        .select(
            "__doc",
            "__s",
            F.xxhash64(F.slice("__toks", F.col("__s") + 1, k_tokens)).alias("__h"),
        )
    )
    # lexicographic struct min == first occurrence by (doc, start);
    # every other occurrence of the same span hash is cut (a group of
    # size 1 is its own min, so it never matches the cut filter)
    firsts = wins.groupBy("__h").agg(
        F.min(F.struct("__doc", "__s")).alias("__f")
    )
    cuts = (
        wins.join(firsts, "__h")
        .filter(F.struct("__doc", "__s") != F.col("__f"))
        .groupBy("__doc")
        .agg(F.collect_list("__s").alias("__cuts"))
    )
    return _rebuild_from_cuts(base, cuts, id_col, k_tokens)


def _window_hash_rows_arrow(base, k_tokens: int):
    """(doc, start, hash) rows for every k-token window — the Arrow
    fast path for remove_duplicate_spans_exact's dominant stage.

    The Catalyst path hashes a k-token slice per offset: O(k) combine
    work per token. This path moves ONLY the hashing into one
    Arrow-batched pass (tokenization stays in Catalyst, so token
    parity is structural): per-token 64-bit hashes come from pandas'
    vectorized hash_array, and every window hash is derived in O(1)
    via a rolling polynomial over uint64 wraparound arithmetic — an
    ODD base is invertible mod 2^64, so window(i) =
    (S[i+k] − S[i])·B^i with S the cumsum of v_j·B^(−j), all
    vectorized numpy. O(tokens) total instead of O(tokens × k); same
    downstream plan (the hash VALUES differ from the Catalyst
    engine's, but both are content-determined 64-bit window keys, so
    the final output is identical up to hash collisions).
    """
    import numpy as np
    import pandas as pd

    B = np.uint64(0x9E3779B97F4A7C15 | 1)  # odd -> invertible mod 2^64
    B_INV = np.uint64(pow(int(B), -1, 1 << 64))

    def gen(batches):
        err = np.seterr(over="ignore")  # uint64 wraparound is the point
        try:
            for pdf in batches:
                out_doc, out_s, out_h = [], [], []
                for doc, toks in zip(pdf["__doc"], pdf["__toks"]):
                    n = len(toks)
                    if n < k_tokens:
                        continue
                    v = pd.util.hash_array(np.asarray(toks, dtype=object))
                    m = n - k_tokens + 1
                    # S[i] = sum_{j<i} v[j] * B^-j ; win(i) = (S[i+k]-S[i]) * B^i
                    binv = np.empty(n, dtype=np.uint64)
                    binv[0] = np.uint64(1)
                    if n > 1:
                        np.multiply.accumulate(
                            np.full(n - 1, B_INV, dtype=np.uint64),
                            out=binv[1:],
                        )
                    s = np.zeros(n + 1, dtype=np.uint64)
                    np.cumsum(v * binv, out=s[1:])
                    bpow = np.empty(m, dtype=np.uint64)
                    bpow[0] = np.uint64(1)
                    if m > 1:
                        np.multiply.accumulate(
                            np.full(m - 1, B, dtype=np.uint64), out=bpow[1:]
                        )
                    win = (s[k_tokens : k_tokens + m] - s[:m]) * bpow
                    out_doc.extend([doc] * m)
                    out_s.extend(range(m))
                    out_h.extend(win.view(np.int64))
                yield pd.DataFrame(
                    {"__doc": out_doc, "__s": out_s, "__h": out_h}
                )
        finally:
            np.seterr(**err)

    doc_type = base.schema["__doc"].dataType.simpleString()
    return base.mapInPandas(
        gen, schema=f"__doc {doc_type}, __s int, __h long"
    )


# Measured hash-stage-only crossover (3000 docs x 1500 tokens,
# local[32], round 10): catalyst 0.51s/1.20s/3.01s vs arrow
# 0.93s/0.92s/0.75s at k = 32/128/512 — the JVM slice hash is
# O(tokens x k), the Arrow rolling polynomial O(tokens) + a fixed
# serialization toll, crossing between k=64 and k=128.
_AUTO_ARROW_MIN_K = 96


def remove_duplicate_spans_exact(
    df,
    text_col: str,
    id_col: str,
    k_tokens: int = 32,
    hash_engine: str = "auto",
):
    """Corpus-level duplicated-substring removal with EXACT maximal
    extents (the full Lee et al. 2022 ExactSubstr semantics for
    duplicates of length ≥ ``k_tokens``): hash the ``k_tokens``-token
    window at EVERY offset, keep the globally first occurrence of
    each repeated window (ordered by (doc id, start)), and cut every
    other occurrence's range. A maximal duplicated passage of length
    m ≥ k contributes all m−k+1 of its windows, so the union of the
    cut ranges is exactly the passage — no ``stride−1`` edge-token
    leftovers, no alignment misses (the stride variant only matches
    occurrences whose offsets agree mod stride). Duplicates shorter
    than ``k_tokens`` are below the minimum-match length and are kept
    by definition, exactly as in the reference recipe (Lee et al.
    use 50 BPE tokens).

    Cost, stated honestly — exactness is paid for in two places, the
    same places a distributed suffix array pays: per-token hash work
    is O(k) (each window hashes a k-token slice; embarrassingly
    parallel, zero extra passes over the corpus), and candidate
    aggregation shuffles ONE narrow (doc, start, hash) row per token
    (~20 bytes — ≈ the token bytes themselves) instead of one per
    ``stride`` tokens. Map-side partial aggregation collapses
    repeated windows (boilerplate) before the exchange; singleton
    window groups — the overwhelming majority — are dropped at the
    aggregate, so the join-back and the per-doc cut collection see
    only genuinely duplicated windows. First-occurrence selection is
    a min-struct aggregation (AQE-skew-splittable), never a window
    over the span hash. The rebuild is the shared O(tokens + cuts)
    merged-interval pass.

    ``hash_engine="arrow"`` swaps the dominant window-hash stage for
    an Arrow-batched rolling polynomial (O(tokens) instead of
    O(tokens × k); _window_hash_rows_arrow) — tokenization and every
    downstream join stay identical, and the two engines produce the
    same final output (differential-tested). The default ``"auto"``
    picks by the measured crossover: catalyst (all-JVM, whole-stage
    codegen) below ``_AUTO_ARROW_MIN_K`` tokens, arrow at or above
    it, where the O(tokens × k) slice-hash term overtakes Arrow's
    fixed serialization toll (4× faster by k=512; see the
    measurement note on the constant).

    Returns (doc id, n_tokens, kept_tokens, new_text), one row per
    input document (docs shorter than ``k_tokens`` pass through
    unchanged).
    """
    if hash_engine == "auto":
        hash_engine = "arrow" if k_tokens >= _AUTO_ARROW_MIN_K else "catalyst"
    toks = F.filter(tokens(text_col), lambda x: x != F.lit(""))
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("__doc"), toks.alias("__toks")
    )
    n = F.size("__toks")
    if hash_engine == "catalyst":
        wins = (
            base.filter(n >= k_tokens)
            .select(
                "__doc",
                F.explode(F.sequence(F.lit(0), n - k_tokens)).alias("__s"),
                F.col("__toks"),
            )
            .select(
                "__doc",
                "__s",
                F.xxhash64(
                    F.slice("__toks", F.col("__s") + 1, k_tokens)
                ).alias("__h"),
            )
        )
    elif hash_engine == "arrow":
        # O(tokens) rolling-hash window stage instead of O(tokens x k)
        # slice hashing — tokenization stays in Catalyst so parity is
        # structural; see _window_hash_rows_arrow
        wins = _window_hash_rows_arrow(base.filter(n >= k_tokens), k_tokens)
    else:
        raise ValueError(
            f"hash_engine must be 'auto', 'catalyst' or 'arrow', got {hash_engine!r}"
        )
    firsts = wins.groupBy("__h").agg(
        F.min(F.struct("__doc", "__s")).alias("__f"),
        F.count("*").alias("__nocc"),
    )
    cuts = (
        wins.join(firsts.filter(F.col("__nocc") > 1).drop("__nocc"), "__h")
        .filter(F.struct("__doc", "__s") != F.col("__f"))
        .groupBy("__doc")
        .agg(F.collect_list("__s").alias("__cuts"))
    )
    return _rebuild_from_cuts(base, cuts, id_col, k_tokens)


def _doc_bigram_pairs(df, text_col: str, id_col: str):
    """(doc, w1, w2) — one row per adjacent-bigram INSTANCE, shuffle-
    free (explode is map-side).

    Lambda-free adjacent pairing: arrays_zip each token with its
    successor (null-padded on the last token) and explode — HOF
    lambdas (zip_with + struct) evaluate interpreted per element,
    outside whole-stage codegen, and were the hottest term in the
    bigram-LM profile. Empty tokens cannot appear mid-array (tokens()
    trims before splitting on whitespace), and the lone [""] of a
    whitespace-only document is excluded by the size >= 2 filter, so
    no pre-filter lambda is needed."""
    from xetl_spark.operators.util import ensure_parallelism

    t = tokens(text_col)
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        t.alias("__t"),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))).alias("__t2"),
    )
    return (
        base.filter(F.size("__t") >= 2)
        .select(
            "doc",
            F.explode(F.arrays_zip(F.col("__t"), F.col("__t2"))).alias("__b"),
        )
        .filter(F.col("__b.__t2").isNotNull())
        .select(
            "doc",
            F.col("__b.__t").alias("w1"),
            F.col("__b.__t2").alias("w2"),
        )
    )


def _doc_bigram_counts(df, text_col: str, id_col: str):
    """(doc, w1, w2, bf) — per-document adjacent-bigram counts. One
    keyed shuffle (collapsing each document's repeats map-side)."""
    return (
        _doc_bigram_pairs(df, text_col, id_col)
        .groupBy("doc", "w1", "w2")
        .agg(F.count("*").alias("bf"))
    )


def bigram_logprob(df, text_col: str, id_col: str, k_smooth: float = 1.0):
    """Per-document mean negative log-likelihood under a Laplace-
    smoothed corpus bigram model — one rung up the n-gram ladder from
    unigram_logprob, with the same exactly-SQL-verifiable determinism
    (a production pipeline swaps in KenLM; the dataflow is identical).

    P(w2|w1) = (C(w1,w2) + k) / (C(w1·) + k·V), where C(w1·) counts
    w1 as a bigram head and V is the corpus unigram vocabulary.

    Scale shape mirrors unigram_logprob: per-(doc,bigram) counts first
    (one keyed shuffle collapsing repeats), corpus counts C(w1,w2) and
    C(w1·) as ``groupBy`` aggregations joined back (map-side partials
    collapse hot heads like "the"; the joins are AQE-skew-splittable —
    windows over (w1,w2)/(w1) would pin each hot head's rows on one
    unsplittable task at 100 TB), no vocabulary-sized broadcast, V as
    a one-row broadcast. Returns (doc, n_bigrams, avg_nll) for
    documents with ≥1 bigram.
    """
    from xetl_spark.operators.util import ensure_parallelism

    bf = _doc_bigram_counts(df, text_col, id_col)
    g12 = bf.groupBy("w1", "w2").agg(F.sum("bf").alias("c12"))
    # c1 derives from g12 (vocabulary-sized), and is attached to g12
    # BEFORE the corpus-side join: the per-(doc,bigram) table then
    # shuffles once on (w1,w2) instead of twice ((w1,w2) then again on
    # the skewed w1) — one full corpus exchange saved, same values
    g1 = g12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    ratios = g12.join(g1, "w1")
    vocab = (
        ensure_parallelism(df)
        .select(F.explode(tokens(text_col)).alias("__w"))
        .filter(F.col("__w") != "")
        .agg(F.countDistinct("__w").alias("__v"))
    )
    k = F.lit(float(k_smooth))
    return (
        bf.join(ratios, ["w1", "w2"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc")
        .agg(
            F.sum("bf").alias("n_bigrams"),
            (
                F.sum(
                    F.col("bf")
                    * -F.log(
                        (F.col("c12") + k) / (F.col("c1") + k * F.col("__v"))
                    )
                )
                / F.sum("bf")
            ).alias("avg_nll"),
        )
    )


def kn_bigram_logprob(
    df,
    text_col: str,
    id_col: str,
    discount: float = 0.75,
    fit_fraction: float = 1.0,
    fit_df=None,
):
    """Per-document mean NLL under an interpolated Kneser-Ney bigram
    model — the smoothing real n-gram LMs (KenLM) actually use,
    replacing Laplace's uniform prior with the continuation-count
    backoff, still exactly SQL-verifiable:

        P(w2|w1) = max(C(w1,w2) − d, 0)/C(w1·)
                 + d·N1+(w1,·)/C(w1·) · N1+(·,w2)/N1+(··)

    where N1+(w1,·) counts distinct continuations of w1, N1+(·,w2)
    distinct contexts of w2, and N1+(··) the distinct-bigram total.

    **Fit corpus vs scoring corpus (the CCNet shape).** By default the
    model is fit on the scored corpus itself, so every scored bigram
    is observed (C≥1 > d), the backoff term interpolates rather than
    rescues zeros, and log P is always finite. At 100 TB that makes
    the model aggregations corpus×vocabulary exchanges — but the
    production recipe (CCNet: Wenzek et al. 2019) trains the LM on a
    bounded target domain or sample and scores the full corpus
    map-only against the broadcast model. ``fit_df`` supplies an
    explicit reference/domain corpus (same text/id columns);
    otherwise ``fit_fraction`` < 1 fits on a DETERMINISTIC
    content-hash sample of ``df`` (pmod(xxhash64(text)) — partition-
    layout independent, same convention as the sampling operators).
    The model tables then scale with the fit sample, AQE turns the
    scoring joins into broadcasts, and the scoring side skips the
    (doc, bigram) pre-aggregation entirely — raw exploded instances
    flow map-only through the broadcast joins into per-doc partial
    aggregates, so the scoring pass's only exchange is one row per
    doc per partition (measured: SHUFFLE.md q_text_kn_sampled_fit).
    Bigrams unseen by the fit model
    back off exactly as the KN recursion prescribes — unseen head →
    pure continuation probability P_cont(w2); unseen tail → half the
    minimal observed continuation mass 0.5/N1+(··) (finite, below
    every observed word; the <unk> continuation-floor convention).
    At fit_fraction=1.0 no fallback can fire and the result is
    bit-identical to the self-fit model (the driver-oracle H row).

    Scale shape: identical discipline to bigram_logprob — the
    per-(doc,bigram) table shuffles ONCE on (w1,w2); all corpus
    statistics are ``groupBy`` aggregations over the vocabulary-sized
    g12 table (map-side partials collapse hot heads; the join-backs
    are AQE-skew-splittable; no window functions, no vocabulary-sized
    broadcast); N1+(··) is a one-row broadcast. The only addition over
    bigram_logprob is the w2-keyed continuation join — vocabulary-
    sized, not corpus-sized. Returns (doc, n_bigrams, avg_nll) for
    documents with ≥1 bigram.
    """
    self_fit = fit_df is None and fit_fraction >= 1.0
    if fit_df is not None:
        fit_bf = _doc_bigram_counts(fit_df, text_col, id_col)
    elif not self_fit:
        keep = F.pmod(F.xxhash64(F.col(text_col)), F.lit(1_000_000)) < int(
            fit_fraction * 1_000_000
        )
        fit_bf = _doc_bigram_counts(df.filter(keep), text_col, id_col)
    else:
        fit_bf = _doc_bigram_counts(df, text_col, id_col)
    if self_fit:
        # Materialize the shared subtrees ONCE (r14 optimization round,
        # guide §1.2/§2.4): in the self-fit shape fit_bf is referenced
        # by the model chain AND as the scored side, and g12 by four
        # consumers (heads/tails/totals/scoring join) — as plain lazy
        # plans Catalyst duplicates the whole tokenize→explode→shuffle
        # pipeline per reference (measured: FOUR full corpus scans in
        # the physical plan; no exchange reuse fires because the
        # partial-aggregate heads differ). Lazy localCheckpoint (NOT
        # persist: a CacheManager entry is matched by canonicalized
        # logical plan, so a later identical invocation would silently
        # read this one's cache — cross-invocation memoization the
        # bench contract forbids; an RDD checkpoint is private to this
        # plan and freed by the ContextCleaner when unreferenced)
        # computes each exactly once. Measured at sf0.1 (best-of-3,
        # noop sink): 2.65s → 1.45s with the model fold below.
        fit_bf = fit_bf.localCheckpoint(eager=False)
    g12 = fit_bf.groupBy("w1", "w2").agg(F.sum("bf").alias("c12"))
    if self_fit:
        g12 = g12.localCheckpoint(eager=False)
    heads = g12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1p_head")
    )
    tails = g12.groupBy("w2").agg(F.count("*").alias("n1p_tail"))
    totals = g12.agg(F.count("*").alias("n1p_total"))
    d = F.lit(float(discount))
    # Empty-fit-model guard: a content-hash sample of a tiny corpus (or
    # a degenerate fit_df) can contain zero documents with >= 2 tokens,
    # making n1p_total 0 — under ANSI mode the pcont division then dies
    # with an opaque DIVIDE_BY_ZERO mid-stage. assert_true returns NULL
    # when the model is non-empty, so the coalesce falls through to the
    # real pcont; an empty model raises this message instead. Coalesce
    # evaluates its arguments in order, so the assertion always fires
    # before the division can.
    total_ok = F.assert_true(
        F.col("n1p_total") > 0,
        F.lit(
            "kn_bigram_logprob: empty fit model — no document in the "
            "fit sample/fit_df has >= 2 tokens; raise fit_fraction or "
            "supply a non-empty fit_df"
        ),
    )
    pcont = F.coalesce(
        total_ok.cast("double"),
        F.coalesce(F.col("n1p_tail"), F.lit(0.5)) / F.col("n1p_total"),
    )
    p = F.when(
        F.col("c1").isNull(), pcont  # head unseen by the fit model
    ).otherwise(
        F.greatest(F.coalesce(F.col("c12"), F.lit(0)) - d, F.lit(0.0))
        / F.col("c1")
        + (d * F.col("n1p_head") / F.col("c1")) * pcont
    )
    if self_fit:
        # the (doc, bigram) counts are already materialized for the
        # model — reuse them; sum is bf-weighted
        scored = fit_bf
        n = F.sum("bf")
        nll_sum = F.sum(F.col("bf") * -F.log(p))
        # Fold heads/tails INTO the (w1,w2)-keyed model before the
        # corpus-side join (r14; the same move bigram_logprob already
        # makes for c1): every scored bigram exists in g12 by
        # construction here, so attaching heads on w1 and tails on w2
        # at the VOCABULARY-sized model costs two small joins while the
        # corpus-sized scored table shuffles ONCE on (w1,w2) instead of
        # three times ((w1,w2), then skewed w1, then w2) — two full
        # corpus exchanges removed at any scale. NOT valid for the
        # sampled/fit_df path: a scored bigram absent from g12 can
        # still match heads (its w1 seen with another tail) or tails,
        # which a (w1,w2)-keyed fold would miss.
        model = g12.join(heads, "w1").join(tails, "w2")
        scored = scored.join(model, ["w1", "w2"], "left")
    else:
        # map-only scoring pass (the 100 TB shape): raw bigram
        # instances broadcast-join the fit-sized model tables with NO
        # corpus-keyed exchange — the only shuffle left is the per-doc
        # partial aggregation (one row per doc per partition)
        scored = (
            _doc_bigram_pairs(df, text_col, id_col)
            .join(g12, ["w1", "w2"], "left")
            .join(heads, "w1", "left")
            .join(tails, "w2", "left")
        )
        n = F.count(F.lit(1))
        nll_sum = F.sum(-F.log(p))
    return (
        scored.crossJoin(F.broadcast(totals))
        .groupBy("doc")
        .agg(
            n.alias("n_bigrams"),
            (nll_sum / n).alias("avg_nll"),
        )
    )


def perplexity_buckets(
    df,
    text_col: str,
    id_col: str,
    cuts: tuple[float, float] = (1 / 3, 2 / 3),
    exact: bool = True,
    discount: float = 0.75,
    round_dp: int | None = None,
    materialize: bool = True,
    fit_fraction: float = 1.0,
    fit_df=None,
):
    """CCNet-style perplexity bucketing: score every document with the
    interpolated Kneser-Ney bigram model (``kn_bigram_logprob``) and
    split the corpus into head / middle / tail at the ``cuts``
    percentiles of per-doc avg_nll — head = lowest NLL = most
    corpus-fluent, the split CCNet keeps/downsamples/drops.

    Thresholds are DISCRETE order statistics (the ⌈q·n⌉-th smallest
    scored value), never interpolated: an interpolated quantile mixes
    two neighboring doubles and its last ulp depends on the engine's
    expression order, which would make bucket membership of
    threshold-adjacent docs engine-dependent — the order statistic is
    an actual data value, so any engine that agrees on the scores
    agrees on the buckets. ``round_dp`` optionally rounds scores
    before bucketing for cross-engine determinism (the driver oracle
    uses 6dp, the grid the KN hash row already proved stable).

    Scale shape: scoring is the KN pipeline (one (doc,bigram) keyed
    shuffle + vocabulary-sized joins); the scored table is one row
    per document. ``exact=True`` sorts all n scores inside ONE
    aggregation buffer — 8 bytes × n_docs on a single task, fine to
    ~10^8 docs; at web scale flip ``exact=False`` for
    percentile_approx (bounded-memory mergeable sketch; thresholds
    then carry rank error ≤ 1/accuracy and are not bit-reproducible
    across partitionings). ``materialize=True`` eagerly
    local-checkpoints the scored table so the threshold pass does not
    recompute the KN pipeline — a checkpoint, not ``persist()``,
    because a CacheManager entry outlives the call (every invocation
    would leak a session-lifetime cached DataFrame), whereas
    checkpoint blocks are released by the ContextCleaner as soon as
    the returned frame is no longer referenced.
    ``fit_fraction``/``fit_df`` pass through to ``kn_bigram_logprob``:
    CCNet's actual deployment fits the LM on a bounded target domain
    (or sample) and scores the full corpus against the broadcast
    model — the model exchanges then scale with the fit set, not the
    corpus. Buckets are still cut at percentiles of the FULL scored
    corpus. Returns (doc, n_bigrams, avg_nll, bucket); docs with <2
    tokens are unscored, as in kn_bigram_logprob.
    """
    scored = kn_bigram_logprob(
        df, text_col, id_col, discount,
        fit_fraction=fit_fraction, fit_df=fit_df,
    )
    nll = (
        F.round("avg_nll", round_dp) if round_dp is not None else F.col("avg_nll")
    )
    scored = scored.withColumn("__nll", nll)
    if materialize:
        scored = scored.localCheckpoint(eager=True)
    q1, q2 = cuts
    if exact:
        th = scored.agg(
            F.sort_array(F.collect_list("__nll")).alias("__v")
        ).select(
            F.element_at(
                "__v",
                F.greatest(
                    F.ceil(F.size("__v") * F.lit(q1)).cast("int"), F.lit(1)
                ),
            ).alias("__t1"),
            F.element_at(
                "__v",
                F.greatest(
                    F.ceil(F.size("__v") * F.lit(q2)).cast("int"), F.lit(1)
                ),
            ).alias("__t2"),
        )
    else:
        th = scored.agg(
            F.percentile_approx("__nll", q1, 10_000).alias("__t1"),
            F.percentile_approx("__nll", q2, 10_000).alias("__t2"),
        )
    return (
        scored.crossJoin(F.broadcast(th))
        .withColumn(
            "bucket",
            F.when(F.col("__nll") <= F.col("__t1"), F.lit("head"))
            .when(F.col("__nll") <= F.col("__t2"), F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
        .select("doc", "n_bigrams", "avg_nll", "bucket")
    )


def ngram_novelty(df, text_col: str, id_col: str, n: int = 3):
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    word n-grams that appear in no other document — the
    memorization/duplication-pressure signal (a doc whose n-grams are
    all corpus-shared contributes nothing new to training; near-zero
    novelty flags boilerplate and mirrors, near-one flags unique
    content). The complement of the shared-n-gram mass the exact
    decontamination/jaccard family measures.

    Scale shape: one distinct-(doc, gram) explode (map-side distinct
    within each doc's row via array_distinct BEFORE the explode),
    corpus document-frequency as a groupBy(gram) aggregation joined
    back (map-side partials collapse boilerplate grams; the join is
    AQE-skew-splittable — the same de-skew discipline as tf_idf),
    then one per-doc aggregation. No vocabulary broadcast, no
    windows. Returns (doc, n_grams, novel_grams, novelty) for docs
    with ≥1 n-gram; short docs fall back to their full text as one
    shingle (the shingling convention).
    """
    from xetl_spark.operators.dedup import shingles

    grams = shingles(df, text_col, id_col, n).filter(
        F.col("shingle") != ""  # token-free docs have no grams
    )
    dfreq = grams.groupBy("shingle").agg(F.count("*").alias("gdf"))
    return (
        grams.join(dfreq, "shingle")
        .groupBy("doc")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("gdf") == 1, 1).otherwise(0)).alias(
                "novel_grams"
            ),
        )
        .select(
            "doc",
            "n_grams",
            "novel_grams",
            (F.col("novel_grams") / F.col("n_grams")).alias("novelty"),
        )
    )


def _hashed_feature_rows(
    df, text_col: str, id_col: str | None, num_buckets: int, flag=None
):
    """(doc, bucket) rows of hashed uni+bigram features — the DSIR
    feature map, bucket = pmod(xxhash64(feature), B).

    Deliberately lambda-free: an earlier form built a per-doc bucket
    array with filter/zip_with/transform and exploded it, but Catalyst
    higher-order functions evaluate their lambdas interpreted (outside
    whole-stage codegen), and the per-feature xxhash64+pmod inside a
    ``transform`` dominated the whole DSIR wall time. This shape —
    tokenize once, ``arrays_zip`` each token with its successor
    (null-padded), explode, then derive the unigram and bigram feature
    strings and hash them in codegen — produces bit-identical
    (doc, bucket) multisets ~3× faster at sf0.1.

    Empty tokens cannot appear mid-array (``tokens`` trims before
    splitting on whitespace); the only empty token is the lone [""]
    of a whitespace-only document, dropped by the post-explode filter
    exactly as the old pre-filter did.
    """
    t = tokens(text_col)
    doc = F.col(id_col) if id_col is not None else F.lit(0)
    carry = ["doc"] if flag is None else ["doc", "__flag"]
    sel = [
        doc.alias("doc"),
        t.alias("__t"),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))).alias("__t2"),
    ]
    if flag is not None:
        sel.append(flag.cast("boolean").alias("__flag"))
    base = ensure_parallelism(df).select(*sel)
    z = base.select(
        *carry, F.explode(F.arrays_zip(F.col("__t"), F.col("__t2"))).alias("__z")
    )
    w1, w2 = F.col("__z.__t"), F.col("__z.__t2")
    feats = z.select(
        *carry,
        F.explode(
            F.array(
                w1,
                F.when(
                    w2.isNotNull() & (w2 != ""),
                    F.concat(w1, F.lit(" "), w2),
                ),
            )
        ).alias("__f"),
    ).filter(F.col("__f").isNotNull() & (F.col("__f") != ""))
    return feats.select(
        *carry, F.pmod(F.xxhash64("__f"), F.lit(num_buckets)).alias("b")
    )


def dsir_logweights(
    raw,
    target,
    text_col: str,
    id_col: str,
    num_buckets: int = 10_000,
    materialize: bool = False,
    target_pred=None,
):
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how much its hashed-n-gram feature mix looks like the
    TARGET corpus rather than the raw corpus.

    logweight(doc) = Σ_f count_f(doc) · (ln p̂_target(f) − ln p̂_raw(f))
    over hashed uni+bigram buckets, both distributions Laplace-
    smoothed. Documents above ~0 are target-like; resampling/top-k on
    the weights is the selection step.

    Scale shape: BOTH corpora collapse into one ``num_buckets``-row
    histogram via a single tagged-union shuffle (key space bounded by
    B, not the corpus); the log-ratio table is B rows — broadcast-tiny
    by construction — joined map-side to the raw corpus's exploded
    features, then one doc-keyed aggregation (map-side partials bound
    stopword-bucket skew). No vocabulary-sized state anywhere. (A
    join-free variant scoring each doc's bucket array with a
    higher-order aggregate over a broadcast dense ratio array was
    measured 2.2× SLOWER at sf0.1 — lambda HOFs run interpreted,
    outside whole-stage codegen, so the vectorized explode+join wins;
    the feature map itself is likewise lambda-free, see
    ``_hashed_feature_rows``.)

    The per-doc feature rows feed two consumers (the histogram job
    and the scoring pass). By default (``materialize=False``) they are
    simply recomputed by each — tokenize+hash is a map-only stage, so
    the second pass costs CPU but no shuffle, no state, and nothing
    that breaks on executor loss. ``materialize=True`` instead pins
    the feature table with ``localCheckpoint(eager=True)``: tokenize
    runs once (the r6 plan audit found the double tokenize was the
    heaviest CPU term in the LLM suite), which wins at single-node /
    bounded SF — but the checkpoint is a corpus-sized second copy on
    executor LOCAL disks, non-replicated and lineage-breaking: an
    executor loss fails the job instead of recomputing, and at 100 TB
    the copy itself is prohibitive. Leave it off on large clusters.
    (localCheckpoint rather than persist(): the blocks are freed when
    the returned plan is garbage-collected, so repeated calls in a
    long-lived session don't accumulate registered cache entries no
    caller can safely unpersist — the incremental-dedup lesson from
    the r6 advice.)
    When the target corpus is a SUBSET of ``raw`` selectable by a row
    predicate (the common DSIR setup: "the English slice", "the wiki
    slice"), pass ``target_pred`` (a boolean Column over ``raw``'s
    rows) instead of a separate ``target`` DataFrame: the corpus is
    then tokenized ONCE with the flag carried through the explode, and
    both histograms fold in a single aggregation — no second tokenize
    pass, no union leg (r13: 12 → 7 stages for q_text_dsir_weights,
    bit-identical weights by construction since p_cnt = flagged
    feature count and q_cnt = all-raw feature count either way).

    Returns (doc, n_features, logweight).
    """
    from xetl_spark.operators.util import ensure_parallelism

    if target_pred is not None:
        flagged = _hashed_feature_rows(
            ensure_parallelism(raw), text_col, id_col, num_buckets,
            flag=target_pred,
        )
        if materialize:
            # lazy: the histogram collect below materializes the
            # checkpoint as a side effect — one fewer scheduled job
            flagged = flagged.localCheckpoint(eager=False)
        raw_feats = flagged.select("doc", "b")
        hist = flagged.groupBy("b").agg(
            F.sum(F.col("__flag").cast("long")).alias("p_cnt"),
            F.count("*").alias("q_cnt"),
        )
    else:
        raw_feats = _hashed_feature_rows(
            ensure_parallelism(raw), text_col, id_col, num_buckets
        )
        if materialize:
            raw_feats = raw_feats.localCheckpoint(eager=True)
        hist = (
            _hashed_feature_rows(
                ensure_parallelism(target), text_col, None, num_buckets
            )
            .select("b")
            .withColumn("__t", F.lit(1))
            .unionByName(raw_feats.select("b").withColumn("__t", F.lit(0)))
            .groupBy("b")
            .agg(
                F.sum("__t").alias("p_cnt"),
                F.sum(1 - F.col("__t")).alias("q_cnt"),
            )
        )
    # the histogram is EXACTLY <= num_buckets rows by construction
    # (bucket = pmod(hash, B)), so the log-ratio table is computed
    # driver-side — the same bounded-collect class as classifier.py's
    # <=num_features rows — instead of a totals aggregation + scalar
    # cross-join, which cost two extra stages and a second hist
    # traversal (r13 trim: 10 -> ~7 stages at sf0.1).
    import math

    hrows = hist.collect()
    p_tot = float(sum(r["p_cnt"] for r in hrows))
    q_tot = float(sum(r["q_cnt"] for r in hrows))
    b = float(num_buckets)
    ratio_rows = [
        (
            int(r["b"]),
            math.log((r["p_cnt"] + 1.0) / (p_tot + b))
            - math.log((r["q_cnt"] + 1.0) / (q_tot + b)),
        )
        for r in hrows
    ]
    ratio = raw.sparkSession.createDataFrame(
        ratio_rows, "b long, log_ratio double"
    )
    return (
        raw_feats.join(F.broadcast(ratio), "b")
        .groupBy("doc")
        .agg(
            F.count("*").alias("n_features"),
            F.sum("log_ratio").alias("logweight"),
        )
    )
