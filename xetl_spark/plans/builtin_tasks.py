"""Built-in task library.

Each task is the Spark-native re-expression of a reference fixture
task class (SURVEY.md §2-B provenance table): download → read/ingest,
parser → typed scans + expressions, splitter → partitioned sink,
grep/filter → predicate filter, awk/echo → projection, plus the
relational verbs a pipeline spec needs (sql, join, aggregate, dedup).

Env interfaces are declared with the same typed-input machinery the
reference validates (task.py:139-158) — fail-fast, defaults, strict
types.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xetl_spark.plans.registry import task
from xetl_spark.plans.runner import StageContext
from xetl_spark.sources.io import read_any, write_any

_PATH = {"PATH": {"description": "file/directory URI", "type": "string"}}

# perplexity_filter FIT_FRACTION=auto: corpora up to this many docs get
# the exact full self-fit; beyond it the KN fit set is capped at ~this
# many docs (content-hash sample) so the model exchanges scale with the
# sample, not the corpus. Module-level so tests can pin it low.
PPL_AUTO_FIT_TARGET = 100_000


@task(
    "read_parquet",
    "Scan a parquet table",
    env=_PATH,
    # shipped golden cases (run via --run-task-tests): source tasks can
    # self-test against the fixture corpus with no pipeline context
    tests=[
        {"env": {"PATH": "/root/testdata/sf0.001/region.parquet"},
         "verify_sql": "SELECT count(*) = 5 FROM result"},
        {"env": {"PATH": "/root/testdata/sf0.001/nation.parquet"},
         "verify_sql": "SELECT count(*) = 25 AND min(n_nationkey) = 0 FROM result"},
    ],
)
def read_parquet(ctx: StageContext):
    return ctx.spark.read.parquet(str(ctx.env["PATH"]))


@task(
    "read_csv",
    "Scan CSV with header/delimiter options",
    env={
        **_PATH,
        "HEADER": {"description": "first line is a header", "type": "bool", "default": True},
        "SEP": {"description": "field delimiter", "type": "string", "default": ","},
        "SCHEMA": {"description": "DDL schema (inference off when set)", "type": "string", "required": False},
    },
)
def read_csv(ctx: StageContext):
    reader = ctx.spark.read.option("header", bool(ctx.env["HEADER"])).option(
        "sep", str(ctx.env["SEP"])
    )
    schema = ctx.env.get("SCHEMA")
    if schema:
        reader = reader.schema(str(schema))
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(str(ctx.env["PATH"]))


@task(
    "read_json",
    "Scan JSON-lines",
    env={**_PATH, "SCHEMA": {"description": "DDL schema", "type": "string", "required": False}},
)
def read_json(ctx: StageContext):
    reader = ctx.spark.read
    schema = ctx.env.get("SCHEMA")
    if schema:
        reader = reader.schema(str(schema))
    return reader.json(str(ctx.env["PATH"]))


@task("read_text", "Scan line-oriented text", env=_PATH)
def read_text(ctx: StageContext):
    return ctx.spark.read.text(str(ctx.env["PATH"]))


@task(
    "download",
    "Ingest a URL into the pipeline (reference `download` task parity)",
    env={
        "URL": {"description": "source URL", "type": "string"},
        "FORMAT": {"description": "payload format", "type": "string", "default": "parquet"},
    },
)
def download(ctx: StageContext):
    from xetl_spark.sources.url import ingest_url

    yield None
    return ingest_url(ctx.spark, str(ctx.env["URL"]), fmt=str(ctx.env["FORMAT"]))


@task(
    "sql",
    "Free-form SQL over prior stage outputs (temp views by command name)",
    env={"QUERY": {"description": "SQL text; {ENV} placeholders substituted", "type": "string"}},
    tests=[
        {"env": {"QUERY": "SELECT 1 + 1 AS two"},
         "verify_sql": "SELECT two = 2 FROM result"},
    ],
)
def sql(ctx: StageContext):
    return ctx.sql(str(ctx.env["QUERY"]))


@task(
    "filter",
    "Keep rows matching a SQL predicate (grep parity)",
    env={
        "PREDICATE": {"description": "boolean SQL expression", "type": "string"},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def filter_rows(ctx: StageContext):
    return ctx.input_df().filter(F.expr(str(ctx.env["PREDICATE"])))


@task(
    "select",
    "Project columns/expressions (awk '{print $2}' parity)",
    env={
        "COLUMNS": {"description": "comma-separated SQL expressions", "type": "string"},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def select_columns(ctx: StageContext):
    cols = [c.strip() for c in str(ctx.env["COLUMNS"]).split(",") if c.strip()]
    return ctx.input_df().selectExpr(*cols)


@task(
    "limit",
    "Keep the first N rows (requires ORDER_BY for determinism)",
    env={
        "N": {"description": "row count", "type": "int"},
        "ORDER_BY": {"description": "comma-separated sort expressions", "type": "string", "required": False},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def limit_rows(ctx: StageContext):
    df = ctx.input_df()
    order = ctx.env.get("ORDER_BY")
    if order:
        df = df.orderBy(*[F.expr(e.strip()) for e in str(order).split(",")])
    return df.limit(int(ctx.env["N"]))  # type: ignore[arg-type]


@task(
    "join",
    "Join two prior stages",
    env={
        "LEFT": {"description": "left stage name", "type": "string"},
        "RIGHT": {"description": "right stage name", "type": "string"},
        "ON": {"description": "comma-separated join columns", "type": "string"},
        "HOW": {"description": "join type", "type": "string", "default": "inner"},
        "BROADCAST_RIGHT": {"description": "broadcast the right side", "type": "bool", "default": False},
    },
)
def join_stages(ctx: StageContext):
    left = ctx.input_df("LEFT")
    right = ctx.input_df("RIGHT")
    if ctx.env["BROADCAST_RIGHT"]:
        right = F.broadcast(right)
    on = [c.strip() for c in str(ctx.env["ON"]).split(",")]
    return left.join(right, on=on, how=str(ctx.env["HOW"]))


@task(
    "aggregate",
    "Group-by aggregation with SQL aggregate expressions",
    env={
        "GROUP_BY": {"description": "comma-separated grouping columns ('' = global)", "type": "string", "default": ""},
        "AGGS": {"description": "comma-separated aggregate expressions with aliases", "type": "string"},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def aggregate_stage(ctx: StageContext):
    df = ctx.input_df()
    aggs = [F.expr(a.strip()) for a in str(ctx.env["AGGS"]).split(",") if a.strip()]
    keys = [k.strip() for k in str(ctx.env["GROUP_BY"]).split(",") if k.strip()]
    return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)


@task(
    "dedup",
    "Deterministic dedup: first row per key under ORDER_BY",
    env={
        "KEYS": {"description": "comma-separated key columns", "type": "string"},
        "ORDER_BY": {"description": "comma-separated sort expressions", "type": "string"},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def dedup_stage(ctx: StageContext):
    from xetl_spark.operators import dedup_keep_first

    keys = [k.strip() for k in str(ctx.env["KEYS"]).split(",")]
    order = [F.expr(e.strip()) for e in str(ctx.env["ORDER_BY"]).split(",")]
    return dedup_keep_first(ctx.input_df(), keys, order)


@task(
    "repartition",
    "Repartition / coalesce (splitter parity without writing)",
    env={
        "N": {"description": "target partition count", "type": "int"},
        "BY": {"description": "comma-separated hash keys", "type": "string", "required": False},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def repartition_stage(ctx: StageContext):
    df = ctx.input_df()
    n = int(ctx.env["N"])  # type: ignore[arg-type]
    by = ctx.env.get("BY")
    if by:
        return df.repartition(n, *[c.strip() for c in str(by).split(",")])
    return df.repartition(n)


def _write(ctx: StageContext, fmt: str):
    df = ctx.input_df()
    yield df
    part = ctx.env.get("PARTITION_BY")
    # ride the write action with an Observation: row count lands in the
    # run report for free (no second scan / no count() action)
    from pyspark.sql import Observation

    obs = Observation()
    write_any(
        df.observe(obs, F.count(F.lit(1)).alias("rows")),
        str(ctx.env["PATH"]),
        fmt=fmt,
        mode=str(ctx.env["MODE"]),
        partition_by=[p.strip() for p in str(part).split(",")] if part else None,
        **({"header": True} if fmt == "csv" else {}),
    )
    ctx.metrics["rows"] = int(obs.get["rows"])
    return df


_WRITE_ENV = {
    **_PATH,
    "MODE": {"description": "save mode", "type": "string", "default": "overwrite"},
    "PARTITION_BY": {"description": "partition columns (splitter parity)", "type": "string", "required": False},
    "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
}


@task("write_parquet", "Materialize to parquet (partitioned sink)", env=_WRITE_ENV)
def write_parquet(ctx: StageContext):
    return _write(ctx, "parquet")


@task("write_csv", "Materialize to CSV", env=_WRITE_ENV)
def write_csv(ctx: StageContext):
    return _write(ctx, "csv")


@task("write_json", "Materialize to JSON-lines", env=_WRITE_ENV)
def write_json(ctx: StageContext):
    return _write(ctx, "json")


@task(
    "read_avro",
    "Scan Avro container files (pure-Python codec, no spark-avro jar)",
    env=_PATH,
)
def read_avro(ctx: StageContext):
    from xetl_spark.sources.avro import register_avro_datasource

    register_avro_datasource(ctx.spark)
    return (
        ctx.spark.read.format("xetl_avro")
        .option("path", str(ctx.env["PATH"]))
        .load()
    )


@task(
    "write_avro",
    "Materialize to Avro container files (one per partition, deflate)",
    env={
        "PATH": {"description": "destination directory", "type": "string"},
        "CODEC": {
            "description": "null|deflate|snappy",
            "type": "string",
            "default": "deflate",
        },
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def write_avro_task(ctx: StageContext):
    from xetl_spark.sources.avro import write_avro

    df = ctx.input_df()
    yield df
    write_avro(df, str(ctx.env["PATH"]), codec=str(ctx.env["CODEC"]))
    return df


@task(
    "read_warc",
    "Scan WARC / WARC.gz web archives (Common Crawl layout): one row "
    "per record with HTTP responses split into status/headers/body",
    env=_PATH,
)
def read_warc(ctx: StageContext):
    from xetl_spark.sources.warc import register_warc_datasource

    register_warc_datasource(ctx.spark)
    return (
        ctx.spark.read.format("xetl_warc")
        .option("path", str(ctx.env["PATH"]))
        .load()
    )


@task(
    "html_to_text",
    "Extract readable text from an HTML column (Catalyst regexp chain: "
    "strips script/style/comments/tags, decodes entities)",
    env={
        "COLUMN": {"description": "HTML string column", "type": "string"},
        "OUTPUT_COLUMN": {
            "description": "extracted-text column name",
            "type": "string",
            "default": "text",
        },
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def html_to_text_task(ctx: StageContext):
    from xetl_spark.operators.text import html_to_text

    df = ctx.input_df()
    return df.withColumn(
        str(ctx.env["OUTPUT_COLUMN"]), html_to_text(str(ctx.env["COLUMN"]))
    )


@task(
    "c4_filter",
    "C4 cleaning heuristics (Raffel et al. 2020): keep lines ending in "
    "terminal punctuation with >=3 words and no 'javascript'; flag "
    "lorem-ipsum/brace pages and a min-sentence gate. Adds counters, "
    "keep_doc, and clean_text; KEEP_ONLY=true drops rejected docs",
    env={
        "COLUMN": {"description": "text column", "type": "string", "default": "text"},
        "ID_COLUMN": {"description": "row-identity column", "type": "string", "default": "doc_id"},
        "MIN_SENTENCES": {"description": "page-level sentence floor", "type": "int", "default": 5},
        "KEEP_ONLY": {"description": "drop docs failing the page rules", "type": "bool", "default": False},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def c4_filter_task(ctx: StageContext):
    from pyspark.sql import functions as F

    from xetl_spark.operators.text import c4_line_filter

    df = ctx.input_df()
    id_col = str(ctx.env["ID_COLUMN"])
    out = c4_line_filter(
        df,
        str(ctx.env["COLUMN"]),
        id_col,
        min_sentences=int(ctx.env["MIN_SENTENCES"]),  # type: ignore[arg-type]
    )
    joined = df.join(out, id_col)
    if bool(ctx.env["KEEP_ONLY"]):
        joined = joined.filter(F.col("keep_doc"))
    return joined


@task(
    "repetition_signals",
    "Gopher-style repetition quality signals (Rae et al. 2021): "
    "duplicate-line count/char coverage and top-/duplicated-n-gram "
    "char coverage per document, joined onto the input (shuffle-free "
    "map stage)",
    env={
        "COLUMN": {"description": "text column", "type": "string", "default": "text"},
        "ID_COLUMN": {"description": "row-identity column", "type": "string", "default": "doc_id"},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def repetition_signals_task(ctx: StageContext):
    from xetl_spark.operators.text import repetition_signals

    df = ctx.input_df()
    id_col = str(ctx.env["ID_COLUMN"])
    sig = repetition_signals(df, str(ctx.env["COLUMN"]), id_col)
    return df.join(sig, id_col)


@task(
    "text_signals",
    "Attach corpus-quality signal columns: heuristic quality score, "
    "language guess, token count, Flesch readability, Unicode script "
    "counts, char entropy — the gate inputs for threshold filtering "
    "(pair with the sql task). All shuffle-free map work except "
    "entropy (one id-keyed join)",
    env={
        "COLUMN": {"description": "text column", "type": "string", "default": "text"},
        "ID_COLUMN": {"description": "row-identity column", "type": "string", "default": "doc_id"},
        "SIGNALS": {
            "description": "comma list from quality,langid,tokens,readability,script,entropy",
            "type": "string",
            "default": "quality,langid,tokens,readability,script,entropy",
        },
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def text_signals_task(ctx: StageContext):
    from pyspark.sql import functions as F

    from xetl_spark.operators import text as T

    df = ctx.input_df()
    col = str(ctx.env["COLUMN"])
    id_col = str(ctx.env["ID_COLUMN"])
    known = {"quality", "langid", "tokens", "readability", "script", "entropy"}
    sigs = {s.strip() for s in str(ctx.env["SIGNALS"]).split(",") if s.strip()}
    unknown = sigs - known
    if unknown:
        raise ValueError(
            f"text_signals: unknown SIGNALS {sorted(unknown)}; valid: {sorted(known)}"
        )
    # sig_-prefixed names so corpus columns (lang, n_tokens, ...) are
    # never silently clobbered
    if "quality" in sigs:
        df = df.withColumn("sig_quality", T.quality_score(col))
    if "langid" in sigs:
        df = df.withColumn("sig_lang", T.language_id(col))
    if "tokens" in sigs:
        df = df.withColumn("sig_tokens", T.token_count(col))
    if "readability" in sigs:
        df = df.withColumn("sig_flesch", F.round(T.flesch_reading_ease(col), 4))
    if "script" in sigs:
        # expand the struct under the same sig_ prefix — a bare
        # select("*", "__s.*") would emit latin_chars/digit_chars/...
        # unprefixed and collide with same-named corpus columns
        df = df.withColumn("__s", T.script_char_counts(col))
        script_fields = df.schema["__s"].dataType.fieldNames()
        df = df.select(
            "*",
            *[
                F.col(f"__s.{name}").alias(f"sig_{name}")
                for name in script_fields
            ],
        ).drop("__s")
    if "entropy" in sigs:
        ent = T.char_entropy(df, col, id_col).select(
            F.col("doc").alias(id_col),
            F.round("entropy", 6).alias("sig_entropy"),
        )
        df = df.join(ent, id_col)
    return df


@task(
    "decontaminate",
    "Benchmark decontamination against a held-out EVAL stage: "
    "MODE=fuzzy drops corpus rows that MinHash-near-duplicate any "
    "eval row (paraphrase-robust, banded corpus x eval join, eval "
    "side broadcast); MODE=exact drops rows sharing >= MIN_OVERLAP "
    "distinct word NGRAM-grams with the eval set (GPT-3/Llama-style "
    "n-gram overlap, one broadcast equi-join)",
    env={
        "EVAL": {"description": "eval/holdout stage name", "type": "string"},
        "COLUMN": {"description": "text column", "type": "string", "default": "text"},
        "ID_COLUMN": {"description": "row-identity column", "type": "string", "default": "doc_id"},
        "MODE": {"description": "fuzzy | exact", "type": "string", "default": "fuzzy"},
        "THRESHOLD": {"description": "fuzzy jaccard bar", "type": "float", "default": 0.8},
        "NGRAM": {"description": "exact-mode word n-gram size", "type": "int", "default": 3},
        "MIN_OVERLAP": {"description": "exact-mode shared-n-gram bar", "type": "int", "default": 2},
        "INPUT": {"description": "corpus stage to filter", "type": "string", "required": False},
    },
)
def decontaminate_task(ctx: StageContext):
    from pyspark.sql import functions as F

    corpus = ctx.input_df()
    ev = ctx.input_df("EVAL")
    col = str(ctx.env["COLUMN"])
    id_col = str(ctx.env["ID_COLUMN"])
    mode = str(ctx.env["MODE"])
    if mode == "fuzzy":
        from xetl_spark.operators.dedup import fuzzy_decontaminate

        flagged = fuzzy_decontaminate(
            corpus,
            ev,
            col,
            id_col,
            threshold=float(ctx.env["THRESHOLD"]),  # type: ignore[arg-type]
        )
    elif mode == "exact":
        from xetl_spark.operators.dedup import contamination_check

        flagged = contamination_check(
            corpus,
            ev,
            col,
            id_col,
            n=int(ctx.env["NGRAM"]),  # type: ignore[arg-type]
            min_overlap=int(ctx.env["MIN_OVERLAP"]),  # type: ignore[arg-type]
        )
    else:
        raise ValueError(f"decontaminate: MODE must be fuzzy or exact, got {mode!r}")
    ids = flagged.select(F.col("doc").alias(id_col))
    return corpus.join(ids, id_col, "left_anti")


@task(
    "normalize_text",
    "Encoding repair + Unicode normalization (ftfy/CCNet-style): fix "
    "UTF-8-as-latin-1/cp1252 mojibake, apply NFC/NFKC, strip control "
    "characters and canonicalize whitespace, optionally fold "
    "typographic punctuation to ASCII. Map-only (zero shuffles); "
    "rewrites COLUMN in place",
    env={
        "COLUMN": {"description": "text column", "type": "string", "default": "text"},
        "FORM": {"description": "NFC | NFKC | none", "type": "string", "default": "NFC"},
        "FIX_ENCODING": {"description": "repair mojibake first", "type": "bool", "default": True},
        "FOLD_PUNCT": {"description": "fold curly quotes/dashes/spaces to ASCII", "type": "bool", "default": False},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def normalize_text_task(ctx: StageContext):
    from xetl_spark.operators.encoding import normalized_text_column

    df = ctx.input_df()
    col = str(ctx.env["COLUMN"])
    return df.withColumn(
        col,
        normalized_text_column(
            col,
            form=str(ctx.env["FORM"]),
            repair_encoding=bool(ctx.env["FIX_ENCODING"]),
            fold_punct=bool(ctx.env["FOLD_PUNCT"]),
        ),
    )


@task(
    "doc_text",
    "Extract plain text from PDF / DOCX / EPUB payloads in a binary "
    "column (pure-Python extractors, Arrow-batched mapInPandas; "
    "per-row typed errors land in an `err` column, never fail the job)",
    env={
        "COLUMN": {"description": "binary payload column", "type": "string"},
        "ID_COLUMN": {
            "description": "row-identity column carried through",
            "type": "string",
            "default": "doc_id",
        },
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def doc_text_task(ctx: StageContext):
    from xetl_spark.operators.multimodal import extract_document_text

    return extract_document_text(
        ctx.input_df(),
        media_col=str(ctx.env["COLUMN"]),
        id_col=str(ctx.env["ID_COLUMN"]),
    )


@task(
    "quality_filter",
    "Model-based corpus filter (CCNet/fastText recipe): train the "
    "distributed hashed-n-gram logistic regression on a labeled stage, "
    "score this stage, keep rows at/above THRESHOLD (score kept in "
    "quality_prob)",
    env={
        "TRAIN": {"description": "labeled training stage name", "type": "string"},
        "COLUMN": {"description": "text column", "type": "string", "default": "text"},
        "LABEL": {"description": "0/1 label column in TRAIN", "type": "string", "default": "label"},
        "ID_COLUMN": {"description": "row-identity column", "type": "string", "default": "doc_id"},
        "THRESHOLD": {"description": "keep rows with prob >= this", "type": "float", "default": 0.5},
        "ITERS": {"description": "GD iterations", "type": "int", "default": 20},
        "FEATURES": {"description": "hash buckets", "type": "int", "default": 1 << 15},
        "INPUT": {"description": "corpus stage to filter", "type": "string", "required": False},
    },
)
def quality_filter_task(ctx: StageContext):
    from pyspark.sql import functions as F

    from xetl_spark.operators.classifier import (
        score_quality,
        train_quality_classifier,
    )

    text_col = str(ctx.env["COLUMN"])
    id_col = str(ctx.env["ID_COLUMN"])
    model = train_quality_classifier(
        ctx.input_df("TRAIN"),
        text_col,
        str(ctx.env["LABEL"]),
        id_col,
        num_features=int(ctx.env["FEATURES"]),  # type: ignore[arg-type]
        iters=int(ctx.env["ITERS"]),  # type: ignore[arg-type]
    )
    corpus = ctx.input_df()
    scored = score_quality(corpus, model, text_col, id_col).withColumnRenamed(
        "id", id_col
    )
    return corpus.join(
        scored.where(F.col("quality_prob") >= float(ctx.env["THRESHOLD"])),  # type: ignore[arg-type]
        id_col,
    )


@task(
    "perplexity_filter",
    "CCNet perplexity split: score docs with the corpus's own "
    "Kneser-Ney bigram LM, bucket head/middle/tail at the 1/3 and "
    "2/3 order statistics of avg_nll (head = most fluent), and keep "
    "only the KEEP buckets (KEEP=all annotates without dropping). "
    "Adds ppl_bucket and ppl_avg_nll columns; docs with <2 tokens "
    "are unscored and dropped unless KEEP=all",
    env={
        "TEXT_COL": {"description": "text column", "type": "string", "default": "text"},
        "ID_COL": {"description": "unique id column", "type": "string", "default": "doc_id"},
        "KEEP": {
            "description": "comma list from head,middle,tail — or all",
            "type": "string",
            "default": "head,middle",
        },
        "EXACT": {
            "description": "exact order-statistic thresholds (False = percentile_approx for web-scale corpora)",
            "type": "bool",
            "default": True,
        },
        "FIT_FRACTION": {
            "description": (
                "KN-LM fit set: 'auto' (default) fits on the full corpus "
                "up to 100k docs, else on a deterministic content-hash "
                "sample of ~100k docs so the model exchanges scale with "
                "the sample, not the corpus; a float (e.g. 1.0) pins it "
                "explicitly — full fit at scale is an opt-in"
            ),
            "type": "string",
            "default": "auto",
        },
        "INPUT": {"description": "corpus stage to filter", "type": "string", "required": False},
    },
)
def perplexity_filter_task(ctx: StageContext):
    from xetl_spark.operators.text import perplexity_buckets

    df = ctx.input_df()
    text_col = str(ctx.env["TEXT_COL"])
    id_col = str(ctx.env["ID_COL"])
    keep_raw = str(ctx.env["KEEP"]).lower()
    valid = {"head", "middle", "tail"}
    keep = {s.strip() for s in keep_raw.split(",") if s.strip()}
    if keep != {"all"} and not keep <= valid:
        raise ValueError(
            f"perplexity_filter: unknown KEEP buckets {sorted(keep - valid)}; "
            f"valid: head,middle,tail or all"
        )
    # Fit-set sizing. The full-fit KN model shuffles corpus×expansion
    # (measured 20x input at sf0.1 — SHUFFLE.md), so the DEFAULT follows
    # CCNet's deployment: fit the LM on a bounded sample, score the
    # corpus map-only against the broadcast model. 'auto' keeps the
    # exact full fit for small corpora (≤ AUTO_FIT_TARGET docs, where
    # bit-parity with the self-fit oracle matters and the exchange is
    # cheap) and caps the fit set at ~AUTO_FIT_TARGET docs beyond that.
    fit_raw = str(ctx.env.get("FIT_FRACTION", "auto")).strip().lower()
    if fit_raw == "auto":
        # one scan-only count against the corpus-size threshold; trivial
        # next to the KN pipeline it sizes
        n_docs = df.count()
        fit_fraction = (
            1.0
            if n_docs <= PPL_AUTO_FIT_TARGET
            else PPL_AUTO_FIT_TARGET / n_docs
        )
    else:
        fit_fraction = float(fit_raw)
        if not 0.0 < fit_fraction <= 1.0:
            raise ValueError(
                f"perplexity_filter: FIT_FRACTION must be in (0, 1] or "
                f"'auto', got {fit_raw}"
            )
    scored = perplexity_buckets(
        df, text_col, id_col, exact=bool(ctx.env["EXACT"]),
        fit_fraction=fit_fraction,
    ).select(
        F.col("doc").alias(id_col),
        F.col("bucket").alias("ppl_bucket"),
        F.col("avg_nll").alias("ppl_avg_nll"),
    )
    if keep == {"all"}:
        return df.join(scored, id_col, "left")
    return df.join(
        scored.filter(F.col("ppl_bucket").isin(*sorted(keep))), id_col, "inner"
    )


@task(
    "explode_archive",
    "Explode tar / tar.gz / zip shard archives in a binary column into "
    "one row per member file (WebDataset-style shards)",
    env={
        "BYTES_COLUMN": {
            "description": "archive binary column",
            "type": "string",
            "default": "archive",
        },
        "ID_COLUMN": {
            "description": "shard id column",
            "type": "string",
            "default": "doc_id",
        },
        "MAX_MEMBER_BYTES": {
            "description": "zip-bomb guard: declared member size cap",
            "type": "int",
            "required": False,
        },
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def explode_archive_task(ctx: StageContext):
    from xetl_spark.operators.archive import explode_archive

    cap = ctx.env.get("MAX_MEMBER_BYTES")
    return explode_archive(
        ctx.input_df(),
        str(ctx.env["BYTES_COLUMN"]),
        str(ctx.env["ID_COLUMN"]),
        max_member_bytes=int(cap) if cap is not None else None,
    )


@task(
    "subjob",
    "Run a nested job manifest on the same SparkSession (reference "
    "nested-job parity, test_end_to_end.py:434-519)",
    env={"MANIFEST": {"description": "path to the inner job YAML", "type": "string"}},
)
def subjob(ctx: StageContext):
    from xetl_spark.plans.models import Job
    from xetl_spark.plans.runner import run_job

    inner = Job.from_file(str(ctx.env["MANIFEST"]))
    yield None
    results = run_job(ctx.spark, inner)
    for r in reversed(results):
        if r.output is not None:
            return r.output
    return None


@task(
    "save_table",
    "Save a stage as a catalog table (optionally bucketed for shuffle-free joins)",
    env={
        "TABLE": {"description": "table name", "type": "string"},
        "BUCKETS": {"description": "bucket count", "type": "int", "required": False},
        "BUCKET_BY": {"description": "comma-separated bucket columns", "type": "string", "required": False},
        "MODE": {"description": "save mode", "type": "string", "default": "overwrite"},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def save_table(ctx: StageContext):
    df = ctx.input_df()
    yield df
    writer = df.write.mode(str(ctx.env["MODE"]))
    buckets, by = ctx.env.get("BUCKETS"), ctx.env.get("BUCKET_BY")
    if buckets and by:
        cols = [c.strip() for c in str(by).split(",")]
        writer = writer.bucketBy(int(buckets), *cols).sortBy(*cols)
    writer.saveAsTable(str(ctx.env["TABLE"]))
    return ctx.spark.table(str(ctx.env["TABLE"]))


@task(
    "read_table",
    "Read a catalog table",
    env={"TABLE": {"description": "table name", "type": "string"}},
)
def read_table(ctx: StageContext):
    return ctx.spark.table(str(ctx.env["TABLE"]))


@task(
    "near_dedup",
    "Drop near-duplicate documents (MinHash-LSH + connected components; "
    "keeps each cluster's lowest-id representative)",
    env={
        "TEXT_COL": {"description": "text column", "type": "string", "default": "text"},
        "ID_COL": {"description": "unique id column", "type": "string", "default": "doc_id"},
        "THRESHOLD": {"description": "jaccard threshold", "type": "float", "default": 0.8},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def near_dedup(ctx: StageContext):
    from xetl_spark.operators import dedup_clusters, minhash_near_duplicates

    df = ctx.input_df()
    text_col = str(ctx.env["TEXT_COL"])
    id_col = str(ctx.env["ID_COL"])
    pairs = minhash_near_duplicates(
        df, text_col, id_col, threshold=float(ctx.env["THRESHOLD"])  # type: ignore[arg-type]
    )
    decision = dedup_clusters(pairs, df, id_col)
    keep = decision.filter(F.col("is_representative")).select(
        F.col("id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def _swap_store(store_s: str, save, fresh):
    """Commit a dedup STORE: ``save(tmp)`` writes it to a sibling temp
    dir, since ``fresh`` and the new store read the current files;
    ``fresh`` is then eagerly localCheckpoint-ed, because persist()
    keeps lineage that an eviction would recompute from deleted files."""
    import os
    import shutil

    tmp = store_s.rstrip("/") + ".tmp"
    save(tmp)
    fresh = fresh.localCheckpoint(eager=True)
    if os.path.isdir(store_s):
        shutil.rmtree(store_s)
    os.replace(tmp, store_s)
    return fresh


@task(
    "incremental_dedup",
    "Cross-run ingestion dedup against a persisted STORE: MODE=exact "
    "drops rows whose content digest already exists in the store "
    "(sha2-256 anti-join); MODE=minhash drops verified MinHash "
    "near-duplicates (jaccard >= THRESHOLD) of the store or of a "
    "lower-id in-batch row. Survivors' digests/signatures join the "
    "store (new x all, never old x old), so repeated runs of the "
    "same shard drop everything. Ids must be globally unique across "
    "runs in minhash mode",
    env={
        "TEXT_COL": {"description": "text column", "type": "string", "default": "text"},
        "ID_COL": {"description": "unique id column", "type": "string", "default": "doc_id"},
        "MODE": {"description": "exact | minhash", "type": "string", "default": "exact"},
        "THRESHOLD": {"description": "minhash-mode jaccard bar", "type": "float", "default": 0.8},
        "STORE": {"description": "persisted digest/signature store path (LOCAL filesystem: the atomic temp-dir swap uses shutil)", "type": "string"},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def incremental_dedup_task(ctx: StageContext):
    import os

    from xetl_spark.operators.dedup import (
        incremental_exact_dedup,
        incremental_minhash_dedup,
    )

    df = ctx.input_df()
    text_col = str(ctx.env["TEXT_COL"])
    id_col = str(ctx.env["ID_COL"])
    mode = str(ctx.env["MODE"]).lower()
    store_s = str(ctx.env["STORE"])
    spark = df.sparkSession
    store = spark.read.parquet(store_s) if os.path.isdir(store_s) else None
    if mode == "exact":
        # incremental_exact_dedup returns only THIS batch's new digests
        # (append semantics); the persisted store is the union
        fresh, new_digests = incremental_exact_dedup(df, store, text_col, id_col)
        new_store = (
            new_digests if store is None else store.unionByName(new_digests)
        )
    elif mode == "minhash":
        fresh, new_store = incremental_minhash_dedup(
            df, store, text_col, id_col,
            threshold=float(ctx.env["THRESHOLD"]),  # type: ignore[arg-type]
        )
    else:
        raise ValueError(
            f"incremental_dedup: unknown MODE {mode!r}; valid: exact, minhash"
        )
    yield fresh
    return _swap_store(
        store_s, lambda tmp: new_store.write.mode("overwrite").parquet(tmp), fresh
    )


@task(
    "semantic_dedup",
    "Drop semantic near-duplicates over an embedding column (SemDeDup: "
    "k-means cells, within-cluster cosine pairs, keep the group member "
    "farthest from its centroid). Set STORE to a path for CROSS-RUN "
    "mode: rows near-duplicating the persisted store (or a lower-id "
    "in-batch row) are dropped, survivors join the store, centroids "
    "are fitted once on the first run and reused (new x all, never "
    "old x old)",
    env={
        "EMBEDDING_COL": {"description": "array<float> embedding column", "type": "string", "default": "embedding"},
        "ID_COL": {"description": "unique id column", "type": "string", "default": "doc_id"},
        "THRESHOLD": {"description": "cosine threshold", "type": "float", "default": 0.95},
        "CLUSTERS": {"description": "k-means cells", "type": "int", "default": 16},
        "STORE": {
            "description": "persisted signature-store path for incremental mode (LOCAL filesystem: the atomic temp-dir swap uses shutil)",
            "type": "string",
            "required": False,
        },
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def semantic_dedup_task(ctx: StageContext):
    df = ctx.input_df()
    id_col = str(ctx.env["ID_COL"])
    vec_col = str(ctx.env["EMBEDDING_COL"])
    threshold = float(ctx.env["THRESHOLD"])  # type: ignore[arg-type]
    n_clusters = int(ctx.env["CLUSTERS"])  # type: ignore[arg-type]
    store_path = ctx.env.get("STORE")
    if store_path:
        import os

        from xetl_spark.operators.similarity import (
            incremental_semdedup,
            semdedup_load_store,
            semdedup_save_store,
        )

        store_s = str(store_path)
        if os.path.isdir(store_s):
            store, centroids = semdedup_load_store(df.sparkSession, store_s)
        else:
            store, centroids = None, None
        fresh, new_store, centroids = incremental_semdedup(
            df, store, centroids, vec_col, id_col,
            threshold=threshold, n_clusters=n_clusters,
        )
        yield fresh
        return _swap_store(
            store_s, lambda tmp: semdedup_save_store(new_store, centroids, tmp), fresh
        )

    from xetl_spark.operators.similarity import semdedup

    decision = semdedup(
        df, vec_col, id_col, threshold=threshold, n_clusters=n_clusters
    )
    keep = decision.filter(F.col("keep")).select(F.col("id").alias(id_col))
    return df.join(keep, on=id_col, how="left_semi")


@task(
    "line_dedup",
    "Corpus-level exact line dedup (C4/RefinedWeb recipe): fixed-token "
    "lines, globally-first occurrence survives, text rewritten in place",
    env={
        "TEXT_COL": {"description": "text column", "type": "string", "default": "text"},
        "ID_COL": {"description": "unique id column", "type": "string", "default": "doc_id"},
        "LINE_TOKENS": {"description": "tokens per line", "type": "int", "default": 16},
        "DROP_EMPTY": {
            "description": "drop docs whose every line lost dedup",
            "type": "bool",
            "default": True,
        },
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def line_dedup_task(ctx: StageContext):
    from xetl_spark.operators.text import line_dedup

    df = ctx.input_df()
    text_col = str(ctx.env["TEXT_COL"])
    id_col = str(ctx.env["ID_COL"])
    deduped = line_dedup(df, text_col, id_col, line_tokens=int(ctx.env["LINE_TOKENS"]))  # type: ignore[arg-type]
    if ctx.env["DROP_EMPTY"]:
        deduped = deduped.filter(F.col("kept_lines") > 0)
    # drop any pre-existing kept_lines (chained line-dedup passes)
    out = df.drop(text_col, "kept_lines").join(
        deduped.select(id_col, F.col("new_text").alias(text_col), "kept_lines"),
        on=id_col,
        how="inner",
    )
    return out


@task(
    "span_dedup",
    "Corpus-level duplicated-substring removal (Lee et al. 2022): "
    "MODE=exact hashes the K_TOKENS window at every offset and cuts "
    "maximal duplicate extents exactly; MODE=stride samples windows "
    "every STRIDE tokens (cheaper; misses offset-misaligned and "
    "edge tokens). Globally-first occurrence survives, text "
    "rewritten in place",
    env={
        "TEXT_COL": {"description": "text column", "type": "string", "default": "text"},
        "ID_COL": {"description": "unique id column", "type": "string", "default": "doc_id"},
        "MODE": {"description": "exact | stride", "type": "string", "default": "exact"},
        "K_TOKENS": {"description": "minimum duplicate length in tokens", "type": "int", "default": 32},
        "STRIDE": {"description": "stride-mode window step", "type": "int", "default": 16},
        "DROP_EMPTY": {
            "description": "drop docs that lost every token",
            "type": "bool",
            "default": True,
        },
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def span_dedup_task(ctx: StageContext):
    from xetl_spark.operators.text import (
        remove_duplicate_spans,
        remove_duplicate_spans_exact,
    )

    df = ctx.input_df()
    text_col = str(ctx.env["TEXT_COL"])
    id_col = str(ctx.env["ID_COL"])
    k = int(ctx.env["K_TOKENS"])  # type: ignore[arg-type]
    mode = str(ctx.env["MODE"]).lower()
    if mode == "exact":
        deduped = remove_duplicate_spans_exact(df, text_col, id_col, k_tokens=k)
    elif mode == "stride":
        deduped = remove_duplicate_spans(
            df, text_col, id_col, k_tokens=k, stride=int(ctx.env["STRIDE"])  # type: ignore[arg-type]
        )
    else:
        raise ValueError(f"span_dedup: unknown MODE {mode!r}; valid: exact, stride")
    if ctx.env["DROP_EMPTY"]:
        deduped = deduped.filter(F.col("kept_tokens") > 0)
    # drop any pre-existing kept_tokens too: chaining a stride pass
    # into an exact pass (a documented use) would otherwise emit two
    # kept_tokens columns and break every downstream reference
    return df.drop(text_col, "kept_tokens").join(
        deduped.select(
            id_col, F.col("new_text").alias(text_col), "kept_tokens"
        ),
        on=id_col,
        how="inner",
    )


@task(
    "strip_exif",
    "Remove privacy-bearing metadata from JPEG/PNG/WebP payloads "
    "(Exif/GPS/XMP/IPTC/ICC/COM/tEXt); pixels pass through byte-identical",
    env={
        "MEDIA_COL": {"description": "JPEG payload column", "type": "string", "default": "media"},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def strip_exif(ctx: StageContext):
    import pandas as pd

    media_col = str(ctx.env["MEDIA_COL"])
    df = ctx.input_df()

    def run(batches):
        from xetl_spark.operators.exif import strip_metadata_any

        for pdf in batches:
            pdf[media_col] = pdf[media_col].map(
                lambda b: strip_metadata_any(bytes(b))
            )
            yield pdf

    return df.mapInPandas(run, schema=df.schema)


@task(
    "resample_audio",
    "Resample decoded audio payloads to a target rate "
    "(linear interpolation; id, sample_rate, n_samples, pcm)",
    env={
        "MEDIA_COL": {"description": "audio payload column", "type": "string", "default": "media"},
        "ID_COL": {"description": "unique id column", "type": "string", "default": "doc_id"},
        "TARGET_RATE": {"description": "output sample rate (Hz)", "type": "int", "default": 16000},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def resample_audio(ctx: StageContext):
    import numpy as np
    import pandas as pd

    media_col = str(ctx.env["MEDIA_COL"])
    id_col = str(ctx.env["ID_COL"])
    target = int(ctx.env["TARGET_RATE"])  # type: ignore[arg-type]
    df = ctx.input_df()

    def run(batches):
        from xetl_spark.operators.audio import decode_audio, resample_linear

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                samples, sr = decode_audio(bytes(row[media_col]))
                out = resample_linear(samples, sr, target)
                pcm = np.clip(np.rint(out), -32768, 32767).astype("<i2")
                rows.append(
                    (row[id_col], target, out.shape[0], pcm.tobytes())
                )
            yield pd.DataFrame(
                rows, columns=["id", "sample_rate", "n_samples", "pcm"]
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, media_col).mapInPandas(
        run,
        schema=f"id {id_type}, sample_rate int, n_samples long, pcm binary",
    )


@task(
    "subtitles",
    "Parse an SRT/WebVTT column into one row per timed cue "
    "(id, cue_idx, start_ms, end_ms, text, fmt, err)",
    env={
        "TEXT_COL": {"description": "subtitle document column", "type": "string", "default": "text"},
        "ID_COL": {"description": "unique id column", "type": "string", "default": "doc_id"},
        "FORMAT": {"description": "srt | vtt | auto", "type": "string", "default": "auto"},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def subtitles_task(ctx: StageContext):
    from xetl_spark.operators.subtitles import extract_subtitles

    return extract_subtitles(
        ctx.input_df(),
        str(ctx.env["TEXT_COL"]),
        str(ctx.env["ID_COL"]),
        fmt=str(ctx.env["FORMAT"]),
    )


@task(
    "extract_main",
    "DOM-aware main-content extraction from an HTML column "
    "(jusText-class block classifier; id, main_text, n_blocks, n_good)",
    env={
        "HTML_COL": {"description": "HTML column", "type": "string", "default": "html"},
        "ID_COL": {"description": "unique id column", "type": "string", "default": "doc_id"},
        "LANG": {"description": "stopword language", "type": "string", "default": "en"},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def extract_main(ctx: StageContext):
    from xetl_spark.operators.html import extract_main_content

    return extract_main_content(
        ctx.input_df(),
        str(ctx.env["HTML_COL"]),
        str(ctx.env["ID_COL"]),
        lang=str(ctx.env["LANG"]),
    )


@task(
    "redact",
    "Redact PII (emails / phone numbers / IPv4) in a text column",
    env={
        "TEXT_COL": {"description": "text column", "type": "string", "default": "text"},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def redact(ctx: StageContext):
    from xetl_spark.operators.text import redact_pii

    col = str(ctx.env["TEXT_COL"])
    return ctx.input_df().withColumn(col, redact_pii(col))


@task(
    "chunk",
    "Split documents into overlapping token-window chunks "
    "(doc, chunk_id, n_tokens, chunk)",
    env={
        "TEXT_COL": {"description": "text column", "type": "string", "default": "text"},
        "ID_COL": {"description": "unique id column", "type": "string", "default": "doc_id"},
        "CHUNK_TOKENS": {"description": "tokens per chunk", "type": "int", "default": 64},
        "OVERLAP": {"description": "token overlap between chunks", "type": "int", "default": 16},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def chunk(ctx: StageContext):
    from xetl_spark.operators.text import chunk_text

    return chunk_text(
        ctx.input_df(),
        str(ctx.env["TEXT_COL"]),
        str(ctx.env["ID_COL"]),
        chunk_tokens=int(ctx.env["CHUNK_TOKENS"]),  # type: ignore[arg-type]
        overlap=int(ctx.env["OVERLAP"]),  # type: ignore[arg-type]
    )


@task(
    "compact",
    "Compact a parquet location toward a target file size "
    "(optional single-column clustering or multi-column z-order)",
    env={
        "PATH": {"description": "parquet location to rewrite", "type": "string"},
        "TARGET_FILE_BYTES": {
            "description": "target output file size",
            "type": "int",
            "default": 128 * 1024 * 1024,
        },
        "CLUSTER_BY": {
            "description": "comma-separated sort columns (disjoint per-file ranges)",
            "type": "string",
            "required": False,
        },
        "ZORDER_BY": {
            "description": "comma-separated z-order columns (zone-map pruning on all)",
            "type": "string",
            "required": False,
        },
        "PARTITION_BY": {
            "description": "comma-separated hive partition columns",
            "type": "string",
            "required": False,
        },
    },
)
def compact(ctx: StageContext):
    from xetl_spark.sources.maintenance import compact_parquet

    def cols(key):
        v = ctx.env.get(key)
        return [c.strip() for c in str(v).split(",")] if v else None

    path = str(ctx.env["PATH"])
    yield ctx.spark.read.parquet(path)
    n = compact_parquet(
        ctx.spark,
        path,
        target_file_bytes=int(ctx.env["TARGET_FILE_BYTES"]),  # type: ignore[arg-type]
        partition_by=cols("PARTITION_BY"),
        cluster_by=cols("CLUSTER_BY"),
        zorder_by=cols("ZORDER_BY"),
    )
    ctx.metrics["files"] = n
    return ctx.spark.read.parquet(path)


@task(
    "resample",
    "Resample a time series onto a fixed per-key grid (METHOD: ffill "
    "forward-fills gaps, linear interpolates them time-weighted)",
    env={
        "TS_COL": {"description": "timestamp column", "type": "string", "default": "ts"},
        "KEY_COL": {"description": "series key column", "type": "string"},
        "VALUE_COL": {"description": "value column (sum per bucket)", "type": "string"},
        "UNIT": {"description": "grid unit: minute|hour|day|week|month", "type": "string", "default": "hour"},
        "METHOD": {"description": "gap fill: ffill|linear", "type": "string", "default": "ffill"},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def resample(ctx: StageContext):
    from xetl_spark.operators import interpolate_linear, resample_ffill

    method = str(ctx.env["METHOD"])
    if method not in ("ffill", "linear"):
        raise ValueError(f"METHOD must be ffill or linear, got {method!r}")
    fn = resample_ffill if method == "ffill" else interpolate_linear
    return fn(
        ctx.input_df(),
        str(ctx.env["TS_COL"]),
        str(ctx.env["KEY_COL"]),
        str(ctx.env["VALUE_COL"]),
        unit=str(ctx.env["UNIT"]),
    )


@task(
    "profile",
    "One-pass column profile: rows, nulls, approx distinct, min/max "
    "per column (the data-catalog primitive)",
    env={
        "COLUMNS": {
            "description": "comma-separated column subset (default: all)",
            "type": "string",
            "required": False,
        },
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def profile_task(ctx: StageContext):
    from xetl_spark.operators.quality import profile

    cols = ctx.env.get("COLUMNS")
    return profile(
        ctx.input_df(),
        [c.strip() for c in str(cols).split(",")] if cols else None,
    )


@task(
    "anomaly",
    "Score a time series for trailing-window z-score anomalies "
    "(adds v/z/is_anomaly per key+bucket)",
    env={
        "TS_COL": {"description": "timestamp column", "type": "string", "default": "ts"},
        "KEY_COL": {"description": "series key column", "type": "string"},
        "VALUE_COL": {"description": "value column (sum per bucket)", "type": "string"},
        "UNIT": {"description": "bucket unit: minute|hour|day|week|month", "type": "string", "default": "hour"},
        "WINDOW": {"description": "trailing buckets incl. current", "type": "int", "default": 12},
        "THRESHOLD": {"description": "|z| flag threshold", "type": "float", "default": 3.0},
        "ONLY_ANOMALIES": {"description": "emit only flagged rows", "type": "bool", "default": False},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def anomaly_task(ctx: StageContext):
    from xetl_spark.operators.timeseries import zscore_anomalies

    out = zscore_anomalies(
        ctx.input_df(),
        str(ctx.env["TS_COL"]),
        str(ctx.env["KEY_COL"]),
        str(ctx.env["VALUE_COL"]),
        unit=str(ctx.env["UNIT"]),
        window=int(ctx.env["WINDOW"]),  # type: ignore[arg-type]
        threshold=float(ctx.env["THRESHOLD"]),  # type: ignore[arg-type]
    )
    if ctx.env["ONLY_ANOMALIES"]:
        out = out.filter(F.col("is_anomaly"))
    return out


@task(
    "pagerank",
    "Score nodes of an edge-list stage by PageRank (adds rank column)",
    env={
        "SRC_COL": {"description": "edge source column", "type": "string", "default": "src"},
        "DST_COL": {"description": "edge destination column", "type": "string", "default": "dst"},
        "DAMPING": {"description": "damping factor", "type": "float", "default": 0.85},
        "MAX_ITER": {"description": "max power iterations", "type": "int", "default": 15},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def pagerank_task(ctx: StageContext):
    from xetl_spark.operators import pagerank

    return pagerank(
        ctx.input_df(),
        src=str(ctx.env["SRC_COL"]),
        dst=str(ctx.env["DST_COL"]),
        damping=float(ctx.env["DAMPING"]),  # type: ignore[arg-type]
        max_iter=int(ctx.env["MAX_ITER"]),  # type: ignore[arg-type]
    )


@task(
    "read_binary",
    "Scan files as opaque binary payloads (path, modificationTime, "
    "length, content) via the binaryFile source",
    env={
        "PATH": {"description": "file/dir/glob to read", "type": "string"},
        "GLOB": {
            "description": "pathGlobFilter, e.g. *.png",
            "type": "string",
            "required": False,
        },
    },
)
def read_binary(ctx: StageContext):
    reader = ctx.spark.read.format("binaryFile")
    glob = ctx.env.get("GLOB")
    if glob:
        reader = reader.option("pathGlobFilter", str(glob))
    return reader.load(str(ctx.env["PATH"]))


@task(
    "grayscale",
    "Convert image payloads (PNG/PPM) to grayscale PNGs — the "
    "engine-native form of the reference README's "
    "`convert -colorspace Gray` task (reference README.md:66-77); "
    "optionally writes one .png per image under OUTPUT",
    env={
        "MEDIA_COL": {
            "description": "binary image column",
            "type": "string",
            "default": "content",
        },
        "ID_COL": {
            "description": "per-image id column (any orderable type)",
            "type": "string",
            "default": "path",
        },
        "OUTPUT": {
            "description": "directory to write <id>.png files into "
            "(executor-side, per partition)",
            "type": "string",
            "required": False,
        },
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def grayscale_task(ctx: StageContext):
    from xetl_spark.operators.multimodal import grayscale_images

    df = ctx.input_df()
    id_col = str(ctx.env["ID_COL"])
    out = grayscale_images(df, str(ctx.env["MEDIA_COL"]), id_col)
    dest = ctx.env.get("OUTPUT")
    if dest:
        import os

        from pyspark.sql import functions as F

        dest_s = str(dest)

        # files are named by the id's basename stem (a/img.png → img.png),
        # so two ids sharing a filename in different directories would
        # silently overwrite each other. Pre-compute colliding stems from
        # the id column alone (no decode) and hash-suffix only those.
        id_str = F.col(id_col).cast("string")
        stem_expr = F.regexp_replace(
            F.element_at(F.split(id_str, "/"), -1), r"\.[^.]*$", ""
        )
        collided = (
            df.select(stem_expr.alias("stem"), id_str.alias("id_s"))
            .groupBy("stem")
            .agg(F.countDistinct("id_s").alias("n"))
            .filter("n > 1")
            .select("stem")
            .limit(10001)
            .collect()
        )
        hash_all = len(collided) > 10000  # too many to broadcast a set
        dupe_stems = frozenset(r.stem for r in collided)

        def write_files(batches):
            import hashlib

            for pdf in batches:
                for _, row in pdf.iterrows():
                    full_id = str(row["id"])
                    stem = os.path.splitext(os.path.basename(full_id))[0]
                    if hash_all or stem in dupe_stems:
                        stem += "-" + hashlib.sha1(full_id.encode()).hexdigest()[:8]
                    with open(os.path.join(dest_s, f"{stem}.png"), "wb") as fh:
                        fh.write(bytes(row["gray_png"]))
                yield pdf[["id", "width", "height", "mean_gray"]]

        # executor-side writes (shared FS assumed, as for any sink);
        # the returned frame keeps the stats, drops the payload.
        # Stages are lazy by default, but file emission is a side
        # effect the user asked for — persist + count after the yield
        # runs it once, and downstream stages read the cached stats.
        id_type = out.schema["id"].dataType.simpleString()
        stats = out.mapInPandas(
            write_files,
            schema=f"id {id_type}, width int, height int, mean_gray double",
        )
        yield stats
        os.makedirs(dest_s, exist_ok=True)
        stats.persist().count()
        return stats
    return out


@task(
    "image_dedup",
    "Drop perceptually near-duplicate images (dHash + Hamming-blocked "
    "pairs + connected components; keeps each cluster's lowest-id "
    "representative)",
    env={
        "MEDIA_COL": {
            "description": "binary image column",
            "type": "string",
            "default": "content",
        },
        "ID_COL": {
            "description": "per-image integer id column",
            "type": "string",
            "default": "doc_id",
        },
        "MAX_HAMMING": {
            "description": "near-dup Hamming radius on the 64-bit dHash",
            "type": "int",
            "default": 6,
        },
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def image_dedup(ctx: StageContext):
    from xetl_spark.operators import dedup_clusters
    from xetl_spark.operators.dedup import hamming_near_pairs
    from xetl_spark.operators.multimodal import image_dhash

    df = ctx.input_df()
    id_col = str(ctx.env["ID_COL"])
    fps = image_dhash(df, str(ctx.env["MEDIA_COL"]), id_col)
    pairs = hamming_near_pairs(
        fps, fp_col="dhash", id_col="id",
        max_hamming=int(ctx.env["MAX_HAMMING"]),  # type: ignore[arg-type]
        chunks=8,
    ).select(F.col("doc_a"), F.col("doc_b"))
    decision = dedup_clusters(pairs, df, id_col)
    keep = decision.filter(F.col("is_representative")).select(
        F.col("id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


@task(
    "audio_features",
    "Per-window acoustic features over WAV payloads: RMS energy, "
    "zero-crossing rate, dominant frequency (rfft)",
    env={
        "MEDIA_COL": {
            "description": "binary WAV column",
            "type": "string",
            "default": "content",
        },
        "ID_COL": {
            "description": "per-clip id column",
            "type": "string",
            "default": "doc_id",
        },
        "WINDOW_MS": {"description": "window length", "type": "int", "default": 1000},
        "HOP_MS": {"description": "hop between windows", "type": "int", "default": 500},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def audio_features_task(ctx: StageContext):
    from xetl_spark.operators.multimodal import audio_feature_windows

    return audio_feature_windows(
        ctx.input_df(),
        str(ctx.env["MEDIA_COL"]),
        str(ctx.env["ID_COL"]),
        window_ms=int(ctx.env["WINDOW_MS"]),  # type: ignore[arg-type]
        hop_ms=int(ctx.env["HOP_MS"]),  # type: ignore[arg-type]
    )


@task(
    "sample_frames",
    "Sample frames from video payloads (Y4M) every EVERY_MS of media "
    "time; emits grayscale PNG frames with source indices/timestamps",
    env={
        "MEDIA_COL": {
            "description": "binary video column",
            "type": "string",
            "default": "content",
        },
        "ID_COL": {
            "description": "per-clip id column",
            "type": "string",
            "default": "doc_id",
        },
        "EVERY_MS": {"description": "sampling cadence", "type": "int", "default": 1000},
        "MAX_FRAMES": {"description": "cap per clip", "type": "int", "default": 4},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def sample_frames_task(ctx: StageContext):
    from xetl_spark.operators.multimodal import sample_frames

    return sample_frames(
        ctx.input_df(),
        str(ctx.env["MEDIA_COL"]),
        str(ctx.env["ID_COL"]),
        every_ms=int(ctx.env["EVERY_MS"]),  # type: ignore[arg-type]
        max_frames=int(ctx.env["MAX_FRAMES"]),  # type: ignore[arg-type]
        decode_stub=False,
    )


@task(
    "pack",
    "Assign documents to fixed-token-budget training bins "
    "(greedy no-overflow packing; adds shard + bin columns)",
    env={
        "ID_COL": {"description": "unique id column", "type": "string", "default": "doc_id"},
        "TOKENS_COL": {
            "description": "per-doc token count column (e.g. from a counting stage)",
            "type": "string",
            "default": "tok",
        },
        "BUDGET": {"description": "tokens per bin", "type": "int", "default": 2048},
        "SHARDS": {"description": "parallel packing shards", "type": "int", "default": 32},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def pack(ctx: StageContext):
    from xetl_spark.queries.training_pipeline import pack_greedy

    df = ctx.input_df()
    id_col = str(ctx.env["ID_COL"])
    shards = int(ctx.env["SHARDS"])  # type: ignore[arg-type]
    with_shard = df.withColumn("shard", F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards)))
    return pack_greedy(
        with_shard,
        budget=int(ctx.env["BUDGET"]),  # type: ignore[arg-type]
        id_col=id_col,
        tok_col=str(ctx.env["TOKENS_COL"]),
    )


@task(
    "mix_sources",
    "Temperature-rebalance a corpus across sources "
    "(keep rate ∝ count^ALPHA, deterministic hash selection — "
    "rerun-identical, no RNG)",
    env={
        "ID_COL": {"description": "unique id column", "type": "string", "default": "doc_id"},
        "SOURCE_COL": {"description": "source column", "type": "string", "default": "source"},
        "ALPHA": {"description": "temperature exponent in (0, 1]", "type": "float", "default": 0.5},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def mix_sources(ctx: StageContext):
    df = ctx.input_df()
    id_col, src_col = str(ctx.env["ID_COL"]), str(ctx.env["SOURCE_COL"])
    alpha = float(ctx.env["ALPHA"])  # type: ignore[arg-type]
    if not (0 < alpha <= 1):
        raise ValueError(f"mix_sources: ALPHA must be in (0, 1], got {alpha}")
    counts = df.groupBy(src_col).agg(F.count("*").alias("__n"))
    max_w = counts.agg(F.max(F.pow(F.col("__n").cast("double"), alpha)).alias("__mw"))
    rates = counts.join(F.broadcast(max_w)).select(
        src_col,
        (F.pow(F.col("__n").cast("double"), alpha) / F.col("__mw")).alias("__rate"),
    )
    # deterministic per-doc uniform draw — xxhash64 is already a full
    # avalanche mix (no post-multiply: that would overflow ANSI BIGINT)
    u = F.pmod(F.xxhash64(F.col(id_col)), F.lit(2_147_483_648)).cast(
        "double"
    ) / F.lit(2_147_483_648)
    return (
        df.join(F.broadcast(rates), src_col)
        .filter(u < F.col("__rate"))
        .drop("__rate")
    )


@task(
    "shard",
    "Write the input as N hash-sharded parquet directories "
    "(shard=K/ subdirs; deterministic id hash, reproducible epochs)",
    env={
        "ID_COL": {"description": "unique id column", "type": "string", "default": "doc_id"},
        "SHARDS": {"description": "number of shards", "type": "int", "default": 64},
        "PATH": {"description": "output directory", "type": "string"},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def shard(ctx: StageContext):
    df = ctx.input_df()
    id_col = str(ctx.env["ID_COL"])
    n = int(ctx.env["SHARDS"])  # type: ignore[arg-type]
    dest = str(ctx.env["PATH"])
    # partitionBy(shard) writes each shard to its own directory; the
    # repartition on the same key makes it one file per shard dir
    sharded = df.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n))
    ).repartition(n, "shard")
    yield sharded
    sharded.write.mode("overwrite").partitionBy("shard").parquet(dest)
    return ctx.spark.read.parquet(dest)


@task(
    "lineage",
    "Column-level lineage of the upstream stage: one row per "
    "(column, source, source_column), derived from the analyzed plan "
    "without executing it",
    env={
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def lineage(ctx: StageContext):
    from xetl_spark.plans.lineage import column_lineage

    rows = []
    for col, srcs in column_lineage(ctx.input_df()).items():
        for s, c in sorted(srcs) or [("<literal>", "")]:
            rows.append((col, s, c))
    return ctx.spark.createDataFrame(
        rows, "column string, source string, source_column string"
    )


@task(
    "expect",
    "Data-quality gate: declarative constraints on the upstream stage, "
    "all evaluated in one pass; violations fail the stage (fail-fast + "
    "alerting) or warn, per MODE. Returns the per-check report",
    env={
        "NOT_NULL": {"description": "comma-separated columns that must be non-null", "type": "string", "default": ""},
        "UNIQUE": {"description": "comma-separated columns forming a unique key", "type": "string", "default": ""},
        "RANGE": {"description": "semicolon-separated col:lo:hi bounds", "type": "string", "default": ""},
        "MATCHES": {"description": "semicolon-separated col:regex rules", "type": "string", "default": ""},
        "VIOLATION_WHERE": {"description": "SQL predicate counting violating rows", "type": "string", "default": ""},
        "MODE": {"description": "fail | warn", "type": "string", "default": "fail"},
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def expect(ctx: StageContext):
    from xetl_spark.operators import quality as Q

    df = ctx.input_df()
    checks = []
    if str(ctx.env["NOT_NULL"]).strip():
        checks += Q.not_null(*[c.strip() for c in str(ctx.env["NOT_NULL"]).split(",") if c.strip()])
    if str(ctx.env["UNIQUE"]).strip():
        checks.append(Q.unique(*[c.strip() for c in str(ctx.env["UNIQUE"]).split(",") if c.strip()]))
    for rule in str(ctx.env["RANGE"]).split(";"):
        if rule.strip():
            col, lo, hi = (p.strip() for p in rule.split(":"))
            checks.append(Q.in_range(col, float(lo), float(hi)))
    for rule in str(ctx.env["MATCHES"]).split(";"):
        if rule.strip():
            col, pattern = rule.split(":", 1)
            checks.append(Q.matches(col.strip(), pattern.strip()))
    if str(ctx.env["VIOLATION_WHERE"]).strip():
        checks.append(Q.custom("violation_where", F.expr(str(ctx.env["VIOLATION_WHERE"]))))
    if not checks:
        raise ValueError("expect: no constraints declared")
    report = Q.quality_report(df, checks)
    yield report
    quality_rows = report.collect()
    failed = [(r.check, r.n_violations) for r in quality_rows if not r.passed]
    mode = str(ctx.env["MODE"]).lower()
    if failed and mode == "fail":
        detail = ", ".join(f"{name} ({n} violations)" for name, n in failed)
        raise ValueError(f"expect: constraint(s) failed: {detail}")
    if failed:
        import logging

        logging.getLogger("xetl_spark.expect").warning(
            "expect (warn mode): %s", failed
        )
    return ctx.spark.createDataFrame(
        [(r.check, r.n_violations, r.passed) for r in quality_rows],
        "check string, n_violations long, passed boolean",
    )


@task(
    "ivm_refresh",
    "Incrementally maintain a grouped rollup (count/sum + min/max) "
    "from a change batch, persisting state between runs",
    env={
        "STATE_PATH": {"description": "parquet directory holding the rollup state between runs", "type": "string"},
        "KEYS": {"description": "comma-separated grouping columns", "type": "string"},
        "SUM_COLS": {"description": "comma-separated columns maintained as count/sum/avg", "type": "string"},
        "MINMAX_COLS": {"description": "comma-separated columns maintained as min/max (bounded top-k state)", "type": "string", "default": ""},
        "WEIGHT_COL": {"description": "+1/-1 insert/retract column ('' = all inserts)", "type": "string", "default": ""},
        "K": {"description": "kept extremes per group/column for min/max state", "type": "int", "default": 16},
        "BASE": {"description": "stage holding the post-batch full base table, for dirty-group min/max repair", "type": "string", "required": False},
        "INPUT": {"description": "change batch (or the initial base on first run)", "type": "string", "required": False},
    },
)
def ivm_refresh(ctx: StageContext):
    """First run (no state on disk): snapshot INPUT as the base table.
    Later runs: fold INPUT as a change batch — O(|batch|), never a
    rescan (except the semi-join-pruned min/max dirty repair when BASE
    is given). State commits via a generation directory + an
    os.replace'd CURRENT pointer — the single atomic commit point —
    so a crash anywhere leaves the previous COMPLETE generation live
    and both tables always belong to the same batch generation.
    Returns the merged read view (n / sum_* / avg_* / min_* / max_* /
    dirty_*)."""
    import shutil

    from xetl_spark.operators import ivm

    batch = ctx.input_df()
    keys = [k.strip() for k in str(ctx.env["KEYS"]).split(",") if k.strip()]
    sum_cols = [c.strip() for c in str(ctx.env["SUM_COLS"]).split(",") if c.strip()]
    mm_cols = [c.strip() for c in str(ctx.env["MINMAX_COLS"]).split(",") if c.strip()]
    w = str(ctx.env["WEIGHT_COL"]) or None
    k = int(ctx.env["K"])  # type: ignore[arg-type]
    base = ctx.input_df("BASE") if ctx.env.get("BASE") else None
    root = str(ctx.env["STATE_PATH"]).rstrip("/")
    spark = ctx.spark

    import os

    # Generation layout: both state tables live together under one
    # gen-<n>/ directory and a CURRENT pointer file names the live
    # generation. os.replace of the pointer is the ONLY commit point
    # (atomic on POSIX), so a crash anywhere — mid-write, between the
    # two tables, before the pointer flip — leaves CURRENT on the
    # previous COMPLETE generation. (The earlier rmtree-then-rename
    # swap had a window where live state vanished and the next run
    # silently re-snapshotted the day's CHANGE BATCH as the base —
    # review finding.)
    cur_file = f"{root}/CURRENT"

    def _live_gen() -> str | None:
        try:
            name = open(cur_file).read().strip()
        except OSError:
            return None
        return name if name and os.path.isdir(f"{root}/{name}") else None

    live_gen = _live_gen()
    if live_gen is None:
        gen_no = 0
        sums = ivm.agg_snapshot(batch, keys, sum_cols)
        mm = ivm.minmax_snapshot(batch, keys, mm_cols, k) if mm_cols else None
    else:
        gen_no = int(live_gen.split("-")[1]) + 1
        sums = ivm.ivm_apply(
            spark.read.parquet(f"{root}/{live_gen}/sums"),
            batch, keys, sum_cols, weight_col=w,
        )
        mm = (
            ivm.minmax_apply(
                spark.read.parquet(f"{root}/{live_gen}/minmax"),
                batch, keys, mm_cols, weight_col=w, k=k, base=base,
            )
            if mm_cols
            else None
        )

    def view(sums, mm):
        out = ivm.ivm_read(sums, sum_cols)
        if mm is not None:
            out = out.join(ivm.minmax_read(mm, mm_cols).drop("n"), keys, "full_outer")
        return out

    yield view(sums, mm)
    new_gen = f"gen-{gen_no:06d}"
    for name, df in (("sums", sums), ("minmax", mm)):
        if df is not None:
            df.write.mode("overwrite").parquet(f"{root}/{new_gen}/{name}")
    tmp = cur_file + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(new_gen)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, cur_file)  # the commit point
    # retire generations older than the previous one (kept for forensics)
    for d in sorted(os.listdir(root)):
        if d.startswith("gen-") and d not in (new_gen, live_gen):
            shutil.rmtree(f"{root}/{d}", ignore_errors=True)
    read = spark.read.parquet
    return view(
        read(f"{root}/{new_gen}/sums"),
        read(f"{root}/{new_gen}/minmax") if mm_cols else None,
    )


@task(
    "media_quality",
    "Score every media payload's compression quality on one 0-100 "
    "scale (JPEG DQT inversion, VP8/VP9 quantizer, lossless=100 for "
    "PNG/GIF/BMP/TIFF/VP8L) and optionally keep only rows at or above "
    "MIN_QUALITY. Adds container/codec/width/height/quality/lossless/"
    "err columns; unrecognized payloads get NULL quality + err and are "
    "dropped by a MIN_QUALITY filter",
    env={
        "MEDIA_COL": {"description": "media payload column", "type": "string", "default": "media"},
        "ID_COL": {"description": "unique id column", "type": "string", "default": "doc_id"},
        "MIN_QUALITY": {
            "description": "keep rows with quality >= this (blank = annotate only)",
            "type": "string",
            "default": "",
        },
        "INPUT": {"description": "upstream stage name", "type": "string", "required": False},
    },
)
def media_quality_task(ctx: StageContext):
    from xetl_spark.operators.multimodal import media_quality

    df = ctx.input_df()
    media_col = str(ctx.env["MEDIA_COL"])
    id_col = str(ctx.env["ID_COL"])
    scored = media_quality(df, media_col, id_col).withColumnRenamed("id", id_col)
    out = df.join(scored, id_col)
    min_q = str(ctx.env.get("MIN_QUALITY", "")).strip()
    if min_q:
        out = out.filter(F.col("quality") >= int(min_q))
    return out


@task(
    "vacuum_run_history",
    "Retention for the run-history parquet sink (keep newest N runs "
    "and/or drop runs older than MAX_AGE_DAYS)",
    env={
        "PATH": {"description": "run-history table path", "type": "string"},
        "KEEP_LAST_RUNS": {
            "description": "newest runs to keep (blank = age-only)",
            "type": "string",
            "default": "",
        },
        "MAX_AGE_DAYS": {
            "description": "drop runs older than this many days (blank = count-only)",
            "type": "string",
            "default": "",
        },
    },
)
def vacuum_run_history_task(ctx: StageContext):
    """The ops closer for write_run_report's append-only history —
    mirrors vacuum_snapshots for CDC snapshot dirs (r12 verdict item
    8). Returns a one-row report (rows_removed) so the stage is
    auditable like any other."""
    from xetl_spark.plans.runner import vacuum_run_history

    keep = str(ctx.env.get("KEEP_LAST_RUNS", "")).strip()
    age = str(ctx.env.get("MAX_AGE_DAYS", "")).strip()
    yield None
    removed = vacuum_run_history(
        ctx.spark,
        str(ctx.env["PATH"]),
        keep_last_runs=int(keep) if keep else None,
        max_age_days=float(age) if age else None,
    )
    ctx.metrics["rows"] = removed
    return ctx.spark.createDataFrame(
        [(removed,)], "rows_removed long"
    )
