"""Declared query inventory — the SURVEY.md §2-B contract.

Every operator the engine claims is registered here as a named query:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (where the
semantics are exactly SQL-expressible) a DuckDB oracle SQL string the
driver runs side-by-side for hash verification. Ops whose results are
approximate / nondeterministic (sampling seeds, LSH, streaming state)
carry no oracle and are property-tested in tests/ instead.

Column-name discipline: every computed column is aliased identically in
the Spark code and the oracle SQL (the driver sorts columns by name
before hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from xetl_spark.sources.io import read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over the pre-registered table views
    doc: str = ""


REGISTRY: dict[str, Query] = {}

# memoized per-(app, sf_dir) table DataFrames: a DataFrame is an
# immutable logical plan, so reusing it across queries skips reopening
# each table: the driver-side footer read, spark.read's listing and
# analysis (no Spark job either way). A 10-table load at sf0.01 took
# 47 ms with the memo and 294 ms without (4-vCPU host).
# LRU-bounded on the (app, sf_dir) scope so a long-lived session that
# touches many scale-factor dirs can't accumulate stale plans.
_TABLE_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}
_TABLE_CACHE_SCOPES = 2


def query(name: str, oracle: str | None = None) -> Callable:
    """Register a named query; ``oracle`` is the DuckDB-equivalent SQL."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Query(name, fn, oracle, doc=(fn.__doc__ or "").strip())
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """Read the requested parquet tables and register them as temp views.

    Parquet scans keep predicate pushdown / column pruning intact; every
    query starts from these lazily — no caching here, so each query's
    plan is exactly what Catalyst sees on a cold cluster. Each table is
    opened with ``sources.io.read_parquet``: a one-file table's schema
    comes from its footer, read on the driver, so loading runs no Spark
    job (a table stored as a directory keeps Spark's inference job).

    Timestamp normalization (matches DuckDB's reading of the same
    files): parquet NTZ timestamps are read as TimestampType under the
    UTC session (inferTimestampNTZ off). events.ts is dtype-probed:
    fixtures written as TIMESTAMP(MICROS) arrive as TimestampType and
    pass through untouched; legacy TIMESTAMP(NANOS) fixtures arrive as
    raw int64 (nanosAsLong) and are floor-truncated to microseconds —
    the same truncation DuckDB applies on read.
    """
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # queries are run sequentially by the driver; drop any persisted
    # intermediates a previous query left behind (dedup pipelines cache
    # shared subtrees) so a long battery can't accumulate executor memory
    spark.catalog.clearCache()
    # same boundary for PYTHON-side memos (r14): the centroid-fit memo
    # in operators/similarity.py is keyed by (app, corpus plan) and
    # survives clearCache, so a re-invoked kmeans/IVF/semdedup query
    # would silently skip its fit (measured: q_embed_kmeans rep2
    # 3.7 -> 1.3s) — bench reps and repeated oracle runs must compute
    # from the parquet inputs every time. Within ONE query invocation
    # (index build + probe sharing a fit) the memo still applies.
    from xetl_spark.operators.similarity import clear_centroid_cache

    clear_centroid_cache()
    # timestamp→string rendering is session-TZ dependent; pin UTC so
    # results match the (UTC-naive) DuckDB oracle on any host
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # a vanilla session (the driver's) defaults to 200 shuffle
    # partitions — wasteful at these SFs and unlike the configuration
    # the suite/bench run under; align with get_session. AQE (on by
    # default in Spark 4) coalesces further at runtime. Results are
    # partitioning-independent; this is wall-clock only.
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    # spark.app.id is readable on both classic and Connect sessions
    # (sparkContext is absent under Connect)
    app = spark.conf.get("spark.app.id", "app")
    scope = (app, sf_dir)
    if scope in _TABLE_CACHE:  # LRU touch: re-insert as most recent
        _TABLE_CACHE[scope] = _TABLE_CACHE.pop(scope)
    else:
        while len(_TABLE_CACHE) >= _TABLE_CACHE_SCOPES:
            _TABLE_CACHE.pop(next(iter(_TABLE_CACHE)))
        _TABLE_CACHE[scope] = {}
    tables = _TABLE_CACHE[scope]
    out = []
    for n in names or TABLES:
        df = tables.get(n)
        if df is None:
            df = read_parquet(spark, f"{sf_dir}/{n}.parquet")
            if n == "events" and dict(df.dtypes).get("ts") == "bigint":
                from pyspark.sql import functions as F

                df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
            tables[n] = df
        df.createOrReplaceTempView(n)
        out.append(df)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracles() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle}


# Import side-effect registration: REGISTRY iterates in this module
# order, each module's queries in the order of their @query decorators.
from xetl_spark.queries import relational  # noqa: E402,F401
from xetl_spark.queries import relational2  # noqa: E402,F401
from xetl_spark.queries import window  # noqa: E402,F401
from xetl_spark.queries import scalar_fns  # noqa: E402,F401
from xetl_spark.queries import scalar_fns2  # noqa: E402,F401
from xetl_spark.queries import scans  # noqa: E402,F401
from xetl_spark.queries import llm_ops  # noqa: E402,F401
from xetl_spark.queries import streaming_ops  # noqa: E402,F401
from xetl_spark.queries import sql_surface  # noqa: E402,F401
from xetl_spark.queries import udf_surface  # noqa: E402,F401
from xetl_spark.queries import tpch_suite  # noqa: E402,F401
from xetl_spark.queries import training_pipeline  # noqa: E402,F401
from xetl_spark.queries import docformats  # noqa: E402,F401
