"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def sql_ident(name: str) -> str:
    """Backtick-quote a top-level column name for interpolation into a
    SQL string (``F.expr``/``selectExpr``), escaping embedded backticks
    by doubling them. The name is always ONE identifier: dots are part
    of it, never struct-field access. Pass the result to ``F.col`` too
    when the same function also resolves the name through the Column
    API, so both resolve it identically."""
    return "`" + name.replace("`", "``") + "`"


def ensure_parallelism(
    df: DataFrame,
    min_fraction: float = 0.5,
    max_partitions: int | None = None,
) -> DataFrame:
    """Round-robin repartition an under-partitioned DataFrame up to the
    cluster's default parallelism.

    CPU-heavy expression stages (shingling, hashing, vector math) are
    bottlenecked by input partitioning, and a small local file arrives
    as ONE partition. On a real cluster the input is already split, so
    this is a no-op there (guarded: only fires when the current
    partition count is below ``min_fraction`` of default parallelism) —
    it never adds a shuffle to an already-parallel 100 TB scan.

    The decision runs no Spark job: the partition count is read off the
    physical plan (``_planned_partitions``), never by executing it. An
    input behind an exchange therefore counts its planned post-shuffle
    partitions (``spark.sql.shuffle.partitions``), not the count AQE
    would coalesce them to at run time; probing that count would run
    every upstream shuffle and broadcast stage once here and again in
    the caller's action.

    ``max_partitions`` caps the repartition target below the default
    parallelism. Use it for CONSTANT-SIZE inputs feeding Python stages
    (the codec fixture batteries: 120-440 rows): the per-stage
    JVM↔Python round-trip cost is flat up to ~16 tasks but grows with
    task count beyond that (identity mapInPandas, 32 cores: ~420 ms at
    1-16 tasks vs 661 ms at 32 / 1067 ms at 64 in this host's slow
    crossing regime — OPTIMIZATION_r14.md), while a few hundred rows of
    codec CPU saturate at ~16-way just as well as 32-way. Corpus-scaling
    inputs must NOT pass it — their stage cost is data-bound, not
    crossing-bound. An input that already arrives with MORE than
    ``max_partitions`` partitions (a fixture read pre-split by an
    upstream shuffle) is coalesced down to the cap — coalesce is
    shuffle-free, so the 100 TB "never adds a shuffle" contract holds
    on that path too (r15, ADVICE).
    """
    try:
        sc = df.sparkSession.sparkContext
        target = sc.defaultParallelism
        if max_partitions is not None:
            target = min(target, max_partitions)
        parts = _planned_partitions(df)
    except Exception:
        # Spark Connect exposes neither sparkContext nor the JVM plan;
        # there the input comes from a real cluster source that is
        # already split, so the local-file single-partition case this
        # guards against doesn't arise — pass through unchanged.
        return df
    if parts < max(1, int(target * min_fraction)):
        return df.repartition(target)
    if max_partitions is not None and parts > max_partitions:
        # capped path only: bound the per-stage crossing cost even when
        # the constant-size input arrives over-partitioned (shuffle-free)
        return df.coalesce(max_partitions)
    return df


def _children(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _planned_partitions(df: DataFrame) -> int:
    """``df``'s partition count, launching no job.

    A plan with no exchange builds its RDD (``df.rdd``), which only
    lists partitions. Otherwise the count is the output partitioning
    of the plan with its exchanges in place (under AQE its initial
    plan); a node that does not know its count (a file scan reports
    ``UnknownPartitioning(0)``) takes it from the child its rows stream
    from — a union sums its children, a broadcast build side is
    skipped — down to the leaf scan's file partitions."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        return _node_partitions(plan.initialPlan())
    stack = [plan]
    while stack:
        node = stack.pop()
        if "Exchange" in node.nodeName():
            return _node_partitions(plan)
        stack.extend(_children(node))
    return df.rdd.getNumPartitions()


def _node_partitions(node) -> int:
    n = node.outputPartitioning().numPartitions()
    if n > 0:
        return n
    kids = [k for k in _children(node) if k.nodeName() != "BroadcastExchange"]
    if not kids:
        # a leaf builds its RDD without running a job (file splits only)
        return node.execute().getNumPartitions()
    counts = [_node_partitions(k) for k in kids]
    return sum(counts) if node.nodeName() == "Union" else max(counts)


def struct_udf(fn, schema: str):
    """A scalar pandas UDF from ``fn`` (a ``pd.Series`` in, one
    ``pd.DataFrame`` row per element out) returning the struct
    ``schema``, for an operator that appends the struct's fields.

    The eval type is passed explicitly: under ``from __future__ import
    annotations`` a closure's ``pd.Series`` hints are strings pyspark
    cannot resolve (UNSUPPORTED_SIGNATURE), and the explicit form's
    hint-preference warning is silenced here once.

    The UDF is marked nondeterministic only as an optimizer barrier:
    its values are deterministic, but Catalyst would otherwise push a
    downstream filter on the appended fields below the projection,
    inlining the UDF — and every Python UDF upstream of it — into that
    filter, so each would run twice per row. The cost: no downstream
    filter moves below the UDF, so it scores every input row."""
    import warnings

    from pyspark.sql.functions import pandas_udf
    from pyspark.util import PythonEvalType

    with warnings.catch_warnings():
        warnings.filterwarnings("ignore", "In Python 3.6+", UserWarning)
        udf = pandas_udf(fn, schema, PythonEvalType.SQL_SCALAR_PANDAS_UDF)
    return udf.asNondeterministic()


def local_frame(spark, rows: list, schema: str | StructType) -> DataFrame:
    """A DataFrame over a few driver-side rows (tuples in ``schema``
    order), built through an Arrow table. ``createDataFrame`` of a
    Python list goes through ``parallelize`` and a pickling Python
    worker, which starts a second Python daemon beside the Arrow one;
    an Arrow table is handed to the JVM directly, whatever the session's
    Arrow settings, and has no silent fallback."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def bounded_query_collect(
    queries: DataFrame, cols: list[str], max_queries: int, op_name: str
) -> list:
    """Collect a caller-supplied query-side DataFrame under an explicit
    row bound.

    Every ANN operator that broadcasts its query matrix through the
    task closure funnels its collect through here, so the "small by
    contract" assumption is enforced instead of silently OOMing the
    driver on a mis-sized call (limit(n+1) costs one extra row, not a
    count job)."""
    rows = queries.select(*cols).limit(max_queries + 1).collect()
    if len(rows) > max_queries:
        raise ValueError(
            f"{op_name} query side exceeds max_queries={max_queries}; "
            "this operator broadcasts the query matrix — split the query "
            "set, raise max_queries deliberately, or use a large-to-large "
            "search (lsh_ann_topk / cosine_near_duplicates)"
        )
    return rows
