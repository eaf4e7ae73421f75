"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


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
        # classic mode: probe actual partitioning via the RDD handle
        sc = df.sparkSession.sparkContext
        target = sc.defaultParallelism
        if max_partitions is not None:
            target = min(target, max_partitions)
        parts = df.rdd.getNumPartitions()
    except Exception:
        # Spark Connect exposes neither sparkContext nor df.rdd; there
        # the input comes from a real cluster source that is already
        # split, so the local-file single-partition case this guards
        # against doesn't arise — pass through unchanged.
        return df
    if parts < max(1, int(target * min_fraction)):
        return df.repartition(target)
    if max_partitions is not None and parts > max_partitions:
        # capped path only: bound the per-stage crossing cost even when
        # the constant-size input arrives over-partitioned (shuffle-free)
        return df.coalesce(max_partitions)
    return df


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
