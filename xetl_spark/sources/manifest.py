"""Min-max data-skipping manifest over a parquet directory — the
Iceberg/Delta file-pruning pattern reconstructed from parquet footers.

Spark's own parquet reader prunes ROW GROUPS once a task has opened a
file, but on a multi-million-file table the scheduling cost is the
file list itself: every file becomes at least one task. A table
written range-partitioned/sorted on a key (repartitionByRange +
sortWithinPartitions — the layout any large fact table should have)
carries per-file min/max in its footers; this module turns those
footers into a manifest and prunes the FILE LIST before Spark ever
plans the scan, which is exactly what an Iceberg/Delta metadata layer
does with its manifest files.

Scale shape: footer reads are distributed (mapInPandas over the file
list — metadata-only I/O, no data pages touched); only the pruned
path list returns to the driver, and that is the same driver-side
file list Spark's FileIndex materializes for any scan, capped by
``max_files`` as a regression guard.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xetl_spark.operators.util import local_frame


def _parquet_files(path: str) -> list[str]:
    out = []
    for root, _dirs, names in os.walk(path):
        out.extend(
            os.path.join(root, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        )
    return sorted(out)


def build_manifest(spark: SparkSession, path: str, column: str) -> DataFrame:
    """Per-file (path, n_rows, min_v, max_v) for ``column``, read from
    parquet FOOTER statistics only — distributed, no data pages.

    ``min_v``/``max_v`` keep the column's own Spark type (read from the
    file's arrow schema), so pruning predicates compare exactly —
    no lossy cast through double for int64 keys."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    files = _parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    field = pq.ParquetFile(files[0]).schema_arrow.field(column)
    vtype = from_arrow_type(field.type).simpleString()

    fdf = local_frame(spark, [(f,) for f in files], "path string").repartition(
        min(len(files), 64)
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq  # executor-side

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                idx = md.schema.to_arrow_schema().get_field_index(column)
                lo = hi = None
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(idx).statistics
                    if st is None or not st.has_min_max:
                        lo = hi = None  # a stat-less group poisons the file
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                rows.append((p, md.num_rows, lo, hi))
            yield pd.DataFrame(rows, columns=["path", "n_rows", "min_v", "max_v"])

    return fdf.mapInPandas(
        stats, schema=f"path string, n_rows long, min_v {vtype}, max_v {vtype}"
    )


def pruned_read(
    spark: SparkSession,
    path: str,
    column: str,
    lo,
    hi,
    max_files: int = 1_000_000,
) -> DataFrame:
    """Read only the files whose [min_v, max_v] intersects [lo, hi],
    with the predicate still applied (manifest pruning is a superset
    filter; files lacking footer stats are conservatively kept).
    Returns an empty, correctly-typed DataFrame when nothing overlaps.
    """
    mani = build_manifest(spark, path, column)
    kept = [
        r.path
        for r in mani.filter(
            F.col("min_v").isNull()  # stat-less file: must read it
            | ((F.col("min_v") <= F.lit(hi)) & (F.col("max_v") >= F.lit(lo)))
        )
        .limit(max_files + 1)
        .collect()
    ]
    if len(kept) > max_files:
        raise ValueError(
            f"pruned file list exceeds max_files={max_files}; "
            "raise the cap or tighten the predicate"
        )
    pred = F.col(column).between(F.lit(lo), F.lit(hi))
    if not kept:
        return spark.read.parquet(path).filter(pred).limit(0)
    return spark.read.parquet(*kept).filter(pred)
