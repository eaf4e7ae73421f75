"""Uniform batch read/write across formats.

Spark-first: these are thin, typed dispatchers over ``spark.read`` /
``DataFrameWriter`` — Catalyst keeps pushdown/pruning because nothing
is materialized in between. They exist so pipeline specs (plans/) can
name formats declaratively, mirroring the reference's file-based tasks.
"""

from __future__ import annotations

import functools
import json

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_READ_FORMATS = {"parquet", "csv", "json", "text", "orc", "binaryFile"}
_WRITE_FORMATS = {"parquet", "csv", "json", "text", "orc"}
# the characters that make Spark glob a path (SparkHadoopUtil.isGlobPath)
_GLOB_CHARS = frozenset("{}[]*?\\")


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job
    when ``path`` is one file.

    Spark infers a parquet schema with a Spark job that reads one
    footer on an executor. For a single file that footer is the file's
    own, so its schema is read here on the driver, converted the same
    way (``_footer_schema``), and handed to the reader. A directory, a
    glob, a hidden file, a Connect session or a footer that cannot be
    read or converted keeps the plain ``spark.read.parquet(path)``:
    Spark's inference, and for a bad footer Spark's own error.
    """
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark's inference job gives the single parquet file
    ``path``, or None where ``read_parquet`` leaves inference to Spark.

    Mirrors ``ParquetFileFormat.mergeSchemasInParallel`` for one file:
    the footer without row groups, ``readSchemaFromFooter`` (Spark's
    own schema key first, else the parquet schema), and a converter
    built from the same settings: five read from the session, and the
    conf defaults for case sensitivity, field-id reads and the variant
    annotation, which the inference job does not take from the session.
    """
    jsession = getattr(spark, "_jsparkSession", None)  # absent under Connect
    if jsession is None or _GLOB_CHARS.intersection(path):
        return None
    # one py4j lookup per class: walking jvm.org.apache... costs one per segment
    jclass = functools.partial(getattr, spark._jvm)
    parquet = "org.apache.spark.sql.execution.datasources.parquet."
    try:
        hconf = jsession.sessionState().newHadoopConf()
        hpath = jclass("org.apache.hadoop.fs.Path")(path)
        status = hpath.getFileSystem(hconf).getFileStatus(hpath)
        # Spark lists no hidden file (`_x`, `.x`), even one named directly
        hidden = jclass("org.apache.spark.util.HadoopFSUtils").shouldFilterOutPathName(
            status.getPath().getName()
        )
        if hidden or not status.isFile():
            return None
        meta = jclass(parquet + "ParquetFooterReader").readFooter(
            jclass("org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(status, hconf),
            jclass("org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
        )
        conf = jsession.sessionState().conf()
        defaults = jclass("org.apache.spark.sql.internal.SQLConf")
        converter = jclass(parquet + "ParquetToSparkSchemaConverter")(
            conf.isParquetBinaryAsString(),
            conf.isParquetINT96AsTimestamp(),
            defaults.CASE_SENSITIVE().defaultValue().get(),
            conf.parquetInferTimestampNTZEnabled(),
            conf.legacyParquetNanosAsLong(),
            defaults.PARQUET_FIELD_ID_READ_ENABLED().defaultValue().get(),
            defaults.PARQUET_IGNORE_VARIANT_ANNOTATION().defaultValue().get(),
            conf.parquetReaderRespectUnknownTypeAnnotation(),
        )
        footer = jclass("org.apache.parquet.hadoop.Footer")(status.getPath(), meta)
        schema = jclass(parquet + "ParquetFileFormat").readSchemaFromFooter(footer, converter)
    except Py4JJavaError:  # missing path, not parquet, unconvertible type
        return None
    return T.StructType.fromJson(json.loads(schema.json()))


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    **options,
) -> DataFrame:
    if fmt not in _READ_FORMATS:
        raise ValueError(f"unsupported read format {fmt!r}; one of {sorted(_READ_FORMATS)}")
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if options:
        reader = reader.options(**options)
    return reader.load(path)


def read_with_quarantine(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: T.StructType | str,
    quarantine_path: str | None = None,
    **options,
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE scan that splits parseable rows from malformed ones.

    A 100 TB ingest must not abort for a handful of corrupt records
    (FAILFAST), nor silently drop them (DROPMALFORMED); this reads with
    an explicit schema + a corrupt-record capture column and returns
    ``(good, bad)`` — bad rows as their raw source text, optionally
    also appended to ``quarantine_path`` for replay after an upstream
    fix.

    Requires an explicit schema: schema inference would both cost an
    extra full scan and erase the notion of "malformed". The scan is
    cached before splitting — Spark disallows filtering on the
    internal corrupt-record column of a live scan (the raw text exists
    only while the row is being parsed), and the two output branches
    would otherwise scan the source twice.
    """
    if fmt not in ("csv", "json"):
        raise ValueError("quarantine reads support csv/json")
    corrupt = "_corrupt_record"
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    full = T.StructType(list(schema.fields) + [T.StructField(corrupt, T.StringType())])
    df = (
        spark.read.format(fmt)
        .schema(full)
        .options(
            mode="PERMISSIVE",
            columnNameOfCorruptRecord=corrupt,
            **options,
        )
        .load(path)
        .cache()
    )
    good = df.filter(df[corrupt].isNull()).drop(corrupt)
    bad = df.filter(df[corrupt].isNotNull()).select(df[corrupt].alias("raw"))
    if quarantine_path:
        bad.write.mode("append").text(quarantine_path)
    return good, bad


def write_any(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    if fmt not in _WRITE_FORMATS:
        raise ValueError(f"unsupported write format {fmt!r}; one of {sorted(_WRITE_FORMATS)}")
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if options:
        writer = writer.options(**options)
    writer.save(path)
