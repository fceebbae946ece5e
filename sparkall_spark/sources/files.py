"""File-based sources: parquet, CSV, JSON, ORC.

One-liners over ``spark.read`` (reference: SparkExecutor.scala:86-87 for
csv/parquet).  Options come straight from the mapping's merged config
(reference config keys use '_' where Spark uses '.', e.g.
``spark_sql_parquet_filterPushdown`` — normalized here).

Scale notes: predicate pushdown and column pruning reach these scans via
Catalyst as long as the caller selects/filters on the returned frame
lazily (our executor does).  ``mergeSchema`` stays off by default —
schema merging at 100 TB is a full-footer scan.
"""

from __future__ import annotations

import os
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession

from sparkall_spark.mappings import EntityMapping

# mapping-level option keys that are engine hints, not Spark reader options
_ENGINE_OPTIONS = {"broadcast"}


def _spark_options(mapping: EntityMapping) -> dict[str, str]:
    out = {}
    for k, v in mapping.options.items():
        if k in _ENGINE_OPTIONS or k.startswith("spark_sql_"):
            continue  # session-level confs, handled at session build
        out[k] = v
    return out


def read_parquet(spark: SparkSession, mapping: EntityMapping) -> DataFrame:
    return spark.read.options(**_spark_options(mapping)).parquet(mapping.source)


def read_csv(spark: SparkSession, mapping: EntityMapping) -> DataFrame:
    opts = {"header": "true", "inferSchema": "true"}
    opts.update(_spark_options(mapping))
    return spark.read.options(**opts).csv(mapping.source)


def read_json(spark: SparkSession, mapping: EntityMapping) -> DataFrame:
    return spark.read.options(**_spark_options(mapping)).json(mapping.source)


def read_orc(spark: SparkSession, mapping: EntityMapping) -> DataFrame:
    return spark.read.options(**_spark_options(mapping)).orc(mapping.source)


def read_text(spark: SparkSession, mapping: EntityMapping) -> DataFrame:
    """Raw text lines (one row per line, column ``value``) plus an
    OPAQUE unique ``line_id`` — the minimal ingestion surface for
    line-delimited corpora that aren't JSON.

    ``line_id`` is ``monotonically_increasing_id()``: unique and
    increasing within a partition, but its values depend on the file
    split layout — treat it as an opaque key, not a stable line number
    (a per-file row_number would force a full shuffle at ingest, wrong
    at 100 TB).  ``wholetext=true`` in the mapping options switches to
    one-row-per-file for document-per-file layouts and adds a ``file``
    column (the input path) as the deterministic document key."""
    from pyspark.sql import functions as F

    opts = _spark_options(mapping)
    # format().load(), not .text(): DataFrameReader.text()'s wholetext
    # kwarg default overwrites any wholetext set via .options()
    df = spark.read.format("text").options(**opts).load(mapping.source)
    df = df.withColumn("line_id", F.monotonically_increasing_id())
    if str(opts.get("wholetext", "")).lower() == "true":
        df = df.withColumn("file", F.input_file_name())
    return df


def file_listing(spark: SparkSession, source: str) -> tuple:
    """Sorted ``(path, size, mtime_ns)`` of every file at or under the
    local path ``source`` (recursively, hidden files included), i.e. a
    superset of what a file reader lists.  Raises ``OSError`` for a path
    that names no file (a glob pattern does not) and for any source
    outside the local file system, so callers can fall back to an
    uncached read."""
    parts = urlsplit(source)
    if parts.scheme == "file":
        return _local_listing(parts.path)
    if parts.scheme or not (
        spark._jsc.hadoopConfiguration()
        .get("fs.defaultFS", "file:///")
        .startswith("file:")
    ):
        raise OSError(f"not a local file source: {source}")
    return _local_listing(source)


def _local_listing(path: str) -> tuple:
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((path, st.st_size, st.st_mtime_ns),)
    out = []
    stack = [path]
    while stack:
        with os.scandir(stack.pop()) as entries:
            for e in entries:
                if e.is_dir():
                    stack.append(e.path)
                else:
                    st = e.stat()
                    out.append((e.path, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))
