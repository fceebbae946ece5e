"""Reader registry: source type -> (spark, mapping) -> DataFrame.

The reference dispatches on the ``nosql:store`` URI in a match block
(reference: SparkExecutor.scala:85-106); here it is a plain dict so new
sources are one registration away (the reference documents new sources
as its extension point, README.md:62-63).

Resolution rule (``SourceCache``, one per ``Engine``): a query sees the
files listed when it is constructed.  A file-backed source (parquet,
csv, json, orc, text, rdf, warc) is resolved by ``load_source`` once,
and the resolved relation is reused while its (path, size, mtime) file
listing is unchanged; a changed source is resolved again exactly as an
uncached read would be.  Only local paths are listed: globs, other file
systems (hdfs, s3, ...), non-file sources (jdbc, mongodb, cassandra,
elasticsearch) and custom readers resolve on every query.  A rewrite in
place that keeps every file's size and lands within the file system's
mtime tick is not detected; callers that rewrite files that way should
build a new ``Engine``.
Like Spark's catalog tables, a reused relation keeps the schema it was
resolved with, including the session confs in force at that time.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sparkall_spark.mappings import EntityMapping
from sparkall_spark.sources.files import (
    file_listing,
    read_csv,
    read_json,
    read_orc,
    read_parquet,
    read_text,
)
from sparkall_spark.sources.jdbc import read_jdbc
from sparkall_spark.sources.nosql import read_cassandra, read_elasticsearch, read_mongodb
from sparkall_spark.sources.rdf import read_ntriples
from sparkall_spark.sources.warc import read_warc_mapping

ReaderFn = Callable[[SparkSession, EntityMapping], DataFrame]

READERS: dict[str, ReaderFn] = {
    "parquet": read_parquet,
    "csv": read_csv,
    "json": read_json,
    "orc": read_orc,
    "text": read_text,
    "jdbc": read_jdbc,
    "mongodb": read_mongodb,
    "cassandra": read_cassandra,
    "elasticsearch": read_elasticsearch,
    "rdf": read_ntriples,
    "warc": read_warc_mapping,
}

# readers whose frame is a function of the files under mapping.source
_FILE_READERS = frozenset(
    {read_parquet, read_csv, read_json, read_orc, read_text, read_ntriples,
     read_warc_mapping}
)


def register_reader(source_type: str, fn: ReaderFn) -> None:
    READERS[source_type] = fn


def load_source(spark: SparkSession, mapping: EntityMapping) -> DataFrame:
    try:
        reader = READERS[mapping.source_type]
    except KeyError:
        raise ValueError(
            f"unknown source type {mapping.source_type!r} for entity {mapping.name!r}; "
            f"known: {sorted(READERS)}"
        ) from None
    return reader(spark, mapping)


class SourceCache:
    """Resolved sources of one ``Engine``, reused under the resolution
    rule in the module docstring.  Entries are keyed by the reader's
    inputs, not by the (mutable) mapping object.

    Threads may share one cache: an entry is a (listing, frame) pair
    stored and replaced whole, so no reader pairs a listing with another
    listing's frame; two threads missing at once both resolve, and the
    later store wins."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._entries: dict[tuple, tuple[tuple, DataFrame]] = {}

    def load(self, mapping: EntityMapping) -> DataFrame:
        if READERS.get(mapping.source_type) not in _FILE_READERS:
            return load_source(self.spark, mapping)
        key = (
            mapping.source_type,
            mapping.source,
            tuple(sorted((k, repr(v)) for k, v in mapping.options.items())),
            mapping.class_iri,  # the rdf reader selects and names by these
            mapping.id_attr,
        )
        try:
            listing = file_listing(self.spark, mapping.source)
        except OSError:
            # unlistable: resolve uncached, so the query gets the same
            # frame (or the same exception) as without the cache
            return load_source(self.spark, mapping)
        hit = self._entries.get(key)
        if hit is not None and hit[0] == listing:
            return hit[1]
        # listed BEFORE resolving: files changing in between make the
        # next query re-resolve instead of trusting a stale frame
        df = load_source(self.spark, mapping)
        self._entries[key] = (listing, df)
        return df
