"""Engine facade: the user-facing entry point.

    from sparkall_spark import Engine, MappingIndex, EntityMapping

    engine = Engine(spark, MappingIndex([...]))
    df = engine.sparql(query_text)      # lazy DataFrame
    engine.run(query_text)              # print 20 rows + count (reference UX)

Mirrors the reference lifecycle (Run.scala:17-318: parse -> plan ->
mapping consultation -> per-star build -> join -> group/order/project/
limit -> actions) but parses once, lowers the query to one SQL
statement (plans/sqlgen.py), and leaves actions to the caller.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from sparkall_spark.mappings import (
    MappingIndex,
    SourceCatalog,
    expand_negated_paths,
    load_rml,
)
from sparkall_spark.plans.parser import parse_sparql
from sparkall_spark.plans.planner import QueryPlan, plan_query
from sparkall_spark.plans.sqlgen import compile_sql, execute_sql_backend
from sparkall_spark.sources import SourceCache


class Engine:
    def __init__(self, spark: SparkSession, mappings: MappingIndex):
        self.spark = spark
        self.mappings = mappings
        # resolved sources, reused across queries while their file
        # listing is unchanged (resolution rule: sparkall_spark.sources)
        self._sources = SourceCache(spark)

    @classmethod
    def from_rml(
        cls,
        spark: SparkSession,
        mappings_path: str | Path,
        config_path: str | Path | None = None,
    ) -> "Engine":
        catalog = SourceCatalog.from_json(config_path) if config_path else None
        return cls(spark, load_rml(mappings_path, catalog))

    def _prep(self, query_text: str) -> str:
        """Mapping-aware text rewrites that must precede parsing —
        today: negated property sets, which desugar to the positive
        complement alternation (the mapping closes each entity's
        predicate set)."""
        return expand_negated_paths(query_text, self.mappings)

    def plan(self, query_text: str) -> QueryPlan:
        return plan_query(parse_sparql(self._prep(query_text)))

    def sparql(self, query_text: str) -> DataFrame:
        """Compile one SPARQL query to one lazy DataFrame: the whole
        query becomes ONE SQL string run via ``spark.sql`` (the
        reference's Presto/DataQueryFrame path re-expressed on Spark)."""
        return execute_sql_backend(
            self._sources, self._prep(query_text), self.mappings
        )

    def to_sql(self, query_text: str) -> str:
        """The single SQL statement ``sparql`` executes, under stable
        ``src_*``/``dsc_*`` view names."""
        return compile_sql(self.plan(query_text), self.mappings).sql

    def explain(self, query_text: str, mode: str = "formatted") -> None:
        self.sparql(query_text).explain(mode)

    def run(self, query_text: str, n: int = 20) -> int:
        """Reference-style console sink (SparkExecutor.scala:543-556) minus
        its double execution: one cached frame serves both the preview and
        the count."""
        df = self.sparql(query_text)
        df.persist()
        try:
            df.show(n, truncate=False)
            count = df.count()
            print(f"Number of results: {count}")
            return count
        finally:
            df.unpersist()
