"""CLI entry point — the analog of the reference's Main
(reference: Main.scala:9-30 takes query file, mappings file, config
file, executor id, reorder flag, engine choice; we are Spark-only and
join ordering belongs to AQE/CBO, so the surface is three files plus
session knobs).

    python -m sparkall_spark QUERY.sparql MAPPINGS.ttl [CONFIG.json]
        [--master local[8]] [--limit 20] [--explain]
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="sparkall_spark", description="PySpark-native semantic data lake engine"
    )
    ap.add_argument("query", help="SPARQL query file")
    ap.add_argument("mappings", help="RML Turtle mappings file")
    ap.add_argument("config", nargs="?", default=None, help="JSON source config")
    ap.add_argument("--master", default=None, help="Spark master (default local[N])")
    ap.add_argument("--limit", type=int, default=20, help="rows to print")
    ap.add_argument("--explain", action="store_true", help="print the physical plan")
    args = ap.parse_args(argv)

    from sparkall_spark.engine import Engine
    from sparkall_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("sparkall-cli", master=args.master)
    engine = Engine.from_rml(spark, args.mappings, args.config)
    query_text = open(args.query).read()
    analysis_done = time.perf_counter()

    if args.explain:
        engine.explain(query_text)
        return 0
    count = engine.run(query_text, n=args.limit)
    print(
        f"analysis {analysis_done - t0:.2f}s, "
        f"execution {time.perf_counter() - analysis_done:.2f}s, "
        f"{count} rows"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
