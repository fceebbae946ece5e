"""Resolved-source reuse (``sources.SourceCache``): one Engine resolves
each file-backed source once and reuses it while the source's file
listing is unchanged; a changed listing resolves it again.  Also the
lowering's per-call view names (two Engines on one session, two
threads)."""

import os
import shutil
import sys
import uuid
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pytest

import sparkall_spark.sources as sources_mod
from __spark_entry__ import SPARQL_QUERIES
from sparkall_spark import Engine
from sparkall_spark.fixtures import NS, PREFIX_BLOCK, tpch_mappings
from sparkall_spark.mappings import EntityMapping, MappingIndex
from sparkall_spark.sources import load_source
from tests.conftest import assert_matches_oracle
from tests.test_entry_contract import SF_DIR as SF01_DIR

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


@pytest.fixture
def loads(monkeypatch):
    """Names of the mappings ``load_source`` resolved, in call order."""
    calls: list[str] = []

    def counting(spark, mapping):
        calls.append(mapping.name)
        return load_source(spark, mapping)

    monkeypatch.setattr(sources_mod, "load_source", counting)
    return calls


def _construct_jobs(spark, build):
    """Run ``build()`` and return (its result, the Spark job ids it
    submitted), read from the status tracker under a private job group."""
    sc = spark.sparkContext
    group = f"source-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "construct probe")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_construct_submits_no_job_and_loads_nothing(spark, sf_dir, loads):
    engine = Engine(spark, tpch_mappings(sf_dir))
    q = PREFIX_BLOCK + SPARQL_QUERIES["q04_join_five_stars"][0]
    plan = engine.plan(q)
    expected = {
        m.name
        for star in plan.query.stars.values()
        for m in engine.mappings.relevant_sources(star)
    }

    first, _ = _construct_jobs(spark, lambda: engine.sparql(q))
    assert Counter(loads) == Counter(expected)  # each distinct source once
    n = first.count()

    loads.clear()
    second, jobs = _construct_jobs(spark, lambda: engine.sparql(q))
    assert loads == [] and jobs == []
    assert second.count() == n


# ---- same relation twice in one plan ------------------------------------

TWO_ORDERS = PREFIX_BLOCK + """
SELECT ?cname ?p1 ?p2 WHERE {
    ?o1 a sa:Orders ; sa:customer ?c ; sa:totalprice ?p1 .
    ?o2 a sa:Orders ; sa:customer ?c ; sa:totalprice ?p2 .
    ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
    FILTER (?p1 < ?p2)
    FILTER (?n = 3)
}
"""

TWO_ORDERS_ORACLE = """
SELECT c.c_name AS cname, o1.o_totalprice AS p1, o2.o_totalprice AS p2
FROM orders o1
JOIN customer c ON o1.o_custkey = c.c_custkey
JOIN orders o2 ON o2.o_custkey = c.c_custkey
WHERE o1.o_totalprice < o2.o_totalprice AND c.c_nationkey = 3
"""

DESCRIBE_OVER_SOURCE = PREFIX_BLOCK + """
DESCRIBE ?n WHERE {
    ?c a sa:Customer ; sa:nation ?n ; sa:acctbal ?bal .
    ?n a sa:Nation ; sa:region ?r .
    FILTER (?bal > 9000)
}
"""

DESCRIBE_ORACLE = f"""
WITH ids AS (
    SELECT DISTINCT n.n_nationkey AS k FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey WHERE c.c_acctbal > 9000
)
SELECT DISTINCT * FROM (
    SELECT CAST(n_nationkey AS VARCHAR) AS subject,
           '{NS}name' AS predicate, n_name AS object
    FROM nation WHERE n_nationkey IN (SELECT k FROM ids)
    UNION ALL
    SELECT CAST(n_nationkey AS VARCHAR), '{NS}region',
           CAST(n_regionkey AS VARCHAR)
    FROM nation WHERE n_nationkey IN (SELECT k FROM ids)
    UNION ALL
    SELECT CAST(n_nationkey AS VARCHAR), '{RDF_TYPE}', '{NS}Nation'
    FROM nation WHERE n_nationkey IN (SELECT k FROM ids)
)
"""


@pytest.mark.parametrize(
    "query,oracle",
    [(TWO_ORDERS, TWO_ORDERS_ORACLE), (DESCRIBE_OVER_SOURCE, DESCRIBE_ORACLE)],
    ids=["two_stars_one_mapping", "describe_over_scanned_source"],
)
def test_one_cached_relation_twice_in_a_plan(
    spark, sf_dir, duck, loads, query, oracle
):
    engine = Engine(spark, tpch_mappings(sf_dir))
    df = engine.sparql(query)
    assert max(Counter(loads).values()) == 1  # the repeat is the cached frame
    assert_matches_oracle(df, duck, oracle)
    assert_matches_oracle(engine.sparql(query), duck, oracle)


# ---- freshness: a changed listing resolves the source again -------------

PEOPLE = PREFIX_BLOCK + """
SELECT ?p ?name ?score WHERE { ?p a sa:Person ; sa:name ?name ; sa:score ?score . }
"""


def _people(source: str, source_type: str):
    return EntityMapping(
        name="Person",
        source=source,
        source_type=source_type,
        id_attr="id",
        predicates={NS + "name": "name", NS + "score": "score"},
        class_iri=NS + "Person",
    )


def _rows(engine: Engine, q: str):
    return sorted(map(tuple, engine.sparql(q).collect()))


def _fresh(spark, mapping, q):
    """The answer of an Engine that has resolved nothing yet."""
    return _rows(Engine(spark, MappingIndex([mapping])), q)


def test_parquet_rewritten_in_place(spark, tmp_path):
    path = str(tmp_path / "people.parquet")
    spark.createDataFrame(
        [(1, "ann", 10), (2, "bob", 20)], "id INT, name STRING, score INT"
    ).write.parquet(path)
    m = _people(path, "parquet")
    engine = Engine(spark, MappingIndex([m]))
    before = _rows(engine, PEOPLE)

    # same path, different rows, one column renamed (and the mutable
    # mapping edited to match: the key is the reader's inputs, not it)
    spark.createDataFrame(
        [(3, "cy", 30), (4, "di", 40), (5, "ed", 50)],
        "id INT, name STRING, points INT",
    ).write.mode("overwrite").parquet(path)
    m.predicates[NS + "score"] = "points"
    after = _rows(engine, PEOPLE)
    assert after != before
    assert after == _fresh(spark, m, PEOPLE)


def test_part_file_added_to_directory(spark, tmp_path):
    path = str(tmp_path / "people.parquet")
    schema = "id INT, name STRING, score INT"
    spark.createDataFrame([(1, "ann", 10)], schema).write.parquet(path)
    m = _people(path, "parquet")
    engine = Engine(spark, MappingIndex([m]))
    before = _rows(engine, PEOPLE)

    spark.createDataFrame([(2, "bob", 20)], schema).write.mode("append").parquet(path)
    after = _rows(engine, PEOPLE)
    assert len(after) == len(before) + 1
    assert after == _fresh(spark, m, PEOPLE)


def test_deleted_source_raises_like_load_source(spark, tmp_path):
    path = str(tmp_path / "people.parquet")
    spark.createDataFrame(
        [(1, "ann", 10)], "id INT, name STRING, score INT"
    ).write.parquet(path)
    m = _people(path, "parquet")
    engine = Engine(spark, MappingIndex([m]))
    assert len(_rows(engine, PEOPLE)) == 1

    shutil.rmtree(path)
    with pytest.raises(Exception) as uncached:
        load_source(spark, m)
    with pytest.raises(Exception) as cached:
        engine.sparql(PEOPLE)
    assert type(cached.value) is type(uncached.value)


def test_csv_column_changes_type_under_infer_schema(spark, tmp_path):
    path = tmp_path / "people.csv"
    path.write_text("id,name,score\n1,ann,1\n2,bob,2\n")
    m = _people(str(path), "csv")
    engine = Engine(spark, MappingIndex([m]))
    q = PEOPLE.replace("}", "FILTER (?score > 1) }")
    assert [r[1] for r in _rows(engine, q)] == ["bob"]

    path.write_text("id,name,score\n1,ann,1.5\n2,bob,0.5\n")
    after = _rows(engine, q)
    assert after == _fresh(spark, m, q)
    assert [r[1] for r in after] == ["ann"]


def test_glob_source_resolves_every_query(spark, tmp_path, loads):
    """A glob is not listed: it resolves on every query, as uncached."""
    path = tmp_path / "people.parquet"
    spark.createDataFrame(
        [(1, "ann", 10)], "id INT, name STRING, score INT"
    ).write.parquet(str(path))
    m = _people(str(path / "*.parquet"), "parquet")
    engine = Engine(spark, MappingIndex([m]))
    assert len(_rows(engine, PEOPLE)) == 1
    assert len(_rows(engine, PEOPLE)) == 1
    assert loads == ["Person", "Person"]


# ---- one SparkSession, several Engines and threads ----------------------


def test_sql_backend_threads_on_shared_session(spark, sf_dir):
    """Two Engines (two scales) share one SparkSession; two threads run
    q03.  Per-call view names keep each query on its
    own sources, and no view outlives its query."""
    if not os.path.isdir(SF01_DIR) or os.path.samefile(SF01_DIR, sf_dir):
        pytest.skip("needs a second scale next to the test scale")
    q = PREFIX_BLOCK + SPARQL_QUERIES["q03_join_filters"][0]
    engines = [Engine(spark, tpch_mappings(d)) for d in (sf_dir, SF01_DIR)]
    serial = [e.sparql(q).count() for e in engines]
    assert serial[0] != serial[1]

    def loop(i: int) -> list[int]:
        return [engines[i].sparql(q).count() for _ in range(25)]

    with ThreadPoolExecutor(2) as pool:
        futures = [pool.submit(loop, i) for i in (0, 1)]
        counts = [f.result(timeout=600) for f in futures]
    assert [c for c in counts[0] if c != serial[0]] == []
    assert [c for c in counts[1] if c != serial[1]] == []
    left = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith(("src_", "dsc_"))
    ]
    assert left == []


def test_one_engine_shared_by_threads(spark, sf_dir, loads):
    """More threads than cores construct one query on one Engine at once,
    with a short switch interval.  Every frame answers like a serial run,
    and the cache ends consistent: the next construct resolves nothing."""
    q = PREFIX_BLOCK + SPARQL_QUERIES["q04_join_five_stars"][0]
    serial = Engine(spark, tpch_mappings(sf_dir)).sparql(q).count()
    engine = Engine(spark, tpch_mappings(sf_dir))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(engine.sparql, q) for _ in range(16)]
            frames = [f.result(timeout=600) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert [df.count() for df in frames] == [serial] * len(frames)
    loads.clear()
    engine.sparql(q)
    assert loads == []
