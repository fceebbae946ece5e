"""DESCRIBE query form (SPARQL 1.1 §16.4) — r4 extension.

Well-defined under the closed mapping model: each described variable
must be a star subject, whose entity mapping fixes the full predicate
set.  The lowering renders one statement over a `sol` CTE and reads
each relevant source ONCE, exploding all its mapped predicates from an
array of structs.
"""

import pytest

from sparkall_spark import Engine
from sparkall_spark.fixtures import PREFIX_BLOCK, tpch_mappings
from sparkall_spark.plans.parser import SparqlParseError, parse_sparql
from tests.conftest import assert_matches_oracle

NS = "http://sparkall.io/ns/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, tpch_mappings(sf_dir))


def test_describe_parse_and_validation():
    q = parse_sparql(
        PREFIX_BLOCK + "DESCRIBE ?n WHERE { ?n a sa:Nation ; sa:region ?r . }"
    )
    assert q.describe_vars == ["n"] and q.select_vars == ["n"]
    with pytest.raises(SparqlParseError, match="WHERE"):
        parse_sparql(PREFIX_BLOCK + "DESCRIBE <http://x>")
    with pytest.raises(SparqlParseError, match="only .variables"):
        parse_sparql(
            PREFIX_BLOCK + "DESCRIBE ?n <http://x> WHERE { ?n a sa:Nation . }"
        )
    with pytest.raises(SparqlParseError, match="star subject"):
        parse_sparql(
            PREFIX_BLOCK
            + "DESCRIBE ?r WHERE { ?n a sa:Nation ; sa:region ?r . }"
        )
    with pytest.raises(SparqlParseError, match="UNION"):
        parse_sparql(
            PREFIX_BLOCK
            + "DESCRIBE ?n WHERE { { ?n a sa:Nation . } UNION "
            "{ ?n a sa:Region . } }"
        )


_REGION1_NATIONS = (
    PREFIX_BLOCK
    + """
    DESCRIBE ?n WHERE {
        ?n a sa:Nation ; sa:region ?r .
        FILTER (?r = 1)
    }
    """
)


def test_describe_matches_oracle(engine, duck):
    q = _REGION1_NATIONS
    oracle = f"""
    SELECT DISTINCT * FROM (
        SELECT CAST(n_nationkey AS VARCHAR) AS subject,
               '{NS}name' AS predicate, n_name AS object
        FROM nation WHERE n_regionkey = 1
        UNION ALL
        SELECT CAST(n_nationkey AS VARCHAR), '{NS}region',
               CAST(n_regionkey AS VARCHAR)
        FROM nation WHERE n_regionkey = 1
        UNION ALL
        SELECT CAST(n_nationkey AS VARCHAR), '{RDF_TYPE}', '{NS}Nation'
        FROM nation WHERE n_regionkey = 1
    )
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) == 15  # 5 nations x 3 triples
    assert engine.sparql(q).columns == ["subject", "predicate", "object"]


def test_describe_reads_each_source_once(engine):
    """Plan shape: each described source is scanned once for all its
    predicates (an array-of-structs explode), not once per predicate:
    one nation scan for the solution, one for the description."""
    q = _REGION1_NATIONS
    plan = engine.sparql(q)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 2
    assert "Generate explode" in plan


def _customer_triples(ids_sql: str) -> str:
    """Oracle: every mapped Customer triple for the ids ``ids_sql``
    selects (column ``k``)."""
    member = f"c_custkey IN (SELECT k FROM ({ids_sql}))"
    return f"""
    SELECT CAST(c_custkey AS VARCHAR) AS subject, '{NS}name' AS predicate,
           c_name AS object FROM customer WHERE {member}
    UNION ALL
    SELECT CAST(c_custkey AS VARCHAR), '{NS}nation',
           CAST(c_nationkey AS VARCHAR) FROM customer WHERE {member}
    UNION ALL
    SELECT CAST(c_custkey AS VARCHAR), '{NS}acctbal',
           CAST(c_acctbal AS VARCHAR) FROM customer WHERE {member}
    UNION ALL
    SELECT CAST(c_custkey AS VARCHAR), '{NS}mktsegment', c_mktsegment
    FROM customer WHERE {member}
    UNION ALL
    SELECT CAST(c_custkey AS VARCHAR), '{RDF_TYPE}', '{NS}Customer'
    FROM customer WHERE {member}
    """


def test_describe_join_restricted(engine, duck):
    """DESCRIBE a variable restricted through a join matches the
    oracle, and every mapped predicate of the entity appears."""
    q = (
        PREFIX_BLOCK
        + """
        DESCRIBE ?c WHERE {
            ?c a sa:Customer ; sa:nation ?n ; sa:acctbal ?bal .
            ?n a sa:Nation ; sa:name ?nname .
            FILTER (?bal > 9000)
            FILTER (?nname = "NATION_20")
        }
        """
    )
    ids = """
        SELECT c_custkey AS k FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > 9000 AND n_name = 'NATION_20'
    """
    oracle = f"SELECT DISTINCT * FROM ({_customer_triples(ids)})"
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = engine.sparql(q).collect()
    preds = {r["predicate"] for r in a}
    assert preds == {
        NS + "name", NS + "nation", NS + "acctbal", NS + "mktsegment",
        RDF_TYPE,
    }
    # 4 predicate triples + type triple per described customer
    subjects = {r["subject"] for r in a}
    assert len(a) == 5 * len(subjects) and len(subjects) >= 1


def test_describe_multiple_variables(engine, duck):
    """DESCRIBE ?c ?n emits both entities' descriptions in one graph."""
    q = (
        PREFIX_BLOCK
        + """
        DESCRIBE ?c ?n WHERE {
            ?c a sa:Customer ; sa:nation ?n ; sa:acctbal ?bal .
            ?n a sa:Nation .
            FILTER (?bal > 9900)
        }
        """
    )
    sol = "SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 9900"
    oracle = f"""
    SELECT DISTINCT * FROM (
        {_customer_triples(f"SELECT c_custkey AS k FROM ({sol})")}
        UNION ALL
        SELECT CAST(n_nationkey AS VARCHAR), '{NS}name', n_name FROM nation
        WHERE n_nationkey IN (SELECT c_nationkey FROM ({sol}))
        UNION ALL
        SELECT CAST(n_nationkey AS VARCHAR), '{NS}region',
               CAST(n_regionkey AS VARCHAR) FROM nation
        WHERE n_nationkey IN (SELECT c_nationkey FROM ({sol}))
        UNION ALL
        SELECT CAST(n_nationkey AS VARCHAR), '{RDF_TYPE}', '{NS}Nation'
        FROM nation WHERE n_nationkey IN (SELECT c_nationkey FROM ({sol}))
    )
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = engine.sparql(q).collect()
    types = {r["object"] for r in a if r["predicate"] == RDF_TYPE}
    assert types == {NS + "Customer", NS + "Nation"}
