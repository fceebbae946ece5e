"""CONSTRUCT query form (SPARQL 1.1 §16.2) — extension over the
reference fragment: the result is an RDF graph rendered as a
(subject, predicate, object) string DataFrame.

Design: the template's variables become the select list, so the whole
WHERE pipeline (stars, joins, filters, modifiers) is reused unchanged;
materialization is k narrow projections over ONE shared solution plan
(Catalyst reuses the subtree), unioned and deduplicated — a graph is a
set of triples.
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


def test_construct_parse_shapes():
    q = parse_sparql(
        PREFIX_BLOCK
        + """
        CONSTRUCT {
            ?n sa:label ?name .
            ?n a sa:Nation ; sa:tag "x" .
        }
        WHERE { ?n a sa:Nation ; sa:name ?name . }
        """
    )
    assert q.construct_template == [
        (("var", "n"), ("iri", NS + "label"), ("var", "name")),
        (("var", "n"), ("iri", RDF_TYPE), ("iri", NS + "Nation")),
        (("var", "n"), ("iri", NS + "tag"), ("lit", "x")),
    ]
    # template vars drive the select list, in first-appearance order
    assert q.select_vars == ["n", "name"]
    assert not q.distinct and not q.is_ask


def test_construct_validation():
    with pytest.raises(SparqlParseError, match="predicate cannot be a literal"):
        parse_sparql(
            PREFIX_BLOCK
            + 'CONSTRUCT { ?n "p" ?name . } WHERE { ?n a sa:Nation ; sa:name ?name . }'
        )
    with pytest.raises(SparqlParseError, match="empty CONSTRUCT template"):
        parse_sparql(
            PREFIX_BLOCK + "CONSTRUCT { } WHERE { ?n a sa:Nation . }"
        )
    with pytest.raises(SparqlParseError, match="references no variables"):
        parse_sparql(
            PREFIX_BLOCK
            + "CONSTRUCT { sa:a sa:b sa:c . } WHERE { ?n a sa:Nation . }"
        )
    with pytest.raises(SparqlParseError, match="aggregation"):
        parse_sparql(
            PREFIX_BLOCK
            + """
            CONSTRUCT { ?n sa:label ?name . }
            WHERE { ?n a sa:Nation ; sa:name ?name . }
            GROUP BY ?name
            """
        )
    # a template variable the WHERE never binds is an error, not nulls
    # (caught at planning, same as an unknown SELECT variable)
    from sparkall_spark.plans.planner import plan_query

    with pytest.raises(ValueError, match="unknown variable .nope"):
        plan_query(
            parse_sparql(
                PREFIX_BLOCK
                + "CONSTRUCT { ?n sa:label ?nope . } WHERE { ?n a sa:Nation . }"
            )
        )


def test_construct_matches_oracle(engine, duck):
    q = (
        PREFIX_BLOCK
        + """
        CONSTRUCT {
            ?n a sa:Nation .
            ?n sa:label ?name .
            ?n sa:kind "nation" .
        }
        WHERE { ?n a sa:Nation ; sa:name ?name . }
        """
    )
    oracle = f"""
    SELECT DISTINCT * FROM (
        SELECT CAST(n_nationkey AS VARCHAR) AS subject,
               '{RDF_TYPE}' AS predicate,
               '{NS}Nation' AS object FROM nation
        UNION ALL
        SELECT CAST(n_nationkey AS VARCHAR), '{NS}label', n_name FROM nation
        UNION ALL
        SELECT CAST(n_nationkey AS VARCHAR), '{NS}kind', 'nation' FROM nation
    )
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) == 75  # 25 nations x 3 template triples
    assert engine.sparql(q).columns == ["subject", "predicate", "object"]


def test_construct_with_join_filter_and_modifiers(engine, duck):
    """Template over a 2-star join with a filter; LIMIT applies to the
    solution sequence before templating (2 solutions -> up to 4 triples)."""
    q = (
        PREFIX_BLOCK
        + """
        CONSTRUCT {
            ?c sa:inNation ?nname .
            ?c sa:balance ?bal .
        }
        WHERE {
            ?c a sa:Customer ; sa:nation ?n ; sa:acctbal ?bal .
            ?n a sa:Nation ; sa:name ?nname .
            FILTER (?bal > 9000)
        }
        ORDER BY ?bal
        LIMIT 2
        """
    )
    oracle = f"""
    WITH sol AS (
        SELECT c_custkey AS c, n_name AS nname, c_acctbal AS bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > 9000 ORDER BY c_acctbal LIMIT 2
    )
    SELECT DISTINCT * FROM (
        SELECT CAST(c AS VARCHAR) AS subject, '{NS}inNation' AS predicate,
               nname AS object FROM sol
        UNION ALL
        SELECT CAST(c AS VARCHAR), '{NS}balance', CAST(bal AS VARCHAR) FROM sol
    )
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) == 4


def test_construct_optional_skips_unbound(engine, duck):
    """A template triple over an OPTIONAL variable emits nothing for
    solutions where the OPTIONAL did not match (§16.2)."""
    q = (
        PREFIX_BLOCK
        + """
        CONSTRUCT {
            ?n sa:label ?name .
            ?n sa:hasCustomerNamed ?cname .
        }
        WHERE {
            ?n a sa:Nation ; sa:name ?name .
            OPTIONAL { ?c a sa:Customer ; sa:nation ?n ; sa:name ?cname ;
                       sa:acctbal ?bal . FILTER (?bal > 9900) }
        }
        """
    )
    oracle = f"""
    WITH sol AS (
        SELECT n_nationkey AS n, n_name AS name, c_name AS cname
        FROM nation LEFT JOIN customer
          ON c_nationkey = n_nationkey AND c_acctbal > 9900
    )
    SELECT DISTINCT * FROM (
        SELECT CAST(n AS VARCHAR) AS subject, '{NS}label' AS predicate,
               name AS object FROM sol
        UNION ALL
        SELECT CAST(n AS VARCHAR), '{NS}hasCustomerNamed', cname FROM sol
        WHERE cname IS NOT NULL
    )
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = engine.sparql(q).collect()
    # no null objects ever reach the graph
    assert all(r["object"] is not None for r in a)


def test_construct_over_aggregation_subquery(engine, duck):
    """The documented escape hatch for CONSTRUCT + aggregation: wrap
    the GROUP BY in a { SELECT ... } subquery."""
    q = (
        PREFIX_BLOCK
        + """
        CONSTRUCT { ?n sa:customerCount ?cnt . }
        WHERE {
            ?n a sa:Nation .
            { SELECT ?n (COUNT(*) AS ?cnt) WHERE {
                ?c a sa:Customer ; sa:nation ?n . } GROUP BY ?n }
        }
        """
    )
    oracle = f"""
    SELECT DISTINCT CAST(n_nationkey AS VARCHAR) AS subject,
           '{NS}customerCount' AS predicate,
           CAST(cnt AS VARCHAR) AS object
    FROM nation JOIN (
        SELECT c_nationkey, count(*) AS cnt FROM customer GROUP BY 1
    ) s ON n_nationkey = c_nationkey
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) == 25


def test_construct_executes_where_once(engine):
    """Scale shape: the solution subtree appears ONCE in the physical
    plan (explode-over-array), not once per template triple."""
    q = (
        PREFIX_BLOCK
        + """
        CONSTRUCT {
            ?c sa:inNation ?nname .
            ?c sa:balance ?bal .
            ?c a sa:Customer .
        }
        WHERE {
            ?c a sa:Customer ; sa:nation ?n ; sa:acctbal ?bal .
            ?n a sa:Nation ; sa:name ?nname .
        }
        """
    )
    plan = engine.sparql(q)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2  # customer + nation
    assert "Generate explode" in plan
