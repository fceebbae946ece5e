"""{ SELECT ... } subqueries (SPARQL 1.1 §12, extension): the inner
query evaluates independently and joins the enclosing group on its
shared projected variables; subquery-only outputs surface under their
plain variable names.  DuckDB oracles."""

import pytest

from sparkall_spark import Engine
from sparkall_spark.fixtures import PREFIX_BLOCK, tpch_mappings
from sparkall_spark.plans.parser import parse_sparql
from tests.conftest import assert_matches_oracle


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, tpch_mappings(sf_dir))


def _rows(engine, q):
    return sorted(map(tuple, engine.sparql(q).collect()))


def test_subquery_parses_recursively():
    q = parse_sparql(
        PREFIX_BLOCK
        + """
        SELECT ?name ?n WHERE {
            ?c a sa:Customer ; sa:name ?name .
            { SELECT ?c (COUNT(*) AS ?n) WHERE {
                ?o a sa:Orders ; sa:customer ?c . } GROUP BY ?c }
        }
        """
    )
    assert len(q.subqueries) == 1
    assert q.subqueries[0].output_vars() == ["c", "n"]
    assert q.column_for_var("n") == "n"


def test_subquery_aggregate_join_matches_oracle(engine, duck):
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name ?n WHERE {
            ?c a sa:Customer ; sa:name ?name .
            { SELECT ?c (COUNT(*) AS ?n) WHERE {
                ?o a sa:Orders ; sa:customer ?c . } GROUP BY ?c }
            FILTER (?n >= 12)
        }
        ORDER BY DESC(?n) ?name
        """
    )
    oracle = """
    SELECT c_name AS name, n FROM customer JOIN
      (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey) s
      ON c_custkey = o_custkey
    WHERE n >= 12 ORDER BY n DESC, name
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle, check_order=True)
    assert len(_rows(engine, q)) > 0


def test_subquery_topk_limit(engine, duck):
    """ORDER BY + LIMIT inside the subquery: classic per-corpus top-k
    then join back for attributes."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name ?bal WHERE {
            ?c a sa:Customer ; sa:name ?name .
            { SELECT ?c ?bal WHERE {
                ?c a sa:Customer ; sa:acctbal ?bal . }
              ORDER BY DESC(?bal) ?c LIMIT 5 }
        }
        ORDER BY DESC(?bal) ?name
        """
    )
    oracle = """
    SELECT c_name AS name, bal FROM customer JOIN
      (SELECT c_custkey AS k, c_acctbal AS bal FROM customer
       ORDER BY c_acctbal DESC, k LIMIT 5) s ON c_custkey = k
    ORDER BY bal DESC, name
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle, check_order=True)
    assert len(_rows(engine, q)) == 5


def test_outer_aggregate_over_subquery_output(engine, duck):
    """AVG over a per-entity COUNT — aggregation of aggregation, the
    canonical reason subqueries exist."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT (AVG(?n) AS ?avg_orders) WHERE {
            ?c a sa:Customer .
            { SELECT ?c (COUNT(*) AS ?n) WHERE {
                ?o a sa:Orders ; sa:customer ?c . } GROUP BY ?c }
        }
        """
    )
    oracle = """
    SELECT avg(n) AS avg_orders FROM customer JOIN
      (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey) s
      ON c_custkey = o_custkey
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle, approx_floats=True)
    assert len(_rows(engine, q)) == 1


def test_subquery_without_shared_var_rejected(engine):
    from sparkall_spark.plans.sqlgen import ExecutionError

    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name ?n WHERE {
            ?c a sa:Customer ; sa:name ?name .
            { SELECT (COUNT(*) AS ?n) WHERE {
                ?o a sa:Orders ; sa:totalprice ?tp . } }
        }
        """
    )
    with pytest.raises((ExecutionError, ValueError), match="share"):
        engine.sparql(q).collect()


def test_bare_subquery_wrapper_rejected(engine):
    from sparkall_spark.plans.sqlgen import ExecutionError

    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name WHERE {
            { SELECT ?name WHERE { ?c a sa:Customer ; sa:name ?name . } }
        }
        """
    )
    with pytest.raises(ExecutionError, match="at least one triple"):
        engine.sparql(q).collect()
