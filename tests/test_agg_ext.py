"""GROUP_CONCAT / SAMPLE aggregates (extension over the reference's
SUM/MIN/MAX/AVG/COUNT set, SparkExecutor.scala:516-539).

Determinism contract: GROUP_CONCAT sorts its inputs (SPARQL imposes no
order; the sorted rendering is reproducible and oracle-comparable),
SAMPLE is compiled as MIN (a legal any-value choice)."""

import pytest

from sparkall_spark import Engine
from sparkall_spark.fixtures import PREFIX_BLOCK, tpch_mappings
from tests.conftest import assert_matches_oracle


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, tpch_mappings(sf_dir))


_GC_QUERY = (
    PREFIX_BLOCK
    + """
    SELECT ?rname (GROUP_CONCAT(?nname; SEPARATOR=", ") AS ?nations)
           (SAMPLE(?nname) AS ?first_nation)
           (COUNT(*) AS ?n)
    WHERE {
        ?n a sa:Nation ; sa:name ?nname ; sa:region ?r .
        ?r a sa:Region ; sa:name ?rname .
    }
    GROUP BY ?rname ORDER BY ?rname
    """
)

_GC_ORACLE = """
SELECT r_name AS rname,
       string_agg(n_name, ', ' ORDER BY n_name) AS nations,
       min(n_name) AS first_nation,
       count(*) AS n
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY rname
"""


def test_group_concat_sample_match_oracle(engine, duck):
    assert_matches_oracle(
        engine.sparql(_GC_QUERY), duck, _GC_ORACLE, check_order=True
    )


def test_group_concat_backends_agree(engine, duck):
    """Row-set check of the GROUP_CONCAT/SAMPLE query (no order)."""
    a = sorted(map(tuple, engine.sparql(_GC_QUERY).collect()))
    assert len(a) > 0
    assert_matches_oracle(engine.sparql(_GC_QUERY), duck, _GC_ORACLE)


def test_group_concat_distinct(engine, duck):
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?flag (GROUP_CONCAT(DISTINCT ?status; SEPARATOR="|") AS ?sts)
        WHERE {
            ?l a sa:Lineitem ; sa:returnflag ?flag ; sa:linestatus ?status .
        }
        GROUP BY ?flag ORDER BY ?flag
        """
    )
    oracle = """
    SELECT l_returnflag AS flag,
           string_agg(DISTINCT l_linestatus, '|' ORDER BY l_linestatus) AS sts
    FROM lineitem GROUP BY l_returnflag ORDER BY flag
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle, check_order=True)


def test_group_concat_default_separator(engine):
    q = (
        PREFIX_BLOCK
        + """
        SELECT (GROUP_CONCAT(?rname) AS ?all_regions) WHERE {
            ?r a sa:Region ; sa:name ?rname .
        }
        """
    )
    rows = engine.sparql(q).collect()
    assert len(rows) == 1
    assert rows[0]["all_regions"] == "AFRICA AMERICA ASIA EUROPE MIDDLE EAST"


def test_aggregate_over_expression(engine, duck):
    """TPC-H Q1-style revenue aggregate: SUM over an expression
    desugars into an implicit BIND and aggregates over the alias."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?rf ?ls (SUM(?qty) AS ?sum_qty)
               (SUM(?ep * (1 - ?d)) AS ?revenue)
               (SUM(?ep * (1 - ?d) * (1 + ?tax)) AS ?charge)
               (COUNT(*) AS ?n)
        WHERE {
            ?l a sa:Lineitem ; sa:quantity ?qty ; sa:extendedprice ?ep ;
               sa:discount ?d ; sa:tax ?tax ; sa:returnflag ?rf ;
               sa:linestatus ?ls .
        }
        GROUP BY ?rf ?ls ORDER BY ?rf ?ls
        """
    )
    oracle = """
    SELECT l_returnflag AS rf, l_linestatus AS ls,
           sum(l_quantity) AS sum_qty,
           sum(l_extendedprice * (1 - l_discount)) AS revenue,
           sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS charge,
           count(*) AS n
    FROM lineitem GROUP BY 1, 2 ORDER BY rf, ls
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle, check_order=True)


def test_aggregate_expression_validation():
    from sparkall_spark.plans.parser import SparqlParseError, parse_sparql
    from sparkall_spark.fixtures import PREFIX_BLOCK as PB

    with pytest.raises(SparqlParseError, match="unbound"):
        parse_sparql(
            PB + "SELECT (SUM(?ghost * 2) AS ?x) WHERE "
            "{ ?l a sa:Lineitem ; sa:quantity ?q . }"
        )
    with pytest.raises(SparqlParseError, match="AS"):
        parse_sparql(
            PB + "SELECT (SUM(?q)) WHERE { ?l a sa:Lineitem ; sa:quantity ?q . }"
        )


def test_expression_over_aggregates(engine, duck):
    """(ROUND(SUM(expr), 2) AS ?alias) and aggregate arithmetic like
    SUM(?a)/COUNT(*): internal __aggN aggregations + post-agg
    expression columns."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?rf (ROUND(SUM(?ep * (1 - ?d)), 2) AS ?revenue)
               (SUM(?ep) / COUNT(*) AS ?avg_price)
        WHERE {
            ?l a sa:Lineitem ; sa:extendedprice ?ep ; sa:discount ?d ;
               sa:returnflag ?rf .
        } GROUP BY ?rf ORDER BY ?rf
        """
    )
    oracle = """
    SELECT l_returnflag AS rf,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           sum(l_extendedprice) / count(*) AS avg_price
    FROM lineitem GROUP BY 1 ORDER BY rf
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle, check_order=True)


def test_having_on_post_agg_alias(engine, duck):
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?rf (ROUND(SUM(?ep), 0) AS ?total) WHERE {
            ?l a sa:Lineitem ; sa:extendedprice ?ep ; sa:returnflag ?rf .
        } GROUP BY ?rf HAVING (?total > 100000000) ORDER BY ?rf
        """
    )
    oracle = """
    SELECT l_returnflag AS rf, round(sum(l_extendedprice), 0) AS total
    FROM lineitem GROUP BY 1 HAVING round(sum(l_extendedprice), 0) > 100000000
    ORDER BY rf
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle, check_order=True)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 0


def test_select_expression_without_aggregate(engine, duck):
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name (?size * 2 AS ?double_size) WHERE {
            ?p a sa:Part ; sa:name ?name ; sa:size ?size .
        }
        """
    )
    oracle = "SELECT p_name AS name, p_size * 2 AS double_size FROM part"
    assert_matches_oracle(engine.sparql(q), duck, oracle)


def test_select_expression_over_group_key(engine, duck):
    """A SELECT expression over a group key under GROUP BY must survive
    into the output (r4; advisor finding: it silently vanished).  Routed
    through post_agg_exprs."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?size (?size * 2 AS ?double_size) (COUNT(*) AS ?n) WHERE {
            ?p a sa:Part ; sa:size ?size .
        }
        GROUP BY ?size
        """
    )
    oracle = """
    SELECT p_size AS size, p_size * 2 AS double_size, count(*) AS n
    FROM part GROUP BY p_size
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 0


def test_select_expression_over_group_key_only_no_aggregate(engine, duck):
    q = (
        PREFIX_BLOCK
        + """
        SELECT (?size + 1 AS ?size1) WHERE {
            ?p a sa:Part ; sa:size ?size .
        }
        GROUP BY ?size
        """
    )
    oracle = "SELECT p_size + 1 AS size1 FROM part GROUP BY p_size"
    assert_matches_oracle(engine.sparql(q), duck, oracle)


def test_select_expression_over_nongrouped_var_rejected():
    from sparkall_spark.plans.parser import SparqlParseError, parse_sparql

    with pytest.raises(SparqlParseError, match="non-grouped"):
        parse_sparql(
            """
            PREFIX sa: <http://sparkall.io/ns/>
            SELECT ?flag (?qty + 1 AS ?q1) (SUM(?qty) AS ?t) WHERE {
                ?l a sa:Lineitem ; sa:returnflag ?flag ; sa:quantity ?qty .
            }
            GROUP BY ?flag
            """
        )


def test_group_by_expression(engine, duck):
    """GROUP BY (expr AS ?alias) (SPARQL 1.1 §10.1, r4): the key
    desugars into a pre-agg bind and groups on the computed column."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?bucket (COUNT(*) AS ?n) WHERE {
            ?c a sa:Customer ; sa:acctbal ?bal .
        }
        GROUP BY (FLOOR(?bal / 1000) AS ?bucket)
        ORDER BY ?bucket
        """
    )
    oracle = """
    SELECT floor(c_acctbal / 1000)::BIGINT AS bucket, count(*) AS n
    FROM customer GROUP BY 1 ORDER BY bucket
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle, check_order=True)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 1


def test_group_by_mixed_var_and_expression(engine, duck):
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?flag ?halfq (COUNT(*) AS ?n) WHERE {
            ?l a sa:Lineitem ; sa:returnflag ?flag ; sa:quantity ?qty .
        }
        GROUP BY ?flag (FLOOR(?qty / 10) AS ?halfq)
        ORDER BY ?flag ?halfq
        """
    )
    oracle = """
    SELECT l_returnflag AS flag, floor(l_quantity / 10)::BIGINT AS halfq,
           count(*) AS n
    FROM lineitem GROUP BY 1, 2 ORDER BY flag, halfq
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle, check_order=True)


def test_group_by_expression_without_alias_rejected():
    from sparkall_spark.plans.parser import SparqlParseError, parse_sparql

    with pytest.raises(SparqlParseError, match="AS"):
        parse_sparql(
            """
            PREFIX sa: <http://sparkall.io/ns/>
            SELECT (COUNT(*) AS ?n) WHERE {
                ?c a sa:Customer ; sa:acctbal ?bal .
            }
            GROUP BY (FLOOR(?bal / 1000))
            """
        )
