"""Engine coverage beyond the ported reference shapes: global
aggregates, timestamp filters, true-regex rlike, engine facade."""

from tests.conftest import assert_matches_oracle

import pytest

from sparkall_spark.engine import Engine
from sparkall_spark.fixtures import PREFIX_BLOCK, tpch_mappings


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, tpch_mappings(sf_dir))


def q(body: str) -> str:
    return PREFIX_BLOCK + body


def test_global_aggregate_no_groupby(engine, duck):
    df = engine.sparql(
        q(
            """
        SELECT (SUM(?qty) AS ?sum_qty) (COUNT(*) AS ?n) WHERE {
            ?l a sa:Lineitem ; sa:quantity ?qty .
        }
        """
        )
    )
    assert_matches_oracle(
        df, duck, "SELECT sum(l_quantity) AS sum_qty, count(*) AS n FROM lineitem"
    )


def test_timestamp_filter(engine, duck):
    df = engine.sparql(
        q(
            """
        SELECT ?o ?d WHERE {
            ?o a sa:Orders ; sa:orderdate ?d .
            FILTER (?d >= "1996-06-01")
            FILTER (?d < "1996-07-01")
        }
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderkey AS o, o_orderdate AS d FROM orders
        WHERE o_orderdate >= '1996-06-01' AND o_orderdate < '1996-07-01'
        """,
    )


def test_rlike_true_regex(engine, duck):
    df = engine.sparql(
        q(
            """
        SELECT ?name WHERE {
            ?p a sa:Part ; sa:name ?name .
            FILTER rlike(?name, "^p.*[0-9]$")
        }
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        "SELECT p_name AS name FROM part WHERE regexp_matches(p_name, '^p.*[0-9]$')",
    )


def test_order_by_unprojected_var(engine, duck):
    """ORDER BY on a variable not in the projection (sort pre-projection)."""
    df = engine.sparql(
        q(
            """
        SELECT ?name WHERE {
            ?p a sa:Part ; sa:name ?name ; sa:retailprice ?price ; sa:size ?size .
            FILTER (?size = 50)
        }
        ORDER BY DESC(?price)
        LIMIT 5
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT p_name AS name FROM part WHERE p_size = 50
        ORDER BY p_retailprice DESC LIMIT 5
        """,
    )


def test_distinct_order_by_unprojected_limit(engine, duck):
    """DISTINCT + ORDER BY on an unprojected key + LIMIT (VERDICT r4 #7).
    SPARQL algebra: OrderBy -> Project -> Distinct (order-preserving), so
    each distinct row ranks at its FIRST occurrence in the ordered
    sequence — i.e. groups sort by their minimal key.  The old plan
    distinct-ed after the sort and the re-shuffle destroyed the order the
    LIMIT depends on."""
    df = engine.sparql(
        q(
            """
        SELECT DISTINCT ?mkt WHERE {
            ?c a sa:Customer ; sa:mktsegment ?mkt ; sa:name ?cn .
        }
        ORDER BY ?cn
        LIMIT 3
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT mkt FROM (
            SELECT c_mktsegment AS mkt, min(c_name) AS k
            FROM customer GROUP BY c_mktsegment
        ) ORDER BY k LIMIT 3
        """,
    )


def test_distinct_order_by_unprojected_desc(engine, duck):
    """Descending variant: the group representative under a DESC
    comparator is the group's MAX key."""
    df = engine.sparql(
        q(
            """
        SELECT DISTINCT ?mkt WHERE {
            ?c a sa:Customer ; sa:mktsegment ?mkt ; sa:acctbal ?bal .
        }
        ORDER BY DESC(?bal)
        LIMIT 2
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT mkt FROM (
            SELECT c_mktsegment AS mkt, max(c_acctbal) AS k
            FROM customer GROUP BY c_mktsegment
        ) ORDER BY k DESC LIMIT 2
        """,
    )


def test_run_facade_counts(engine, capsys):
    n = engine.run(
        q("SELECT ?name WHERE { ?r a sa:Region ; sa:name ?name . }"), n=3
    )
    assert n == 5
    out = capsys.readouterr().out
    assert "Number of results: 5" in out


def test_same_predicate_two_stars(engine, duck):
    """The sa:name predicate appears on two different stars — aliases
    must not collide."""
    df = engine.sparql(
        q(
            """
        SELECT ?nname ?rname WHERE {
            ?n a sa:Nation ; sa:name ?nname ; sa:region ?r .
            ?r a sa:Region ; sa:name ?rname .
        }
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT n_name AS nname, r_name AS rname
        FROM nation JOIN region ON n_regionkey = r_regionkey
        """,
    )


def test_optional_with_filter(engine, duck):
    """FILTER inside OPTIONAL constrains the optional side pre-join."""
    df = engine.sparql(
        q(
            """
        SELECT ?name ?totalprice WHERE {
            ?c a sa:Customer ; sa:name ?name .
            OPTIONAL { ?o a sa:Orders ; sa:customer ?c ; sa:totalprice ?totalprice .
                       FILTER (?totalprice > 300000) }
        }
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT c_name AS name, o.o_totalprice AS totalprice
        FROM customer LEFT JOIN
          (SELECT * FROM orders WHERE o_totalprice > 300000) o
          ON o.o_custkey = c_custkey
        """,
    )


def test_having_aggregate_form(engine, duck):
    df = engine.sparql(
        q(
            """
        SELECT ?flag (SUM(?qty) AS ?sum_qty) WHERE {
            ?l a sa:Lineitem ; sa:returnflag ?flag ; sa:quantity ?qty .
        }
        GROUP BY ?flag
        HAVING (SUM(?qty) > 30000)
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT l_returnflag AS flag, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 30000
        """,
    )


def test_having_alias_form_and_sql_backend(engine, duck):
    text = q(
        """
        SELECT ?flag (COUNT(*) AS ?n) WHERE {
            ?l a sa:Lineitem ; sa:returnflag ?flag .
        }
        GROUP BY ?flag
        HAVING (?n > 1000)
        """
    )
    df = engine.sparql(text)
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT l_returnflag AS flag, count(*) AS n
        FROM lineitem GROUP BY 1 HAVING count(*) > 1000
        """,
    )


def test_session_scale_defaults_pinned(spark):
    """The scale-critical session defaults must not silently regress:
    AQE (+ coalescing + skew-join), Arrow batching, UTC."""
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.sql.session.timeZone") == "UTC"
