"""The SQL lowering: every query shape compiles to one statement whose
results match a DuckDB oracle (the reference's Presto single-SQL path,
run on Spark)."""

import pytest

from sparkall_spark.engine import Engine
from sparkall_spark.fixtures import PREFIX_BLOCK, tpch_mappings
from tests.conftest import assert_matches_oracle

SHAPES = {
    "single_star": """
        SELECT DISTINCT ?name ?size WHERE {
            ?p a sa:Part ; sa:name ?name ; sa:size ?size .
            FILTER (?size > 30)
        } ORDER BY ?name DESC(?size) LIMIT 25
    """,
    "two_star_join": """
        SELECT ?cname ?nname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname .
        }
    """,
    "five_star": """
        SELECT ?cname ?nname ?rname ?qty WHERE {
            ?l a sa:Lineitem ; sa:order ?o ; sa:quantity ?qty .
            ?o a sa:Orders ; sa:customer ?c .
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname ; sa:region ?r .
            ?r a sa:Region ; sa:name ?rname .
            FILTER (?qty > 45)
        }
    """,
    "aggregate": """
        SELECT ?flag (SUM(?qty) AS ?sum_qty) (COUNT(*) AS ?n) WHERE {
            ?l a sa:Lineitem ; sa:returnflag ?flag ; sa:quantity ?qty .
        } GROUP BY ?flag ORDER BY ?flag
    """,
    "regex": """
        SELECT ?name WHERE {
            ?p a sa:Part ; sa:name ?name .
            FILTER regex(?name, "%o%")
        }
    """,
    "optional": """
        SELECT ?name ?totalprice WHERE {
            ?c a sa:Customer ; sa:name ?name .
            OPTIONAL { ?o a sa:Orders ; sa:customer ?c ; sa:totalprice ?totalprice . }
        }
    """,
    "transform": """
        SELECT ?cname ?nname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname .
        }
        TRANSFORM(?c?n.l.toInt.scl(+1) && ?c?n.r.toInt.scl(+1))
    """,
    "transform_skp": """
        SELECT ?cname ?nname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname .
        }
        TRANSFORM(?c?n.l.skp(3))
    """,
    # a skp mid-chain filters the value at ITS position: raw key 4, not
    # the scaled 4 (raw 3)
    "transform_skp_mid_chain": """
        SELECT ?cname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation .
        }
        TRANSFORM(?c?n.l.toInt.skp(4).scl(+1) && ?c?n.r.toInt.scl(+1))
    """,
    "union": """
        SELECT ?name WHERE {
            { ?c a sa:Customer ; sa:name ?name ; sa:acctbal ?bal .
              FILTER (?bal > 9000) }
            UNION
            { ?s a sa:Supplier ; sa:name ?name . }
        }
    """,
    # BSBM Q7/Q8 shape: FILTER on a *join variable* — ?p is both an
    # object of star ?l (sa:part) and the subject of star ?p.  Must
    # resolve to l_part_sa on star l and p_ID on star p (regression for
    # the r2 UNRESOLVED_COLUMN bug).
    "join_var_filter": """
        SELECT ?pname ?qty WHERE {
            ?l a sa:Lineitem ; sa:part ?p ; sa:quantity ?qty .
            ?p a sa:Part ; sa:name ?pname .
            FILTER (?p = 9)
        }
    """,
    "subject_projection": """
        SELECT ?o ?totalprice WHERE {
            ?o a sa:Orders ; sa:totalprice ?totalprice .
            FILTER (?totalprice > 400000)
        }
    """,
}


ORACLES = {
    "single_star": """
        SELECT DISTINCT p_name AS name, p_size AS size FROM part
        WHERE p_size > 30 ORDER BY name, size DESC LIMIT 25
    """,
    "two_star_join": """
        SELECT c_name AS cname, n_name AS nname
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
    "five_star": """
        SELECT c_name AS cname, n_name AS nname, r_name AS rname,
               l_quantity AS qty
        FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        WHERE l_quantity > 45
    """,
    "aggregate": """
        SELECT l_returnflag AS flag, sum(l_quantity) AS sum_qty, count(*) AS n
        FROM lineitem GROUP BY 1 ORDER BY flag
    """,
    "regex": "SELECT p_name AS name FROM part WHERE p_name LIKE '%o%'",
    "optional": """
        SELECT c_name AS name, o_totalprice AS totalprice
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    """,
    "transform": """
        SELECT c_name AS cname, n_name AS nname FROM customer JOIN nation
          ON (CAST(c_nationkey AS INT) + 1) = (CAST(n_nationkey AS INT) + 1)
    """,
    "transform_skp": """
        SELECT c_name AS cname, n_name AS nname
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_nationkey <> 3
    """,
    "transform_skp_mid_chain": """
        SELECT c_name AS cname FROM customer JOIN nation
          ON (CAST(c_nationkey AS INT) + 1) = (CAST(n_nationkey AS INT) + 1)
        WHERE CAST(c_nationkey AS INT) <> 4
    """,
    "union": """
        SELECT c_name AS name FROM customer WHERE c_acctbal > 9000
        UNION ALL SELECT s_name AS name FROM supplier
    """,
    "join_var_filter": """
        SELECT p_name AS pname, l_quantity AS qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_partkey = 9
    """,
    "subject_projection": """
        SELECT o_orderkey AS o, o_totalprice AS totalprice FROM orders
        WHERE o_totalprice > 400000
    """,
}


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, tpch_mappings(sf_dir))


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(str(r[c]) for c in cols) for r in df.collect()
    )


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_backends_agree(engine, duck, shape):
    """Each shape is non-empty and matches its DuckDB oracle."""
    q = PREFIX_BLOCK + SHAPES[shape]
    assert len(_rows(engine.sparql(q))) > 0
    assert_matches_oracle(engine.sparql(q), duck, ORACLES[shape])


def test_mapping_skp_on_second_source_filters_only_that_branch(spark, sf_dir, duck):
    """A mapping-declared (RML FnO) skp on a NON-first source must filter
    that source's rows only (regression: the SQL lowering used to keep
    only the first source's filter and apply it to the whole UNION ALL)."""
    from sparkall_spark.fixtures import NS, _m
    from sparkall_spark.mappings import MappingIndex

    a = _m("Nation", "nation", sf_dir, "n_nationkey", {"name": "n_name"})
    b = _m("NationB", "nation", sf_dir, "n_nationkey", {"name": "n_name"})
    b.class_iri = NS + "Nation"
    b.transforms = {NS + "name": ("skp(NATION_3)",)}
    engine = Engine(spark, MappingIndex([a, b]))
    query = PREFIX_BLOCK + "SELECT ?name WHERE { ?n a sa:Nation ; sa:name ?name . }"
    oracle = """
        SELECT n_name AS name FROM nation
        UNION ALL
        SELECT n_name AS name FROM nation WHERE n_name <> 'NATION_3'
    """
    # the skipped value must actually exist or this test is vacuous:
    # 25 rows unfiltered + 24 from the skp'd source
    assert engine.sparql(query).count() == 49
    assert_matches_oracle(engine.sparql(query), duck, oracle)


def test_backslash_literals_agree_across_backends(engine, duck):
    """Spark SQL's default parser eats backslashes in string literals;
    the lowering must double them so BIND literals and rlike patterns
    keep them (r4), matching DuckDB, whose literals take backslashes
    verbatim."""
    q = (
        PREFIX_BLOCK
        + r"""
        SELECT ?name ?tagged WHERE {
            ?r a sa:Region ; sa:name ?name .
            FILTER rlike(?name, "^\w+\s\w+$")
            BIND(CONCAT(?name, "\t-tag") AS ?tagged)
        }
        """
    )
    rows = _rows(engine.sparql(q))
    assert len(rows) > 0
    # the backslash survives verbatim (no escape processing anywhere)
    assert all("\\t-tag" in r[1] for r in rows)
    oracle = r"""
        SELECT r_name AS name, r_name || '\t-tag' AS tagged FROM region
        WHERE regexp_matches(r_name, '^\w+\s\w+$')
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)


def test_to_sql_is_single_statement(engine):
    sql = engine.to_sql(PREFIX_BLOCK + SHAPES["five_star"])
    assert sql.count("SELECT") >= 5  # one subquery per star + outer
    assert ";" not in sql
    assert "JOIN" in sql


def test_every_registry_sparql_entry_agrees_across_backends(spark, sf_dir, duck):
    """Sweep: EVERY entry of ``__spark_entry__.SPARQL_QUERIES`` that
    carries its own oracle compiles to one statement and matches it."""
    import __spark_entry__ as E

    engine = Engine(spark, tpch_mappings(sf_dir))
    checked = 0
    for name, (text, oracle) in E.SPARQL_QUERIES.items():
        if oracle is None:
            continue
        try:
            assert_matches_oracle(engine.sparql(PREFIX_BLOCK + text), duck, oracle)
        except AssertionError as exc:
            raise AssertionError(f"{name}: {exc}") from exc
        checked += 1
    assert checked >= 20  # the whole SPARQL side of the registry


def test_broadcast_mappings_emit_join_hints(spark):
    """Mappings flagged broadcast surface as /*+ BROADCAST(star) */
    hints in the compiled SQL (at 100 TB the freshly bound views have
    no size stats)."""
    from sparkall_spark.engine import Engine
    from sparkall_spark.fixtures import PREFIX_BLOCK, tpch_mappings

    engine = Engine(spark, tpch_mappings("/root/testdata/sf0.001"))
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?cname ?nname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname .
        }
        """
    )
    sql = engine.to_sql(q)
    assert "/*+ BROADCAST(`n`) */" in sql  # nation is broadcast-flagged
    plan = (
        engine.sparql(q)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "query,error",
    [
        (
            "SELECT ?a ?b WHERE { ?c a sa:Customer ; sa:name ?a . "
            "?n a sa:Nation ; sa:name ?b . }",
            "disconnected join graph",
        ),
        (
            "SELECT ?a WHERE { ?c a sa:Customer ; sa:name ?a ; sa:nation ?n . "
            "?n a sa:Nation . } TRANSFORM(?n?c.l.toInt)",
            "TRANSFORM references no join",
        ),
        # ?l (mandatory) points at ?s, a star two OPTIONAL levels down
        # whose unit cannot see the mandatory columns
        (
            "SELECT ?cname ?nn ?sn WHERE { ?l a sa:Lineitem ; sa:order ?o ; "
            "sa:supplier ?s . ?o a sa:Orders ; sa:customer ?c . "
            "?c a sa:Customer ; sa:name ?cname ; sa:nation ?n . "
            "OPTIONAL { ?n a sa:Nation ; sa:name ?nn . "
            "OPTIONAL { ?s a sa:Supplier ; sa:nation ?n ; sa:name ?sn . } } }",
            "not a well-designed pattern",
        ),
    ],
    ids=["disconnected_stars", "transform_without_join", "optional_out_of_scope"],
)
def test_unsupported_patterns_raise_execution_error(engine, query, error):
    """Patterns outside the fragment fail with ExecutionError and a
    message naming the problem, not an internal unpacking error."""
    from sparkall_spark.plans.sqlgen import ExecutionError

    with pytest.raises(ExecutionError, match=error):
        engine.sparql(PREFIX_BLOCK + query)
