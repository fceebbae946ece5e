"""BIND(expr AS ?var) — extension over the reference fragment.

Covers: expression parsing, scope validation, post-join evaluation,
filters on bound variables, aggregation over bound variables, all
against DuckDB oracles.
"""

import pytest

from sparkall_spark import Engine
from sparkall_spark.fixtures import PREFIX_BLOCK, tpch_mappings
from sparkall_spark.plans.exprs import (
    EBin,
    EFun,
    ELit,
    EVar,
    ExprParseError,
    parse_expr,
)
from sparkall_spark.plans.parser import SparqlParseError, parse_sparql
from tests.conftest import assert_matches_oracle


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, tpch_mappings(sf_dir))


def test_parse_expr_shapes():
    assert parse_expr("?a + ?b * 2") == EBin(
        "+", EVar("a"), EBin("*", EVar("b"), ELit(2))
    )
    assert parse_expr("(?a + ?b) * 2") == EBin(
        "*", EBin("+", EVar("a"), EVar("b")), ELit(2)
    )
    assert parse_expr('CONCAT(?x, "-", ?y)') == EFun(
        "concat", (EVar("x"), ELit("-"), EVar("y"))
    )
    assert parse_expr("ROUND(?v / 3, 2)") == EFun(
        "round", (EBin("/", EVar("v"), ELit(3)), ELit(2))
    )
    with pytest.raises(ExprParseError):
        parse_expr("NOSUCHFN(?x)")
    with pytest.raises(ExprParseError):
        parse_expr("?a +")
    with pytest.raises(ExprParseError):
        parse_expr("?a ?b")


def test_bind_parse_and_scope_validation():
    q = parse_sparql(
        PREFIX_BLOCK
        + """
        SELECT ?name ?dp WHERE {
            ?l a sa:Lineitem ; sa:extendedprice ?ep ; sa:discount ?d .
            BIND(?ep * (1 - ?d) AS ?dp)
        }
        """
    )
    assert [b.alias for b in q.binds] == ["dp"]
    assert q.column_for_var("dp") == "dp__bind"

    with pytest.raises(SparqlParseError, match="unbound"):
        parse_sparql(
            PREFIX_BLOCK
            + """
            SELECT ?x WHERE {
                ?l a sa:Lineitem ; sa:discount ?d .
                BIND(?nope + 1 AS ?x)
            }
            """
        )
    with pytest.raises(SparqlParseError, match="rebind"):
        parse_sparql(
            PREFIX_BLOCK
            + """
            SELECT ?d WHERE {
                ?l a sa:Lineitem ; sa:discount ?d .
                BIND(1 + 1 AS ?d)
            }
            """
        )
    # later binds may reference earlier aliases
    q2 = parse_sparql(
        PREFIX_BLOCK
        + """
        SELECT ?b WHERE {
            ?l a sa:Lineitem ; sa:discount ?d .
            BIND(?d * 2 AS ?a)
            BIND(?a + 1 AS ?b)
        }
        """
    )
    assert [b.alias for b in q2.binds] == ["a", "b"]


# 6dp, not 2dp: the product of <=2-decimal-digit inputs has <=4 decimal
# digits, so rounding at 6 never lands on a tie — 2dp hit .xx5 ties
# where Spark (HALF_UP) and DuckDB (float round) disagree (r3 verdict;
# the conftest exact comparison now catches this class locally)
_BIND_QUERY = (
    PREFIX_BLOCK
    + """
    SELECT ?name ?disc_price WHERE {
        ?l a sa:Lineitem ; sa:extendedprice ?ep ; sa:discount ?d ; sa:part ?p .
        ?p a sa:Part ; sa:name ?name .
        BIND(ROUND(?ep * (1 - ?d), 6) AS ?disc_price)
        FILTER (?disc_price > 90000)
    }
    """
)

_BIND_ORACLE = """
SELECT p_name AS name,
       round(l_extendedprice * (1 - l_discount), 6) AS disc_price
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE round(l_extendedprice * (1 - l_discount), 6) > 90000
"""


def test_bind_matches_oracle(engine, duck):
    assert_matches_oracle(engine.sparql(_BIND_QUERY), duck, _BIND_ORACLE)


def test_bind_backends_agree(engine, duck):
    """Non-empty result, checked against the oracle."""
    a = sorted(map(tuple, engine.sparql(_BIND_QUERY).collect()))
    assert len(a) > 0
    assert_matches_oracle(engine.sparql(_BIND_QUERY), duck, _BIND_ORACLE)


def test_bind_aggregation_over_alias(engine, duck):
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?rf (SUM(?dp) AS ?total) WHERE {
            ?l a sa:Lineitem ; sa:extendedprice ?ep ; sa:discount ?d ;
               sa:returnflag ?rf .
            BIND(?ep * (1 - ?d) AS ?dp)
        } GROUP BY ?rf ORDER BY ?rf
        """
    )
    oracle = """
    SELECT l_returnflag AS rf, sum(l_extendedprice * (1 - l_discount)) AS total
    FROM lineitem GROUP BY l_returnflag ORDER BY rf
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle, check_order=True)


def test_bind_chained_aliases_and_strings(engine, duck):
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?tag WHERE {
            ?n a sa:Nation ; sa:name ?nname .
            BIND(LCASE(?nname) AS ?low)
            BIND(CONCAT(?low, "-x") AS ?tag)
        } ORDER BY ?tag
        """
    )
    oracle = "SELECT lower(n_name) || '-x' AS tag FROM nation ORDER BY tag"
    assert_matches_oracle(engine.sparql(q), duck, oracle, check_order=True)


def test_bind_if_and_comparison(engine, duck):
    """IF(cond, then, else) with a comparison condition — CASE WHEN in
    SQL, when/otherwise in the Column compiler."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name ?bucket WHERE {
            ?p a sa:Part ; sa:name ?name ; sa:size ?size .
            BIND(IF(?size >= 25, "large", "small") AS ?bucket)
        }
        """
    )
    oracle = """
    SELECT p_name AS name,
           CASE WHEN p_size >= 25 THEN 'large' ELSE 'small' END AS bucket
    FROM part
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 0

    with pytest.raises(ExprParseError):
        parse_expr("IF(?a > 1, 2)")  # wrong arity
    # comparison parses as the top-level node
    from sparkall_spark.plans.exprs import EBin, EVar, ELit
    assert parse_expr("?a >= 2 + 1") == EBin(
        ">=", EVar("a"), EBin("+", ELit(2), ELit(1))
    )


def test_expression_filters(engine, duck):
    """FILTER over full expressions (extension): function calls and
    arithmetic on either side of the comparison."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name WHERE {
            ?p a sa:Part ; sa:name ?name .
            FILTER (STRLEN(?name) > 10)
        }
        """
    )
    oracle = "SELECT p_name AS name FROM part WHERE length(p_name) > 10"
    assert_matches_oracle(engine.sparql(q), duck, oracle)

    q2 = (
        PREFIX_BLOCK
        + """
        SELECT ?ep ?d WHERE {
            ?l a sa:Lineitem ; sa:extendedprice ?ep ; sa:discount ?d .
            FILTER (?ep * (1 - ?d) > 90000)
        }
        """
    )
    oracle2 = """
    SELECT l_extendedprice AS ep, l_discount AS d FROM lineitem
    WHERE l_extendedprice * (1 - l_discount) > 90000
    """
    assert_matches_oracle(engine.sparql(q2), duck, oracle2)


def test_expression_filter_validation():
    with pytest.raises(SparqlParseError, match="unbound"):
        parse_sparql(
            PREFIX_BLOCK
            + "SELECT ?name WHERE { ?p a sa:Part ; sa:name ?name ."
            + " FILTER (STRLEN(?ghost) > 10) }"
        )
    with pytest.raises(SparqlParseError, match="comparison"):
        parse_sparql(
            PREFIX_BLOCK
            + "SELECT ?name WHERE { ?p a sa:Part ; sa:name ?name ."
            + " FILTER (STRLEN(?name)) }"
        )


def test_order_by_expression(engine, duck):
    """ORDER BY over an expression (extension): implicit bind, sorted
    on the computed column."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name ?ep ?d WHERE {
            ?l a sa:Lineitem ; sa:extendedprice ?ep ; sa:discount ?d ;
               sa:part ?p .
            ?p a sa:Part ; sa:name ?name .
        } ORDER BY DESC(?ep * (1 - ?d)) ?name LIMIT 20
        """
    )
    oracle = """
    SELECT p_name AS name, l_extendedprice AS ep, l_discount AS d
    FROM lineitem JOIN part ON l_partkey = p_partkey
    ORDER BY l_extendedprice * (1 - l_discount) DESC, name LIMIT 20
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle, check_order=True)

    with pytest.raises(SparqlParseError, match="DISTINCT or aggregation"):
        parse_sparql(
            PREFIX_BLOCK
            + "SELECT DISTINCT ?name WHERE { ?p a sa:Part ; sa:name ?name ;"
            + " sa:size ?s . } ORDER BY DESC(?s * 2)"
        )


# --- r4 fragment extensions: BOUND / ! / string predicates ----------------


def test_parse_not_bound_and_string_predicates():
    from sparkall_spark.plans.exprs import ENot, is_boolean_expr

    ast = parse_expr("!BOUND(?x)")
    assert ast == ENot(EFun("bound", (EVar("x"),)))
    assert is_boolean_expr(ast)
    assert is_boolean_expr(parse_expr('STRSTARTS(?n, "abc")'))
    assert not is_boolean_expr(parse_expr("?a + 1"))
    with pytest.raises(ExprParseError):
        parse_expr("BOUND(?x + 1)")  # BOUND takes a variable
    with pytest.raises(ExprParseError):
        parse_expr('STRSTARTS(?n)')  # arity
    with pytest.raises(ExprParseError):
        parse_expr('SUBSTR(?n, ?p)')  # pos must be an int literal


def test_not_bound_optional_antijoin(engine, duck):
    """The SPARQL anti-join idiom: OPTIONAL + FILTER(!BOUND(?v)) keeps
    only left rows with no match — IS NULL post-left-join."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name WHERE {
            ?c a sa:Customer ; sa:name ?name .
            OPTIONAL { ?o a sa:Orders ; sa:customer ?c ; sa:totalprice ?tp .
                       FILTER (?tp > 400000) }
            FILTER (!BOUND(?tp))
        }
        """
    )
    oracle = """
    SELECT c_name AS name
    FROM customer LEFT JOIN orders
      ON o_custkey = c_custkey AND o_totalprice > 400000
    WHERE o_totalprice IS NULL
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 0
    # complement: BOUND(?tp) == the semi-join side; the two partition
    # the customer set
    q2 = q.replace("!BOUND", "BOUND")
    n_all = engine.sparql(
        PREFIX_BLOCK + "SELECT ?name WHERE { ?c a sa:Customer ; sa:name ?name . }"
    ).count()
    assert engine.sparql(q2).count() + len(a) >= n_all  # >= : multiple orders


def test_string_predicates_match_oracle(engine, duck):
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name ?pre WHERE {
            ?p a sa:Part ; sa:name ?name .
            FILTER (STRSTARTS(?name, "large"))
            FILTER (CONTAINS(?name, "o"))
            FILTER (!STRENDS(?name, "zzz"))
            BIND(SUBSTR(?name, 1, 5) AS ?pre)
        }
        """
    )
    oracle = """
    SELECT p_name AS name, substring(p_name, 1, 5) AS pre FROM part
    WHERE p_name LIKE 'large%' AND contains(p_name, 'o')
      AND NOT p_name LIKE '%zzz'
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 0


def test_numeric_string_functions_match_oracle(engine, duck):
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name ?f ?c ?r WHERE {
            ?c0 a sa:Customer ; sa:name ?name ; sa:acctbal ?bal .
            BIND(FLOOR(?bal) AS ?f)
            BIND(CEIL(?bal) AS ?c)
            BIND(REPLACE(?name, "Customer#", "") AS ?r)
            FILTER (?bal > 9000)
        }
        """
    )
    oracle = """
    SELECT c_name AS name, floor(c_acctbal)::BIGINT AS f, ceil(c_acctbal)::BIGINT AS c,
           replace(c_name, 'Customer#', '') AS r
    FROM customer WHERE c_acctbal > 9000
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 0


# --- r4: expression FILTERs inside OPTIONAL (star-scoped, pre-join) -------


def test_optional_expression_filter_prejoin(engine, duck):
    """An expression FILTER inside OPTIONAL that references only the
    optional star applies PRE-join (the left join's ON condition):
    left rows survive with nulls when the predicate fails."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name ?totalprice WHERE {
            ?c a sa:Customer ; sa:name ?name .
            OPTIONAL { ?o a sa:Orders ; sa:customer ?c ;
                          sa:totalprice ?totalprice .
                       FILTER (?totalprice / 2 > 100000) }
        }
        """
    )
    oracle = """
    SELECT c_name AS name, o_totalprice AS totalprice
    FROM customer LEFT JOIN orders
      ON o_custkey = c_custkey AND o_totalprice / 2 > 100000
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 0
    # every customer survives (left join preserved)
    n_cust = engine.sparql(
        PREFIX_BLOCK + "SELECT DISTINCT ?name WHERE { ?c a sa:Customer ; sa:name ?name . }"
    ).count()
    assert (
        engine.sparql(q).select("name").distinct().count() == n_cust
    )


def test_optional_expression_filter_spanning_scopes_attaches():
    """An expression FILTER inside OPTIONAL referencing both the block
    and the mandatory pattern is the LeftJoin expr — recorded as the
    unit's attach condition (r4; was rejected pre-r4)."""
    q = parse_sparql(
        PREFIX_BLOCK
        + """
        SELECT ?name WHERE {
            ?c a sa:Customer ; sa:name ?name ; sa:acctbal ?bal .
            OPTIONAL { ?o a sa:Orders ; sa:customer ?c ;
                          sa:totalprice ?tp .
                       FILTER (?tp + ?bal > 1000) }
        }
        """
    )
    (blk,) = q.optional_blocks
    assert len(blk.attach_expr_filters) == 1
    assert not q.expr_filters  # not applied post-join


def test_optional_expression_filter_mandatory_only_attaches():
    """An expression FILTER inside OPTIONAL referencing ONLY mandatory
    stars still guards the block match (LeftJoin expr over Ω1 vars):
    attach condition, never a filter on the mandatory rows."""
    q = parse_sparql(
        PREFIX_BLOCK
        + """
        SELECT ?name WHERE {
            ?c a sa:Customer ; sa:name ?name ; sa:acctbal ?bal .
            OPTIONAL { ?o a sa:Orders ; sa:customer ?c .
                       FILTER (ABS(?bal) > 100) }
        }
        """
    )
    (blk,) = q.optional_blocks
    assert len(blk.attach_expr_filters) == 1
    assert not q.expr_filters


def test_datetime_accessors_match_oracle(engine, duck):
    """SPARQL 1.1 YEAR/MONTH/DAY over the orders date column — grouped
    revenue per order-month (r4)."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?y ?m (COUNT(*) AS ?n) WHERE {
            ?o a sa:Orders ; sa:orderdate ?d .
            BIND(YEAR(?d) AS ?y)
            BIND(MONTH(?d) AS ?m)
            FILTER (?y = 1996)
        }
        GROUP BY ?y ?m
        ORDER BY ?m
        """
    )
    oracle = """
    SELECT year(o_orderdate) AS y, month(o_orderdate) AS m, count(*) AS n
    FROM orders WHERE year(o_orderdate) = 1996
    GROUP BY 1, 2 ORDER BY m
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle, check_order=True)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) == 12


# --- r4: STRBEFORE/STRAFTER and infix [NOT] IN ----------------------------


def test_strbefore_strafter_match_oracle(engine, duck):
    """SPARQL 1.1 STRBEFORE/STRAFTER: '' when the separator is absent;
    dual-compiled (position + substring renders identically on Spark
    SQL and DuckDB)."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name ?adj ?noun ?none WHERE {
            ?p a sa:Part ; sa:name ?name .
            BIND(STRBEFORE(?name, " ") AS ?adj)
            BIND(STRAFTER(?name, " ") AS ?noun)
            BIND(STRBEFORE(?name, "zzz") AS ?none)
            FILTER (STRAFTER(?name, " ") = "widget")
        }
        """
    )
    oracle = """
    SELECT p_name AS name,
           CASE WHEN position(' ' IN p_name) > 0
                THEN substring(p_name, 1, position(' ' IN p_name) - 1)
                ELSE '' END AS adj,
           CASE WHEN position(' ' IN p_name) > 0
                THEN substring(p_name, position(' ' IN p_name) + 1)
                ELSE '' END AS noun,
           '' AS none
    FROM part
    WHERE CASE WHEN position(' ' IN p_name) > 0
               THEN substring(p_name, position(' ' IN p_name) + 1)
               ELSE '' END = 'widget'
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 0
    assert all(r[1] != "" and r[2] == "widget" and r[3] == "" for r in a)


def test_str_before_after_empty_separator(spark):
    """SPARQL 1.1 edge semantics: empty separator -> '' (before) / the
    whole string (after)."""
    from sparkall_spark.plans.exprs import parse_expr, to_sql

    node_b = parse_expr('STRBEFORE(?s, "")')
    node_a = parse_expr('STRAFTER(?s, "")')
    sql_row = spark.sql(
        "SELECT "
        + to_sql(node_b, lambda v: "s")
        + " AS b, "
        + to_sql(node_a, lambda v: "s")
        + " AS a FROM (SELECT 'abc' AS s)"
    ).collect()[0]
    assert sql_row.asDict() == {"b": "", "a": "abc"}


def test_filter_in_list_match_oracle(engine, duck):
    """Infix [NOT] IN over literal lists compiles to a single SQL IN
    predicate (a Catalyst In, pushed down to the scan)."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name ?seg WHERE {
            ?c a sa:Customer ; sa:name ?name ; sa:mktsegment ?seg .
            FILTER (?seg IN ("BUILDING", "MACHINERY"))
            FILTER (?name NOT IN ("Customer#000000001"))
        }
        """
    )
    oracle = """
    SELECT c_name AS name, c_mktsegment AS seg FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      AND c_name NOT IN ('Customer#000000001')
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 0
    assert {r[1] for r in a} == {"BUILDING", "MACHINERY"}


def test_in_parse_shapes():
    from sparkall_spark.plans.exprs import ENot, is_boolean_expr

    node = parse_expr('?x IN (1, 2, 3)')
    assert node == EFun("in", (EVar("x"), ELit(1), ELit(2), ELit(3)))
    assert is_boolean_expr(node)
    neg = parse_expr('?x NOT IN ("a")')
    assert neg == ENot(EFun("in", (EVar("x"), ELit("a"))))
    # expression needle and items stay in the fragment
    assert parse_expr("?x + 1 IN (?y, 2 * ?z)") == EFun(
        "in",
        (
            EBin("+", EVar("x"), ELit(1)),
            EVar("y"),
            EBin("*", ELit(2), EVar("z")),
        ),
    )
    with pytest.raises(ExprParseError):
        parse_expr("?x IN ()")
    with pytest.raises(ExprParseError):
        parse_expr("?x NOT (1)")
    with pytest.raises(ExprParseError):
        parse_expr("in(?x)")


def test_str_and_hash_functions_match_oracle(engine, duck):
    """SPARQL 1.1 STR / MD5 / SHA256 (§17.4): hashed over the lexical
    form (stringified argument) so engines agree byte-for-byte."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name ?s ?m ?h WHERE {
            ?n a sa:Nation ; sa:name ?name ; sa:region ?r .
            BIND(STR(?r) AS ?s)
            BIND(MD5(?name) AS ?m)
            BIND(SHA256(CONCAT(?name, "-", STR(?r))) AS ?h)
        }
        """
    )
    oracle = """
    SELECT n_name AS name, CAST(n_regionkey AS VARCHAR) AS s,
           md5(n_name) AS m,
           sha256(n_name || '-' || CAST(n_regionkey AS VARCHAR)) AS h
    FROM nation
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) == 25
    with pytest.raises(ExprParseError):
        parse_expr("MD5(?a, ?b)")


# --- r4: BIND inside OPTIONAL (left-join soundness) -----------------------


def test_bind_inside_optional_null_propagating(engine, duck):
    """A null-propagating BIND over the optional star's variables is
    sound post-join: the alias is NULL exactly when the OPTIONAL did
    not match."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?nname ?double WHERE {
            ?n a sa:Nation ; sa:name ?nname .
            OPTIONAL { ?c a sa:Customer ; sa:nation ?n ; sa:acctbal ?b .
                       FILTER (?b > 9900)
                       BIND(?b * 2 AS ?double) }
        }
        """
    )
    oracle = """
    SELECT n_name AS nname, c_acctbal * 2 AS double
    FROM nation LEFT JOIN customer
      ON c_nationkey = n_nationkey AND c_acctbal > 9900
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    rows = engine.sparql(q).collect()
    assert any(r["double"] is None for r in rows)  # non-matching nations
    assert any(r["double"] is not None for r in rows)


def test_bind_inside_optional_unsound_shapes_rejected():
    """Constant-only and NULL-absorbing BINDs inside OPTIONAL would
    bind the alias even for non-matching rows — rejected with guidance
    (the same left-join reasoning as expression FILTERs in OPTIONAL)."""
    for bad in (
        "BIND(1 AS ?x)",
        "BIND(COALESCE(?b, 0) AS ?x)",
        "BIND(IF(?b > 1, 1, 2) AS ?x)",
        "BIND(BOUND(?b) AS ?x)",
    ):
        with pytest.raises(SparqlParseError, match="inside OPTIONAL"):
            parse_sparql(
                PREFIX_BLOCK
                + f"""
                SELECT ?nname ?x WHERE {{
                    ?n a sa:Nation ; sa:name ?nname .
                    OPTIONAL {{ ?c a sa:Customer ; sa:nation ?n ;
                               sa:acctbal ?b . {bad} }}
                }}
                """
            )
    # referencing ONLY mandatory vars inside OPTIONAL: also unsound
    with pytest.raises(SparqlParseError, match="inside OPTIONAL"):
        parse_sparql(
            PREFIX_BLOCK
            + """
            SELECT ?nname ?x WHERE {
                ?n a sa:Nation ; sa:name ?nname .
                OPTIONAL { ?c a sa:Customer ; sa:nation ?n ; sa:acctbal ?b .
                           BIND(STRLEN(?nname) AS ?x) }
            }
            """
        )
